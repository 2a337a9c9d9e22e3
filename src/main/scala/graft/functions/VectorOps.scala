package graft.functions

import graft.plans.{BigramCounts, ByteEntropy, CentroidTopK, DotProduct, L2Norm, MinHashSignature, PqAdcSum, PqCodes, PqLut, RollingHash, ShingleHashSet, ShingleSet, SignBandCodesBcast, SortedIntersectCount, SortedLongIntersectCount, TermCounts}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** Column-level API over the native vector expressions. The graft_*
  * SQL functions are injected into every session [[graft.Sessions.build]]
  * makes (and so into its `newSession()` children); the Column helpers
  * call them by name.
  */
object VectorOps {
  /** A plan-time constant argument: `take` picks the value out of the
    * folded literal. A column, or a literal of the wrong type, fails
    * analysis naming the function and the argument.
    */
  private def foldLit[T](fn: String, arg: String, what: String)(
      e: Expression)(take: PartialFunction[Any, T]): T = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $arg must be a literal, not a column")
    val v = e.eval(null)
    take.applyOrElse(v, (other: Any) => throw new IllegalArgumentException(
      s"$fn: $arg must be $what literal, got $other"))
  }
  private def intLit(fn: String, arg: String)(e: Expression): Int =
    foldLit(fn, arg, "an integer")(e) { case n: Number => n.intValue() }
  // constant tables fold to PRIMITIVE arrays once at plan construction:
  // the expression must never touch a boxed-element ArrayData on the
  // per-row path (per-element ArrayData reads of a plane table once
  // measured ~7× on the whole q135 query)
  private def arrayLit(fn: String, arg: String, what: String)(
      e: Expression): ArrayData =
    foldLit(fn, arg, what)(e) { case a: ArrayData => a }
  private def intArr(fn: String, arg: String)(e: Expression): Array[Int] =
    arrayLit(fn, arg, "an int array")(e).toIntArray()

  /** Every graft_* SQL function, by name. */
  private val functions: Seq[(String, FunctionBuilder)] = Seq(
    "graft_dot" -> (e => DotProduct(e(0), e(1))),
    "graft_l2norm" -> (e => L2Norm(e.head)),
    "graft_quantize_micro" -> (e => graft.plans.QuantizeMicro(e.head)),
    "graft_pack_f32" -> (e => graft.plans.PackF32(e.head)),
    "graft_unpack_f32" -> (e => graft.plans.UnpackF32(e.head)),
    "graft_ucos_packed_f32" ->
      (e => graft.plans.UcosPackedF32(e(0), e(1))),
    "graft_rolling_hash" -> (e => RollingHash(e.head)),
    "graft_byte_entropy" -> (e => ByteEntropy(e.head)),
    "graft_sorted_intersect_count" ->
      (e => SortedIntersectCount(e(0), e(1))),
    "graft_minhash" -> (e => MinHashSignature(e(0),
      intLit("graft_minhash", "numHashes")(e(1)))),
    "graft_shingles" -> (e => ShingleSet(e(0),
      intLit("graft_shingles", "shingleLen")(e(1)))),
    "graft_shingle_hashes" -> (e => ShingleHashSet(e(0),
      intLit("graft_shingle_hashes", "shingleLen")(e(1)))),
    "graft_sorted_long_intersect_count" ->
      (e => SortedLongIntersectCount(e(0), e(1))),
    "graft_term_counts" -> (e => TermCounts(e.head)),
    "graft_pq_adc_sum" -> (e => PqAdcSum(e(0), e(1),
      intLit("graft_pq_adc_sum", "numCentroids")(e(2)))),
    "graft_pq_codes" -> (e => PqCodes(e(0), e(1),
      intLit("graft_pq_codes", "numCentroids")(e(2)),
      intLit("graft_pq_codes", "subDim")(e(3)))),
    "graft_pq_lut" -> (e => PqLut(e(0), e(1),
      intLit("graft_pq_lut", "numCentroids")(e(2)),
      intLit("graft_pq_lut", "subDim")(e(3)))),
    "graft_centroid_topk" -> (e => CentroidTopK(e(0), e(1), e(2),
      intLit("graft_centroid_topk", "k")(e(3)))),
    "graft_bigram_counts" -> (e => BigramCounts(e.head)),
    "graft_winnow" -> (e => graft.plans.Winnow(e(0),
      intLit("graft_winnow", "k")(e(1)),
      intLit("graft_winnow", "w")(e(2)))),
    "graft_bloom_contains" -> (e => graft.plans.BloomContains(e(0),
      arrayLit("graft_bloom_contains", "bitset", "an array")(e(1))
        .toLongArray(),
      intLit("graft_bloom_contains", "numHashes")(e(2)))),
    "graft_bpe_count" -> (e => graft.plans.BpeTokenCount(e(0),
      intArr("graft_bpe_count", "left")(e(1)),
      intArr("graft_bpe_count", "right")(e(2)))),
    "graft_nfc" -> (e => graft.plans.NfcNormalize(e(0))),
    "graft_bpe_ids" -> (e => graft.plans.BpeEncodeIds(e(0),
      intArr("graft_bpe_ids", "left")(e(1)),
      intArr("graft_bpe_ids", "right")(e(2)))),
    "graft_hashed_logit" -> (e => graft.plans.HashedLogit(e(0),
      arrayLit("graft_hashed_logit", "weights", "a long array")(e(1))
        .toLongArray(),
      foldLit("graft_hashed_logit", "bias", "a long")(e(2)) {
        case n: Number => n.longValue() })),
    "graft_wav_wrap" -> (e => graft.plans.WavWrap(e.head)),
    "graft_bmp_wrap" -> (e => graft.plans.BmpWrap(e.head)))

  /** Registers [[functions]] in `ext`, for `SparkSession.Builder
    * .withExtensions`: each session the builder makes, and each of its
    * `newSession()` children, starts with them.
    */
  def inject(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(
        builder.getClass.getName, null, name, null, "", "", "",
        "", "", "", "built-in"), builder))
    }

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def l2norm(a: Column): Column = call_function("graft_l2norm", a)

  /** Lossless f32 pack of a µ-quantized integer-component vector
    * (2× smaller storage/wire; see [[graft.plans.PackedF32]]).
    */
  def packF32(a: Column): Column = call_function("graft_pack_f32", a)
  def unpackF32(b: Column): Column =
    call_function("graft_unpack_f32", b)

  /** Fused µcos over two packed-f32 buffers — bit-identical to the
    * array-tier [[graft.operators.Bitext.ucosCol]] chain.
    */
  def ucosPackedF32(a: Column, b: Column): Column =
    call_function("graft_ucos_packed_f32", a, b)

  /** `floor(x·10⁶ + 0.5)` per component, kept as doubles — see
    * [[graft.plans.QuantizeMicro]] for the exact-integer-in-double
    * cross-engine determinism contract.
    */
  def quantizeMicro(a: Column): Column =
    call_function("graft_quantize_micro", a)
  def rollingHash(s: Column): Column =
    call_function("graft_rolling_hash", s)

  /** Shannon entropy (bits/char) of a string's byte distribution. */
  def byteEntropy(s: Column): Column =
    call_function("graft_byte_entropy", s)

  /** |a ∩ b| for duplicate-free arrays sorted in binary string order. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_count", a, b)
  def minhash(arr: Column, numHashes: Int): Column =
    call_function("graft_minhash", arr,
      org.apache.spark.sql.functions.lit(numHashes))

  /** Distinct word-n-gram shingles of a pre-lowercased text. */
  def shingles(text: Column, shingleLen: Int): Column =
    call_function("graft_shingles", text,
      org.apache.spark.sql.functions.lit(shingleLen))

  /** Sorted distinct xxhash64 word-n-gram shingle hashes. */
  def shingleHashes(text: Column, shingleLen: Int): Column =
    call_function("graft_shingle_hashes", text,
      org.apache.spark.sql.functions.lit(shingleLen))

  /** |a ∩ b| for duplicate-free ascending long arrays. */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_long_intersect_count", a, b)

  /** Per-doc `array<struct<t,tf>>` term frequencies, in-row. */
  def termCounts(text: Column): Column =
    call_function("graft_term_counts", text)

  /** Per-doc `array<struct<t,tf>>` adjacent-bigram frequencies. */
  def bigramCounts(text: Column): Column =
    call_function("graft_bigram_counts", text)

  /** Σ_m lut[m*numCentroids + codes[m]] — PQ asymmetric-distance sum. */
  def pqAdcSum(codes: Column, lut: Column, numCentroids: Int): Column =
    call_function("graft_pq_adc_sum", codes, lut,
      org.apache.spark.sql.functions.lit(numCentroids))

  /** All M PQ sub-codes of a vector vs a flattened constant codebook. */
  def pqCodes(v: Column, book: Column, numCentroids: Int,
      subDim: Int): Column =
    call_function("graft_pq_codes", v, book,
      org.apache.spark.sql.functions.lit(numCentroids),
      org.apache.spark.sql.functions.lit(subDim))

  /** Flattened M×K quantized ADC LUT of a query vector. */
  def pqLut(v: Column, book: Column, numCentroids: Int,
      subDim: Int): Column =
    call_function("graft_pq_lut", v, book,
      org.apache.spark.sql.functions.lit(numCentroids),
      org.apache.spark.sql.functions.lit(subDim))

  /** All L sign-band LSH codes of `v` against a packed hyperplane
    * table riding as a BROADCAST handle (q135's packed τ=0.4 table is
    * ~3.5 MB; as a plan constant it would serialize into every task).
    * Takes [[graft.Fixtures.planesBroadcast]]'s (handle, fingerprint,
    * bBits) triple; bypasses the function registry because a broadcast
    * cannot ride a SQL literal.
    */
  def signBandCodesBcast(v: Column,
      planes: (org.apache.spark.broadcast.Broadcast[Array[Double]],
        Long, Int)): Column =
    org.apache.spark.sql.GraftShims.column(SignBandCodesBcast(
      org.apache.spark.sql.GraftShims.expression(v),
      planes._1, planes._2, planes._3))

  /** Exact ≤8-byte NUL-free string ⟷ long codec so a `min_by` payload
    * keeps a primitive (mutable) aggregation buffer and the aggregate
    * plans as HashAggregate instead of SortAggregate — see
    * [[graft.plans.PackStr8]] for the checked bounded-domain contract
    * (BCP-47 language subtags are the intended payload). Direct
    * expression construction, no SQL function.
    */
  def packStr8(s: Column): Column =
    org.apache.spark.sql.GraftShims.column(graft.plans.PackStr8(
      org.apache.spark.sql.GraftShims.expression(s)))
  def unpackStr8(h: Column): Column =
    org.apache.spark.sql.GraftShims.column(graft.plans.UnpackStr8(
      org.apache.spark.sql.GraftShims.expression(h)))

  /** Top-k centroid ids by cosine vs a packed constant centroid table. */
  def centroidTopK(v: Column, nrm: Column, packed: Column, k: Int): Column =
    call_function("graft_centroid_topk", v, nrm, packed,
      org.apache.spark.sql.functions.lit(k))

  /** cosine(a, b) given precomputed norms — dot/(na*nb), matching the
    * lambda formulation bit-for-bit.
    */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Winnowing fingerprints (SIGMOD'03): distinct sorted selected
    * k-gram hashes under window length w — see [[graft.plans.Winnow]].
    */
  def winnow(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))

  /** Bloom membership probe of a long key against a constant bitset. */
  def bloomContains(key: Column, bits: Array[Long], numHashes: Int): Column =
    call_function("graft_bloom_contains", key,
      org.apache.spark.sql.functions.typedLit(bits.toSeq),
      org.apache.spark.sql.functions.lit(numHashes))

  /** Tokenizer-exact token count under a trained BPE merge table
    * (rank-order left/right pair arrays — see [[graft.plans.BpeTokenCount]]).
    */
  def bpeCount(text: Column, left: Array[Int], right: Array[Int]): Column =
    call_function("graft_bpe_count", text,
      org.apache.spark.sql.functions.typedLit(left.toSeq),
      org.apache.spark.sql.functions.typedLit(right.toSeq))

  /** Unicode NFC normalization (see [[graft.plans.NfcNormalize]]). */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Tokenizer-exact token-ID sequence under a trained BPE merge table
    * (see [[graft.plans.BpeEncodeIds]]).
    */
  def bpeIds(text: Column, left: Array[Int], right: Array[Int]): Column =
    call_function("graft_bpe_ids", text,
      org.apache.spark.sql.functions.typedLit(left.toSeq),
      org.apache.spark.sql.functions.typedLit(right.toSeq))

  /** struct(bu, iwu, nt) per-document CCNet/DSIR score under a frozen
    * unigram model handle (see [[graft.plans.UnigramDsirScore]]) —
    * direct construction: a model-table handle cannot ride a SQL
    * literal, the [[signBandCodesBcast]] route.
    */
  def unigramDsirScore(text: Column,
      model: graft.plans.DsirModelTable): Column =
    org.apache.spark.sql.GraftShims.column(
      graft.plans.UnigramDsirScore(
        org.apache.spark.sql.GraftShims.expression(text), model))

  /** Integer µunit logit of the trained hashed-unigram quality
    * classifier (µunit weight table + bias — see
    * [[graft.plans.HashedLogit]] / [[graft.Fixtures.qualityClassifier]]).
    */
  def hashedLogit(text: Column, weights: Array[Long],
      biasMu: Long): Column =
    call_function("graft_hashed_logit", text,
      org.apache.spark.sql.functions.typedLit(weights.toSeq),
      org.apache.spark.sql.functions.lit(biasMu))

  /** Raw bytes → canonical PCM WAV container (16-bit mono 8 kHz). */
  def wavWrap(bytes: Column): Column =
    call_function("graft_wav_wrap", bytes)

  /** Raw bytes → real 24-bpp BMP with closed-form dimensions. */
  def bmpWrap(bytes: Column): Column =
    call_function("graft_bmp_wrap", bytes)
}
