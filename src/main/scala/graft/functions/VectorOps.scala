package graft.functions

import graft.plans.{BigramCounts, ByteEntropy, CentroidTopK, DotProduct, FrozenTable, L2Norm, MinHashSignature, PqAdcSum, PqCodes, PqLut, RollingHash, ShingleHashSet, ShingleSet, SignBandCodesBcast, SortedIntersectCount, SortedLongIntersectCount, TermCounts}
import org.apache.spark.sql.{Column, GraftShims, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Column-level API over the native vector expressions. The graft_*
  * SQL functions are injected into every session [[graft.Sessions.build]]
  * makes (and so into its `newSession()` children); the Column helpers
  * call them by name.
  */
object VectorOps {
  /** A plan-time integer argument. A column, or a literal of another
    * type, fails analysis naming the function and the argument.
    */
  private def intLit(fn: String, arg: String)(e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $arg must be a literal, not a column")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }
  }

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
    "graft_bigram_counts" -> (e => BigramCounts(e.head)),
    "graft_winnow" -> (e => graft.plans.Winnow(e(0),
      intLit("graft_winnow", "k")(e(1)),
      intLit("graft_winnow", "w")(e(2)))),
    "graft_nfc" -> (e => graft.plans.NfcNormalize(e(0))),
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

  // The kernels over a FrozenTable are built directly, not through the
  // function registry: a broadcast handle cannot ride a SQL literal.

  /** All M PQ sub-codes of a vector vs the flattened codebook. */
  def pqCodes(v: Column, book: FrozenTable[Array[Double]],
      numCentroids: Int, subDim: Int): Column =
    GraftShims.column(PqCodes(GraftShims.expression(v), book,
      numCentroids, subDim))

  /** Flattened M×K quantized ADC LUT of a query vector. */
  def pqLut(v: Column, book: FrozenTable[Array[Double]],
      numCentroids: Int, subDim: Int): Column =
    GraftShims.column(PqLut(GraftShims.expression(v), book,
      numCentroids, subDim))

  /** All L sign-band LSH codes of `v` against a packed hyperplane
    * table ([[graft.Fixtures.planesBroadcast]]).
    */
  def signBandCodesBcast(v: Column,
      planes: FrozenTable[Array[Double]]): Column =
    GraftShims.column(SignBandCodesBcast(GraftShims.expression(v), planes))

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

  /** Top-k centroid ids by cosine vs the packed centroid table. */
  def centroidTopK(v: Column, nrm: Column,
      packed: FrozenTable[Array[Double]], k: Int): Column =
    GraftShims.column(CentroidTopK(GraftShims.expression(v),
      GraftShims.expression(nrm), packed, k))

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

  /** Bloom membership probe of a long key against a frozen bitset. */
  def bloomContains(key: Column, bits: FrozenTable[Array[Long]],
      numHashes: Int): Column =
    GraftShims.column(graft.plans.BloomContains(GraftShims.expression(key),
      bits, numHashes))

  /** Tokenizer-exact token count under a trained BPE merge table
    * (see [[graft.plans.BpeTokenCount]]).
    */
  def bpeCount(text: Column,
      merges: FrozenTable[graft.functions.Bpe.Table]): Column =
    GraftShims.column(graft.plans.BpeTokenCount(
      GraftShims.expression(text), merges))

  /** Unicode NFC normalization (see [[graft.plans.NfcNormalize]]). */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Tokenizer-exact token-ID sequence under a trained BPE merge table
    * (see [[graft.plans.BpeEncodeIds]]).
    */
  def bpeIds(text: Column,
      merges: FrozenTable[graft.functions.Bpe.Table]): Column =
    GraftShims.column(graft.plans.BpeEncodeIds(
      GraftShims.expression(text), merges))

  /** struct(bu, iwu, nt) per-document CCNet/DSIR score under a frozen
    * unigram model (see [[graft.plans.UnigramDsirScore]]).
    */
  def unigramDsirScore(text: Column,
      model: FrozenTable[graft.plans.DsirModelTable]): Column =
    GraftShims.column(graft.plans.UnigramDsirScore(
      GraftShims.expression(text), model))

  /** Integer µunit logit of the trained hashed-unigram quality
    * classifier (packed model — see [[graft.plans.HashedLogit]] /
    * [[graft.Fixtures.qualityClassifier]]).
    */
  def hashedLogit(text: Column, model: FrozenTable[Array[Long]]): Column =
    GraftShims.column(graft.plans.HashedLogit(GraftShims.expression(text),
      model))

  /** Raw bytes → canonical PCM WAV container (16-bit mono 8 kHz). */
  def wavWrap(bytes: Column): Column =
    call_function("graft_wav_wrap", bytes)

  /** Raw bytes → real 24-bpp BMP with closed-form dimensions. */
  def bmpWrap(bytes: Column): Column =
    call_function("graft_bmp_wrap", bytes)
}
