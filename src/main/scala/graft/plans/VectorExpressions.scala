package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector-similarity hot path
  * (SURVEY.md §2 custom-operator ladder, step (b): a custom `Expression`
  * with `doGenCode` before any UDF).
  *
  * `functions.aggregate`/`zip_with` lambdas evaluate through interpreted
  * `HigherOrderFunction` plumbing — per-element closure dispatch, boxed
  * lambda variables — and break whole-stage codegen. These expressions
  * compile to a tight primitive loop inside the generated code, keeping
  * the surrounding stage fused. Semantics match the lambda formulation
  * bit-for-bit: sequential left-to-right double accumulation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.DotProduct.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Σ x_i·y_i over the shorter array's length, left to right. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }
}

/** L2 norm of a double array — same sequential-accumulation contract. */
case class L2Norm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any =
    L2Norm.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.L2Norm.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): L2Norm = copy(child = newChild)
}

object L2Norm {
  def compute(x: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }
}

/** Per-component µ-quantization: `q_i = floor(x_i·10⁶ + 0.5)`, kept
  * as doubles. This is the cross-engine determinism primitive behind
  * the bitext-margin contract (q188): once every component is an
  * integer-valued double with |q_i| ≤ ~10⁷, every product fits 10¹⁴
  * and every 64-dim dot/norm² fold stays far below 2⁵³ — so
  * [[DotProduct]]/[[L2Norm]] over quantized arrays are EXACT integer
  * arithmetic in IEEE doubles, immune to summation order, FMA
  * contraction, and vectorization differences between engines
  * (DuckDB's `list_inner_product` loop vs Spark's generated Java).
  * The only non-exact ops left in a quantized cosine are single
  * scalar sqrt/mul/div, each correctly rounded on identical inputs
  * and therefore bit-identical everywhere.
  *
  * The quantization itself is deterministic for the same reason: a
  * float32→double cast is exact, and `x·10⁶ + 0.5` then `floor` are
  * three correctly-rounded scalar ops.
  *
  * Contract: |x_i| ≤ 11 and dim ≤ 64 keep 64·(x·10⁶)² < 2⁵³ (unit-ish
  * embedding components are far inside this; callers with wilder
  * scales must pre-normalize).
  */
case class QuantizeMicro(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    QuantizeMicro.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.QuantizeMicro.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): QuantizeMicro = copy(child = newChild)
}

object QuantizeMicro {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(arr.getDouble(i) * 1000000.0 + 0.5)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Polynomial rolling hash over a string's code points:
  * `h := (h*31 + cp) mod 1e9+7` — the incremental-hash primitive a
  * Rabin-Karp content chunker builds on. Replaces the
  * `aggregate(split(text,''), …)` higher-order-function formulation
  * (per-character interpreted lambda dispatch + a char-array
  * materialization per row) with one fused loop; also correct for
  * astral-plane text, where `split('')` yields UTF-16 halves.
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    RollingHash.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.RollingHash.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): RollingHash = copy(child = newChild)
}

object RollingHash {
  final val Mod = 1000000007L

  /** Static helper shared by eval and generated code. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** DISTINCT word-n-gram shingles of a (pre-lowercased) text in ONE
  * pass: tokenize on single spaces (empty tokens kept, matching
  * `split(s, " ")` regex semantics), slide a window of `shingleLen`
  * tokens joined by ' ', dedup in an insertion-ordered hash set.
  * Replaces the `array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', w[i], w[i+1], w[i+2])))` formulation, whose
  * interpreted `HigherOrderFunction` lambda (per-element closure
  * dispatch, boxed indices) dominated the whole dedup tier's runtime —
  * and whose cost CollapseProject silently multiplies when the array
  * feeds several consumers (size, explode). A text with fewer than
  * `shingleLen` tokens yields an empty array (= the old
  * `size(w) >= len` pre-filter).
  */
case class ShingleSet(child: Expression, shingleLen: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    ShingleSet.compute(a.asInstanceOf[UTF8String], shingleLen)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.ShingleSet.compute($a, $shingleLen);")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleSet = copy(child = newChild)
}

object ShingleSet {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Static helper shared by eval and generated code. */
  def compute(text: UTF8String, len: Int): ArrayData = {
    // String.split with a 1-char non-regex pattern fast-paths to a
    // direct scan; -1 keeps trailing empty tokens like Spark's split
    val w = text.toString.split(" ", -1)
    if (w.length < len) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= w.length - len) {
      sb.setLength(0)
      var j = 0
      while (j < len) {
        if (j > 0) sb.append(' ')
        sb.append(w(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** DISTINCT word-n-gram shingles of a (pre-lowercased) text as a
  * SORTED array of 64-bit xxhash64 values — the hashed sibling of
  * [[ShingleSet]] for pipelines that never need the shingle text back
  * (candidate generation + exact-verify by intersection COUNT). Two
  * wins over the string form, both material at corpus scale:
  *
  *  - zero string allocation: because tokens are single-space-joined,
  *    every shingle IS a contiguous byte slice of the input text, so
  *    the hash runs directly over `(base, offset+start, len)` — no
  *    substring, no StringBuilder, no UTF8String per shingle;
  *  - everything downstream is 8-byte primitives: the inverted-index
  *    shuffle keys on a long instead of a ~20-byte string, and the
  *    verify merge compares longs instead of UTF8Strings.
  *
  * A 64-bit collision (two distinct shingles, equal hash, meeting in
  * the same document or candidate pair) would perturb a set size or an
  * intersection count; at ~10¹¹ shingles corpus-wide the birthday term
  * is ~10⁻³ per FULL corpus and ~10⁻¹⁰ at fixture scale — the same
  * trade MinHash/LSH already makes, and deterministic (xxhash64 is
  * seed-fixed, so a green run stays green).
  */
case class ShingleHashSet(child: Expression, shingleLen: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    ShingleHashSet.compute(a.asInstanceOf[UTF8String], shingleLen)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.ShingleHashSet.compute($a, $shingleLen);")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashSet = copy(child = newChild)
}

object ShingleHashSet {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Static helper shared by eval and generated code. Tokenization
    * matches [[ShingleSet]] exactly: split on single spaces, empty
    * tokens kept (0x20 never occurs inside a UTF-8 multibyte sequence,
    * so byte-level scanning is character-exact).
    */
  def compute(text: UTF8String, len: Int): ArrayData = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    // token start offsets: 0 and every byte after a space
    var nTok = 1
    var i = 0
    while (i < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20)
        nTok += 1
      i += 1
    }
    if (nTok < len) return new GenericArrayData(Array.empty[Long])
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(t) = i + 1; t += 1
      }
      i += 1
    }
    starts(nTok) = nBytes + 1 // sentinel: "space" one past the end
    val nSh = nTok - len + 1
    val hs = new Array[Long](nSh)
    var k = 0
    while (k < nSh) {
      val s = starts(k)
      val e = starts(k + len) - 1 // end of token k+len-1 (excl. space)
      hs(k) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + s, e - s, 0L)
      k += 1
    }
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted array
    var w = 0
    k = 0
    while (k < nSh) {
      if (k == 0 || hs(k) != hs(k - 1)) { hs(w) = hs(k); w += 1 }
      k += 1
    }
    val out = new Array[Any](w)
    k = 0
    while (k < w) { out(k) = hs(k); k += 1 }
    new GenericArrayData(out)
  }
}

/** Per-document term frequencies computed entirely IN-ROW:
  * `array<struct<t, tf>>` of every distinct non-empty space-separated
  * token with its occurrence count. The TF stage of TF-IDF (q68) as an
  * embarrassingly-parallel expression — the alternative (explode the
  * corpus to token rows, then `GROUP BY doc, term`) makes the engine's
  * LARGEST exchange carry one row per token occurrence; this keeps the
  * whole tf computation inside the scan stage, so the only corpus-wide
  * shuffles left in TF-IDF are the (small, map-side-combined) df
  * aggregate and the final doc-keyed rank.
  */
case class TermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TermCounts.OutType

  override def nullSafeEval(a: Any): Any =
    TermCounts.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.TermCounts.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): TermCounts = copy(child = newChild)
}

object TermCounts {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.catalyst.InternalRow

  val OutType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("tf", LongType,
        nullable = false))),
    containsNull = false)

  /** Static helper shared by eval and generated code. Tokenization
    * matches the explode formulation exactly: split on single spaces,
    * empty tokens dropped (`t <> ''`). Insertion-ordered map for
    * deterministic output (downstream re-ranks, but determinism keeps
    * plans replayable).
    */
  def compute(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val m = new java.util.LinkedHashMap[String, Long]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) {
        // getOrDefault avoids the boxed-null pitfall of get() on a
        // primitive-valued Java map (null unboxes to 0L silently)
        m.put(t, m.getOrDefault(t, 0L) + 1L)
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-document BIGRAM counts — [[TermCounts]]' adjacent-pair twin:
  * `array<struct<t: "tokᵢ tokᵢ₊₁", tf>>` over the empty-dropped token
  * sequence. Semantics match the relational spelling exactly
  * (`filter(split(text, ' '), _ <> '')` THEN adjacency — empties are
  * dropped BEFORE pairing, so "a  b" yields bigram "a b"). Feeding a
  * global bigram-count agg with these rows shrinks the exchange/agg
  * input from Σ tokens to Σ distinct-bigrams-per-doc and keeps the
  * counting integer-exact (sum of per-doc tfs = global count).
  */
case class BigramCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TermCounts.OutType

  override def nullSafeEval(a: Any): Any =
    BigramCounts.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.BigramCounts.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): BigramCounts = copy(child = newChild)
}

object BigramCounts {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.catalyst.InternalRow

  def compute(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1).filter(_.nonEmpty)
    val m = new java.util.LinkedHashMap[String, Long]
    var i = 0
    while (i + 1 < toks.length) {
      val bg = toks(i) + " " + toks(i + 1)
      m.put(bg, m.getOrDefault(bg, 0L) + 1L)
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** |A ∩ B| of two duplicate-free ASCENDING long arrays by two-pointer
  * merge — [[SortedIntersectCount]] for the hashed-shingle form
  * ([[ShingleHashSet]] emits sorted arrays, so no `sort_array` pass is
  * needed at all).
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectCount.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedLongIntersectCount.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Asymmetric-distance (ADC) sum for product quantization: given a
  * vector's PQ code array (`codes[m]` = centroid id of subspace m) and
  * a query's flattened distance LUT (`lut[m*numCentroids + cid]` =
  * quantized ‖q_m − c_{m,cid}‖²), returns Σ_m lut[m*K + codes[m]] —
  * the whole ADC evaluation for one (query, candidate) pair in one
  * codegen'd loop. Replaces the relational spelling (explode the code
  * into M rows, equi-join the (qid, m, cid) LUT, sum back): one row
  * per candidate instead of M, no join, no re-aggregation.
  */
case class PqAdcSum(left: Expression, right: Expression, numCentroids: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcSum.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], numCentroids)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.PqAdcSum.compute($a, $b, $numCentroids);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcSum =
    copy(left = newLeft, right = newRight)
}

object PqAdcSum {
  /** Static helper shared by eval and generated code. */
  def compute(codes: ArrayData, lut: ArrayData, k: Int): Long = {
    val m = codes.numElements()
    var acc = 0L
    var i = 0
    while (i < m) {
      acc += lut.getLong(i * k + codes.getInt(i))
      i += 1
    }
    acc
  }
}

/** Shared distance kernel for the in-row PQ expressions: squared L2
  * between a vector's m-th subspace slice and codebook entry (m, cid),
  * in EXACTLY the dot-product form the relational formulation (and the
  * DuckDB oracle) evaluates — `sv·sv − 2·sv·cv + cv·cv` with
  * sequential left-to-right accumulation per dot — so quantized LUT
  * values and argmin ties are bit-identical to the join+window
  * spelling they replace.
  */
private[plans] object PqKernel {
  /** book layout: flat double[], entry (m, cid) dim d at
    * `(m*k + cid)*subDim + d`.
    */
  def subDist(v: ArrayData, book: Array[Double], m: Int, cid: Int,
      k: Int, subDim: Int): Double = {
    val vOff = m * subDim
    val bOff = (m * k + cid) * subDim
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var d = 0
    while (d < subDim) {
      val x = v.getDouble(vOff + d)
      aa += x * x
      d += 1
    }
    d = 0
    while (d < subDim) {
      ab += v.getDouble(vOff + d) * book(bOff + d)
      d += 1
    }
    d = 0
    while (d < subDim) {
      val y = book(bOff + d)
      bb += y * y
      d += 1
    }
    aa - 2.0 * ab + bb
  }
}

/** In-row PQ encode: all M sub-codes of a vector against the flattened
  * codebook ([[graft.Fixtures.pqCodebookFlat]], a [[FrozenTable]] with
  * one entry per codeword — the FAISS shape where encoding is a
  * per-vector kernel, not a corpus × (M·K) `crossJoin` + min_by
  * re-aggregation). Ties go to the lower cid, matching the
  * `min_by(cid, struct(d2, cid))` order of the relational spelling.
  */
case class PqCodes(child: Expression, table: FrozenTable[Array[Double]],
    numCentroids: Int, subDim: Int)
    extends UnaryExpression with FrozenTableKernel[Array[Double]] {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    PqCodes.compute(a.asInstanceOf[ArrayData], table.value, numCentroids,
      subDim)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val book = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PqCodes.compute($a, $book, " +
        s"$numCentroids, $subDim);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqCodes = copy(child = newChild)
}

object PqCodes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(v: ArrayData, book: Array[Double], k: Int, subDim: Int)
      : ArrayData = {
    val m = book.length / (k * subDim)
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = PqKernel.subDist(v, book, mi, 0, k, subDim)
      var cid = 1
      while (cid < k) {
        val d2 = PqKernel.subDist(v, book, mi, cid, k, subDim)
        if (d2 < bestD) { bestD = d2; best = cid }
        cid += 1
      }
      out(mi) = best
      mi += 1
    }
    new GenericArrayData(out)
  }
}

/** All L sign-band LSH codes of one vector against a packed
  * hyperplane table (plane (t, b) dim d at `((t*bBits)+b)*dim + d`;
  * one [[FrozenTable]] entry per band table t —
  * [[graft.Fixtures.planesBroadcast]] packs the committed fixtures):
  * `out(t) = Σ_b [dot(v, plane(t,b)) > 0] << b`.
  *
  * Replaces the corpus × planes `crossJoin(broadcast(planes))` +
  * `groupBy(vec_id, tbl)` spelling — an N·L·B-row join feeding a
  * map-side hash agg — with one narrow codegen'd map per vector; the
  * exploded (tbl, code) rows then flow STRAIGHT into the bucket-key
  * repartition, removing the aggregation entirely. The dot uses the
  * same sequential left-to-right accumulation as [[DotProduct]], so
  * every sign test — and therefore every code — is bit-identical to
  * the relational spelling and to the oracle's `list_inner_product`.
  * (Bit-sum order is immaterial: integer adds of distinct powers of
  * two.) Domain note: the dispatcher's bound is
  * `Similarity.PackedPlaneBound` = 2¹⁸ planes (~128 MB driver-side at
  * dim 64, corpora to N ≈ 2·10⁵ at τ=0.4); past it the relational
  * `wideBandNeardup` spelling streams the plane relation instead.
  *
  * The packed q135 fixture is ~3.5 MB of doubles; reading every plane
  * component once per row from the fetched primitive array (never a
  * boxed-element ArrayData) measured ~7× on the whole q135 query.
  */
case class SignBandCodesBcast(child: Expression,
    table: FrozenTable[Array[Double]])
    extends UnaryExpression with FrozenTableKernel[Array[Double]] {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    SignBandCodes.compute(a.asInstanceOf[ArrayData], table.value,
      table.entries)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val planes = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.SignBandCodes.compute($a, " +
        s"$planes, ${table.entries});")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SignBandCodesBcast = copy(child = newChild)
}

object SignBandCodes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Codes against `lTables` band tables; the bits per table follow
    * from the packed length and the vector's dim.
    */
  def compute(v: ArrayData, packed: Array[Double], lTables: Int)
      : ArrayData = {
    val vd = v.toDoubleArray()
    val dim = vd.length
    // a vector whose dimensionality differs from the packed fixture
    // must fail loudly — integer-divided plane counts would read
    // across plane boundaries and emit garbage codes silently
    if (lTables <= 0 || dim == 0 || packed.length % (lTables * dim) != 0)
      throw new IllegalArgumentException(
        s"SignBandCodes: packed plane table (${packed.length} doubles) " +
          s"is not a multiple of lTables*dim = ${lTables * dim} — vector " +
          s"dim $dim does not match the fixture's")
    val bBits = packed.length / (lTables * dim)
    val out = new Array[Any](lTables)
    var t = 0
    while (t < lTables) {
      var code = 0L
      var b = 0
      while (b < bBits) {
        val off = (t * bBits + b) * dim
        var dot = 0.0
        var d = 0
        while (d < dim) {
          dot += vd(d) * packed(off + d)
          d += 1
        }
        if (dot > 0) code |= (1L << b)
        b += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** In-row PQ query LUT: the full M×K table of quantized asymmetric
  * distances (`floor(d2·10⁶ + 0.5)` longs, entry (m, cid) at
  * `m*K + cid`) for one query vector — the companion of [[PqCodes]]
  * on the query side, feeding [[PqAdcSum]].
  */
case class PqLut(child: Expression, table: FrozenTable[Array[Double]],
    numCentroids: Int, subDim: Int)
    extends UnaryExpression with FrozenTableKernel[Array[Double]] {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    PqLut.compute(a.asInstanceOf[ArrayData], table.value, numCentroids,
      subDim)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val book = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PqLut.compute($a, $book, " +
        s"$numCentroids, $subDim);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqLut = copy(child = newChild)
}

object PqLut {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(v: ArrayData, book: Array[Double], k: Int, subDim: Int)
      : ArrayData = {
    val m = book.length / (k * subDim)
    val out = new Array[Any](m * k)
    var mi = 0
    while (mi < m) {
      var cid = 0
      while (cid < k) {
        val d2 = PqKernel.subDist(v, book, mi, cid, k, subDim)
        out(mi * k + cid) = math.floor(d2 * 1000000.0 + 0.5).toLong
        cid += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }
}

/** In-row top-k coarse-quantizer assignment: the ids of the `k`
  * centroids nearest (by cosine, ties to the lower cid) to a vector,
  * against the packed centroid table (`[cn, cv(0), …, cv(dim-1)]` per
  * cid, one [[FrozenTable]] entry per centroid —
  * [[graft.Fixtures.ivfCentroidsPacked]] packs it). Replaces the
  * corpus × K `crossJoin(centroids)` + `row_number` window (a K× row
  * blowup and a vec_id-keyed exchange+sort) with one narrow codegen'd
  * map. The cosine is evaluated EXACTLY as the relational spelling —
  * sequential dot, `nrm * cn` product, one division — so assignments
  * and ties are bit-identical.
  */
case class CentroidTopK(left: Expression, right: Expression,
    table: FrozenTable[Array[Double]], k: Int)
    extends BinaryExpression with FrozenTableKernel[Array[Double]] {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullSafeEval(v: Any, nrm: Any): Any =
    CentroidTopK.compute(v.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double], table.value, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val packed = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.CentroidTopK.compute($a, $b, $packed, $k);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CentroidTopK =
    copy(left = newLeft, right = newRight)
}

object CentroidTopK {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(v: ArrayData, nrm: Double, packed: Array[Double], k: Int)
      : ArrayData = {
    val dim = v.numElements()
    val nc = packed.length / (dim + 1)
    val sims = new Array[Double](nc)
    var cid = 0
    while (cid < nc) {
      val off = cid * (dim + 1)
      val cn = packed(off)
      var dot = 0.0
      var d = 0
      while (d < dim) {
        dot += v.getDouble(d) * packed(off + 1 + d)
        d += 1
      }
      sims(cid) = dot / (nrm * cn)
      cid += 1
    }
    val kk = math.min(k, nc)
    val out = new Array[Any](kk)
    val used = new Array[Boolean](nc)
    var r = 0
    while (r < kk) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      cid = 0
      while (cid < nc) {
        // strict > with ascending cid scan = (csim DESC, cid ASC) order
        if (!used(cid) && (best < 0 || sims(cid) > bestSim)) {
          best = cid; bestSim = sims(cid)
        }
        cid += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** All K MinHash signature values of a string array in ONE pass:
  * `sig[k] = min over elements e of g_k(e)` where the K hash families
  * come from Kirsch–Mitzenmacher double hashing over two xxhash64
  * evaluations (see [[MinHashSignature.compute]]). The column-function
  * formulation needs either an explode + K min-aggs (a shuffle of every
  * shingle row) or K separate `array_min(transform(...))` interpreted
  * lambda passes; this computes the whole signature per row inside
  * codegen with zero shuffle. Min over the raw (multiset) array equals
  * min over the distinct set, so callers can hash before deduplicating.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // accepts string shingles or pre-hashed long shingles
  // ([[ShingleHashSet]] output); the long path double-hashes the
  // 64-bit value instead of the string bytes
  private def longInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any =
    MinHashSignature.compute(a.asInstanceOf[ArrayData], numHashes,
      longInput)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.MinHashSignature.compute($a, " +
        s"$numHashes, $longInput);")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)
}

object MinHashSignature {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Static helper shared by eval and generated code. Null elements are
    * skipped; an empty/all-null array yields Long.MaxValue minima
    * (no bucket collisions: every band hash then mixes identical
    * sentinels, which the verification stage discards anyway).
    *
    * The K hash families come from Kirsch–Mitzenmacher double hashing:
    * `g_k(e) = h1(e) + k·h2(e)` with h2 forced odd (a bijection on
    * Z/2⁶⁴ per step), so each element is string-hashed TWICE instead of
    * K times — the dominant cost at 64 hashes over ~100 shingles/doc.
    * Signature VALUES differ from a per-seed formulation, but minhash
    * only needs a uniform permutation family: LSH recall is preserved
    * (asserted empirically by DedupSimilaritySpec, whose verified
    * output must still equal the exact-Jaccard operator's), and the
    * candidate stage always re-verifies exactly.
    */
  def compute(arr: ArrayData, numHashes: Int,
      longInput: Boolean): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        var h1 = 0L
        var h2 = 0L
        if (longInput) {
          val v = arr.getLong(i)
          h1 = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(v, 0L)
          h2 = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(v, 0x9E3779B97F4A7C15L) | 1L
        } else {
          val s = arr.getUTF8String(i)
          h1 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(s, org.apache.spark.sql.types.StringType, 0L)
          h2 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(s, org.apache.spark.sql.types.StringType,
              0x9E3779B97F4A7C15L) | 1L
        }
        var k = 0
        var v = h1
        while (k < numHashes) {
          if (v < mins(k)) mins(k) = v
          v += h2
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Shannon entropy (bits/char) of a string's byte distribution in ONE
  * codegen pass — the compression-ratio-style quality signal a curation
  * pipeline thresholds on (boilerplate and template spam sit far below
  * natural text; binary junk far above).
  *
  * Byte-level on the UTF8String payload: no decode, no allocation
  * beyond a 256-slot histogram, and for ASCII corpora it IS codepoint
  * entropy, which keeps the DuckDB oracle (character-based
  * `string_split` + group) exactly comparable on the fixture tables.
  * The naive relational formulation — explode one row per CHARACTER,
  * then two aggregations — multiplies the corpus by n_chars before the
  * first exchange; this stays one row per document with zero shuffle.
  * Accumulation over the 256 slots is in fixed ascending-index order,
  * so eval, codegen, and spec all produce bit-identical doubles.
  */
case class ByteEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any =
    ByteEntropy.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.ByteEntropy.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): ByteEntropy = copy(child = newChild)
}

object ByteEntropy {
  private val Log2 = math.log(2d)

  /** Static helper shared by eval and generated code. Empty → 0.0. */
  def compute(s: UTF8String): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0d
    val hist = new Array[Int](256)
    var i = 0
    while (i < n) { hist(bytes(i) & 0xFF) += 1; i += 1 }
    var ent = 0d
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) {
        val p = c.toDouble / n
        ent -= p * (math.log(p) / Log2)
      }
      b += 1
    }
    ent
  }
}

/** Count of common elements of two SORTED string arrays via a single
  * linear merge — the exact-verification kernel of the dedup tier
  * (|A ∩ B| for candidate pairs). `array_intersect` materializes a
  * hash set and an output array per row; candidate verification only
  * needs the COUNT, and both sides are deduplicated in-row by
  * [[ShingleSet]], so a two-pointer merge over `sort_array`ed inputs
  * does strictly less work with zero allocation. Comparison is
  * UTF8String binary order — the same order `sort_array` applies, so
  * callers sort once per document (in-row) and every candidate pair
  * reuses the sorted form.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedIntersectCount.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Static helper shared by eval and generated code. Inputs must be
    * duplicate-free and ascending in UTF8String binary order.
    */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
  * SIGMOD'03, the MOSS scheme): polynomial hashes of every
  * k-CODEPOINT gram (the q48 `RollingHash` arithmetic, h = Σ cp·31^j
  * mod 1e9+7, applied per gram so a SQL oracle can reproduce it with
  * exact integer math), then per length-`w` window of consecutive
  * gram hashes the RIGHTMOST minimum is selected; the result is the
  * document's DISTINCT selected hashes, SORTED ascending (ready for
  * the sorted-long merge kernels). Guarantee: two documents sharing
  * any substring of ≥ w + k − 1 codepoints share a fingerprint — the
  * position-level complement of the whole-document q31/q48 hashes,
  * and the primitive substring-level dedup/provenance builds on.
  * Documents shorter than w + k − 1 yield an empty array (full
  * windows only — mirrored by the oracle's window-size filter).
  */
case class Winnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    Winnow.compute(a.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Winnow.compute($a, $k, $w);")

  override protected def withNewChildInternal(
      newChild: Expression): Winnow = copy(child = newChild)
}

object Winnow {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  final val Mod = 1000000007L

  /** Static helper shared by eval and generated code. One pass over
    * the codepoints (rolling gram hash), one monotonic-deque pass for
    * the sliding rightmost-min, then sort + dedup of the selected
    * hashes — O(n log n) per document, no allocation proportional to
    * anything but the document.
    */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val str = text.toString
    val strLen = str.length
    var n = 0
    var i = 0
    while (i < strLen) { n += 1; i += Character.charCount(str.codePointAt(i)) }
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val cps = new Array[Int](n)
    i = 0; var p = 0
    while (i < strLen) {
      val cp = str.codePointAt(i); cps(p) = cp; p += 1
      i += Character.charCount(cp)
    }
    val nG = n - k + 1
    val hs = new Array[Long](nG)
    var pow = 1L // 31^(k-1) mod Mod
    var j = 0
    while (j < k - 1) { pow = pow * 31 % Mod; j += 1 }
    var h = 0L
    j = 0
    while (j < k) { h = (h * 31 + cps(j)) % Mod; j += 1 }
    hs(0) = h
    i = 1
    while (i < nG) {
      h = ((h - cps(i - 1) * pow % Mod + Mod) % Mod * 31 +
        cps(i + k - 1)) % Mod
      hs(i) = h
      i += 1
    }
    // sliding rightmost-min: deque of indices, hashes strictly
    // increasing front→back; pushing pops every back ≥ the newcomer,
    // so ties resolve to the newer (rightmost) index
    val deque = new Array[Int](nG)
    var head = 0
    var tail = 0 // exclusive
    val selected = new Array[Boolean](nG)
    i = 0
    while (i < nG) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) selected(deque(head)) = true
      i += 1
    }
    var cnt = 0
    i = 0
    while (i < nG) { if (selected(i)) cnt += 1; i += 1 }
    val sel = new Array[Long](cnt)
    var q = 0
    i = 0
    while (i < nG) { if (selected(i)) { sel(q) = hs(i); q += 1 }; i += 1 }
    java.util.Arrays.sort(sel)
    var wr = 0
    i = 0
    while (i < cnt) {
      if (i == 0 || sel(i) != sel(i - 1)) { sel(wr) = sel(i); wr += 1 }
      i += 1
    }
    val out = new Array[Any](wr)
    i = 0
    while (i < wr) { out(i) = sel(i); i += 1 }
    new GenericArrayData(out)
  }
}
