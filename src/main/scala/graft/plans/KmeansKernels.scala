package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Assignment kernels for the in-plan training loops (q221/q223/q225):
  * ONE expression per row against a packed codebook that rides as a
  * BROADCAST handle, so the tree stays one node at any K (a production
  * coarse book, K=4096 × dim 64, packs to ~2.2 MB) and tasks carry a
  * block-manager handle instead of the payload.
  *
  * Unlike [[CentroidTopK]] (raw-cosine ranking, positional ids) and
  * [[PqCodes]] (whole-vector encode, dense ids), the TRAINING loops
  * need (a) the exact integer ranking value carried out (µcos for the
  * ledger / squared-L2 for the objective) and (b) robustness to
  * NON-CONTIGUOUS centroid ids — Lloyd's update drops empty clusters
  * (k-means--), so a mid-training codebook can have id gaps that
  * positional layouts mis-assign. Entries therefore carry their id IN
  * the table and the kernels return `struct<value, cid>`.
  *
  * Exactness contract (the q221/q223 hash-match discipline): every
  * double op replays the oracle's definition — sequential
  * left-to-right dot ([[DotProduct]]'s loop), `dot / (nrm·cn)`,
  * `·10⁶ + 0.5`, one floor (µcos); `aa − 2.0·ab + bb` then one long
  * cast (L2). `KmeansSpec` pins both against plain-Scala definitions.
  *
  * The codebook is a [[FrozenTable]] (one entry per centroid), whose
  * content equality keeps two plans built from separate broadcasts of
  * the same codebook matching the persist cache.
  */

/** µcos-argmax coarse assignment: `struct<u: bigint, cid: bigint>` of
  * the centroid maximizing `floor(dot(v,c)/(nrm·cn)·10⁶ + 0.5)`,
  * ties to the smaller cid. Packed layout per entry:
  * `[cid, cn, cv(0), …, cv(dim-1)]` (stride `dim + 2`), entries
  * sorted by cid ascending; dim is taken from the input vector.
  */
case class CentroidMuAssignBcast(left: Expression, right: Expression,
    table: FrozenTable[Array[Double]])
    extends BinaryExpression with FrozenTableKernel[Array[Double]] {
  override def dataType: DataType = CentroidMuAssignBcast.OutType

  override def nullSafeEval(v: Any, nrm: Any): Any =
    CentroidMuAssignBcast.compute(v.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double], table.value)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val book = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.CentroidMuAssignBcast.compute($a, $b, " +
        s"$book);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidMuAssignBcast =
    copy(left = newLeft, right = newRight)
}

object CentroidMuAssignBcast {
  val OutType: StructType = StructType(Seq(
    StructField("u", LongType, nullable = false),
    StructField("cid", LongType, nullable = false)))

  def compute(v: ArrayData, nrm: Double, packed: Array[Double])
      : InternalRow = {
    val dim = v.numElements()
    val stride = dim + 2
    val nc = packed.length / stride
    var bestU = Long.MinValue
    var bestCid = -1L
    var e = 0
    while (e < nc) {
      val off = e * stride
      val cid = packed(off).toLong
      val cn = packed(off + 1)
      var dot = 0.0
      var d = 0
      while (d < dim) {
        dot += v.getDouble(d) * packed(off + 2 + d)
        d += 1
      }
      // the oracle's exact op sequence: ((dot/(nrm·cn))·10⁶)+0.5
      val u = math.floor(dot / (nrm * cn) * 1000000.0 + 0.5).toLong
      // strict > with cid-ascending entries = (u DESC, cid ASC)
      if (bestCid < 0 || u > bestU) { bestU = u; bestCid = cid }
      e += 1
    }
    // a fabricated assignment from an empty table must not flow into
    // ledgers looking real
    if (bestCid < 0) throw new IllegalStateException(
      "CentroidMuAssignBcast: empty packed centroid table")
    InternalRow(bestU, bestCid)
  }
}

/** Per-subspace squared-L2 argmin: `struct<d: bigint, cid: bigint>`
  * of the codeword minimizing `‖sv‖² − 2⟨sv,c⟩ + ‖c‖²` (exact BIGINT
  * on µ-int components), ties to the smaller cid. Packed layout per
  * entry: `[sub, cid, cv(0), …, cv(subDim-1)]` (stride `subDim + 2`),
  * entries sorted by (sub, cid) ascending; only entries whose `sub`
  * matches the row's compete — skipping a foreign-sub entry costs one
  * double read, so a full-codebook scan is O(S·k + k·subDim) per row.
  * A production PQ book at K=256 × 4×16 dims is ~150 KB.
  */
case class SubL2ArgminBcast(left: Expression, right: Expression,
    table: FrozenTable[Array[Double]])
    extends BinaryExpression with FrozenTableKernel[Array[Double]] {
  override def dataType: DataType = SubL2ArgminBcast.OutType

  override def nullSafeEval(sv: Any, sub: Any): Any =
    SubL2ArgminBcast.compute(sv.asInstanceOf[ArrayData],
      sub.asInstanceOf[Int], table.value)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val book = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SubL2ArgminBcast.compute($a, $b, $book);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubL2ArgminBcast =
    copy(left = newLeft, right = newRight)
}

object SubL2ArgminBcast {
  val OutType: StructType = StructType(Seq(
    StructField("d", LongType, nullable = false),
    StructField("cid", LongType, nullable = false)))

  def compute(sv: ArrayData, sub: Int, packed: Array[Double])
      : InternalRow = {
    val subDim = sv.numElements()
    val stride = subDim + 2
    val nc = packed.length / stride
    // ‖sv‖² once per row: on identical inputs the sequential fold is
    // the same double for every centroid
    var aa = 0.0
    var d = 0
    while (d < subDim) {
      val x = sv.getDouble(d); aa += x * x; d += 1
    }
    var bestD = Long.MaxValue
    var bestCid = -1L
    var e = 0
    while (e < nc) {
      val off = e * stride
      if (packed(off).toInt == sub) {
        val cid = packed(off + 1).toLong
        var ab = 0.0
        var bb = 0.0
        d = 0
        while (d < subDim) {
          ab += sv.getDouble(d) * packed(off + 2 + d)
          d += 1
        }
        d = 0
        while (d < subDim) {
          val y = packed(off + 2 + d); bb += y * y; d += 1
        }
        // the oracle's exact op sequence: (aa − 2.0·ab) + bb, then ONE
        // long cast
        val dist = (aa - 2.0 * ab + bb).toLong
        // strict < with cid-ascending entries = (d ASC, cid ASC)
        if (bestCid < 0 || dist < bestD) { bestD = dist; bestCid = cid }
      }
      e += 1
    }
    // no codeword for this row's subspace: fail loudly — a fabricated
    // (MaxValue, -1) row would flow into ledgers looking real
    if (bestCid < 0) throw new IllegalStateException(
      s"SubL2ArgminBcast: no codebook entry for subspace $sub")
    InternalRow(bestD, bestCid)
  }
}
