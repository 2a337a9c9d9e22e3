package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-model lookup table for the in-row CCNet/DSIR scorer: token
  * → (raw count cr, smoothed-target count ct) plus the normalizing
  * constants. The scorer reads it as a [[FrozenTable]] ([[frozen]]),
  * whose content `fingerprint` stands in for the payload in plan
  * equality. At fixture scale this is the whole corpus vocabulary; at
  * 100 TB it is the trained top-K vocab + OOV floor every production
  * perplexity filter ships (CCNet's KenLM is exactly such a frozen
  * artifact).
  */
final class DsirModelTable(
    val counts: java.util.HashMap[String, Array[Long]],
    val nr: Long, val v: Long, val ntt: Long,
    val fingerprint: Long) extends Serializable

object DsirModelTable {
  /** Build from (token, cr, ct) triples + constants, fingerprinting
    * the full content so two separately collected copies of the same
    * model compare equal in plan canonicalization. The fold is
    * uniquely decodable — the row count, then per row a length-prefixed
    * token ([[Fnv1a.mixString]]) and two whole words — so no two
    * different models share a byte stream.
    */
  def build(rows: Iterable[(String, Long, Long)],
      nr: Long, v: Long, ntt: Long): DsirModelTable = {
    val m = new java.util.HashMap[String, Array[Long]](rows.size * 2)
    var fp = Fnv1a.mix(Fnv1a.Offset, rows.size.toLong)
    // fold tokens in sorted order so insertion order never changes
    // the fingerprint
    rows.toSeq.sortBy(_._1).foreach { case (t, cr, ct) =>
      m.put(t, Array(cr, ct))
      fp = Fnv1a.mixString(fp,
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      fp = Fnv1a.mix(Fnv1a.mix(fp, cr), ct)
    }
    fp = Fnv1a.mix(Fnv1a.mix(Fnv1a.mix(fp, nr), v), ntt)
    new DsirModelTable(m, nr, v, ntt, fp)
  }

  /** `t` broadcast for [[UnigramDsirScore]], one entry per token. */
  def frozen(s: org.apache.spark.sql.SparkSession,
      t: DsirModelTable): FrozenTable[DsirModelTable] =
    FrozenTable(s, t, t.fingerprint, t.counts.size)
}

object UnigramDsirScore {
  private val Ln2 = java.lang.StrictMath.log(2.0)
  private def log2(x: Double): Double = java.lang.StrictMath.log(x) / Ln2

  /** Per-document (bu, iwu, nt) in ONE text pass — the in-row twin of
    * the explode → join(model) → groupBy(doc_id) relational spelling
    * (TextAnalysis q162/q163): tokens are the non-empty single-space
    * splits of the lowercased text, out-of-vocabulary tokens are
    * skipped exactly as the inner model join drops them, bu/iwu are
    * the µunit floors of the average self-information and average
    * log-likelihood ratio. Summation runs in document token order —
    * deterministic for a given document, independent of partitioning
    * (the relational avg's partial-aggregation order is not; both
    * land inside the same one-floor rounding window the µunit
    * discipline documents).
    */
  def compute(text: UTF8String, t: DsirModelTable): InternalRow = {
    // lowercase via UTF8String — the SAME implementation Spark's
    // lower() uses (UTF8_BINARY collation path), so the in-row scorer
    // and the relational twin (unigramToks / SQL lower()) cannot
    // diverge from EACH OTHER. Note the shared implementation is
    // itself locale-stable only on its ASCII fast path: non-ASCII
    // strings fall to default-locale String.toLowerCase inside
    // UTF8String, so on a non-en JVM both sides shift together
    // relative to DuckDB's locale-independent lower() (İ, ß, final
    // sigma). Scorer≡twin is the contract here; cross-engine parity
    // additionally assumes ASCII corpora or an en/ROOT JVM locale,
    // which the fixtures and driver guarantee
    val s = text.toLowerCase.toString
    var sumBits = 0.0
    var sumLr = 0.0
    var n = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) {
        val c = t.counts.get(s.substring(i, j))
        if (c != null) {
          val pRaw = c(0).toDouble / t.nr
          sumBits += -log2(pRaw)
          sumLr += log2((c(1) + 1L).toDouble / (t.ntt + t.v)) - log2(pRaw)
          n += 1
        }
      }
      i = j + 1
    }
    if (n == 0L) new GenericInternalRow(Array[Any](0L, 0L, 0L))
    else new GenericInternalRow(Array[Any](
      math.floor(sumBits / n * 1e6 + 0.5d).toLong,
      math.floor(sumLr / n * 1e6 + 0.5d).toLong,
      n))
  }
}

/** struct(bu, iwu, nt) of a text under a frozen unigram DSIR model —
  * the STATELESS per-row scorer that lets the CCNet gate + DSIR
  * selection run inside streaming micro-batches (q176): no explode,
  * no per-doc_id aggregation state; the prebuilt [[DsirModelTable]]
  * is a [[FrozenTable]].
  */
case class UnigramDsirScore(child: Expression,
    table: FrozenTable[DsirModelTable])
    extends UnaryExpression with FrozenTableKernel[DsirModelTable] {

  override def dataType: DataType = StructType(Seq(
    StructField("bu", LongType, nullable = false),
    StructField("iwu", LongType, nullable = false),
    StructField("nt", LongType, nullable = false)))

  override protected def nullSafeEval(text: Any): Any =
    UnigramDsirScore.compute(text.asInstanceOf[UTF8String], table.value)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val model = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.plans.UnigramDsirScore.compute(" +
        s"$text, $model);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnigramDsirScore = copy(child = newChild)
}
