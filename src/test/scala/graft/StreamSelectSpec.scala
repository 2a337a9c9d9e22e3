package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** q176 streaming gate+select: the in-row scorer is document-exact
  * against the relational explode → join(model) → groupBy(doc_id)
  * spelling (the float surface the µunit discipline narrows to one
  * floor per doc — this pins that the two arms land on the SAME
  * integers over the whole fixture corpus), and the drained stream
  * equals the batch rollup computed with the same frozen cutpoints
  * (batch-boundary irrelevance: the symlink stream delivers the
  * corpus across multiple micro-batches).
  */
class StreamSelectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  test("DSIR model fingerprint is uniquely decodable: a token that " +
      "spells out another model's rows does not collide with it") {
    import graft.plans.DsirModelTable
    // under a separator-joined rendering both fold "a:1:2;b:3:4;"
    val two = DsirModelTable.build(Seq(("a", 1L, 2L), ("b", 3L, 4L)),
      10L, 2L, 6L)
    val one = DsirModelTable.build(Seq(("a:1:2;b", 3L, 4L)), 10L, 2L, 6L)
    assert(two.fingerprint != one.fingerprint,
      "two different models share a fingerprint, so their scorers " +
        "would compare equal in plan canonicalization")
    // and the fingerprint is a function of content, not row order
    assert(two.fingerprint == DsirModelTable.build(
      Seq(("b", 3L, 4L), ("a", 1L, 2L)), 10L, 2L, 6L).fingerprint)
  }

  test("in-row UnigramDsirScore == relational per-doc (bu, iwu, nt) " +
      "for every document") {
    val model = TextAnalysis.dsirModelTable(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
    val inRow = docs
      .withColumn("sc",
        graft.functions.VectorOps.unigramDsirScore(col("text"), model))
      .select(col("doc_id"), col("sc.bu").as("bu"),
        col("sc.iwu").as("iwu"), col("sc.nt").as("nt"))
    // independent relational spelling (q162/q163's shape, written out
    // here rather than shared so a helper bug cannot self-confirm)
    val toks = docs.select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    val raw = toks.groupBy(col("t")).agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("source") === "src0")
      .groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val consts = raw.agg(sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
      .crossJoin(tgt.agg(sum(col("ct")).as("ntt")))
    val m = broadcast(raw.join(tgt, Seq("t"), "left_outer")
      .select(col("t"), col("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(consts))
    val rel = toks.join(m, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(
        floor(avg(-log2(col("cr").cast(DoubleType) / col("nr")))
          * 1e6 + 0.5d).cast("long").as("bu"),
        floor(avg(
          log2((col("ct") + 1L).cast(DoubleType) /
            (col("ntt") + col("v")).cast(DoubleType)) -
            log2(col("cr").cast(DoubleType) / col("nr")))
          * 1e6 + 0.5d).cast("long").as("iwu"),
        count(lit(1)).as("nt"))
    val joined = inRow.as("a").join(rel.as("b"), "doc_id")
    val total = joined.count()
    assert(total > 0)
    val diff = joined.filter(col("a.bu") =!= col("b.bu") ||
      col("a.iwu") =!= col("b.iwu") || col("a.nt") =!= col("b.nt"))
      .count()
    assert(diff == 0L,
      s"$diff/$total docs where in-row and relational scores diverge")
    // every document participates in both arms (no silent drops)
    assert(inRow.count() == total && rel.count() == total)
  }

  test("drained stream == batch rollup with the same frozen " +
      "cutpoints (micro-batch boundaries are irrelevant)") {
    val model = TextAnalysis.dsirModelTable(spark, dir)
    val scored = TextAnalysis.dsirScored(
      Tables.load(spark, dir, "documents"), model)
      .transform(graft.Caches.persist)
    val cuts = operators.Cutpoints.cutpointOf(
        scored, Seq("lang"), "bu", Seq(2.0 / 3))
      .withColumnRenamed("cut0", "c2").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("c2")).toMap
    val c2e = coalesce((cuts.map { case (l, c) =>
      when(col("lang") === l, lit(c)) }.toSeq :+
      lit(Double.NegativeInfinity)): _*)
    val c80 = operators.Cutpoints.cutpointOf(
      scored.filter(col("bu") <= c2e), Nil, "iwu", Seq(0.8))
      .collect()(0).getAs[Double]("cut0")
    val batch = scored
      .withColumn("gated", col("bu") <= c2e)
      .withColumn("sel", col("gated") && col("iwu") > lit(c80))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("gated"), 1L).otherwise(0L)).as("gated"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("selected"),
        sum(when(col("sel"), col("nt")).otherwise(0L))
          .as("sel_tokens"))
      .orderBy("lang").collect().map(_.toSeq)
    val streamed = SparkEntry.queries("q176_stream_select")(spark, dir)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }
}
