package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q174 persisted-index serve path: the artifact is built once and
  * reused, its contents are exactly the corpus's rank-1 inverted
  * lists, the serve plan reads the partition-pruned index (not a
  * corpus re-assignment), and serving returns byte-identical results
  * to q45's build-and-query form (the two entries share one oracle —
  * this spec pins the equivalence in-JVM too).
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val NumQueryVecs = 20 // Similarity's query-workload split

  test("serve from the persisted index == build-and-query (q45), " +
      "row for row") {
    val served = SparkEntry.queries("q174_ann_served")(spark, dir)
      .collect().map(_.toSeq)
    val built = SparkEntry.queries("q45_ann_ivf")(spark, dir)
      .collect().map(_.toSeq)
    assert(served.nonEmpty)
    assert(served.toSeq == built.toSeq)
  }

  test("index artifact: every corpus vector appears exactly once with " +
      "its in-row rank-1 centroid assignment; stable path on re-call") {
    val p1 = operators.Similarity.annIndexLayout(spark, dir)
    val p2 = operators.Similarity.annIndexLayout(spark, dir)
    assert(p1 == p2, "content-keyed artifact path must be stable")
    val idx = spark.read.parquet(p1)
    val centsPacked = Fixtures.ivfCentroidsPacked(spark)
    // recompute rank-1 assignment from the index's OWN stored vectors:
    // a drifted write (stale cids, lossy vector round-trip) breaks this
    val bad = idx.withColumn("cid2",
      element_at(graft.functions.VectorOps.centroidTopK(col("v"),
        col("nrm"), centsPacked, 1), 1))
      .filter(col("cid") =!= col("cid2")).count()
    assert(bad == 0L, s"$bad index rows with drifted cid assignment")
    val corpusIds = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= NumQueryVecs)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val idxIds = idx.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(idxIds.toSeq == corpusIds.toSeq,
      "index must hold each corpus vector exactly once")
  }

  test("multi-probe serve from the persisted postings == " +
      "build-and-query (q136), row for row; both artifacts in the plan") {
    val served = SparkEntry.queries("q177_multiprobe_served")(spark, dir)
    val builtRows = SparkEntry.queries("q136_ann_multiprobe")(spark, dir)
      .collect().map(_.toSeq)
    val servedRows = served.collect().map(_.toSeq)
    assert(servedRows.nonEmpty)
    assert(servedRows.toSeq == builtRows.toSeq)
    // candidates come from the postings artifact, vectors from the
    // SHARED vector store — two persisted-layout scans (plan strings
    // truncate the full key dir, so count the cache-root marker)
    val plan = served.queryExecution.executedPlan.toString
    assert("graft_layout".r.findAllIn(plan).size >= 2,
      "serve must scan BOTH the postings artifact and the vector " +
        s"store:\n${plan.take(1200)}")
  }

  test("postings artifact: every (corpus vector, table) row present " +
      "with the code the in-session kernel computes") {
    val postings = spark.read.parquet(
      operators.Similarity.signIndexLayout(spark, dir))
    val n = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= NumQueryVecs).count()
    val nTables = Fixtures.lshPlanes(spark)
      .select("tbl").distinct().count()
    assert(postings.count() == n * nTables,
      "one postings row per (corpus vector, table)")
    // recompute codes live and compare — a stale artifact (old
    // planes, dropped rows) diverges
    val live = operators.Similarity.signCodes(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm",
          graft.functions.VectorOps.l2norm(col("v")))
        .filter(col("vec_id") >= NumQueryVecs))
      .select(col("vec_id"), col("tbl"), col("code").as("live_code"))
    val bad = postings.join(live, Seq("vec_id", "tbl"))
      .filter(col("code") =!= col("live_code")).count()
    assert(bad == 0L, s"$bad postings rows with drifted codes")
  }

  test("index maintenance: compact on a fragmented copy of the ANN " +
      "artifact merges debris and preserves content exactly") {
    val layout = operators.Similarity.annIndexLayout(spark, dir)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_annc").toString + "/idx"
    // micro-batch-style debris: many small files per cid directory
    spark.read.parquet(layout).repartition(9)
      .write.partitionBy("cid").parquet(tmp)
    val before = spark.read.parquet(tmp)
      .orderBy("vec_id").collect().map(_.toSeq)
    val rep = sources.LakehouseSink.compact(spark, tmp,
      clusterCols = Seq("vec_id"))
    assert(rep.partitionsCompacted > 0 &&
      rep.filesAfter < rep.filesBefore,
      s"expected debris merge: $rep")
    val after = spark.read.parquet(tmp)
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq,
      "compaction must preserve the index byte-for-byte")
  }

  test("serve plan: dynamic partition pruning into the cid-partitioned " +
      "index scan, no cartesian product") {
    val plan = SparkEntry.queries("q174_ann_served")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "index scan must be DPP-pruned to the probed lists:\n" +
        plan.take(1200))
    assert(plan.contains("graft_layout"),
      "candidates must come from the persisted index artifact")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }
}
