package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV distinct-sketch invariants: the aggregator against brute force
  * (any reduce/merge interleaving), the unsaturated-exact contract,
  * determinism of the whole q219 query under repartitioning, and the
  * wire-volume claim — the sketch arm's exchange is bounded by
  * tasks·k·groups while the exact arm ships every distinct value.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  test("KmvAggregator equals brute-force k-smallest-distinct under " +
      "any reduce/merge interleaving") {
    val k = 16
    val agg = new functions.KmvAggregator(k)
    val rnd = new scala.util.Random(7)
    // heavy duplication: 5000 draws over 400 distinct values
    val xs = Seq.fill(5000)(rnd.nextInt(400).toLong * 7919L)
    val brute = xs.distinct.sorted.take(k)
    assert(xs.foldLeft(agg.zero)(agg.reduce) == brute)
    // split into uneven chunks, reduce each, merge pairwise in a
    // skewed order — mergeability must not depend on shape
    val chunks = xs.grouped(613).toList
      .map(_.foldLeft(agg.zero)(agg.reduce))
    assert(chunks.reduce(agg.merge) == brute)
    assert(chunks.reverse.reduce(agg.merge) == brute)
  }

  test("unsaturated sketch returns the distinct count exactly") {
    val k = 64
    val agg = new functions.KmvAggregator(k)
    val xs = Seq(5L, 3L, 5L, 9L, 3L, 1L)
    val buf = xs.foldLeft(agg.zero)(agg.reduce)
    assert(buf == Seq(1L, 3L, 5L, 9L))
  }

  test("q230 sketch algebra vs brute force: union merge is EXACT " +
      "(min-wise identity), membership-in-sketch equals " +
      "membership-in-set on union-sketch elements, and the overlap " +
      "estimates match a serial fold") {
    import spark.implicits._
    val k = operators.Sketches.KmvK
    val rnd = new scala.util.Random(41)
    // two slices with a planted ~30% overlap, values pre-hashed
    val shared = Seq.fill(900)(rnd.nextLong().abs % (1L << 48)).distinct
    val onlyA = Seq.fill(2100)(rnd.nextLong().abs % (1L << 48)).distinct
      .filterNot(shared.contains)
    val onlyB = Seq.fill(1700)(rnd.nextLong().abs % (1L << 48)).distinct
      .filterNot(x => shared.contains(x) || onlyA.contains(x))
    val setA = (shared ++ onlyA).toSet
    val setB = (shared ++ onlyB).toSet
    val la = setA.toSeq.sorted.take(k)
    val lb = setB.toSeq.sorted.take(k)
    // min-wise identity: k-min of (L_a ∪ L_b) == k-min of (A ∪ B)
    val usMerged = (la ++ lb).distinct.sorted.take(k)
    val usTrue = (setA ++ setB).toSeq.sorted.take(k)
    assert(usMerged == usTrue)
    // membership reduction: x ∈ us ∧ x ∈ A ⟺ x ∈ us ∧ x ∈ L_a
    assert(usMerged.count(x => setA(x) && setB(x)) ==
      usMerged.count(x => la.contains(x) && lb.contains(x)))
    // the overlapFromMins relation reproduces the serial fold
    val mins = Seq(("a", la), ("b", lb)).toDF("lang", "mins")
    val row = operators.Sketches.overlapFromMins(mins).collect()
    assert(row.length == 1)
    val m = usMerged.count(x => la.contains(x) && lb.contains(x)).toLong
    val unionEst =
      if (usMerged.length < k) usMerged.length.toLong
      else (k - 1).toLong * (1L << 48) / math.max(usMerged(k - 1), 1L)
    assert(row(0).getAs[Long]("inter_m") == m)
    assert(row(0).getAs[Long]("union_est") == unionEst)
    assert(row(0).getAs[Long]("inter_est") == m * unionEst / k)
    // statistical sanity on the planted geometry (not a hash-match
    // claim — the oracle pins those): estimates within 25% of truth
    val trueUnion = (setA ++ setB).size.toLong
    val trueInter = setA.intersect(setB).size.toLong
    assert(math.abs(unionEst - trueUnion) * 4 <= trueUnion)
    assert(math.abs(m * unionEst / k - trueInter) * 4 <= trueInter)
  }

  test("q219 output is invariant under repartitioning and its " +
      "estimate gate holds organically") {
    val base = operators.Sketches.q219KmvDistinct.build(spark, dir)
      .collect().toSeq
    assert(base.nonEmpty)
    assert(base.forall(_.getBoolean(3)),
      s"KMV estimate off by >20% somewhere: ${base.mkString(";")}")
    // saturated on this fixture: est is the order-statistic formula,
    // not the trivial exact-echo branch
    assert(base.forall(r => r.getLong(1) > operators.Sketches.KmvK))
    val g = operators.Sketches.shingles(spark, dir).repartition(13)
    val exact = g.groupBy(col("lang"))
      .agg(countDistinct(col("sh")).as("exact_distinct"))
    val re = exact.join(operators.Sketches.kmvEstimate(g), "lang")
      .orderBy("lang").collect().toSeq
    assert(re.map(r => (r.getString(0), r.getLong(2))) ==
      base.map(r => (r.getString(0), r.getLong(2))))
  }

  test("q224: streamed KMV state equals the batch sketch bit-for-bit " +
      "across micro-batches and a checkpoint restart") {
    import scala.collection.mutable
    val root = java.nio.file.Files.createTempDirectory("graft_kmvrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString
    val docs = Tables.load(spark, dir, "documents")
    def writeSlice(i: Int): Unit =
      docs.filter(col("doc_id") % 3 === i).repartition(1)
        .write.mode("append").parquet(in)
    val schema = docs.schema
    val snaps = mutable.Buffer[Seq[(String, Seq[Long])]]()
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = operators.Sketches.kmvMins(
        operators.Sketches.shingleRel(stream))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().toSeq
            .map(r => r.getString(0) -> r.getSeq[Long](1))
          snaps.synchronized { snaps += rows }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // slices 0-1 arrive, the query checkpoints and STOPS; slice 2
    // lands while it is down; the restarted query must fold it into
    // the recovered state
    writeSlice(0); writeSlice(1)
    run()
    writeSlice(2)
    run()
    val afterAll = snaps.last.toMap
    val batch = operators.Sketches.kmvMins(
        operators.Sketches.shingleRel(docs))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(afterAll == batch,
      "restarted streaming state diverged from the batch sketch")
    // and the catalog entry end-to-end matches q219's batch output
    val a = SparkEntry.queries("q224_stream_kmv")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q219_kmv_distinct")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("the sketch arm's exchange is bounded O(tasks·k) per group; " +
      "the exact arm ships every distinct value") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val parts = 4
      val g = operators.Sketches.shingles(spark, dir)
        .repartition(parts).persist()
      g.count()
      val (est, sketch) =
        clock.measure(operators.Sketches.kmvEstimate(g).collect())
      val sketchRecs = sketch.shuffleRecords
      val (exact, exactRun) = clock.measure(
        g.select(col("lang"), col("sh")).distinct().count())
      val exactRecs = exactRun.shuffleRecords
      g.unpersist()
      val langs = est.length
      // partial buffers: ≤ one k-vector row per (task, lang), counted
      // once written; generous 2× slack for the final-merge row
      assert(sketchRecs <= 2L * parts * langs * operators.Sketches.KmvK,
        s"sketch arm shuffled $sketchRecs records")
      // the exact arm's exchange carries at least one record per
      // globally distinct (lang, shingle) — corpus-cardinality wire
      assert(exactRecs >= exact,
        s"exact arm shuffled $exactRecs < $exact distinct values")
      assert(sketchRecs < exactRecs)
    } finally {
      spark.sparkContext.removeSparkListener(clock)
    }
  }
}
