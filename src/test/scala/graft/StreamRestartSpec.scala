package graft

import graft.operators.Dedup
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Checkpoint-restart coverage for the round-9 stateful shapes, whose
  * state differs from the running aggregates StreamingResumeSpec
  * proves:
  *
  *  - q121's MERGING session-window state (open session ranges that
  *    can merge when a bridging event arrives — including one that
  *    arrives only AFTER the restart);
  *  - q127's stream-static near-dup (a persisted static base joined
  *    per micro-batch + cross-batch pair-dedup state that must keep
  *    swallowing redelivered docs after the restart).
  *
  * Both tests kill the query mid-stream (stop after a drained
  * checkpointed run), deliver more input while "down", restart from
  * the same checkpointLocation, and require the final answer to equal
  * the batch computation over ALL input — with run 2 reading only the
  * files run 1's checkpoint had not committed.
  */
class StreamRestartSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("q121-class merging session state survives a restart: a " +
      "post-restart event bridges two sessions opened before the stop") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sessrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString

    def ts(hhmm: String) =
      java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def writeFile(rows: Seq[(Long, java.sql.Timestamp, Double)]): Unit =
      rows.toDF("user_id", "ts", "value").repartition(1)
        .write.mode("append").parquet(in)

    // complete-mode snapshots per batch; the LAST one is the answer
    val snaps = mutable.Buffer[(Long, Seq[org.apache.spark.sql.Row])]()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("ts", "timestamp").add("value", "double")
    def startQuery() = {
      val events = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      EventsStream.sessionAgg(events).writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val rows = b.collect().toSeq
            snaps.synchronized { snaps += id -> rows }
            ()
        }
        .start()
    }

    // run 1: user 1 has one open session; user 3 has TWO open sessions
    // ([10:00,10:30) and [10:50,11:20)) that only a later bridging
    // event can merge (sessions merge when their gap windows overlap:
    // an event at 10:25 is within 30 min of both 10:00 and 10:50)
    writeFile(Seq((1L, ts("10:00"), 1.0), (1L, ts("10:20"), 2.0),
      (3L, ts("10:00"), 5.0)))
    writeFile(Seq((3L, ts("10:50"), 7.0), (2L, ts("09:00"), 3.0)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val run1Batches = snaps.synchronized(snaps.size)
    assert(run1Batches >= 2, "maxFilesPerTrigger split did not happen")

    // while "down": 10:25 bridges user 3's two pre-stop sessions into
    // one [10:00,11:20) session, 10:35 extends user 1's open session,
    // 11:00 opens user 2's second session. 10:25 is above run 1's
    // watermark (max ts 10:50 − 30 min = 10:20), so it is admitted —
    // but ONLY if the restarted state still holds both open sessions.
    writeFile(Seq((3L, ts("10:25"), 9.0), (1L, ts("10:35"), 4.0),
      (2L, ts("11:00"), 6.0)))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      // exactly-once over the source: run 2 read only the new file
      val run2Input = q2.recentProgress.map(_.numInputRows).sum
      assert(run2Input == 3,
        s"restart reprocessed committed files ($run2Input input rows)")
    } finally q2.stop()

    val finalRows = snaps.synchronized(snaps.maxBy(_._1)._2)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the batch answer over ALL input, same aggregation
    val batch = EventsStream.sessionAgg(spark.read.parquet(in))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(finalRows == batch,
      s"restarted stream diverged:\n stream $finalRows\n batch  $batch")
    // and the merge actually happened: user 3 ended with ONE session
    // covering all three events
    assert(finalRows.count(_._1 == 3L) == 1)
    assert(finalRows.find(_._1 == 3L).get._3 == 3L)
  }

  test("q131-class streaming embedding ingest survives a restart: " +
      "pair dedup swallows a vector redelivered after the restart") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_embrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString

    val isDelta = col("vec_id") % 10 === 1
    val deltaRows = Tables.load(spark, dir, "embeddings")
      .filter(isDelta).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(deltaRows.length >= 2)
    val (firstHalf, secondHalf) = deltaRows.splitAt(deltaRows.length / 2)

    def writeFile(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toSeq.toDF("vec_id", "embedding").repartition(1)
        .write.mode("append").parquet(in)

    val emitted = mutable.Buffer[(Long, Long, Double)]()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long")
      .add("embedding", "array<float>")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      operators.Similarity
        .streamOneSidedBanded(spark, dir, isDelta, stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = b.collect()
            emitted.synchronized {
              emitted ++= rows.map(r =>
                (r.getLong(0), r.getLong(1), r.getDouble(2)))
            }
            ()
        }
        .start()
    }

    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    writeFile(secondHalf.toSeq ++ firstHalf.take(1))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val all = emitted.synchronized(emitted.toVector)
    assert(all.map(p => (p._1, p._2)).distinct.size == all.size,
      "restart re-emitted pairs — cross-restart dedup state lost")
    val batch = operators.Similarity.oneSidedBanded(spark, dir, isDelta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(all.nonEmpty && all.toSet == batch,
      s"restarted stream diverged: ${all.size} vs batch ${batch.size}")
    Caches.clear(spark)
  }

  /** Swap the streaming state-store provider for one scenario (fresh
    * checkpoints only — a checkpoint is provider-sticky). The
    * production-tier scenarios (frontier seen-set, near-dup pair
    * ledger — the two whose state grows with the corpus) run under
    * BOTH the default in-memory provider and RocksDB (the provider a
    * run selects through `SPARK_GRAFT_EXTRA_CONF`), proving the
    * checkpoint-restart contract is provider-portable.
    */
  private def withStateStore(provider: String)(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, provider)
    try body finally spark.conf.set(key, prev)
  }

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  test("q127-class stream-static near-dup state survives a restart: " +
      "pair dedup keeps swallowing redelivered docs delivered after " +
      "the restart") {
    neardupRestartScenario()
  }

  test("q127-class near-dup restart under the RocksDB state store " +
      "(the production provider for corpus-proportional state)") {
    withStateStore(RocksProvider)(neardupRestartScenario())
  }

  private def neardupRestartScenario(): Unit = {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_ndrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString

    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val isDelta = col("doc_id") % 100 >= 90
    val base = docs.filter(!isDelta)
    val deltaRows = docs.filter(isDelta)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(deltaRows.length >= 2)
    val (firstHalf, secondHalf) = deltaRows.splitAt(deltaRows.length / 2)

    def writeFile(rows: Seq[(Long, String)]): Unit =
      rows.toSeq.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(in)

    val emitted = mutable.Buffer[(Long, Long, Double)]()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      Dedup.streamIncrementalNeardup(base, stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = b.collect()
            emitted.synchronized {
              emitted ++= rows.map(r =>
                (r.getLong(0), r.getLong(1), r.getDouble(2)))
            }
            ()
        }
        .start()
    }

    // run 1: first half of the delta, then a hard stop
    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // while "down": the second half arrives PLUS a redelivery of a
    // run-1 doc — the restarted dropDuplicates state must swallow it
    writeFile(secondHalf.toSeq ++ firstHalf.take(1))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val all = emitted.synchronized(emitted.toVector)
    // no pair emitted twice across the restart boundary
    assert(all.map(p => (p._1, p._2)).distinct.size == all.size,
      "restart re-emitted pairs — cross-restart dedup state lost")
    // final answer equals the single-shot batch computation
    val batch = Dedup.streamIncrementalNeardup(base,
        deltaRows.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(all.nonEmpty && all.toSet == batch,
      s"restarted stream diverged: ${all.size} vs batch ${batch.size}")
    Caches.clear(spark)
  }

  test("q146-class streaming covariance state survives a restart: " +
      "the complete-mode moment buffer restores from the checkpoint " +
      "and the final snapshot equals the batch matrix") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_cvrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (h1, h2) = vecs.splitAt(vecs.length / 2)
    def writeFile(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toSeq.toDF("vec_id", "embedding").repartition(1)
        .write.mode("append").parquet(in)
    val dim = tools.GenFixtures.Dim
    val agg = new functions.MomentMatrixAggregator(dim)
    val last = new java.util.concurrent.atomic
      .AtomicReference[Array[Double]](null)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("embedding", "array<float>")
    def startQuery() = {
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .select(col("embedding").cast("array<double>").as("v"))
        .as[Seq[Double]]
        .select(agg.toColumn).toDF("m")
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            last.set(b.collect()(0)
              .getAs[scala.collection.Seq[Double]](0).toArray)
            ()
        }
        .start()
    }
    // run 1: first half, hard stop; run 2 restores the agg buffer
    writeFile(h1.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeFile(h2.toSeq)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // if the restored buffer had been lost, the final matrix would be
    // h2's alone — compare every slot against the full-corpus batch
    // fold (same kernel, ~fp-order tolerance)
    val batch = agg.finish(vecs.map(_._2.map(_.toDouble).toSeq)
      .foldLeft(agg.zero)(agg.reduce))
    val got = last.get()
    assert(got != null && got.length == batch.length)
    batch.indices.foreach { k =>
      val scale = math.max(1.0, math.abs(batch(k)))
      assert(math.abs(got(k) - batch(k)) / scale < 1e-9,
        s"slot $k diverged after restart: ${got(k)} vs ${batch(k)}")
    }
  }

  test("q141-class decontamination monitor survives a restart: the " +
      "leaked-doc dedup state swallows a doc redelivered after the " +
      "restart and the final counts equal the batch answer") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_dcrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString

    val (testG, bits) = operators.StreamingQueries
      .decontamStatics(spark, dir)
    val trainRows = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 100 < 80)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    // the redelivered docs must be LEAKED docs: only rows surviving
    // the bloom + semi filter ever reach the dropDuplicates state, so
    // redelivering a clean doc would exercise nothing (a broken
    // restored state would still pass). Compute the leak set exactly.
    val leakedIds = trainRows.toSeq.toDF("doc_id", "lang", "text")
      .select(col("doc_id"), explode(functions.VectorOps
        .shingleHashes(lower(col("text")), 5)).as("g"))
      .join(testG, Seq("g"), "left_semi")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(leakedIds.nonEmpty, "fixture has no leaks — test is vacuous")
    val (firstHalf, secondHalf) = trainRows.splitAt(trainRows.length / 2)
    val redeliver = firstHalf.filter(r => leakedIds(r._1)).take(2)
    assert(redeliver.nonEmpty,
      "no leaked doc in run 1's half — redelivery would be vacuous")

    def writeFile(rows: Seq[(Long, String, String)]): Unit =
      rows.toSeq.toDF("doc_id", "lang", "text").repartition(1)
        .write.mode("append").parquet(in)

    // complete-mode sink: keep only the LAST snapshot
    val last = new java.util.concurrent.atomic
      .AtomicReference[Map[String, Long]](Map.empty)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("lang", "string").add("text", "string")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      operators.StreamingQueries.streamDecontam(testG, bits, stream)
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            last.set(b.collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap)
            ()
        }
        .start()
    }

    // run 1: first half of the crawl, then a hard stop
    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // while "down": second half arrives PLUS a redelivery of LEAKED
    // run-1 docs — the restored dropDuplicates state must swallow them
    // or the leak count double-counts
    writeFile(secondHalf.toSeq ++ redeliver.toSeq)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val batch = operators.StreamingQueries
      .streamDecontam(testG, bits,
        trainRows.toSeq.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.values.sum > 0, "fixture has no leaks — test is vacuous")
    assert(last.get() == batch,
      s"restarted monitor diverged: ${last.get()} vs batch $batch")
    Caches.clear(spark)
  }

  test("q156-class PII-scrub monitor survives a restart: per-lang " +
      "counters restore from the checkpoint and the final counts " +
      "equal the batch answer over the full corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_piirs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString
    val all = Fixtures.read(spark, Fixtures.piiDocsPath)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val (firstHalf, secondHalf) = all.splitAt(all.length / 2)

    def writeFile(rows: Seq[(Long, String, String)]): Unit =
      rows.toSeq.toDF("doc_id", "lang", "text").repartition(1)
        .write.mode("append").parquet(in)

    val last = new java.util.concurrent.atomic
      .AtomicReference[Map[String, (Long, Long, Long, Long)]](Map.empty)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("lang", "string").add("text", "string")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.operators.TextAnalysis.piiScrubCounts(stream)
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            last.set(b.collect().map(r => r.getString(0) ->
              ((r.getLong(1), r.getLong(2), r.getLong(3),
                r.getLong(4)))).toMap)
            ()
        }
        .start()
    }

    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val mid = last.get()
    assert(mid.nonEmpty && mid.values.map(_._1).sum ==
      firstHalf.length, "run 1 counted the wrong doc total")

    // restart: run 2's counters must RESUME from run 1's state, not
    // from zero — the second half alone would undercount every lang
    writeFile(secondHalf.toSeq)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val batch = graft.operators.TextAnalysis.piiScrubCounts(
      Fixtures.read(spark, Fixtures.piiDocsPath))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(batch.values.map(_._2).sum > 0,
      "fixture plants no emails — test is vacuous")
    assert(last.get() == batch,
      s"restarted scrub monitor diverged: ${last.get()} vs $batch")
    Caches.clear(spark)
  }

  test("q176-class selection gate survives a restart: per-lang " +
      "funnel counters restore from the checkpoint and the final " +
      "counts equal the batch answer over the full corpus") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val root = java.nio.file.Files.createTempDirectory("graft_selrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString
    // frozen artifacts derive once, shared by both runs and the batch
    // twin — exactly the deployment contract (model + cutpoints are
    // static; only documents stream)
    val (model, c2Expr, c80) = graft.operators.StreamingQueries
      .frozenSelectArtifacts(spark, dir)
    val all = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val (firstHalf, secondHalf) = all.splitAt(all.length / 2)

    def writeFile(rows: Seq[(Long, String, String)]): Unit =
      rows.toSeq.toDF("doc_id", "lang", "text").repartition(1)
        .write.mode("append").parquet(in)

    val last = new java.util.concurrent.atomic
      .AtomicReference[Map[String, (Long, Long, Long, Long)]](Map.empty)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("lang", "string").add("text", "string")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.operators.StreamingQueries
        .selectGateAgg(stream, model, c2Expr, c80)
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            last.set(b.collect().map(r => r.getString(0) ->
              ((r.getLong(1), r.getLong(2), r.getLong(3),
                r.getLong(4)))).toMap)
            ()
        }
        .start()
    }

    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(last.get().nonEmpty, "run 1 produced no counters")

    // restart: run 2 must RESUME the funnel counters, not restart
    // from zero — the second half alone undercounts every lang
    writeFile(secondHalf.toSeq)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val batch = graft.operators.StreamingQueries.selectGateAgg(
      Tables.load(spark, dir, "documents"), model, c2Expr, c80)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(batch.values.map(_._3).sum > 0,
      "no documents selected — test is vacuous")
    assert(last.get() == batch,
      s"restarted selection gate diverged: ${last.get()} vs $batch")
    Caches.clear(spark)
  }

  test("q182-class crawl frontier survives a restart: the canonical " +
      "seen-set restores from the checkpoint, so aliases of " +
      "pre-restart pages never re-emit") {
    frontierRestartScenario()
  }

  test("q182-class frontier restart under the RocksDB state store " +
      "(the provider the frontier's web-scale seen-set actually runs)") {
    withStateStore(RocksProvider)(frontierRestartScenario())
  }

  private def frontierRestartScenario(): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_furls")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString
    val domains = Fixtures.read(spark, Fixtures.domainBlocklistPath)
      .collect().map(_.getString(0)).toSeq
    val all = Fixtures.read(spark, Fixtures.urlCorpusPath)
      .select(col("doc_id"), col("lang"), col("url"))
      .as[(Long, String, String)].collect()
    // interleave halves by parity so MOST multi-alias pages span the
    // restart boundary — the strongest exercise of state restoration
    val firstHalf = all.filter(_._1 % 2 == 0)
    val secondHalf = all.filter(_._1 % 2 == 1)

    def writeFile(rows: Seq[(Long, String, String)]): Unit =
      rows.toSeq.toDF("doc_id", "lang", "url").repartition(1)
        .write.mode("append").parquet(in)

    val emitted = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
    val emissions = new java.util.concurrent.atomic.AtomicLong(0)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("lang", "string").add("url", "string")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.operators.Urls.crawlDress(stream, domains)
        .filter(!col("blocked"))
        .select(col("canon"))
        .dropDuplicates("canon")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = b.collect().map(_.getString(0))
            emissions.addAndGet(rows.length.toLong)
            rows.foreach(emitted.add)
            ()
        }
        .start()
    }

    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(emissions.get() > 0, "run 1 emitted nothing")

    writeFile(secondHalf.toSeq)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    // batch truth: unique kept canonicals over the full corpus
    val expected = graft.operators.Urls.crawlDress(
      Fixtures.read(spark, Fixtures.urlCorpusPath), domains)
      .filter(!col("blocked"))
      .select("canon").distinct().collect().map(_.getString(0)).toSet
    assert(emitted.asScala.toSet == expected,
      s"frontier emitted ${emitted.size} canonicals vs " +
        s"${expected.size} expected")
    // NO re-emission: total emissions equal distinct canonicals — a
    // from-zero restart would re-emit every spanning page's canonical
    assert(emissions.get() == expected.size.toLong,
      s"${emissions.get()} emissions for ${expected.size} unique " +
        "pages — seen-set state did not restore across the restart")
    Caches.clear(spark)
  }

  test("q194-class chat-ingest gate survives a restart: per-source " +
      "failure-mode counters restore from the checkpoint and the " +
      "final counts equal the batch answer over the full fixture") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_chatrs")
    val in = root.resolve("in").toString
    val cp = root.resolve("cp").toString
    val all = Fixtures.read(spark, Fixtures.chatConvosPath)
      .select(col("conv_id"), col("source"), col("convo"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    // split by PARITY so both halves carry every source and several
    // violation classes — a from-zero restart can't pass by accident
    val (firstHalf, secondHalf) = all.partition(_._1 % 2 == 0)

    def writeFile(rows: Seq[(Long, String, String)]): Unit =
      rows.toSeq.toDF("conv_id", "source", "convo").repartition(1)
        .write.mode("append").parquet(in)

    val last = new java.util.concurrent.atomic
      .AtomicReference[Map[String, Seq[Long]]](Map.empty)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("conv_id", "long").add("source", "string")
      .add("convo", "string")
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      operators.Chat.gateCounts(stream)
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            last.set(b.collect().map(r => r.getString(0) ->
              (1 to 6).map(r.getLong)).toMap)
            ()
        }
        .start()
    }

    writeFile(firstHalf.toSeq)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(last.get().values.map(_.head).sum == firstHalf.length,
      "run 1 counted the wrong conversation total")

    // restart: counters must RESUME from run 1's state, not zero
    writeFile(secondHalf.toSeq)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val batch = operators.Chat.gateCounts(
      Fixtures.read(spark, Fixtures.chatConvosPath))
      .collect().map(r => r.getString(0) ->
        (1 to 6).map(r.getLong)).toMap
    assert(batch.values.map(_(1)).sum > 0 &&
      batch.values.map(v => v.head - v(1)).sum > 0,
      "fixture lacks valid or invalid conversations — test is vacuous")
    assert(last.get() == batch,
      s"restarted chat gate diverged: ${last.get()} vs $batch")
    Caches.clear(spark)
  }
}
