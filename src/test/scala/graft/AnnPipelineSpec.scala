package graft

import org.scalatest.funsuite.AnyFunSuite

/** q225 pinned against a from-scratch SERIAL fold of the whole IVF-PQ
  * pipeline — coarse Lloyd, residuals, PQ Lloyd, codes, probes, LUTs,
  * ADC ranking — written here with plain Scala collections from the
  * definitions alone (no shared code with the operator). Equality of
  * the full served output proves the distributed composition
  * implements the definition, not just its own oracle spelling.
  */
class AnnPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private type Vec = Array[Double]

  private def micro(v: Array[Double]): Vec =
    v.map(x => math.floor(x * 1000000.0 + 0.5))

  private def l2(a: Vec, b: Vec): Long = {
    var i = 0; var s = 0.0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s.toLong
  }

  /** Serial Lloyd over (id, vec) with residue-class seeds, floor-mean
    * updates, (dist, cid) argmin ties to smaller cid.
    */
  private def lloyd(xs: Seq[(Long, Vec)], k: Int,
      rounds: Int): Map[Long, Vec] = {
    var cents: Map[Long, Vec] = xs.groupBy(_._1 % k)
      .map { case (b, g) => b -> g.minBy(_._1)._2 }
    def assign(c: Map[Long, Vec]): Seq[(Long, Long)] =
      xs.map { case (id, v) =>
        id -> c.toSeq.map { case (cid, cv) => (l2(v, cv), cid) }
          .min._2
      }
    for (_ <- 1 until rounds) {
      val byC = assign(cents).groupBy(_._2)
      cents = byC.map { case (cid, members) =>
        val vs = members.map(m => xs.find(_._1 == m._1).get._2)
        val cv = new Vec(vs.head.length)
        for (p <- cv.indices)
          cv(p) = math.floor(vs.map(_(p)).sum / vs.length)
        cid -> cv
      }
    }
    cents
  }

  test("the served q225 output equals a from-definitions serial fold " +
      "of the whole train+serve pipeline") {
    import operators.IvfPqPipeline._
    import operators.Kmeans.{SubSpaces, SubDim}
    val all = Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
      .collect()
      .map(r => r.getLong(0) -> micro(r.getSeq[Double](1).toArray))
      .toSeq.sortBy(_._1)
    val corpus = all.filter(_._1 >= NumQ)
    val queries = all.filter(_._1 < NumQ)

    val coarse = lloyd(corpus, CoarseK, CoarseRounds)
    def coarseAssign(v: Vec): Long =
      coarse.toSeq.map { case (cid, cv) => (l2(v, cv), cid) }.min._2
    def sub(v: Vec, b: Int): Vec =
      v.slice(b * SubDim, (b + 1) * SubDim)
    val resid = corpus.map { case (id, v) =>
      val cid = coarseAssign(v)
      (id, cid, v.zip(coarse(cid)).map { case (x, c) => x - c })
    }
    // PQ book per subspace over residual subvectors
    val book: Map[Int, Map[Long, Vec]] = (0 until SubSpaces).map { b =>
      b -> lloyd(resid.map { case (id, _, r) => id -> sub(r, b) },
        PqCodeK, PqRounds)
    }.toMap
    def code(r: Vec, b: Int): Long =
      book(b).toSeq.map { case (cid, cv) => (l2(sub(r, b), cv), cid) }
        .min._2
    val codes = resid.map { case (id, lcid, r) =>
      (id, lcid, (0 until SubSpaces).map(b => code(r, b)))
    }
    // serve
    val want = queries.flatMap { case (qid, qv) =>
      val probed = coarse.toSeq
        .map { case (cid, cv) => (l2(qv, cv), cid) }
        .sorted.take(NProbe).map(_._2)
      val scored = probed.flatMap { pcid =>
        val rq = qv.zip(coarse(pcid)).map { case (x, c) => x - c }
        codes.filter(_._2 == pcid).map { case (id, _, cs) =>
          val approx = (0 until SubSpaces).map(b =>
            l2(sub(rq, b), book(b)(cs(b)))).sum
          (approx, id)
        }
      }
      scored.sorted.take(TopK).zipWithIndex.map {
        case ((approx, id), i) => (qid, (i + 1).toLong, id, approx)
      }
    }.sortBy(r => (r._1, r._2))

    val got = SparkEntry.queries("q225_ivfpq_train_serve")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got == want)
    // sanity on shape: full top-k per query, ranks dense, monotone
    got.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2) == (1L to rs.length.toLong), s"qid=$qid")
      assert(rs.map(_._4) == rs.map(_._4).sorted)
      assert(rs.forall(_._3 >= NumQ))
    }
  }

  test("q228 delta append: the one-sided path serves IDENTICALLY to " +
      "a full re-encode under the same frozen books, and delta " +
      "neighbors can actually surface") {
    import operators.IvfPqPipeline._
    import org.apache.spark.sql.functions._
    val appended = SparkEntry.queries("q228_ivfpq_delta_append")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(appended.nonEmpty)
    // rebuild arm: train on base (same as append), then encode
    // base+delta in ONE pass with the frozen books — encode is a pure
    // per-row function of the books, so this must serve bit-equal
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir)
      .select(col("vec_id"), col("qv")))
    n.count()
    val queries = n.filter(col("vec_id") < NumQ)
    val base = n.filter(col("vec_id") >= NumQ &&
      col("vec_id") % DeltaMod =!= DeltaMod - 1)
    val whole = n.filter(col("vec_id") >= NumQ)
    val bsv = Caches.persist(
      operators.Kmeans.subrelOf(base, 1, operators.Kmeans.Dim))
    val coarse = operators.Kmeans.lloydBook(bsv, CoarseK, CoarseRounds,
      operators.Kmeans.Dim)
    val residB = Caches.persist(
      operators.IvfPqPipeline.residualsOf(bsv, coarse))
    val rsvB = Caches.persist(operators.Kmeans.subrelOf(residB,
      operators.Kmeans.SubSpaces, operators.Kmeans.SubDim))
    val book = operators.Kmeans.lloydBook(rsvB, PqCodeK, PqRounds,
      operators.Kmeans.SubDim)
    val rebuilt = operators.IvfPqPipeline.serve(queries,
      operators.IvfPqPipeline.appendCodes(whole, coarse, book),
      coarse, book)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(appended == rebuilt,
      "one-sided append diverged from the same-books full re-encode")
    // the appended index is live: delta vectors are servable (at
    // least one delta doc lands in some query's top-k on the fixture)
    assert(appended.exists(_._3 % DeltaMod == DeltaMod - 1),
      "no delta vector surfaced in any served top-k — the append " +
        "path may be dead")
    Seq(bsv, residB, rsvB, n).foreach(Caches.release)
  }

  test("q229: a 5-batch MemoryStream split of the delta encodes the " +
      "IDENTICAL code set as the one-shot batch append — batch " +
      "boundaries are invisible to the index") {
    import operators.IvfPqPipeline._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir)
      .select(col("vec_id"), col("qv")))
    n.count()
    val idx = operators.IvfPqPipeline.buildBaseIndex(n)
    val deltaRows = n
      .filter(col("vec_id") >= NumQ &&
        col("vec_id") % DeltaMod === DeltaMod - 1)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(deltaRows.length >= 5, "fixture too small for a 5-batch split")

    val input = MemoryStream[(Long, Seq[Double])]
    val codedStream = operators.IvfPqPipeline.appendCodes(
      input.toDS().toDF("vec_id", "qv"), idx.coarse, idx.book)
    val name = s"idx_append_${System.nanoTime()}"
    val q = codedStream.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      deltaRows.grouped(math.max(1, deltaRows.length / 5)).foreach { g =>
        input.addData(g.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("sub"), col("code"), col("lcid"))
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
    val streamed = codeSet(spark.table(name))
    val batch = codeSet(operators.IvfPqPipeline.appendCodes(
      n.filter(col("vec_id") >= NumQ &&
        col("vec_id") % DeltaMod === DeltaMod - 1),
      idx.coarse, idx.book))
    assert(streamed.nonEmpty && streamed == batch,
      "micro-batch split changed the encoded index")
    Caches.release(n)
  }

  test("q231 rebalance: the split path is EXERCISED at every fixture " +
      "scale (non-vacuous), membership is conserved, every split " +
      "half is smaller than its hot parent, and the worst list " +
      "shrinks") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val d = s"/root/testdata/$sf"
      val rows = operators.IvfPqPipeline.rebalance(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val total = operators.Kmeans.qrel(spark, d)
        .filter(org.apache.spark.sql.functions.col("vec_id") >=
          operators.IvfPqPipeline.NumQ).count()
      // conservation: every corpus vector in exactly one output row
      assert(rows.map(_._3).sum == total, s"$sf: membership leaked")
      val splits = rows.filter(_._2 >= 0)
      assert(splits.nonEmpty,
        s"$sf: no hot list split — the rebalance path is vacuous here")
      // each hot parent produced two halves (2-means with residue
      // seeds never empties a half on organic data), each smaller
      // than the parent, and the index's worst list got smaller
      val keepMax = rows.filter(_._2 == -1).map(_._3).max
      val hotParents = splits.groupBy(_._1)
      hotParents.foreach { case (lcid, halves) =>
        assert(halves.length == 2, s"$sf list $lcid: ${halves.length} halves")
        val parent = halves.map(_._3).sum
        assert(halves.forall(_._3 < parent))
        // the parent was hot: above 9/8 of mean
        assert(parent * 8 * operators.IvfPqPipeline.RebalanceK >
          9 * total, s"$sf list $lcid was split but not hot")
      }
      val maxAfter = rows.map(_._3).max
      val maxBefore = math.max(keepMax,
        hotParents.values.map(_.map(_._3).sum).max)
      assert(maxAfter < maxBefore,
        s"$sf: rebalance did not shrink the worst list " +
          s"($maxBefore -> $maxAfter)")
      info(s"$sf: ${hotParents.size} hot lists split, worst " +
        s"$maxBefore -> $maxAfter of $total")
    }
  }

  test("q228 append cost receipt: the delta encode is a pure narrow " +
      "map — ZERO shuffled data rows at any corpus size (only the " +
      "probe count's partial rows cross an exchange)") {
    import operators.IvfPqPipeline._
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val n = Caches.persist(operators.Kmeans.qrel(spark, sf01)
      .select(col("vec_id"), col("qv")))
    n.count()
    val base = n.filter(col("vec_id") >= NumQ &&
      col("vec_id") % DeltaMod =!= DeltaMod - 1)
    val delta = n.filter(col("vec_id") >= NumQ &&
      col("vec_id") % DeltaMod === DeltaMod - 1)
    val whole = n.filter(col("vec_id") >= NumQ)
    val deltaRows = delta.count()
    val wholeRows = whole.count()
    // frozen books (values irrelevant to the cost shape — seeds do)
    val bsv = operators.Kmeans.subrelOf(base, 1, operators.Kmeans.Dim)
    val coarse = operators.Kmeans.initBook(bsv, CoarseK)
    val book = operators.Kmeans.initBook(operators.Kmeans.subrelOf(
      operators.IvfPqPipeline.residualsOf(bsv, coarse),
      operators.Kmeans.SubSpaces, operators.Kmeans.SubDim), PqCodeK)
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    // at spec scale AQE broadcasts the vec_id-keyed join and nothing
    // measurable shuffles; force the exchange so the meter reads the
    // join's keyed row volume (the quantity that scales at 100 TB)
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val bc0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shuffleOf(slice: org.apache.spark.sql.DataFrame): Long = {
        val (got, r) = clock.measure(operators.IvfPqPipeline
          .appendCodes(slice, coarse, book).count())
        assert(got > 0, "vacuous append measurement")
        r.shuffleRecords
      }
      // the r18 join-free append spelling (assign → residual →
      // explode → argmin, all in-row) shuffles NO data rows at all —
      // even with broadcast joins disabled. The only exchanged
      // records are the count() probe's per-task partials, bounded by
      // partition count: cost is a narrow scan of the delta, period.
      val partitionBound = 2L *
        spark.conf.get("spark.sql.shuffle.partitions").toLong + 64
      val deltaShuffle = shuffleOf(delta)
      val fullShuffle = shuffleOf(whole)
      assert(deltaShuffle <= partitionBound,
        s"append shuffled $deltaShuffle records (delta " +
          s"$deltaRows rows) — the encode chain has grown an " +
          "exchange; it must stay a narrow per-row map")
      assert(fullShuffle <= partitionBound,
        s"full re-encode shuffled $fullShuffle records " +
          s"(corpus $wholeRows rows) — same narrow-map contract")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc0)
      spark.sparkContext.removeSparkListener(clock)
    }
    Caches.release(n)
  }

  test("q233 tombstone compaction: ONLY affected list dirs are " +
      "rewritten (others byte-stable), served top-k equals the " +
      "runtime anti-join delete AND a survivors re-encode, no " +
      "tombstone survives, and a crash-window rerun converges") {
    import operators.IvfPqPipeline._
    import org.apache.spark.sql.functions._
    val layout = java.nio.file.Files
      .createTempDirectory("graft_tomb_spec").toString + "/index"
    // replicate the q233 body stepwise so the layout state BETWEEN
    // write and compact is observable
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir)
      .select(col("vec_id"), col("qv")))
    n.count()
    val queries = n.filter(col("vec_id") < NumQ)
    val idx = operators.IvfPqPipeline.buildFullIndex(n)
    sources.LakehouseSink.writePartitioned(idx.codesBase, layout,
      partitionCols = Seq("lcid"), clusterCols = Seq("vec_id"))
    def files(): Map[String, (Long, Long)] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
          c =>
            if (c.isDirectory) walk(c)
            else if (c.getName.endsWith(".parquet")) Seq(c) else Nil
        }
      walk(new java.io.File(layout))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    val before = files()
    val tombRows = n.filter(col("vec_id") >= NumQ &&
      col("vec_id") % TombMod === TombMod - 1)
    val tombIds = tombRows.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty, "no tombstones at this scale — vacuous")
    val affected = operators.IvfPqPipeline.residualsOf(
        operators.Kmeans.subrelOf(tombRows, 1, operators.Kmeans.Dim),
        idx.coarse)
      .select(col("lcid")).distinct().collect().map(_.getLong(0)).toSeq
    val report = operators.IvfPqPipeline.compactTombstones(spark,
      layout, tombRows.select(col("vec_id")), affected)
    assert(report.listsRewritten == affected.size)
    assert(report.codesDropped ==
      tombIds.size.toLong * operators.Kmeans.SubSpaces,
      s"dropped ${report.codesDropped} code rows for ${tombIds.size} " +
        "tombstones — expected one per subspace")
    // untouched-list receipt: every file outside an affected dir is
    // bitwise stable (same path, mtime, size) — compaction cost is
    // ∝ affected lists, never the index
    val after = files()
    val affectedDirs = affected.map(l => s"lcid=$l").toSet
    before.foreach { case (p, stamp) =>
      val inAffected = affectedDirs.exists(d => p.contains(s"/$d/"))
      if (!inAffected)
        assert(after.get(p).contains(stamp), s"untouched file " +
          s"changed: $p")
    }
    // no tombstoned code survives; all survivor codes intact
    val live = spark.read.parquet(layout)
    assert(live.filter(col("vec_id").isin(tombIds.toSeq: _*))
      .count() == 0)
    val wantLive = idx.codesBase
      .filter(col("vec_id") % TombMod =!= TombMod - 1).count()
    assert(live.count() == wantLive)
    // served equivalences: compacted layout ≡ runtime anti-join
    // delete ≡ survivors re-encode under the frozen books
    def served(codes: org.apache.spark.sql.DataFrame) =
      operators.IvfPqPipeline.serve(queries, codes, idx.coarse,
        idx.book).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val fromLayout = served(live
      .withColumn("lcid", col("lcid").cast("long")))
    val runtimeDelete = served(idx.codesBase
      .filter(col("vec_id") % TombMod =!= TombMod - 1))
    val reencoded = served(operators.IvfPqPipeline.appendCodes(
      n.filter(col("vec_id") >= NumQ &&
        col("vec_id") % TombMod =!= TombMod - 1),
      idx.coarse, idx.book))
    assert(fromLayout == runtimeDelete,
      "compacted layout diverged from the runtime anti-join delete")
    assert(fromLayout == reencoded,
      "compacted layout diverged from a survivors re-encode")
    assert(fromLayout.forall(t => !tombIds.contains(t._3)),
      "a deleted vector surfaced in a served top-k")
    // crash-window rerun convergence: duplicate one affected dir's
    // keeper file (the state after new-files-in, before old-delete),
    // rerun the same compaction — distinct() collapses the dupes
    val someDir = new java.io.File(layout, s"lcid=${affected.min}")
    val keeperFile = someDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(keeperFile.toPath,
      new java.io.File(someDir, "dup-" + keeperFile.getName).toPath)
    spark.catalog.refreshByPath(layout)
    assert(spark.read.parquet(layout).count() > wantLive,
      "crash simulation produced no duplication — vacuous")
    operators.IvfPqPipeline.compactTombstones(spark, layout,
      tombRows.select(col("vec_id")), affected)
    val again = spark.read.parquet(layout)
    assert(again.count() == wantLive)
    assert(again.groupBy(col("vec_id"), col("sub")).count()
      .filter(col("count") > 1).count() == 0,
      "rerun left duplicated codes")
    Caches.release(n)
  }

  test("q233 compaction runs O(1) Spark jobs regardless of how many " +
      "lists the delete touches (StageClock receipt — the q232 " +
      "discipline; r19 VERDICT ask #1)") {
    import operators.IvfPqPipeline._
    import org.apache.spark.sql.functions._
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir)
      .select(col("vec_id"), col("qv")))
    n.count()
    val idx = operators.IvfPqPipeline.buildFullIndex(n)
    val codes = Caches.persist(idx.codesBase)
    codes.count()
    val tombRows = n.filter(col("vec_id") >= NumQ &&
      col("vec_id") % TombMod === TombMod - 1)
    // tombstone → list assignment, reused to build a one-list delete
    // and the full delete
    val assigned = Caches.persist(operators.IvfPqPipeline.residualsOf(
        operators.Kmeans.subrelOf(tombRows, 1, operators.Kmeans.Dim),
        idx.coarse)
      .select(col("vec_id"), col("lcid")))
    assigned.count()
    val allAffected = assigned.select(col("lcid")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(allAffected.size >= 2,
      "fixture delete touches <2 lists — the receipt would be vacuous")
    val oneList = allAffected.head
    def freshLayout(): String = {
      val l = java.nio.file.Files
        .createTempDirectory("graft_tomb_jobs").toString + "/index"
      sources.LakehouseSink.writePartitioned(codes, l,
        partitionCols = Seq("lcid"), clusterCols = Seq("vec_id"))
      l
    }
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      def jobsOf(tombs: org.apache.spark.sql.DataFrame,
          affected: Seq[Long]): Int = {
        val layout = freshLayout()
        clock.measure(operators.IvfPqPipeline.compactTombstones(spark,
          layout, tombs, affected))._2.jobs
      }
      val jobsOne = jobsOf(
        assigned.filter(col("lcid") === oneList).select(col("vec_id")),
        Seq(oneList))
      val jobsAll = jobsOf(tombRows.select(col("vec_id")), allAffected)
      // the receipt: job count must NOT grow with |affected| — the
      // old per-list foreach ran ~3 jobs PER list, so equality here
      // (±1 for AQE stage-materialization jitter) is exactly the
      // rounds-∝-work loop being gone
      assert(jobsAll <= jobsOne + 1,
        s"compaction ran $jobsAll jobs for ${allAffected.size} " +
          s"affected lists vs $jobsOne jobs for 1 — job count is " +
          "growing with the affected set again")
      assert(jobsAll <= 10,
        s"compaction ran $jobsAll jobs — expected a small constant " +
          "(union read + counts + one staging write)")
    } finally {
      spark.sparkContext.removeSparkListener(clock)
      Seq(assigned, codes, n).foreach(Caches.release)
    }
  }
}
