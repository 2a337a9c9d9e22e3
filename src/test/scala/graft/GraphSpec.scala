package graft

import org.scalatest.funsuite.AnyFunSuite

/** q208 PageRank: the distributed integer recurrence must equal a
  * serial driver-side reference fold exactly (the oracle hash proves
  * Spark == DuckDB; this proves both == the recurrence as written),
  * plus the mass-conservation bound integer damping guarantees.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val ew = operators.Graph.edges(spark, dir)
    .select("src", "dst", "w", "wsum").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  /** Serial reference: the same recurrence over plain Maps. */
  private def refRanks: Map[Long, Long] = {
    val nodes = ew.map(_._2).distinct.sorted
    val n = nodes.length.toLong
    var r = nodes.map(_ -> operators.Graph.RankScale / n).toMap
    for (_ <- 1 to operators.Graph.Iterations) {
      val ctb = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      ew.foreach { case (src, dst, w, wsum) =>
        ctb(dst) += r(src) * w / wsum
      }
      r = nodes.map(v => v -> (150000000L / n + 85L * ctb(v) / 100L))
        .toMap
    }
    r
  }

  test("distributed ranks equal the serial integer reference exactly") {
    val got = operators.Graph.ranks(
      operators.Graph.edges(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = refRanks
    assert(got.keySet == ref.keySet)
    val diff = got.collect { case (k, v) if ref(k) != v => k }
    assert(diff.isEmpty, s"ranks diverge at nodes ${diff.take(5)}")
  }

  test("rank mass is conserved up to integer-division leakage") {
    val ranks = refRanks.values.toSeq
    val n = ranks.length.toLong
    val total = ranks.sum
    // each update floors once per node (teleport) + once per in-edge
    // contribution + once per damp — mass only leaks DOWN, and by
    // less than one unit per floor per iteration
    assert(total <= operators.Graph.RankScale)
    assert(total >= operators.Graph.RankScale -
      operators.Graph.Iterations * (2 * n + ew.length),
      s"leaked more than the floor budget: $total")
  }

  test("every rank holds the teleport floor") {
    val n = refRanks.size.toLong
    val floor = 150000000L / n
    assert(refRanks.values.forall(_ >= floor))
  }

  test("the convergence arm stops on an exact revisited state " +
      "(f(f(r)) = r) and holds the same floor/mass bounds") {
    val ewDf = operators.Graph.edges(spark, dir)
    ewDf.count() // materialize the edge cache before the baseline
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val regBefore = Caches.registered
    val (r, rounds) = operators.Graph.ranksToConvergence(ewDf)
    // registry hygiene too: the per-call nodes cache must leave the
    // Caches registry on release, not just drop its blocks (a bare
    // unpersist leaks one dead DataFrame entry per call)
    assert(Caches.registered <= regBefore,
      s"registry grew ${Caches.registered - regBefore} entries")
    assert(rounds < 200, s"no revisited state in $rounds rounds")
    // storage hygiene: ~rounds localCheckpoints ran, but only the
    // RETURNED vector's block may remain — superseded rounds, the
    // final prev, and the per-call nodes cache are all released
    // (blocking=false: poll briefly for the async drops)
    val deadline = System.nanoTime() + 10000000000L
    def leaked = spark.sparkContext.getPersistentRDDs.size - rddsBefore
    while (leaked > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked <= 1,
      s"convergence arm left $leaked cached RDDs beyond the result")
    val got = r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val n = got.size.toLong
    info(s"converged in $rounds rounds over $n nodes")
    assert(got.values.forall(_ >= 150000000L / n))
    assert(got.values.sum <= operators.Graph.RankScale)
    // exact period invariance: applying the damped update TWICE
    // returns the same vector (covers both the fixed-point and the
    // bipartite 2-cycle stop)
    def step(cur: Map[Long, Long]): Map[Long, Long] = {
      val ctb = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      ew.foreach { case (src, dst, w, wsum) =>
        ctb(dst) += cur(src) * w / wsum
      }
      cur.keys.map(v => v -> (150000000L / n + 85L * ctb(v) / 100L))
        .toMap
    }
    assert(step(step(got)) == got,
      "claimed stop state is not period-1 or period-2")
  }

  test("trustrank equals the serial seeded fold; trust flows only " +
      "from seeds; seeds hold the teleport floor") {
    val got = SparkEntry.queries("q212_trustrank")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("s_suppkey") ->
        (r.getAs[Long]("trust_ppb"), r.getAs[Int]("is_seed"))).toMap
    // serial reference over the same edges
    val nodes = ew.map(_._2).distinct
    val seeds = nodes.filter(n =>
      n % 2 == 1 && (n / 2) % operators.Graph.TrustSeedMod == 0)
    val ns = seeds.length.toLong
    def base(v: Long): Long =
      if (v % 2 == 1 && (v / 2) % operators.Graph.TrustSeedMod == 0)
        150000000L / ns
      else 0L
    var t = nodes.map(v => v ->
      (if (base(v) > 0) operators.Graph.RankScale / ns else 0L)).toMap
    for (_ <- 1 to operators.Graph.Iterations) {
      val ctb = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      ew.foreach { case (src, dst, w, wsum) =>
        ctb(dst) += t(src) * w / wsum
      }
      t = nodes.map(v => v -> (base(v) + 85L * ctb(v) / 100L)).toMap
    }
    val refSupp = t.collect {
      case (v, r) if v % 2 == 1 && r > 0 => (v / 2) -> r
    }
    assert(got.view.mapValues(_._1).toMap == refSupp)
    // every seed holds its teleport floor; is_seed flags agree
    got.foreach { case (k, (trust, isSeed)) =>
      assert((isSeed == 1) ==
        (k % operators.Graph.TrustSeedMod == 0))
      if (isSeed == 1) assert(trust >= 150000000L / ns)
    }
    // trust mass is bounded by the scale (div-only leakage)
    assert(t.values.sum <= operators.Graph.RankScale)
    // non-seeds scoring > 0 must exist (trust actually propagates)
    assert(got.exists { case (_, (tr, s)) => s == 0 && tr > 0 })
  }

  test("label propagation equals the serial LPA reference; seeds " +
      "never move; coverage grows monotonically with rounds") {
    val sf01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q211_label_propagation")(
      spark, sf01).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    // serial reference over the exact mutual-kNN edges
    val edges = SparkEntry.queries("q210_knn_graph")(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj: Map[Long, Seq[Long]] = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val seedLab = Tables.load(spark, sf01, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val seedMod = operators.Graph.SeedMod
    var l: Map[Long, Option[Int]] = seedLab.map { case (n, lb) =>
      n -> (if (n % seedMod == 0) Some(lb) else None)
    }
    val coverage = scala.collection.mutable.ArrayBuffer(
      l.values.count(_.isDefined))
    for (_ <- 1 to operators.Graph.PropRounds) {
      val next = l.map { case (n, cur) =>
        if (n % seedMod == 0) n -> cur
        else {
          val votes = adj.getOrElse(n, Seq.empty[Long])
            .flatMap(l(_)).groupBy(x => x)
            .map { case (lb, v) => (lb, v.size) }
          if (votes.isEmpty) n -> cur
          else n -> Some(votes.toSeq
            .sortBy { case (lb, c) => (-c, lb) }.head._1)
        }
      }
      l = next
      coverage += l.values.count(_.isDefined)
    }
    assert(got == l, "distributed LPA diverges from serial reference")
    // seeds clamped
    seedLab.foreach { case (n, lb) =>
      if (n % seedMod == 0) assert(got(n).contains(lb))
    }
    // labels only ever spread (a labeled node never loses its label)
    assert(coverage.sliding(2).forall(w => w(1) >= w(0)),
      s"coverage shrank: $coverage")
    assert(coverage.last > coverage.head, "propagation never spread")
    info(s"coverage by round: ${coverage.mkString(" -> ")}")
  }

  test("shuffle volume grows ~linearly with the fact table " +
      "(edges shuffle once; iterations move rank rows)") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val sh = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
        .map { d =>
          val s = clock.measure(SparkEntry.queries(
            "q208_supplier_pagerank")(spark, d).collect())._2.shuffleRecords
          Caches.clear(spark)
          s
        }
      val exp = math.log(sh(1).toDouble / sh(0)) / math.log(10.0)
      info(f"q208 shuffle=${sh(0)}/${sh(1)} exp=$exp%.2f")
      assert(exp < 1.3,
        s"pagerank shuffle volume superlinear: ${sh(0)} -> ${sh(1)}")
    } finally spark.sparkContext.removeSparkListener(clock)
  }
}
