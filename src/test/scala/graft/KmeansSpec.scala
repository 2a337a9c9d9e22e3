package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-plan Lloyd training invariants (q221): partition-invariant
  * deterministic seeds and assignments, a complete single-assignment
  * partition of the corpus, genuine centroid movement across rounds,
  * and non-decreasing µcos mass (training improves the objective it
  * optimizes — on the integer-rounded fold the mean update can
  * in principle dither, so the pin is the measured fixture run).
  */
class KmeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val K = operators.Kmeans.K

  test("seeds and final ledger are invariant under repartitioning") {
    val n = operators.Kmeans.qrel(spark, dir)
    val a = operators.Kmeans.initCents(n)
    val b = operators.Kmeans.initCents(n.repartition(11))
    assert(a.map(_.cid) == b.map(_.cid))
    assert(a.zip(b).forall { case (x, y) =>
      x.cv.sameElements(y.cv) && x.cn == y.cn })
    val led = operators.Kmeans.train(spark, dir).collect().toSeq
    val led2 = operators.Kmeans.train(spark, dir).collect().toSeq
    assert(led.map(_.toSeq) == led2.map(_.toSeq))
  }

  test("a training round's exchange is codebook-sized, not " +
      "corpus-sized: shuffle records bounded by tasks·K·dim") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val parts = 4
      val n = operators.Kmeans.qrel(spark, "/root/testdata/sf0.01")
        .repartition(parts).transform(Caches.persist)
      n.count()
      val init = operators.Kmeans.initCents(n)
      val recs = clock.measure(operators.Kmeans.updated(
        operators.Kmeans.withAssignment(n, init)))._2.shuffleRecords
      Caches.release(n)
      // partial agg emits ≤ K·Dim rows per task; 2x slack for the
      // final-merge side of the exchange
      val bound = 2L * parts * K * operators.Kmeans.Dim
      assert(recs > 0 && recs <= bound,
        s"round shuffled $recs records, bound $bound — partial " +
          "aggregation is not combining map-side")
    } finally {
      spark.sparkContext.removeSparkListener(clock)
    }
  }

  test("the final ledger partitions the corpus: every vector in " +
      "exactly one cluster, every cluster organically populated") {
    val n = operators.Kmeans.qrel(spark, dir)
    val total = n.count()
    val led = operators.Kmeans.train(spark, dir).collect().toSeq
    assert(led.map(_.getLong(1)).sum == total)
    assert(led.length == K)
    assert(led.forall(_.getLong(1) > 0))
    assert(led.map(_.getLong(0)).sorted == (0L until K.toLong))
  }

  test("the convergence arm reaches an exact integer fixed point: " +
      "one more update leaves every centroid component identical") {
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir))
    n.count()
    val (cents, rounds) = operators.Kmeans.trainToConvergence(n)
    assert(rounds < 64, s"no fixed point within 64 rounds")
    val again = operators.Kmeans.updated(
      operators.Kmeans.withAssignment(n, cents))
    Caches.release(n)
    assert(cents.length == again.length)
    assert(cents.zip(again).forall { case (a, b) =>
      a.cid == b.cid && a.cv.sameElements(b.cv) },
      s"state at round $rounds is not a fixed point")
  }

  test("q223 PQ: every (vector, subspace) assigned once, Lloyd " +
      "monotonically shrinks the integer L2 objective, codebook is " +
      "partition-invariant") {
    val sv = Caches.persist(operators.Kmeans.subrel(spark, dir))
    val rows = sv.count()
    val vecs = operators.Kmeans.qrel(spark, dir).count()
    assert(rows == vecs * operators.Kmeans.SubSpaces)
    val init = operators.Kmeans.initBook(sv)
    assert(init.length == operators.Kmeans.SubSpaces * operators.Kmeans.PqK)
    val init2 = operators.Kmeans.initBook(sv.repartition(9))
    assert(init.zip(init2).forall { case (a, b) =>
      a.sub == b.sub && a.cid == b.cid && a.cv.sameElements(b.cv) })
    def obj(book: Seq[operators.Kmeans.SubCent]): Long =
      operators.Kmeans.withPqAssignment(sv, book)
        .agg(sum(col("dist"))).collect()(0).getLong(0)
    val d0 = obj(init)
    val b1 = operators.Kmeans.updatedBook(
      operators.Kmeans.withPqAssignment(sv, init))
    val d1 = obj(b1)
    val b2 = operators.Kmeans.updatedBook(
      operators.Kmeans.withPqAssignment(sv, b1))
    val d2 = obj(b2)
    Caches.release(sv)
    // exact-L2 Lloyd is monotone up to the floor rounding of the mean
    // (≤ SubDim per centroid) — require genuine improvement anyway
    assert(d1 < d0, s"round 1 did not improve: $d0 -> $d1")
    assert(d2 <= d1, s"round 2 degraded: $d1 -> $d2")
    val led = operators.Kmeans.trainPq(spark, dir).collect().toSeq
    assert(led.map(_.getLong(2)).sum == rows)
    assert(led.forall(_.getLong(3) >= 0))
  }

  import operators.Kmeans.{Cent, SubCent}
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  // µcos = floor(dot/(‖q‖·‖c‖)·10⁶ + 0.5), argmax ties to smaller cid
  private def argmaxUcos(q: Array[Double], qn: Double,
      cents: Seq[Cent]): (Long, Long) =
    cents.map(c => (math.floor(dot(q, c.cv) / (qn * c.cn) *
        1000000.0 + 0.5).toLong, c.cid))
      .minBy { case (u, cid) => (-u, cid) }
  // squared L2 = ‖s‖² − 2⟨s,c⟩ + ‖c‖², argmin ties to smaller cid
  private def argminL2(sv: Array[Double], sub: Int,
      book: Seq[SubCent]): (Long, Long) =
    book.filter(_.sub == sub)
      .map(c => ((dot(sv, sv) - 2.0 * dot(sv, c.cv) +
        dot(c.cv, c.cv)).toLong, c.cid))
      .min

  /** (vec_id, cid, µcos) of `withAssignment` must equal the definition
    * on every book.
    */
  private def checkCoarse(n: org.apache.spark.sql.DataFrame,
      books: Seq[Seq[Cent]]): Unit = {
    val vecs = n.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).toArray, r.getDouble(2)))
    books.foreach { cents =>
      val got = operators.Kmeans.withAssignment(n, cents)
        .select(col("vec_id"), col("cid"), col("ucos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = vecs.map { case (id, q, qn) =>
        val (u, cid) = argmaxUcos(q, qn, cents)
        (id, cid, u)
      }.toSet
      assert(got.size == want.size && (got diff want).isEmpty,
        s"coarse assignment diverged on a ${cents.size}-centroid book: " +
          (got diff want).take(3))
    }
  }

  /** (vec_id, sub, cid, dist) of `withPqAssignment` must equal the
    * definition on every book.
    */
  private def checkPq(sv: org.apache.spark.sql.DataFrame,
      books: Seq[Seq[SubCent]]): Unit = {
    val subs = sv.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    books.foreach { book =>
      val got = operators.Kmeans.withPqAssignment(sv, book)
        .select(col("vec_id"), col("sub"), col("cid"), col("dist"))
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = subs.map { case (id, sub, x) =>
        val (d, cid) = argminL2(x, sub, book)
        (id, sub, cid, d)
      }.toSet
      assert(got.size == want.size && (got diff want).isEmpty,
        s"PQ assignment diverged on a ${book.size}-codeword book: " +
          (got diff want).take(3))
    }
  }

  test("coarse µcos and PQ L2 assignment equal a plain-Scala argmax " +
      "and argmin written from the definitions (seed, post-update, " +
      "sparse-cid and tied books)") {
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir))
    val init = operators.Kmeans.initCents(n)
    val c1 = operators.Kmeans.updated(
      operators.Kmeans.withAssignment(n, init))
    // empty-cluster drop leaves a sparse-cid codebook
    val sparse = c1.filterNot(c => c.cid == 2 || c.cid == 5)
    // a duplicated centroid ties every µcos it scores: the smaller cid
    // must win
    val tied = c1 :+ c1.head.copy(cid = 99L)
    checkCoarse(n, Seq(init, c1, sparse, tied))
    Caches.release(n)

    val sv = Caches.persist(operators.Kmeans.subrel(spark, dir))
    val book0 = operators.Kmeans.initBook(sv)
    val book1 = operators.Kmeans.updatedBook(
      operators.Kmeans.withPqAssignment(sv, book0))
    val sparseBook = book1.filterNot(c => c.sub == 1 && c.cid == 2)
    val tiedBook = book1 :+ book1.head.copy(cid = 99L)
    checkPq(sv, Seq(book0, book1, sparseBook, tiedBook))
    Caches.release(sv)
  }

  test("K=48 coarse and 32-codeword PQ books assign as the definitions " +
      "say, train a Lloyd round end-to-end, and partition the corpus") {
    val bigK = 48
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir))
    val total = n.count()
    val cents = operators.Kmeans.initCents(n, bigK)
    assert(cents.length == bigK)
    checkCoarse(n, Seq(cents))
    // a Lloyd round through the public entry stays a valid partition
    val c1 = operators.Kmeans.updated(
      operators.Kmeans.withAssignment(n, cents))
    val led = operators.Kmeans.withAssignment(n, c1)
      .groupBy(col("cid")).agg(count(lit(1)).as("m")).collect()
    assert(led.map(_.getLong(1)).sum == total)
    assert(led.forall(r => r.getLong(0) >= 0 && r.getLong(0) < bigK))
    Caches.release(n)
    val sv = Caches.persist(operators.Kmeans.subrel(spark, dir))
    val svRows = sv.count()
    val book = operators.Kmeans.initBook(sv, 32)
    checkPq(sv, Seq(book))
    assert(operators.Kmeans.withPqAssignment(sv, book).count() == svRows)
    Caches.release(sv)
  }

  test("the assignment plans carry the broadcast expressions, so no " +
      "codebook rides in the task binary") {
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir))
    Seq(operators.Kmeans.initCents(n),
        operators.Kmeans.initCents(n, 48)).foreach { cents =>
      val plan = operators.Kmeans.withAssignment(n, cents)
        .queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("centroidmuassignbcast"), plan)
    }
    Caches.release(n)
    val sv = Caches.persist(operators.Kmeans.subrel(spark, dir))
    Seq(operators.Kmeans.initBook(sv),
        operators.Kmeans.initBook(sv, 32)).foreach { book =>
      val plan = operators.Kmeans.withPqAssignment(sv, book)
        .queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("subl2argminbcast"), plan)
    }
    Caches.release(sv)
  }

  test("training moves the centroids and does not degrade the µcos " +
      "objective on the fixture") {
    val n = Caches.persist(operators.Kmeans.qrel(spark, dir))
    n.count()
    val init = operators.Kmeans.initCents(n)
    def mass(cents: Seq[operators.Kmeans.Cent]): Long =
      operators.Kmeans.withAssignment(n, cents)
        .agg(sum(col("ucos"))).collect()(0).getLong(0)
    val m0 = mass(init)
    val c1 = operators.Kmeans.updated(
      operators.Kmeans.withAssignment(n, init))
    assert(init.zip(c1).exists { case (a, b) =>
      !a.cv.sameElements(b.cv) },
      "first Lloyd update left every centroid exactly in place")
    val c2 = operators.Kmeans.updated(
      operators.Kmeans.withAssignment(n, c1))
    val m2 = mass(c2)
    Caches.release(n)
    assert(m2 > m0,
      s"µcos mass did not improve: init=$m0 after-2-updates=$m2")
  }
}
