package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-means (Lloyd's) centroid training for the IVF ANN operator — the
  * production path for `fixtures/ivf_centroids.parquet`
  * (`Similarity.q45AnnIvf` reads whatever centroid table the fixture
  * holds; training only improves list balance/recall, the query plan is
  * unchanged).
  *
  * Spark-first shape, scale-safe at any corpus size:
  *  - assignment: broadcast the k centroids, per-row codegen'd cosine,
  *    rank-1 window on (vec_id) — one pass over the corpus, no shuffle
  *    of vectors;
  *  - update: posexplode to (cid, dim, x) and average per (cid, dim) —
  *    one keyed exchange carrying k×dim partial sums per task, never
  *    raw vectors;
  *  - the k×dim result collects to the driver (tiny) to seed the next
  *    broadcast.
  *
  * Init is the deterministic pseudo-random fixture
  * ([[GenFixtures.centroidComponent]]), so training is reproducible
  * run-to-run up to float-sum ordering in the averages.
  */
object TrainCentroids {

  /** `meanBestSim` is the quantization quality of the RETURNED
    * centroids (mean best-centroid cosine over the corpus — what the
    * IVF probe depends on; higher = tighter lists).
    */
  final case class Trained(cents: Seq[(Int, Array[Double])],
      meanBestSim: Double)

  /** One assignment pass: every vector joined (broadcast) to its
    * rank-1 centroid. Persisted by callers that run several actions
    * over it.
    */
  private def assign(vecs: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      cents.toDF("cid", "cv")
        .withColumn("cn", graft.functions.VectorOps.l2norm(col("cv"))))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    vecs.join(centDf)
      .withColumn("csim", graft.functions.VectorOps.cosine(
        col("v"), col("cv"), col("nrm"), col("cn")))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") === 1)
      .select(col("cid"), col("v"), col("csim"))
  }

  /** vecs: (vec_id, v: array<double>, nrm). `iters = 0` measures the
    * init's quality without updating.
    */
  def lloyd(vecs: DataFrame, init: Seq[(Int, Array[Double])],
      iters: Int): Trained = {
    var cents = init
    for (_ <- 1 to iters) {
      val dims = assign(vecs, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d")).agg(avg(col("x")).as("m"))
        .collect()
      val byCid = dims.groupBy(_.getInt(0))
      // empty lists keep their previous centroid (standard Lloyd's)
      cents = cents.map { case (cid, prev) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val arr = new Array[Double](prev.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            cid -> arr
          case None => cid -> prev
        }
      }
    }
    // quality of the FINAL centroids — the ones the caller writes
    val meanBest = assign(vecs, cents)
      .agg(avg(col("csim"))).collect()(0).getDouble(0)
    Trained(cents, meanBest)
  }

  def defaultInit(k: Int, dim: Int): Seq[(Int, Array[Double])] =
    (0 until k).map(c =>
      c -> (0 until dim).map(GenFixtures.centroidComponent(c, _)).toArray)

  /** Rank-boundary separation-margin guard (VERDICT r17 finding #4,
    * moved INTO generation from its spec-only home): the q210b/q188b
    * oracles re-rank centroid assignment with RAW-FLOAT cosine
    * independently in each engine, so a near-tie in any corpus
    * vector's centroid ranking at the boundaries the oracles read
    * (rank 1|2 for crnk=1 arms, rank NProbe|NProbe+1 for probe
    * membership) could order differently across engines/builds — the
    * r15 q188 defect class. Double-precision summation-order deltas
    * for 64-dim dots are ~1e-14, so a 1e-9 floor makes identical
    * cross-engine ranking a theorem. Generators call this BEFORE
    * writing a centroid fixture, so a regenerated fixture cannot
    * reintroduce the class (`KnnGraphSpec` keeps the committed-file
    * backstop). Returns the minimum margin seen; throws on violation.
    */
  def assertRankMargins(vecs: Iterable[Array[Double]],
      cents: Seq[Array[Double]], boundaries: Seq[Int],
      minMargin: Double = 1e-9, label: String = ""): Double = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    var worst = Double.MaxValue
    vecs.foreach { v =>
      val ranked = cents.map(c => cos(v, c)).sorted(
        Ordering[Double].reverse)
      boundaries.foreach { b =>
        if (b < ranked.length) {
          val m = ranked(b - 1) - ranked(b)
          if (m < worst) worst = m
        }
      }
    }
    // a gate that never saw a (vector, boundary) pair must not
    // certify anything — an empty/stale corpus or out-of-range
    // boundaries would otherwise pass vacuously (r18 review finding)
    require(worst != Double.MaxValue,
      s"$label: margin gate checked zero (vector, boundary) pairs — " +
        "empty corpus or boundaries beyond the codebook")
    require(worst > minMargin,
      s"$label: centroid-rank separation margin $worst is inside " +
        "float-noise territory — this fixture would make the " +
        "raw-float oracle ranking engine-unstable; re-seed or retrain")
    worst
  }

  /** [[assertRankMargins]] over every local SF corpus at the
    * boundaries the q210b/q188b oracles read — the generation-time
    * twin of the KnnGraphSpec margin test.
    */
  def assertRankMarginsAllSf(spark: SparkSession,
      cents: Seq[(Int, Array[Double])]): Unit = {
    val cvs = cents.sortBy(_._1).map(_._2)
    val boundaries = Seq(1, graft.operators.KnnGraph.NProbe)
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val vecs = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
      val m = assertRankMargins(vecs, cvs, boundaries, label = sf)
      println(f"[margin] $sf min rank-boundary margin: $m%.3e")
    }
  }

  /** usage: TrainCentroids [sfDir] [k] [iters] [outPath]
    *
    * Defaults regenerate the committed IVF fixture from the sf0.1
    * corpus (the largest local SF — train on the data the index
    * serves; at production scale this runs on a sample of the real
    * corpus, same plan).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else GenFixtures.NumCentroids
    val iters = if (args.length > 2) args(2).toInt else 10
    val out = if (args.length > 3) args(3)
      else graft.Fixtures.ivfCentroidsPath
    val spark = graft.Sessions.build("graft-train-centroids")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v")))
    val trained = lloyd(e, defaultInit(k, GenFixtures.Dim), iters)
    // generation-time margin gate: refuse to write a fixture that
    // would put any corpus vector's oracle centroid ranking inside
    // float-noise territory (see assertRankMargins)
    assertRankMarginsAllSf(spark, trained.cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cent").toString
    trained.cents.toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(out),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote $out (k=$k iters=$iters " +
      f"meanBestSim=${trained.meanBestSim}%.4f)")
    spark.stop()
  }
}
