package graft.tools

import graft.{Fixtures, Sessions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Trains the hashed-unigram quality classifier and commits
  * `fixtures/quality_classifier.parquet` (bucket, w_mu; bucket −1 =
  * bias) — the train-offline/apply-in-plan contract of TrainCentroids
  * / TrainBpe.
  *
  * This is DISTILLATION, the way production quality classifiers are
  * actually built (GPT-3's WebText filter, Brown et al. NeurIPS'20
  * §A; FineWeb-Edu's educational-quality gate): an expensive teacher
  * labels a slice, a cheap linear model learns the labels, and the
  * cheap model is what runs over the full crawl. Here the teacher is
  * the q117 Gopher-rule conjunction ([[graft.operators.TextAnalysis
  * .gopherDoc]] — the SAME helper the gate query runs, so teacher
  * labels cannot drift from the gate), and the student is Naive-Bayes
  * log-odds over hashed unigram buckets (the NB feature-weighting
  * that makes linear text classifiers strong baselines — Wang & Manning
  * ACL'12): w_b = ln((pos_b+1)/(posTot+D)) − ln((neg_b+1)/(negTot+D)),
  * bias = ln(posDocs/negDocs), Laplace-smoothed, quantized ONCE here
  * to integer µunits. Query-time scoring is pure integer arithmetic
  * ([[graft.plans.HashedLogit]]) — the ln calls below are the only
  * floats in the classifier's life.
  *
  * Training cost at scale: one token explode + one bucket-keyed agg
  * (D=4096 buckets — the reduce side is a constant 4096 rows however
  * large the labeled slice), one 1-row label count agg, and a
  * driver-side pass over the 4096 collected counts. Deterministic:
  * counts are exact integers, ln is evaluated once on the driver,
  * same bytes every run.
  */
object TrainQualityClassifier {
  /** Feature buckets. 4096 ≪ vocabulary is the authentic
    * hashing-trick regime (collisions are part of the model) and the
    * whole table is 32 KB — a plan constant, not a broadcast.
    */
  val Dim = 4096

  private def mu(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** (dense µunit weight array, µunit bias, µunit keep threshold)
    * from the teacher-labeled corpus at `dir` — factored out so the
    * spec can re-derive the committed fixture byte-for-byte. The
    * threshold is OPERATING-POINT CALIBRATION: NB log-odds rank the
    * documents well but the `> 0` cut sits far off the teacher's
    * boundary (measured: 24/216 recall at 0 vs 492/500 agreement at
    * the swept optimum), so the trainer picks the integer threshold
    * maximizing train agreement — a sort + prefix scan over the
    * labeled slice's logits (ties → smallest threshold).
    */
  def train(spark: SparkSession, dir: String): (Array[Long], Long, Long) = {
    val gd = graft.operators.TextAnalysis.gopherDoc(spark, dir)
      .select(graft.operators.Classifier.featureText.as("ftext"),
        col("pass"))
    // one explode + one bucket-keyed agg; the same md5-prefix bucket
    // definition HashedLogit evaluates in-row at query time, over the
    // same feature text (words + binned stat tokens) q166 scores
    val counts = gd
      .select(col("pass"),
        explode(split(col("ftext"), " ")).as("tk"))
      .select(col("pass"),
        (expr("CAST(conv(substring(md5(CAST(tk AS BINARY)), 1, 8), " +
          "16, 10) AS BIGINT)") % Dim).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("tot"))
      .collect()
    val pos = new Array[Long](Dim)
    val tot = new Array[Long](Dim)
    counts.foreach { r =>
      val b = r.getAs[Long]("bucket").toInt
      pos(b) = r.getAs[Long]("pos")
      tot(b) = r.getAs[Long]("tot")
    }
    val posTot = pos.sum
    val negTot = tot.sum - posTot
    val w = Array.tabulate(Dim) { b =>
      mu(math.log((pos(b) + 1.0) / (posTot + Dim)) -
        math.log((tot(b) - pos(b) + 1.0) / (negTot + Dim)))
    }
    val lab = gd.agg(
      sum(when(col("pass"), 1L).otherwise(0L)).as("p"),
      count(lit(1)).as("n")).collect()(0)
    val posDocs = lab.getAs[Long]("p")
    val negDocs = lab.getAs[Long]("n") - posDocs
    val bias = mu(math.log(posDocs.toDouble / negDocs))

    // threshold sweep: score the labeled slice with the just-trained
    // weights (the same in-row expression q166 runs) and pick the cut
    // maximizing agreement. Driver-side sort over the labeled slice —
    // at scale this is one sort + prefix scan (or a quantile sketch).
    val scored = graft.operators.TextAnalysis.gopherDoc(spark, dir)
      .select(col("pass"),
        graft.functions.VectorOps.hashedLogit(
          graft.operators.Classifier.featureText,
          graft.plans.FrozenTable.ofLongs(spark,
            graft.plans.HashedLogit.pack(w, bias, 0L), Dim + 2))
          .as("logit"))
      .collect()
      .map(r => (r.getAs[Long]("logit"), r.getAs[Boolean]("pass")))
      .sortBy(_._1)
    val totPos = scored.count(_._2).toLong
    // keep rule is `logit > thr`: walking thr up through the sorted
    // logits moves docs at exactly thr from kept to dropped
    var bestThr = scored.head._1 - 1 // keep everything
    var bestAgree = totPos // all kept: agree on every positive
    var dropped = 0L
    var droppedPos = 0L
    var i = 0
    while (i < scored.length) {
      val thr = scored(i)._1
      while (i < scored.length && scored(i)._1 == thr) {
        dropped += 1
        if (scored(i)._2) droppedPos += 1
        i += 1
      }
      // agree = kept positives + dropped negatives
      val agree = (totPos - droppedPos) + (dropped - droppedPos)
      if (agree > bestAgree) { bestAgree = agree; bestThr = thr }
    }
    (w, bias, bestThr)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.build("graft-train-quality",
      coresOverride = Some("4"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (w, bias, thr) = train(spark, srcDir)
    val rows = (Seq((-2, thr), (-1, bias)) ++
      w.indices.map(b => (b, w(b)))).toDF("bucket", "w_mu")

    val tmp = Files.createTempDirectory("graft-fix").toString
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .head
    Files.createDirectories(
      Paths.get(Fixtures.qualityClassifierPath).getParent)
    Files.move(Paths.get(part),
      Paths.get(Fixtures.qualityClassifierPath),
      StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote ${Fixtures.qualityClassifierPath} " +
      s"($Dim buckets, bias_mu=$bias, thr_mu=$thr)")
    spark.stop()
  }
}
