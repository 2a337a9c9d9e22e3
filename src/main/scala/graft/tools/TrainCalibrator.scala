package graft.tools

import graft.{Fixtures, Sessions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Trains an ISOTONIC CALIBRATOR for the distilled quality classifier
  * and commits `fixtures/score_calibrator.parquet` (lo_mu, cal_mu,
  * pos, n) — the train-offline/apply-in-plan contract of
  * TrainQualityClassifier.
  *
  * Why: the classifier's NB log-odds RANK documents well (q166), but
  * the raw score is not a probability — a mix owner who wants "keep
  * everything above 80% quality-probability" needs the score mapped
  * onto the teacher's empirical pass rate. Isotonic regression via
  * pool-adjacent-violators (Zadrozny & Elkan, KDD'02 "Transforming
  * classifier scores into accurate multiclass probability estimates")
  * is the standard non-parametric fix: sort by score, pool adjacent
  * blocks until block means are monotone, and the fitted function is
  * a STEP FUNCTION — which is exactly what keeps the apply side
  * engine-exact: each step is (lo_mu, cal_mu = ⌊10⁶·pos/n⌋), both
  * BIGINT, and assignment is "the block with the largest lo_mu ≤
  * score", pure integer comparison. No float exists anywhere in
  * train or apply (scores are already µunit integers; the pooled
  * means are exact integer ratios; violation checks cross-multiply).
  *
  * The first block's lo_mu is lowered to [[SentinelLo]] so held-out
  * scores below the training minimum still calibrate (they take the
  * lowest block, the standard isotonic extrapolation).
  */
object TrainCalibrator {

  val SentinelLo: Long = -1000000000000L // far below any µunit logit

  /** PAV over (score_mu, positive) pairs: returns blocks
    * (lo_mu, pos, n) with strictly increasing pooled means.
    * Exposed for the spec's independent checks.
    */
  def pav(pairs: Seq[(Long, Boolean)]): Seq[(Long, Long, Long)] = {
    // pool equal scores first (PAV operates on distinct x)
    val grouped = pairs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, ps) =>
        (s, ps.count(_._2).toLong, ps.length.toLong)
      }
    val st = scala.collection.mutable.Stack.empty[(Long, Long, Long)]
    grouped.foreach { g =>
      var cur = g
      // merge while the previous block's mean is ≥ the current's
      // (cross-multiplied exact longs). Merging EQUAL means too keeps
      // the fitted step function identical while emitting the
      // canonical minimal block table (strictly increasing means).
      while (st.nonEmpty &&
          st.top._2 * cur._3 >= cur._2 * st.top._3) {
        val p = st.pop()
        cur = (p._1, p._2 + cur._2, p._3 + cur._3)
      }
      st.push(cur)
    }
    st.toSeq.reverse
  }

  /** Blocks from the teacher-labeled corpus at `dir` — factored out so
    * the spec can re-derive the committed fixture byte-for-byte.
    */
  def train(spark: SparkSession, dir: String): Seq[(Long, Long, Long)] = {
    val pairs = graft.operators.TextAnalysis.gopherDoc(spark, dir)
      .select(
        graft.functions.VectorOps.hashedLogit(
          graft.operators.Classifier.featureText,
          Fixtures.qualityClassifier(spark)).as("s_mu"),
        col("pass"))
      .collect()
      .map(r => (r.getAs[Long]("s_mu"), r.getAs[Boolean]("pass"))).toSeq
    val blocks = pav(pairs)
    (SentinelLo, blocks.head._2, blocks.head._3) +: blocks.tail
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.build("graft-train-calibrator",
      coresOverride = Some("4"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val blocks = train(spark, srcDir)
    val rows = blocks.map { case (lo, pos, n) =>
      (lo, pos * 1000000L / n, pos, n)
    }.toDF("lo_mu", "cal_mu", "pos", "n")

    val tmp = Files.createTempDirectory("graft-fix").toString
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .head
    Files.move(Paths.get(part),
      Paths.get(Fixtures.scoreCalibratorPath),
      StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote ${Fixtures.scoreCalibratorPath} " +
      s"(${blocks.length} isotonic blocks)")
    spark.stop()
  }
}
