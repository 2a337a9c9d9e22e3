package graft.tools

import org.apache.spark.sql.functions._

/** Measurement-only main (guide §1; r20 VERDICT ask #3): the q147
  * interactive-profile flip was justified at bench scale by the
  * scheduler floor, but its dedup exchanges carry CORPUS rows — this
  * receipt times the REAL q147 builder on a synthetic corpus orders of
  * magnitude past sf0.1 (default 1M docs vs sf0.1's ~2k) under BOTH
  * profiles, interleaved:
  *
  *   adaptive:    AQE on, session shuffle width (what correctness runs
  *                and the 100 TB posture use)
  *   interactive: AQE off, 8 shuffle partitions (what Bench times
  *                lowLatency entries with)
  *
  * Every sample is one unprepared `graft.Measure` run under the arm's
  * profile (`Sessions.setProfile` on a copy of q147's entry with
  * `lowLatency` set per arm). It drops the registered caches first, so
  * each run pays the full pipeline — gate, content-keyed dedup, shingle
  * explode + bloom decontamination, α-budget, selection, packing —
  * exactly the corpus-exchange work the flip's critics point at. The corpus is
  * deterministic (hash-derived words, ~10% planted exact duplicates,
  * 5 langs), written once per process under Scratch.
  *
  * usage: runMain graft.tools.Q147ScaleReceipt [nDocs] [iters]
  */
object Q147ScaleReceipt {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 1000000L
    val iters = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Sessions.build("graft-q147-scale")
    spark.sparkContext.setLogLevel("ERROR")

    // deterministic synthetic documents: 20–80 words from a 1000-word
    // vocab; ~10% of rows (ids ≡ 0 mod 10) re-emit one of 100 planted
    // contents (id mod 1000 ∈ {0,10,…,990} — the exact-dup
    // population, ~nDocs/1000 copies each), lang varies ACROSS
    // duplicate rows so the min_by(lang) payload is exercised.
    // Premise of the A/B: both arms run through Bench's own
    // graft.Measure, so the 'adaptive' arm gets this session's base
    // width, built from Sessions.cpus like Bench's (SPARK_GRAFT_CPUS,
    // else every processor); set SPARK_GRAFT_CPUS to the tier you mean
    // to measure.
    val dir = graft.Scratch.layout("q147scale", s"n$nDocs", "sf")
    val docsPath = s"$dir/documents.parquet"
    spark.range(nDocs)
      .withColumn("cid",
        when(col("id") % 10 === 0, pmod(col("id"), lit(1000L)))
          .otherwise(col("id")))
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), (lit(20) + pmod(hash(col("cid")), lit(61)))),
          i => concat(lit("w"), pmod(hash(col("cid"), i), lit(1000)))))
          .as("text"),
        concat(lit("l"), pmod(col("id"), lit(5))).as("lang"),
        lit("synth").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(docsPath)

    val defQ147 = graft.SparkEntry.defs
      .find(_.name == "q147_training_pipeline").get
    val measure = new graft.Measure(spark, dir)

    // every sample drops the registered caches and pays the pipeline
    def run(interactive: Boolean): (Double, Double, Int, Long) = {
      val r = measure.run(defQ147.copy(lowLatency = interactive))
      (r.wallMs / 1e3, r.build.taskSec + r.exec.taskSec,
        r.build.jobs + r.exec.jobs, r.rows)
    }

    // one warm-up each (codegen/JIT), then interleaved samples
    run(interactive = false); run(interactive = true)
    val a = (1 to iters).map(_ => run(interactive = false))
    val b = (1 to iters).map(_ => run(interactive = true))
    require(a.map(_._4).distinct.size == 1 &&
      a.map(_._4).distinct == b.map(_._4).distinct,
      "profiles disagree on row count!")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    println(f"n_docs=$nDocs rows=${a.head._4} iters=$iters")
    println(f"adaptive    (AQE on, width ${math.min(
      graft.Sessions.cpus.toInt, 16)}): wall_med=${med(a.map(_._1))}%.3f" +
      f" task_med=${med(a.map(_._2))}%.3f jobs=${a.head._3} " +
      s"walls=${a.map(x => f"${x._1}%.2f").mkString(",")}")
    println(f"interactive (AQE off, width 8):  wall_med=${med(
      b.map(_._1))}%.3f task_med=${med(b.map(_._2))}%.3f " +
      f"jobs=${b.head._3} " +
      s"walls=${b.map(x => f"${x._1}%.2f").mkString(",")}")
    spark.stop()
  }
}
