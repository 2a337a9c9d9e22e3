package graft

/** Plan-inspection main: prints the formatted physical plan for the
  * named queries (or all bench queries) at the given sf dir. Used to
  * audit pushdown/broadcast/shuffle shape per SURVEY.md's 100 TB
  * posture; not part of the driver contract.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.benchDefs.map(_.name)
    // SPARK_GRAFT_EXPLAIN_PROFILE=bench mirrors Bench.setProfile per
    // query (lowLatency ⇒ AQE off + 8 shuffle partitions), so the
    // printed plan is the one the bench actually executes — the
    // default (unset) keeps the historical AQE-on/4-partition session
    // PLANS.md was audited under — the engine's own session defaults
    // (graft_* functions, scan packing) on 4 cores.
    val benchProfile = sys.env.get("SPARK_GRAFT_EXPLAIN_PROFILE")
      .exists(_.equalsIgnoreCase("bench"))
    val spark = Sessions.build("graft-explain", Some("4"))
    spark.sparkContext.setLogLevel("ERROR")
    val aqeDefault = spark.conf.get("spark.sql.adaptive.enabled")
    val shuffleDefault = spark.conf.get("spark.sql.shuffle.partitions")
    val defByName = SparkEntry.defs.map(d => d.name -> d).toMap
    names.foreach { n =>
      if (benchProfile) {
        val low = defByName.get(n).exists(_.lowLatency)
        val aqe = if (low) "false" else aqeDefault
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          aqe)
        spark.conf.set("spark.sql.shuffle.partitions",
          if (low) "8" else shuffleDefault)
      }
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
