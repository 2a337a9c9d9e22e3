package graft

/** Plan-inspection main: prints the formatted physical plan for the
  * named queries (or all bench queries) at the given sf dir. Used to
  * audit pushdown/broadcast/shuffle shape per SURVEY.md's 100 TB
  * posture; not part of the driver contract.
  *
  * Every query plans under the session PLANS.md was audited under: the
  * engine's own session defaults (graft_* functions, scan packing, AQE
  * on) on 4 cores. The plan a query executes under its bench profile,
  * after execution, is what `graft.tools.Profile` prints.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.benchDefs.map(_.name)
    val spark = Sessions.build("graft-explain", Some("4"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
