package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Every query
  * that throws is listed on stderr at the end and the run exits 1; the
  * dump of the others still completes. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println(
        "usage: graft.Verify <sfDir> <outDir> [nameSubstr,...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // Optional local-iteration filter (driver always passes 2 args):
    // keep queries whose name contains any given substring.
    val keep: String => Boolean =
      if (args.length == 3) {
        val pats = args(2).split(",").toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val spark = Sessions.build("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4 concurrent query dumps: Spark's FAIR-ish FIFO scheduler
    // interleaves their jobs across the executor threads, roughly
    // halving wall time vs sequential (each query leaves cores idle
    // during planning/commit). Each query writes its own directory;
    // view registration is per-query-unique or idempotent.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = SparkEntry.queries.toSeq.filter(t => keep(t._1))
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed.add(s"$name: ${e.getClass.getName}: ${e.getMessage}")
            ()
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // release every corpus relation the query builders persisted —
    // without this a full-catalog session holds all of them for life
    Caches.clear(spark)
    // Bench.jsonStr escapes every control char: one left raw in
    // builder-authored SQL would make the oracle compare's json.load
    // fail and silently zero the correctness check
    import Bench.{jsonStr => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Environment pin for the artifact trail: r15's q188 red row was
    // initially misattributed to a driver-side DuckDB version delta
    // because nothing recorded the engines in play. The oracle
    // contract is type-proof now (OracleLintSpec + type-strict
    // check.py), but record versions anyway so any future delta is
    // attributable in one step. expected_duckdb is the version the
    // repo's local gate last validated against (scripts/check.py
    // prints the live one).
    val env = Seq(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "expected_duckdb" -> "1.0.0"
    ).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/env.json"), env)
    spark.stop()
    if (!failed.isEmpty) {
      System.err.println(
        s"[verify] ${failed.size} of ${tasks.size} queries failed:")
      failed.toArray.map(_.toString).sorted
        .foreach(f => System.err.println(s"[verify]   $f"))
      sys.exit(1)
    }
  }
}
