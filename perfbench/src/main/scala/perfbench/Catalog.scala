package perfbench

import graft.{Caches, QueryDef, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** An unprepared catalog pass: for each query, drop every persisted
  * relation, then build the DataFrame, plan it and `count()` it. Nothing
  * built in one query or pass is reused by the next.
  */
final class Catalog(names: Seq[String], kernelNames: Seq[String],
    dir: String, seed: Long) extends Workload {
  private val byName = SparkEntry.defs.map(d => d.name -> d).toMap
  private def lookup(n: String): QueryDef = byName.getOrElse(n,
    throw new IllegalArgumentException(s"unknown query $n"))
  private val defs: Seq[QueryDef] = names.map(lookup)
  /** The seed fixes the query order of every pass. */
  private val order = new scala.util.Random(seed).shuffle(defs)
  private val counts = mutable.Map[String, mutable.Set[Long]]()
  private val plans = mutable.LinkedHashMap[String,
    org.apache.spark.sql.execution.SparkPlan]()
  /** The traced passes' plans, plus the plans of `kernelNames`: queries
    * built (not timed) only so their kernels are timed too.
    */
  override def kernelPlans(spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    plans.values.toSeq ++ kernelNames.map(n =>
      lookup(n).build(spark, dir).queryExecution.executedPlan)

  def prepare(spark: SparkSession): Unit =
    Tables.names.foreach { t =>
      if (new java.io.File(s"$dir/$t.parquet").exists)
        Tables.load(spark, dir, t).schema
    }

  def pass(spark: SparkSession, tracer: Tracer, rec: Record,
      passNo: Int): Map[String, Any] = {
    var resident = 0.0
    order.foreach { d =>
      Caches.unpersistAll(spark)
      rec.attempted += 1
      try tracer.span(d.name) {
        val df = tracer.span("build", drain = true)(d.build(spark, dir))
        val n = tracer.span("execute", drain = true)(df.count())
        counts.getOrElseUpdate(d.name, mutable.Set()) += n
        if (tracer.enabled) {
          resident = math.max(resident,
            spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
          plans(d.name) = df.queryExecution.executedPlan
        }
      } catch { case e: Throwable => rec.fail(passNo, d.name, e) }
    }
    Caches.unpersistAll(spark)
    Map("caches_resident_mb" -> resident)
  }

  /** Untimed: write each query's full output for the DuckDB oracle
    * compare, four queries at a time as `graft.Verify` does. A query
    * without oracle SQL is built and digested twice instead and must give
    * the same digest both times.
    */
  def verify(spark: SparkSession, out: String, rec: Record)
      : Map[String, Any] = {
    Caches.unpersistAll(spark)
    rec.attempted += defs.size
    val digests = new java.util.concurrent.ConcurrentHashMap[String,
      Seq[String]]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try defs.map { d =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          if (d.oracle.isDefined)
            d.build(spark, dir).coalesce(1).write.mode("overwrite")
              .parquet(s"$out/${d.name}")
          else digests.put(d.name, (1 to 2).map { _ =>
            val rows = d.build(spark, dir).collect().map(_.toString).sorted
            s"${rows.length}:${rows.mkString("\n").hashCode}"
          })
        } catch { case e: Throwable =>
          rec.synchronized(rec.fail(-1, "verify:" + d.name, e)) }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    Caches.unpersistAll(spark)
    Map(
      "oracle" -> defs.flatMap(d => d.oracle.map(d.name -> _)).toMap,
      "counts" -> counts.map { case (k, v) => k -> v.toSeq.sorted },
      "digests" -> digests.asScala)
  }
}
