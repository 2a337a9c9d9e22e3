package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One workload of the benchmark. `prepare` is the set-up that is timed
  * as `setup_s`; `pass` is one timed pass, with `beforePass` run untimed
  * ahead of it; `verify` runs once, after the timed passes, and returns
  * what the correctness gate needs.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def beforePass(): Unit = ()
  def pass(spark: SparkSession, tracer: Tracer, rec: Record,
      passNo: Int): Map[String, Any]
  def verify(spark: SparkSession, out: String, rec: Record)
      : Map[String, Any]
  def close(): Unit = ()
  /** Executed plans whose custom kernels the traced run times. */
  def kernelPlans(spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = Nil
}

/** The benchmark's JVM side. It sets up the workload several times,
  * runs a cold pass, `--warmup-passes` unmeasured passes and then
  * measured passes for `--seconds`, runs the untimed correctness pass,
  * and writes everything measured to `<work>/result.json` for `run.py`
  * to check and summarise.
  *
  * With `--trace 1` the cold pass and half the measured passes are
  * traced: they record spans (written to `<work>/spans.jsonl`) and the
  * scheduler, planner and JDBC totals of each span.
  */
object Main {
  /** Measured warm passes per run, at the least; `--seconds` adds more. */
  val MinWarmPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    def list(k: String) = a.get(k).map(_.split(",").toSeq).getOrElse(Nil)
    val workload: Workload = a("workload") match {
      case "catalog" =>
        new Catalog(list("queries"), list("kernel-queries"), a("inputs"), seed)
      case "migrate" => new Migrate(a("inputs"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rec = new Record

    // set-up, repeated from a stopped session so the median is steady
    var spark: SparkSession = null
    val setup = (1 to a("setup-reps").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Sessions.build("perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      workload.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    // host telltale: wall of a bare one-task job
    val telltale = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    }.sorted.apply(2)

    val tracer = new Tracer(spark, trace)
    val plain = new Tracer(spark, false)
    val spanListener = new SpanListener(tracer)
    val plannerListener = new PlannerListener(tracer)
    def listen(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(spanListener)
        spark.listenerManager.register(plannerListener)
      } else {
        sc.removeSparkListener(spanListener)
        spark.listenerManager.unregister(plannerListener)
      }
    val heap = new LiveHeap
    val cgen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cgenCount =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def runPass(passNo: Int, kind: String, traced: Boolean)
        : Map[String, Any] = {
      workload.beforePass()
      settle()
      tracer.pass = passNo
      if (traced) listen(true)
      heap.reset()
      val failedBefore = rec.failures.size
      val attemptedBefore = rec.attempted
      val c0 = cgen.compileTime
      val n0 = cgenCount.getCount
      val t0 = System.nanoTime()
      val extra = (if (traced) tracer else plain).span("pass")(
        workload.pass(spark, if (traced) tracer else plain, rec, passNo))
      val wall = (System.nanoTime() - t0) / 1e9
      val peakHeap = heap.peakMb()
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        listen(false)
      }
      extra ++ Map("pass" -> passNo, "kind" -> kind, "traced" -> traced,
        "wall_s" -> wall, "peak_heap_mb" -> peakHeap,
        "attempted" -> (rec.attempted - attemptedBefore),
        "failed" -> (rec.failures.size - failedBefore),
        "codegen_compile_s" -> (cgen.compileTime - c0) / 1e9,
        "codegen_classes" -> (cgenCount.getCount - n0))
    }

    rec.passes += runPass(0, "cold", trace)
    // the JIT keeps speeding passes up for several passes after the cold
    // one, so a fixed number of passes runs before any is measured: then
    // the measured passes do not depend on how many fit in `--seconds`
    val warmups = a("warmup-passes").toInt
    (1 to warmups).foreach(n => rec.passes += runPass(n, "warmup", false))
    val start = System.nanoTime()
    var measured = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // a traced run interleaves untraced and traced passes as u t t u u t
    // t u ..., so a drift over the run weighs on both kinds alike; it runs
    // at least four, two of each
    val minPasses = if (trace) 4 else MinWarmPasses
    while (measured < minPasses || elapsed < a("seconds").toDouble) {
      measured += 1
      val traced = trace && (measured % 4 == 2 || measured % 4 == 3)
      rec.passes += runPass(warmups + measured,
        if (traced) "traced" else "warm", traced)
    }

    val kernels =
      if (trace) Kernels.nsPerRow(workload.kernelPlans(spark)) else Map.empty
    val verify = workload.verify(spark, s"$work/verify", rec)
    workload.close()
    val cores = sc.defaultParallelism
    if (trace) writeSpans(s"$work/spans.jsonl", tracer)
    val result = Map(
      "setup_s" -> setup, "telltale_ms" -> telltale, "cores" -> cores,
      "passes" -> rec.passes, "failures" -> rec.failures,
      "attempted" -> rec.attempted, "verify" -> verify,
      "kernels_ns_per_row" -> kernels,
      "spark" -> spark.version)
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    graft.Caches.clear(spark)
    spark.stop()
  }

  /** Before a pass: collect garbage, then wait (up to 1 s) until the JIT
    * has compiled nothing for 50 ms, so compilation left over from the
    * previous step does not run inside the next pass's timed window.
    */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 1000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < until) {
      last = jit.getTotalCompilationTime
      Thread.sleep(50)
    }
  }

  /** The span sidecar: one JSON object per line with the span's name,
    * start and end (ns, monotonic), parent, pass and collected totals.
    */
  private def writeSpans(path: String, tracer: Tracer): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try tracer.spans.foreach { s =>
      val st = Option(tracer.stats.get(s.id))
        .map(_.v.asScala.toMap).getOrElse(Map.empty[String, Double])
      w.write(Json(Map("id" -> s.id, "pass" -> s.pass, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "stats" -> st)))
      w.newLine()
    } finally w.close()
  }
}

/** Peak live heap of a pass: the largest heap occupancy left after any
  * garbage collection during the pass, or after a full collection forced
  * when the pass ends (outside its timed window). Heap that is merely
  * allocated and not yet collected does not count, so the figure does not
  * depend on when the collector happens to run.
  */
final class LiveHeap {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData
              .asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (p, u) if heapPools(p) => u.getUsed }.sum
          if (after > peak) peak = after
        }, null, null)
    case _ => ()
  }
  def reset(): Unit = peak = 0L
  def peakMb(): Double = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak, used) / 1e6
  }
}
