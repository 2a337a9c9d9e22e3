package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Counters one span collects. Spark task metrics arrive through
  * [[SpanListener]], planner phases through [[PlannerListener]] and JDBC
  * timings through [[TracedJdbc]]; all of them key on the span id.
  */
final class SpanStats {
  val v = new ConcurrentHashMap[String, Double]()
  def add(k: String, x: Double): Unit = { v.merge(k, x, _ + _); () }
  def max(k: String, x: Double): Unit = {
    v.merge(k, x, (a, b) => math.max(a, b)); ()
  }
}

final case class Span(id: Long, pass: Int, name: String, parent: Long,
    startNs: Long, endNs: Long)

/** Records nested, named intervals. Each span knows its parent and its
  * pass, and the span id rides the Spark local property
  * [[Tracer.Property]] so stages and tasks started inside it are
  * attributed to it. A disabled tracer only runs the body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val stats = new ConcurrentHashMap[Long, SpanStats]()
  @volatile var pass: Int = 0
  /** Planner phases not yet claimed by a span. */
  val planner = new java.util.concurrent.ConcurrentLinkedQueue[
    Map[String, Double]]()

  def statsOf(id: Long): SpanStats =
    stats.computeIfAbsent(id, _ => new SpanStats)

  /** The innermost open span of the calling thread, or of the Spark task
    * running on it; 0 when there is none.
    */
  def current: Long = open.get() match {
    case h :: _ => h
    case Nil =>
      Option(org.apache.spark.TaskContext.get())
        .flatMap(t => Option(t.getLocalProperty(Tracer.Property)))
        .map(_.toLong).getOrElse(0L)
  }

  /** Run `body` inside a span. With `drain`, the listener bus is emptied
    * when the body ends and every planner record delivered by then is
    * charged to this span: spans that drain must not run concurrently.
    * The wait is recorded as a sibling span named `trace.drain`.
    */
  def span[T](name: String, drain: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.Property)
      // a pool thread inherits the span that was open when it was created
      val parent = stack.headOption
        .getOrElse(Option(prev).map(_.toLong).getOrElse(0L))
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.Property, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.Property, prev)
        open.set(stack)
        done.add(Span(id, pass, name, parent, t0, t1))
        if (drain) {
          org.apache.spark.perfbench.Bus.drain(sc)
          done.add(Span(ids.incrementAndGet(), pass, "trace.drain", parent,
            t1, System.nanoTime()))
          var p = planner.poll()
          while (p != null) {
            val s = statsOf(id)
            p.foreach { case (k, x) => s.add(k, x) }
            s.add("planner.queries", 1)
            p = planner.poll()
          }
        }
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val Property = "perfbench.span"
}

/** Spark scheduler totals per span: jobs, stages, tasks, task time, CPU,
  * GC, spill, shuffle bytes and the per-task maxima.
  */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = tracer.statsOf(spanOf(e.properties))
    s.add("jobs", 1)
    s.max("max_job_tasks", e.stageInfos.map(_.numTasks).sum.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, id)
    tracer.statsOf(id).add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = tracer.statsOf(stageSpan.getOrDefault(e.stageId, 0L))
    val runS = m.executorRunTime / 1e3
    val readB = m.shuffleReadMetrics.remoteBytesRead +
      m.shuffleReadMetrics.localBytesRead
    s.add("tasks", 1)
    s.add("task_s", runS)
    s.add("cpu_s", m.executorCpuTime / 1e9)
    s.add("gc_s", m.jvmGCTime / 1e3)
    s.add("spill_b", m.diskBytesSpilled.toDouble)
    s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
    s.add("shuffle_read_b", readB.toDouble)
    s.max("max_task_s", runS)
    s.max("max_task_read_b", readB.toDouble)
    s.max("peak_task_mem_b", m.peakExecutionMemory.toDouble)
  }
}

/** Catalyst phase times of every action, read from
  * `QueryExecution.tracker`. Records queue on the tracer until a
  * draining span claims them.
  */
final class PlannerListener(tracer: Tracer) extends QueryExecutionListener {
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    tracer.planner.add(Map(
      "planner.analysis_s" -> ms("analysis"),
      "planner.optimization_s" -> ms("optimization"),
      "planner.planning_s" -> ms("planning"),
      "planner.run_s" -> durationNs / 1e9))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    record(qe, d)
  override def onFailure(f: String, qe: QueryExecution, e: Exception)
      : Unit = record(qe, 0L)
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Collects per-pass records and failures for the result file. */
final class Record {
  val passes = ArrayBuffer[Map[String, Any]]()
  val failures = ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
  /** Record a failed operation once, however many layers rethrow it. */
  def fail(pass: Int, op: String, e: Throwable): Unit = if (seen.add(e)) {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    failures += Map("pass" -> pass, "op" -> op,
      "error" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(500),
      "cause" -> (root.getClass.getName + ": " +
        String.valueOf(root.getMessage).take(300)))
  }
}
