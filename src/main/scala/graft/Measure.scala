package graft

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningSubquery, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** The one measured run of a catalog query. [[Bench]]'s columns,
  * `tools.Profile`, `tools.Q147ScaleReceipt` and StageBudgetSpec all
  * time a query through [[run]], so they measure the same thing.
  *
  * A run applies the query's bench profile ([[Sessions.setProfile]]),
  * then either builds the query fresh, with every registered relation
  * dropped first (`Caches.unpersistAll`, outside the timed window), or
  * re-runs an earlier run's prepared plan. It then optimizes, plans and
  * executes the same count-shaped `QueryExecution` that `count()`
  * runs. Build and execution are each one [[StageClock.measure]].
  *
  * Construction attaches the clock to `spark` and reads the session's
  * profile settings; [[close]] detaches the clock and restores them.
  */
final class Measure(spark: SparkSession, sfDir: String)
    extends AutoCloseable {
  private val clock = new StageClock
  private val profileKeys = Seq("spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.shuffle.partitions")
  private val base = profileKeys.map(k => k -> spark.conf.get(k))
  private val setProfile = Sessions.setProfile(spark)
  spark.sparkContext.addSparkListener(clock)

  /** One run of `d`: unprepared when `prepared` is empty, else a re-run
    * of that earlier run of `d`. A lowLatency query (AQE off) executes
    * a fresh clone of the earlier run's physical plan: new exchange and
    * broadcast instances, so every stage re-executes and only the
    * driver-side optimize and plan passes are saved. An adaptive query
    * re-binds the earlier run's [[Measure.Run.preparedPlan]] (AQE
    * re-plans mid-flight, so its physical plan cannot be reused) and
    * optimizes and plans it again.
    */
  def run(d: QueryDef, prepared: Option[Measure.Run] = None)
      : Measure.Run = {
    setProfile(d)
    prepared match {
      case Some(p) if d.lowLatency =>
        val (_, build) = clock.measure(())
        val (rows, exec) = clock.measure(p.qe.executedPlan.clone()
          .asInstanceOf[SparkPlan].executeCollect().head.getLong(0))
        p.copy(rows = rows, build = build, optimizeMs = 0.0, planMs = 0.0,
          executeMs = exec.wallMs, exec = exec)
      case _ =>
        val plan = prepared.map(_.preparedPlan)
        if (plan.isEmpty) Caches.unpersistAll(spark)
        val (df, build) = clock.measure(
          plan.fold(d.build(spark, sfDir))(GraftShims.ofRows(spark, _)))
        def ms(from: Long, to: Long): Double = (to - from) / 1e6
        val ((rows, qe, optimizeMs, planMs, executeMs), exec) =
          clock.measure {
            val t0 = System.nanoTime()
            val qe = df.groupBy().count().queryExecution
            qe.optimizedPlan
            val t1 = System.nanoTime()
            qe.executedPlan
            val t2 = System.nanoTime()
            val rows = qe.executedPlan.executeCollect().head.getLong(0)
            val t3 = System.nanoTime()
            (rows, qe, ms(t0, t1), ms(t1, t2), ms(t2, t3))
          }
        Measure.Run(rows, build, optimizeMs, planMs, executeMs, exec, df,
          qe)
    }
  }

  def close(): Unit = {
    base.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.removeSparkListener(clock)
  }
}

object Measure {
  /** One run's record. `build` covers the DSL build (or re-bind) and
    * the eager jobs it starts; `exec` covers optimization (the count
    * wrapper's analysis included), physical planning and execution,
    * which `optimizeMs`, `planMs` and `executeMs` split. [[wallMs]]
    * is the two measured walls, without the listener drain between
    * them, so the four `_ms` parts sum to it. `df` and `qe` are the
    * built DataFrame and the executed count query (a physical-plan
    * re-run keeps those of the run it re-executes).
    */
  final case class Run(rows: Long, build: StageClock.Receipt,
      optimizeMs: Double, planMs: Double, executeMs: Double,
      exec: StageClock.Receipt, df: DataFrame, qe: QueryExecution) {
    def wallMs: Double = build.wallMs + exec.wallMs

    /** `df`'s optimized plan, for a later run to re-bind. Dynamic
      * partition pruning placeholders become `true`: analysis of the
      * re-bound plan rejects them, and its optimization inserts them
      * again.
      */
    def preparedPlan: LogicalPlan = df.queryExecution.optimizedPlan
      .transformAllExpressions {
        case _: DynamicPruningSubquery => Literal.TrueLiteral
      }

    /** The record's fields in print order. */
    def fields: Seq[(String, Double)] = Seq(
      "build_ms" -> build.wallMs, "build_jobs" -> build.jobs.toDouble,
      "build_task_sec" -> build.taskSec, "optimize_ms" -> optimizeMs,
      "plan_ms" -> planMs, "execute_ms" -> executeMs, "wall_ms" -> wallMs,
      "jobs" -> exec.jobs.toDouble, "stages" -> exec.stages.toDouble,
      "task_sec" -> exec.taskSec, "cpu_sec" -> exec.cpuSec,
      "shuffle_write_bytes" -> exec.shuffleBytes.toDouble,
      "max_task_shuffle_read" -> exec.maxTaskShuffleRead.toDouble)
  }

  /** Walls of 3 bare one-task jobs, after one unmeasured job: the
    * scheduler floor every job pays.
    */
  def bareJobMs(spark: SparkSession): Seq[Double] = {
    val sc = spark.sparkContext
    sc.parallelize(Seq(1), 1).count()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    }
  }
}
