package graft.tools

import graft.{Bench, Caches, Measure, QueryDef, Sessions, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Layer-by-layer profile of named catalog queries — the one hand-run
  * profiling tool. A/B evidence across commits is perfbench's
  * (`perfbench/run.py`); this tool explains where one query's wall goes.
  *
  * Once at startup it prints the wall of a bare one-task job (the
  * scheduler floor every job pays). Then, for each query, it does one
  * unmeasured run and [[Runs]] measured runs, each an unprepared
  * [[Measure]] run (the query's bench profile, every persisted relation
  * dropped, build + plan + count), and prints one JSON line with each
  * field of [[Measure.Run.fields]]'s `median` (its value in the median
  * run by `wall_ms`, so the parts of one run are reported together) and
  * `min`:
  *
  *  - `build_ms`, `build_jobs`, `build_task_sec`: the DSL build,
  *    including the eager jobs it starts;
  *  - `optimize_ms` (the count wrapper's analysis plus optimization),
  *    `plan_ms` (physical planning) and `execute_ms`, and the
  *    execution's `jobs`, `stages`, `task_sec`, `cpu_sec`,
  *    `shuffle_write_bytes` and `max_task_shuffle_read` (records);
  *  - `wall_ms`: the sum of the four `_ms` parts;
  *
  * plus every aggregate operator's input → output rows from the last
  * run's SQL metrics (is a map-side partial earning its exchange?).
  * After each JSON line comes that run's post-execution plan: with AQE
  * on, the final re-optimized plan that `explain` cannot show.
  *
  * usage: runMain graft.tools.Profile <sfDir> <query> [query...]
  * (names from `SparkEntry.defs`; cores from `SPARK_GRAFT_CPUS`, else
  * the host's)
  */
object Profile {
  val Runs = 3

  final case class Stat(median: Double, min: Double) {
    def json: String =
      s"""{"median":${Bench.r3(median)},"min":${Bench.r3(min)}}"""
  }
  object Stat {
    def of(xs: Seq[Double]): Stat = {
      val s = xs.sorted
      Stat(s(s.size / 2), s.head)
    }
  }

  /** Each field's median is its value in the median run by `wall_ms`:
    * per-field medians come from different runs, and those of the time
    * parts need not sum to the median wall.
    */
  def stats(runs: Seq[Seq[(String, Double)]]): Seq[(String, Stat)] = {
    val wall = runs.head.indexWhere(_._1 == "wall_ms")
    val mid = runs.sortBy(_(wall)._2).apply(runs.size / 2)
    mid.indices.map(i =>
      mid(i)._1 -> Stat(mid(i)._2, runs.map(_(i)._2).min))
  }

  /** One aggregate operator's observed input → output rows (-1: the
    * plan kept no count).
    */
  final case class AggRows(op: String, keys: String, in: Long, out: Long)

  final case class Record(query: String, lowLatency: Boolean, rows: Long,
      stats: Seq[(String, Stat)], aggregates: Seq[AggRows],
      finalPlan: String) {
    def json: String = {
      import Bench.jsonStr
      val aggs = aggregates.map(a =>
        s"""{"op":${jsonStr(a.op)},"keys":${jsonStr(a.keys)},""" +
          s""""in":${a.in},"out":${a.out}}""")
      (Seq(s""""query":${jsonStr(query)}""",
        s""""profile":"${if (lowLatency) "low_latency" else "adaptive"}"""",
        s""""rows":$rows""", s""""runs":$Runs""") ++
        stats.map { case (k, s) => s""""$k":${s.json}""" } :+
        s""""aggregates":${aggs.mkString("[", ",", "]")}""")
        .mkString("{", ",", "}")
    }
  }

  /** The named queries, or an error naming every unknown one — checked
    * before any session exists.
    */
  def resolve(names: Seq[String]): Seq[QueryDef] = {
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, "Profile: unknown quer" +
      (if (unknown.size == 1) "y " else "ies ") + unknown.mkString(", ") +
      " (names come from SparkEntry.defs)")
    names.map(byName)
  }

  def profile(spark: SparkSession, sfDir: String, defs: Seq[QueryDef])
      : Seq[Record] = {
    val m = new Measure(spark, sfDir)
    try defs.map { d =>
      m.run(d)
      val runs = (1 to Runs).map(_ => m.run(d))
      val last = runs.last
      Record(d.name, d.lowLatency, last.rows, stats(runs.map(_.fields)),
        aggregates(last.qe.executedPlan), last.qe.executedPlan.toString)
    } finally {
      m.close()
      Caches.unpersistAll(spark)
    }
  }

  /** Every aggregate operator in an executed plan, including those in
    * AQE query stages, subqueries and persisted relations, each once.
    */
  private def aggregates(plan: SparkPlan): Seq[AggRows] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[AggRows] =
      if (!seen.add(p)) Nil
      else {
        val own = p match {
          case a: BaseAggregateExec => Seq(AggRows(a.nodeName,
            a.groupingExpressions.map(_.sql).mkString(",").take(200),
            rowsOut(a.child), rowsOut(a)))
          case _ => Nil
        }
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
          case _ => Nil
        }
        own ++ (p.children ++ p.subqueries ++ inner).flatMap(walk)
      }
    walk(plan)
  }

  /** Rows a node hands its parent: its own `numOutputRows`, an
    * exchange's records written, else (wrappers that count nothing,
    * such as InputAdapter, sorts and query stages) its child's.
    */
  private def rowsOut(p: SparkPlan): Long =
    p.metrics.get("numOutputRows")
      .orElse(p.metrics.get("shuffleRecordsWritten")) match {
      case Some(m) => m.value
      case None => p match {
        case q: QueryStageExec => rowsOut(q.plan)
        case r: ReusedExchangeExec => rowsOut(r.child)
        case _ if p.children.size == 1 => rowsOut(p.children.head)
        case _ => -1L
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val defs = resolve(args.drop(1).toSeq)
    val spark = Sessions.build("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      println(s"""{"bare_job_ms":${Stat.of(Measure.bareJobMs(spark)).json}}""")
      // one query at a time, so each plan prints under its record
      defs.foreach { d =>
        profile(spark, args(0), Seq(d)).foreach { r =>
          println(r.json)
          println(r.finalPlan)
        }
      }
    } finally {
      Caches.clear(spark)
      spark.stop()
    }
  }
}
