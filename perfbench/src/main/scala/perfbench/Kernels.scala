package perfbench

import org.apache.spark.sql.catalyst.expressions.{Expression, Generator,
  Literal, UnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ApplyColumnarRulesAndInsertTransitions,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import scala.collection.mutable

/** ns/row of the repo's custom Catalyst kernels (`graft.plans.*`) found in
  * a set of executed plans. For each kernel class, the first instance
  * whose inputs all come from one child operator is evaluated over that
  * child's real rows (collected, and cycled for about [[TargetMs]]) by a
  * generated projection on the driver thread, against a projection of a
  * constant; the difference of the medians, divided by the rows, is the
  * kernel's cost.
  */
object Kernels {
  val TargetMs = 20
  val Reps = 5

  private def kernelsIn(plans: Seq[SparkPlan]): Seq[(String, Expression, SparkPlan)] = {
    val found = mutable.LinkedHashMap[String, (Expression, SparkPlan)]()
    def walk(p: SparkPlan): Unit = p.foreach { n =>
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case m: InMemoryTableScanExec => walk(m.relation.cacheBuilder.cachedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => ()
      }
      n.subqueries.foreach(walk)
      for {
        e <- n.expressions
        k <- e.collect { case k if k.getClass.getName.startsWith("graft.plans.") => k }
        if !k.isInstanceOf[AggregateFunction] && !k.isInstanceOf[Generator] &&
          !k.isInstanceOf[Unevaluable]
        c <- n.children.find(c => k.references.subsetOf(c.outputSet))
      } found.getOrElseUpdate(k.getClass.getSimpleName, (k, c))
    }
    plans.foreach(walk)
    found.toSeq.map { case (n, (k, c)) => (n, k, c) }
  }

  /** The child's output rows. A subtree kept from before Spark inserted
    * its columnar-to-row transitions cannot execute as is; the
    * transitions are inserted first.
    */
  private def rowsOf(child: SparkPlan): Array[InternalRow] =
    try child.execute().map(_.copy()).collect()
    catch {
      case _: Exception =>
        ApplyColumnarRulesAndInsertTransitions(Nil, false)(child)
          .execute().map(_.copy()).collect()
    }

  def nsPerRow(plans: Seq[SparkPlan]): Map[String, Double] =
    kernelsIn(plans).flatMap { case (name, k, child) =>
      val rows = rowsOf(child)
      val out = child.output
      val inputs = out.filter(k.references.contains)
      if (rows.isEmpty) None
      else {
        val kernel = UnsafeProjection.create(Seq(k), out)
        val base = UnsafeProjection.create(Seq(Literal(0)), out)
        kernel.initialize(0)
        def time(p: UnsafeProjection, n: Int): Double = {
          val t0 = System.nanoTime()
          var i = 0
          while (i < n) { p(rows(i % rows.length)); i += 1 }
          (System.nanoTime() - t0).toDouble
        }
        // compile both projections hot, then size each timing to about
        // TargetMs of kernel work
        val probe = math.min(rows.length, 2000)
        (1 to 20).foreach { _ => time(kernel, probe); time(base, probe) }
        val perRow = time(kernel, probe) / probe
        val n = math.max(probe, (TargetMs * 1e6 / perRow).toInt)
        (1 to 3).foreach { _ => time(kernel, n); time(base, n) }
        val (tk, tb) = (1 to Reps).map(_ => (time(kernel, n), time(base, n))).unzip
        def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        Some(name -> math.max(0.0, (med(tk) - med(tb)) / n))
      }
    }.toMap
}
