package graft

import graft.tools.Profile
import org.scalatest.funsuite.AnyFunSuite

/** The per-query bench profile rule ([[Sessions.setProfile]]) and the
  * profiling tool built on it ([[Profile]]).
  */
class ProfileSpec extends AnyFunSuite {
  // a child session: profiles switch AQE and shuffle partitions on it,
  // never on the shared session
  private lazy val spark = SparkTestSession.spark.newSession()
  private val dir = "/root/testdata/sf0.001"
  private val aqe = "spark.sql.adaptive.enabled"
  private val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
  private val shuffle = "spark.sql.shuffle.partitions"

  private def settings = Seq(aqe, coalesce, shuffle).map(spark.conf.get)

  test("the profile rule: lowLatency runs AQE and coalescing off on 8 " +
      "partitions, every other query gets the session's base back") {
    val low = QueryDef("low", (_, _) => null, None, lowLatency = true)
    val adaptive = QueryDef("adaptive", (_, _) => null, None)
    for ((aqeBase, shuffleBase) <- Seq(("true", "5"), ("false", "3"))) {
      spark.conf.set(aqe, aqeBase)
      spark.conf.set(coalesce, aqeBase)
      spark.conf.set(shuffle, shuffleBase)
      val setProfile = Sessions.setProfile(spark)
      setProfile(low)
      assert(settings == Seq("false", "false", "8"))
      setProfile(adaptive)
      assert(settings == Seq(aqeBase, aqeBase, shuffleBase))
    }
  }

  test("Profile: one record per query with every field, parts that sum " +
      "to the wall, aggregate receipts and the final plan") {
    spark.conf.set(aqe, "true")
    spark.conf.set(coalesce, "true")
    spark.conf.set(shuffle, "4")
    val defs = Profile.resolve(Seq("q07_group_agg", "q37_asof_join"))
    assert(defs.map(_.lowLatency) == Seq(true, false))
    assert(Measure.bareJobMs(spark).min > 0)
    val records = Profile.profile(spark, dir, defs)
    assert(records.map(_.query) == defs.map(_.name))
    // the session's own settings are restored afterwards
    assert(settings == Seq("true", "true", "4"))
    val fields = Seq("build_ms", "build_jobs", "build_task_sec",
      "optimize_ms", "plan_ms", "execute_ms", "wall_ms", "jobs", "stages",
      "task_sec", "cpu_sec", "shuffle_write_bytes", "max_task_shuffle_read")
    records.foreach { r =>
      assert(r.stats.map(_._1) == fields)
      fields.foreach { f =>
        assert(r.json.contains(s""""$f":{"median":"""), s"${r.query}: $f")
      }
      assert(r.json.contains(""""aggregates":[{"op":"""), r.json)
      assert(r.rows > 0)
      val stat = r.stats.toMap
      val wall = stat("wall_ms").median
      val parts = Seq("build_ms", "optimize_ms", "plan_ms", "execute_ms")
        .map(stat(_).median).sum
      assert(math.abs(parts - wall) <= math.max(0.05 * wall, 5.0),
        s"${r.query}: parts $parts ms vs wall $wall ms")
      assert(stat("execute_ms").min > 0 && stat("jobs").min >= 1)
      assert(r.aggregates.exists(a => a.out >= 0), r.aggregates)
    }
    // the one run function: a prepared re-run (q07's physical clone,
    // q37's re-bound optimized plan) reports the unprepared run's rows,
    // and each run's four parts sum to its wall
    val measure = new Measure(spark, dir)
    try defs.zip(records).foreach { case (d, r) =>
      val unprepared = measure.run(d)
      val prepared = measure.run(d, Some(unprepared))
      assert(Seq(unprepared.rows, prepared.rows) == Seq(r.rows, r.rows),
        d.name)
      Seq(unprepared, prepared).foreach { run =>
        val parts =
          run.build.wallMs + run.optimizeMs + run.planMs + run.executeMs
        assert(math.abs(parts - run.wallMs) <= math.max(0.05 * run.wallMs,
          5.0), s"${d.name}: parts $parts ms vs wall ${run.wallMs} ms")
      }
    } finally measure.close()
    assert(settings == Seq("true", "true", "4"))
    val Seq(low, adaptive) = records
    assert(low.json.contains(""""profile":"low_latency""""))
    assert(!low.finalPlan.contains("AdaptiveSparkPlan"), low.finalPlan)
    assert(adaptive.finalPlan.contains("AdaptiveSparkPlan isFinalPlan=true"),
      adaptive.finalPlan)
  }

  test("Profile: an unknown query name fails before any work, naming it") {
    val e = intercept[IllegalArgumentException](
      Profile.main(Array(dir, "q07_group_agg", "q999_no_such_query")))
    assert(e.getMessage.contains("q999_no_such_query"))
    assert(!e.getMessage.contains("q07_group_agg"))
  }
}
