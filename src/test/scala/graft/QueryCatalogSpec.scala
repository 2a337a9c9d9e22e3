package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The suite's one session: the engine's own, from [[Sessions.build]]. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", Some("4"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Every registered QueryDef must build and run on sf0.001, and every
  * oracle name must correspond to a registered query. Exact value parity
  * is the driver's DuckDB gate (locally: scripts/check.py).
  */
class QueryCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("catalog is consistent") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.defs.foreach { d =>
    test(s"${d.name} runs on sf0.001") {
      val df = d.build(spark, dir)
      assert(df.columns.nonEmpty)
      val n = df.count()
      assert(n >= 0)
    }
  }
}
