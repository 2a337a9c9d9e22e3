package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.scalatest.funsuite.AnyFunSuite

/** [[Caches]]' registry holds one entry per cached plan: a rebuild of
  * a relation Spark already caches must not add another.
  */
class CachesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("persisting an already cached plan registers nothing new; " +
      "unpersistAll still frees the cached copy") {
    def build() = spark.range(0, 1000, 1, 2)
      .selectExpr("id", "id * 7919 AS v")
    def cached(df: org.apache.spark.sql.DataFrame) = spark.sharedState
      .cacheManager.lookupCachedData(castToImpl(df))
    val before = Caches.registered
    val first = Caches.persist(build())
    assert(first.count() == 1000)
    val again = Caches.persist(build())
    assert(Caches.registered == before + 1,
      s"registry grew ${Caches.registered - before} entries for one plan")
    assert(cached(again).isDefined)
    Caches.unpersistAll(spark)
    assert(cached(build()).isEmpty,
      "unpersistAll left the plan cached")
    assert(Caches.registered <= before)
  }
}
