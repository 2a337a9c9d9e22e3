package graft

import org.apache.spark.ConfKeys
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite

/** `Sessions.defaults` against Spark's own config registry: Spark
  * accepts a misspelled key without a warning, so a typo in a tuned
  * default would silently leave Spark's default in force.
  */
class SessionDefaultsSpec extends AnyFunSuite {
  private val settings = Sessions.defaults("4")
  private val cacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("every session default is a config key Spark registers, set once") {
    val keys = settings.map(_._1)
    assert(keys.distinct == keys)
    assert(keys.filterNot(ConfKeys.registered).isEmpty)
    // the check itself tells a misspelling from a real key
    assert(!ConfKeys.registered("spark.sql.shuffle.partition"))
  }

  test("the codegen cache size is a static SQL conf above Spark's " +
      "default, so it must be set when the session is built") {
    assert(SQLConf.isStaticConfigKey(cacheKey))
    val size = settings.toMap.apply(cacheKey).toInt
    assert(size > StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValue.get)
    assert(Integer.bitCount(size) == 1, s"$size is not a power of two")
    // a running session cannot change it
    intercept[org.apache.spark.sql.AnalysisException](
      SparkTestSession.spark.conf.set(cacheKey, size.toString))
  }
}
