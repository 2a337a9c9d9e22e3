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

  test("the test session is built by Sessions.build: it holds every " +
      "default") {
    // a child starts from the conf the session was built with, not
    // from later runtime sets on the shared session
    val child = SparkTestSession.spark.newSession()
    settings.foreach { case (k, v) =>
      assert(child.conf.get(k) == v, s"$k")
    }
  }

  test("graft_* functions resolve in SQL on a newSession() child") {
    val r = SparkTestSession.spark.newSession().sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)), " +
        "graft_l2norm(array(3.0D, 4.0D))").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 5.0)
  }

  test("SPARK_GRAFT_EXTRA_CONF parses in order and fails on a " +
      "malformed entry, naming it") {
    assert(Sessions.extraConf(
      " spark.sql.adaptive.enabled = false;;k=a=b; ") ==
      Seq("spark.sql.adaptive.enabled" -> "false", "k" -> "a=b"))
    assert(Sessions.extraConf("").isEmpty)
    assert(Sessions.extraConf("k=") == Seq("k" -> ""))
    Seq("spark.sql.shuffle.partitions:7", "=7", " =7").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Sessions.extraConf(s"k=v;$bad"))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
