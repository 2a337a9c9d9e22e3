package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for the corpus relations query builders
  * `persist` (q91 shingle sets, q68 tf, q79 vocab, the ANN tier's
  * normed embeddings). Spark's cache manager dedups registrations by
  * logical plan, so repeated builds of the same query — and different
  * queries sharing a relation — reuse one cached copy; what it does
  * NOT do is ever let go: a long-lived session running the full
  * 150-query catalog would otherwise accumulate every cached relation
  * for its lifetime. Routing persists through here gives the session
  * owner one explicit release point — `Verify`/`Bench` call
  * [[clear]] when their run is done, and a production pipeline calls
  * it between stages.
  */
object Caches {
  private val reg =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame,
        java.lang.Boolean]())

  /** Persist (MEMORY_AND_DISK) and register for later [[clear]]. A
    * plan Spark already caches (an earlier build registered it) is
    * returned as is: it reads the cached copy anyway, and registering
    * it again would keep one more DataFrame per rebuild alive.
    */
  def persist(df: DataFrame): DataFrame =
    if (df.sparkSession.sharedState.cacheManager
        .lookupCachedData(castToImpl(df)).isDefined) df
    else {
      reg.add(df)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Release ONE registered relation early (an iterative operator's
    * per-call cache that should not wait for the session-level
    * [[clear]]): unpersist AND deregister — a direct `df.unpersist`
    * would free the blocks but leave the DataFrame (plan tree +
    * session reference) in the registry for the session's life.
    */
  def release(df: DataFrame): Unit = {
    reg.remove(df)
    df.unpersist(blocking = false); ()
  }

  /** Registered-relation count — spec hook for the no-dead-entries
    * contract of [[release]].
    */
  def registered: Int = reg.size()

  /** Release the cached RDD behind a `localCheckpoint()`ed DataFrame
    * that has been superseded in an iterative loop (q208's
    * ranksToConvergence, q213's NN-descent rounds): only the current
    * round's vector is ever read again, so without this every round's
    * block stays resident for the session's life.
    */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Unpersist every relation this registry holds for `spark` WITHOUT
    * touching the resolved-relation/schema caches ([[Tables]] /
    * [[Fixtures]]). Unpersisting drops the CacheManager's logical-plan
    * → InMemoryRelation mapping immediately, so a subsequent fresh
    * build of the same subtree recomputes instead of silently reading
    * the materialized copy — what Bench's unprepared column needs
    * between samples (file METADATA stays warm, as DuckDB's catalog
    * keeps it across its warm runs too).
    */
  def unpersistAll(spark: SparkSession): Unit = {
    val it = reg.iterator()
    while (it.hasNext) {
      val df = it.next()
      if (df.sparkSession eq spark) {
        df.unpersist(blocking = false)
        it.remove()
      }
    }
  }

  /** Unpersist every relation this registry holds for `spark`
    * (non-blocking; in-flight queries recompute, nothing breaks).
    */
  def clear(spark: SparkSession): Unit = {
    unpersistAll(spark)
    // the packed fixture + table-relation caches are session-keyed too
    // — release them at the same explicit point so ended sessions can
    // be collected
    Fixtures.dropSession(spark)
    Tables.dropSession(spark)
  }
}
