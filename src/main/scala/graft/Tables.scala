package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Parquet fixture catalog (see TESTDATA.md / FIXTURES.md §2).
  *
  * Mirrors the reference's introspected-schema universe
  * (reference `model.go:46-58`): a named set of tables with fixed schemas.
  * Here the source is the driver-generated parquet star schema; the JDBC
  * dialect layer in [[graft.sources]] covers the reference's live-DB scans.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Global (dir, table) → parquet schema cache: repeated `load` calls
    * skip schema inference (open + footer parse) by passing the cached
    * schema to the reader — the role catalog table resolution plays on
    * a real cluster. Values are plain StructTypes with no session or
    * plan references, so nothing pins a stopped session. The cache key
    * carries the file's [[fileStamp]] (size + mtime + footer-tail
    * hash), so a fixture regenerated mid-process with a different
    * physical encoding (the driver has re-written events.parquet's ts
    * type across rounds) re-infers instead of reading through a stale
    * schema — even when the rewrite lands at identical byte length
    * within the same millisecond (TablesCacheSpec).
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, Long, Long, Int),
      org.apache.spark.sql.types.StructType]

  /** Cheap content identity for a parquet file: (size, mtime-ms,
    * murmur of the last ≤4 KiB). The parquet footer sits in the file
    * tail and encodes the schema and row-group layout, so ANY
    * regeneration that changes encoding or contents perturbs it —
    * including a deterministic same-length rewrite inside one
    * millisecond, which a (size, mtime) key alone serves stale. One
    * ~4 KiB page-cache read per load call (~10 µs) buys the guarantee.
    */
  private[graft] def fileStamp(p: java.nio.file.Path)
      : (Long, Long, Int) =
    try {
      val sz = java.nio.file.Files.size(p)
      val mt = java.nio.file.Files.getLastModifiedTime(p).toMillis
      val n = math.min(sz, 4096L).toInt
      val tail = new Array[Byte](n)
      val ch = java.nio.channels.FileChannel
        .open(p, java.nio.file.StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.wrap(tail)
        ch.position(sz - n)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
      } finally ch.close()
      (sz, mt, scala.util.hashing.MurmurHash3.bytesHash(tail))
    } catch { case _: java.io.IOException => (-1L, -1L, 0) }

  private def cacheKey(dir: String, name: String): (String, String,
      Long, Long, Int) = {
    val (sz, mt, h) =
      fileStamp(java.nio.file.Paths.get(s"$dir/$name.parquet"))
    (dir, name, sz, mt, h)
  }

  /** Load one fixture table, normalizing `events.ts` to µs
    * session-zone TimestampType whatever the fixture's physical
    * encoding (the driver has regenerated it across rounds):
    *
    *  - nanosecond-precision parquet (Spark 4 rejects it with
    *    [PARQUET_TYPE_ILLEGAL]) — read as raw ns longs
    *    (legacy.parquet.nanosAsLong) and truncate to µs with integer
    *    division (a double division would lose precision on ~1.7e18 ns
    *    epoch values); DuckDB's CAST(ts AS TIMESTAMP) truncates ns→µs
    *    the same way;
    *  - native timestamp[us] (isAdjustedToUTC=false reads as
    *    TIMESTAMP_NTZ) — a plain cast to TimestampType, which under the
    *    session's forced UTC zone relabels the same µs instant DuckDB
    *    sees, no arithmetic.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = cacheKey(dir, name)
    dfCache.getOrElseUpdate((spark, key), {
      if (name == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$dir/$name.parquet"
      val schema = schemaCache.getOrElseUpdate(key,
        spark.read.parquet(path).schema)
      val raw = spark.read.schema(schema).parquet(path)
      if (name == "events") {
        val tsIsRawNanos = schema("ts").dataType ==
          org.apache.spark.sql.types.LongType
        if (tsIsRawNanos)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw.withColumn("ts", col("ts").cast(TimestampType))
      } else raw
    })
  }

  /** The resolved per-table DataFrame, cached per (session, file
    * identity): repeated query builds reuse one analyzed source
    * relation (and its file listing) instead of re-resolving the scan
    * on every build — the catalog-resolution cache a real cluster's
    * metastore provides, and a measurable slice of the unprepared-warm
    * planning cost. Dropped per session from [[Caches.clear]] so ended
    * sessions aren't pinned.
    */
  private val dfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, (String, String, Long, Long, Int)), DataFrame]

  /** Same resolved-relation cache for an arbitrary single parquet file
    * (the committed `fixtures/` reads) — see [[Fixtures.read]].
    * (TrieMap.getOrElseUpdate is atomic in 2.13; were it not, a racing
    * first load would only allocate a duplicate unresolved relation —
    * no correctness stake.)
    */
  private[graft] def readCached(spark: SparkSession,
      path: String): DataFrame = {
    val (sz, mt, h) = fileStamp(java.nio.file.Paths.get(path))
    dfCache.getOrElseUpdate((spark, (path, "", sz, mt, h)),
      spark.read.parquet(path))
  }

  private[graft] def dropSession(spark: SparkSession): Unit =
    dfCache.keysIterator.foreach { k =>
      if (k._1 eq spark) dfCache.remove(k)
    }
}

/** Engine-neutral 4-dp rounding: floor(x*10^4 + 0.5)/10^4 as identical
  * IEEE double ops in Spark and DuckDB. Engine round() builtins disagree
  * on near-tie doubles (HALF_UP on exact binary vs scaled-multiply), so
  * oracle queries use this form on BOTH sides.
  */
object Round4 {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.floor
  def apply(c: Column): Column = floor(c * 10000d + 0.5d) / 10000d
  val sql: String => String = x => s"floor(($x) * 10000 + 0.5) / 10000"
}

/** One engine query: Spark builder + optional DuckDB oracle SQL.
  *
  * The oracle SQL must produce the same column NAMES (driver sorts columns
  * by name before hashing) and a deterministic total row order.
  * `bench = true` marks headline queries timed by [[Bench]].
  *
  * `lowLatency = true` marks queries that run under the engine's
  * interactive profile (AQE materialization barriers off — each AQE query
  * stage is a separate scheduler job costing a measured ~20-45 ms on this
  * host, which dominates sub-second queries; the adaptive profile stays
  * the default for the heavy/skew-prone tier and for every correctness
  * run). Plans must be correct under BOTH profiles — the flag only trades
  * runtime re-planning for scheduling floor.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    lowLatency: Boolean = false)
