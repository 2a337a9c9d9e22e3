package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's tuned session defaults (UTC for oracle
  * parity, AQE on, shuffle partitions sized to local cores instead of
  * the 200 default — SURVEY §6 / PLANS.md "Session knobs", and a
  * codegen class cache sized to the catalog). Injects the graft_* SQL
  * functions (`VectorOps`) into the session and every `newSession()`
  * child. Every main and the test suite build their session here.
  *
  * The codegen cache size only holds if the FIRST session in the JVM
  * comes from [[build]]. `CodeGenerator`'s compiled-class cache is one
  * JVM-wide object, sized from the active conf when code is first
  * generated; `spark.sql.codegen.cache.maxEntries` is a static conf, so
  * a later session's value (or a `spark.conf.set`) does not resize it.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** The settings [[build]] applies, in order, before any
    * `SPARK_GRAFT_EXTRA_CONF` override. Data rather than builder calls
    * so SessionDefaultsSpec can check every key against the entries
    * Spark registers: Spark ignores an unknown key without a warning.
    */
  def defaults(cores: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> math.min(cores.toInt, 16).toString,
    // AQE on (runtime re-plan, skew splitting, post-shuffle coalesce —
    // the 100 TB posture). Measurement runs turn it off through
    // SPARK_GRAFT_EXTRA_CONF (README "Environment").
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // scan-partition packing: the 4 MB default models HDFS-era file
    // open costs; local/object-store parquet with ~1 MB row groups
    // packs several files per task instead of paying per-task reader
    // init 16× for a 16-file table (the MRG bench fixture, small
    // dims). Large files still split by maxPartitionBytes as before.
    "spark.sql.files.openCostInBytes" -> (512 * 1024).toString,
    // compiled-class cache, keyed by the generated Java source. The
    // default of 100 entries is below one pass over even ten catalog
    // queries, so each pass evicted what the next one needed and
    // Janino recompiled it. Measured with an unbounded cache, one
    // fresh build + count() per query at sf0.01: the 55 headline
    // queries compile 980 classes on their first sweep, the full 243
    // compile 3,372. Sized to the next power of two above the full
    // catalog. An entry keeps its source text as the key (~28 KB):
    // a full graft.Verify ends with +113 MB heap and +30 MB
    // metaspace. Static and JVM-wide: see the class doc.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_EXTRA_CONF`'s `k1=v1;k2=v2` list, in order. Blank
    * entries are skipped; an entry with no `=` or an empty key throws,
    * naming the entry, so a typo cannot quietly run the default
    * profile.
    */
  def extraConf(kvs: String): Seq[(String, String)] =
    kvs.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: malformed entry '$kv' " +
            "(expected key=value)")
      }
    }

  /** The per-query execution profile that Bench times and Profile and
    * StageBudgetSpec measure under. Reads `spark`'s own AQE and
    * shuffle-partition values once, as the adaptive base (so
    * `SPARK_GRAFT_EXTRA_CONF` still applies), and returns the switch
    * that applies a query's profile to `spark`.
    *
    * A `lowLatency` query runs with AQE's stage-materialization
    * barriers off: each AQE query stage submits as its own scheduler
    * job, and a bare job costs ~20-45 ms locally (Profile's `bare_job_ms`
    * line) — the dominant term for sub-second queries. With coalescing
    * off each reduce partition is a dispatched task, so the tier also
    * runs 8 shuffle partitions: it moves at most a few hundred kB per
    * exchange at bench scale, and 8 measured ~20-35% off q17/q40/q59
    * walls with identical results. Every other query gets the base back
    * and lets AQE coalesce (its exchanges are the ones that need width
    * at scale). Plans are correct under both profiles.
    */
  def setProfile(spark: SparkSession): QueryDef => Unit = {
    val aqeBase = spark.conf.get("spark.sql.adaptive.enabled")
    val shuffleBase = spark.conf.get("spark.sql.shuffle.partitions")
    d => {
      val aqe = if (d.lowLatency) "false" else aqeBase
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions",
        if (d.lowLatency) "8" else shuffleBase)
    }
  }

  def build(appName: String, coresOverride: Option[String] = None)
      : SparkSession = {
    val n = coresOverride.getOrElse(cpus)
    // measurement profiles, e.g. SPARK_GRAFT_EXTRA_CONF=
    // "spark.sql.shuffle.partitions=7;spark.sql.adaptive.enabled=false".
    // Tuned DEFAULTS belong in `defaults`, not in this env var.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(extraConf)
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .withExtensions(functions.VectorOps.inject)
    (defaults(n) ++ extra).foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
