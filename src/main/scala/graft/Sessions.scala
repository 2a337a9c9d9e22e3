package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's tuned session defaults (UTC for oracle
  * parity, AQE on, shuffle partitions sized to local cores instead of
  * the 200 default — SURVEY §6 / PLANS.md "Session knobs", and a
  * codegen class cache sized to the catalog). Registers the graft_*
  * native functions so SQL users get them immediately. Every main
  * builds its session here.
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

  /** Streaming state-store provider, profile-selected. The in-memory
    * HDFSBackedStateStoreProvider (Spark's default) keeps every key
    * resident in executor heap — right for the fixture-scale tests
    * and the complete-mode O(groups) counters, wrong for the
    * production frontiers whose state is ∝ unique pages (q182's
    * seen-set, q127's pair ledger): those want RocksDB's
    * off-heap/on-disk store (the provider Spark ships for exactly
    * this; state size then bounds by disk, not heap).
    * `SPARK_GRAFT_STATE_STORE=rocksdb` selects it engine-wide;
    * StreamRestartSpec drives the frontier + near-dup restarts under
    * BOTH providers so the checkpoint contract is provider-portable
    * (RocksDB state survives restarts through the same
    * checkpointLocation mechanics).
    */
  def stateStoreProvider: String =
    if (sys.env.get("SPARK_GRAFT_STATE_STORE")
        .exists(_.equalsIgnoreCase("rocksdb")))
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"
    else
      "org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider"

  /** The settings [[build]] applies, in order, before any
    * `SPARK_GRAFT_EXTRA_CONF` override. Data rather than builder calls
    * so SessionDefaultsSpec can check every key against the entries
    * Spark registers: Spark ignores an unknown key without a warning.
    */
  def defaults(cores: String): Seq[(String, String)] = {
    // AQE on by default (runtime re-plan, skew splitting, post-shuffle
    // coalesce — the 100 TB posture). SPARK_GRAFT_AQE=off exists for
    // measuring AQE's per-query stage-materialization overhead at tiny
    // local scale; production leaves it on.
    val aqe =
      !sys.env.get("SPARK_GRAFT_AQE").exists(_.equalsIgnoreCase("off"))
    Seq(
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
          math.min(cores.toInt, 16).toString),
      "spark.sql.adaptive.enabled" -> aqe.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> aqe.toString,
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
      "spark.sql.streaming.stateStore.providerClass" -> stateStoreProvider,
      "spark.ui.enabled" -> "false")
  }

  /** The per-query execution profile that Bench times and Profile and
    * StageBudgetSpec measure under. Reads `spark`'s own AQE and
    * shuffle-partition values once, as the adaptive base (so
    * `SPARK_GRAFT_AQE`, `SPARK_GRAFT_SHUFFLE` and
    * `SPARK_GRAFT_EXTRA_CONF` still apply), and returns the switch that
    * applies a query's profile to `spark`.
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
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
    defaults(n).foreach { case (k, v) => builder.config(k, v) }
    // Ad-hoc knob passthrough for measurement runs, e.g.
    // SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.coalescePartitions.parallelismFirst=false;k2=v2".
    // Tuned DEFAULTS belong in `defaults`, not in this env var.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    functions.VectorOps.register(spark)
    spark
  }
}
