package graft

import graft.config.{JobConfig, Toml}
import graft.operators.OrphanCleanup
import graft.sources._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Config parsing/validation matrix (reference config_test.go shapes),
  * pipeline phase ordering (reference main.go:125-348 / post.go:17-100),
  * and orphan-cleanup join semantics (reference clean_orphans_test.go +
  * the users/posts/comments orphan fixture, FIXTURES.md §1.1).
  */
class PipelineSpec extends AnyFunSuite {

  test("toml subset: sections, types, comments, arrays") {
    val kv = Toml.parse(
      """# top comment
        |mode = "parallel"
        |workers = 4
        |resume = false
        |[source]
        |dialect = "mysql"   # trailing comment
        |url = "jdbc:mysql://h/db?x=#notcomment"
        |[hooks]
        |before_data = ["a.sql", "b.sql"]
        |""".stripMargin)
    assert(kv("mode") == Toml.Str("parallel"))
    assert(kv("workers") == Toml.Str("4"))
    assert(kv("source.dialect") == Toml.Str("mysql"))
    assert(kv("source.url") == Toml.Str("jdbc:mysql://h/db?x=#notcomment"))
    assert(kv("hooks.before_data") == Toml.Arr(Seq("a.sql", "b.sql")))
  }

  test("toml array elements may contain commas inside quotes") {
    val kv = Toml.parse("""hooks = ["pre, with comma.sql", "b.sql"]""")
    assert(kv("hooks") == Toml.Arr(Seq("pre, with comma.sql", "b.sql")))
    val cfg = JobConfig.fromToml(
      "[hooks]\nbefore_data = [\"pre, with comma.sql\", \"b.sql\"]")
    assert(cfg.hooks("before_data") == Seq("pre, with comma.sql", "b.sql"))
  }

  test("config defaults and validation matrix") {
    val cfg = JobConfig.fromToml("mode = \"parallel\"")
    assert(cfg.chunkSize == 100000L && cfg.unloggedTables &&
      cfg.validation == "row_count")
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("nonsense_key = 1")
    }
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("resume = true\nrecreate = true")
    }
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("schema_only = true\ndata_only = true")
    }
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("mode = \"bogus\"")
    }
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("mode = \"single_tx\"\nresume = true")
    }
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("workers = 0")
    }
  }

  test("reference TOML key surface round-trips: every config.go key " +
      "(config.go:14-92) selects its mechanism") {
    val cfg = JobConfig.fromToml(
      """schema = "myapp"
        |on_schema_exists = "recreate"
        |source_snapshot_mode = "single_tx"
        |schema_only = false
        |data_only = false
        |unlogged_tables = true
        |preserve_defaults = false
        |add_unsigned_checks = true
        |clean_orphans = false
        |snake_case_identifiers = true
        |replicate_on_update_current_timestamp = true
        |workers = 4
        |index_workers = 2
        |chunk_size = 5000
        |resume = false
        |validation = "row_count"
        |[source]
        |type = "mysql"
        |dsn = "jdbc:mysql://h/db"
        |charset = "utf8mb4"
        |[target]
        |dsn = "jdbc:postgresql://h/pg"
        |[postgis]
        |enabled = true
        |create_extension = true
        |[type_mapping]
        |tinyint1_as_boolean = true
        |binary16_as_uuid = true
        |binary16_uuid_mode = "mysql_uuid_to_bin_swap"
        |datetime_as_timestamptz = true
        |json_as_jsonb = false
        |enum_mode = "native"
        |set_mode = "text_array_check"
        |widen_unsigned_integers = true
        |varchar_as_text = true
        |sanitize_json_null_bytes = false
        |unknown_as_text = true
        |collation_mode = "auto"
        |ci_as_citext = true
        |bit_mode = "varbit"
        |string_uuid_as_uuid = true
        |time_mode = "interval"
        |zero_date_mode = "error"
        |spatial_mode = "off"
        |[type_mapping.collation_map]
        |utf8mb4_general_ci = "en-US-x-icu"
        |[hooks]
        |before_data = ["a.sql"]
        |""".stripMargin)
    assert(cfg.targetSchema == "myapp" && cfg.recreate &&
      cfg.mode == "single_tx" && !cfg.preserveDefaults &&
      cfg.addUnsignedChecks && !cfg.cleanOrphans &&
      cfg.replicateOnUpdateCurrentTimestamp && cfg.workers == 4 &&
      cfg.indexWorkers == 2 && cfg.chunkSize == 5000L)
    assert(cfg.sourceDialect == "mysql" &&
      cfg.sourceUrl == "jdbc:mysql://h/db")
    assert(cfg.targetUrl == "jdbc:postgresql://h/pg")
    assert(cfg.postgisEnabled && cfg.postgisCreateExtension)
    val o = cfg.typeOptions
    assert(o.tinyint1AsBoolean && o.binary16AsUuid &&
      o.binary16UuidMode == "mysql_uuid_to_bin_swap" &&
      o.datetimeAsTimestamptz && !o.jsonAsJsonb &&
      o.enumMode == "native" && o.setMode == "text_array_check" &&
      o.varcharAsText && !o.sanitizeJsonNullBytes && o.unknownAsText &&
      o.collationMode == "auto" && o.ciAsCitext &&
      o.bitMode == "varbit" && o.stringUuidAsUuid &&
      o.timeMode == "interval" && o.zeroDateMode == "error" &&
      o.spatialMode == "off" && o.usePostGis &&
      o.collationMap == Map("utf8mb4_general_ci" -> "en-US-x-icu"))
    assert(cfg.hooks("before_data") == Seq("a.sql"))
  }

  test("type_mapping validation parity (config.go:180-319 + the " +
      "per-source ValidateTypeMapping vtables)") {
    def bad(toml: String, fragment: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        JobConfig.fromToml(toml)
      }
      assert(e.getMessage.contains(fragment), s"got: ${e.getMessage}")
    }
    bad("on_schema_exists = \"replace\"", "on_schema_exists")
    bad("source_snapshot_mode = \"snapshot\"", "source_snapshot_mode")
    bad("[type_mapping]\nenum_mode = \"custom\"", "enum_mode")
    bad("[type_mapping]\nset_mode = \"array\"", "set_mode")
    bad("[type_mapping]\ncollation_mode = \"all\"", "collation_mode")
    bad("[type_mapping]\nbit_mode = \"bits\"", "bit_mode")
    bad("[type_mapping]\nbinary16_uuid_mode = \"swap\"",
      "binary16_uuid_mode")
    // mode without the feature flag (config.go:211-214)
    bad("[type_mapping]\nbinary16_uuid_mode = \"mysql_uuid_to_bin_swap\"",
      "requires binary16_as_uuid")
    bad("[type_mapping]\ntime_mode = \"hms\"", "time_mode")
    bad("[type_mapping]\nzero_date_mode = \"skip\"", "zero_date_mode")
    bad("[type_mapping]\nspatial_mode = \"geojson\"", "spatial_mode")
    // postgis block rules (config.go:265-275)
    bad("[postgis]\ncreate_extension = true", "requires postgis.enabled")
    bad("[source]\ntype = \"sqlite\"\n[postgis]\nenabled = true",
      "only supported for mysql")
    bad("[postgis]\nenabled = true\n[type_mapping]\n" +
      "spatial_mode = \"wkb_bytea\"", "incompatible")
    // source-specific rejections
    bad("[source]\ntype = \"mssql\"\n[type_mapping]\n" +
      "tinyint1_as_boolean = true", "MySQL-only")
    bad("[source]\ntype = \"sqlite\"\n[type_mapping]\n" +
      "bit_mode = \"bit\"", "MySQL-only")
    bad("[source]\ntype = \"mysql\"\n[type_mapping]\n" +
      "nvarchar_as_text = true", "MSSQL-only")
    bad("[source]\ntype = \"mysql\"\n[type_mapping]\n" +
      "money_as_numeric = false", "MSSQL-only")
    bad("[source]\ntype = \"sqlite\"\n[type_mapping]\n" +
      "xml_as_text = true", "MSSQL-only")
    // charset is MySQL-only (config.go:283-289)
    bad("[source]\ntype = \"sqlite\"\ncharset = \"latin1\"",
      "MySQL-only")
    // sqlite has no snapshot mode (source_sqlite.go:172)
    bad("source_snapshot_mode = \"single_tx\"\n[source]\n" +
      "type = \"sqlite\"", "not supported for sqlite")
    // unknown keys still rejected, including inside type_mapping
    bad("[type_mapping]\nenum_as_text = true", "unknown config keys")
    // collation_map keys are user-chosen and always legal
    JobConfig.fromToml(
      "[type_mapping]\ncollation_mode = \"auto\"\n" +
        "[type_mapping.collation_map]\nlatin1_swedish_ci = \"C\"")
    // a non-default MySQL charset threads into the JDBC URL so every
    // connection path picks it up (source_mysql.go:52-70)
    val cs = JobConfig.fromToml(
      "[source]\ntype = \"mysql\"\ndsn = \"jdbc:mysql://h/db\"\n" +
        "charset = \"latin1\"")
    assert(cs.sourceUrl == "jdbc:mysql://h/db?characterEncoding=latin1")
    assert(graft.sources.MySqlDialect.normalizeUrl(cs.sourceUrl)
      .count(_ == '?') == 1)
    assert(!graft.sources.MySqlDialect.normalizeUrl(cs.sourceUrl)
      .contains("utf8mb4"))
  }

  private val users = TableMeta("users",
    Seq(("id", "bigint", false, None), ("name", "text", false, None)),
    primaryKey = Some(IndexMeta("pk_users", Seq("id"), isPrimary = true)))
  private val posts = TableMeta("posts",
    Seq(("id", "bigint", false, None), ("user_id", "bigint", false, None)),
    primaryKey = Some(IndexMeta("pk_posts", Seq("id"), isPrimary = true)),
    indexes = Seq(IndexMeta("ix_posts_user", Seq("user_id"))),
    foreignKeys = Seq(ForeignKeyMeta("fk_posts_user", Seq("user_id"),
      "users", Seq("id"))))

  private class Recorder extends SqlExecutor {
    val stmts = mutable.Buffer[String]()
    def execute(sql: String): Unit = stmts += sql
  }
  private object NoopLoader extends TableLoader {
    def load(t: TableMeta): Long = 42L
    def sourceCount(t: TableMeta): Long = 42L
    def targetCount(t: TableMeta): Long = 42L
  }

  test("checksum validation: digest mismatches reach the report, " +
      "digest-less loaders degrade to the count compare") {
    val digesting = new TableLoader {
      def load(t: TableMeta): Long = 1L
      def sourceCount(t: TableMeta): Long = 1L
      def targetCount(t: TableMeta): Long = 1L
      override def sourceDigest(t: TableMeta): Option[String] =
        Some("1:100")
      override def targetDigest(t: TableMeta): Option[String] =
        Some(if (t.name == "posts") "1:999" else "1:100")
    }
    val report = new MigrationPipeline(
      JobConfig(validation = "checksum"), new Recorder, digesting)
      .migrate(Seq(users, posts))
    // counts agree everywhere; only posts' content digest differs
    assert(report.validationMismatches.isEmpty)
    assert(report.checksumMismatches == Map("posts" -> ("1:100", "1:999")))
    // a loader without digest support still gets the count compare
    val countsOnly = new TableLoader {
      def load(t: TableMeta): Long = 1L
      def sourceCount(t: TableMeta): Long = 5L
      def targetCount(t: TableMeta): Long = 3L
    }
    val r2 = new MigrationPipeline(
      JobConfig(validation = "checksum"), new Recorder, countsOnly)
      .migrate(Seq(users))
    assert(r2.validationMismatches == Map("users" -> (5L, 3L)))
    assert(r2.checksumMismatches.isEmpty)
    intercept[IllegalArgumentException] {
      JobConfig.fromToml("validation = \"sha\"")
    }
  }

  test("checksum validation takes counts from the digests: no count " +
      "scans when both digests are present") {
    val countCalls = new java.util.concurrent.atomic.AtomicInteger
    val loader = new TableLoader {
      def load(t: TableMeta): Long = 1L
      def sourceCount(t: TableMeta): Long = {
        countCalls.incrementAndGet(); 1L
      }
      def targetCount(t: TableMeta): Long = {
        countCalls.incrementAndGet(); 1L
      }
      override def sourceDigest(t: TableMeta): Option[String] =
        Some(if (t.name == "posts") "5:700" else "3:100")
      override def targetDigest(t: TableMeta): Option[String] =
        Some(if (t.name == "posts") "4:700" else "3:100")
    }
    val report = new MigrationPipeline(
      JobConfig(validation = "checksum", workers = 4), new Recorder, loader)
      .migrate(Seq(users, posts))
    assert(countCalls.get == 0)
    // the count half of the digests reaches the count report
    assert(report.validationMismatches == Map("posts" -> ((5L, 4L))))
    assert(report.checksumMismatches == Map("posts" -> (("5:700", "4:700"))))
    assert(report.phaseSeconds.keySet == MigrationPipeline.Phases.toSet)
    assert(report.phaseSeconds.values.forall(_ >= 0.0))
  }

  private val more = Seq("orders", "items", "tags").map(n =>
    users.copy(name = n))

  /** Declares no width of its own and records the most loads in flight.
    * The first load waits (up to 1 s) for a second one to start, so a
    * concurrent run overlaps for certain; rows per table are the name's
    * length.
    */
  private class OverlapLoader extends TableLoader {
    private val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger
    private val met = new java.util.concurrent.CountDownLatch(2)
    def load(t: TableMeta): Long = {
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        met.countDown()
        met.await(1, java.util.concurrent.TimeUnit.SECONDS)
        Thread.sleep(20)
        t.name.length.toLong
      } finally { inFlight.decrementAndGet(); () }
    }
    def sourceCount(t: TableMeta): Long = t.name.length.toLong
    def targetCount(t: TableMeta): Long = t.name.length.toLong
    override def sourceDigest(t: TableMeta): Option[String] =
      Some(s"${t.name.length}:1")
    override def targetDigest(t: TableMeta): Option[String] =
      Some(s"${t.name.length}:1")
  }

  test("tables load concurrently within workers and report exactly " +
      "what a serial run reports") {
    val tables = Seq(users, posts) ++ more
    def run(cfg: JobConfig): (OverlapLoader, MigrationReport, Seq[String]) = {
      val rec = new Recorder
      val l = new OverlapLoader
      val r = new MigrationPipeline(cfg, rec, l).migrate(tables)
      (l, r, rec.stmts.toSeq)
    }
    val cfg = JobConfig(sourceDialect = "jdbc", validation = "checksum")
    val (serial, serialReport, serialStmts) = run(cfg.copy(workers = 1))
    val (parallel, parallelReport, parallelStmts) = run(cfg.copy(workers = 4))
    assert(serial.maxInFlight.get == 1)
    assert(parallel.maxInFlight.get >= 2 && parallel.maxInFlight.get <= 4)
    assert(parallelReport.copy(phaseSeconds = Map.empty) ==
      serialReport.copy(phaseSeconds = Map.empty))
    assert(parallelStmts == serialStmts)
    assert(parallelReport.rowsLoaded == tables.map(t =>
      t.name -> t.name.length.toLong).toMap)
    // single_tx (one snapshot connection) and SQLite sources (one worker)
    // stay sequential whatever `workers` says
    val (stx, _, _) = run(cfg.copy(workers = 4, mode = "single_tx"))
    val (lite, _, _) = run(cfg.copy(workers = 4, sourceDialect = "sqlite"))
    assert(stx.maxInFlight.get == 1 && lite.maxInFlight.get == 1)
  }

  test("a table failing while its siblings load: no new table starts, " +
      "siblings' progress persists, the first error is rethrown") {
    import graft.checkpoint.CheckpointManager
    val cpPath = java.nio.file.Files.createTempDirectory("graft-fan")
      .resolve("graft_checkpoint.json")
    val parts = Seq("job" -> "fan-out")
    val fp = CheckpointManager.fingerprint(parts)
    val cp = CheckpointManager.load(cpPath.toString, fp, parts)
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // users, posts and orders start together; posts fails at once, orders
    // fails after users has finished, items and tags never start
    val allIn = new java.util.concurrent.CountDownLatch(3)
    val usersDone = new java.util.concurrent.CountDownLatch(1)
    val loader = new TableLoader {
      def load(t: TableMeta): Long = {
        started.add(t.name)
        allIn.countDown()
        allIn.await(10, java.util.concurrent.TimeUnit.SECONDS)
        t.name match {
          case "posts" => sys.error("posts: copy failed")
          case "orders" =>
            usersDone.await(10, java.util.concurrent.TimeUnit.SECONDS)
            sys.error("orders: copy failed")
          case n =>
            Thread.sleep(100)
            cp.markDone(n, 0L, 5L)
            usersDone.countDown()
            5L
        }
      }
      def sourceCount(t: TableMeta): Long = 0L
      def targetCount(t: TableMeta): Long = 0L
    }
    val e = intercept[RuntimeException] {
      new MigrationPipeline(JobConfig(resume = true, validation = "none",
        workers = 3), new Recorder, loader, checkpoint = Some(cp))
        .migrate(Seq(users, posts) ++ more)
    }
    assert(e.getMessage == "posts: copy failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq ==
      Seq("orders: copy failed"))
    assert(started.asScala == Set("users", "posts", "orders"))
    assert(java.nio.file.Files.exists(cpPath))
    val back = CheckpointManager.load(cpPath.toString, fp, parts)
    assert(back.isTableDone("users") && back.isDone("users", 0L))
    assert(!back.isTableDone("posts") && !back.isTableDone("orders"))
  }

  test("pipeline phase order matches the reference lifecycle") {
    val rec = new Recorder
    val cfg = JobConfig()
    val hooks = Map(
      "before_data" -> "-- prep\nSET search_path TO {{schema}};",
      "after_all" -> "ANALYZE;")
    val report = new MigrationPipeline(cfg, rec, NoopLoader, hooks)
      .migrate(Seq(users, posts))
    val s = rec.stmts
    def idx(p: String => Boolean): Int = s.indexWhere(p)
    val createT = idx(_.startsWith("CREATE UNLOGGED TABLE"))
    val hook = idx(_.contains("SET search_path TO public"))
    val logged = idx(_.contains("SET LOGGED"))
    val pk = idx(_.contains("ADD PRIMARY KEY"))
    val ix = idx(_.startsWith("CREATE INDEX"))
    val fk = idx(_.contains("ADD CONSTRAINT"))
    val seq = idx(_.contains("setval"))
    val analyze = idx(_ == "ANALYZE")
    assert(createT >= 0 && hook > createT && logged > hook && pk > logged &&
      ix > pk && fk > ix && seq > fk && analyze > seq,
      s.mkString("\n"))
    assert(report.rowsLoaded == Map("users" -> 42L, "posts" -> 42L))
    assert(report.validationMismatches.isEmpty)
  }

  test("schema_only runs constraint DDL but no data/orphans/SET LOGGED; " +
      "data_only skips DDL") {
    val rec1 = new Recorder
    new MigrationPipeline(JobConfig(schemaOnly = true), rec1, NoopLoader)
      .migrate(Seq(users, posts))
    // unlogged forced off in split modes (main.go:129-132); post phase
    // still attaches PK/indexes/FKs (post.go:35-70)
    assert(rec1.stmts.exists(_.startsWith("CREATE TABLE")))
    assert(!rec1.stmts.exists(_.contains("UNLOGGED")))
    assert(!rec1.stmts.exists(_.contains("SET LOGGED")))
    assert(rec1.stmts.exists(_.contains("ADD PRIMARY KEY")))
    assert(rec1.stmts.exists(_.contains("ADD CONSTRAINT")))
    assert(!rec1.stmts.exists(_.startsWith("DELETE FROM"))) // no orphan pass
    val rec2 = new Recorder
    new MigrationPipeline(JobConfig(dataOnly = true), rec2, NoopLoader)
      .migrate(Seq(users))
    assert(!rec2.stmts.exists(_.startsWith("CREATE")))
    // data_only: triggers disabled around the load, no constraint DDL
    val disable = rec2.stmts.indexWhere(_.contains("DISABLE TRIGGER ALL"))
    val enable = rec2.stmts.indexWhere(_.contains("ENABLE TRIGGER ALL"))
    assert(disable >= 0 && enable > disable)
    assert(!rec2.stmts.exists(_.contains("ADD PRIMARY KEY")))
    assert(rec2.stmts.exists(_.contains("setval"))) // sequences still reset
  }

  test("extensions ensured before any table DDL (main.go:259-264)") {
    val rec = new Recorder
    new MigrationPipeline(JobConfig(), rec, NoopLoader)
      .migrate(Seq(users), requiredExtensions = Seq("citext", "postgis"))
    val ext = rec.stmts.indexWhere(
      _ == "CREATE EXTENSION IF NOT EXISTS \"citext\"")
    val createT = rec.stmts.indexWhere(_.startsWith("CREATE UNLOGGED TABLE"))
    assert(ext >= 0 && createT > ext)
  }

  test("data_only: triggers disabled before before_data hooks and " +
      "re-enabled on load failure (main.go:350-402)") {
    val rec = new Recorder
    val boom = new TableLoader {
      def load(t: TableMeta): Long = sys.error("copy failed")
      def sourceCount(t: TableMeta): Long = 0L
      def targetCount(t: TableMeta): Long = 0L
    }
    val hooks = Map("before_data" -> "SET search_path TO {{schema}};")
    val e = intercept[RuntimeException] {
      new MigrationPipeline(JobConfig(dataOnly = true), rec, boom, hooks)
        .migrate(Seq(users))
    }
    assert(e.getMessage == "copy failed")
    val disable = rec.stmts.indexWhere(_.contains("DISABLE TRIGGER ALL"))
    val hook = rec.stmts.indexWhere(_.contains("SET search_path"))
    val enable = rec.stmts.indexWhere(_.contains("ENABLE TRIGGER ALL"))
    // reference ordering: disable → before_data hooks → (load fails) →
    // deferred re-enable still runs
    assert(disable >= 0 && hook > disable && enable > hook)
  }

  test("recreate drops existing tables AND enum types before creating") {
    val rec = new Recorder
    new MigrationPipeline(JobConfig(recreate = true), rec, NoopLoader)
      .migrate(Seq(users, posts), enumValueSets = Seq(Seq("a", "b")))
    val drop = rec.stmts.indexWhere(
      _ == "DROP TABLE IF EXISTS \"public\".\"users\" CASCADE")
    val dropType = rec.stmts.indexWhere(_.startsWith("DROP TYPE IF EXISTS"))
    val createType = rec.stmts.indexWhere(_.contains("CREATE TYPE"))
    val create = rec.stmts.indexWhere(_.startsWith("CREATE UNLOGGED TABLE"))
    assert(drop >= 0 && dropType > drop && createType > dropType &&
      create > createType, rec.stmts.mkString("\n"))
  }

  test("enum type DDL: schema-qualified, sorted values, re-run safe, " +
      "deduped by type name not raw value order") {
    // ddl.go:152-165 contract: type created IN the target schema,
    // values declared in the hash's sorted order, duplicate_object
    // tolerated for resume
    val name = graft.sources.SchemaMapping.enumTypeName(Seq("b", "a"))
    val create = DdlGenerator.createEnumType("myschema", Seq("b", "a"))
    assert(create ==
      s"""DO $$$$ BEGIN CREATE TYPE "myschema"."$name" AS ENUM """ +
      s"""('a', 'b'); EXCEPTION WHEN duplicate_object THEN NULL; END $$$$""")
    assert(DdlGenerator.dropEnumType("myschema", Seq("b", "a")) ==
      s"""DROP TYPE IF EXISTS "myschema"."$name" CASCADE""")
    // two columns declaring the same value set in different order share
    // one type name — the pipeline must emit ONE create, not two
    val rec = new Recorder
    new MigrationPipeline(JobConfig(), rec, NoopLoader)
      .migrate(Seq(users),
        enumValueSets = Seq(Seq("b", "a"), Seq("a", "b")))
    assert(rec.stmts.count(_.contains("CREATE TYPE")) == 1,
      rec.stmts.mkString("\n"))
  }

  test("resume: done tables skip load, created tables skip CREATE, " +
      "partial progress flushes on failure, file deleted on success") {
    import graft.checkpoint.CheckpointManager
    val dir = java.nio.file.Files.createTempDirectory("graft-pcp")
    val cpPath = dir.resolve("graft_checkpoint.json")
    val parts = Seq("job" -> "pipe-resume")
    val fp = CheckpointManager.fingerprint(parts)
    // prior run: users fully done (10 rows), posts created but unloaded
    val prior = CheckpointManager.load(cpPath.toString, fp, parts)
    prior.ensureTable("users"); prior.ensureTable("posts")
    prior.markDone("users", 0L, 10L); prior.markTableDone("users")
    prior.flush()

    val cfg = JobConfig(resume = true, unloggedTables = false)
    // run A: posts load fails → checkpoint file must survive with the
    // users progress intact (flushed), and no CREATE was re-issued
    val recA = new Recorder
    val boom = new TableLoader {
      def load(t: TableMeta): Long =
        if (t.name == "posts") sys.error("net split") else 7L
      def sourceCount(t: TableMeta): Long = 0L
      def targetCount(t: TableMeta): Long = 0L
    }
    val cpA = CheckpointManager.load(cpPath.toString, fp, parts)
    val loadedTables = scala.collection.mutable.Buffer[String]()
    val spying = new TableLoader {
      def load(t: TableMeta): Long = { loadedTables += t.name; boom.load(t) }
      def sourceCount(t: TableMeta): Long = 0L
      def targetCount(t: TableMeta): Long = 0L
    }
    intercept[RuntimeException] {
      new MigrationPipeline(cfg.copy(validation = "none"), recA, spying,
        checkpoint = Some(cpA)).migrate(Seq(users, posts))
    }
    assert(loadedTables == Seq("posts")) // users was table-done → skipped
    assert(!recA.stmts.exists(_.startsWith("CREATE TABLE")))
    assert(java.nio.file.Files.exists(cpPath))

    // run B: posts succeeds → report mixes resumed and fresh counts,
    // checkpoint file is cleaned up
    val recB = new Recorder
    val cpB = CheckpointManager.load(cpPath.toString, fp, parts)
    val okLoader = new TableLoader {
      def load(t: TableMeta): Long = { cpB.markDone(t.name, 0L, 7L); 7L }
      def sourceCount(t: TableMeta): Long = 0L
      def targetCount(t: TableMeta): Long = 0L
    }
    val report = new MigrationPipeline(cfg.copy(validation = "none"), recB,
      okLoader, checkpoint = Some(cpB)).migrate(Seq(users, posts))
    assert(report.rowsLoaded == Map("users" -> 10L, "posts" -> 7L))
    assert(!java.nio.file.Files.exists(cpPath))
  }

  test("checkpoint rejects a changed job but accepts the legacy " +
      "unversioned table-list format") {
    import graft.checkpoint.CheckpointManager
    val dir = java.nio.file.Files.createTempDirectory("graft-ccp")
    val p1 = dir.resolve("cp1.json")
    val partsA = Seq("chunk_size" -> "100")
    val partsB = Seq("chunk_size" -> "500")
    val cp = CheckpointManager.load(p1.toString,
      CheckpointManager.fingerprint(partsA), partsA)
    cp.markDone("t", 0L, 5L); cp.flush()
    val e = intercept[IllegalArgumentException] {
      CheckpointManager.load(p1.toString,
        CheckpointManager.fingerprint(partsB), partsB)
    }
    assert(e.getMessage.contains("chunk_size changed"))
    // legacy shape: fingerprint + completed table-name list
    val p2 = dir.resolve("cp2.json")
    val fpB = CheckpointManager.fingerprint(partsB)
    java.nio.file.Files.writeString(p2,
      s"""{"fingerprint": "$fpB", "tables": ["users", "events"]}""")
    val legacy = CheckpointManager.load(p2.toString, fpB, partsB)
    assert(legacy.isTableDone("users") && legacy.isTableDone("events"))
    intercept[IllegalArgumentException] {
      CheckpointManager.load(p2.toString, "other-fp", partsB)
    }
  }

  test("editing a hook file between runs invalidates resume with a " +
      "reason naming the hook phase (checkpoint_compat.go:160-226)") {
    import graft.checkpoint.CheckpointManager
    val dir = java.nio.file.Files.createTempDirectory("graft-hcp")
    val cpPath = dir.resolve("cp.json")
    val cfg = JobConfig()
    val metas = Seq(users)
    val partsA = Main.compatParts(cfg, metas,
      Map("before_data" -> "SET search_path TO x;"))
    val cp = CheckpointManager.load(cpPath.toString,
      CheckpointManager.fingerprint(partsA), partsA)
    cp.markDone("users", 0L, 5L); cp.flush()
    // same config, same tables — only the hook file's contents changed
    val partsB = Main.compatParts(cfg, metas,
      Map("before_data" -> "SET search_path TO y;"))
    val e = intercept[IllegalArgumentException] {
      CheckpointManager.load(cpPath.toString,
        CheckpointManager.fingerprint(partsB), partsB)
    }
    assert(e.getMessage.contains("hooks.before_data changed"),
      e.getMessage)
    // adding a hook phase also invalidates; dropping the edit resumes
    val partsC = Main.compatParts(cfg, metas,
      Map("before_data" -> "SET search_path TO x;",
        "after_data" -> "ANALYZE;"))
    val e2 = intercept[IllegalArgumentException] {
      CheckpointManager.load(cpPath.toString,
        CheckpointManager.fingerprint(partsC), partsC)
    }
    assert(e2.getMessage.contains("hooks.after_data"), e2.getMessage)
    val again = CheckpointManager.load(cpPath.toString,
      CheckpointManager.fingerprint(partsA), partsA)
    assert(again.isDone("users", 0L))
  }

  test("orphan-cleanup SQL precedes FK attachment; SET NULL rule " +
      "nullifies (post.go:57-66,505-529)") {
    val rec = new Recorder
    new MigrationPipeline(JobConfig(), rec, NoopLoader)
      .migrate(Seq(users, posts))
    val orphan = rec.stmts.indexWhere(_.startsWith("DELETE FROM"))
    val fk = rec.stmts.indexWhere(_.contains("ADD CONSTRAINT"))
    assert(orphan >= 0 && fk > orphan)
    assert(rec.stmts(orphan).contains("c.\"user_id\" IS NOT NULL"))
    assert(rec.stmts(orphan).contains(
      "NOT EXISTS (SELECT 1 FROM \"public\".\"users\" p"))
    // SET NULL delete rule → UPDATE, not DELETE
    val setNullFk = posts.copy(foreignKeys = Seq(
      posts.foreignKeys.head.copy(onDelete = "SET NULL")))
    val rec2 = new Recorder
    new MigrationPipeline(JobConfig(), rec2, NoopLoader)
      .migrate(Seq(users, setNullFk))
    assert(rec2.stmts.exists(s =>
      s.startsWith("UPDATE") && s.contains("SET \"user_id\" = NULL")))
    // opt-out mirrors clean_orphans=false
    val rec3 = new Recorder
    new MigrationPipeline(JobConfig(cleanOrphans = false), rec3, NoopLoader)
      .migrate(Seq(users, posts))
    assert(!rec3.stmts.exists(_.startsWith("DELETE FROM")))
  }

  test("unsigned checks and on-update triggers are opt-in post steps " +
      "(post.go:102-158,436-472)") {
    val t = TableMeta("m",
      Seq(("id", "bigint", false, None), ("cnt", "bigint", false, None),
        ("updated", "timestamptz", true, None)),
      primaryKey = Some(IndexMeta("pk_m", Seq("id"), isPrimary = true)),
      unsignedColumns = Seq(("cnt", "int")),
      onUpdateColumns = Seq("updated"))
    val off = new Recorder
    new MigrationPipeline(JobConfig(), off, NoopLoader).migrate(Seq(t))
    assert(!off.stmts.exists(_.contains("CHECK")))
    assert(!off.stmts.exists(_.contains("TRIGGER")))
    val on = new Recorder
    new MigrationPipeline(JobConfig(addUnsignedChecks = true,
      replicateOnUpdateCurrentTimestamp = true), on, NoopLoader)
      .migrate(Seq(t))
    val add = on.stmts.indexWhere(_.contains(
      "CHECK (\"cnt\" >= 0 AND \"cnt\" <= 4294967295) NOT VALID"))
    val validate = on.stmts.indexWhere(_.contains("VALIDATE CONSTRAINT"))
    assert(add >= 0 && validate > add)
    assert(on.stmts.exists(_.startsWith(
      "CREATE OR REPLACE FUNCTION \"public\".\"set_updated\"()")))
    assert(on.stmts.exists(_.startsWith(
      "CREATE TRIGGER \"trg_m_updated\" BEFORE UPDATE")))
  }

  test("validation reports mismatched counts") {
    val badLoader = new TableLoader {
      def load(t: TableMeta): Long = 10L
      def sourceCount(t: TableMeta): Long = 10L
      def targetCount(t: TableMeta): Long = 9L
    }
    val report = new MigrationPipeline(JobConfig(), new Recorder, badLoader)
      .migrate(Seq(users))
    assert(report.validationMismatches == Map("users" -> ((10L, 9L))))
  }

  test("CLI loadJob: hook files resolve relative to the config dir " +
      "(hooks.go:14-38)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli")
    java.nio.file.Files.writeString(dir.resolve("pre.sql"),
      "SET search_path TO {{schema}};")
    java.nio.file.Files.writeString(dir.resolve("post.sql"), "ANALYZE;")
    val cfgPath = dir.resolve("migration.toml")
    java.nio.file.Files.writeString(cfgPath,
      """mode = "parallel"
        |[source]
        |dialect = "mysql"
        |url = "jdbc:mysql://h/db"
        |[hooks]
        |before_data = ["pre.sql"]
        |after_all = ["post.sql"]
        |""".stripMargin)
    val (cfg, hookSql) = Main.loadJob(cfgPath)
    assert(cfg.sourceDialect == "mysql" && cfg.mode == "parallel")
    assert(hookSql("before_data").contains("SET search_path"))
    assert(hookSql("after_all").contains("ANALYZE"))
    // a file with an unterminated final statement must not merge into
    // the next file's first statement
    java.nio.file.Files.writeString(dir.resolve("a.sql"),
      "CREATE VIEW a AS SELECT 1") // no trailing ;
    java.nio.file.Files.writeString(dir.resolve("b.sql"), "ANALYZE;")
    java.nio.file.Files.writeString(cfgPath,
      """[hooks]
        |after_all = ["a.sql", "b.sql"]
        |""".stripMargin)
    val (_, h2) = Main.loadJob(cfgPath)
    val stmts = graft.sources.Hooks.splitStatements(h2("after_all"))
      .filter(graft.sources.Hooks.isExecutable)
    assert(stmts.size == 2, stmts.mkString("|"))
    assert(stmts.head.contains("CREATE VIEW a") &&
      !stmts.head.contains("ANALYZE"))
  }

  test("version formatting matches the reference (version.go:10-40)") {
    assert(Main.formatVersion("1.2.3", "abcdef1234") == "1.2.3")
    assert(Main.formatVersion("dev", "unknown") == "dev")
    assert(Main.formatVersion("", "") == "dev")
    assert(Main.formatVersion("dev", "abcdef1234") == "dev-abcdef1")
    assert(Main.formatVersion("dev", "abc") == "dev-abc")
    assert(Main.shortCommit("  ") == "")
  }

  test("bare invocation dispatches to the wizard on a TTY, usage " +
      "off-terminal (main.go:74-82)") {
    assert(Main.bareDispatch(tty = true) == "wizard")
    assert(Main.bareDispatch(tty = false) == "usage")
    // the reflective Console.isTerminal probe (JDK-8305424 hardening)
    // must never throw, and under a piped test JVM must report
    // non-interactive: System.console() is null pre-22, and on 22+
    // isTerminal is false with redirected stdin — both mean false
    assert(!Main.consoleIsTty)
    // pin the lookup SITE: the method must be resolved on the public
    // java.io.Console class, never on the runtime class — on JDK 22+
    // System.console() returns the package-private ProxyingConsole,
    // where getClass.getMethod resolves to an inaccessible declaring
    // class and invoke throws IllegalAccessException (a
    // ReflectiveOperationException, NOT NoSuchMethodException — the
    // catch must span the wider type). On 17 the public lookup throws
    // NoSuchMethodException, which the probe maps to the pre-22
    // non-null-means-TTY fallback.
    val lookup = scala.util.Try(
      classOf[java.io.Console].getMethod("isTerminal"))
    if (lookup.isSuccess) // JDK 22+: public and invocable
      assert(java.lang.reflect.Modifier.isPublic(
        lookup.get.getDeclaringClass.getModifiers))
    else // JDK <= 21: must be the exception class the probe catches
      assert(lookup.failed.get.isInstanceOf[ReflectiveOperationException])
  }

  test("orphan cleanup: anti-join with MATCH SIMPLE null guard") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // users/posts/comments fixture shape with orphans + NULL components
    val parents = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val children = Seq(
      (10L, Some(1L)), (11L, Some(2L)), // valid
      (12L, Some(999L)),                // orphan
      (13L, None)                       // NULL FK → never an orphan
    ).toDF("cid", "user_id")

    val orphans = OrphanCleanup.findOrphans(children, parents,
      Seq("user_id"), Seq("id"))
    assert(orphans.select("cid").as[Long].collect().toSet == Set(12L))

    val kept = OrphanCleanup.deleteOrphans(children, parents,
      Seq("user_id"), Seq("id"))
    assert(kept.select("cid").as[Long].collect().toSet ==
      Set(10L, 11L, 13L))

    val repaired = OrphanCleanup.setNullOrphans(children, parents,
      Seq("user_id"), Seq("id"))
    val byId = repaired.collect()
      .map(r => r.getLong(r.fieldIndex("cid")) ->
        (if (r.isNullAt(r.fieldIndex("user_id"))) None
        else Some(r.getLong(r.fieldIndex("user_id"))))).toMap
    assert(byId == Map(10L -> Some(1L), 11L -> Some(2L), 12L -> None,
      13L -> None))
    assert(repaired.count() == 4)
  }
}
