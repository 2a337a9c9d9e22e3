package graft

import graft.config.JobConfig
import graft.sources._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** CLI entry point mirroring the reference's single-binary surface
  * (`main.go:20-65` cobra commands):
  *
  *  - `graft.Main migrate migration.toml` — full pipeline: introspect →
  *    DDL → chunk-parallel load → validate → post phase.
  *  - `graft.Main plan migration.toml [--json]` — dry-run analyzer,
  *    never touches the target (reference `plan.go`).
  *  - `graft.Main wizard [...]` — non-interactive config generator
  *    (delegates to [[Wizard]]).
  *
  * Live introspection dispatches to each dialect's native catalog —
  * MySQL INFORMATION_SCHEMA, SQLite pragma table-valued functions,
  * MSSQL sys.* views — with the engine-agnostic DatabaseMetaData path
  * as the fallback for any other JDBC source
  * (`source.dialect = "jdbc"`).
  */
object Main {

  /** Version string formatting (reference `version.go:10-40`): a real
    * version wins; "dev" builds append the short commit when known.
    */
  def formatVersion(version: String, commit: String): String = {
    val v = Option(version).map(_.trim).filter(_.nonEmpty).getOrElse("dev")
    if (v != "dev") v
    else shortCommit(commit) match {
      case "" => "dev"
      case c => s"dev-$c"
    }
  }

  def shortCommit(commit: String): String = {
    val c = Option(commit).map(_.trim).getOrElse("")
    if (c.isEmpty || c == "unknown") "" else c.take(7)
  }

  def versionString: String = formatVersion(
    sys.env.getOrElse("GRAFT_BUILD_VERSION", "dev"),
    sys.env.getOrElse("GRAFT_BUILD_COMMIT", "unknown"))

  /** Bare-invocation dispatch (reference `main.go:74-82`): no args on
    * an interactive terminal opens the wizard; no args off-terminal
    * (piped/CI) prints usage and exits 2. Pure so the decision is
    * testable without a TTY.
    */
  def bareDispatch(tty: Boolean): String = if (tty) "wizard" else "usage"

  /** `System.console() != null` stopped meaning "interactive" on
    * JDK ≥ 22 (JDK-8305424: a Console exists even with redirected
    * stdin); there `Console.isTerminal` carries the signal. Reflective
    * so the JDK 17 build still compiles. The lookup goes through the
    * PUBLIC declaring class `java.io.Console` — on 22+ the runtime
    * object is the package-private `ProxyingConsole`, whose
    * `getClass.getMethod` resolves to an inaccessible override and
    * `invoke` throws IllegalAccessException, not NoSuchMethodException.
    * Any reflective failure falls back to pre-22 semantics, where
    * non-null IS the TTY test.
    */
  private[graft] def consoleIsTty: Boolean = {
    val c = System.console()
    c != null && (try classOf[java.io.Console].getMethod("isTerminal")
        .invoke(c).asInstanceOf[Boolean]
      catch { case _: ReflectiveOperationException => true })
  }

  def main(args: Array[String]): Unit = args.toList match {
    case Nil if bareDispatch(consoleIsTty) == "wizard" =>
      Wizard.main(Array.empty)
    case "version" :: Nil => println(versionString)
    case "migrate" :: cfgPath :: Nil => runMigrate(Paths.get(cfgPath))
    case "plan" :: cfgPath :: rest =>
      val hooksDir = rest.dropWhile(_ != "--hooks-dir").drop(1)
        .headOption.map(Paths.get(_))
      runPlan(Paths.get(cfgPath), json = rest.contains("--json"), hooksDir)
    case "wizard" :: rest => Wizard.main(rest.toArray)
    case cfgPath :: Nil if Files.exists(Paths.get(cfgPath)) =>
      runMigrate(Paths.get(cfgPath)) // bare-path dispatch (main.go:74-82)
    case _ =>
      System.err.println(
        "usage: graft.Main (migrate|plan) migration.toml | " +
          "graft.Main wizard | graft.Main version")
      sys.exit(2)
  }

  /** Config + hook files (hook paths resolve relative to the config's
    * directory, reference `hooks.go:14-38`). `readHooks = false` skips
    * hook-file I/O — the dry-run `plan` never executes hooks and may
    * itself be the command that generates the (not-yet-existing) files.
    */
  def loadJob(cfgPath: Path,
      readHooks: Boolean = true): (JobConfig, Map[String, String]) = {
    val cfg = JobConfig.fromToml(Files.readString(cfgPath))
    val dir = Option(cfgPath.toAbsolutePath.getParent)
      .getOrElse(Paths.get("."))
    val hookSql =
      if (!readHooks) Map.empty[String, String]
      else cfg.hooks.flatMap { case (phase, paths) =>
        // terminate each file so an unterminated final statement can't
        // merge with the next file's first statement
        val sql = paths.map(p => Files.readString(dir.resolve(p)))
          .mkString("\n;\n")
        if (sql.trim.isEmpty) None else Some(phase -> sql)
      }
    (cfg, hookSql)
  }

  private def session(): SparkSession = Sessions.build("graft")

  /** MSSQL source schema — `source.source_schema` in migration.toml,
    * defaulting to dbo like the reference (`config.go:127`).
    */
  private def mssqlSchema(cfg: JobConfig): String =
    if (cfg.sourceSchema.nonEmpty) cfg.sourceSchema else "dbo"

  private def dbNameOf(url: String): String =
    url.split('/').last.takeWhile(_ != '?')

  /** Introspect the live source into TableMetas, using each dialect's
    * NATIVE catalog (the reference's fidelity: generated/computed
    * columns, default constraints, identity/rowid autoincrement) —
    * MySQL INFORMATION_SCHEMA, SQLite pragma functions, MSSQL sys.*
    * views. Any other dialect goes through the engine-agnostic
    * DatabaseMetaData path ([[sources.Introspection.fromJdbcMetadata]]),
    * so the CLI can migrate from any JDBC database
    * (`source.dialect = "jdbc"`).
    */
  def introspect(spark: SparkSession, cfg: JobConfig)
      : (Seq[SourceTable], Seq[TableMeta]) = {
    val dialect = SourceDialect(cfg.sourceDialect)
    val url = dialect.normalizeUrl(cfg.sourceUrl)
    def catalog(sql: String) =
      spark.read.format("jdbc").option("url", url)
        .option("query", sql).load()
    def rows(sql: String): Seq[org.apache.spark.sql.Row] =
      catalog(sql).collect().toSeq
    def batched(sqls: Seq[String]): Seq[org.apache.spark.sql.Row] =
      sqls.flatMap(rows)
    val (sts, fks) = cfg.sourceDialect match {
      case "mysql" =>
        val dbName = dbNameOf(url)
        Introspection.assembleMySql(
          catalog(Introspection.MySql.columnsSql(dbName)),
          catalog(Introspection.MySql.indexesSql(dbName)),
          catalog(Introspection.MySql.foreignKeysSql(dbName)))
      case "sqlite" =>
        import Introspection.Sqlite
        val tableNames = rows(Sqlite.tablesSql).map(_.getString(0))
        val createSql = rows(Sqlite.createSqlSql)
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val listRows = batched(Sqlite.indexListSqlBatches(tableNames))
        val ixPairs = listRows
          .map(r => (r.getString(0), r.getString(2))).distinct
        Introspection.assembleSqlite(
          batched(Sqlite.columnsSqlBatches(tableNames)),
          listRows,
          batched(Sqlite.indexInfoSqlBatches(ixPairs)),
          batched(Sqlite.foreignKeysSqlBatches(tableNames)),
          createSql)
      case "mssql" =>
        import Introspection.Mssql
        Introspection.assembleMssql(
          rows(Mssql.columnsSql(mssqlSchema(cfg))),
          rows(Mssql.indexesSql(mssqlSchema(cfg))),
          rows(Mssql.foreignKeysSql(mssqlSchema(cfg))),
          sourceSchema = mssqlSchema(cfg),
          onWarn = m => System.err.println(s"WARN: $m"))
      case _ =>
        val conn = java.sql.DriverManager.getConnection(url)
        try Introspection.fromJdbcMetadata(conn)
        finally conn.close()
    }
    val metas = sts.map(st => SchemaMapping.toTableMeta(dialect, st,
      fks.getOrElse(st.name, Nil), cfg.typeOptions,
      snake = cfg.snakeCaseIdentifiers,
      preserveDefaults = cfg.preserveDefaults))
    (sts, metas)
  }

  /** S7 source-objects scan (views/routines/triggers, report-only —
    * reference `source_objects.go` / `main.go:194-201`) across all
    * three native dialects; empty for generic JDBC sources.
    */
  private def sourceObjects(spark: SparkSession, cfg: JobConfig)
      : Introspection.SourceObjects = {
    val url = SourceDialect(cfg.sourceDialect).normalizeUrl(cfg.sourceUrl)
    def rows(sql: String) =
      spark.read.format("jdbc").option("url", url)
        .option("query", sql).load().collect().toSeq
    cfg.sourceDialect match {
      case "mysql" =>
        val dbName = dbNameOf(url)
        Introspection.MySql.assembleSourceObjects(
          rows(Introspection.MySql.viewsSql(dbName)),
          rows(Introspection.MySql.routinesSql(dbName)),
          rows(Introspection.MySql.triggersSql(dbName)))
      case "sqlite" =>
        Introspection.SourceObjects(
          views = rows(Introspection.Sqlite.viewsSql).map(_.getString(0)),
          triggers =
            rows(Introspection.Sqlite.triggersSql).map(_.getString(0)))
      case "mssql" =>
        Introspection.SourceObjects(
          views = rows(Introspection.Mssql.viewsSql(mssqlSchema(cfg)))
            .map(_.getString(0)),
          routines = rows(Introspection.Mssql.routinesSql(mssqlSchema(cfg)))
            .map(r => s"${r.getString(0)} ${r.getString(1)}"),
          triggers = rows(Introspection.Mssql.triggersSql(mssqlSchema(cfg)))
            .map(_.getString(0)))
      case _ => Introspection.SourceObjects()
    }
  }

  def runPlan(cfgPath: Path, json: Boolean = false,
      hooksDir: Option[Path] = None): Unit = {
    val (cfg, _) = loadJob(cfgPath, readHooks = false)
    // preflight: report (don't crash on) missing hook files — plan may
    // itself be generating them via --hooks-dir
    val cfgDir = Option(cfgPath.toAbsolutePath.getParent)
      .getOrElse(Paths.get("."))
    val missingHooks = cfg.hooks.toSeq.flatMap { case (phase, paths) =>
      paths.filterNot(p => Files.exists(cfgDir.resolve(p)))
        .map(p => s"$phase: $p")
    }
    if (missingHooks.nonEmpty)
      System.err.println("WARNING: hook files not found (migrate would " +
        s"fail): ${missingHooks.mkString(", ")}")
    val spark = session()
    try {
      val (sts, _) = introspect(spark, cfg)
      val report = PlanReport.build(cfg, sts, sourceObjects(spark, cfg))
      println(if (json) report.renderJson else report.renderText)
      // optional TODO-skeleton hook files (reference plan.go:362-495)
      hooksDir.foreach { dir =>
        Files.createDirectories(dir)
        report.hookSkeletons.foreach { case (name, body) =>
          Files.writeString(dir.resolve(name), body)
        }
      }
    } finally spark.stop()
  }

  /** Checkpoint file sits next to the config (reference
    * `checkpoint.go:128-131` — `<configDir>/pgferry_checkpoint.json`).
    */
  def checkpointPath(cfgPath: Path): Path =
    Option(cfgPath.toAbsolutePath.getParent).getOrElse(Paths.get("."))
      .resolve("graft_checkpoint.json")

  /** The compatibility surface that must match for a resume — settings
    * that affect the data-copy stage or target table state (reference
    * `checkpoint_compat.go:48-87`; pure schema-creation flags are
    * excluded for the same reason the reference excludes them).
    *
    * `hookSql` is each phase's resolved hook-file CONTENTS (reference
    * `checkpoint_compat.go:160-226` hashes hook files the same way):
    * a user who edits `before_data.sql` between runs would otherwise
    * resume with the old semantics silently half-applied, so the edit
    * must invalidate the checkpoint with a reason naming the phase.
    */
  def compatParts(cfg: JobConfig, tables: Seq[TableMeta],
      hookSql: Map[String, String] = Map.empty)
      : Seq[(String, String)] =
    hookSql.toSeq.sortBy(_._1).map { case (phase, sql) =>
      s"hooks.$phase" -> graft.checkpoint.CheckpointManager.sha256(sql)
    } ++ Seq(
    "source_dialect" -> cfg.sourceDialect,
    "source_url" -> cfg.sourceUrl,
    "target_schema" -> cfg.targetSchema,
    "mode" -> cfg.mode,
    "chunk_size" -> cfg.chunkSize.toString,
    // workers only affects the plan through the ==1 collapse to an
    // unpartitioned read (chunk id 0); flipping across that boundary
    // would misalign recorded chunk ids, so the boundary is part of
    // the fingerprint (raising 4 → 8 workers stays resumable)
    "single_worker" -> (cfg.workers == 1).toString,
    "snake_case_identifiers" -> cfg.snakeCaseIdentifiers.toString,
    "data_only" -> cfg.dataOnly.toString,
    "unlogged_tables" -> cfg.unloggedTables.toString,
    "type_options" -> cfg.typeOptions.toString,
    "tables" -> tables.map(t =>
      t.name + ":" + t.columns.map(c => c._1 + " " + c._2).mkString(","))
      .sorted.mkString(";"))

  def runMigrate(cfgPath: Path): Unit = {
    loadJob(cfgPath) // config problems fail fast, before session startup
    val spark = session()
    try runMigrateWith(cfgPath, spark)
    catch {
      case e: MigrationValidationException =>
        System.err.println(e.getMessage)
        sys.exit(1)
    } finally spark.stop()
  }

  final class MigrationValidationException(msg: String)
      extends RuntimeException(msg)

  /** The migrate flow against a caller-owned session (tests drive this
    * against the shared test session; the CLI wrapper above owns its
    * session's lifecycle and exit codes — this helper THROWS on
    * validation mismatch instead of exiting the JVM).
    */
  private[graft] def runMigrateWith(cfgPath: Path,
      spark: SparkSession): Unit = {
    val (cfg, hookSql) = loadJob(cfgPath)
    val (sts, metas) = introspect(spark, cfg)
    val report = PlanReport.build(cfg, sts)
    require(report.unsupportedColumns.isEmpty,
      "unsupported columns (set types.unknown_as_text to map to " +
        s"text): ${report.unsupportedColumns.mkString(", ")}")
    val exec = new JdbcExecutor(cfg.targetUrl)
    try {
      val checkpoint =
        if (!cfg.resume) None
        else {
          val parts = compatParts(cfg, metas, hookSql)
          Some(graft.checkpoint.CheckpointManager.load(
            checkpointPath(cfgPath).toString,
            graft.checkpoint.CheckpointManager.fingerprint(parts), parts))
        }
      // single_tx routes through the sequential one-connection snapshot
      // loader (reference migrate.go:149-259); everything else takes the
      // chunk-parallel Spark path
      val loader: TableLoader =
        if (cfg.mode == "single_tx") new SingleTxTableLoader(cfg, sts)
        else new SparkTableLoader(spark, cfg, sts, checkpoint)
      try {
        val pipeline =
          new MigrationPipeline(cfg, exec, loader, hookSql, checkpoint)
        // native enum mode: the shared FNV-named PG types referenced by
        // the column DDL must be created up front (ddl.go:132-175)
        val enumSets =
          if (cfg.typeOptions.effectiveEnumMode(cfg.sourceDialect) ==
              "native")
            sts.flatMap(_.columns
              .filter(_.dataType.equalsIgnoreCase("enum"))
              .map(c => SchemaMapping.parseEnumSetValues(c.columnType)))
              .filter(_.nonEmpty)
          else Nil
        // postgis creation is opt-in ([postgis].create_extension,
        // extensions.go:38-43); citext auto-creates (extensions.go:29)
        val createExts = report.requiredExtensions.filter {
          case "postgis" => cfg.postgisCreateExtension
          case _ => true
        }
        val result = pipeline.migrate(metas,
          enumValueSets = enumSets,
          requiredExtensions = createExts)
        println(s"migrated ${result.tablesCreated.size} tables, " +
          s"${result.rowsLoaded.values.sum} rows, " +
          s"${result.statementsExecuted} statements (" +
          MigrationPipeline.Phases.map(p => f"$p " +
            f"${result.phaseSeconds.getOrElse(p, 0.0)}%.2f s")
            .mkString(", ") + ")")
        // a checksum mismatch fails the run like a count mismatch: the
        // source digest reads the source through the load's transforms
        val failures =
          (if (result.validationMismatches.isEmpty) Nil
           else Seq(s"VALIDATION MISMATCHES: ${result.validationMismatches}")) ++
            result.checksumMismatches.toSeq.sortBy(_._1).map {
              case (t, (src, tgt)) =>
                s"CHECKSUM MISMATCH on table $t: source $src, target $tgt"
            }
        if (failures.nonEmpty)
          throw new MigrationValidationException(failures.mkString("\n"))
      } finally loader match {
        case c: AutoCloseable => c.close()
        case _ => ()
      }
    } finally exec.close()
  }
}

/** Target-side executor over a plain JDBC connection (one connection,
  * driver-side DDL — the reference uses a pgx pool the same way).
  */
final class JdbcExecutor(url: String) extends SqlExecutor
    with AutoCloseable {
  private var opened: java.sql.Connection = null
  private def conn: java.sql.Connection = synchronized {
    if (opened == null) opened = java.sql.DriverManager.getConnection(url)
    opened
  }
  def close(): Unit = synchronized {
    if (opened != null) { opened.close(); opened = null }
  }
  def execute(sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Parallel pool with ONE connection per worker thread (workers pull
    * statements from a shared queue) and first-error cancellation — the
    * reference's index-build pool (`post.go:292-366`: errgroup with
    * context cancel). Connect failures are captured like statement
    * failures, and the pool always shuts down.
    */
  override def executeAll(sqls: Seq[String], workers: Int): Unit = {
    if (sqls.isEmpty) return
    val n = math.max(1, math.min(workers, sqls.size))
    if (n == 1) { sqls.foreach(execute); return }
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sqls.foreach(queue.add)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map(_ => pool.submit(new Runnable {
        def run(): Unit =
          try {
            val c = java.sql.DriverManager.getConnection(url)
            try {
              var sql = queue.poll()
              while (sql != null && failed.get() == null) {
                val st = c.createStatement()
                try st.execute(sql) finally st.close()
                sql = queue.poll()
              }
            } finally c.close()
          } catch {
            case e: Throwable => failed.compareAndSet(null, e); ()
          }
      }))
      futures.foreach(_.get())
    } finally pool.shutdown()
    if (failed.get() != null) throw failed.get()
  }
}

/** Spark-powered load path: chunk-parallel JDBC read of each table
  * (MIN/MAX planning + predicate partitions), per-partition batched
  * writes to the target (reference `migrate.go:44-147` worker fan-out
  * as Spark tasks).
  *
  * Resume (reference `migrate.go:78-121`): chunk ids are positions in
  * the FULL deterministic predicate plan; completed ids are skipped
  * before the read, and each chunk is recorded in the checkpoint ON THE
  * DRIVER as its task completes (`SparkContext.runJob` result handler —
  * the Spark analog of the reference's per-chunk `RecordChunk`), so a
  * job that dies mid-table still persists every finished chunk. A chunk
  * is one committed transaction, so the record-after-commit window is
  * the same at-least-once semantics the reference has.
  */
final class SparkTableLoader(
    spark: SparkSession, cfg: JobConfig,
    sourceTables: Seq[SourceTable],
    checkpoint: Option[graft.checkpoint.CheckpointManager] = None)
    extends TableLoader {

  private val dialect = SourceDialect(cfg.sourceDialect)
  private val srcUrl = dialect.normalizeUrl(cfg.sourceUrl)
  private val bySource: Map[String, SourceTable] =
    sourceTables.map(st => SchemaMapping.pgName(st.name,
      cfg.snakeCaseIdentifiers) -> st).toMap

  /** Axis-order capability for S5 scan rewrites — probed once over a
    * short-lived driver-side connection, and only when a MySQL →
    * PostGIS job can need it (reference `source_mysql.go:64-79`).
    */
  private lazy val scanCaps: graft.sources.ScanCaps =
    if (dialect.name == "mysql" && cfg.typeOptions.usePostGis &&
        sourceTables.exists(st =>
          dialect.needsScanRewrite(st.columns, cfg.typeOptions))) {
      val c = java.sql.DriverManager.getConnection(srcUrl)
      try graft.sources.ScanCaps.probe(c) finally c.close()
    } else graft.sources.ScanCaps()

  private def chunkKey(st: SourceTable): Option[String] =
    st.indexes.find(_.isPrimary).map(_.columns).collect {
      case Seq(single) => st.columns.find(_.name == single)
    }.flatten.collect {
      // single-column signed-integer PK only (chunk.go:96-150)
      case c if Set("tinyint", "smallint", "mediumint", "int",
        "integer", "bigint")(c.dataType.toLowerCase) &&
        !c.columnType.toLowerCase.contains("unsigned") => c.name
    }

  private def scalarLong(sql: String): Option[(Long, Long)] = {
    val df = spark.read.format("jdbc").option("url", srcUrl)
      .option("query", sql).load().collect()
    df.headOption.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) None
      // MIN/MAX over an INT/SMALLINT key comes back as the narrower
      // boxed type — go through Number, not getLong
      else Some((r.get(0).asInstanceOf[Number].longValue(),
        r.get(1).asInstanceOf[Number].longValue()))
    }
  }

  /** The source relation as the load copies it, one partition per
    * predicate (empty `preds`: one unpartitioned read). S5: when any
    * column's scan expression differs from the plain quoted name, the
    * relation becomes a rewritten derived table — the source engine
    * renders CLR/spatial values in target form.
    */
  private def sourceFrame(st: SourceTable, key: Option[String],
      preds: Array[String]): org.apache.spark.sql.DataFrame = {
    val scanQuery =
      if (dialect.needsScanRewrite(st.columns, cfg.typeOptions, scanCaps))
        Some(dialect.scanSql(st.name, st.columns,
          cfg.typeOptions, scanCaps))
      else None
    transformed(st, JdbcSource.readWithPredicates(spark, dialect,
      JdbcSource.ReadSpec(cfg.sourceUrl, st.name, key,
        scanQuery = scanQuery), preds))
  }

  /** The config-selected per-column transforms (reference
    * migrate.go:459-466) over a source read: what the load writes and
    * what the source digest reads.
    */
  private[graft] def transformed(st: SourceTable,
      raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.functions.Transforms.applyTo(raw, st.columns, dialect.name,
      cfg.typeOptions)

  def load(table: TableMeta): Long = {
    val st = bySource(table.name)
    val key = chunkKey(st)
    val bounds = key.flatMap(k =>
      scalarLong(JdbcSource.planningSql(dialect, st.name, k)))
    // single_tx never reaches this loader (Main routes it to
    // SingleTxTableLoader, the true one-connection snapshot path)
    val workers = cfg.workers
    // full deterministic chunk plan; chunk id = plan position
    val allPreds = key
      .map(k => JdbcSource.partitionPredicates(dialect, k, bounds,
        cfg.chunkSize, workers))
      .getOrElse(Array.empty)
    val planChunks = math.max(allPreds.length, 1)
    // Chunk ids are plan positions, and the plan derives from live
    // MIN/MAX — if the source's key range shifted since the checkpoint
    // was written (rows added past max, min rows deleted), the same id
    // would denote a DIFFERENT range and a skip would silently lose
    // rows. The recorded chunk count detects that drift; fail fast
    // instead of resuming against a misaligned plan.
    checkpoint.foreach { cp =>
      cp.chunkCount(table.name).filter(_ > 0).foreach { recorded =>
        if (recorded != planChunks)
          throw new IllegalStateException(
            s"cannot resume ${table.name}: the chunk plan has " +
              s"$planChunks chunk(s) but the checkpoint recorded " +
              s"$recorded — the source key range changed since the " +
              "checkpoint was written. Delete the checkpoint file to " +
              "restart this table from scratch.")
      }
    }
    val todo: Array[(String, Long)] =
      if (allPreds.isEmpty) Array(("<full>", 0L))
      else allPreds.zipWithIndex.map { case (p, i) => (p, i.toLong) }
        .filterNot { case (_, id) =>
          checkpoint.exists(_.isDone(table.name, id))
        }
    checkpoint.foreach(_.setChunkCount(table.name, planChunks))
    if (allPreds.nonEmpty && todo.isEmpty) return 0L
    if (allPreds.isEmpty && checkpoint.exists(_.isDone(table.name, 0L)))
      return 0L
    val df = sourceFrame(st, key,
      if (allPreds.isEmpty) Array.empty else todo.map(_._1))
    val targetUrl = cfg.targetUrl
    // target columns carry the MAPPED identifiers (snake_case /
    // lowercased) — the INSERT must use those, in the source column
    // order the DataFrame delivers
    val targetCols = df.columns.toSeq.map(c =>
      SchemaMapping.pgName(c, cfg.snakeCaseIdentifiers))
    val writer = CopySink.chooseWriter(targetUrl, cfg.targetSchema,
      table.name, targetCols, 1000)
    // single source pass: each partition writes its rows and yields its
    // count (reference migrate.go:448-473 running counter). runJob's
    // result handler fires on the driver PER COMPLETED PARTITION, so
    // chunk completions checkpoint incrementally, not only at job end.
    // A chunk failure does NOT cancel the job: the task catches its own
    // write error so sibling chunks run to completion and get recorded —
    // the reference's errCh semantics (migrate.go:101-140), where one bad
    // chunk costs one chunk of rework on resume, not the whole table.
    val chunkIds = todo.map(_._2)
    val tableName = table.name
    var newRows = 0L
    var chunksDone = 0
    var lastLog = System.currentTimeMillis()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val writeChunk = (it: Iterator[org.apache.spark.sql.Row]) => {
      val res: Either[String, Long] =
        try Right(CopySink.writePartition(it,
          () => java.sql.DriverManager.getConnection(targetUrl), writer))
        catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
      res
    }
    spark.sparkContext.runJob(
      df.rdd,
      writeChunk,
      (idx: Int, res: Either[String, Long]) => res match {
        case Right(n) =>
          checkpoint.foreach(_.markDone(tableName, chunkIds(idx), n))
          newRows += n
          chunksDone += 1
          // progress cadence: every 10 s per table (migrate.go:469-472)
          val now = System.currentTimeMillis()
          if (now - lastLog >= 10000L) {
            lastLog = now
            System.err.println(s"  [$tableName] $chunksDone/" +
              s"${chunkIds.length} chunks, $newRows rows copied")
          }
        case Left(err) =>
          failures += s"chunk ${chunkIds(idx)}: $err"
          ()
      })
    if (failures.nonEmpty)
      throw new RuntimeException(
        s"${failures.size} chunk(s) of $tableName failed migration: " +
          failures.mkString("; "))
    newRows
  }

  private def count(url: String, qualified: String): Long =
    spark.read.format("jdbc").option("url", url)
      .option("query", s"SELECT COUNT(*) AS n FROM $qualified")
      .load().collect().head.get(0).asInstanceOf[Number].longValue()

  def sourceCount(table: TableMeta): Long =
    count(srcUrl, dialect.quote(bySource(table.name).name))

  def targetCount(table: TableMeta): Long =
    count(cfg.targetUrl, qualifiedTarget(table.name))

  private def qualifiedTarget(name: String): String = {
    val t = SchemaMapping.pgIdent(name)
    if (cfg.targetSchema == null || cfg.targetSchema.isEmpty) t
    else SchemaMapping.pgIdent(cfg.targetSchema) + "." + t
  }

  /** Order-insensitive content digest: every row canonicalizes to a
    * \u0001-joined string of its column values (NULL → a sentinel no
    * real cast produces), md5's leading 15 hex chars (60 bits) become
    * an integer, and the digest is COUNT plus the exact DECIMAL(38,0)
    * sum of those integers — commutative, so chunk order, partitioning
    * and engine scan order are all irrelevant, and both sides reduce
    * to one number without any sort or row transfer to the driver.
    * Both digests canonicalize through SPARK casts on the SAME column
    * order (source order / its mapped target names), so engine-side
    * formatting differences never enter the comparison. The source
    * side digests [[sourceFrame]], so a column the load always
    * transforms (MySQL `year`, MSSQL `uniqueidentifier`) digests in
    * the form the target received.
    */
  private[graft] def digest(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000NULL"))): _*)
    val h = conv(substring(md5(canon.cast("binary")), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))
    val r = df.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      sum(h).as("d")).collect().head
    val d = Option(r.getDecimal(1)).map(_.toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
    s"${r.getLong(0)}:$d"
  }

  override def sourceDigest(table: TableMeta): Option[String] = {
    val st = bySource(table.name)
    Some(digest(sourceFrame(st, None, Array.empty), st.columns.map(_.name)))
  }

  override def targetDigest(table: TableMeta): Option[String] = {
    val st = bySource(table.name)
    // the mapped identifiers, in SOURCE column order — digests compare
    // column-for-column
    val cols = st.columns.map(c =>
      SchemaMapping.pgName(c.name, cfg.snakeCaseIdentifiers))
    val df = spark.read.format("jdbc").option("url", cfg.targetUrl)
      .option("dbtable", qualifiedTarget(table.name)).load()
    Some(digest(df, cols))
  }
}
