package graft

import graft.config.JobConfig
import graft.sources._

/** Target-side statement executor boundary. Production wires a JDBC
  * connection to PostgreSQL; tests record. The pipeline only speaks SQL
  * strings through this seam.
  */
trait SqlExecutor {
  def execute(sql: String): Unit

  /** Execute INDEPENDENT statements with up to `workers` parallelism
    * (the reference's index-build pool, `post.go:292-366`). Default is
    * serial, so recording/test executors keep deterministic order;
    * [[JdbcExecutor]] overrides with a real pool + first-error cancel.
    */
  def executeAll(sqls: Seq[String], workers: Int): Unit =
    sqls.foreach(execute)
}

/** Per-table load callback: given the table, stream its data to the
  * target and return rows written. In production this is a Spark job —
  * chunked JDBC read (ChunkPlanner predicates) → transform projection →
  * CopySink.write; the pipeline only cares about orchestration order.
  */
trait TableLoader {
  def load(table: TableMeta): Long
  /** Source-side row count for validation (reference `validate.go:34-36`). */
  def sourceCount(table: TableMeta): Long
  /** Target-side row count (reference `validate.go:87-98`). */
  def targetCount(table: TableMeta): Long
  /** Order-insensitive content digest of the source table
    * (`"<count>:<sum of per-row md5 prefixes>"`) for `validation =
    * "checksum"` — BEYOND the reference, which only compares counts
    * (`validate.go:42-135`): equal counts with corrupted, truncated or
    * default-filled values still pass a count check. None = this
    * loader can't compute digests (checksum validation then degrades
    * to the count compare for the table).
    */
  def sourceDigest(table: TableMeta): Option[String] = None
  /** Target-side content digest; see [[sourceDigest]]. */
  def targetDigest(table: TableMeta): Option[String] = None
}

final case class MigrationReport(
    tablesCreated: Seq[String],
    rowsLoaded: Map[String, Long],
    validationMismatches: Map[String, (Long, Long)],
    statementsExecuted: Int,
    checksumMismatches: Map[String, (String, String)] = Map.empty,
    phaseSeconds: Map[String, Double] = Map.empty)

object MigrationPipeline {
  /** The phases [[MigrationReport.phaseSeconds]] times, in run order. */
  val Phases: Seq[String] = Seq("ddl", "load", "validate", "post")

  /** The count half of a `"<count>:<sum>"` digest. */
  private def digestCount(digest: String): Option[Long] =
    digest.takeWhile(_ != ':').toLongOption

  /** `f` over `items` on up to `width` threads, results in item order.
    * After the first failure no further item starts; items already
    * running finish (so a load's completed chunks still reach the
    * checkpoint), then the first error is rethrown with the later ones
    * attached as suppressed. Width 1 runs on the calling thread.
    */
  private def fanOut[A, B](items: Seq[A], width: Int)(
      f: A => B): Seq[B] = {
    val n = math.min(width, items.size)
    if (n <= 1) return items.map(f)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val results = try {
      items.map(a => pool.submit(new java.util.concurrent.Callable[
        Option[B]] {
        def call(): Option[B] =
          if (!errors.isEmpty) None
          else try Some(f(a)) catch {
            case e: Throwable => errors.add(e); None
          }
      })).map(_.get())
    } finally pool.shutdown()
    if (!errors.isEmpty) {
      val first = errors.poll()
      errors.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.map(_.get)
  }
}

/** The reference's migration lifecycle (`main.go:125-348` +
  * `post.go:17-100`), re-expressed as driver-side orchestration around
  * Spark load jobs. Phase order is load-bearing and mirrored exactly:
  *
  *  1. create enum types, then bare (optionally UNLOGGED) tables
  *  2. before_data hooks → data load → after_data hooks
  *  3. row-count validation
  *  4. post: SET LOGGED → primary keys → indexes → before_fk hooks →
  *     orphan cleanup (anti-join, delegated to [[operators]]) → foreign
  *     keys → sequence resets → after_all hooks
  *
  * schema_only skips 2-3 (and SET LOGGED / orphan cleanup) but still
  * attaches constraints in 4; data_only skips 1 and all post DDL except
  * sequence resets (reference `main.go:288-326,350-402`,
  * `post.go:17-100`).
  *
  * Concurrency: the data phase loads up to `workers` tables at once (the
  * reference puts every chunk of every table behind one `workers`
  * semaphore, `migrate.go:65-120`); SQLite sources and `single_tx` load
  * one table at a time. Validation runs each table's source and target
  * scan as separate tasks in one pool of `min(workers, 2 × tables)`.
  * DDL stays on the calling thread.
  */
final class MigrationPipeline(
    cfg: JobConfig,
    exec: SqlExecutor,
    loader: TableLoader,
    hookSql: Map[String, String] = Map.empty,
    checkpoint: Option[graft.checkpoint.CheckpointManager] = None) {

  private var stmtCount = 0
  private def run(sql: String): Unit = { stmtCount += 1; exec.execute(sql) }

  private def runHooks(phase: String): Unit =
    hookSql.get(phase).toSeq.flatMap(Hooks.splitStatements)
      .filter(Hooks.isExecutable)
      .map(Hooks.substituteSchema(_, cfg.targetSchema))
      .foreach(run)

  def migrate(tables: Seq[TableMeta],
      enumValueSets: Seq[Seq[String]] = Nil,
      requiredExtensions: Seq[String] = Nil): MigrationReport = {
    import MigrationPipeline.{digestCount, fanOut}
    val schema = cfg.targetSchema
    val phaseSeconds = scala.collection.mutable.LinkedHashMap[String, Double]()
    var phaseStart = System.nanoTime()
    def endPhase(name: String): Unit = {
      val now = System.nanoTime()
      phaseSeconds(name) = (now - phaseStart) / 1e9
      phaseStart = now
    }
    // UNLOGGED only pays off for the bulk load; split modes force it off
    // (reference main.go:129-132)
    val unlogged = cfg.unloggedTables && !cfg.schemaOnly && !cfg.dataOnly

    // 0. required extensions (citext for _ci collations, postgis for
    // spatial) are ensured before any schema or data work — in ALL
    // modes, since geometry/citext DDL and COPY both depend on them
    // (reference main.go:255-264 / extensions.go:101-131).
    requiredExtensions.distinct.foreach(ext =>
      run(s"CREATE EXTENSION IF NOT EXISTS ${SchemaMapping.pgIdent(ext)}"))

    // 1. schema phase. recreate drops existing targets first (reference
    // on_schema_exists=recreate, main.go:448-452). Resume skips CREATE
    // for tables the prior run already created (recorded in the
    // checkpoint as table presence) — without this, a resumed run would
    // die on the first duplicate CREATE TABLE.
    if (!cfg.dataOnly) {
      // Dedup by the hash-derived TYPE NAME, not the raw value order:
      // two enum columns declaring the same values in different order
      // share one PG type (reference ddl.go:149-156 `created` map), so
      // raw-order distinct would emit two CREATEs for one name.
      val enumSets = enumValueSets
        .groupBy(vs => SchemaMapping.enumTypeName(vs))
        .values.map(_.head).toSeq
      if (cfg.recreate) {
        tables.foreach(t => run(DdlGenerator.dropTable(schema, t.name)))
        // recreate really does want the types gone (value sets may have
        // changed source-side); create below is idempotent regardless
        enumSets.foreach(vs => run(DdlGenerator.dropEnumType(schema, vs)))
      }
      enumSets.foreach(vs => run(DdlGenerator.createEnumType(schema, vs)))
      // flush in a finally: if a CREATE fails mid-loop, the tables
      // already created must reach the checkpoint file or the next
      // resume re-issues their CREATE and dies on duplicate tables
      try tables.foreach { t =>
        if (!checkpoint.exists(_.hasTable(t.name))) {
          run(DdlGenerator.createTable(schema, t, unlogged = unlogged))
          checkpoint.foreach(_.ensureTable(t.name))
        }
      } finally checkpoint.foreach(_.flush())
    }
    endPhase("ddl")

    // 2. data phase (hooks bracket the load, reference main.go:288-326).
    // data_only loads into a pre-existing constrained schema, so target
    // triggers are disabled BEFORE the before_data hooks and re-enabled
    // in a finally even when the load or a hook fails — otherwise FK
    // constraint triggers would stay off (reference main.go:350-402
    // disables first, then defers re-enable joining both errors).
    def setTriggers(enable: Boolean): Unit =
      tables.foreach(t => run(
        s"ALTER TABLE ${SchemaMapping.pgIdent(schema)}." +
          s"${SchemaMapping.pgIdent(t.name)} " +
          (if (enable) "ENABLE" else "DISABLE") + " TRIGGER ALL"))
    // Fully-done tables are skipped outright on resume; partially-done
    // tables re-enter loader.load, which skips completed chunks
    // internally. Tables load concurrently (see the class doc); on
    // ANY load failure no further table starts, the loads in flight
    // finish, and the checkpoint flushes their partial progress before
    // the first error propagates (reference migrate.go:122-146); after a
    // fully-successful data phase the file is deleted — nothing remains
    // to resume (migrate.go:251-254).
    def dataPhase(): Map[String, Long] = {
      runHooks("before_data")
      val loadWidth =
        if (cfg.mode == "single_tx") 1
        else SourceDialect(cfg.sourceDialect).maxWorkers(cfg.workers)
      val loaded =
        try fanOut(tables, loadWidth) { t =>
          checkpoint match {
            case Some(cp) if cp.isTableDone(t.name) =>
              t.name -> cp.rowsCopied(t.name)
            case cp =>
              val n = loader.load(t)
              cp.foreach(_.markTableDone(t.name))
              // resumed tables report prior + new rows; without a
              // checkpoint the loader's count is the total
              t.name -> cp.map(_.rowsCopied(t.name)).getOrElse(n)
          }
        }.toMap
        catch {
          case e: Throwable =>
            checkpoint.foreach(_.flush())
            throw e
        }
      runHooks("after_data")
      checkpoint.foreach(_.cleanup())
      loaded
    }
    val loaded =
      if (cfg.schemaOnly) Map.empty[String, Long]
      else if (!cfg.dataOnly) dataPhase()
      else {
        setTriggers(enable = false)
        var failed: Throwable = null
        try dataPhase()
        catch { case e: Throwable => failed = e; throw e }
        finally {
          try setTriggers(enable = true)
          catch {
            case e: Throwable =>
              if (failed != null) failed.addSuppressed(e) else throw e
          }
        }
      }

    endPhase("load")

    // 3. validation (reference validate.go:42-135; skipped in
    // schema_only — there is no data to compare, main.go:328-339).
    // Every table's source and target scan is its own task in one pool
    // bounded by `workers`, like the reference's validation pool, so a
    // large table's two scans overlap instead of queueing. checksum
    // validation adds content equality to the reference's count compare
    // and takes the counts from the same scan (a digest is
    // "<count>:<sum>"); a table whose loader can't digest (None) falls
    // back to the count compare. The largest tables (by rows loaded)
    // start first, so the longest scans do not queue behind short ones.
    val width = math.max(1, math.min(cfg.workers, 2 * tables.size))
    val bySize = tables.sortBy(t => -loaded.getOrElse(t.name, 0L))
    def bothSides[T](ts: Seq[TableMeta])(src: TableMeta => T,
        tgt: TableMeta => T): Seq[(TableMeta, T, T)] = {
      val r = fanOut(ts.flatMap(t => Seq((t, true), (t, false))), width) {
        case (t, isSrc) => if (isSrc) src(t) else tgt(t)
      }.toIndexedSeq
      ts.indices.map(i => (ts(i), r(2 * i), r(2 * i + 1)))
    }
    val validating =
      Set("row_count", "checksum")(cfg.validation) && !cfg.schemaOnly
    val digests =
      if (validating && cfg.validation == "checksum")
        bothSides(bySize)(loader.sourceDigest, loader.targetDigest)
      else Nil
    val digestCounts = digests.flatMap {
      case (t, Some(s), Some(d)) =>
        for (a <- digestCount(s); b <- digestCount(d)) yield (t, a, b)
      case _ => None
    }
    val counted = digestCounts.map(_._1.name).toSet
    val counts =
      if (!validating) Nil
      else digestCounts ++ bothSides(bySize.filterNot(t => counted(t.name)))(
        loader.sourceCount, loader.targetCount)
    val mismatches = counts.collect {
      case (t, src, tgt) if src != tgt => t.name -> (src, tgt)
    }.toMap
    val checksumMismatches = digests.collect {
      case (t, Some(src), Some(tgt)) if src != tgt => t.name -> (src, tgt)
    }.toMap
    endPhase("validate")

    // 4. post phase (reference post.go:17-100 order). data_only skips
    // all DDL (constraints already exist on the pre-created schema) —
    // only sequences and after_all hooks apply. schema_only runs the
    // constraint DDL but skips SET LOGGED (tables were created LOGGED)
    // and orphan cleanup (no data).
    if (!cfg.dataOnly) {
      if (unlogged)
        tables.foreach(t => run(DdlGenerator.setLogged(schema, t.name)))
      tables.foreach(t => DdlGenerator.addPrimaryKey(schema, t).foreach(run))
      // secondary indexes build in parallel (index_workers pool,
      // reference post.go:292-366) — they are independent statements.
      // Unsupported shapes (expression/prefix key-parts, FULLTEXT/
      // SPATIAL, empty column lists) are SKIPPED here exactly as the
      // reference's planIndexJobs does (index_compat.go:5-31,
      // post.go:247-259) — previously only the `plan` dry-run applied
      // the rule and the migrate path emitted invalid DDL for them
      // (caught by SqliteContractSpec's partial-index replay).
      val ixSql = tables.flatMap(t => t.indexes.filterNot(_.isPrimary)
        .filter(ix => PlanReport.indexSkipReason(ix).isEmpty &&
          ix.columns.nonEmpty)
        .map(ix => DdlGenerator.createIndex(schema, t.name, ix)))
      stmtCount += ixSql.size
      exec.executeAll(ixSql, cfg.indexWorkers)
      runHooks("before_fk")
      // orphan cleanup precedes FK attachment so ADD CONSTRAINT cannot
      // fail on pre-existing orphans (reference post.go:57-66; MySQL
      // admits them via SET FOREIGN_KEY_CHECKS=0)
      if (cfg.cleanOrphans && !cfg.schemaOnly)
        tables.foreach(t => t.foreignKeys.foreach(fk =>
          run(DdlGenerator.cleanOrphansSql(schema, t.name, fk))))
      tables.foreach(t => t.foreignKeys
        .foreach(fk => run(DdlGenerator.addForeignKey(schema, t.name, fk))))
    }
    tables.foreach { t =>
      t.columns.collectFirst {
        case (name, pgType, _, _)
          if t.primaryKey.exists(_.columns == Seq(name)) &&
            (pgType == "bigint" || pgType == "integer" ||
              pgType == "smallint") =>
          run(DdlGenerator.resetSequence(schema, t.name, name))
      }
    }
    if (!cfg.dataOnly) {
      if (cfg.addUnsignedChecks)
        tables.foreach(t => t.unsignedColumns.foreach { case (c, dt) =>
          DdlGenerator.unsignedCheck(schema, t.name, c, dt).foreach(run)
        })
      if (cfg.replicateOnUpdateCurrentTimestamp)
        tables.foreach(t => t.onUpdateColumns.foreach(c =>
          DdlGenerator.onUpdateTrigger(schema, t.name, c).foreach(run)))
    }
    runHooks("after_all")
    endPhase("post")

    MigrationReport(tables.map(_.name), loaded, mismatches, stmtCount,
      checksumMismatches, phaseSeconds.toMap)
  }
}
