package graft.sources

import graft.{SourceTable, TableLoader}
import graft.config.JobConfig
import java.sql.{Connection, DriverManager, ResultSet}

/** Sequential one-connection read path for `mode = "single_tx"` — true
  * snapshot semantics matching the reference (`migrate.go:149-259`):
  * EVERY table is read over ONE source connection inside ONE read-only
  * transaction (REPEATABLE READ via the JDBC isolation API, plus the
  * dialect's session statement — MSSQL's `SNAPSHOT`, MySQL's explicit
  * `SET SESSION ...`), so a concurrently-written source yields a
  * consistent cross-table state. The parallel Spark path cannot express
  * this (each task owns its own connection at a different point in
  * time); this loader trades read parallelism for isolation, exactly
  * the reference's trade. The TARGET side still batches through
  * [[CopySink]] unchanged.
  *
  * Lifecycle: the connection opens lazily on the first table, stays
  * open across all `load`/`sourceCount` calls (counts are
  * snapshot-consistent with the copied rows — `validate.go` reads
  * counts in the same transaction for the same reason), and commits on
  * `close()`.
  */
final class SingleTxTableLoader(
    cfg: JobConfig, sourceTables: Seq[SourceTable])
    extends TableLoader with AutoCloseable {

  private val dialect = SourceDialect(cfg.sourceDialect)
  private val srcUrl = dialect.normalizeUrl(cfg.sourceUrl)
  private val bySource: Map[String, SourceTable] =
    sourceTables.map(st => SchemaMapping.pgName(st.name,
      cfg.snakeCaseIdentifiers) -> st).toMap

  /** Source connections ever opened — the single_tx contract is that
    * this never exceeds 1 (asserted by `JdbcIntegrationSpec`).
    */
  private[graft] var connectionsOpened = 0
  private var opened: Connection = null

  private def conn: Connection = synchronized {
    if (opened == null) {
      opened = DriverManager.getConnection(srcUrl)
      connectionsOpened += 1
      dialect.snapshotSessionSql.foreach { sql =>
        val st = opened.createStatement()
        try st.execute(sql) finally st.close()
      }
      // best-effort on engines whose driver rejects the level — the
      // dialect statement above is the authoritative switch there
      try opened.setTransactionIsolation(
        Connection.TRANSACTION_REPEATABLE_READ)
      catch { case _: java.sql.SQLException => () }
      opened.setAutoCommit(false) // one transaction spans all tables
    }
    opened
  }

  /** Axis-order capability, probed once on the shared connection and
    * only when a MySQL→PostGIS scan can need it (reference
    * `source_mysql.go:64-79` probes at Connect) — the same gate as
    * the parallel path's, including the per-table rewrite check, so
    * the S5 probe policy stays single-sourced across both loaders.
    */
  private lazy val scanCaps: ScanCaps =
    if (dialect.name == "mysql" && cfg.typeOptions.usePostGis &&
        sourceTables.exists(st =>
          dialect.needsScanRewrite(st.columns, cfg.typeOptions)))
      ScanCaps.probe(conn)
    else ScanCaps()

  def load(table: TableMeta): Long = {
    val st = bySource(table.name)
    // S5: per-column scan-expression rewrite (ST_AsText/ToString/…)
    val sql = dialect.scanSql(st.name, st.columns,
      cfg.typeOptions, scanCaps)
    // the same config-selected per-column transforms the parallel
    // DataFrame path applies (Transforms.applyTo), in value form — the
    // target DDL is built from these TypeOptions, so skipping them here
    // would insert source-form values into transformed column types
    // (uuid, bit/varbit, text[], boolean, …)
    val colTransforms: Array[Any => Any] = st.columns.map(c =>
      graft.functions.Transforms
        .valueForColumn(dialect.name, c, cfg.typeOptions)
        .getOrElse(identity[Any] _)).toArray
    val stmt = conn.createStatement()
    try {
      stmt.setFetchSize(1000) // stream, don't materialize the table
      val rs = stmt.executeQuery(sql)
      try {
        val n = rs.getMetaData.getColumnCount
        val targetCols = st.columns.map(c =>
          SchemaMapping.pgName(c.name, cfg.snakeCaseIdentifiers))
        val writer = CopySink.chooseWriter(cfg.targetUrl,
          cfg.targetSchema, table.name, targetCols, 1000)
        val rows = new Iterator[org.apache.spark.sql.Row] {
          private var advanced = false
          private var has = false
          def hasNext: Boolean = {
            if (!advanced) { has = rs.next(); advanced = true }
            has
          }
          def next(): org.apache.spark.sql.Row = {
            if (!hasNext) throw new NoSuchElementException
            advanced = false
            org.apache.spark.sql.Row.fromSeq(
              (1 to n).map(i => colTransforms(i - 1)(rs.getObject(i))))
          }
        }
        CopySink.writePartition(rows,
          () => DriverManager.getConnection(cfg.targetUrl), writer)
      } finally rs.close()
    } finally stmt.close()
  }

  private def scalarCount(c: Connection, sql: String): Long = {
    val stmt = c.createStatement()
    try {
      val rs = stmt.executeQuery(sql)
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally stmt.close()
  }

  /** Snapshot-consistent: runs in the SAME transaction as the copy. */
  def sourceCount(table: TableMeta): Long =
    scalarCount(conn, "SELECT COUNT(*) FROM " +
      dialect.quote(bySource(table.name).name))

  def targetCount(table: TableMeta): Long = {
    val qualified = Option(cfg.targetSchema)
      .map(s => SchemaMapping.pgIdent(s) + ".").getOrElse("") +
      SchemaMapping.pgIdent(table.name)
    val c = DriverManager.getConnection(cfg.targetUrl)
    try scalarCount(c, s"SELECT COUNT(*) FROM $qualified")
    finally c.close()
  }

  def close(): Unit = synchronized {
    if (opened != null) {
      try opened.commit()
      catch { case _: java.sql.SQLException => () } // read-only tx
      opened.close()
      opened = null
    }
  }
}
