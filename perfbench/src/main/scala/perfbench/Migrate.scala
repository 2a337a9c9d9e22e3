package perfbench

import graft.{JdbcExecutor, MigrationPipeline, SparkTableLoader, SqlExecutor,
  TableLoader}
import graft.config.JobConfig
import graft.sources.TableMeta
import java.sql.DriverManager
import org.apache.spark.sql.SparkSession

/** The TPC-H tables, their keys and their foreign keys, as the source
  * database declares them. Every foreign-key column also gets an index.
  */
object TpchSchema {
  final case class Table(name: String, cols: Seq[(String, String)],
      pk: Seq[String], fks: Seq[(String, String, String)])

  private val money = "DECIMAL(15,2)"
  val tables: Seq[Table] = Seq(
    Table("region", Seq("r_regionkey" -> "INTEGER",
      "r_name" -> "VARCHAR(25)"), Seq("r_regionkey"), Nil),
    Table("nation", Seq("n_nationkey" -> "INTEGER", "n_name" -> "VARCHAR(25)",
      "n_regionkey" -> "INTEGER"), Seq("n_nationkey"),
      Seq(("n_regionkey", "region", "r_regionkey"))),
    Table("supplier", Seq("s_suppkey" -> "BIGINT", "s_name" -> "VARCHAR(25)",
      "s_nationkey" -> "INTEGER", "s_acctbal" -> money), Seq("s_suppkey"),
      Seq(("s_nationkey", "nation", "n_nationkey"))),
    Table("customer", Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR(25)",
      "c_nationkey" -> "INTEGER", "c_acctbal" -> money,
      "c_mktsegment" -> "VARCHAR(10)"), Seq("c_custkey"),
      Seq(("c_nationkey", "nation", "n_nationkey"))),
    Table("part", Seq("p_partkey" -> "BIGINT", "p_name" -> "VARCHAR(55)",
      "p_brand" -> "VARCHAR(10)", "p_type" -> "VARCHAR(25)",
      "p_size" -> "INTEGER", "p_retailprice" -> money), Seq("p_partkey"), Nil),
    Table("orders", Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "CHAR(1)", "o_totalprice" -> money,
      "o_orderdate" -> "DATE", "o_orderpriority" -> "VARCHAR(15)"),
      Seq("o_orderkey"), Seq(("o_custkey", "customer", "c_custkey"))),
    Table("lineitem", Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INTEGER",
      "l_quantity" -> money, "l_extendedprice" -> money,
      "l_discount" -> money, "l_tax" -> money, "l_returnflag" -> "CHAR(1)",
      "l_linestatus" -> "CHAR(1)", "l_shipdate" -> "DATE"),
      Seq("l_orderkey", "l_linenumber"),
      Seq(("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"))))

  /** The bare table, then (after its rows are in) its keys and indexes. */
  def create(t: Table): String =
    s"CREATE TABLE ${t.name} (" +
      t.cols.map { case (c, ty) => s"$c $ty NOT NULL" }.mkString(", ") + ")"

  def constraints(t: Table): Seq[String] =
    Seq(s"ALTER TABLE ${t.name} ADD PRIMARY KEY (${t.pk.mkString(", ")})") ++
      t.fks.flatMap { case (c, rt, rc) => Seq(
        s"ALTER TABLE ${t.name} ADD CONSTRAINT fk_${t.name}_$c " +
          s"FOREIGN KEY ($c) REFERENCES $rt ($rc)",
        s"CREATE INDEX ix_${t.name}_$c ON ${t.name} ($c)") }
}

/** A PostgreSQL-to-Derby bridge for the statements the pipeline emits
  * that Derby has no syntax for. Each such statement is matched in its
  * exact PostgreSQL form and rewritten; anything else passes through.
  */
final class DerbyBridge(inner: SqlExecutor) extends SqlExecutor {
  private val unlogged = """(?s)CREATE UNLOGGED TABLE (.*)""".r
  private val setLogged = """ALTER TABLE "[^"]+"\."[^"]+" SET LOGGED""".r
  private val setval =
    ("""SELECT setval\(pg_get_serial_sequence\('.+?', '(.+?)'\), """ +
      """COALESCE\(\(SELECT MAX\("(.+?)"\) FROM .+?\), 0\) \+ 1, """ +
      """false\)""").r
  /** `SET LOGGED` and `setval` have no Derby counterpart here: Derby
    * tables are always logged, and the TPC-H keys are not identity
    * columns, so there is no sequence to reset.
    */
  def rewrite(sql: String): Option[String] = sql match {
    case unlogged(rest) => Some("CREATE TABLE " + rest)
    case setLogged() => None
    case setval(c1, c2) if c1 == c2 => None
    case _ => Some(sql)
  }
  def execute(sql: String): Unit = rewrite(sql).foreach(inner.execute)

  private val indexOn = """(?s)CREATE (?:UNIQUE )?INDEX .*? ON ("[^"]+"\.)?("[^"]+").*""".r
  /** Derby locks the whole table to build an index, so two builds on one
    * table deadlock where PostgreSQL runs them side by side. The pool
    * still runs in parallel, in waves that hold at most one index per
    * table.
    */
  override def executeAll(sqls: Seq[String], workers: Int): Unit = {
    val byTable = sqls.flatMap(rewrite).groupBy {
      case indexOn(_, t) => t
      case other => other
    }.values.toSeq
    (0 until byTable.map(_.size).maxOption.getOrElse(0)).foreach { k =>
      inner.executeAll(byTable.flatMap(_.lift(k)), workers)
    }
  }
}

/** Times every statement under a span named after the pipeline phase
  * it belongs to, and records the ones that fail.
  */
final class TimedExecutor(inner: SqlExecutor, tracer: Tracer, rec: Record,
    passNo: Int) extends SqlExecutor {
  private def phase(sql: String): String = {
    val s = sql.toUpperCase
    if (s.startsWith("DELETE") || s.startsWith("UPDATE")) "orphan_cleanup"
    else if (s.startsWith("CREATE") || s.startsWith("DROP")) "ddl"
    else "post_ddl"
  }
  private def guard[T](what: String)(body: => T): T =
    try body catch { case e: Throwable => rec.fail(passNo, what, e); throw e }

  def execute(sql: String): Unit = {
    rec.attempted += 1
    tracer.span("pipeline." + phase(sql))(
      guard("statement: " + sql.take(120))(inner.execute(sql)))
  }
  override def executeAll(sqls: Seq[String], workers: Int): Unit = {
    rec.attempted += sqls.size
    tracer.span("pipeline.index_pool")(
      guard(s"index pool (${sqls.size} statements)")(
        inner.executeAll(sqls, workers)))
  }
}

/** Times the loader's calls under per-phase spans and records failures. */
final class TimedLoader(inner: TableLoader, tracer: Tracer, rec: Record,
    passNo: Int, spark: SparkSession) extends TableLoader {
  private def timed[T](ph: String, t: TableMeta)(body: => T): T =
    tracer.span(ph) {
      try body catch {
        case e: Throwable => rec.fail(passNo, s"$ph:${t.name}", e); throw e
      }
    }
  def load(t: TableMeta): Long = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Migrate.LoadProperty, s"$passNo:${t.name}")
    try timed("pipeline.load", t)(inner.load(t))
    finally sc.setLocalProperty(Migrate.LoadProperty, null)
  }
  def sourceCount(t: TableMeta): Long =
    timed("pipeline.validate_count", t)(inner.sourceCount(t))
  def targetCount(t: TableMeta): Long =
    timed("pipeline.validate_count", t)(inner.targetCount(t))
  override def sourceDigest(t: TableMeta): Option[String] =
    timed("pipeline.validate_digest", t)(inner.sourceDigest(t))
  override def targetDigest(t: TableMeta): Option[String] =
    timed("pipeline.validate_digest", t)(inner.targetDigest(t))
}

/** Counts the chunks every table load reads: a load runs a one-task
  * key-bounds query, then one write job with a task per chunk, so each
  * load's chunks are the tasks of its largest job.
  */
final class ChunkCounter extends org.apache.spark.scheduler.SparkListener {
  private val perLoad =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart)
      : Unit = Option(e.properties)
    .flatMap(p => Option(p.getProperty(Migrate.LoadProperty))).foreach { id =>
      perLoad.merge(id, e.stageInfos.map(_.numTasks.toLong).sum,
        (a, b) => math.max(a, b))
    }
  def chunks: Long = perLoad.values.stream.mapToLong(_.longValue).sum
}

/** A migration pass: introspect an in-memory Derby source, load it into
  * an empty in-memory Derby target with the chunked Spark loader, and
  * run the pipeline's validation and post-data DDL. It composes the same
  * public calls as `Main.runMigrateWith`, with the reference defaults:
  * parallel mode, 100,000-row chunks, min(cores, 8) workers, checksum
  * validation and orphan cleanup.
  */
final class Migrate(dir: String) extends Workload {
  import Migrate._
  private var lastTarget: String = _
  private val chunks = new ChunkCounter

  /** Seed the source database by bulk-importing the generated CSV files,
    * parents first and rows in the order the generator wrote them, then
    * add keys, foreign keys and indexes.
    */
  def prepare(s: SparkSession): Unit = {
    dropDb(SourceDb)
    val c = DriverManager.getConnection(
      s"jdbc:derby:memory:$SourceDb;create=true")
    try {
      val st = c.createStatement()
      try TpchSchema.tables.foreach { t =>
        st.execute(TpchSchema.create(t))
        val csv = new java.io.File(s"$dir/${t.name}.csv").getAbsolutePath
        st.execute("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '" +
          t.name.toUpperCase + s"', '$csv', ',', '\"', 'UTF-8', 0)")
        TpchSchema.constraints(t).foreach(st.execute)
      } finally st.close()
    } finally c.close()
  }

  def pass(s: SparkSession, tracer: Tracer, rec: Record,
      passNo: Int): Map[String, Any] = {
    if (passNo == 0) s.sparkContext.addSparkListener(chunks)
    lastTarget = s"pbtgt$passNo"
    def url(db: String) = {
      val u = s"jdbc:derby:memory:$db"
      if (tracer.enabled) TracedJdbc.url(u) else u
    }
    if (tracer.enabled) TracedJdbc.install(tracer)
    val cfg = JobConfig(sourceDialect = "jdbc", sourceUrl = url(SourceDb),
      targetUrl = url(lastTarget) + ";create=true",
      workers = math.min(Runtime.getRuntime.availableProcessors(), 8),
      chunkSize = 100000L, validation = "checksum", cleanOrphans = true,
      mode = "parallel")
    val c0 = chunks.chunks
    val jdbc = new JdbcExecutor(cfg.targetUrl)
    val exec = new TimedExecutor(new DerbyBridge(jdbc), tracer, rec, passNo)
    var tables = 0
    val out = try {
      val (sts, metas) = tracer.span("sources.introspect")(
        graft.Main.introspect(s, cfg))
      tables = metas.size
      val plan = graft.PlanReport.build(cfg, sts)
      require(plan.unsupportedColumns.isEmpty,
        s"unsupported columns: ${plan.unsupportedColumns}")
      val loader = new TimedLoader(new SparkTableLoader(s, cfg, sts),
        tracer, rec, passNo, s)
      val report = new MigrationPipeline(cfg, exec, loader).migrate(metas,
        requiredExtensions = plan.requiredExtensions.filter(_ != "postgis"))
      rec.attempted += 2L * metas.size
      (report.validationMismatches ++ report.checksumMismatches).foreach {
        case (t, m) => rec.fail(passNo, s"validate:$t",
          new IllegalStateException(s"source/target mismatch $m"))
      }
      Map[String, Any]("rows_loaded" -> report.rowsLoaded.values.sum,
        "statements" -> report.statementsExecuted)
    } catch {
      case e: Throwable =>
        rec.fail(passNo, "pass", e)
        Map.empty[String, Any]
    } finally jdbc.close()
    org.apache.spark.perfbench.Bus.drain(s.sparkContext)
    val n = chunks.chunks - c0
    rec.attempted += n
    out ++ Map("chunks" -> n, "tables" -> tables)
  }

  /** The previous pass's target is dropped outside the timed window. */
  override def beforePass(): Unit =
    if (lastTarget != null) dropDb(lastTarget)

  /** Untimed: count, key sums and numeric sums of every table of the last
    * pass's target, read with plain JDBC for the DuckDB compare.
    */
  def verify(s: SparkSession, out: String, rec: Record): Map[String, Any] = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$lastTarget")
    try {
      val md = c.getMetaData
      TpchSchema.tables.map { t =>
        val rs = md.getTables(null, null, null, Array("TABLE"))
        var found: (String, String) = null
        while (rs.next()) if (rs.getString(3).equalsIgnoreCase(t.name))
          found = (rs.getString(2), rs.getString(3))
        rs.close()
        if (found == null) t.name -> Map("missing" -> true)
        else {
          val sums = t.cols.collect {
            case (col, ty) if ty != "DATE" && !ty.startsWith("VARCHAR") &&
                !ty.startsWith("CHAR") => col
          }
          val q = s"""SELECT COUNT(*)""" + sums.map(x =>
            s""", SUM(CAST("$x" AS DECIMAL(31,2)))""").mkString +
            s""" FROM "${found._1}"."${found._2}""""
          val st = c.createStatement()
          try {
            val r = st.executeQuery(q)
            r.next()
            t.name -> (Map[String, Any]("count" -> r.getLong(1)) ++
              sums.zipWithIndex.map { case (x, i) =>
                x -> r.getBigDecimal(i + 2).toPlainString })
          } finally st.close()
        }
      }.toMap
    } finally c.close()
  }

  override def close(): Unit = {
    if (lastTarget != null) dropDb(lastTarget)
    dropDb(SourceDb)
  }
}

object Migrate {
  val SourceDb = "pbsrc"
  val LoadProperty = "perfbench.load"

  /** Drop an in-memory Derby database; a missing one is fine. */
  def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () }
}
