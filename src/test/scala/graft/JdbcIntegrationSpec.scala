package graft

import graft.sources.{ChunkPlanner, CopySink, JdbcSource, MySqlDialect}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.DriverManager

/** Real JDBC round trip against embedded Derby (the only JDBC engine in
  * the container): CopySink streams a DataFrame through per-partition
  * connections into a live table; JdbcSource reads it back with
  * chunk-predicate partitioned reads. This is the integration tier the
  * reference covers with live MySQL/PG containers
  * (`integration_test.go`), scaled to what this environment provides.
  */
class JdbcIntegrationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val url = "jdbc:derby:memory:graftdb;create=true"

  // Derby quoting is "ident" — reuse the sqlite/pg-style dialect shape.
  private object DerbyDialect extends graft.sources.SourceDialect {
    val name = "derby"
    def quote(i: String): String = "\"" + i.replace("\"", "\"\"") + "\""
    def mapType(c: graft.sources.SourceColumn,
        o: graft.sources.TypeOptions) = None
  }

  test("copy sink → partitioned jdbc read round trip") {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_rt\" (\"id\" BIGINT NOT NULL, " +
          "\"name\" VARCHAR(50), \"score\" DOUBLE)")
    } finally conn.close()

    val df = spark.range(0, 1000).toDF("id")
      .withColumn("name", concat(lit("row_"), col("id")))
      .withColumn("score", col("id") * 1.5)
      .repartition(4)

    CopySink.write(df, schema = null, table = "events_rt",
      connect = () => DriverManager.getConnection(
        "jdbc:derby:memory:graftdb"),
      batchSize = 100)

    // partitioned read back via chunk predicates
    val preds = JdbcSource.partitionPredicates(DerbyDialect, "id",
      Some((0L, 999L)), chunkSize = 250L, requestedWorkers = 8)
    assert(preds.length == 4)
    val props = new java.util.Properties()
    val back = spark.read.jdbc(url, "\"events_rt\"", preds, props)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 1000)
    val row = back.filter(col("id") === 999).collect()(0)
    assert(row.getAs[String]("name") == "row_999")
    assert(row.getAs[Double]("score") == 1498.5)
    // chunk predicates cover exactly once: sum of ids
    assert(back.agg(sum("id")).collect()(0).getLong(0) == 999L * 1000 / 2)
  }

  test("copy sink insert-sql without schema qualifier") {
    assert(CopySink.insertSql(null, "t", Seq("a")) ==
      "INSERT INTO \"t\" (\"a\") VALUES (?)")
  }

  test("SparkTableLoader end-to-end on Derby: introspect → chunked " +
      "read → mapped insert → counts (the CLI migrate load path)") {
    import graft.config.JobConfig
    import graft.sources.{GenericJdbcDialect, Introspection,
      SchemaMapping, TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftsrc;create=true"
    val tgtUrl = "jdbc:derby:memory:grafttgt;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      // INT (not BIGINT) PK exercises the Number-based MIN/MAX widening
      st.execute("CREATE TABLE ITEMS (ITEMID INT NOT NULL PRIMARY KEY, " +
        "ITEMNAME VARCHAR(40) NOT NULL, PRICE DOUBLE)")
      val ins = sc.prepareStatement(
        "INSERT INTO ITEMS VALUES (?, ?, ?)")
      (1 to 500).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"item_$i")
        ins.setDouble(3, i * 0.5); ins.addBatch()
      }
      ins.executeBatch()
    } finally sc.close()
    val tc = DriverManager.getConnection(tgtUrl)
    try tc.createStatement().execute(
      // target carries the MAPPED (lowercased) identifiers
      "CREATE TABLE \"items\" (\"itemid\" INT, \"itemname\" " +
        "VARCHAR(40), \"price\" DOUBLE)")
    finally tc.close()

    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val items = sts.find(_.name == "ITEMS").get
    val cfg = JobConfig(sourceDialect = "jdbc",
      sourceUrl = srcUrl, targetUrl = tgtUrl, targetSchema = null,
      chunkSize = 100L, workers = 4)
    val loader = new SparkTableLoader(spark, cfg, Seq(items))
    val meta = SchemaMapping.toTableMeta(GenericJdbcDialect, items, Nil,
      TypeOptions())
    assert(meta.name == "items")
    val written = loader.load(meta)
    assert(written == 500L)
    assert(loader.sourceCount(meta) == 500L)
    // target got every row under the mapped column names
    val check = DriverManager.getConnection(tgtUrl)
    try {
      val rs = check.createStatement().executeQuery(
        "SELECT COUNT(*), SUM(\"itemid\") FROM \"items\"")
      rs.next()
      assert(rs.getLong(1) == 500L && rs.getLong(2) == 500L * 501 / 2)
    } finally check.close()
  }

  test("checksum validation on Derby: digests match after a faithful " +
      "load and catch a corrupted value that counts cannot") {
    import graft.config.JobConfig
    import graft.sources.{GenericJdbcDialect, Introspection,
      SchemaMapping, TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftcks;create=true"
    val tgtUrl = "jdbc:derby:memory:graftckt;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      st.execute("CREATE TABLE T (ID INT NOT NULL PRIMARY KEY, " +
        "NAME VARCHAR(40), PRICE DOUBLE)")
      val ins = sc.prepareStatement("INSERT INTO T VALUES (?, ?, ?)")
      (1 to 50).foreach { i =>
        ins.setInt(1, i)
        if (i % 7 == 0) ins.setNull(2, java.sql.Types.VARCHAR)
        else ins.setString(2, s"n_$i")
        ins.setDouble(3, i * 0.25); ins.addBatch()
      }
      ins.executeBatch()
    } finally sc.close()
    val tc = DriverManager.getConnection(tgtUrl)
    try tc.createStatement().execute(
      "CREATE TABLE \"t\" (\"id\" INT, \"name\" VARCHAR(40), " +
        "\"price\" DOUBLE)")
    finally tc.close()
    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val t = sts.find(_.name == "T").get
    val cfg = JobConfig(sourceDialect = "jdbc", sourceUrl = srcUrl,
      targetUrl = tgtUrl, targetSchema = null, workers = 2,
      validation = "checksum")
    val loader = new SparkTableLoader(spark, cfg, Seq(t))
    val meta = SchemaMapping.toTableMeta(GenericJdbcDialect, t, Nil,
      TypeOptions())
    assert(loader.load(meta) == 50L)
    val src = loader.sourceDigest(meta).get
    assert(src == loader.targetDigest(meta).get,
      "digests differ after a faithful load")
    assert(src.startsWith("50:"))
    // pinned to the value the digest definition has always produced
    // (canonical \u0001-joined Spark strings, md5's first 15 hex chars,
    // exact sum): a drift here would flag every faithful copy as corrupt
    assert(src == "50:24342944566802710442")
    // corrupt ONE value without changing the row count — count
    // validation is blind to this, the digest is not
    val cc = DriverManager.getConnection(tgtUrl)
    try cc.createStatement().execute(
      "UPDATE \"t\" SET \"price\" = 99.75 WHERE \"id\" = 13")
    finally cc.close()
    val corrupted = loader.targetDigest(meta).get
    assert(corrupted.startsWith("50:") && corrupted != src,
      "digest failed to catch a same-count corruption")
  }

  test("resume on Derby: a failed chunk retries without duplicating " +
      "the chunks a prior run completed") {
    import graft.checkpoint.CheckpointManager
    import graft.config.JobConfig
    import graft.sources.{GenericJdbcDialect, Introspection,
      SchemaMapping, TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftrsrc;create=true"
    val tgtUrl = "jdbc:derby:memory:graftrtgt;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      st.execute("CREATE TABLE EVTS (ID INT NOT NULL PRIMARY KEY, " +
        "TAG VARCHAR(40) NOT NULL)")
      val ins = sc.prepareStatement("INSERT INTO EVTS VALUES (?, ?)")
      (1 to 500).foreach { i =>
        ins.setInt(1, i)
        // ids 201-300 (exactly chunk 2 of the [1,500]/100 plan) carry
        // tags too wide for the deliberately-narrow target column: that
        // chunk fails, its four siblings commit
        ins.setString(2, if (i > 200 && i <= 300) "x" * 30 else s"t_$i")
        ins.addBatch()
      }
      ins.executeBatch()
    } finally sc.close()
    val tc = DriverManager.getConnection(tgtUrl)
    try tc.createStatement().execute(
      "CREATE TABLE \"evts\" (\"id\" INT, \"tag\" VARCHAR(10))")
    finally tc.close()

    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val evts = sts.find(_.name == "EVTS").get
    val cfg = JobConfig(sourceDialect = "jdbc", sourceUrl = srcUrl,
      targetUrl = tgtUrl, targetSchema = null, chunkSize = 100L,
      workers = 4, resume = true, unloggedTables = false)
    val meta = SchemaMapping.toTableMeta(GenericJdbcDialect, evts, Nil,
      TypeOptions())
    val cpFile = java.nio.file.Files.createTempDirectory("graft-cp")
      .resolve("graft_checkpoint.json")
    val parts = Seq("job" -> "resume-test")
    val fp = CheckpointManager.fingerprint(parts)

    // run 1: "crashes" (chunk 2 write fails); partial progress flushes
    val cp1 = CheckpointManager.load(cpFile.toString, fp, parts)
    val loader1 = new SparkTableLoader(spark, cfg, Seq(evts), Some(cp1))
    val e = intercept[RuntimeException](loader1.load(meta))
    assert(e.getMessage.contains("failed migration"))
    cp1.flush() // what MigrationPipeline does when the load throws
    assert(cp1.completed("evts").size == 4)
    assert(!cp1.isDone("evts", 2L))

    // operator fixes the target, run 2 resumes from the file on disk
    val fix = DriverManager.getConnection(tgtUrl)
    try fix.createStatement().execute("ALTER TABLE \"evts\" ALTER " +
      "COLUMN \"tag\" SET DATA TYPE VARCHAR(40)")
    finally fix.close()
    val cp2 = CheckpointManager.load(cpFile.toString, fp, parts)
    assert(cp2.completed("evts").size == 4)
    val loader2 = new SparkTableLoader(spark, cfg, Seq(evts), Some(cp2))
    assert(loader2.load(meta) == 100L) // ONLY the failed chunk reloads
    assert(cp2.rowsCopied("evts") == 500L)

    // target holds each source row exactly once
    val check = DriverManager.getConnection(tgtUrl)
    try {
      val rs = check.createStatement().executeQuery(
        "SELECT COUNT(*), SUM(\"id\"), COUNT(DISTINCT \"id\") " +
          "FROM \"evts\"")
      rs.next()
      assert(rs.getLong(1) == 500L)
      assert(rs.getLong(2) == 500L * 501 / 2)
      assert(rs.getLong(3) == 500L)
    } finally check.close()

    // a checkpoint whose recorded chunk count disagrees with the live
    // plan (source key range drifted) must refuse to resume, not skip
    // misaligned chunk ids
    val drifted = CheckpointManager.load(
      java.nio.file.Files.createTempDirectory("graft-cp2")
        .resolve("cp.json").toString, fp, parts)
    drifted.setChunkCount("evts", 3) // live plan has 5
    drifted.markDone("evts", 0L, 100L)
    val loader3 = new SparkTableLoader(spark, cfg, Seq(evts), Some(drifted))
    val drift = intercept[IllegalStateException](loader3.load(meta))
    assert(drift.getMessage.contains("key range changed"))
  }

  test("CLI migrate end-to-end on Derby: config file → introspect → " +
      "DDL → load → validate, resume bookkeeping cleaned on success") {
    val srcUrl = "jdbc:derby:memory:graftclisrc;create=true"
    val tgtUrl = "jdbc:derby:memory:graftclitgt;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      // VARCHAR PK: no sequence-reset DDL (PG setval doesn't exist on
      // Derby) and the non-chunkable full-table load path runs
      st.execute("CREATE TABLE PRODS (SKU VARCHAR(20) NOT NULL " +
        "PRIMARY KEY, PNAME VARCHAR(40) NOT NULL, PRICE DOUBLE)")
      val ins = sc.prepareStatement("INSERT INTO PRODS VALUES (?, ?, ?)")
      (1 to 50).foreach { i =>
        ins.setString(1, f"sku_$i%03d"); ins.setString(2, s"prod $i")
        ins.setDouble(3, i * 1.25); ins.addBatch()
      }
      ins.executeBatch()
    } finally sc.close()

    val cfgDir = java.nio.file.Files.createTempDirectory("graft-cli")
    val cfgPath = cfgDir.resolve("migration.toml")
    java.nio.file.Files.writeString(cfgPath,
      s"""mode = "parallel"
         |resume = true
         |unlogged_tables = false
         |validation = "row_count"
         |[source]
         |dialect = "jdbc"
         |url = "$srcUrl"
         |[target]
         |url = "$tgtUrl"
         |schema = "tgt"
         |""".stripMargin)
    Main.runMigrateWith(cfgPath, spark)

    val chk = DriverManager.getConnection(tgtUrl)
    try {
      val rs = chk.createStatement().executeQuery(
        "SELECT COUNT(*), MIN(\"sku\"), MAX(\"price\") " +
          "FROM \"tgt\".\"prods\"")
      rs.next()
      assert(rs.getLong(1) == 50L)
      assert(rs.getString(2) == "sku_001")
      assert(rs.getDouble(3) == 62.5)
    } finally chk.close()
    // successful migration deletes the resume checkpoint
    assert(!java.nio.file.Files.exists(
      Main.checkpointPath(cfgPath)))
  }

  test("CLI migrate under checksum validation: a content mismatch with " +
      "equal counts fails the run, naming the table and both digests") {
    val srcUrl = "jdbc:derby:memory:graftcksrc;create=true"
    val tgtUrl = "jdbc:derby:memory:graftcktgt;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      sc.createStatement().execute("CREATE TABLE PRODS (SKU VARCHAR(20) " +
        "NOT NULL PRIMARY KEY, PRICE DOUBLE)")
      val ins = sc.prepareStatement("INSERT INTO PRODS VALUES (?, ?)")
      (1 to 20).foreach { i =>
        ins.setString(1, f"sku_$i%03d"); ins.setDouble(2, i * 1.25)
        ins.addBatch()
      }
      ins.executeBatch()
    } finally sc.close()

    val cfgDir = java.nio.file.Files.createTempDirectory("graft-cksum")
    // after_data runs between the load and validation: it changes one
    // loaded value, so counts agree and only the digests differ
    java.nio.file.Files.writeString(cfgDir.resolve("skew.sql"),
      "UPDATE \"{{schema}}\".\"prods\" SET \"price\" = 0 " +
        "WHERE \"sku\" = 'sku_007'")
    val cfgPath = cfgDir.resolve("migration.toml")
    java.nio.file.Files.writeString(cfgPath,
      s"""mode = "parallel"
         |unlogged_tables = false
         |validation = "checksum"
         |[source]
         |dialect = "jdbc"
         |url = "$srcUrl"
         |[target]
         |url = "$tgtUrl"
         |schema = "tgt"
         |[hooks]
         |after_data = ["skew.sql"]
         |""".stripMargin)
    val e = intercept[Main.MigrationValidationException](
      Main.runMigrateWith(cfgPath, spark))
    val lines = e.getMessage.linesIterator.toSeq
    assert(lines.size == 1, e.getMessage)
    val Digests = ("CHECKSUM MISMATCH on table prods: " +
      "source (20:\\d+), target (20:\\d+)").r
    lines.head match {
      case Digests(src, tgt) => assert(src != tgt)
      case other => fail(s"unexpected failure: $other")
    }
  }

  test("checksum validation digests an always-transformed column in " +
      "its loaded form: a faithful copy of an MSSQL uniqueidentifier " +
      "digests equal on both sides") {
    import graft.config.JobConfig
    import graft.sources.{Introspection, MssqlDialect, SchemaMapping,
      TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftguids;create=true"
    val tgtUrl = "jdbc:derby:memory:graftguidt;create=true"
    val rnd = new scala.util.Random(5)
    val sc = DriverManager.getConnection(srcUrl)
    try {
      sc.createStatement().execute("CREATE TABLE GUIDS (ID INT NOT NULL " +
        "PRIMARY KEY, G CHAR(16) FOR BIT DATA)")
      val ins = sc.prepareStatement("INSERT INTO GUIDS VALUES (?, ?)")
      (1 to 30).foreach { i =>
        ins.setInt(1, i)
        if (i % 9 == 0) ins.setNull(2, java.sql.Types.BINARY)
        else ins.setBytes(2, Array.fill(16)(rnd.nextInt(256).toByte))
        ins.addBatch()
      }
      ins.executeBatch()
    } finally sc.close()
    val tc = DriverManager.getConnection(tgtUrl)
    try tc.createStatement().execute(
      "CREATE TABLE \"guids\" (\"id\" INT, \"g\" VARCHAR(36))")
    finally tc.close()
    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    // the columns as SQL Server reports them: the load always rewrites
    // a uniqueidentifier's GUID byte order to the uuid text form
    val t = sts.find(_.name == "GUIDS").get
    val st = t.copy(columns = t.columns.map(c =>
      c.copy(dataType = if (c.name == "G") "uniqueidentifier" else "int")))
    val cfg = JobConfig(sourceDialect = "mssql", sourceUrl = srcUrl,
      targetUrl = tgtUrl, targetSchema = null, validation = "checksum")
    val loader = new SparkTableLoader(spark, cfg, Seq(st))
    val meta = SchemaMapping.toTableMeta(MssqlDialect, st, Nil,
      TypeOptions())
    // Derby cannot parse the MSSQL dialect's [bracket] quoting, so the
    // raw scan is read here; everything after it is the loader's own
    val raw = spark.read.jdbc(srcUrl, "GUIDS", new java.util.Properties())
    val loaded = loader.transformed(st, raw)
    CopySink.write(loaded.toDF("id", "g"), schema = null, table = "guids",
      connect = () => DriverManager.getConnection(
        "jdbc:derby:memory:graftguidt"))
    val tgt = loader.targetDigest(meta).get
    assert(tgt.startsWith("30:"))
    assert(loader.digest(loaded, Seq("ID", "G")) == tgt,
      "a faithful copy of a transformed column digests differently")
    // the untransformed scan is what the source digest used to read:
    // it flags the same faithful copy as corrupt
    assert(loader.digest(raw, Seq("ID", "G")) != tgt)
  }

  test("single_tx on Derby: ALL tables read over ONE connection in one " +
      "transaction; counts snapshot-consistent (migrate.go:149-259)") {
    import graft.config.JobConfig
    import graft.sources.{GenericJdbcDialect, Introspection, SchemaMapping,
      SingleTxTableLoader, TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftstx;create=true"
    val tgtUrl = "jdbc:derby:memory:graftstxt;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      st.execute("CREATE TABLE ACCTS (ID INT NOT NULL PRIMARY KEY, " +
        "OWNER VARCHAR(40) NOT NULL)")
      st.execute("CREATE TABLE MOVES (ID INT NOT NULL PRIMARY KEY, " +
        "ACCT INT, AMT DOUBLE)")
      val a = sc.prepareStatement("INSERT INTO ACCTS VALUES (?, ?)")
      (1 to 40).foreach { i =>
        a.setInt(1, i); a.setString(2, s"own_$i"); a.addBatch() }
      a.executeBatch()
      val m = sc.prepareStatement("INSERT INTO MOVES VALUES (?, ?, ?)")
      (1 to 200).foreach { i =>
        m.setInt(1, i); m.setInt(2, 1 + i % 40)
        m.setDouble(3, i * 0.25); m.addBatch() }
      m.executeBatch()
    } finally sc.close()
    val tc = DriverManager.getConnection(tgtUrl)
    try {
      val st = tc.createStatement()
      st.execute("CREATE TABLE \"accts\" (\"id\" INT, " +
        "\"owner\" VARCHAR(40))")
      st.execute("CREATE TABLE \"moves\" (\"id\" INT, \"acct\" INT, " +
        "\"amt\" DOUBLE)")
    } finally tc.close()

    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val cfg = JobConfig(mode = "single_tx", sourceDialect = "jdbc",
      sourceUrl = srcUrl, targetUrl = tgtUrl, targetSchema = null)
    val loader = new SingleTxTableLoader(cfg, sts)
    try {
      val metas = sts.map(st => SchemaMapping.toTableMeta(
        GenericJdbcDialect, st, Nil, TypeOptions()))
      val byName = metas.map(m => m.name -> m).toMap
      assert(loader.load(byName("accts")) == 40L)
      assert(loader.load(byName("moves")) == 200L)
      // snapshot-consistent validation counts run in the SAME tx
      assert(loader.sourceCount(byName("accts")) == 40L)
      assert(loader.sourceCount(byName("moves")) == 200L)
      assert(loader.targetCount(byName("moves")) == 200L)
      // the single_tx contract: one source connection, ever
      assert(loader.connectionsOpened == 1)
    } finally loader.close()

    val check = DriverManager.getConnection(tgtUrl)
    try {
      val rs = check.createStatement().executeQuery(
        "SELECT COUNT(*), SUM(\"id\") FROM \"moves\"")
      rs.next()
      assert(rs.getLong(1) == 200L && rs.getLong(2) == 200L * 201 / 2)
      val rs2 = check.createStatement().executeQuery(
        "SELECT COUNT(*) FROM \"accts\"")
      rs2.next(); assert(rs2.getLong(1) == 40L)
    } finally check.close()
  }

  /** Source tables `FAN<i>` (INT primary key `ID`, `TAG`, `AMT`) with the
    * given row counts, plus one VARCHAR-keyed table that loads unchunked.
    */
  private def seedFanSource(url: String, rows: Seq[Int]): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      rows.zipWithIndex.foreach { case (n, t) =>
        st.execute(s"CREATE TABLE FAN$t (ID INT NOT NULL PRIMARY KEY, " +
          "TAG VARCHAR(20), AMT DOUBLE)")
        val ins = c.prepareStatement(s"INSERT INTO FAN$t VALUES (?, ?, ?)")
        (1 to n).foreach { i =>
          ins.setInt(1, i)
          if (i % 11 == 0) ins.setNull(2, java.sql.Types.VARCHAR)
          else ins.setString(2, s"t${t}_$i")
          ins.setDouble(3, i * 0.5); ins.addBatch()
        }
        ins.executeBatch()
      }
      st.execute("CREATE TABLE FANCODES (CODE VARCHAR(10) NOT NULL " +
        "PRIMARY KEY, LABEL VARCHAR(20))")
      val ins = c.prepareStatement("INSERT INTO FANCODES VALUES (?, ?)")
      (1 to 30).foreach { i =>
        ins.setString(1, f"c$i%03d"); ins.setString(2, s"label $i")
        ins.addBatch()
      }
      ins.executeBatch()
    } finally c.close()
  }

  /** Target DDL on Derby: everything but PostgreSQL's sequence resets. */
  private final class DerbyTarget(url: String) extends SqlExecutor {
    val jdbc = new JdbcExecutor(url)
    def execute(sql: String): Unit =
      if (!sql.startsWith("SELECT setval")) jdbc.execute(sql)
  }

  test("parallel migration on Derby with workers = 4: tables load side " +
      "by side and end count- and checksum-equal") {
    import graft.config.JobConfig
    import graft.sources.{GenericJdbcDialect, Introspection, SchemaMapping,
      TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftfansrc;create=true"
    val tgtUrl = "jdbc:derby:memory:graftfantgt;create=true"
    seedFanSource(srcUrl, Seq(450, 300, 120, 60))
    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val metas = sts.map(st => SchemaMapping.toTableMeta(GenericJdbcDialect,
      st, Nil, TypeOptions()))
    val cfg = JobConfig(sourceDialect = "jdbc", sourceUrl = srcUrl,
      targetUrl = tgtUrl, targetSchema = "fan", chunkSize = 100L,
      workers = 4, validation = "checksum", unloggedTables = false)
    val inner = new SparkTableLoader(spark, cfg, sts)
    // a wrapping loader that counts the loads in flight
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger
    val loader = new TableLoader {
      def load(t: graft.sources.TableMeta): Long = {
        maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try inner.load(t) finally { inFlight.decrementAndGet(); () }
      }
      def sourceCount(t: graft.sources.TableMeta): Long = inner.sourceCount(t)
      def targetCount(t: graft.sources.TableMeta): Long = inner.targetCount(t)
      override def sourceDigest(t: graft.sources.TableMeta) =
        inner.sourceDigest(t)
      override def targetDigest(t: graft.sources.TableMeta) =
        inner.targetDigest(t)
    }
    val exec = new DerbyTarget(tgtUrl)
    val report = try new MigrationPipeline(cfg, exec, loader).migrate(metas)
      finally exec.jdbc.close()
    assert(maxInFlight.get >= 2 && maxInFlight.get <= 4)
    assert(report.rowsLoaded == Map("fan0" -> 450L, "fan1" -> 300L,
      "fan2" -> 120L, "fan3" -> 60L, "fancodes" -> 30L))
    assert(report.validationMismatches.isEmpty)
    assert(report.checksumMismatches.isEmpty)
  }

  test("single_tx loads stay sequential: the snapshot loader opens one " +
      "source connection under workers = 4") {
    import graft.config.JobConfig
    import graft.sources.{GenericJdbcDialect, Introspection, SchemaMapping,
      SingleTxTableLoader, TypeOptions}
    val srcUrl = "jdbc:derby:memory:graftstxfan;create=true"
    val tgtUrl = "jdbc:derby:memory:graftstxfant;create=true"
    seedFanSource(srcUrl, Seq(120, 80))
    val conn = DriverManager.getConnection(srcUrl)
    val (sts, _) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val metas = sts.map(st => SchemaMapping.toTableMeta(GenericJdbcDialect,
      st, Nil, TypeOptions()))
    val cfg = JobConfig(mode = "single_tx", sourceDialect = "jdbc",
      sourceUrl = srcUrl, targetUrl = tgtUrl, targetSchema = "stx",
      workers = 4, validation = "row_count", unloggedTables = false)
    val loader = new SingleTxTableLoader(cfg, sts)
    val exec = new DerbyTarget(tgtUrl)
    val report =
      try new MigrationPipeline(cfg, exec, loader).migrate(metas)
      finally { loader.close(); exec.jdbc.close() }
    assert(loader.connectionsOpened == 1)
    assert(report.rowsLoaded == Map("fan0" -> 120L, "fan1" -> 80L,
      "fancodes" -> 30L))
    assert(report.validationMismatches.isEmpty)
  }

  test("parallel index pool on Derby: builds all, first error cancels") {
    val iurl = "jdbc:derby:memory:graftixp;create=true"
    val c = DriverManager.getConnection(iurl)
    try {
      val st = c.createStatement()
      // one index per table: Derby table-locks DDL, so the pool's
      // parallelism shows across tables (the common real shape)
      (1 to 3).foreach(i => st.execute(s"CREATE TABLE T$i (A INT)"))
    } finally c.close()
    val exec = new JdbcExecutor(iurl)
    exec.executeAll(
      (1 to 3).map(i => s"CREATE INDEX IX_$i ON T$i (A)"), workers = 3)
    val chk = DriverManager.getConnection(iurl)
    try (1 to 3).foreach { i =>
      val rs = chk.getMetaData.getIndexInfo(null, "APP", s"T$i",
        false, false)
      val names = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("INDEX_NAME")).toSet
      assert(names.contains(s"IX_$i"))
    } finally chk.close()
    // a bad statement fails the pool (first-error semantics) — two
    // statements so the PARALLEL path runs, not the n==1 serial one
    intercept[Throwable] {
      exec.executeAll(Seq(
        "CREATE INDEX IX_BAD ON NO_TABLE (X)",
        "CREATE INDEX IX_OK2 ON T1 (A)"), workers = 2)
    }
  }

  test("generic JDBC metadata introspection against live Derby " +
      "(tables, PK, index, FK) bridges to TableMeta") {
    import graft.sources.{GenericJdbcDialect, Introspection,
      SchemaMapping, TypeOptions}
    val iurl = "jdbc:derby:memory:graftmeta;create=true"
    val conn = DriverManager.getConnection(iurl)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE USERS (ID BIGINT NOT NULL PRIMARY KEY, " +
        "NAME VARCHAR(80) NOT NULL, BAL DECIMAL(10,2))")
      st.execute("CREATE TABLE POSTS (ID BIGINT NOT NULL PRIMARY KEY, " +
        "USER_ID BIGINT, CREATED TIMESTAMP, " +
        "CONSTRAINT FK_POSTS_USER FOREIGN KEY (USER_ID) " +
        "REFERENCES USERS (ID) ON DELETE CASCADE)")
      st.execute("CREATE INDEX IX_POSTS_USER ON POSTS (USER_ID)")
      val (tables, fks) = Introspection.fromJdbcMetadata(conn, "APP")
      assert(tables.map(_.name) == Seq("POSTS", "USERS"))
      val users = tables.find(_.name == "USERS").get
      assert(users.columns.map(_.name) == Seq("ID", "NAME", "BAL"))
      assert(users.columns.head.dataType == "BIGINT")
      assert(!users.columns.head.nullable && users.columns.last.nullable)
      assert(users.indexes.exists(ix => ix.isPrimary &&
        ix.columns == Seq("ID")))
      val posts = tables.find(_.name == "POSTS").get
      assert(posts.indexes.exists(ix => !ix.isPrimary &&
        ix.columns == Seq("USER_ID")))
      val fk = fks("POSTS").head
      assert(fk.columns == Seq("USER_ID") && fk.refTable == "USERS" &&
        fk.refColumns == Seq("ID") && fk.onDelete == "CASCADE")
      // bridge through the generic dialect to the pipeline IR
      val meta = SchemaMapping.toTableMeta(GenericJdbcDialect, users,
        Nil, TypeOptions())
      assert(meta.name == "users")
      assert(meta.columns.map(c => (c._1, c._2)) == Seq(
        ("id", "bigint"), ("name", "varchar(80)"),
        ("bal", "numeric(10,2)")))
      assert(meta.primaryKey.exists(_.columns == Seq("id")))
    } finally conn.close()
  }
}
