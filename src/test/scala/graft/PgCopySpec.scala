package graft

import graft.sources.{CopySink, PgCopy}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** COPY-protocol sink encoding (reference `migrate.go:319-349` CopyFrom;
  * COPY TEXT format per PostgreSQL docs). No live PostgreSQL exists in
  * this environment, so the wire encoding — where the correctness risk
  * is — is verified directly, and the CopyManager bridge is covered by
  * the dispatch/URL tests.
  */
class PgCopySpec extends AnyFunSuite {

  test("copy statement qualifies and quotes identifiers") {
    assert(PgCopy.copySql("public", "users", Seq("id", "name")) ==
      "COPY \"public\".\"users\" (\"id\", \"name\") FROM STDIN")
    assert(PgCopy.copySql(null, "t", Seq("a")) ==
      "COPY \"t\" (\"a\") FROM STDIN")
  }

  test("escape matrix: control characters and backslash") {
    assert(PgCopy.escapeText("plain") == "plain")
    assert(PgCopy.escapeText("a\tb\nc\rd\\e") == "a\\tb\\nc\\rd\\\\e")
    assert(PgCopy.escapeText("x\by\fzw") == "x\\by\\fz\\vw")
  }

  test("row encoding: null, bool, bytea, numeric, timestamp") {
    val ts = java.sql.Timestamp.valueOf("2024-05-06 07:08:09.25")
    val line = PgCopy.encodeRow(Row(42L, null, true, false,
      Array[Byte](0xde.toByte, 0xad.toByte), ts,
      new java.math.BigDecimal("10.50")))
    assert(line ==
      "42\t\\N\tt\tf\t\\\\xdead\t2024-05-06 07:08:09.25\t10.50\n")
  }

  test("text[] (F7 SET mapping) encodes as a quoted array literal") {
    // plain elements bare; comma/space/quote/backslash/empty/NULL quoted
    assert(PgCopy.rawValue(Seq("a", "b c", "d,e", "f\"g", "h\\i", "",
      "NULL")) ==
      "{a,\"b c\",\"d,e\",\"f\\\"g\",\"h\\\\i\",\"\",\"NULL\"}")
    // the array literal's backslashes double again through line escaping:
    // element x\y → literal {"x\\y"} → wire {"x\\\\y"}
    assert(PgCopy.encodeRow(Row(Seq("x\\y"))) == "{\"x\\\\\\\\y\"}\n")
  }

  test("rows input stream yields the concatenated lines and row count") {
    val rows = Iterator(Row(1L, "a"), Row(2L, "b\tc"), Row(3L, null))
    val in = new PgCopy.RowsInputStream(rows)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](7) // odd size exercises chunked reads
    var n = in.read(buf, 0, buf.length)
    while (n >= 0) {
      out.write(buf, 0, n); n = in.read(buf, 0, buf.length)
    }
    assert(out.toString(StandardCharsets.UTF_8) ==
      "1\ta\n2\tb\\tc\n3\t\\N\n")
    assert(in.rowsRead == 3L)
  }

  test("property: escape/unescape round-trips hostile strings " +
      "(500 seeded cases)") {
    // decoder implementing PostgreSQL's documented COPY TEXT unescape —
    // the server-side inverse our encoder must satisfy
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          i += 1
          s.charAt(i) match {
            case '\\' => sb += '\\'
            case 't' => sb += '\t'
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'v' => sb += 0x0b.toChar
            case other => sb += other
          }
        } else sb += c
        i += 1
      }
      sb.toString
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "ab\\\t\n\r\b\f,{}\"'é☃ ".toCharArray
    for (_ <- 1 to 500) {
      val s = Seq.fill(rnd.nextInt(24))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val escaped = PgCopy.escapeText(s)
      // no raw control characters survive into the wire format
      assert(!escaped.exists(c => c == '\t' || c == '\n' || c == '\r'))
      assert(unescape(escaped) == s, s"round-trip broke for ${s.toList}")
    }
  }

  test("property: encoded rows keep exactly one line and n-1 tabs " +
      "(300 seeded cases)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "x\\\t\n,{}\" ".toCharArray
    for (_ <- 1 to 300) {
      val n = 1 + rnd.nextInt(5)
      val vals: Seq[Any] = Seq.fill(n)(rnd.nextInt(3) match {
        case 0 => null
        case 1 => Seq.fill(rnd.nextInt(8))(
          alphabet(rnd.nextInt(alphabet.length))).mkString
        case 2 => Seq(Seq.fill(rnd.nextInt(5))(
          alphabet(rnd.nextInt(alphabet.length))).mkString)
      })
      val line = PgCopy.encodeRow(Row(vals: _*))
      // exactly one terminating newline, no interior ones
      assert(line.endsWith("\n") && line.count(_ == '\n') == 1)
      // column separators survive exactly: n-1 raw tabs
      assert(line.count(_ == '\t') == n - 1,
        s"tab count off for $vals → ${line.toList}")
    }
  }

  test("dispatch: postgresql URLs take COPY, others take batched INSERT") {
    assert(PgCopy.isPostgres("jdbc:postgresql://h:5432/db"))
    assert(!PgCopy.isPostgres("jdbc:derby:memory:x"))
    assert(!PgCopy.isPostgres("jdbc:mysql://h/db"))
    // non-PG URL routes through the INSERT path (live Derby round trip)
    val url = "jdbc:derby:memory:graftcopydispatch;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE \"cd\" (\"id\" INT, \"v\" VARCHAR(10))")
    finally c.close()
    val written = CopySink.writePartition(
      Iterator(Row(1, "a"), Row(2, "b")),
      () => java.sql.DriverManager.getConnection(url),
      CopySink.chooseWriter(url, null, "cd", Seq("id", "v"), 10))
    assert(written == 2L)
    val chk = java.sql.DriverManager.getConnection(url)
    try {
      val rs = chk.createStatement()
        .executeQuery("SELECT COUNT(*) FROM \"cd\"")
      rs.next(); assert(rs.getInt(1) == 2)
    } finally chk.close()
  }
}
