package graft.sources

import org.apache.spark.sql.Row
import java.nio.charset.StandardCharsets
import java.sql.Connection

/** PostgreSQL COPY-protocol sink — the reference's actual write path
  * (`migrate.go:319-349` pgx `CopyFrom`, `README.md:9` "Fast parallel
  * COPY loads"). Each Spark partition streams its rows as COPY TEXT
  * format through one connection's `CopyManager.copyIn`, the pgjdbc
  * equivalent of a pgx CopyFrom row source (`migrate.go:412-446`).
  *
  * The pgjdbc classes are resolved reflectively: this build compiles
  * against no PostgreSQL driver (none exists in the sandbox), but the
  * encoding — the part correctness lives in — is pure and fully
  * unit-tested. At runtime, a postgresql JDBC URL dispatches here
  * ([[CopySink.chooseWriter]]); everything else keeps the
  * driver-agnostic batched INSERT.
  *
  * COPY TEXT format (PostgreSQL "COPY ... FROM STDIN" defaults): one
  * line per row, tab-separated columns, `\N` for NULL, backslash
  * escapes for `\ \t \n \r \b \f \v`, bytea as hex (`\x…` with the
  * backslash itself escaped), arrays in `{…}` literal syntax (the F7
  * SET → text[] mapping).
  */
object PgCopy {

  def isPostgres(url: String): Boolean =
    url != null && url.startsWith("jdbc:postgresql:")

  /** The COPY statement. Text format (no options) — the same default
    * pgx CopyFrom speaks.
    */
  def copySql(schema: String, table: String, cols: Seq[String]): String = {
    import SchemaMapping.pgIdent
    val target =
      if (schema == null || schema.isEmpty) pgIdent(table)
      else s"${pgIdent(schema)}.${pgIdent(table)}"
    s"COPY $target (${cols.map(pgIdent).mkString(", ")}) FROM STDIN"
  }

  /** Escape one scalar's text per COPY TEXT rules. */
  def escapeText(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case 0x0b => sb.append("\\v")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Array-literal element quoting: quote when the element is empty,
    * spells NULL, or contains syntax/whitespace characters; `\` and `"`
    * escape inside quotes (PostgreSQL array output rules).
    */
  private def arrayElem(e: Any): String = e match {
    case null => "NULL"
    case other =>
      val s = String.valueOf(other)
      val needsQuote = s.isEmpty || s.equalsIgnoreCase("null") ||
        s.exists(c => c == ',' || c == '{' || c == '}' || c == '"' ||
          c == '\\' || c.isWhitespace)
      if (!needsQuote) s
      else "\"" + s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c => c.toString
      } + "\""
  }

  /** One value in COPY TEXT form (NOT yet line-escaped — [[encodeRow]]
    * applies `escapeText` so array/bytea backslashes survive the wire).
    */
  def rawValue(v: Any): String = v match {
    case null => null
    case s: String => s
    case b: Boolean => if (b) "t" else "f"
    case b: Array[Byte] =>
      "\\x" + b.map("%02x".format(_)).mkString
    case ts: java.sql.Timestamp => ts.toString
    case d: java.sql.Date => d.toString
    case seq: scala.collection.Seq[_] =>
      seq.map(arrayElem).mkString("{", ",", "}")
    case bd: java.math.BigDecimal => bd.toPlainString
    case other => other.toString
  }

  /** Encode a whole row as one COPY TEXT line (with trailing newline). */
  def encodeRow(row: Row): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < row.length) {
      if (i > 0) sb.append('\t')
      val raw = rawValue(row.get(i))
      sb.append(if (raw == null) "\\N" else escapeText(raw))
      i += 1
    }
    sb.append('\n')
    sb.toString
  }

  /** Lazy InputStream over encoded rows — COPY streams the partition
    * without materializing it.
    */
  final class RowsInputStream(rows: Iterator[Row]) extends java.io.InputStream {
    private var cur: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    var rowsRead = 0L

    private def advance(): Boolean = {
      while (pos >= cur.length) {
        if (!rows.hasNext) return false
        cur = encodeRow(rows.next()).getBytes(StandardCharsets.UTF_8)
        pos = 0
        rowsRead += 1
      }
      true
    }
    override def read(): Int =
      if (!advance()) -1
      else { val b = cur(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!advance()) return -1
      val n = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, b, off, n)
      pos += n
      n
    }
  }

  /** Stream one partition through pgjdbc's CopyManager (resolved
    * reflectively — see class doc) on an ALREADY-OPEN connection whose
    * owner holds the transaction ([[CopySink.writePartition]], or the
    * exactly-once ledger, which commits this call with its ledger
    * INSERT). Does not commit, roll back, or close; with autocommit
    * off, the copied rows are invisible until the caller commits.
    * Returns rows written.
    */
  def copyOnConnection(
      conn: Connection,
      rows: Iterator[Row],
      sql: String): Long = {
    val pgConnClass = Class.forName("org.postgresql.PGConnection",
      true, conn.getClass.getClassLoader)
    val pgConn = conn.unwrap(pgConnClass.asInstanceOf[Class[AnyRef]])
    val copyApi = pgConnClass.getMethod("getCopyAPI").invoke(pgConn)
    val in = new RowsInputStream(rows)
    val copied = copyApi.getClass
      .getMethod("copyIn", classOf[String], classOf[java.io.InputStream])
      .invoke(copyApi, sql, in).asInstanceOf[java.lang.Long]
    copied.longValue()
  }
}
