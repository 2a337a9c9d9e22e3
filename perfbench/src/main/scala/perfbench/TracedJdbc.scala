package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, ResultSet, Statement}

/** JDBC boundary timing for the traced migration passes. URLs of the form
  * `jdbc:perfbench:derby:...` reach Derby through proxies that time result
  * fetches (`executeQuery` + `ResultSet.next`) and batched writes
  * (`executeBatch` + `commit`) and charge them to the calling span, or to
  * the span of the Spark task running the call. Untraced passes use plain
  * `jdbc:derby:` URLs and never touch this code.
  */
object TracedJdbc {
  val Prefix = "jdbc:perfbench:"
  @volatile var tracer: Tracer = null

  def url(plain: String): String = Prefix + plain.stripPrefix("jdbc:")

  private lazy val registered: Unit = {
    DriverManager.registerDriver(new TracedDriver)
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
      org.apache.spark.sql.jdbc.TracedDerbyDialect())
  }
  def install(t: Tracer): Unit = { registered; tracer = t }

  private final class Counters(role: String) {
    var fetchNs, rows, writeNs, written, batches, pending = 0L
    def flush(): Unit = {
      val t = tracer
      if (t == null || (fetchNs | writeNs | rows | batches) == 0) return
      val s = t.statsOf(t.current)
      if (role == "src") {
        s.add("jdbc.fetch_s", fetchNs / 1e9); s.add("jdbc.rows_read", rows)
      } else {
        s.add("jdbc.write_s", writeNs / 1e9)
        s.add("jdbc.rows_written", written); s.add("jdbc.batches", batches)
      }
      fetchNs = 0; rows = 0; writeNs = 0; written = 0; batches = 0
    }
  }

  private def proxy[T](iface: Class[_],
      h: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          try h(m, args)
          catch { case e: InvocationTargetException => throw e.getCause }
      }).asInstanceOf[T]

  private def timed(body: => AnyRef)(add: Long => Unit): AnyRef = {
    val t0 = System.nanoTime()
    try body finally add(System.nanoTime() - t0)
  }

  def wrap(c: Connection, role: String): Connection = {
    val cc = new Counters(role)
    proxy[Connection](classOf[Connection], (m, args) => m.getName match {
      case "createStatement" | "prepareStatement" =>
        val st = m.invoke(c, args: _*).asInstanceOf[Statement]
        val iface = if (m.getName == "prepareStatement")
          classOf[java.sql.PreparedStatement] else classOf[Statement]
        statement(st, iface, cc)
      case "commit" => timed(m.invoke(c, args: _*))(cc.writeNs += _)
      case "close" => cc.flush(); m.invoke(c, args: _*)
      case _ => m.invoke(c, args: _*)
    })
  }

  private def statement(st: Statement, iface: Class[_], cc: Counters)
      : Statement =
    proxy[Statement](iface, (m, args) => m.getName match {
      case "addBatch" => cc.pending += 1; m.invoke(st, args: _*)
      case "executeBatch" =>
        cc.batches += 1; cc.written += cc.pending; cc.pending = 0
        timed(m.invoke(st, args: _*))(cc.writeNs += _)
      case "executeQuery" =>
        val rs = timed(m.invoke(st, args: _*))(cc.fetchNs += _)
          .asInstanceOf[ResultSet]
        proxy[ResultSet](classOf[ResultSet], (rm, ra) => rm.getName match {
          case "next" =>
            val t0 = System.nanoTime()
            val more = rm.invoke(rs, ra: _*)
            cc.fetchNs += System.nanoTime() - t0
            if (more == java.lang.Boolean.TRUE) cc.rows += 1
            more
          case "close" => cc.flush(); rm.invoke(rs, ra: _*)
          case _ => rm.invoke(rs, ra: _*)
        })
      case "close" => cc.flush(); m.invoke(st, args: _*)
      case _ => m.invoke(st, args: _*)
    })
}

/** Accepts `jdbc:perfbench:<url>` and connects to `jdbc:<url>` through
  * [[TracedJdbc.wrap]]. Spark instantiates it by class name, so it keeps
  * a public no-argument constructor.
  */
final class TracedDriver extends java.sql.Driver {
  def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(TracedJdbc.Prefix)
  def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val plain = "jdbc:" + url.stripPrefix(TracedJdbc.Prefix)
      TracedJdbc.wrap(DriverManager.getConnection(plain, info),
        if (plain.contains(Migrate.SourceDb)) "src" else "tgt")
    }
  def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant(): Boolean = false
  def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getGlobal
}
