package org.apache.spark.sql.jdbc

/** Spark's Derby dialect for the benchmark's traced JDBC URLs
  * (`jdbc:perfbench:derby:...`), so traced and untraced migration passes
  * map types identically. Spark keeps `DerbyDialect` package-private.
  */
object TracedDerbyDialect {
  private class Impl extends DerbyDialect {
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:perfbench:derby")
  }
  def apply(): JdbcDialect = new Impl
}
