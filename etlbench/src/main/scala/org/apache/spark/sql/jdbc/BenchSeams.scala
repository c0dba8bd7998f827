package org.apache.spark.sql.jdbc

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reaches, kept in one place.
  *
  * Derby's dialect is package-private; the counting JDBC driver needs
  * it under its own URL prefix so Spark maps types (strings to CLOB,
  * truncate support) exactly as it does for a plain Derby URL.
  *
  * The listener bus is drained before counters are read, so every
  * job, stage and task event of an iteration has been delivered.
  */
object BenchSeams {

  private class PrefixedDerbyDialect(prefix: String) extends DerbyDialect {
    override def canHandle(url: String): Boolean = url.startsWith(prefix)
    // DerbyDialect is a case class: without this, registering this
    // dialect would replace Derby's own (registration drops equal ones)
    override def canEqual(that: Any): Boolean = that.isInstanceOf[PrefixedDerbyDialect]
  }

  def derbyDialectFor(prefix: String): JdbcDialect = new PrefixedDerbyDialect(prefix)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
