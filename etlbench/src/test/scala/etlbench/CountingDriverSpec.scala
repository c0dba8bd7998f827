package etlbench

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

class CountingDriverSpec extends AnyFunSuite {

  test("counts a known batch: connection, statements, batch rows by kind, commits, reads") {
    CountingDriver.register()
    val dir = Files.createTempDirectory("etlbench_jdbc").resolve("db")
    val c = DriverManager.getConnection(CountingDriver.countingUrl(s"jdbc:derby:$dir;create=true"))
    val n = CountingDriver.counters
    n.reset()
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE t (k INT, v VARCHAR(10))") // autocommit: one commit
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO t VALUES (?, ?)")
      (0 until 5).foreach { k => ps.setInt(1, k); ps.setString(2, s"v$k"); ps.addBatch() }
      ps.executeBatch()
      st.executeUpdate("UPDATE t SET v = 'x' WHERE k < 3")
      st.executeUpdate("DELETE FROM t WHERE k = 4")
      c.commit()
      val rs = st.executeQuery("SELECT k FROM t")
      while (rs.next()) ()
      c.commit()
    } finally c.close()

    assert(n.connections.get == 0) // the connection was opened before the reset
    assert(n.statements.get == 2)
    assert(n.batches.get == 1 && n.batchRows.get == 5)
    assert(n.inserted.get == 5 && n.updated.get == 3 && n.deleted.get == 1)
    assert(n.read.get == 4)
    assert(n.commits.get == 3)
    assert(n.dbNanos.get > 0)
  }

  test("counts one connection per connect, and leaves other URLs to their own drivers") {
    CountingDriver.register()
    val dir = Files.createTempDirectory("etlbench_jdbc").resolve("db")
    val n = CountingDriver.counters
    n.reset()
    DriverManager.getConnection(CountingDriver.countingUrl(s"jdbc:derby:$dir;create=true")).close()
    DriverManager.getConnection(s"jdbc:derby:$dir").close()
    assert(n.connections.get == 1)
    assert(!new CountingDriver().acceptsURL(s"jdbc:derby:$dir"))
  }
}

class CountingDialectSpec extends AnyFunSuite {
  test("Spark maps types for the counting URL exactly as for a Derby URL") {
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.types._
    CountingDriver.register()
    val counting = JdbcDialects.get(CountingDriver.countingUrl("jdbc:derby:memory:x"))
    val derby = JdbcDialects.get("jdbc:derby:memory:x")
    for (t <- Seq(StringType, BooleanType, ByteType, ShortType, LongType, DoubleType, TimestampType))
      assert(counting.getJDBCType(t).map(_.databaseTypeDefinition) == derby.getJDBCType(t).map(_.databaseTypeDefinition), t)
    assert(counting.isCascadingTruncateTable() == derby.isCascadingTruncateTable())
  }
}
