package perfbench

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import graft.sink.{DerbyDialect, UpsertWriter}
import org.scalatest.funsuite.AnyFunSuite

class CountingDriverSpec extends AnyFunSuite {

  private def url(db: String) = s"${CountingDriver.Prefix}memory:$db"

  test("a scripted JDBC sequence is counted call by call") {
    CountingDriver.register()
    CountingDriver.counting = true
    val c0 = CountingDriver.snapshot()
    val offsets0 = CountingDriver.offsetCommits.size
    val data0 = CountingDriver.dataCommits.size
    val conn = DriverManager.getConnection(url("scripted") + ";create=true")
    try {
      conn.setAutoCommit(false)
      conn.createStatement().execute("""CREATE TABLE "t" ("_id" VARCHAR(24) PRIMARY KEY)""")
      val ins = conn.prepareStatement("""INSERT INTO "t" ("_id") VALUES (?)""")
      Seq("a", "b", "c").foreach { k => ins.setString(1, k); ins.addBatch() }
      ins.executeBatch()
      conn.commit()
      DerbyDialect.ensureStateTable(conn)
      UpsertWriter.commitOffset(conn, 42L, DerbyDialect)
      conn.commit()
      ins.setString(1, "d")
      ins.executeUpdate()
      conn.rollback()
      conn.setAutoCommit(true)
      assert(UpsertWriter.readOffset(conn, DerbyDialect).contains(42L))
    } finally conn.close()
    val c = CountingDriver.snapshot() - c0
    assert(c.connections == 1)
    // insert, state-table create, offset merge, offset read
    assert(c.prepares == 4)
    // executeBatch, create, offset merge, single insert, offset read
    assert(c.roundTrips == 5)
    assert(c.rows == 3 + 1 + 1 + 1 + 1)
    assert(c.commits == 2)
    assert(c.rollbacks == 1)
    assert(c.stateCommits == 1)
    assert(c.busyNanos > 0 && c.stateNanos > 0 && c.stateNanos <= c.busyNanos)
    assert(CountingDriver.offsetCommits.asScala.toSeq.drop(offsets0).map(_._2) == Seq(42L))
    // the rolled-back insert never became visible, so it is not a data commit
    assert(CountingDriver.dataCommits.asScala.toSeq.drop(data0).map(_._2) == Seq(3L))
  }

  test("offset commits are recorded with counting off, the counters are not") {
    CountingDriver.register()
    CountingDriver.counting = false
    val c0 = CountingDriver.snapshot()
    val offsets0 = CountingDriver.offsetCommits.size
    val conn = DriverManager.getConnection(url("quiet") + ";create=true")
    try {
      conn.setAutoCommit(false)
      DerbyDialect.ensureStateTable(conn)
      UpsertWriter.commitOffset(conn, 7L, DerbyDialect)
      conn.commit()
    } finally conn.close()
    assert(CountingDriver.snapshot() - c0 == CountingDriver.Counts(0, 0, 0, 0, 0, 0, 0, 0, 0))
    val recorded = CountingDriver.offsetCommits.asScala.toSeq.drop(offsets0)
    assert(recorded.map(_._2) == Seq(7L))
    assert(recorded.head._1 > 0)
  }
}
