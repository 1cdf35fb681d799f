package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import java.util.logging.Logger

/** A JDBC driver for `jdbc:perfbench:<derby url tail>` that hands every call
  * to embedded Derby and records what crosses the sink boundary.
  *
  * Commits are always recorded with their time: offset commits (the
  * state-table MERGE followed by `commit`) with the offset, data commits with
  * the rows they made visible, because latency and lag are read from them
  * with tracing on or off. The per-call counters and busy time are recorded
  * only while [[CountingDriver.counting]] is set. */
final class CountingDriver extends Driver {
  import CountingDriver._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val inner = timed(DriverManager.getConnection("jdbc:derby:" + url.stripPrefix(Prefix), info))
      if (counting) stats.connections.increment()
      wrapConnection(inner)
    }

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getLogger("perfbench")
}

object CountingDriver {
  val Prefix = "jdbc:perfbench:"

  /** Counters of one measured span of work; [[snapshot]] reads them. */
  final class Stats {
    val connections, prepares, roundTrips, rows, commits, rollbacks, busyNanos = new LongAdder
    val stateNanos, stateCommits = new LongAdder
  }
  final case class Counts(connections: Long, prepares: Long, roundTrips: Long, rows: Long,
      commits: Long, rollbacks: Long, busyNanos: Long, stateNanos: Long, stateCommits: Long) {
    def -(o: Counts): Counts = Counts(connections - o.connections, prepares - o.prepares,
      roundTrips - o.roundTrips, rows - o.rows, commits - o.commits, rollbacks - o.rollbacks,
      busyNanos - o.busyNanos, stateNanos - o.stateNanos, stateCommits - o.stateCommits)
  }

  @volatile var counting: Boolean = false
  val stats = new Stats

  /** Offset commits as (epoch microseconds when `commit` returned, offset). */
  val offsetCommits = new ConcurrentLinkedQueue[(Long, Long)]()

  /** Commits of sink data as (epoch microseconds when `commit` returned,
    * rows the connection wrote since its previous commit). */
  val dataCommits = new ConcurrentLinkedQueue[(Long, Long)]()

  def snapshot(): Counts = Counts(stats.connections.sum, stats.prepares.sum,
    stats.roundTrips.sum, stats.rows.sum, stats.commits.sum, stats.rollbacks.sum,
    stats.busyNanos.sum, stats.stateNanos.sum, stats.stateCommits.sum)

  private lazy val registered: Unit = DriverManager.registerDriver(new CountingDriver)
  def register(): Unit = registered

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def timed[A](f: => A): A = {
    if (!counting) f
    else {
      val t0 = System.nanoTime()
      try f finally stats.busyNanos.add(System.nanoTime() - t0)
    }
  }

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  /** Per-connection state: the offset bound by a state-table MERGE waits
    * here until the connection commits. */
  private final class ConnHandler(inner: Connection) extends InvocationHandler {
    @volatile var pendingOffset: Option[Long] = None
    @volatile var pendingRows = 0L

    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        val sql = args(0).asInstanceOf[String]
        val st = timed(CountingDriver.invoke(inner, m, args)).asInstanceOf[PreparedStatement]
        if (counting) stats.prepares.increment()
        val isState = sql.contains("\"" + graft.sink.UpsertWriter.StateTable + "\"")
        Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
          new StmtHandler(st, this, isState, isState && sql.startsWith("MERGE")))
      case "commit" =>
        val t0 = System.nanoTime()
        val r = timed(CountingDriver.invoke(inner, m, args))
        if (counting) stats.commits.increment()
        val at = epochMicros()
        pendingOffset.foreach { off =>
          offsetCommits.add(at -> off)
          if (counting) { stats.stateCommits.increment(); stats.stateNanos.add(System.nanoTime() - t0) }
        }
        if (pendingRows > 0) dataCommits.add(at -> pendingRows)
        pendingOffset = None
        pendingRows = 0
        r
      case "rollback" =>
        if (counting) stats.rollbacks.increment()
        pendingOffset = None
        pendingRows = 0
        timed(CountingDriver.invoke(inner, m, args))
      case "unwrap" | "isWrapperFor" => CountingDriver.invoke(inner, m, args)
      case _ => timed(CountingDriver.invoke(inner, m, args))
    }
  }

  /** `state`: the statement reads or writes the offset state table;
    * `offsetMerge`: it is the offset upsert whose bound value commits. */
  private final class StmtHandler(inner: PreparedStatement, conn: ConnHandler,
      state: Boolean, offsetMerge: Boolean) extends InvocationHandler {
    private var batched = 0L
    private var boundOffset: Option[Long] = None

    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "addBatch" => batched += 1; CountingDriver.invoke(inner, m, args)
      case "executeBatch" =>
        if (!state) conn.pendingRows += batched
        execute(m, args, batched, { batched = 0 })
      case "executeUpdate" | "executeLargeUpdate" =>
        if (offsetMerge) conn.pendingOffset = boundOffset
        if (!state) conn.pendingRows += 1
        execute(m, args, 1, ())
      case "executeQuery" | "execute" => execute(m, args, 1, ())
      case "setBytes" if offsetMerge =>
        boundOffset = Some(new String(args(1).asInstanceOf[Array[Byte]], "UTF-8").toLong)
        CountingDriver.invoke(inner, m, args)
      case n if n.startsWith("set") || n == "clearParameters" || n == "close" =>
        CountingDriver.invoke(inner, m, args)
      case _ => timed(CountingDriver.invoke(inner, m, args))
    }

    private def execute(m: Method, args: Array[AnyRef], nRows: Long, after: => Unit): AnyRef = {
      val t0 = System.nanoTime()
      try CountingDriver.invoke(inner, m, args)
      finally {
        if (counting) {
          val dt = System.nanoTime() - t0
          stats.busyNanos.add(dt)
          stats.roundTrips.increment()
          stats.rows.add(nRows)
          if (state) stats.stateNanos.add(dt)
        }
        after
      }
    }
  }

  private def wrapConnection(inner: Connection): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new ConnHandler(inner)).asInstanceOf[Connection]
}
