package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, SQLException}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.config.{ConfigParser, MappingConfig, TableSpec}
import graft.sink.{DerbyDialect, UpsertWriter}
import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark. `run.py` generates the inputs, starts
  * this main with `key=value` arguments, and reads back the JSON object it
  * writes to `out=`. Arguments: workload, work (the run's directory), out,
  * trace (0|1), run_id, seconds, gen_s, plus per-workload sizes. */
object Harness {

  final class Params(m: Map[String, String]) {
    def s(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def d(k: String): Double = s(k).toDouble
  }

  /** Result fields, written as one JSON object. */
  final class Out {
    val fields = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def render: String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
    private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    private def value(v: Any): String = v match {
      case d: Double if d.isNaN || d.isInfinite => "null"
      case d: Double => d.toString
      case n @ (_: Int | _: Long) => n.toString
      case b: Boolean => b.toString
      case s: String => str(s)
      case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
      case (a, b) => s"[${value(a)},${value(b)}]"
      case other => str(String.valueOf(other))
    }
  }

  def main(args: Array[String]): Unit = {
    val p = new Params(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val work = p.s("work")
    val trace = new Trace(p.s("trace") == "1", p.s("run_id"))
    val out = new Out
    CountingDriver.register()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out("session_s") = (System.nanoTime() - t0) / 1e9
    val engine = new EngineListener
    if (trace.on) spark.sparkContext.addSparkListener(engine)
    try {
      val ctx = new Ctx(spark, p, trace, engine, out)
      p.s("workload") match {
        case "cdc_sync" => Cdc.sync(ctx)
        case "query_mix" => QueryMix.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      out("rss_peak_mb") = Ctx.vmHwmMb()
      out("offset_commits") = CountingDriver.offsetCommits.asScala.toSeq
    } finally {
      val w = new PrintWriter(p.s("out"), "UTF-8")
      try w.println(out.render) finally w.close()
      trace.write(s"$work/spans.jsonl")
      spark.stop()
    }
  }
}

/** What every workload needs: the session, its arguments, the trace and
  * the result fields, plus the sink and timing helpers they share. */
final class Ctx(val spark: SparkSession, val p: Harness.Params, val trace: Trace,
    val engine: EngineListener, val out: Harness.Out) {
  val work: String = p.s("work")

  /** Wall seconds of `body` and its value. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Engine counters over one traced phase, written as `engine.*`. */
  def engineSpan[A](body: => A): A = {
    if (!trace.on) body
    else {
      engine.take()
      val t0 = System.nanoTime()
      val a = trace.span("engine")(body)
      val t1 = System.nanoTime()
      val e = engine.take()
      out("engine.jobs") = e.jobs
      out("engine.stages") = e.stages
      out("engine.tasks") = e.tasks
      out("engine.task_s") = e.taskNanos / 1e9
      out("engine.shuffle_write_bytes") = e.shuffleWriteBytes
      out("engine.spill_bytes") = e.spillBytes
      out("engine.gc_s") = e.gcMs / 1e3
      out("engine.driver_gap_s") = EngineListener.driverGapNanos(t0, t1, e.jobIntervals) / 1e9
      out("sources.input_bytes") = e.inputBytes
      a
    }
  }

  // ---- the Derby sink, reached through the counting driver ---------------

  val props = new Properties()
  def url(db: String): String = s"${CountingDriver.Prefix}memory:$db"

  def withConn[A](db: String)(f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url(db), props)
    try f(c) finally c.close()
  }

  def config(db: String, text: String): MappingConfig =
    ConfigParser.parse(text.replace("jdbc:perfbench:memory:sink", url(db)))

  /** A new in-memory database holding every declared table, each seeded
    * with `staleShare` of its source size in keys the source lacks. */
  def createSink(db: String, cfg: MappingConfig, sourceRows: Map[String, Long],
      staleShare: Double): Unit = {
    DriverManager.getConnection(url(db) + ";create=true", props).close()
    withConn(db) { c =>
      c.setAutoCommit(false)
      cfg.tables.foreach { spec =>
        c.prepareStatement(DerbyDialect.createTableSql(spec)).executeUpdate()
        val st = c.prepareStatement(s"""INSERT INTO "${spec.name}" ("${spec.pk}") VALUES (?)""")
        (0L until math.round(sourceRows(spec.name) * staleShare)).foreach { i =>
          st.setString(1, s"stale$i"); st.addBatch()
        }
        st.executeBatch()
      }
      c.commit()
    }
  }

  def dropSink(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true", props).close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  def storedOffset(db: String): Option[Long] = withConn(db)(UpsertWriter.readOffset(_, DerbyDialect))

  /** Every row of a sink table as canonical text, declared column order. */
  def sinkRows(db: String, spec: TableSpec): Seq[String] = withConn(db) { c =>
    val cols = (spec.pk +: spec.columns.map(_.sinkName)).map(n => "\"" + n + "\"").mkString(", ")
    val rs = c.prepareStatement(s"""SELECT $cols FROM "${spec.name}"""").executeQuery()
    val b = Seq.newBuilder[String]
    val n = spec.columns.size + 1
    while (rs.next()) b += (1 to n).map(i => Ctx.canon(rs.getObject(i))).mkString("\u0001")
    rs.close()
    b.result()
  }

  /** First offset commit at or after `afterUs` covering `ts`, in epoch us. */
  def commitCovering(ts: Long, afterUs: Long): Option[Long] =
    CountingDriver.offsetCommits.asScala.collectFirst { case (at, off) if at >= afterUs && off >= ts => at }

  def awaitCommit(ts: Long, afterUs: Long, timeoutS: Double): Option[Long] = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var hit = commitCovering(ts, afterUs)
    while (hit.isEmpty && System.nanoTime() < deadline) { Thread.sleep(2); hit = commitCovering(ts, afterUs) }
    hit
  }

  def copyInto(src: String, dir: String): Unit = {
    val name = new File(src).getName
    val tmp = Paths.get(dir, "." + name + ".tmp")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }
}

object Ctx {
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Double.toString(f.doubleValue)
    case other => other.toString
  }

  /** Peak resident set of this process (`VmHWM`), MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Multiset difference size between two row listings. */
  def mismatches(expected: Seq[String], actual: Seq[String]): Long = {
    val counts = mutable.HashMap.empty[String, Long]
    expected.foreach(r => counts(r) = counts.getOrElse(r, 0L) + 1)
    actual.foreach(r => counts(r) = counts.getOrElse(r, 0L) - 1)
    counts.valuesIterator.map(math.abs).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
