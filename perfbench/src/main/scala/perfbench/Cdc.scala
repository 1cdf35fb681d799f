package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{BenchAccess, Replicator}
import graft.config.{MappingConfig, TableSpec}
import graft.operators.Transforms
import graft.sink.{DerbyDialect, MergeApply}
import graft.sources.{ChangeFeed, ParquetHarnessProvider}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StructField, StructType}

/** The replicator workload `cdc_sync`: an initial snapshot, then the
  * catch-up of a backlog after a restart. Its traced run adds a per-module
  * breakdown and an open-loop tail. */
object Cdc {

  private val Db = "app"
  /** Fewest measured lifecycles; their medians are the run's figures. */
  private val MinLifecycles = 3
  private val WarmupLifecycles = 3

  /** One sink database and its replicator, with the run's generated
    * snapshot tables and a fresh segment directory holding the history
    * marker the initial run pins its offset on. */
  private final class Lifecycle(ctx: Ctx, val db: String, configText: String) {
    val cfg: MappingConfig = ctx.config(db, configText)
    val segDir: String = s"${ctx.work}/$db/segments"
    val ckpt: String = s"${ctx.work}/$db/checkpoint"
    val provider = new ParquetHarnessProvider(ctx.spark, s"${ctx.work}/snapshot", segDir)
    val repl = new Replicator(ctx.spark, cfg, ctx.url(db), ctx.props, DerbyDialect)

    def setUp(): Unit = {
      val rows = cfg.tables.map(t => t.name -> ctx.p.s(s"rows_${t.name}").toLong).toMap
      ctx.createSink(db, cfg, rows, ctx.p.d("stale_share"))
      new File(segDir).mkdirs()
      ctx.copyInto(s"${ctx.work}/history.json", segDir)
    }

    def sinkIds(spec: TableSpec): DataFrame =
      ctx.spark.read.format("jdbc")
        .option("url", ctx.url(db))
        .option("driver", classOf[CountingDriver].getName)
        .option("dbtable", "\"" + spec.name + "\"")
        .load().select(spec.pk)

    def run(): StreamingQuery = {
      val observed = ctx.withConn(db)(DerbyDialect.observeCatalog)
      repl.run(observed, provider, sinkIds, ckpt, force = false, zerop = false)
    }

    def replicated: Set[String] = cfg.tables.map(t => s"$Db.${t.name}").toSet

    /** Mismatched rows between the sink and the reference (each table's
      * snapshot with `MergeApply.foldChanges` applied over the whole feed),
      * plus the feed entries that decoded to dead letters. */
    def mismatchedRows(): Long = {
      val spark = ctx.spark
      val decoded = ChangeFeed.decode(ChangeFeed.readBatch(spark, segDir, replicated, 0L), replicated)
        .persist()
      try {
        val fed = decoded.filter(col("kind").isin("upsert", "delete"))
          .select("tbl").distinct().collect().map(_.getString(0)).toSet
        cfg.tables.map { spec =>
          val valueCols = spec.columns.map(_.sinkName)
          val snapshot = Transforms.projectTo(provider.snapshot(spec), spec)
          val expected = if (!fed.contains(spec.name)) snapshot else {
            val fields = StructType(spec.columns.map(c => StructField(c.sinkName, c.dataType)))
            val changes = decoded
              .filter(col("tbl") === spec.name && col("kind").isin("upsert", "delete"))
              .select(col("id").as(spec.pk), col("kind"), col("partial"), col("ts"), col("seq"),
                transform(col("removed"), r => regexp_replace(r, "\\.", "_")).as("unsets"),
                from_json(col("fields_json"), fields).as("f"))
              .select(Seq(spec.pk, "kind", "partial", "ts", "seq", "unsets").map(col) ++
                valueCols.map(v => col(s"f.$v").as(v)): _*)
            MergeApply.foldChanges(snapshot, changes,
              spec.pk, "kind", "partial", "unsets", Seq(col("ts"), col("seq")), valueCols)
          }
          val rows = expected.select((spec.pk +: valueCols).map(col): _*)
            .collect().toSeq.map(_.toSeq.map(Ctx.canon).mkString("\u0001"))
          Ctx.mismatches(rows, ctx.sinkRows(db, spec))
        }.sum + decoded.filter(col("kind") === "dead_letter").count()
      } finally decoded.unpersist()
    }

    def drop(): Unit = ctx.dropSink(db)
  }

  private def awaitOrFail(ctx: Ctx, ts: Long, afterUs: Long, what: String): Long =
    ctx.awaitCommit(ts, afterUs, ctx.p.d("commit_timeout_s"))
      .getOrElse(sys.error(s"$what: no offset commit covering $ts"))

  // ---- cdc_sync -----------------------------------------------------------

  def sync(ctx: Ctx): Unit = {
    val configText = new String(Files.readAllBytes(Paths.get(ctx.work, "config.yml")), "UTF-8")
    val backlog = s"${ctx.work}/backlog/backlog.json"
    val head = ctx.p.s("backlog_head").toLong
    val backlogEntries = ctx.p.s("backlog_entries").toLong
    val snapshotRows = ctx.p.s("snapshot_rows").toLong
    val out = ctx.out
    val items = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var lifecycles = 0

    /** One initial run and one restart; returns the still-open sink
      * and the (snapshot, catch-up) seconds. */
    def lifecycle(name: String, calibrate: () => Unit = () => ()): (Lifecycle, (Double, Double)) = {
      val lc = new Lifecycle(ctx, name, configText)
      setups += ctx.timed(lc.setUp())._1
      val pin = ctx.p.s("pin_ts").toLong
      val (tA, pinned) = ctx.trace.span(s"$name.snapshot") {
        val tA = CountingDriver.epochMicros()
        val q1 = lc.run()
        val pinned = awaitOrFail(ctx, pin, tA, "snapshot")
        q1.processAllAvailable(); q1.stop()
        (tA, pinned)
      }
      ctx.copyInto(backlog, lc.segDir)
      calibrate()
      val (tB, caught) = ctx.trace.span(s"$name.catchup") {
        val tB = CountingDriver.epochMicros()
        val q2 = lc.run()
        val caught = awaitOrFail(ctx, head, tB, "catch-up")
        q2.stop()
        (tB, caught)
      }
      // each row counts from its phase's start until the commit that made
      // it visible in the sink
      CountingDriver.dataCommits.asScala.foreach { case (at, rows) =>
        if (at > tA && at <= pinned) items += ((lifecycles, (at - tA) / 1e3, rows))
        if (at > tB && at <= caught) items += ((lifecycles, (at - tB) / 1e3, rows))
      }
      attempted += snapshotRows + backlogEntries
      if (ctx.storedOffset(lc.db) != Some(head)) failed += backlogEntries
      (lc, ((pinned - tA) / 1e6, (caught - tB) / 1e6))
    }

    // warm-up lifecycles make the same calls on the same inputs; the
    // compiled code keeps getting faster through the third one
    val (warmS, _) = ctx.timed {
      (1 to WarmupLifecycles).foreach(i => lifecycle(s"warmup$i")._1.drop())
      Calibration.once()
    }
    items.clear(); setups.clear(); attempted = 0
    val t0 = System.nanoTime()
    val phases = Seq.newBuilder[(Double, Double)]
    val calibrations = Seq.newBuilder[Double]
    val budget = ctx.p.d("seconds")
    var last: Lifecycle = null
    while (lifecycles < MinLifecycles || (System.nanoTime() - t0) / 1e9 < budget) {
      if (last != null) last.drop()
      calibrations += Calibration.once()
      lifecycles += 1
      val (lc, ph) = lifecycle(s"sync$lifecycles", () => calibrations += Calibration.once())
      phases += ph
      last = lc
    }
    calibrations += Calibration.once()
    // the last lifecycle's sink is checked row by row, outside the timing
    failed += last.mismatchedRows()
    last.drop()
    // timings at the reference host speed (see Calibration)
    val speed = Calibration.ReferenceS / Ctx.median(calibrations.result())
    val measured = phases.result().map { case (a, b) => (a * speed, b * speed) }
    out("throughput_per_s") = Ctx.median(measured.map { case (a, b) => (snapshotRows + backlogEntries) / (a + b) })
    out("items") = items.toSeq.map { case (rep, ms, n) => Seq(rep, ms * speed, n) }
    out("lifecycles") = lifecycles
    out("calibration_s") = calibrations.result()
    out("host.calibration_s") = Ctx.median(calibrations.result())
    out("phases_s") = measured
    out("warmup_s") = warmS
    out("sync.snapshot_rows_per_s") = Ctx.median(measured.map(m => snapshotRows / m._1))
    out("sync.catchup_events_per_s") = Ctx.median(measured.map(m => backlogEntries / m._2))
    out("attempted") = attempted
    out("failed") = failed
    out("setup_s") = ctx.p.d("gen_s") + out.fields("session_s").asInstanceOf[Double] + warmS +
      Ctx.median(setups.toSeq)
    if (ctx.trace.on) { syncLayers(ctx, configText); tail(ctx) }
  }

  /** The traced breakdown of one lifecycle by module: each module's
    * public call is timed on its own, in the order `Replicator.run` makes
    * them, on a fresh sink. */
  private def syncLayers(ctx: Ctx, configText: String): Unit = {
    val out = ctx.out
    val spark = ctx.spark
    val lc = new Lifecycle(ctx, "layers", configText)
    lc.setUp()
    CountingDriver.counting = true
    val c0 = CountingDriver.snapshot()
    ctx.engineSpan {
      val observed = ctx.withConn(lc.db)(DerbyDialect.observeCatalog)
      out("sink.schema_sync_s") = ctx.timed(lc.repl.reconcileSchema(observed, force = false))._1
      var scan, write, orphan = 0.0
      lc.cfg.tables.foreach { spec =>
        val src = ctx.trace.span(s"sources.snapshot.${spec.name}")(lc.provider.snapshot(spec))
        scan += ctx.timed(Transforms.projectTo(src, spec).write.format("noop").mode("overwrite").save())._1
        write += ctx.timed(ctx.trace.span(s"sink.snapshot.${spec.name}")(lc.repl.snapshot(spec, src)))._1
        orphan += ctx.timed(ctx.trace.span(s"sink.orphans.${spec.name}")(
          lc.repl.deleteOrphans(spec, src.select(col(spec.pk)), lc.sinkIds(spec))))._1
      }
      out("sources.snapshot_scan_s") = scan
      out("sink.snapshot_write_s") = write
      out("sink.orphan_delete_s") = orphan
      ctx.copyInto(s"${ctx.work}/backlog/backlog.json", lc.segDir)
      val pin = ctx.p.s("pin_ts").toLong
      val feed = ChangeFeed.readBatch(spark, lc.segDir, lc.replicated, pin)
      val (feedS, _) = ctx.timed(ctx.trace.span("sources.feed_scan")(
        feed.write.format("noop").mode("overwrite").save()))
      val decoded = ChangeFeed.decode(feed, lc.replicated).persist()
      val (decodeS, changes) = ctx.timed(ctx.trace.span("changelog.decode")(decoded.count()))
      val lines = Files.readAllLines(Paths.get(lc.segDir, "backlog.json")).size +
        Files.readAllLines(Paths.get(lc.segDir, "history.json")).size
      val kept = feed.count()
      out("sources.feed_scan_s") = feedS
      out("sources.feed_lines") = lines.toLong
      out("sources.keep_frac") = kept.toDouble / lines
      out("changelog.decode_s") = math.max(decodeS - feedS, 0.0)
      out("changelog.changes_per_entry") = changes.toDouble / kept
      out("changelog.dead_letters") = decoded.filter(col("kind") === "dead_letter").count()
      val a0 = CountingDriver.snapshot()
      out("sink.apply_s") = ctx.timed(ctx.trace.span("sink.apply")(
        BenchAccess.applyBatch(decoded, lc.cfg.tables, ctx.url(lc.db), ctx.props, DerbyDialect)))._1
      out("sink.apply_jdbc_busy_s") = (CountingDriver.snapshot() - a0).busyNanos / 1e9
      decoded.unpersist()
    }
    sinkCounters(out, CountingDriver.snapshot() - c0)
    CountingDriver.counting = false
    lc.drop()
  }

  private def sinkCounters(out: Harness.Out, c: CountingDriver.Counts): Unit = {
    out("sink.jdbc_busy_s") = c.busyNanos / 1e9
    out("sink.round_trips") = c.roundTrips
    out("sink.rows_per_round_trip") = if (c.roundTrips == 0) 0.0 else c.rows.toDouble / c.roundTrips
    out("sink.prepares") = c.prepares
    out("sink.commits") = c.commits
    out("sink.connections") = c.connections
    out("sink.rollbacks") = c.rollbacks
  }

  // ---- the open-loop tail of the traced run --------------------------------

  /** A synced sink tailed while the generator process appends segments at
    * its fixed rates; the lag is read from the offset commits afterwards. */
  private def tail(ctx: Ctx): Unit = {
    val configText = new String(Files.readAllBytes(Paths.get(ctx.work, "config_tail.yml")), "UTF-8")
    val out = ctx.out
    val lc = new Lifecycle(ctx, "tail", configText)
    lc.setUp()
    val q = lc.run()
    q.processAllAvailable()
    val streams = new StreamListener
    ctx.spark.streams.addListener(streams)
    Files.write(new File(ctx.work, "ready").toPath, Array.emptyByteArray)
    // the generator runs in its own process and writes `gen_done` with the
    // head ts when it has finished
    val done = new File(ctx.work, "gen_done")
    val deadline = System.nanoTime() + (ctx.p.d("gen_timeout_s") * 1e9).toLong
    CountingDriver.counting = true
    ctx.engine.take()
    val c0 = CountingDriver.snapshot()
    val t0 = System.nanoTime()
    while (!done.exists() && System.nanoTime() < deadline) Thread.sleep(20)
    require(done.exists(), "generator did not finish")
    val head = new String(Files.readAllBytes(done.toPath), "UTF-8").trim.toLong
    ctx.awaitCommit(head, 0L, ctx.p.d("commit_timeout_s"))
    val t1 = System.nanoTime()
    q.stop()
    CountingDriver.counting = false
    val c = CountingDriver.snapshot() - c0
    val e = ctx.engine.take()
    out("tail.failed") = (if (ctx.storedOffset(lc.db) != Some(head)) 1L else 0L) +
      lc.mismatchedRows()
    out("tail.entries") = head - ctx.p.s("pin_ts").toLong
    out("sink.offset_ms_per_commit") = if (c.stateCommits == 0) 0.0 else c.stateNanos / 1e6 / c.stateCommits
    val batches = streams.batches.asScala.toSeq
    def d(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    out("streaming.batches") = batches.size.toLong
    out("streaming.empty_batches") = batches.count(_.rows == 0).toLong
    out("streaming.rows_per_batch_p50") = Ctx.median(batches.map(_.rows.toDouble))
    out("streaming.trigger_ms_p50") = Ctx.median(d("triggerExecution"))
    out("streaming.trigger_ms_p90") = percentile(d("triggerExecution"), 0.9)
    out("streaming.add_batch_ms_p50") = Ctx.median(d("addBatch"))
    out("streaming.plan_ms_p50") = Ctx.median(d("queryPlanning"))
    out("streaming.wal_ms_p50") = Ctx.median(d("walCommit"))
    out("streaming.jobs_per_batch") = if (batches.isEmpty) 0.0 else e.jobs.toDouble / batches.size
    out("streaming.driver_gap_s") = EngineListener.driverGapNanos(t0, t1, e.jobIntervals) / 1e9
    out("sources.latest_offset_ms_p50") =
      Ctx.median(batches.map(b => (b.durations.getOrElse("latestOffset", 0L) +
        b.durations.getOrElse("getBatch", 0L)).toDouble))
    lc.drop()
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }
}
