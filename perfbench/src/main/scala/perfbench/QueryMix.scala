package perfbench

import java.io.PrintWriter

import graft.SparkEntry
import org.apache.spark.sql.execution.exchange.Exchange

/** `query_mix`: registry queries one after another, each built, planned
  * and consumed in full by a `noop` write. */
object QueryMix {

  val Classes: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q3_revenue_topn"),
    "cdc_fold" -> Seq("t1_fold_apply"),
    "llm_batch" -> Seq("retrieval_sdm"),
    "serve" -> Seq("sim_ivf_probe_served"))

  /** Fewest measured passes; each query's median over them is its time. */
  private val MinPasses = 2

  private final case class Timing(construct: Double, plan: Double, exec: Double,
      exchanges: Int, pinned: Int) {
    def total: Double = construct + plan + exec
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/tables"
    val out = ctx.out

    /** Drops what a query left pinned, so every query starts alike. */
    def release(): Int = {
      val pinned = spark.sparkContext.getPersistentRDDs.values.toSeq
      pinned.foreach(_.unpersist(blocking = true))
      pinned.size
    }

    def once(name: String): Timing = {
      val (c, df) = ctx.timed(ctx.trace.span(s"queries.$name")(SparkEntry.queries(name)(spark, dir)))
      val (p, plan) = ctx.timed(ctx.trace.span(s"plans.$name")(df.queryExecution.executedPlan))
      val (e, _) = ctx.timed(ctx.trace.span(s"operators.$name")(
        df.write.format("noop").mode("overwrite").save()))
      Timing(c, p, e, exchanges(plan), release())
    }

    // set-up: one pass that writes every result for the oracle check, warms
    // the JIT and builds the serve indexes
    val (warmS, indexS) = ctx.timed {
      Classes.flatMap(_._2).map { name =>
        val (s, _) = ctx.timed {
          SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(s"${ctx.work}/results/$name")
          release()
        }
        if (Classes.last._2.contains(name)) s else 0.0
      }.sum
    }
    val oracle = new PrintWriter(s"${ctx.work}/results/oracle_sql.json", "UTF-8")
    try oracle.println(Classes.flatMap(_._2).map { n =>
      "\"" + n + "\":" + jsonString(SparkEntry.oracleSql(n))
    }.mkString("{", ",", "}")) finally oracle.close()

    val passes = Seq.newBuilder[Map[String, Timing]]
    val calibrations = Seq.newBuilder[Double]
    var n = 0
    Calibration.once()
    val t0 = System.nanoTime()
    val budget = ctx.p.d("seconds")
    while (n < MinPasses || (System.nanoTime() - t0) / 1e9 < budget) {
      n += 1
      passes += ctx.trace.span(s"pass$n")(Classes.flatMap(_._2).map { q =>
        calibrations += Calibration.once()
        q -> once(q)
      }.toMap)
    }
    calibrations += Calibration.once()
    val speed = Calibration.ReferenceS / Ctx.median(calibrations.result())
    out("calibration_s") = calibrations.result()
    out("host.calibration_s") = Ctx.median(calibrations.result())
    val all = passes.result()
    // each query's median over the passes, at the reference speed
    val perQuery = Classes.flatMap(_._2).map(q => Ctx.median(all.map(_(q).total)) * speed)
    out("passes") = n
    out("throughput_per_s") = perQuery.size / perQuery.sum
    out("items") = perQuery.map(s => Seq(0, s * 1000.0))
    out("attempted") = all.map(_.size).sum.toLong
    out("setup_s") = ctx.p.d("gen_s") + out.fields("session_s").asInstanceOf[Double] + warmS
    out("index.build_s") = indexS
    Classes.foreach { case (c, names) =>
      def med(f: Timing => Double) = Ctx.median(all.map(pass => names.map(q => f(pass(q))).sum))
      out(s"mix.${c}_s") = med(_.total)
      out(s"queries.$c.construct_s") = med(_.construct)
      out(s"plans.$c.plan_s") = med(_.plan)
      out(s"operators.$c.exec_s") = med(_.exec)
      out(s"operators.$c.exchanges") = all.head.filter(t => names.contains(t._1)).values.map(_.exchanges).sum.toLong
      out(s"operators.$c.pinned_rdds_left") = all.last.filter(t => names.contains(t._1)).values.map(_.pinned).sum.toLong
    }
    Classes.flatMap(_._2).foreach { q => out(s"query.$q.exec_s") = Ctx.median(all.map(_(q).exec)) }
    // one more pass with the engine counters on
    if (ctx.trace.on) ctx.engineSpan(Classes.flatMap(_._2).foreach(once))
  }

  private def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case e: Exchange => 1 + e.children.map(count).sum
      case other => other.children.map(count).sum + other.subqueries.map(count).sum
    }
    count(plan)
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
