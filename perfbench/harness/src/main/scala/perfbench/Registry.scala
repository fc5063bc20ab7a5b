package perfbench

import scala.collection.mutable

import graft.{CacheScope, Q, SparkEntry, Tables}

/** `registry`: a closed loop with one client. Each pass runs a fixed
  * set of `SparkEntry.queries` against the committed test tables, in an
  * order shuffled by the seed; every query writes to the noop sink, and
  * the caches are drained between queries. The first pass is the
  * warm-up; passes repeat until the run's time is up.
  */
object Registry {
  /** The registry's modules, named after the engine's files, with their queries. */
  private val byModule: Seq[(String, Seq[Q])] = Seq(
    "queries" -> graft.queries.CoreQueries.all,
    "analytics" -> graft.analytics.Dashboard.all,
    "ext.TextAnalysis" -> graft.ext.TextAnalysis.all,
    "ext.Dedup" -> graft.ext.Dedup.all,
    "ext.Similarity" -> graft.ext.Similarity.all,
    "ext.KnnGraph" -> graft.ext.KnnGraph.all,
    "ext.Multimodal" -> graft.ext.Multimodal.all,
    "ext.Statistics" -> graft.ext.Statistics.all,
    "ext.Temporal" -> graft.ext.Temporal.all,
    "ext.Curation" -> graft.ext.Curation.all,
    "ext.Clustering" -> graft.ext.Clustering.all,
    "ext.Scrub" -> graft.ext.Scrub.all,
    "ext.Layout" -> graft.ext.Layout.all)
  private val moduleOf: Map[String, String] =
    byModule.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** The queries a pass runs: every sixteenth of each module, in name
    * order, starting with the first, so that every module is measured
    * (19 of the 177). */
  val selected: Seq[String] =
    byModule.flatMap { case (_, qs) => qs.map(_.name).sorted.grouped(16).map(_.head) }

  final case class QRun(name: String, ms: Double, ok: Boolean, rows: Option[Long],
      persisted: Int, w: Collector.Window, gapMs: Double)

  /** Measured passes an untraced run makes at least; each query's time
    * is its best over them, which a brief host stall cannot move. A
    * traced run makes exactly one, since it runs both workloads in one
    * JVM, and its figures are set against the untraced first pass. */
  val MinPasses = 3

  /** Best time of each query over the passes, by name. */
  private def bestTimes(passes: Seq[Seq[QRun]]): Seq[(String, Double)] =
    passes.flatten.groupBy(_.name).map { case (n, rs) => n -> rs.map(_.ms).min }.toSeq.sortBy(_._1)

  val WarmThreads = 2

  /** Runs every query once, WarmThreads at a time, then drains the caches. */
  private def warmUp(ctx: Ctx, names: Seq[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try {
      names.map { name =>
        pool.submit(new Runnable {
          def run(): Unit =
            try SparkEntry.queries(name)(ctx.spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $name failed: $e") }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    CacheScope.drain(blocking = true)
    ctx.spark.catalog.clearCache()
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    val fns = SparkEntry.queries
    val names = selected

    def once(name: String): QRun = {
      val m = ctx.collector.mark()
      val t0 = System.nanoTime()
      val t0ms = System.currentTimeMillis()
      val ok = try {
        ctx.op(s"registry.$name") {
          fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
        }
        true
      } catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); false }
      val ms = Stats.ms(t0)
      val t1ms = System.currentTimeMillis()
      CacheScope.drain(blocking = true)
      spark.catalog.clearCache()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val w = ctx.collector.since(m)
      val rows = w.actions.lastOption.flatMap(_.outputRows)
      QRun(name, ms, ok, rows, persisted, w, ms - w.jobCoveredMs(t0ms, t1ms))
    }

    def pass(i: Int): Seq[QRun] = {
      val order = new scala.util.Random(ctx.seed * 1000003L + i).shuffle(names)
      ctx.trace.span("registry.pass")(order.map(once))
    }

    def judge(q: QRun): Unit = {
      val ok = q.ok &&
        res.check(s"${q.name}.persisted_after_drain", 0, q.persisted) &&
        res.checkGolden(q.name, s"rows.${q.name}", q.rows.map(_.toDouble).getOrElse(-1.0))
      res.operation(ok)
    }

    // Set-up: resolve every table three times, then warm up. The
    // warm-up only has to compile and JIT each query's code, and one
    // small query leaves most cores idle, so it runs WarmThreads queries
    // at a time and is not checked; the measured passes run one at a time.
    val loadMs = (1 to 3).map { _ =>
      Tables.invalidate(dir)
      val t0 = System.nanoTime()
      ctx.op("core.tables")(Tables.names.foreach(t => Tables.load(spark, dir, t)))
      Stats.ms(t0)
    }
    val w0 = System.nanoTime()
    ctx.trace.span("registry.warmup")(warmUp(ctx, names))
    val warmMs = Stats.ms(w0)
    res.metric("setup_s", (Stats.median(loadMs) + warmMs) / 1000.0, "s")
    res.notes("setup") = f"tables median ${Stats.median(loadMs)}%.0f ms, warm-up $warmMs%.0f ms"

    // Measured passes, started while they should end within the run's time.
    val passes = mutable.ArrayBuffer.empty[Seq[QRun]]
    val start = System.nanoTime()
    def more: Boolean =
      if (ctx.trace.on) passes.isEmpty
      else passes.size < MinPasses || Stats.ms(start) + passes.last.map(_.ms).sum <= ctx.seconds * 1000
    while (more) passes += pass(passes.size + 1)
    passes.foreach(_.foreach(judge))

    val best = bestTimes(passes.toSeq)
    val total = best.map(_._2).sum
    res.metric("registry_total_s", total / 1000.0, "s")
    res.metric("registry_queries_per_s", names.size / (total / 1000.0), "1/s")
    res.metric("registry_query_geomean_s", Stats.geomean(best.map(_._2)) / 1000.0, "s")
    res.metric("registry_query_p50_s", Stats.quantile(best.map(_._2), 0.5) / 1000.0, "s")
    res.metric("registry_query_p90_s", Stats.quantile(best.map(_._2), 0.9) / 1000.0, "s")
    // The first measured pass alone, to set a traced run's single pass against.
    res.metric("registry_pass1_queries_per_s", names.size / (passes.head.map(_.ms).sum / 1000.0), "1/s")
    res.notes("passes") = s"${passes.size} measured passes of ${names.size} queries; " +
      s"totals ms ${passes.map(_.map(_.ms).sum.round).mkString("/")}, best-of total ${total.round} ms"

    best.foreach { case (q, ms) => res.timings(q) = ms }
    for ((p, i) <- passes.zipWithIndex; q <- p) res.timings(s"pass${i + 1}.${q.name}") = q.ms
    val unchecked = names.filterNot(n => passes.flatten.exists(q => q.name == n && q.rows.isDefined))
    if (unchecked.nonEmpty)
      res.notes("rows_unchecked") = s"plan metrics give no output row count for ${unchecked.mkString(", ")}"
    passes.flatten.foreach(q => q.rows.foreach(r => res.observe(s"rows.${q.name}", r.toDouble)))
    // Host-independent counts from the first measured pass.
    passes.head.sortBy(_.name).foreach { q =>
      res.counters(s"registry.${q.name}.jobs") = q.w.jobs.size.toDouble
      res.counters(s"registry.${q.name}.stages") = q.w.stages.toDouble
      res.counters(s"registry.${q.name}.exchanges") = q.w.exchanges.toDouble
    }

    if (ctx.trace.on) {
      val L = res.layer
      val all = passes.flatten.toSeq
      val k = passes.size.toDouble
      for ((m, _) <- byModule) {
        val qs = all.filter(q => moduleOf.get(q.name).contains(m))
        L(s"registry.$m.s") = qs.map(_.ms).sum / 1000.0 / k
        L(s"registry.$m.jobs") = qs.map(_.w.jobs.size).sum / k
        L(s"registry.$m.task_cpu_ms") = qs.map(_.w.cpuMs).sum / k
      }
      def per(f: QRun => Double) = all.map(f).sum / k
      L("registry.jobs") = per(_.w.jobs.size.toDouble)
      L("registry.stages") = per(_.w.stages.toDouble)
      L("registry.tasks") = per(_.w.tasks.toDouble)
      L("registry.exchanges") = per(_.w.exchanges.toDouble)
      L("registry.catalyst_analysis_ms") = per(_.w.actions.map(_.analysisMs).sum)
      L("registry.catalyst_optimization_ms") = per(_.w.actions.map(_.optimizationMs).sum)
      L("registry.catalyst_planning_ms") = per(_.w.actions.map(_.planningMs).sum)
      L("registry.driver_gap_ms") = per(_.gapMs)
      L("registry.gc_ms") = per(_.w.gcMs)
      L("registry.shuffle_write_bytes") = per(_.w.shuffleWrite.toDouble)
      L("registry.spill_bytes") = per(_.w.spill.toDouble)
      L("cache.persisted_after_drain") = all.map(_.persisted).max.toDouble
    }
  }
}
