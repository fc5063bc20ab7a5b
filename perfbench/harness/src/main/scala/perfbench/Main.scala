package perfbench

import java.nio.file.{Files, Paths}

import scala.io.Source

import graft.GraftSession

/** One benchmark run in one JVM: `perfbench.Main --workload <name>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  * --cores <n> [--goldens <file>] --report <file>`.
  *
  * Prints a summary and, as its last line, one JSON record that the
  * launcher (`perfbench/run.py`) turns into the benchmark's result. A
  * traced run also runs the other workload traced, so that every
  * layer's numbers come out of every traced run; spans go to the
  * report file.
  */
object Main {
  val Workloads = Seq("farm_backlog", "registry_sf0.01")

  /** End-to-end numbers a traced run reports, per workload. */
  val TracedE2e = Seq(
    "farm_backlog" -> Seq("ingest_events_per_s", "etl_s"),
    "registry_sf0.01" -> Seq("registry_queries_per_s", "registry_query_geomean_s"))

  def main(argv: Array[String]): Unit = {
    // Exit explicitly, so that no thread the engine left behind can keep
    // the JVM alive after the run.
    val code = try { run(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val golden = args.get("goldens").map(Goldens.load).getOrElse(Map.empty[String, Double])

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores.toString)
    val sessionMs = Stats.ms(t0)
    val collector = new Collector(spark)
    val trace = new Trace(s"$workload-$seed-${System.currentTimeMillis()}", traced)

    def runOne(w: String, work: String): Result = {
      val res = new Result
      res.golden = if (w == workload) golden else Map.empty
      val ctx = Ctx(spark, collector, trace, work, args("data"), seed, args("seconds").toDouble, cores)
      trace.span(w) {
        if (w == "farm_backlog") Farm.backlog(ctx, res)
        else Registry.run(ctx, res)
      }
      res
    }

    val main = runOne(workload, s"${args("work")}/$workload")
    val otherNames = if (traced) Workloads.filterNot(_ == workload) else Nil
    val others = otherNames.map(w => runOne(w, s"${args("work")}/$w"))
    val all = main +: others
    val layer = collection.mutable.LinkedHashMap.empty[String, Double]
    all.foreach(r => r.layer.foreach { case (k, v) => if (!layer.contains(k)) layer(k) = v })
    if (traced) {
      // The traced runs' own end-to-end numbers, to set against the
      // untraced runs': their difference is the tracing overhead.
      val byName = (workload +: otherNames).zip(all).toMap
      for ((w, keys) <- TracedE2e; k <- keys) layer(s"trace.$w.$k") = byName(w).e2e(k)._1
      // Counts at the same boundaries as the spans: jobs, tasks and task
      // CPU of the jobs each benchmark operation launched.
      collector.since(Collector.Start).jobs.groupBy(_.op.getOrElse("other")).foreach { case (op, js) =>
        trace.count(s"$op.jobs", js.size)
        trace.count(s"$op.tasks", js.map(_.tasks).sum.toDouble)
        trace.count(s"$op.task_cpu_ms", js.map(_.cpuNs).sum / 1e6)
      }
      layer("trace.bookkeeping_ms") = trace.bookkeepingMs + collector.listenerMs
      layer("core.session_start_ms") = sessionMs
    }
    val rssMb = peakRssMb()
    main.metric("peak_rss_mb", rssMb, "MB")
    if (traced) layer("jvm.peak_rss_mb") = rssMb
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum

    collector.detach()
    graft.stream.OrderlyShutdown.stop(spark)

    val badChecks = all.flatMap(_.checks).filterNot(_._2)
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> all.map(_.checks.size).sum.toString,
      "failed_checks" -> badChecks.map { case (n, _, d) => Json.str(s"$n: $d") }.mkString("[", ",", "]"),
      "e2e" -> Json.obj(main.e2e.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "counters" -> Json.obj(all.flatMap(_.counters).map { case (k, v) => k -> Json.num(v) }),
      "observed" -> Json.obj(main.observations.map { case (k, v) => k -> Json.num(v) }),
      "timings_ms" -> Json.obj(all.flatMap(_.timings).map { case (k, v) => k -> Json.num(v) }),
      "notes" -> Json.obj(main.notes.map { case (k, v) => k -> Json.str(v) } ++
        otherNames.zip(others).flatMap { case (w, r) => r.notes.map { case (k, v) => s"$w $k" -> Json.str(v) } }),
      "session_ms" -> Json.num(sessionMs)))
    if (traced) Files.write(Paths.get(args("report") + ".trace.json"), trace.toJson.getBytes("UTF-8"))
    badChecks.take(20).foreach { case (n, _, d) => System.err.println(s"[perfbench] check failed: $n: $d") }
    println("PERFBENCH " + record)
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Goldens are flat JSON objects of name → number under "expect". */
object Goldens {
  def load(path: String): Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    (j \ "expect") match {
      case JObject(fields) => fields.collect {
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JDouble(v)) => k -> v
        case (k, JLong(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }
  }
}
