package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.etl.{Incremental, LakeToWarehouse}
import graft.gen.FarmProducer
import graft.rules.{Alerts, Validation}
import graft.schema.FarmSchema
import graft.stream.{IngestStream, Throttle}

/** `farm_backlog`: a closed loop with one consumer. A pre-landed,
  * time-ordered JSONL backlog drains through `IngestStream.start` in one
  * AvailableNow invocation; the landed lake is then loaded into the star
  * schema in time-sliced increments (`LakeToWarehouse.validReadings` →
  * `Incremental.load`), with fact and dimensions written as parquet and
  * read back as the next increment's inputs. Rounds repeat until the
  * run's time is up.
  */
object Farm {
  /** Events in the backlog. Fixed, so that the goldens and the event
    * rate compare across hosts; only the shard count (two per core)
    * follows the host. */
  val Events = 4000L
  val Increments = 2
  /** FarmProducer's first event time and spacing. */
  val BaseMicros = 1704067200000000L
  val StepMicros = 3000000L

  type Dims = (DataFrame, DataFrame, DataFrame, DataFrame)

  /** Functions the ETL jobs are attributed to, found in each job's call site. */
  private val etlSites = Seq(
    "Incremental$.watermark" -> "etl.watermark",
    "StarSchema$.dimLocation" -> "etl.dimLocation",
    "StarSchema$.dimTime" -> "etl.dimTime",
    "StarSchema$.dimSoil" -> "etl.dimSoil",
    "StarSchema$.dimWeather" -> "etl.dimWeather",
    "StarSchema$.fact" -> "etl.fact",
    "Incremental$.load" -> "etl.validReadings")

  def backlog(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val n = Events
    val shards = 2 * ctx.cores

    def orEmpty(what: String)(f: => Map[String, Double]): Map[String, Double] =
      try f catch { case e: Throwable => System.err.println(s"[perfbench] $what failed: $e"); Map.empty }

    // Set-up: land the backlog three times and keep the last copy; then
    // work out the expected outputs with a batch oracle, which runs the
    // record path and the star-schema load once, while the whole backlog
    // drains once, so that the measured drain and ETL run warm. Both are
    // driver-bound chains of small jobs, so overlapping them uses cores
    // either alone leaves idle. (A drain's cost is mostly fixed: a
    // one-shard warm-up cost ~90% of a full one and left the measured
    // drain noisier.)
    val landMs = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      ctx.op("gen.land")(land(spark, n, ctx.seed, shards, s"${ctx.work}/src$i"))
      Stats.ms(t0)
    }
    val src = s"${ctx.work}/src3"
    (1 to 2).foreach(i => deleteTree(new File(s"${ctx.work}/src$i")))
    val warm0 = System.nanoTime()
    var oracleMs = 0.0
    val oracleRun = new java.util.concurrent.FutureTask[Map[String, Double]](() => {
      val expected = orEmpty("oracle")(oracle(spark, src))
      oracleMs = Stats.ms(warm0)
      expected
    })
    new Thread(oracleRun, "perfbench-oracle").start()
    val warmOk = try { drain(ctx, src, s"${ctx.work}/warm"); true } catch {
      case e: Throwable => System.err.println(s"[perfbench] warm-up drain failed: $e"); false
    }
    val drainWarmMs = Stats.ms(warm0)
    val expected = oracleRun.get()
    res.operation(warmOk)
    val warmMs = Stats.ms(warm0)
    res.metric("setup_s", (Stats.median(landMs) + warmMs) / 1000.0, "s")
    res.notes("setup") = s"landing ms ${landMs.map(_.round).mkString("/")}, oracle ${oracleMs.round} ms " +
      s"beside warm-up drain ${drainWarmMs.round} ms"

    // Measure: rounds of drain + ETL, started while they should end
    // within the run's time.
    val drainMs = collection.mutable.ArrayBuffer.empty[Double]
    val etlMs = collection.mutable.ArrayBuffer.empty[Double]
    val incMs = collection.mutable.ArrayBuffer.empty[Double]
    val rounds = collection.mutable.ArrayBuffer.empty[RoundOut]
    val start = System.nanoTime()
    var last = 0.0
    while (rounds.isEmpty || Stats.ms(start) + last <= ctx.seconds * 1000) {
      val r = rounds.size
      val out = s"${ctx.work}/round$r"
      val r0 = System.nanoTime()
      ctx.trace.span("round") {
        val mark = ctx.collector.mark()
        val t0 = System.nanoTime()
        val d = try Some(drain(ctx, src, out)) catch {
          case e: Throwable => System.err.println(s"[perfbench] drain $r failed: $e"); None
        }
        drainMs += Stats.ms(t0)
        val t1 = System.nanoTime()
        val e = try Some(etl(ctx, out, n, Increments)) catch {
          case ex: Throwable => System.err.println(s"[perfbench] etl $r failed: $ex"); None
        }
        etlMs += Stats.ms(t1)
        e.foreach(incMs ++= _.ms)
        rounds += RoundOut(out, d, e, ctx.collector.since(mark))
      }
      last = Stats.ms(r0)
    }
    res.metric("ingest_events_per_s", n * drainMs.size / (drainMs.sum / 1000.0), "1/s")
    res.metric("etl_s", Stats.median(etlMs.toSeq) / 1000.0, "s")
    res.metric("etl_increment_geomean_s", Stats.geomean(incMs.toSeq) / 1000.0, "s")
    res.metric("etl_increment_p50_s", Stats.quantile(incMs.toSeq, 0.5) / 1000.0, "s")
    res.metric("etl_increment_p90_s", Stats.quantile(incMs.toSeq, 0.9) / 1000.0, "s")
    res.notes("rounds") = s"${rounds.size} rounds of $n events in $shards shards; " +
      s"drain ms ${drainMs.map(_.round).mkString("/")}, increment ms ${incMs.map(_.round).mkString("/")}"

    // Checks, after the timed part: every round against the oracle and
    // against the goldens for this seed.
    val c0 = System.nanoTime()
    expected.foreach { case (k, v) => res.observe(k, v) }
    rounds.zipWithIndex.foreach { case (ro, i) =>
      val actual = orEmpty(s"reading round $i")(observed(spark, ro))
      def agrees(k: String): Boolean = {
        val a = actual.getOrElse(k, Double.NaN)
        res.check(s"round$i.$k", expected.getOrElse(k, Double.NaN), a) &&
          res.checkGolden(s"round$i.$k", k, a)
      }
      val drainOk = ro.drain.isDefined &&
        Seq("farm.events", "farm.landed", "farm.invalid", "farm.decode_errors",
          "farm.alert_occurrences", "farm.alerts_sent").forall(agrees) &&
        res.check(s"round$i.persisted_after_drain", 0, ro.drain.get.persistedAfter)
      res.operation(drainOk)
      val etlOk = ro.etl.isDefined &&
        Seq("farm.fact_rows", "farm.dim_location", "farm.dim_time", "farm.dim_soil",
          "farm.dim_weather").forall(agrees) &&
        ro.etl.get.persistedAfter.forall(p => res.check(s"round$i.etl.persisted_after_drain", 0, p))
      res.operation(etlOk)
    }
    res.notes("checks") = f"round checks ${Stats.ms(c0)}%.0f ms"

    // Host-independent counts (reported against the goldens, never failed).
    val w = rounds.head.window
    val ro = rounds.head
    ro.drain.foreach { d =>
      Seq("lake" -> d.lakeId, "alerts" -> d.alertsId).foreach { case (q, id) =>
        val batches = w.progress.count(p => p.id == id && p.rows > 0) max 1
        res.counters(s"farm.$q.jobs_per_trigger") =
          w.jobs.count(_.streamQuery.contains(id)).toDouble / batches
      }
    }
    res.counters("farm.etl.jobs_per_increment") =
      w.jobs.count(_.op.exists(_.startsWith("etl."))).toDouble / Increments

    if (ctx.trace.on) traced(ctx, res, rounds.toSeq, src)
  }

  final case class DrainOut(lakeId: String, alertsId: String, persistedAfter: Int, startMs: Double) {
    def id(q: String): String = if (q == "lake") lakeId else alertsId
  }
  final case class EtlOut(persistedAfter: Seq[Int], ms: Seq[Double])
  final case class RoundOut(dir: String, drain: Option[DrainOut], etl: Option[EtlOut], window: Collector.Window)

  /** FarmProducer's backlog as time-ordered JSONL shards; the file
    * source picks files by modification time, so shard order is event
    * order. */
  def land(spark: SparkSession, n: Long, seed: Long, shards: Int, dir: String): Unit = {
    FarmProducer.records(spark, n, seed = seed, numPartitions = shards).write.text(dir)
    val parts = new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val now = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(now - (parts.length - i) * 1000L) }
  }

  /** One AvailableNow drain of `src` into `out`/{lake,alerts,ckpt}. */
  def drain(ctx: Ctx, src: String, out: String): DrainOut = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val (lq, aq) = ctx.op("stream.start") {
      IngestStream.start(IngestStream.fileSource(spark, src),
        s"$out/lake", s"$out/alerts", s"$out/ckpt")
    }
    val startMs = Stats.ms(t0)
    ctx.trace.span("stream.await") { lq.awaitTermination(); aq.awaitTermination() }
    // A fresh checkpoint gives each drain's queries fresh ids, which
    // tie progress events and jobs to this drain.
    DrainOut(lq.id.toString, aq.id.toString, spark.sparkContext.getPersistentRDDs.size, startMs)
  }

  /** `k` time-sliced increments over the lake under `out`. Increment i
    * sees the lake up to the i-th cut, as a periodic warehouse job
    * would; the watermark keeps only rows newer than the fact. */
  def etl(ctx: Ctx, out: String, n: Long, k: Int): EtlOut = {
    val spark = ctx.spark
    val wh = s"$out/warehouse"
    val span = n * StepMicros
    var fact: Option[DataFrame] = None
    var dims: Option[Dims] = None
    val incs = (1 to k).map { i =>
      val t0 = System.nanoTime()
      val persisted = ctx.trace.span("etl.increment") {
        val cut = BaseMicros + span * i / k
        val readings = ctx.op("etl.validReadings") {
          LakeToWarehouse.validReadings(spark.read.json(s"$out/lake"))
            .filter(col("timestamp") < timestamp_micros(lit(cut)))
        }
        val res = ctx.op("etl.load")(Incremental.load(readings, fact, dims))
        // The dimension and fact plans are lazy: their writes run them.
        val names = Seq("location", "time", "soil", "weather")
        val ds = Seq(res.dimLocation, res.dimTime, res.dimSoil, res.dimWeather)
        names.zip(ds).foreach { case (nm, d) =>
          ctx.op(s"etl.dim${nm.capitalize}")(d.foreach(_.write.parquet(s"$wh/dim_$nm/$i")))
        }
        ctx.op("etl.fact")(res.newFactRows.foreach(_.write.mode("append").parquet(s"$wh/fact")))
        ctx.op("etl.write") {
          CacheScope.drain(blocking = true)
          fact = Some(spark.read.parquet(s"$wh/fact"))
          val back = names.map(nm => spark.read.parquet(s"$wh/dim_$nm/$i"))
          dims = Some((back(0), back(1), back(2), back(3)))
        }
        spark.sparkContext.getPersistentRDDs.size
      }
      (persisted, Stats.ms(t0))
    }
    EtlOut(incs.map(_._1), incs.map(_._2))
  }

  /** Expected outputs, from the batch path over the same backlog:
    * `IngestStream.process`, the batch `Throttle`, and one full
    * (non-incremental) star-schema load. */
  def oracle(spark: SparkSession, src: String): Map[String, Double] = {
    val raw = spark.read.text(src).withColumnRenamed("value", "raw")
    val processed = IngestStream.process(raw).persist()
    try {
      val r = processed.agg(
        count(lit(1)),
        sum(when(col("route") === "invalid", 1).otherwise(0)),
        sum(when(col("route") === "errors/json_decode", 1).otherwise(0)),
        sum(size(col("alerts")))).head()
      val sent = Throttle(IngestStream.occurrences(processed)).count()
      val full = Incremental.load(
        LakeToWarehouse.validReadings(IngestStream.flattened(processed)), None, None)
      Map(
        "farm.events" -> r.getLong(0).toDouble,
        "farm.landed" -> r.getLong(0).toDouble,
        "farm.invalid" -> r.getLong(1).toDouble,
        "farm.decode_errors" -> r.getLong(2).toDouble,
        "farm.alert_occurrences" -> r.getLong(3).toDouble,
        "farm.alerts_sent" -> sent.toDouble) ++ counts(Seq(
        "farm.fact_rows" -> full.newFactRows.get,
        "farm.dim_location" -> full.dimLocation.get,
        "farm.dim_time" -> full.dimTime.get,
        "farm.dim_soil" -> full.dimSoil.get,
        "farm.dim_weather" -> full.dimWeather.get))
    } finally {
      processed.unpersist(blocking = true)
      CacheScope.drain(blocking = true)
    }
  }

  /** What one round produced: the graft_ingest observed metrics of its
    * lake batches, the landed and alert-sink rows, and the warehouse. */
  def observed(spark: SparkSession, ro: RoundOut): Map[String, Double] = {
    if (ro.drain.isEmpty) return Map.empty
    val lakeBatches = ro.window.progress.filter(_.id == ro.drain.get.lakeId)
    def obs(k: String) = lakeBatches.map(_.observed.getOrElse(k, 0.0)).sum
    val wh = s"${ro.dir}/warehouse"
    def lastDim(nm: String): DataFrame = {
      val dirs = Option(new File(s"$wh/dim_$nm").list()).map(_.toSeq).getOrElse(Nil)
      spark.read.parquet(s"$wh/dim_$nm/${dirs.map(_.toInt).max}")
    }
    // The lake is JSON lines: one landed row per line.
    val sinks = Seq(
      "farm.landed" -> spark.read.text(s"${ro.dir}/lake"),
      "farm.alerts_sent" -> spark.read.parquet(s"${ro.dir}/alerts")) ++
      (if (ro.etl.isEmpty) Nil else Seq(
        "farm.fact_rows" -> spark.read.parquet(s"$wh/fact"),
        "farm.dim_location" -> lastDim("location"),
        "farm.dim_time" -> lastDim("time"),
        "farm.dim_soil" -> lastDim("soil"),
        "farm.dim_weather" -> lastDim("weather")))
    Map(
      "farm.events" -> obs("n_records"),
      "farm.invalid" -> obs("n_invalid"),
      "farm.decode_errors" -> obs("n_decode_errors"),
      "farm.alert_occurrences" -> obs("n_alerts")) ++ counts(sinks)
  }

  /** Row counts of several frames in one job rather than one job each. */
  def counts(frames: Seq[(String, DataFrame)]): Map[String, Double] = {
    val got = frames.map { case (k, df) => df.select(lit(k).as("k")) }.reduce(_ union _)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    frames.map { case (k, _) => k -> got.getOrElse(k, 0.0) }.toMap
  }

  /** Per-layer numbers for a traced run: streaming progress and ETL
    * job attribution from the measured rounds, and batch-mode calls of
    * each record-path function over one cached sample of the backlog. */
  private def traced(ctx: Ctx, res: Result, rounds: Seq[RoundOut], src: String): Unit = {
    val spark = ctx.spark
    val L = res.layer
    val drains = rounds.flatMap(r => r.drain.map(d => (d, r.window)))
    for (q <- Seq("lake", "alerts")) {
      val ps = drains.flatMap { case (d, w) => w.progress.filter(p => p.id == d.id(q) && p.rows > 0) }
      def med(k: String) = Stats.median(ps.map(_.durationMs.getOrElse(k, 0.0)))
      L(s"stream.$q.trigger_ms") = med("triggerExecution")
      L(s"stream.$q.addBatch_ms") = med("addBatch")
      L(s"stream.$q.queryPlanning_ms") = med("queryPlanning")
      L(s"stream.$q.walCommit_ms") = med("walCommit")
      L(s"stream.$q.commitOffsets_ms") = med("commitOffsets")
      L(s"stream.$q.batches") = ps.size.toDouble
      if (q == "alerts") {
        L("stream.alerts.state_commit_ms") = ps.map(_.stateCommitMs).sum
        L("stream.alerts.state_rows") = ps.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
        L("stream.alerts.state_mem_bytes") = ps.map(_.stateMemBytes.toDouble).maxOption.getOrElse(0.0)
      }
    }
    // The measured drains' own starts; the warm-up drain's cold start
    // is set-up.
    L("stream.start_ms") = Stats.median(drains.map(_._1.startMs))
    val self = ctx.trace.selfMs

    // ETL: a job launched inside Incremental.load belongs to the engine
    // function in its action's call site; every other job to the
    // benchmark operation that launched it.
    val etlJobs = rounds.flatMap(_.window.jobs).filter(_.op.exists(_.startsWith("etl.")))
    val loadLayer = etlJobs.filter(_.op.contains("etl.load")).map { j =>
      j -> firstEngineFrame(j.callSite).flatMap(f =>
        etlSites.collectFirst { case (site, layer) if f.contains(site) => layer }).getOrElse("etl.validReadings")
    }.toMap
    val byLayer = etlJobs.groupBy(j => loadLayer.getOrElse(j, j.op.get))
    for (layer <- Seq("etl.validReadings", "etl.watermark", "etl.dimLocation", "etl.dimTime",
        "etl.dimSoil", "etl.dimWeather", "etl.fact", "etl.write")) {
      val js = byLayer.getOrElse(layer, Nil)
      // Inside Incremental.load a layer's time is the time its jobs
      // cover; outside it, the self time of the benchmark's own span.
      val ms = self.getOrElse(layer, 0.0) + Trace.coverage(
        js.filter(loadLayer.contains).map(j => (j.start, if (j.end < 0) j.start else j.end))).toDouble
      L(s"$layer.self_ms") = ms / rounds.size
      L(s"$layer.jobs") = js.size.toDouble / rounds.size
    }

    // Record-path layers in batch mode over one cached sample.
    val sample = spark.read.text(src).withColumnRenamed("value", "raw").persist()
    sample.count()
    var probeGcMs = 0.0
    def probe(layer: String)(df: => DataFrame): DataFrame = {
      val m = ctx.collector.mark()
      val t0 = System.nanoTime()
      val out = ctx.op(layer)(df)
      ctx.op(layer)(out.write.format("noop").mode("overwrite").save())
      val ms = Stats.ms(t0)
      val w = ctx.collector.since(m)
      val cached = out.persist()
      val rows = cached.count()
      L(s"$layer.self_ms") = ms
      L(s"$layer.jobs") = w.jobs.size.toDouble
      L(s"$layer.task_cpu_ms") = w.cpuMs
      probeGcMs += w.gcMs
      L(s"$layer.rows_out") = rows.toDouble
      cached
    }
    val parsed = probe("schema.parse")(FarmSchema.parse(sample, "raw"))
    val validated = probe("rules.validate")(Validation.annotate(parsed))
    probe("rules.alerts")(Alerts.derive(validated))
    val processed = probe("stream.process")(IngestStream.process(sample))
    probe("stream.throttle")(Throttle(IngestStream.occurrences(processed)).toDF())
    val sinkDir = s"${ctx.work}/probe-sink"
    val m = ctx.collector.mark()
    val t0 = System.nanoTime()
    ctx.op("stream.sink") {
      IngestStream.flattened(processed).write.partitionBy("route", "loc_id").json(sinkDir)
    }
    val w = ctx.collector.since(m)
    L("stream.sink.self_ms") = Stats.ms(t0)
    L("stream.sink.jobs") = w.jobs.size.toDouble
    L("stream.sink.task_cpu_ms") = w.cpuMs
    L("stream.probe.gc_ms") = probeGcMs + w.gcMs
    L("stream.sink.rows_out") = spark.read.json(sinkDir).count().toDouble
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** The first frame of a call site that belongs to the engine. */
  private def firstEngineFrame(site: String): Option[String] =
    site.linesIterator.find(l => l.startsWith("graft.") && etlSites.exists(s => l.contains(s._1)))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
