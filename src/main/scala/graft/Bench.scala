package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry bench, and the measurement loop it shares with the soak
  * ([[Scale]]).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.Bench
  *
  * [[measure]] warms every query once on the sf0.001 tables, then makes
  * SPARK_GRAFT_REPEATS passes (Bench 3, Scale 1), each in an order
  * shuffled by [[Seed]], so a slow host window lands on different
  * neighbours in each pass. A query's time is its best successful pass:
  * contention only adds time. Each run writes to the noop sink (which,
  * unlike count(), evaluates every output column) with one
  * [[TaskMetrics]] attached; `CacheScope.drain` follows outside the
  * timed section, and a persisted RDD that survives it fails the pass.
  *
  * Bench judges the total of best times against [[Pinned]], and each
  * query's first-pass job count, which does not depend on the host's
  * speed, against the committed golden [[GoldenPath]]. The full record
  * goes to BENCH_FULL_latest.json in the working directory; the last
  * stdout line is a compact summary.
  */
object Bench {
  type QFn = (SparkSession, String) => DataFrame

  /** Seeds the pass orders: pass `p` visits `passOrder(queries, p)`. */
  val Seed = 1L

  def passOrder[T](queries: Seq[T], pass: Int): Seq[T] =
    new Random(Seed * 1000003L + pass).shuffle(queries)

  /** A query's best successful pass: its wall, its [[TaskMetrics]]
    * fields, its disk spill and its top-8 stages.
    */
  final case class Best(sec: Double, fields: String, spillDiskMb: Double, stages: Seq[String])

  /** One query over the passes: each pass's wall in pass order (None
    * where the pass failed), the first pass's job count, the persisted
    * RDDs left after its drains, its last failure and its best pass.
    */
  final case class Run(name: String, passSec: Seq[Option[Double]], firstJobs: Int,
      leaked: Int, err: String, best: Option[Best]) {
    def failed: Int = passSec.count(_.isEmpty)
  }

  /** Warms `queries` on `warmDir` (skipped when it is not a directory),
    * then runs `passes` seed-shuffled passes over them on `dir`. Returns
    * one [[Run]] per query, in the order given.
    */
  def measure(spark: SparkSession, queries: Seq[(String, QFn)], dir: String,
      warmDir: String, passes: Int): Seq[Run] = {
    val sc = spark.sparkContext
    def run(fn: QFn, d: String): Unit =
      fn(spark, d).write.format("noop").mode("overwrite").save()
    // Releases the query's CacheScope blocks and returns how many
    // persisted RDDs survived. Those are released as well, through the
    // catalog first so that the next persist of the same plan is not a
    // cache hit that hides the leak, and no leak skews a later query.
    def drain(): Int = {
      CacheScope.drain(blocking = true)
      val left = sc.getPersistentRDDs.values.toSeq
      if (left.nonEmpty) {
        spark.catalog.clearCache()
        left.foreach(_.unpersist(blocking = true))
      }
      left.size
    }
    // uncounted: the same generated code on 100× less data, so measured
    // passes time execution, not JIT and codegen
    if (new File(warmDir).isDirectory) queries.foreach { case (n, fn) =>
      try run(fn, warmDir) catch {
        case e: Throwable => System.err.println(s"[bench] warm-up $n failed: $e")
      }
      drain()
    }
    val runs = mutable.LinkedHashMap.from(queries.map { case (n, _) => n -> Run(n, Vector.empty, 0, 0, "", None) })
    TaskMetrics.attached(spark) { tm =>
      for (p <- 1 to passes; (n, fn) <- passOrder(queries, p)) {
        // the last run's straggler events land before the reset
        ListenerDrain.drain(sc); tm.reset()
        val t0 = System.nanoTime()
        val e = try { run(fn, dir); "" } catch { case ex: Throwable => ex.toString }
        val dt = (System.nanoTime() - t0) / 1e9
        val left = drain()
        ListenerDrain.drain(sc)
        val err = if (e.isEmpty && left > 0) s"leaked $left persisted RDD(s) past CacheScope.drain" else e
        if (err.nonEmpty) System.err.println(s"[bench] $n failed: $err")
        val r = runs(n)
        runs(n) = r.copy(passSec = r.passSec :+ Option.when(err.isEmpty)(dt),
          firstJobs = if (p == 1) tm.jobCount else r.firstJobs,
          leaked = r.leaked + left, err = if (err.nonEmpty) err else r.err,
          best = if (err.isEmpty && r.best.forall(dt < _.sec))
            Some(Best(dt, tm.fields(dt), tm.diskSpill.get / 1048576.0, tm.topStages(8)))
          else r.best)
      }
    }
    runs.values.toSeq
  }

  /** A `(lo, hi)` band on the total of best times, valid only for the
    * SF directory name, registry size and core count it was measured on.
    */
  final case class Band(sf: String, queries: Int, cores: Int, lo: Double, hi: Double)

  /** Pinned from three back-to-back runs of the 177-query registry at
    * sf0.1 on a 4-vCPU, 15 GiB host (totals 95.6, 100.5 and 100.8 s):
    * lo = 0.86 × the lowest total, hi = 1.25 × the median total.
    */
  val Pinned = Band("sf0.1", 177, 4, 82.2, 125.6)

  /** The band's reading of a run that timed `queries` queries in
    * `total` seconds on `cores` cores. Both edges bite: a total below
    * the floor is as suspect as one above it, since a query that
    * silently does less work reads fast.
    */
  def verdict(band: Band, sf: String, queries: Int, cores: Int, total: Double): String =
    if (sf != band.sf) "no-band-for-sf"
    else if (queries != band.queries) "no-band-for-registry"
    else if (cores != band.cores) "no-band-for-host"
    else if (total < band.lo) "below-band-investigate"
    else if (total <= band.hi) "within-band"
    else "above-band"

  /** The golden job counts that `observed` does not match, as
    * (query, golden, observed), in query order.
    */
  def jobDiffs(golden: Map[String, Int],
      observed: Map[String, Int]): Seq[(String, Int, Option[Int])] =
    golden.toSeq.sorted.collect {
      case (q, g) if !observed.get(q).contains(g) => (q, g, observed.get(q))
    }

  /** Queries whose first-pass job count is left out of the golden: it
    * moved between runs of the same code (q127 40 or 44, q157 35 or 26,
    * q83 12 or 10) or with the core count (q58 17 → 13 at 2 cores).
    */
  val JobsUnchecked: Seq[String] = Seq("q127_curation_ledger", "q157_dup_source_matrix",
    "q58_incremental_neardup", "q83_dim_truncation")

  /** The job-count golden of the pinned SF, relative to the repo root. */
  val GoldenPath = "goldens/bench_jobs.sf0.1.json"

  def goldenJobs(): Map[String, Int] =
    new ObjectMapper().readTree(new File(GoldenPath)).properties().asScala
      .map(e => e.getKey -> e.getValue.asInt).toMap

  /** 1-minute load average, or -1 where the JVM can't read it. */
  def loadAvg1m(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Other live JVMs on the host (excluding this one) — a driver bench
    * that starts while gate/test JVMs are still running is contended
    * by construction, whatever the load average says yet.
    */
  def otherJvms(): Long = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().filter { p =>
      p.pid() != self &&
        p.info().command().map[Boolean](_.contains("java")).orElse(false)
    }.count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt max 1
    // Host state at start AND end: a run minutes after a test suite on
    // the same box read 1.7× the clean number (r8), which the number
    // itself cannot reveal; these fields make contamination visible.
    val loadStart = loadAvg1m(); val jvmsStart = otherJvms()
    val sf = new File(sfDir).getName
    // job counts depend on the data's size, so the golden holds for its
    // SF only; read before the run so that a missing golden fails fast
    val golden = if (sf == Pinned.sf) goldenJobs() else Map.empty[String, Int]
    val spark = GraftSession.local()
    val warmDir = new File(new File(sfDir).getParentFile, "sf0.001").toString
    val runs = measure(spark, SparkEntry.queries.toSeq.sortBy(_._1), sfDir, warmDir, passes)
    spark.stop()
    val loadEnd = loadAvg1m(); val jvmsEnd = otherJvms()

    val total = runs.flatMap(_.best).map(_.sec).sum
    val envelope = verdict(Pinned, sf, runs.count(_.best.nonEmpty), GraftSession.cores, total)
    val diffs = jobDiffs(golden, runs.map(r => r.name -> r.firstJobs).toMap)

    def num(v: Option[Double]) = v.fold("null")(s => f"$s%.3f")
    def names(ns: Seq[String]) = ns.map(Json.str).mkString("[", ",", "]")
    val records = runs.map { r =>
      s"""{"query":${Json.str(r.name)},"sec":${num(r.best.map(_.sec))},""" +
        s""""passes_sec":${r.passSec.map(num).mkString("[", ",", "]")},""" +
        s""""first_pass_jobs":${r.firstJobs},${r.best.fold("")(_.fields + ",")}""" +
        s""""persisted_after_drain":${r.leaked},"err":${Json.str(r.err)}}"""
    }
    val diffJson = diffs.map { case (q, g, o) =>
      s"""{"query":${Json.str(q)},"golden":$g,"observed":${o.fold("null")(_.toString)}}"""
    }.mkString("[", ",", "]")
    val summary =
      s""""value":$total,"unit":"sec","sf":${Json.str(sfDir)},"n_queries":${runs.size}""" +
        s""","errors":${names(runs.filter(_.err.nonEmpty).map(_.name))}""" +
        s""","persisted_after_drain":${runs.map(_.leaked).sum}""" +
        s""","action":"noop-sink","passes":$passes,"seed":$Seed,"cores":${GraftSession.cores}""" +
        s""","load_avg_1m_start":$loadStart,"load_avg_1m_end":$loadEnd""" +
        s""","other_jvms_start":$jvmsStart,"other_jvms_end":$jvmsEnd""" +
        s""","band_key":{"sf":${Json.str(Pinned.sf)},"queries":${Pinned.queries},"cores":${Pinned.cores}}""" +
        s""","band_sec":[${Pinned.lo},${Pinned.hi}],"envelope_verdict":${Json.str(envelope)}""" +
        s""","jobs_golden_checked":${golden.size},"jobs_golden_diff":$diffJson""" +
        s""","jobs_unchecked":${names(JobsUnchecked)}"""
    records.foreach(println)
    // Only the tail of stdout survives some collectors, so the full
    // record also goes to a file, and the compact last line names it.
    val fullPath = try {
      val p = Paths.get("BENCH_FULL_latest.json").toAbsolutePath
      Files.write(p, s"""{"metric":"total",$summary,"per_query":[\n${records.mkString(",\n")}\n]}\n"""
        .getBytes("UTF-8"))
      p.toString
    } catch { case e: Exception => s"unwritable: ${e.getMessage}" }
    println(s"""{"metric":"total_compact",$summary,"full_json":${Json.str(fullPath)}}""")
  }
}
