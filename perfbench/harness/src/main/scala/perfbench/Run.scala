package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session, the listeners, the trace,
  * a private work directory and the run's parameters. */
final case class Ctx(
    spark: SparkSession,
    collector: Collector,
    trace: Trace,
    work: String,
    dataDir: String,
    seed: Long,
    seconds: Double,
    cores: Int) {

  /** Tags the jobs `body` launches with `op` and records a span for it. */
  def op[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Collector.OpKey)
    sc.setLocalProperty(Collector.OpKey, name)
    try trace.span(name)(body)
    finally sc.setLocalProperty(Collector.OpKey, prev)
  }
}

/** Outcome of one workload run: metrics by name, the operations
  * attempted and failed, every output check, and the host-independent
  * counters that are diffed against the goldens. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Per-operation times (ms) for the report. */
  val timings = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  /** Records one operation; it fails when it threw or any of its checks did. */
  def operation(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String, expected: Any, actual: Any): Boolean = {
    val ok = expected == actual
    checks += ((name, ok, s"expected $expected, got $actual"))
    ok
  }

  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)

  /** Expected outputs for this seed, when goldens exist for it. */
  var golden: Map[String, Double] = Map.empty
  /** Outputs recorded for writing goldens. */
  val observations = mutable.LinkedHashMap.empty[String, Double]

  def observe(key: String, v: Double): Unit = observations(key) = v

  def checkGolden(name: String, key: String, actual: Double): Boolean =
    golden.get(key).forall(g => check(s"$name.golden", g, actual))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive `xs`: every operation weighs the same,
    * whatever its size, and no single one sets the figure. */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = (lo + 1) min (s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
