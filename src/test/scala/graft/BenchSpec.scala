package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The measurement loop Bench and the soak share ([[Bench.measure]]),
  * and Bench's verdict on a run.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("measure: seed-shuffled passes, best of passes, errors and leaks") {
    val sc = spark.sparkContext
    CacheScope.drain(blocking = true)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val real = Seq("q01_pricing_summary", "q07_distinct_dims", "q21_count_by_type")
      .map(n => n -> SparkEntry.queries(n))
    val fakes: Seq[(String, Bench.QFn)] = Seq(
      "x_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      // a raw persist outside CacheScope: the drain cannot release it
      "x_leaks" -> ((s, _) => s.range(1000).toDF("id").persist()),
      // a scoped cache: the drain releases it, so it is no leak
      "x_scoped" -> ((s, _) => CacheScope.scoped(s.range(1000).toDF("id"))))
    val visits = mutable.ArrayBuffer.empty[String]
    val queries = (real ++ fakes).map { case (n, fn) =>
      n -> ((s: org.apache.spark.sql.SparkSession, d: String) => { visits += n; fn(s, d) })
    }
    val names = queries.map(_._1)
    val dir = "/root/testdata/sf0.001"
    val runs = Bench.measure(spark, queries, dir, dir, passes = 2).map(r => r.name -> r).toMap

    // the warm-up visits in the given order, then each pass in the seed's
    val orders = (1 to 2).map(Bench.passOrder(names, _))
    orders.foreach(o => assert(o.sorted === names.sorted))
    assert(orders === (1 to 2).map(Bench.passOrder(names, _)))
    assert(visits.toSeq === names ++ orders.flatten)

    real.foreach { case (n, _) =>
      val r = runs(n)
      assert(r.err === "" && r.passSec.size === 2)
      val best = r.best.getOrElse(fail(s"$n has no best time")).sec
      assert(r.passSec.flatten.forall(best <= _), s"$n: best $best above a pass")
      assert(r.firstJobs > 0, s"$n ran no job")
      assert(r.best.get.fields.contains(""""jobs":"""))
    }
    val thrown = runs("x_throws")
    assert(thrown.best.isEmpty && thrown.failed === 2 && thrown.err.contains("boom"))
    val leaky = runs("x_leaks")
    assert(leaky.leaked === 2 && leaky.best.isEmpty && leaky.err.contains("leaked"))
    assert(runs("x_scoped").leaked === 0 && runs("x_scoped").best.nonEmpty)
    assert(sc.getPersistentRDDs.isEmpty, "a persisted RDD survived the run")
  }

  test("verdict: each band key, both edges, and the job-count diff") {
    val b = Bench.Band("sf0.1", 177, 4, 100.0, 150.0)
    assert(Bench.verdict(b, "sf0.01", 177, 4, 120.0) === "no-band-for-sf")
    assert(Bench.verdict(b, "sf0.1", 176, 4, 120.0) === "no-band-for-registry")
    assert(Bench.verdict(b, "sf0.1", 177, 8, 120.0) === "no-band-for-host")
    assert(Bench.verdict(b, "sf0.1", 177, 4, 99.0) === "below-band-investigate")
    assert(Bench.verdict(b, "sf0.1", 177, 4, 150.0) === "within-band")
    assert(Bench.verdict(b, "sf0.1", 177, 4, 151.0) === "above-band")
    val golden = Map("a" -> 3, "b" -> 2, "c" -> 1)
    assert(Bench.jobDiffs(golden, Map("a" -> 3, "b" -> 2, "c" -> 1, "d" -> 9)).isEmpty)
    assert(Bench.jobDiffs(golden, Map("a" -> 3, "b" -> 4)) ===
      Seq(("b", 2, Some(4)), ("c", 1, None)))
  }

  test("the committed job golden covers the pinned registry") {
    val golden = Bench.goldenJobs()
    val unchecked = Bench.JobsUnchecked.toSet
    assert(golden.keySet === SparkEntry.queries.keySet -- unchecked)
    assert(golden.size + unchecked.size === Bench.Pinned.queries)
    assert(golden.values.forall(_ > 0))
  }
}
