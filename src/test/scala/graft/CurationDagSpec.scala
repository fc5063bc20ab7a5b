package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The composed curation DAG ([[Pipeline.run]]) on the sf0.01 corpus,
  * decontaminated against the sf0.001 benchmark: the scan discipline
  * (three text-bearing scans), a ledger that only ever shrinks, a packed
  * output that matches the manifest, and a caller's session left as it
  * was — its shuffle-partition setting and its cache.
  */
class CurationDagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Pipeline.run: three text scans, a monotone ledger, the packs landed, the session kept") {
    val key = "spark.sql.shuffle.partitions"
    val partitionsBefore = spark.conf.get(key)
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val out = Files.createTempDirectory("curation-dag").toString

    val p = Pipeline.run(spark, "/root/testdata/sf0.01", out,
      "/root/testdata/sf0.001", 2048)

    assert(p("text_bearing_scans") === 3L)
    val ledger = Seq("n_raw", "n_quality", "n_exact_canonical",
      "n_neardup_canonical", "n_decontaminated", "n_train")
    val counts = ledger.map(p)
    assert(counts.head > 0L, s"empty corpus: $p")
    counts.zip(counts.tail).zip(ledger.zip(ledger.tail)).foreach {
      case ((a, b), (na, nb)) => assert(a >= b, s"$na=$a < $nb=$b")
    }
    assert(p("n_train") > 0L, s"nothing survived to packing: $p")
    assert(spark.read.parquet(s"$out/packed").count() === p("n_packs"))
    assert(spark.conf.get(key) === partitionsBefore,
      "Pipeline.run left its shuffle partitioning on the caller's session")

    CacheScope.drain(blocking = true)
    val left = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(left.isEmpty, s"persisted RDDs left after the drain: $left")
  }
}
