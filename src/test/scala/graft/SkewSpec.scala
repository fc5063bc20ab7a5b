package graft

import graft.ext.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted transforms are result-identical to their unsalted forms on a
  * pathologically skewed key distribution (90% of rows on one key).
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def skewed = {
    import spark.implicits._
    (0 until 10000).map { i =>
      val k = if (i % 10 == 0) s"cold_${i % 97}" else "hot"
      (k, i.toDouble)
    }.toDF("k", "v")
  }

  test("salted aggregation equals plain groupBy") {
    val plain = skewed.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(skewed, Seq("k"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // double sums: partial merge order differs, compare rounded
    def canon(s: Set[(String, Double, Long)]) =
      s.map { case (k, sm, n) => (k, math.round(sm * 100) / 100.0, n) }
    assert(canon(salted) === canon(plain))
  }

  test("skew-aware selfPairs equals the plain banding self-join") {
    import spark.implicits._
    // 90% of rows share one bucket → the hot path must engage (threshold
    // 10 forces it) and still emit exactly the plain self-join's pairs
    val rel = (0 until 400).map { i =>
      val bucket = if (i % 10 == 0) s"cold_${i % 7}" else "hot"
      (i.toLong, bucket, i % 13)
    }.toDF("doc_id", "bv", "fp")
    val plain = rel.as("a").join(rel.as("b"),
        col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"), col("a.fp"), col("b.fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val salted = Skew.selfPairs(rel, "doc_id", Seq("bv"),
        payloadCols = Seq("fp"), hotThreshold = 10, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(salted === plain)
    assert(plain.size > (360 * 359) / 2) // the hot bucket really is quadratic
  }

  test("banded SimHash pairs ≡ brute-force hamming scan on a skewed corpus") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    // 60 near-identical boilerplate docs (hot band values) + 40 distinct
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((0 until 60).map(i => (i.toLong, s"$boiler tail_$i")) ++
      (60 until 100).map(i => (i.toLong, s"doc $i " + Seq.tabulate(12)(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"), expr("simhash60(text)").as("fp"))
      .filter(col("fp").isNotNull)
    // threshold 5 forces the boilerplate cluster's band buckets (≈60
    // rows each) through the salted hot path
    val banded = graft.ext.Dedup.simhashCandidates(
        graft.ext.Dedup.simhashBands(fp), hotThreshold = 5, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = fp.as("a").crossJoin(fp.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.fp ^ b.fp)").as("h"))
      .filter(col("h") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // the boilerplate cluster must collide
  }

  test("salted join equals plain inner join") {
    import spark.implicits._
    val dim = Seq(("hot", "H"), ("cold_1", "C1"), ("cold_2", "C2"))
      .toDF("k", "name")
    val plain = skewed.join(dim, "k")
      .select("k", "v", "name")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(skewed, dim, "k")
      .select("k", "v", "name")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(salted === plain)
    assert(salted.nonEmpty)
  }

  test("AQE skew-join splits a byte-skewed band join at runtime") {
    // Why BOTH AQE skew-join and manual salting exist (SURVEY §4): AQE
    // is the runtime safety net for byte-skew it can SEE — this test
    // proves it engages on our session config (thresholds scaled to
    // test data; production defaults are 256 MB / 5× median). But its
    // detector is BYTES-linear while self-pair generation is ROWS-
    // quadratic: a band of 100k 8-byte hashes is under 1 MB post-
    // shuffle — invisible to any sane byte threshold — yet emits 5e9
    // pairs on one task. That is why Skew.selfPairs keys its hot path
    // on ROW COUNT (hotThreshold), and why the banding joins keep it
    // rather than relying on AQE.
    import spark.implicits._
    // one hot key with a fat payload (byte skew AQE can detect) + cold
    // keys; a dim side large enough that broadcast doesn't preempt the
    // shuffle join
    val pay = "x" * 200
    val big = ((0 until 30000).map(i => ("hot", s"$pay$i")) ++
      (0 until 3000).map(i => (s"cold_${i % 300}", s"p$i")))
      .toDF("k", "payload")
    val dim = (Seq("hot") ++ (0 until 300).map(i => s"cold_$i"))
      .flatMap(k => (0 until 3).map(j => (k, j)))
      .toDF("k", "j")
    TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB") {
      val joined = big.join(dim, "k")
      // execute THIS plan instance (count()/write() would build a new
      // QueryExecution and leave this adaptive plan un-finalized)
      val qe = joined.queryExecution
      assert(qe.toRdd.count() === 30000L * 3 + 3000 * 3)
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("isSkewJoin=true") || finalPlan.contains("skewed"),
        s"AQE did not mark the join skew-split:\n$finalPlan")
    }
  }
}
