package graft

import graft.etl.StarSchema
import org.scalatest.funsuite.AnyFunSuite

/** `orderedIds` (range sort + rdd.zipWithIndex) assigns base+1..base+N
  * in natural-key order. Pinned across multiple partitions, duplicate
  * order keys, and an empty input.
  */
class SurrogateIdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ids(n: Int, base: Long) = {
    import spark.implicits._
    // keys deliberately unsorted at the source and heavier than the
    // partition count, with duplicates (dup natural keys get DISTINCT'd
    // away upstream in upsertRows; orderedIds itself must just not
    // lose/gap ids over them)
    val df = (0 until n).map(i => (s"key_${(i * 7919) % n}%05d", i % 13))
      .toDF("nk", "payload")
    StarSchema.orderedIds(df, "sk", Seq("nk", "payload"), base)
      .select("nk", "payload", "sk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sortBy(_._3)
  }

  test("orderedIds assigns contiguous ids in natural-key order") {
    val a = ids(5000, base = 100L)
    assert(a.length === 5000)
    assert(a.head._3 === 101L && a.last._3 === 5100L)
    // ids follow the (nk, payload) order with no gaps
    assert(a.map(_._3).toSeq === (101L to 5100L))
    assert(a.map(t => (t._1, t._2)).toSeq === a.map(t => (t._1, t._2)).sorted)
  }

  test("empty input yields an empty keyed frame") {
    assert(ids(0, base = 0L).isEmpty)
  }
}
