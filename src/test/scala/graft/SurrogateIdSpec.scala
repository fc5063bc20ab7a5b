package graft

import graft.etl.StarSchema
import org.scalatest.funsuite.AnyFunSuite

/** `orderedIds` (range sort, then a count pass and a data pass over the
  * same RDD) assigns base+1..base+N per tag in natural-key order, to the
  * DISTINCT rows. Pinned across multiple partitions, several tags,
  * duplicate rows, and an empty input.
  */
class SurrogateIdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ids(n: Int, base: Long) = {
    import spark.implicits._
    // keys deliberately unsorted at the source and heavier than the
    // partition count
    val df = (0 until n).map(i => (0, s"key_${(i * 7919) % n}%05d", i % 13))
      .toDF("tag", "nk", "payload")
    StarSchema.orderedIds(df, "sk", IndexedSeq(base))
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

  test("orderedIds numbers each tag from its own base, once per distinct row") {
    import spark.implicits._
    // two tags over one range shuffle; every row arrives three times, and
    // NULL natural keys are one key, as in DISTINCT
    val rows = (0 until 3).flatMap(_ => (0 until 900).map { i =>
      (i % 2, if (i % 50 == 0) null else s"k${(i * 37) % 900}", i % 7)
    })
    val got = StarSchema.orderedIds(rows.toDF("tag", "nk", "payload"), "sk", IndexedSeq(10L, 1000L))
      .collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2), r.getLong(3)))
    val distinct = rows.map { case (t, k, p) => (t, Option(k), p) }.distinct
    assert(got.length === distinct.size)
    Seq(0 -> 10L, 1 -> 1000L).foreach { case (t, base) =>
      val mine = got.filter(_._1 == t).sortBy(_._4)
      assert(mine.map(_._4).toSeq === (base + 1 to base + mine.length))
      // NULL first, then natural-key order
      assert(mine.map(r => (r._2.getOrElse(""), r._3)).toSeq ===
        mine.map(r => (r._2.getOrElse(""), r._3)).sorted.toSeq)
    }
  }

  test("empty input yields an empty keyed frame") {
    assert(ids(0, base = 0L).isEmpty)
  }
}
