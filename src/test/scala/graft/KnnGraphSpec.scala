package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the kNN-graph family (ext/KnnGraph.scala). The DuckDB
  * oracle pins exact row equality at both SFs; these tests pin the
  * structure that makes the graph and its audit meaningful:
  *
  *  - graph bookkeeping: no self edges, no duplicate neighbors, ranks
  *    contiguous from 1, ≤ K per node;
  *  - the NN-descent EXPANSION on a hand graph: B(v) ∪ B(B(v)) exactly
  *    — both directions, two hops, no self pairs, deduplicated (a
  *    duplicate candidate row would double-place a neighbor in the
  *    rank window);
  *  - the MONOTONE LAW: g₍ᵣ₋₁₎(v) ⊆ Cᵣ(v) means each node's neighbor
  *    quality never degrades across rounds — checked per NODE (sum of
  *    kept cosines), not just in aggregate;
  *  - the audit actually measures improvement: on the fixed corpus,
  *    recall strictly increases init → round 2 (NN-descent crossing
  *    LSH bucket boundaries is the operator's whole point).
  */
class KnnGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** (v, w, ⌊cos·10⁶⌋, rank) rows of a ranked edge relation. */
  private def canon(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.select(col("v"), col("w"), expr("cast(floor(cos * 1000000.0D) as bigint)"),
        col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

  test("dial laws: planesFor holds bucket size ~32; modFor holds the sample ~500") {
    // exact pins at the corpus sizes the gates and soaks use
    assert(ext.KnnGraph.planesFor(500) === 6)      // sf0.01 → q47-compatible
    assert(ext.KnnGraph.planesFor(2000) === 6)     // sf0.1  → q47-compatible
    assert(ext.KnnGraph.planesFor(60000) === 11)   // ×30
    assert(ext.KnnGraph.planesFor(600000) === 15)  // ×300
    assert(ext.KnnGraph.planesFor(2000000) === 16) // ×1000
    assert(ext.KnnGraph.modFor(500) === 4L)
    assert(ext.KnnGraph.modFor(2000) === 4L)
    assert(ext.KnnGraph.modFor(60000) === 120L)
    assert(ext.KnnGraph.modFor(600000) === 1200L)
    // the law itself: 2^planes is the tightest power of two covering
    // ceil(n/32) buckets (above the floor of 6), incl. the exact
    // power-of-two corpus sizes where float log2 is one ulp from
    // flipping
    for (n <- Seq(1L, 31L, 32L, 33L, 2048L, 2049L, 65536L, 65537L,
        1L << 20, (1L << 20) + 1, 999983L)) {
      val p = ext.KnnGraph.planesFor(n)
      val b = (n + 31) / 32
      assert((1L << p) >= b, s"n=$n: 2^$p buckets < $b")
      if (p > 6) assert((1L << (p - 1)) < b, s"n=$n: width $p not tight for $b")
      assert(ext.KnnGraph.modFor(n) === math.max(4L, (n + 499) / 500))
    }
  }

  test("q175 graph bookkeeping: no self edges, no dup neighbors, contiguous ranks <= K") {
    val rows = q("q175_knn_graph", "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val byNode = rows.groupBy(_.getLong(0))
    byNode.foreach { case (v, es) =>
      assert(es.length <= ext.KnnGraph.K, s"node $v has ${es.length} > K neighbors")
      val ranks = es.map(_.getInt(1)).sorted
      assert(ranks.toSeq === (1 to es.length), s"node $v ranks not contiguous: ${ranks.toSeq}")
      val nbrs = es.map(_.getLong(2))
      assert(!nbrs.contains(v), s"node $v has a self edge")
      assert(nbrs.distinct.length === nbrs.length, s"node $v has duplicate neighbors")
      // rank order must follow cosine descending (ties broken by id upstream)
      val byRank = es.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"node $v cosines not non-increasing by rank: ${byRank.toSeq}")
    }
    CacheScope.drain()
  }

  test("single-join init is EXACTLY the two-join topK(initCand) reference") {
    // the single-join scoring (vectors attached in ONE bucket equi-join
    // — the r14 scratch fix) must be a pure plan change: pinned
    // row-for-row on the real corpus against the two-join formulation
    // it replaced
    val e = ext.Similarity.nv(spark, "/root/testdata/sf0.001")
      .select("vec_id", "qe", "nrm").transform(CacheScope.scoped)
    val planes = ext.KnnGraph.planesFor(e.count())
    val oneJoin = canon(ext.KnnGraph.initTopK(e, planes))
    assert(oneJoin.nonEmpty)
    val twoJoin = canon(ext.KnnGraph.topK(e, ext.KnnGraph.initCand(e, planes)))
    assert(twoJoin === oneJoin, "single-join init diverged from the two-join formulation")
    CacheScope.drain()
  }

  test("pivot-scored round is EXACTLY the roundCand+topK reference") {
    // the r14 round-scoring rework (no pair-shaped exchange carries a
    // vector) must be a pure plan change: same candidates, same cos,
    // same ranks — pinned on a real g0
    val e = ext.Similarity.nv(spark, "/root/testdata/sf0.001")
      .select("vec_id", "qe", "nrm").transform(CacheScope.scoped)
    val planes = ext.KnnGraph.planesFor(e.count())
    val g0 = ext.KnnGraph.initTopK(e, planes).transform(CacheScope.scoped)
    val reference = canon(
      ext.KnnGraph.topK(e, ext.KnnGraph.roundCand(g0)))
    assert(reference.nonEmpty)
    assert(canon(ext.KnnGraph.roundTopK(e, g0)) === reference,
      "pivot-scored round diverged from roundCand+topK")
    CacheScope.drain()
  }

  test("roundCand is exactly B(v) ∪ B(B(v)): both directions, two hops, no self, deduped") {
    import spark.implicits._
    // hand graph 1→2, 2→3: B = {(1,2),(2,1),(2,3),(3,2)}; two-hop adds
    // (1,3) and (3,1); nothing else, nothing twice, no (v,v)
    val g = Seq((1L, 2L, 0.9), (2L, 3L, 0.8)).toDF("v", "w", "cos")
    val got = ext.KnnGraph.roundCand(g).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L)))
  }

  test("roundCand caps the REVERSE side of B at top-k by cosine (hub safety)") {
    import spark.implicits._
    // hub node 99 is the out-neighbor of 8 nodes with distinct cosines;
    // with k=2 only the two highest-cos in-neighbors (1, 2) survive
    // into B(99), so the hub contributes 2 two-hop sources, not 8 —
    // the bound that keeps B(B(v)) from paying indeg² through hubs
    val g = (1L to 8L).map(i => (i, 99L, 1.0 - i * 0.01)).toDF("v", "w", "cos")
    val got = ext.KnnGraph.roundCand(g, k = 2).as[(Long, Long)].collect().toSet
    val fromHub = got.filter(_._1 == 99L).map(_._2)
    assert(fromHub === Set(1L, 2L),
      s"hub's B must keep only the top-2 in-neighbors: $fromHub")
    // two-hop targets through the hub are only the kept pair: without
    // the cap node 3 would reach all of 1..8 (indeg² = 64 pairs); with
    // it, exactly {1, 2}
    assert(got.contains((1L, 2L)) && got.contains((2L, 1L)))
    val via3 = got.filter(p => p._1 == 3L && p._2 != 99L).map(_._2)
    assert(via3 === Set(1L, 2L),
      s"node 3's two-hop set must be the capped pair only: $via3")
  }

  test("monotone law per NODE: each round's kept-cosine sum never degrades") {
    val e = ext.Similarity.nv(spark, "/root/testdata/sf0.001")
      .select("vec_id", "qe", "nrm").transform(CacheScope.scoped)
    val gs = ext.KnnGraph.descend(e,
      planes = ext.KnnGraph.planesFor(e.count()))
    val sums = gs.map(
      _.groupBy("v").agg(sum("cos").as("s"), count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap)
    sums.zip(sums.tail).zipWithIndex.foreach { case ((prev, next), i) =>
      prev.foreach { case (v, (ps, pn)) =>
        val (ns, nn) = next.getOrElse(v, (Double.MinValue, 0L))
        assert(nn >= pn, s"round ${i + 1}: node $v lost neighbors ($pn -> $nn)")
        // candidate containment: with at least as many kept, the sum of
        // the top-k cosines can only grow (same k, superset candidates)
        assert(ns >= ps - 1e-12, s"round ${i + 1}: node $v quality degraded ($ps -> $ns)")
      }
    }
    CacheScope.drain()
  }

  test("q176 audit: bounded bookkeeping and strictly improving recall on the fixed corpus") {
    val rows = q("q176_knn_graph_recall", "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet === Set(0L, 1L, 2L))
    val ne = rows(0L)._1
    rows.foreach { case (it, (nExact, nFound, recall)) =>
      assert(nExact === ne, s"iter $it: exact ground truth must not vary by round")
      assert(nFound >= 0L && nFound <= nExact, s"iter $it: found out of range")
      assert(recall === math.floor(nFound * 1e6 / nExact) / 1e6,
        s"iter $it: recall inconsistent with counts")
    }
    assert(rows(1L)._2 >= rows(0L)._2 && rows(2L)._2 >= rows(1L)._2,
      s"recall must be monotone non-decreasing: $rows")
    assert(rows(2L)._2 > rows(0L)._2,
      s"NN-descent must improve on the LSH init on this corpus: $rows")
    CacheScope.drain()
  }

  test("q180 SemDeDup laws: partition of the corpus, min-id canonical, live dials") {
    import ext.{KnnGraph, Similarity}
    val dir = "/root/testdata/sf0.001"
    val e = Similarity.nv(spark, dir).select("vec_id", "qe", "nrm")
      .transform(CacheScope.scoped)
    val n = e.count()
    val g = KnnGraph.descend(e, planes = KnnGraph.planesFor(n), k = KnnGraph.KBuild)
      .last.filter(col("rank") <= KnnGraph.K)
      .transform(CacheScope.scoped)
    // collect the small relations (500 docs at this SF) and assert the
    // laws on driver arrays — stacking lazy self-joins over the cached
    // descent here built plan trees whose AQE explain strings blew the
    // 8 g test heap
    val dd = KnnGraph.semDedup(e, g, tau = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val semE = g.filter(col("cos") >= 0.4)
      .select(least(col("v"), col("w")), greatest(col("v"), col("w")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nDup099 = KnnGraph.semDedup(e, g, tau = 0.99)
      .filter(!col("is_canonical")).count()
    CacheScope.drain()
    // every vector exactly once; cluster_id = component min id;
    // is_canonical consistent
    assert(dd.length === n && dd.map(_._1).distinct.length === n)
    val byCluster = dd.groupBy(_._2)
    byCluster.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min === cid, s"cluster $cid: min id is not the label")
      ms.foreach { case (v, c, sz, canon) =>
        assert(sz === ms.length, s"member $v carries wrong cluster_size")
        assert(canon === (v === c))
      }
    }
    // the similarity bar is live: stricter tau dedupes strictly less
    val nDup04 = dd.count(!_._4)
    assert(nDup04 > 0, "tau=0.4 must find semantic dups on the driver corpus")
    assert(nDup099 < nDup04,
      s"tau=0.99 must dedupe strictly less than tau=0.4 ($nDup099 vs $nDup04)")
    // no >= tau edge crosses two clusters (CC soundness)
    val cidOf = dd.map(t => t._1 -> t._2).toMap
    semE.foreach { case (a, b) =>
      assert(cidOf(a) === cidOf(b), s">= tau edge ($a, $b) crosses clusters")
    }
  }

  test("q179 consumes the DESCENT: the graph dial moves the noise verdict") {
    // the label-noise audit must be a function of WHICH graph it reads
    // — propagation over the LSH init (g0) vs the shipped 2-round
    // graph must differ on the driver corpus, otherwise q179 would be
    // a consumer of any neighbor list, not of the descent (r14 ask #2)
    import ext.{KnnGraph, Similarity}
    val dir = "/root/testdata/sf0.001"
    val e = Similarity.nv(spark, dir).select("vec_id", "qe", "nrm")
      .transform(CacheScope.scoped)
    val gs = KnnGraph.descend(
      e, planes = KnnGraph.planesFor(e.count()), k = KnnGraph.KBuild)
    val lab = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    def preds(g: DataFrame) =
      KnnGraph.propagate(g.filter(col("rank") <= KnnGraph.K), lab)
    val p0 = preds(gs.head)
    val pN = preds(gs.last)
    val moved = p0.as("a").join(pN.as("b"), col("a.v") === col("b.v"))
      .filter(col("a.predicted") =!= col("b.predicted")).count()
    val coverage = pN.count() - p0.count()
    assert(moved > 0 || coverage != 0,
      s"propagation over g0 and g${KnnGraph.Rounds} must differ " +
        s"(moved=$moved, coverage delta=$coverage) — the consumer is " +
        "insensitive to the graph dial")
    // and every vote is cast by a graph edge: predictions only for
    // nodes the graph covers
    assert(pN.join(gs.last.select("v").distinct(), Seq("v"), "left_anti")
      .isEmpty, "a prediction exists for a node with no edges")
    CacheScope.drain()
  }

  test("hnsw dial law: fanoutFor holds the top layer ~64 at every corpus size") {
    import ext.KnnGraph.fanoutFor
    // pins at the corpus sizes the gates and soaks use
    assert(fanoutFor(1000) === 3L)      // sf0.01 → layers 333/111/37
    assert(fanoutFor(10000) === 6L)     // sf0.1  → 1666/277/46
    assert(fanoutFor(10000000) === 54L) // ×1000  → 185k/3.4k/63
    // the law: smallest f ≥ 2 with 64·f³ ≥ n
    for (n <- Seq(1L, 64L, 511L, 512L, 513L, 100000L, 999983L, 1000000000L)) {
      val f = fanoutFor(n)
      assert(64L * f * f * f >= n, s"n=$n: top layer bigger than 64 at f=$f")
      if (f > 2) assert(64L * (f - 1) * (f - 1) * (f - 1) < n,
        s"n=$n: fanout $f not tight")
    }
  }

  test("hnsw layers are hash-nested and the base beam is monotone in hops") {
    import ext.{KnnGraph, Similarity}
    val dir = "/root/testdata/sf0.001"
    val e = Similarity.nv(spark, dir).select("vec_id", "qe", "nrm")
      .transform(CacheScope.scoped)
    val n = e.count()
    val f = KnnGraph.fanoutFor(n)
    def mem(mod: Long) = e.filter(expr(KnnGraph.sampSpark(mod)))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val (m1, m2, m3) = (mem(f), mem(f * f), mem(f * f * f))
    assert(m3.nonEmpty && m3.subsetOf(m2) && m2.subsetOf(m1),
      s"layers must nest: |m1|=${m1.size} |m2|=${m2.size} |m3|=${m3.size}")
    // beam monotone law: each hop's candidate pool contains the
    // previous beam, and top-ef of a superset dominates — so the
    // summed kept cosine per query never degrades as base hops grow
    val g0 = KnnGraph.descend(e, planes = KnnGraph.planesFor(n),
      k = KnnGraph.KBuild).last.filter(col("rank") <= KnnGraph.K)
    val queries = e.filter(expr(KnnGraph.sampSpark(KnnGraph.modFor(n))))
      .select(col("vec_id").as("qid"), col("qe").as("qqe"),
        col("nrm").as("qnrm"))
    val top = e.filter(expr(KnnGraph.sampSpark(f * f * f)))
    def quality(hops0: Int): Map[Long, Double] =
      KnnGraph.hnswSearch(e, queries, top,
          Seq((g0.select("v", "w")
            .union(g0.select(col("w").as("v"), col("v").as("w"))).distinct(),
            KnnGraph.HnswEf0, hops0)))
        .filter(col("rank") <= KnnGraph.K)
        .groupBy("qid").agg(sum("cos").as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q1 = quality(1)
    val q3 = quality(3)
    assert(q1.keySet === q3.keySet)
    q1.foreach { case (qid, s1) =>
      assert(q3(qid) >= s1 - 1e-12,
        s"query $qid degraded with more hops: $s1 -> ${q3(qid)}")
    }
    assert(q3.values.sum > q1.values.sum,
      "3 hops must strictly improve SOME query on this corpus")
    CacheScope.drain()
  }

  test("derivedCosBar is the exact p99 edge cosine and tracks the graph (r15 ask #3)") {
    import spark.implicits._
    import ext.KnnGraph
    // 300 edges with distinct cosines i/1000: ne=300 → k99=3 → the
    // bar is the 3rd-highest μcos = floor(0.298·2²⁰)/2²⁰
    val g = (1 to 300).map(i => (i.toLong, (i + 1000).toLong, i / 1000.0))
      .toDF("v", "w", "cos").withColumn("rank", lit(1))
    val bar = KnnGraph.derivedCosBar(g, k = 1)
    assert(bar === math.floor(298 / 1000.0 * 1048576.0) / 1048576.0,
      s"bar must be the exact 3rd-highest quantized cosine, got $bar")
    // keeps AT MOST ~1% of edges — the percolation bound the frozen
    // constant never gave
    assert(g.filter(col("cos") >= bar).count() === 3L)
    // tracking: shift every cosine up and the bar follows exactly
    val g2 = g.withColumn("cos", col("cos") + 0.5)
    val bar2 = KnnGraph.derivedCosBar(g2, k = 1)
    assert(bar2 === math.floor((298 / 1000.0 + 0.5) * 1048576.0) / 1048576.0,
      s"shifted graph must shift the bar, got $bar2")
    // fallback on an empty graph: the frozen fixture constant
    assert(KnnGraph.derivedCosBar(g.filter(col("cos") > 9.0), k = 1) === 0.47)
  }
}
