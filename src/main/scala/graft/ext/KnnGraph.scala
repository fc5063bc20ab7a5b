package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CacheScope, Q}

/** Distributed k-nearest-neighbor GRAPH construction (NN-descent, Dong
  * et al. WWW'11) — the graph tier of the ANN ladder (brute q39 → LSH
  * q47 → IVF q40 → PQ q173/q174): the all-nodes neighbor graph that
  * SemDeDup-style semantic dedup, HNSW index builds, and kNN label
  * propagation all consume. Where q39/q40/q47 answer "top-k for a small
  * QUERY batch", this materializes top-k for EVERY corpus vector without
  * the n² scan.
  *
  * Algorithm (both engines, bit-identical):
  *   - init g₀: q47's deterministic 6-hyperplane LSH buckets, each node
  *     pairs with its own bucket plus the 6 hamming-1 probe buckets,
  *     exact quantized-cosine re-rank to top-k. The probe union is what
  *     seeds CROSS-bucket edges — without it NN-descent could never
  *     leave a bucket's connected component.
  *   - round r (NN-descent): B(v) = out ∪ in neighbors of g₍ᵣ₋₁₎
  *     (≤ 2k per node), candidates C(v) = B(v) ∪ { w ∈ B(u) : u ∈ B(v),
  *     w ≠ v }, exact re-rank to top-k. B(v) ⊆ C(v) makes per-node
  *     quality MONOTONE non-decreasing (KnnGraphSpec pins the law).
  *
  * Scale design (100 TB): every stage is linear in corpus size n, and
  * the two dials that could break that are AUTOMATIC — [[planesFor]]
  * picks the hyperplane count so bucket size stays ~32 (init =
  * n·(planes+1)·~32 scored pairs; with a FIXED width the same term is
  * corpus-quadratic — measured fatal at ×30), and [[modFor]] holds the
  * audit sample ~500 nodes (exact truth ~500·n, never n²). Both are
  * integer bit-length/division math derived from count(*) on BOTH
  * engines, so the oracle stays exact at every corpus size. Rounds are
  * O(n·k²) candidate rows (k=5, reverse side of B capped at k), and
  * every exchange is a hash shuffle on ids (bucket, v) — the 64-long
  * `qe` arrays move only through the corpus-side hash joins, never
  * through a pair relation. Ranking is integer-dot cosine (`vec_ldot`)
  * with neighbor-id tie-break, so both engines produce the identical
  * graph.
  *
  * Reference scope: the reference pipeline has no ANN surface; this is
  * north-star extension coverage (SURVEY §7.1) alongside q38–q47.
  */
object KnnGraph {

  /** Neighbors kept per node (k of the kNN graph — what q175 ships). */
  val K = 5

  /** Neighbors kept per node DURING the build (r14 re-pin, r13 verdict
    * ask #1): the graph is built at 2K and truncated to K on output —
    * the wider rank window keeps more of each bucket's candidates
    * alive between rounds, so NN-descent climbs through a richer
    * two-hop field at the same per-round candidate SHAPE (the k²
    * expansion term grows, but the sweep measured the wall
    * equal-or-lower at every scale tried: sf0.1 12.8 vs 14.6 s, ×30
    * same-session 34.9 vs 47.8 s — the wider window REPLACES rank
    * churn across rounds with kept rows). Recall@5 on the exact
    * sample: uniform corpus 0.331 → 0.459, clustered mixture fixture
    * 0.952 → 0.996 (STREAM_r14 `knn_sweep_r14`). rounds=3 was the
    * measured negative: +0.008/+0.013 recall at ~2× wall. Both
    * engines derive their rank windows from this one constant.
    */
  val KBuild = 2 * K

  /** NN-descent refinement rounds after the LSH init. */
  val Rounds = 2

  /** Hyperplane count for corpus size n — the init's corpus-size dial,
    * AUTOMATIC (r13): smallest p with 2^p ≥ ⌈n/32⌉, floored at 6, so
    * bucket size stays ~32 and the init pairing n·(p+1)·(n/2^p) stays
    * ~32·(p+1)·n — linear with a log factor — at every corpus size.
    * With p FIXED the same term is corpus-quadratic (measured: ×30
    * filled the scratch disk before failing). Integer bit-length math,
    * not float log2 — `log`-based ceil disagrees between engines by
    * one ulp exactly at power-of-two corpus sizes, which would flip
    * the whole bucket layout. Both SFs of the test corpus resolve to
    * the q47-compatible width of 6.
    */
  def planesFor(n: Long): Int = {
    val b = (n + 31) / 32
    math.max(6, if (b <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(b - 1))
  }

  /** Audit sample modulus for corpus size n: h60(vec_id) % mod == 0
    * nodes get exact ground truth — ⌈n/500⌉ keeps the sample ~500
    * nodes so the exact-truth stage is ~500·n at every corpus size
    * (the q164 sample-dial posture, made automatic), floored at 4 so
    * the test corpora keep a dense sample. The graph itself always
    * covers all nodes.
    */
  def modFor(n: Long): Long = math.max(4L, (n + 499) / 500)

  /** Exact quantized-cosine top-k re-rank of a candidate pair relation
    * `cand(v, w)` against an nv-shaped relation `e(vec_id, qe, nrm)`.
    * Returns `(v, w, cos, rank)`, rank ≤ k. The pair relation carries
    * only ids; vectors join in from the corpus side (hash exchanges on
    * vec_id — ids shuffle, arrays stream).
    */
  private[graft] def topK(e: DataFrame, cand: DataFrame, k: Int = K): DataFrame =
    cand
      .join(e.select(col("vec_id").as("v"), col("qe").as("vqe"),
        col("nrm").as("vnrm")), "v")
      .join(e.select(col("vec_id").as("w"), col("qe").as("wqe"),
        col("nrm").as("wnrm")), "w")
      .select(col("v"), col("w"),
        expr("cast(vec_ldot(vqe, wqe) as double) / (vnrm * wnrm)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
      .filter(col("rank") <= k)

  /** LSH multi-probe init candidates: each node × (own bucket + all
    * hamming-1 buckets). The probe values are distinct by
    * construction, so each (v, w) appears at most once — no distinct
    * exchange needed. `planes` is the corpus-size dial — pass
    * [[planesFor]](n) (the registered queries do) or an explicit
    * sweep width; there is deliberately no default (r13 ADVICE: a
    * fixed default width is the measured-fatal configuration).
    */
  /** Multi-probe relation (v, pb): each node × (own bucket + all
    * hamming-1 probe buckets) over a bucketed corpus `nb(vec_id,
    * bucket, …)`.
    */
  private def probesOf(nb: DataFrame, planes: Int): DataFrame =
    nb.select(col("vec_id").as("v"), explode(expr(
      s"transform(sequence(0, $planes), t -> CASE WHEN t = 0 THEN bucket" +
        " ELSE bucket ^ shiftleft(cast(1 as bigint), t - 1) END)")).as("pb"))

  private[graft] def initCand(e: DataFrame, planes: Int): DataFrame = {
    val nb = e.withColumn("bucket", expr(Similarity.lshBucketExpr(planes)))
    probesOf(nb, planes).join(
        nb.select(col("vec_id").as("w"), col("bucket").as("wb")),
        col("wb") === col("pb") && col("w") =!= col("v"))
      .select("v", "w")
  }

  /** The LSH init's top-k — SINGLE-JOIN scoring, optionally SEGMENTED
    * (r13 verdict ask #2 — the ×1000 story).
    *
    * Single-join scoring (r14, measured necessary): the naive shape —
    * id-only pairs from [[initCand]] re-ranked by [[topK]] — attaches
    * the two vectors with two hash joins, and past broadcast size the
    * INTERMEDIATE between them (pair rows carrying v's 64-long qe)
    * re-exchanges on w: ~550 B × every scored pair ≈ 90 GB of
    * exchange+sort scratch at ×1000 — measured filling this host's
    * disk twice (61 GB dead files with lazy cleanup; "No space left
    * on device" with per-pass GC). Here the PROBES relation carries
    * v's vector to the probe bucket ((p+1) copies of the corpus —
    * ~19 GB at ×1000, 4–5× less than pair×vector) and the bucket side
    * carries w's; one equi-join on pb = wb attaches both, cos is
    * projected IN-STAGE, and only (v, w, cos) ever reaches the rank
    * window — whose `filter(rank ≤ k)` triggers WindowGroupLimit, so
    * map tasks keep ≤ k rows per node before the exchange. No
    * pair-shaped relation carries a vector through any exchange.
    *
    * Segmentation (`segments` > 1): the probe relation is processed
    * in SEQUENTIAL passes over probe-bucket residue classes
    * (pb % segments), each pass re-ranked to its own top-k and
    * EAGERLY materialized (localCheckpoint forces pass s to finish
    * before pass s+1 plans), with an explicit per-pass GC so
    * ContextCleaner actually releases the dead pass's shuffle files
    * (a data-sized 48 g heap never GCs on its own under this
    * workload — measured 61 GB of dead files without it), then the
    * per-pass winners re-ranked once (≤ segments·k rows per node).
    *
    * EXACT in every configuration: the candidate set is identical to
    * [[initCand]]'s (same probes, same bucket equi-join), a candidate
    * pair (v, w) exists via exactly one probe value (probe values are
    * distinct and w has one bucket), so residue classes PARTITION the
    * candidate set and top-k of per-class top-ks is the global top-k
    * (same (cos desc, id) order at both levels). KnnGraphSpec pins
    * single-join ≡ the two-join formulation and segmented ≡ one-shot
    * on the real corpus.
    */
  private[graft] def initTopK(
      e: DataFrame, planes: Int, k: Int = K, segments: Int = 1): DataFrame = {
    val nb = e.withColumn("bucket", expr(Similarity.lshBucketExpr(planes)))
      .transform(CacheScope.scoped) // probe side + bucket side of the one join
    val wside = nb.select(col("vec_id").as("w"), col("qe").as("wqe"),
      col("nrm").as("wnrm"), col("bucket").as("wb"))
    val probes = nb
      .select(col("vec_id").as("v"), col("qe").as("vqe"), col("nrm").as("vnrm"),
        col("bucket"))
      .select(col("v"), col("vqe"), col("vnrm"), explode(expr(
        s"transform(sequence(0, $planes), t -> CASE WHEN t = 0 THEN bucket" +
          " ELSE bucket ^ shiftleft(cast(1 as bigint), t - 1) END)")).as("pb"))
    def scoredTopK(p: DataFrame): DataFrame = p
      .join(wside, col("wb") === col("pb") && col("w") =!= col("v"))
      .select(col("v"), col("w"),
        expr("cast(vec_ldot(vqe, wqe) as double) / (vnrm * wnrm)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
      .filter(col("rank") <= k)
    if (segments <= 1) scoredTopK(probes)
    else {
      val parts = (0 until segments).map { s =>
        val part = CacheScope.checkpointed(
          scoredTopK(probes.filter(pmod(col("pb"), lit(segments.toLong)) === s))
            .select("v", "w", "cos"))
        System.gc()
        part
      }
      parts.reduce(_.unionAll(_))
        .withColumn("rank", row_number().over(
          Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
        .filter(col("rank") <= k)
    }
  }

  /** One NN-descent candidate expansion over a graph `g(v, w, cos)`:
    * B(v) ∪ B(B(v)) with the REVERSE side of B capped at the top-k
    * in-neighbors by (cos desc, id) — Dong et al.'s reverse-neighbor
    * sampling (ρK), made deterministic. The cap is load-bearing at
    * every scale: kNN graphs grow hubs (one popular vector sits in
    * thousands of top-k lists), in-degree is unbounded, and an
    * uncapped B(B(v)) pays indeg² through each hub — measured 14 s on
    * 2k vectors at sf0.1 before the cap, corpus-quadratic after. With
    * the cap |B(v)| ≤ 2k, so candidates ≤ ~4k²+2k per node, bounded.
    * Out-neighbors are kept in full, so g(v) ⊆ B(v) ⊆ C(v) and the
    * monotone law survives. Deduplicated — duplicate (v, w) rows would
    * double-place a neighbor in the rank window.
    */
  private[graft] def roundCand(g: DataFrame, k: Int = K): DataFrame = {
    val rev = g.select(col("w").as("rv"), col("v").as("rw"), col("cos"))
      .withColumn("rr", row_number().over(
        Window.partitionBy("rv").orderBy(col("cos").desc, col("rw"))))
      .filter(col("rr") <= k)
      .select(col("rv").as("v"), col("rw").as("w"))
    // b may carry (v, w) twice (an edge present forward AND as a kept
    // reverse) — at most a 2× blowup through the join, cleaned by the
    // single distinct below; deduplicating b separately would buy one
    // more exchange per round for nothing
    val b = g.select("v", "w").union(rev)
    b.as("x")
      .join(b.as("y"), col("x.w") === col("y.v") && col("y.w") =!= col("x.v"))
      .select(col("x.v").as("v"), col("y.w").as("w"))
      .union(b)
      .distinct()
  }

  /** One NN-descent round, scored through PIVOT joins so no
    * pair-shaped relation ever carries a vector through an exchange
    * (r14 — the same structural rule as [[initTopK]], measured
    * necessary: scoring the [[roundCand]] id-pairs with [[topK]]
    * re-exchanges candidate×vector intermediates — ~4k²·n rows ×
    * 550 B ≈ 460 GB at ×1000 with k=10 — where the pivot form
    * exchanges only the 2k·n-row B relation with vectors, ~22 GB).
    *
    * Formulation: candidates C(x) = B(x) ∪ { w ∈ B(u) : u ∈ B(x) }
    * regrouped by the PIVOT u — `left(u, x, xvec)` (u ∈ B(x), x's
    * vector attached) joins `right(u, w, wvec)` (w ∈ B(u), w's vector
    * attached) on u, cos projected IN-STAGE; the direct B(x) part is
    * `left` joined with the corpus on u (same exchange layout). A
    * pair reachable via several pivots scores identically each time,
    * so the groupBy(v, w) dedupe (one partial-aggregated id-only
    * exchange) is exact, and the rank window matches [[topK]]'s
    * (cos desc, id) order — KnnGraphSpec pins pivot-scored ≡ the
    * roundCand+topK reference formulation row-for-row.
    *
    * `segments` > 1 processes pivot residue classes (u % segments) in
    * sequential eagerly-materialized passes (the [[initTopK]]
    * discipline, incl. the per-pass GC): a cross-class duplicate
    * survives its per-pass top-k (it competes against a subset there)
    * and the final groupBy+re-rank dedupes it, so segmentation is
    * exact here too.
    */
  private[graft] def roundTopK(
      e: DataFrame, g: DataFrame, k: Int = K, segments: Int = 1): DataFrame = {
    val rev = g.select(col("w").as("rv"), col("v").as("rw"), col("cos"))
      .withColumn("rr", row_number().over(
        Window.partitionBy("rv").orderBy(col("cos").desc, col("rw"))))
      .filter(col("rr") <= k)
      .select(col("rv").as("v"), col("rw").as("w"))
    // b may carry (v, w) twice (forward AND kept reverse) — cleaned by
    // the groupBy dedupe below, same as roundCand's single distinct
    val b = g.select("v", "w").union(rev).transform(CacheScope.scoped)
    val left = b.select(col("w").as("u"), col("v").as("x"))
      .join(e.select(col("vec_id").as("x"), col("qe").as("xqe"),
        col("nrm").as("xnrm")), "x")
    val right = b.select(col("v").as("u"), col("w"))
      .join(e.select(col("vec_id").as("w"), col("qe").as("wqe"),
        col("nrm").as("wnrm")), "w")
    val eu = e.select(col("vec_id").as("u"), col("qe").as("uqe"),
      col("nrm").as("unrm"))
    def rank(scored: DataFrame): DataFrame = scored
      .groupBy("v", "w").agg(max("cos").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
      .filter(col("rank") <= k)
    def scoredOf(lf: DataFrame, rt: DataFrame): DataFrame = {
      val twoHop = lf.join(rt, "u")
        .filter(col("w") =!= col("x"))
        .select(col("x").as("v"), col("w"),
          expr("cast(vec_ldot(xqe, wqe) as double) / (xnrm * wnrm)").as("cos"))
      val direct = lf.join(eu, "u")
        .select(col("x").as("v"), col("u").as("w"),
          expr("cast(vec_ldot(xqe, uqe) as double) / (xnrm * unrm)").as("cos"))
      twoHop.unionAll(direct)
    }
    if (segments <= 1) rank(scoredOf(left, right))
    else {
      val parts = (0 until segments).map { s =>
        val part = CacheScope.checkpointed(
          rank(scoredOf(
            left.filter(pmod(col("u"), lit(segments.toLong)) === s),
            right.filter(pmod(col("u"), lit(segments.toLong)) === s)))
            .select("v", "w", "cos"))
        System.gc()
        part
      }
      rank(parts.reduce(_.unionAll(_)))
    }
  }

  /** g₀ .. g₍rounds₎ over an nv-shaped relation. Each round is
    * localCheckpointed (query-scoped), NOT merely persisted (r15,
    * measured): a round's logical plan embeds the previous round's
    * subtree ~6 times (b = g ∪ rev feeds left/right/twoHop/direct), so
    * under plain persist the plan TREE grows ~6^r and every action
    * that references a round — the next round's build, q176's
    * per-round audit union, q179/q180's consumers — re-pays Catalyst
    * ANALYSIS of the whole nested tree before cache substitution can
    * even look it up (measured ~15 s per action at sf0.1; q180's CC
    * loop paid it ~6× = 85 s on a 35-edge relation). The checkpoint
    * truncates each round to a LogicalRDD leaf: plans stay
    * constant-size at any round count, execution unchanged (the same
    * law as components()' label rounds and the segmented init's
    * passes). g₍ᵣ₋₁₎ still feeds BOTH the next round's expansion and
    * (in q176) the per-round audit union from memory.
    */
  // `planes` has NO default on purpose (r13 ADVICE): 6 is the exact
  // fixed width measured corpus-quadratic-fatal at ×30 — callers must
  // pass planesFor(n) (or an explicit test width) so the fatal
  // configuration stays opt-in, never the silent default.
  //
  // `checkpointLast = false` (r17 opt round): a caller that consumes
  // the FINAL round through exactly one materialization of its own
  // (q175/q179's single terminal action, q180's scoped persist) can
  // skip the last checkpoint — the terminal plan then embeds one
  // roundTopK layer over the previous round's LogicalRDD leaf
  // (bounded: the ~6^r nesting the r15 fix killed needs UNcheckpointed
  // rounds below, and round r−1 is still checkpointed), which saves a
  // full materialize-then-rescan of the n·k-row graph plus one driver
  // action (~5 AQE stage jobs at bench scale) per query. Callers with
  // two independent downstream actions (q176's per-round audit) keep
  // the default.
  private[graft] def descend(e: DataFrame, planes: Int,
      rounds: Int = Rounds, k: Int = K, segments: Int = 1,
      checkpointLast: Boolean = true): Seq[DataFrame] = {
    val g0 = CacheScope.checkpointed(initTopK(e, planes, k, segments))
    (1 to rounds).foldLeft(Vector(g0)) { (gs, r) =>
      val next = roundTopK(e, gs.last, k, segments)
      gs :+ (if (r == rounds && !checkpointLast) next
             else CacheScope.checkpointed(next))
    }
  }

  /** Hamming-2 probe harvest on the FINAL re-rank only (the r14 ask-#5
    * candidate arm, named in the verdict): after the descent, each
    * node probes the C(planes, 2) buckets at hamming distance 2 from
    * its own — the shell the init's hamming-1 probes never see — and
    * the harvested candidates re-rank together with the built graph's
    * edges. Init and rounds are untouched; the arm's cost is its own
    * pairing term n · C(p,2) · (n/2^p) — ~C(p,2)/(p+1) times the init's
    * (×2.1 at p=6, ×7 at p=16), priced by `Scale knn` (the `h2` finisher). Single-join
    * discipline throughout (no pair-shaped relation carries a vector
    * through an exchange — the probes side carries v's vector, the
    * bucket side w's, cos projected in-stage, WindowGroupLimit before
    * the rank exchange).
    */
  private[graft] def h2Rerank(
      e: DataFrame, g: DataFrame, planes: Int, k: Int = K): DataFrame = {
    val masks = (for {
      i <- 0 until planes; j <- (i + 1) until planes
    } yield (1L << i) | (1L << j)).mkString(", ")
    val nb = e.withColumn("bucket", expr(Similarity.lshBucketExpr(planes)))
      .transform(CacheScope.scoped)
    val wside = nb.select(col("vec_id").as("w"), col("qe").as("wqe"),
      col("nrm").as("wnrm"), col("bucket").as("wb"))
    val probes = nb
      .select(col("vec_id").as("v"), col("qe").as("vqe"),
        col("nrm").as("vnrm"),
        explode(expr(s"transform(array($masks), m -> bucket ^ m)")).as("pb"))
    val harvested = probes
      .join(wside, col("wb") === col("pb") && col("w") =!= col("v"))
      .select(col("v"), col("w"),
        expr("cast(vec_ldot(vqe, wqe) as double) / (vnrm * wnrm)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
      .filter(col("rank") <= k)
      .select("v", "w", "cos")
    harvested.unionAll(g.select("v", "w", "cos"))
      .groupBy("v", "w").agg(max("cos").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
      .filter(col("rank") <= k)
  }

  /** Init-bucket occupancy skew — the r15 verdict ask-#7 clusteredness
    * probe behind the `auto` recall-arm selection: the mean bucket
    * occupancy a random node EXPERIENCES (Σc²/n over bucket sizes c)
    * divided by the uniform-multinomial expectation n/2^planes. A
    * uniform corpus hashes near the expectation (skew ≈ 1–2, measured
    * 1.41 on the sf0.1 driver corpus); a clustered mixture
    * concentrates whole clusters into shared sign-buckets (skew ≫ 1,
    * measured 21.8 on the `ScaleGen clustered` 600k fixture) — and the
    * h2 harvest only pays on the UNIFORM side (`Scale knn` r15: +0.154
    * recall uniform vs +0.012 clustered at ~2× the init term). One
    * (bucket → count) aggregate over ids; no vectors move, and the
    * buckets are the SAME relation the init pass computes anyway — as
    * a standalone probe it costs one corpus scan of the qe column
    * (measured 0.5 s at 600k vectors, noise against the 100+ s build).
    */
  private[graft] def occupancySkew(e: DataFrame, planes: Int): Double = {
    val row = e.withColumn("bucket", expr(Similarity.lshBucketExpr(planes)))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * c")).as("ss"), sum(col("c")).as("n")).first()
    val ss = row.getLong(0).toDouble
    val n = row.getLong(1).toDouble
    (ss / n) / (n / (1L << planes).toDouble)
  }

  /** Skew bar for the `auto` arm: below it the corpus reads as
    * uniform-ish (h2 pays), above it as clustered (h2 is ×2 init cost
    * for +0.01 recall — skip). Pinned at the geometric midpoint of the
    * two measured fixtures (1.41 uniform, 21.8 clustered — a 15×
    * gap, so any bar in [2, 10] makes the same calls; 5.5 ≈
    * √(1.41·21.8) sits maximally far from both).
    */
  val H2SkewThreshold = 5.5

  // ── HNSW-style layered index (r15 verdict ask #2: the third declared
  // consumer of the kNN graph — q181 search + q182 recall audit) ──────
  //
  // Layout (Malkov & Yashunin '16, re-expressed for a relational
  // engine): a fixed THREE upper layers over the base graph, members
  // drawn by deterministic hash so both engines agree — node v is in
  // layer l iff h60(v) % fanout^l == 0, giving nested layers of
  // ~n/f, n/f², n/f³ nodes. The fanout is corpus-derived
  // ([[fanoutFor]]) so the TOP layer stays ~64 nodes at every corpus
  // size: fixed layer COUNT + adaptive fanout is what keeps the
  // oracle SQL's CTE structure static while the dial moves (the
  // planesFor precedent — a data-dependent layer count would need a
  // data-dependent CTE chain, which a static oracle string cannot
  // express).
  //
  // Layer graphs: the BASE layer is the shipped q175 descent output
  // (the "graph-seeded" part — the index consumes the NN-descent
  // graph as its layer 0). Upper layers are LSH-init top-k graphs
  // within the layer's members, at the layer's own adaptive width
  // (planesFor of the MEMBER count — buckets stay ~32 at every layer).
  // The alternative — coarsening upper layers from the base graph's
  // 2-hop balls restricted to members — was considered and rejected
  // for scale: member density is 1/f, a 2-hop ball holds ~(2k)² ≈ 100
  // nodes, and at the ×1000 fanout (f = 54) that leaves ~2 member
  // candidates per node — near-empty routing layers exactly when the
  // index matters most. The per-layer init is the scale-safe form:
  // total extra build cost Σ n/f^l ≈ n/(f−1) scored-pair volume, a
  // vanishing fraction of the base descent's as f grows.
  //
  // Search (bounded beam, deterministic): queries enter at the top
  // layer by scoring ALL its ~64 members (n/f³ is held ~64 by the
  // fanout — a bounded broadcast-scale scan, not a corpus scan), keep
  // top-[[HnswEf]]; each lower layer expands the beam through that
  // layer's edges a FIXED [[HnswHopsUpper]] times (re-rank to ef after
  // each hop); the base layer runs [[HnswHops0]] hops at [[HnswEf0]]
  // and the final top-[[K]] is the answer. Fixed hop counts (not
  // iterate-to-convergence) keep the plan bounded and BOTH engines
  // bit-identical; the recall audit (q182) prices what the truncation
  // costs. Per-hop candidate sets only ever GROW a query's scored
  // pool, and top-ef of a superset dominates, so beam quality is
  // monotone non-decreasing in hops (KnnGraphSpec pins the law).
  //
  // Scale: the beam relations are query-batch-sized (|Q| · ef rows of
  // ids — the q40 probe-batch posture, never corpus-shaped); rescoring
  // joins the id-pairs to the corpus on vec_id (ids shuffle, qe arrays
  // stream on the corpus side); the only corpus-sized work is the
  // layer-graph builds, each the established init/descent machinery.

  /** Upper-layer / entry beam width. */
  val HnswEf = 8

  /** Base-layer beam width (≥ [[K]] — the final answer truncates it). */
  val HnswEf0 = 96

  /** Beam hops through each upper layer's graph. */
  val HnswHopsUpper = 2

  /** Beam hops through the base (descent) graph. */
  val HnswHops0 = 8

  /** Symmetrized expansion edges of a ranked graph `g(v, w, …)` — the
    * beam moves through edges in BOTH directions (HNSW links are
    * bidirectional by construction; a kNN edge exists in one). With
    * forward-only moves the beam measured recall 0.205 at sf0.1 vs
    * 0.459 for the static graph — navigation kept dead-ending in
    * low-out-degree regions; symmetrizing the move set (one id-only
    * distinct over the 5n edge list, built once per layer) is what
    * makes the layered routing actually converge.
    */
  private def symEdges(g: DataFrame): DataFrame =
    g.select("v", "w")
      .union(g.select(col("w").as("v"), col("v").as("w")))
      .distinct()

  /** Inter-layer fanout for corpus size n: smallest f ≥ 2 with
    * 64·f³ ≥ n, so the top of the three hash-nested layers holds ~64
    * nodes at every corpus size (sf0.01 → 3, sf0.1 → 6, ×1000/10M →
    * 54). Integer search over a bounded range — trivially identical in
    * both engines (the oracle derives it with the same inequality over
    * generate_series).
    */
  def fanoutFor(n: Long): Long =
    (2L to 4096L).find(f => 64L * f * f * f >= n).getOrElse(4096L)

  /** Bounded layered beam search. `queries` is `(qid, qqe, qnrm)`
    * (probe-batch-sized); `top` is the top layer's member relation
    * (nv-shaped); `layers` runs top-to-base as (graph, ef, hops).
    * Returns the last beam `(qid, w, cos, rank)`, rank ≤ the base ef.
    * Hint-free joins: the query side is batch-sized, so AQE broadcasts
    * it while it fits and degrades to hash beyond — the
    * StreamingCuration.run posture.
    */
  private[graft] def hnswSearch(
      e: DataFrame,
      queries: DataFrame,
      top: DataFrame,
      layers: Seq[(DataFrame, Int, Int)]): DataFrame = {
    def rescore(cand: DataFrame, ef: Int): DataFrame = cand
      .join(queries, "qid")
      .join(e.select(col("vec_id").as("w"), col("qe").as("wqe"),
        col("nrm").as("wnrm")), "w")
      .filter(col("w") =!= col("qid"))
      .select(col("qid"), col("w"),
        expr("cast(vec_ldot(qqe, wqe) as double) / (qnrm * wnrm)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("w"))))
      .filter(col("rank") <= ef)
    val entry = rescore(
      queries.select("qid").crossJoin(top.select(col("vec_id").as("w"))),
      layers.head._2)
    layers.foldLeft(entry) { case (beam0, (g, ef, hops)) =>
      (1 to hops).foldLeft(beam0) { (beam, i) =>
        // Checkpoint every SECOND hop (and the layer's last), not every
        // hop (r16 opt round, measured): a hop references the previous
        // beam twice (carry-over union + expansion join), so plans
        // between checkpoints grow 2^hops — but at depth ≤ 2 that is a
        // ≤ 4-leaf tree whose duplicated subtrees share their Exchange
        // nodes (ReuseExchange/AQE stage cache dedups identical
        // exchanges, so the doubled branches re-run only the cheap
        // window-over-exchange tail). Each checkpoint is its own
        // driver action (~5 AQE stage jobs at bench scale); halving
        // the checkpoints halved the beam's job count (q181 153 → ~90
        // jobs) without changing any hop's dataflow. The analysis
        // blowup the old per-hop comment feared starts at uncapped
        // depth; depth 2 is bounded by construction.
        val cand = beam.select("qid", "w")
          .union(beam.select(col("qid"), col("w").as("v"))
            .join(g.select("v", "w"), "v")
            .select("qid", "w"))
          .distinct()
        val hop = rescore(cand, ef)
        if (i % 2 == 0 || i == hops) CacheScope.checkpointed(hop) else hop
      }
    }
  }

  /** DuckDB mirror of the layered index + beam search: CTE chain
    * appended after [[descentDuck]] (expects nn/planes/qn/g[[Rounds]]
    * in scope; ends without trailing comma, leaving `fin` as the final
    * beam). Generated from the same constants the Spark side folds
    * over — retuning ef/hops/fanout moves both engines together.
    */
  private[graft] def hnswDuck: String = {
    val h60v = Portable.h60Duck("CAST(vec_id AS VARCHAR)")
    def layerInit(l: Int) =
      s"""nnl$l AS (SELECT GREATEST(6, CASE WHEN ((count(*) + 31) // 32) <= 1 THEN 1
         |                  ELSE length(bin((count(*) + 31) // 32 - 1)) END) AS np FROM m$l),
         |bk$l AS (SELECT v.vec_id,
         |          (SUM(CASE WHEN ${Similarity.idotD("v.qe", "p.pvec")} >= 0
         |                    THEN (1::BIGINT << p.j) ELSE 0 END))::BIGINT AS bucket
         |        FROM m$l v, planes p WHERE p.j < (SELECT np FROM nnl$l) GROUP BY v.vec_id),
         |pp$l AS (SELECT b.vec_id AS v,
         |         unnest(list_transform(range(0, (SELECT np + 1 FROM nnl$l)),
         |           t -> CASE WHEN t = 0 THEN bucket ELSE xor(bucket, (1::BIGINT << (t - 1))) END)) AS pb
         |       FROM bk$l b),
         |cd$l AS (SELECT p.v, eb.vec_id AS w FROM pp$l p
         |        JOIN bk$l eb ON eb.bucket = p.pb AND eb.vec_id <> p.v),
         |lr$l AS (SELECT v, w FROM (
         |  SELECT v, w, row_number() OVER (PARTITION BY v ORDER BY cos DESC, w) AS r
         |  FROM (SELECT c.v, c.w,
         |          CAST(${Similarity.idotD("a.qe", "b.qe")} AS DOUBLE) / (a.nrm * b.nrm) AS cos
         |        FROM cd$l c JOIN qn a ON a.vec_id = c.v
         |        JOIN qn b ON b.vec_id = c.w)) WHERE r <= $K),
         |lg$l AS MATERIALIZED (SELECT DISTINCT v, w FROM (
         |  SELECT v, w FROM lr$l UNION ALL SELECT w AS v, v AS w FROM lr$l))""".stripMargin
    def hopChain(graph: String, first: String, tag: String, ef: Int,
        nHops: Int): (String, String) = {
      var cur = first
      val sb = new StringBuilder
      for (i <- 1 to nHops) {
        val x = s"x$tag$i"; val sN = s"s$tag$i"
        if (sb.nonEmpty) sb.append(",\n")
        // MATERIALIZED is load-bearing, not a hint (r16, measured):
        // each hop references the previous beam TWICE (carry-over +
        // expansion), and DuckDB's default CTE inlining makes the
        // expanded tree grow 2^hops — at 8 base hops that is ~4096
        // copies of the entry subtree, each re-opening the parquet
        // scan ("Too many open files" before it even runs). The
        // oracle-side analog of the Spark side's per-hop
        // localCheckpoint.
        sb.append(
          s"""$x AS MATERIALIZED (SELECT DISTINCT qid, w FROM (
             |  SELECT qid, w FROM $cur
             |  UNION ALL SELECT p.qid, g.w FROM $cur p JOIN $graph g ON g.v = p.w)),
             |$sN AS MATERIALIZED (SELECT qid, w, cos FROM (
             |  SELECT qid, w, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, w) AS r
             |  FROM (SELECT x.qid, x.w,
             |          CAST(${Similarity.idotD("q.qqe", "b.qe")} AS DOUBLE) / (q.qnrm * b.nrm) AS cos
             |        FROM $x x JOIN qq q ON q.qid = x.qid
             |        JOIN qn b ON b.vec_id = x.w AND b.vec_id <> x.qid))
             |  WHERE r <= $ef)""".stripMargin)
        cur = sN
      }
      (sb.toString, cur)
    }
    val (hops2, last2) = hopChain("lg2", "ent", "a", HnswEf, HnswHopsUpper)
    val (hops1, last1) = hopChain("lg1", last2, "b", HnswEf, HnswHopsUpper)
    val (hops0, last0) = hopChain("gk", last1, "c", HnswEf0, HnswHops0)
    s"""fo AS (SELECT CAST(min(f) AS BIGINT) AS f FROM generate_series(2, 4096) t(f)
       |       WHERE 64 * f * f * f >= (SELECT count(*) FROM embeddings)),
       |m1 AS MATERIALIZED (SELECT q.vec_id, q.qe, q.nrm FROM qn q
       |       WHERE $h60v % (SELECT f FROM fo) = 0),
       |m2 AS (SELECT * FROM m1 WHERE $h60v % (SELECT f * f FROM fo) = 0),
       |m3 AS (SELECT * FROM m1 WHERE $h60v % (SELECT f * f * f FROM fo) = 0),
       |${layerInit(1)},
       |${layerInit(2)},
       |gr AS (SELECT v, w FROM g$Rounds WHERE r <= $K),
       |gk AS MATERIALIZED (SELECT DISTINCT v, w FROM (
       |  SELECT v, w FROM gr UNION ALL SELECT w AS v, v AS w FROM gr)),
       |qs AS (SELECT vec_id FROM qn
       |       WHERE $h60v % (SELECT md FROM nn) = 0),
       |qq AS MATERIALIZED (SELECT q.vec_id AS qid, q.qe AS qqe, q.nrm AS qnrm
       |       FROM qn q JOIN qs ON qs.vec_id = q.vec_id),
       |ent AS MATERIALIZED (SELECT qid, w, cos FROM (
       |  SELECT qid, w, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, w) AS r
       |  FROM (SELECT q.qid, m.vec_id AS w,
       |          CAST(${Similarity.idotD("q.qqe", "m.qe")} AS DOUBLE) / (q.qnrm * m.nrm) AS cos
       |        FROM qq q, m3 m WHERE m.vec_id <> q.qid)) WHERE r <= $HnswEf),
       |$hops2,
       |$hops1,
       |$hops0,
       |fin AS (SELECT qid, w, cos FROM $last0)""".stripMargin
  }

  /** The q181 Spark build+search, shared with the q182 audit: returns
    * (final beam `(qid, w, cos, rank)`, the query relation).
    */
  private[graft] def hnswBeam(
      s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val e = Similarity.nv(s, d).select("vec_id", "qe", "nrm")
      .transform(CacheScope.scoped)
    val n = e.count()
    val f = fanoutFor(n)
    // checkpointLast = false (r17): symEdges(g0) below is the base
    // graph's ONE materialization (its scoped persist fills on the
    // first base-layer hop) — the old last-round checkpoint wrote the
    // same rows once more in their own driver action.
    val g0 = descend(e, planes = planesFor(n), k = KBuild,
        checkpointLast = false).last
      .filter(col("rank") <= K)
    val m1 = e.filter(expr(sampSpark(f))).transform(CacheScope.scoped)
    // Layer dials from ONE fused driver decision (r17): |m1| and |m2|
    // come out of a single aggregate over m1 (which doubles as m1's
    // eager cache fill) instead of two count() actions — m2 is a pure
    // subset of m1 by the nested hash predicate, so counting the f²
    // residue INSIDE m1 is exactly |m2|. The oracle re-derives each
    // width from its own count(*), unchanged.
    val mrow = m1.agg(count(lit(1)),
      count(when(expr(sampSpark(f * f)), 1))).first()
    val (n1, n2) = (mrow.getLong(0), mrow.getLong(1))
    val m2 = m1.filter(expr(sampSpark(f * f)))
    val m3 = m1.filter(expr(sampSpark(f * f * f)))
    // Upper-layer graphs stay LAZY (r17): g1/g2 were checkpointed in
    // their own actions, but their sole consumer is the scoped
    // symEdges persist below — the persist fill (first hop of each
    // layer) is the one materialization each needs, and an initTopK
    // plan is non-recursive, so nothing re-analyzes super-linearly.
    val g1 = initTopK(m1, planesFor(n1), K)
    val g2 = initTopK(m2, planesFor(n2), K)
    val queries = e.filter(expr(sampSpark(modFor(n))))
      .select(col("vec_id").as("qid"), col("qe").as("qqe"),
        col("nrm").as("qnrm"))
      .transform(CacheScope.scoped)
    // symEdges per layer is CACHED (r16 opt round): each beam hop's
    // plan embeds its layer's expansion edges, so an uncached symEdges
    // re-ran its union+distinct exchange once per hop (8× for the base
    // layer). One persist each makes every hop after the first a pure
    // cache reader — same relation, 7 fewer distinct-exchanges on the
    // base layer alone.
    val beam = hnswSearch(e, queries, m3, Seq(
      (CacheScope.scoped(symEdges(g2)), HnswEf, HnswHopsUpper),
      (CacheScope.scoped(symEdges(g1)), HnswEf, HnswHopsUpper),
      (CacheScope.scoped(symEdges(g0)), HnswEf0, HnswHops0)))
    // e returned so q182's exact-truth arm reuses the CACHED corpus
    // projection instead of re-quantizing it (r16 opt round)
    (beam, queries, e)
  }

  /** kNN label propagation over a graph relation `g(v, w, ...)` and a
    * label relation `lab(vec_id, label)`: each node's PREDICTED label
    * is the majority label among its graph neighbors, ties broken to
    * the smallest label — fully deterministic, fully integer, so both
    * engines vote identically. Returns `(v, predicted)`; nodes with no
    * edges have no vote and drop out (the caller's join decides their
    * fate). The graph is the dial: propagating over g0 (LSH init) vs
    * g₍rounds₎ (the shipped graph) gives DIFFERENT predictions —
    * KnnGraphSpec pins that sensitivity, which is what makes q179 a
    * real consumer of the descent rather than of any neighbor list.
    *
    * Scale: one hash join of the 5n-row edge list with the n-row
    * label projection (ids only — no vectors), a (v, label) count
    * aggregate with map-side combine, and a ≤|labels|-per-node rank
    * window. Nothing here exceeds the graph's own footprint.
    */
  private[graft] def propagate(g: DataFrame, lab: DataFrame): DataFrame =
    g.select("v", "w")
      .join(lab.select(col("vec_id").as("w"), col("label").as("nl")), "w")
      .groupBy("v", "nl").agg(count(lit(1)).as("c"))
      .withColumn("rr", row_number().over(
        Window.partitionBy("v").orderBy(col("c").desc, col("nl"))))
      .filter(col("rr") === 1)
      .select(col("v"), col("nl").as("predicted"))

  /** Spark-side sampled-node predicate (the q164 content-hash dial). */
  private[graft] def sampSpark(mod: Long) =
    s"${Portable.h60Spark("cast(vec_id as string)")} % $mod = 0"

  /** DuckDB mirror of [[planesFor]]/[[modFor]]: CTE `nn(np, md)` —
    * pure integer math (bit length via `bin()`, integer division), so
    * both engines pick the identical dial at every corpus size.
    */
  private[graft] val nnDuck =
    """nn AS (SELECT
      |         GREATEST(6, CASE WHEN ((count(*) + 31) // 32) <= 1 THEN 1
      |                          ELSE length(bin((count(*) + 31) // 32 - 1)) END) AS np,
      |         GREATEST(4, (count(*) + 499) // 500) AS md
      |       FROM embeddings)""".stripMargin

  /** Adaptive-width variant of [[Similarity.planesDuck]]: only the
    * first `np` hyperplanes exist (same md5 family, so width 6 is
    * bit-identical to q47's fixed table).
    */
  private val planesAdaptiveDuck =
    """planes AS (
      |  SELECT j, list((('0x' || substr(md5(concat('plane|', j, '|', i)), 1, 15))::BIGINT % 2001 - 1000) ORDER BY i) AS pvec
      |  FROM generate_series(0, 63) g(j), generate_series(1, 64) gi(i), nn
      |  WHERE j < nn.np
      |  GROUP BY j)""".stripMargin

  /** DuckDB CTE chain computing g0..g[[Rounds]] as `(v, w, cos, r)`
    * relations (ends without trailing comma; expects nothing in
    * scope). The chain is GENERATED from [[Rounds]] — the same
    * constant the Spark side folds over in [[descend]] — so retuning
    * the round count moves both engines together (r13 ADVICE: a
    * hard-coded g0/b0/c1/... chain desyncs silently when Rounds
    * changes, surfacing only as a confusing oracle row mismatch).
    */
  private[graft] def descentDuck: String = {
    def gCte(name: String, candCte: String) =
      s"""$name AS (SELECT v, w, cos, r FROM (
         |  SELECT v, w, cos, row_number() OVER (PARTITION BY v ORDER BY cos DESC, w) AS r
         |  FROM (SELECT c.v, c.w,
         |          CAST(${Similarity.idotD("a.qe", "b.qe")} AS DOUBLE) / (a.nrm * b.nrm) AS cos
         |        FROM $candCte c
         |        JOIN qn a ON a.vec_id = c.v
         |        JOIN qn b ON b.vec_id = c.w)) WHERE r <= $KBuild)""".stripMargin
    // DISTINCT-over-UNION-ALL instead of bare UNION (r15): when a
    // consumer embeds this chain under `WITH RECURSIVE` (q180's CC
    // walk), DuckDB treats a CTE whose body is `a UNION b` as a
    // potential recursive anchor and the UNION loses its dedup —
    // measured: 555 duplicate (v, w) pairs in g2, each ranked
    // separately, silently corrupting every downstream rank window.
    // The wrapped form is semantically identical and parse-safe in
    // both contexts.
    def bCte(name: String, g: String) =
      s"""$name AS (SELECT DISTINCT v, w FROM (
         |          SELECT v, w FROM $g
         |          UNION ALL
         |          SELECT rv AS v, rw AS w FROM (
         |            SELECT w AS rv, v AS rw,
         |              row_number() OVER (PARTITION BY w ORDER BY cos DESC, v) AS rr
         |            FROM $g) WHERE rr <= $KBuild))""".stripMargin
    def cCte(name: String, b: String) =
      s"""$name AS (SELECT DISTINCT v, w FROM (
         |          SELECT x.v, y.w FROM $b x JOIN $b y ON y.v = x.w AND y.w <> x.v
         |          UNION ALL SELECT v, w FROM $b))""".stripMargin
    val rounds = (1 to Rounds).flatMap { r =>
      Seq(bCte(s"b${r - 1}", s"g${r - 1}"),
        cCte(s"c$r", s"b${r - 1}"),
        gCte(s"g$r", s"c$r"))
    }.mkString(",\n")
    s"""$nnDuck,
       |$planesAdaptiveDuck,
       |${Similarity.qvDuck},
       |${Similarity.nvDuck},
       |${Similarity.bktDuck},
       |qn AS (SELECT qv.vec_id, qv.qe, nv.nrm FROM qv JOIN nv ON nv.vec_id = qv.vec_id),
       |pr AS (SELECT b.vec_id AS v,
       |         unnest(list_transform(range(0, (SELECT np + 1 FROM nn)),
       |           t -> CASE WHEN t = 0 THEN bucket ELSE xor(bucket, (1::BIGINT << (t - 1))) END)) AS pb
       |       FROM bkt b),
       |c0 AS (SELECT p.v, eb.vec_id AS w FROM pr p
       |       JOIN bkt eb ON eb.bucket = p.pb AND eb.vec_id <> p.v),
       |${gCte("g0", "c0")},
       |$rounds""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // ── The kNN graph itself (all nodes, final round) ──────────────────
    Q(
      "q175_knn_graph",
      s"""WITH $descentDuck
         |SELECT v AS vec_id, r AS rank, w AS neighbor_id,
         |  floor(cos * 1000000.0) / 1000000.0 AS cosine
         |FROM g$Rounds WHERE r <= $K""".stripMargin) { (s, d) =>
      val e = Similarity.nv(s, d).select("vec_id", "qe", "nrm")
        .transform(CacheScope.scoped)
      // the dial is a 1-row driver decision off the cached corpus count
      // (the BPE-argmax precedent) — the oracle derives the identical
      // width from its own count(*) in the nn CTE. Built at KBuild,
      // shipped at K (the r14 build-wide/truncate-narrow re-pin).
      // checkpointLast = false: the terminal noop/verify action is the
      // final round's only consumer (r17 — one materialization pass and
      // one driver action fewer).
      descend(e, planes = planesFor(e.count()), k = KBuild,
          checkpointLast = false).last
        .filter(col("rank") <= K)
        .select(col("v").as("vec_id"), col("rank"),
          col("w").as("neighbor_id"),
          expr("floor(cos * 1000000.0D) / 1000000.0D").as("cosine"))
    },

    // ── Per-round recall audit (the q73/q153/q171 pattern) ─────────────
    // Exact top-k ground truth on the sampled nodes vs each round's
    // graph: iter 0 reads the LSH init's recall, iters 1..2 read what
    // each NN-descent round buys — the curve the round count is tuned
    // against. Monotone non-decreasing by the B(v) ⊆ C(v) containment
    // (KnnGraphSpec pins the law; the oracle certifies the values).
    Q(
      "q176_knn_graph_recall",
      s"""WITH $descentDuck,
         |samp AS (SELECT vec_id FROM qn
         |         WHERE ${Portable.h60Duck("CAST(vec_id AS VARCHAR)")} % (SELECT md FROM nn) = 0),
         |ex AS (SELECT v, w FROM (
         |         SELECT a.vec_id AS v, b.vec_id AS w,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY CAST(${Similarity.idotD("a.qe", "b.qe")} AS DOUBLE) / (a.nrm * b.nrm) DESC,
         |                      b.vec_id) AS r
         |         FROM qn a JOIN samp s ON s.vec_id = a.vec_id
         |         JOIN qn b ON b.vec_id <> a.vec_id) WHERE r <= $K),
         |gall AS (${(0 to Rounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS iter, v, w FROM g$i WHERE r <= $K")
        .mkString("\n         UNION ALL ")}),
         |iters AS (SELECT CAST(unnest([${(0 to Rounds).mkString(", ")}]) AS BIGINT) AS iter),
         |f AS (SELECT i.iter, CASE WHEN gall.w IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM ex CROSS JOIN iters i
         |      LEFT JOIN gall ON gall.iter = i.iter AND gall.v = ex.v AND gall.w = ex.w)
         |SELECT iter, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(CASE WHEN hit = 1 THEN 1 END) AS BIGINT) AS n_found,
         |  floor(count(CASE WHEN hit = 1 THEN 1 END) * 1000000.0 / count(*)) / 1000000.0 AS recall
         |FROM f GROUP BY iter""".stripMargin) { (s, d) =>
      val e = Similarity.nv(s, d).select("vec_id", "qe", "nrm")
        .transform(CacheScope.scoped)
      val n = e.count()
      // audit the SHIPPED truncation: built at KBuild, recall read on
      // each round's top-K (what q175 would emit after that round)
      val gs = descend(e, planes = planesFor(n), k = KBuild)
        .map(_.filter(col("rank") <= K))
      // exact truth on the sampled nodes only: ~500·n pairs (the
      // automatic modulus holds the sample ~constant), NOT the full n²
      val ex = e.filter(expr(sampSpark(modFor(n))))
        .select(col("vec_id").as("v"), col("qe").as("vqe"),
          col("nrm").as("vnrm"))
        .join(e.select(col("vec_id").as("w"), col("qe").as("wqe"),
          col("nrm").as("wnrm")), col("w") =!= col("v"))
        .select(col("v"), col("w"),
          expr("cast(vec_ldot(vqe, wqe) as double) / (vnrm * wnrm)").as("cos"))
        .withColumn("r", row_number().over(
          Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
        .filter(col("r") <= K)
        .select("v", "w")
      val gall = gs.zipWithIndex.map { case (g, i) =>
        g.select(lit(i.toLong).as("iter"), col("v"), col("w"), lit(1).as("hit"))
      }.reduce(_.union(_))
      val iters = s.range(0, Rounds + 1).select(col("id").as("iter"))
      ex.crossJoin(broadcast(iters))
        .join(gall, Seq("iter", "v", "w"), "left")
        .groupBy("iter")
        .agg(
          count(lit(1)).as("n_exact"),
          count(expr("CASE WHEN hit = 1 THEN 1 END")).as("n_found"),
          expr("floor(count(CASE WHEN hit = 1 THEN 1 END) * 1000000.0D / count(1)) / 1000000.0D")
            .as("recall"))
    },

    // ── Graph consumer: kNN label-noise audit (r14 verdict ask #2) ─────
    // The first REGISTERED consumer of the q175 graph relation — the
    // cost of building the graph is justified by its consumers
    // (SemDeDup, HNSW seeding, label propagation), so one of them must
    // actually run against the oracle: each node's label is voted on
    // by its k graph neighbors ([[propagate]]) and a node whose own
    // label loses the vote is flagged label NOISE — the kNN-graph form
    // of q125's centroid-distance noise audit (Northcutt et al.'s
    // confident-learning intuition: a mislabeled point sits in a
    // neighborhood that outvotes it). Output is the per-label audit a
    // curation pass reads before training: node count, flagged count,
    // flagged ppm. Integer end-to-end (counts, deterministic
    // smallest-label tie-break) — hash-exact on both engines.
    //
    // Scale: the descent dominates (shared machinery with q175); the
    // propagation itself is one id-only hash join + count aggregate
    // over the 5n-row edge list. The graph DIAL moves the verdict:
    // propagating over the LSH init alone vs the shipped 2-round graph
    // flags different nodes (KnnGraphSpec pins it).
    Q(
      "q179_knn_label_noise",
      s"""WITH $descentDuck,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |gk AS (SELECT v, w FROM g$Rounds WHERE r <= $K),
         |votes AS (SELECT gk.v, lab.label AS nl, CAST(count(*) AS BIGINT) AS c
         |          FROM gk JOIN lab ON lab.vec_id = gk.w GROUP BY 1, 2),
         |pred AS (SELECT v, nl AS predicted
         |         FROM (SELECT v, nl,
         |                 row_number() OVER (PARTITION BY v ORDER BY c DESC, nl) AS rr
         |               FROM votes) WHERE rr = 1)
         |SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(count(CASE WHEN pred.predicted <> lab.label THEN 1 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(1000000 * count(CASE WHEN pred.predicted <> lab.label THEN 1 END)
         |    // count(*) AS BIGINT) AS flagged_ppm
         |FROM lab JOIN pred ON pred.v = lab.vec_id
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = Similarity.nv(s, d).select("vec_id", "qe", "nrm")
        .transform(CacheScope.scoped)
      // checkpointLast = false: propagate's vote join is the final
      // round's only consumer (r17)
      val g = descend(e, planes = planesFor(e.count()), k = KBuild,
          checkpointLast = false).last
        .filter(col("rank") <= K)
      val lab = graft.Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      lab.join(propagate(g, lab), col("v") === col("vec_id"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_nodes"),
          count(when(col("predicted") =!= col("label"), 1)).as("n_flagged"))
        .select(col("label"), col("n_nodes"), col("n_flagged"),
          expr("1000000 * n_flagged div n_nodes").as("flagged_ppm"))
    },

    // ── Graph consumer 2: SemDeDup via the kNN graph (Abbas et al. '23) ─
    // The second declared consumer registered (with q179's label
    // propagation, two of the three justifying workloads now run
    // against the oracle): semantic dedup whose candidate pairs come
    // from the q175 GRAPH instead of q68's within-IVF-cluster pairs —
    // the SemDeDup paper's actual shape (kNN edges above a similarity
    // bar → connected components → one canonical per component). The
    // bar sits ABOVE the corpus's random-cosine tail (cos ≥ 0.47 —
    // p99 of the top-5 edge cosines at both SFs), the same reason
    // real SemDeDup deploys τ near the duplication point: a bar
    // inside the random tail (q38's pairwise 0.4 screen, say)
    // PERCOLATES the kNN graph — at sf0.1 it chains ~1,500 of the
    // 10,000 edges into one giant high-diameter component, measured
    // 102 s of CC propagation + star fallback at bench scale — where
    // the dedup-point bar keeps components clique-shaped and CC
    // converges in 1–2 rounds. Edges are canonicalized
    // (least, greatest) + distinct (a kNN edge may exist in one
    // direction only); CC is the shared q53/q167 machinery
    // (participants-only iteration, singletons union in); canonical =
    // component min id. Honest caveat in the relation itself: the
    // graph is approximate (q176 prices its recall), so a ≥ 0.4 pair
    // the descent never surfaced is not deduped here — that
    // recall-vs-n² trade is the entire reason SemDeDup builds a graph
    // instead of scoring all pairs.
    //
    // Scale: descent as q175; past it everything is id-shaped —
    // threshold filter on the 5n edge list, CC over the dup-rate-sized
    // participant subgraph, one cluster-size window.
    Q(
      "q180_graph_semdedup",
      // the dedup bar is DERIVED (r16, verdict ask #3): τ = the p99
      // edge cosine of the shipped graph itself ([[derivedCosBar]]) —
      // on this fixture it reproduces the hand-calibrated 0.47
      // (which WAS that p99, measured), and on any other corpus it
      // keeps the percolation bound by construction: at most
      // ~1% of the 5n edges can clear their own p99, so the CC
      // participant set — the 102 s failure mode's driver — is
      // bounded at any corpus, which no fixed constant can promise.
      // Exact integer selection over μcos = floor(cos·2²⁰)
      // (value-histogram + cumulative count, never a corpus-wide
      // sort), identically derived in the brq CTE here.
      s"""WITH RECURSIVE $descentDuck,
         |ge AS MATERIALIZED (SELECT v, w, cos FROM g$Rounds WHERE r <= $K),
         |mu AS (SELECT CAST(floor(cos * 1048576.0) AS BIGINT) AS m FROM ge),
         |cum AS (SELECT m, sum(c) OVER (ORDER BY m DESC) AS cc FROM (
         |          SELECT m, count(*) AS c FROM mu GROUP BY m)),
         |brq AS (SELECT CAST(max(m) AS BIGINT) AS barmu FROM cum
         |        WHERE cc >= ((SELECT count(*) + 99 FROM mu) // 100)),
         |sem AS (SELECT DISTINCT least(v, w) AS a_id, greatest(v, w) AS b_id
         |        FROM ge
         |        WHERE cos >= (SELECT barmu / 1048576.0 FROM brq)),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM sem
         |          UNION ALL SELECT b_id, a_id FROM sem),
         |walk(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM qn
         |  UNION
         |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
         |cc AS (SELECT id AS vec_id, min(lbl) AS cluster_id FROM walk GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.vec_id, cc.cluster_id, sizes.cluster_size,
         |  cc.vec_id = cc.cluster_id AS is_canonical
         |FROM cc JOIN sizes USING (cluster_id)""".stripMargin) { (s, d) =>
      val e = Similarity.nv(s, d).select("vec_id", "qe", "nrm")
        .transform(CacheScope.scoped)
      // checkpointLast = false (r17): the scoped persist below is this
      // graph's ONE materialization (filled by derivedCosBar's action,
      // read back by semDedup) — the old last-round checkpoint wrote
      // the same rows a second time one action earlier. The plan under
      // the persist is a single roundTopK layer over the checkpointed
      // g1 leaf, so the r15 nested-analysis blowup can't reappear.
      val g = descend(e, planes = planesFor(e.count()), k = KBuild,
          checkpointLast = false).last
        .filter(col("rank") <= K)
        .transform(CacheScope.scoped) // bar derivation + the dedup read it
      semDedup(e, g, tau = derivedCosBar(g))
    },

    // ── Graph consumer 3: HNSW-style layered beam search (q181) ────────
    // The third declared consumer (SURVEY §8's q175 row: SemDeDup,
    // label propagation, HNSW seeding — q180/q179/q181 now all
    // registered): the descent graph as the base layer of a layered
    // index, three hash-nested routing layers above it, bounded
    // deterministic beam search for the sampled query batch. See the
    // layered-index block comment above [[fanoutFor]] for the design
    // and its scale argument; q182 prices the truncation.
    Q(
      "q181_hnsw_search",
      s"""WITH $descentDuck,
         |$hnswDuck
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT qid AS query_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, w) AS rank,
         |    w AS neighbor_id,
         |    floor(cos * 1000000.0) / 1000000.0 AS cosine
         |  FROM fin) WHERE rank <= $K""".stripMargin) { (s, d) =>
      val (beam, _, _) = hnswBeam(s, d)
      beam.filter(col("rank") <= K)
        .select(col("qid").as("query_id"), col("rank"),
          col("w").as("neighbor_id"),
          expr("floor(cos * 1000000.0D) / 1000000.0D").as("cosine"))
    },

    // ── q182: HNSW beam recall audit (the q176 pattern) ────────────────
    // Exact top-K ground truth for the SAME query sample vs the beam's
    // top-K — what the layered routing + bounded hops give up against
    // the exact answer, the number an operator tunes ef/hops against.
    // The exact stage is |Q|·n ≈ 500·n scored pairs (the automatic
    // modulus), never n².
    Q(
      "q182_hnsw_recall",
      s"""WITH $descentDuck,
         |$hnswDuck,
         |bt AS (SELECT qid, w FROM (
         |  SELECT qid, w, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, w) AS r
         |  FROM fin) WHERE r <= $K),
         |ex AS (SELECT v, w FROM (
         |  SELECT q.qid AS v, b.vec_id AS w,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY CAST(${Similarity.idotD("q.qqe", "b.qe")} AS DOUBLE) / (q.qnrm * b.nrm) DESC,
         |               b.vec_id) AS r
         |  FROM qq q JOIN qn b ON b.vec_id <> q.qid) WHERE r <= $K)
         |SELECT CAST(count(DISTINCT ex.v) AS BIGINT) AS n_queries,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(bt.w) AS BIGINT) AS n_found,
         |  floor(count(bt.w) * 1000000.0 / count(*)) / 1000000.0 AS recall
         |FROM ex LEFT JOIN bt ON bt.qid = ex.v AND bt.w = ex.w""".stripMargin) { (s, d) =>
      val (beam, queries, e) = hnswBeam(s, d)
      val bt = beam.filter(col("rank") <= K).select("qid", "w")
      val ex = queries
        .join(e.select(col("vec_id").as("w"), col("qe").as("wqe"),
          col("nrm").as("wnrm")), col("w") =!= col("qid"))
        .select(col("qid").as("v"), col("w"),
          expr("cast(vec_ldot(qqe, wqe) as double) / (qnrm * wnrm)").as("cos"))
        .withColumn("r", row_number().over(
          Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
        .filter(col("r") <= K)
        .select("v", "w")
      ex.join(bt.withColumn("hit", lit(1)),
          col("qid") === col("v") && bt("w") === ex("w"), "left")
        .agg(
          countDistinct(col("v")).as("n_queries"),
          count(lit(1)).as("n_exact"),
          count(col("hit")).as("n_found"),
          expr("floor(count(hit) * 1000000.0D / count(1)) / 1000000.0D")
            .as("recall"))
    }
  )

  /** Corpus-derived SemDeDup bar (r15 verdict ask #3): τ = the p99
    * edge cosine of the graph it will filter — the same number the
    * hand calibration measured and froze as 0.47 on this fixture
    * (q180's registration note), now computed from the corpus so a
    * different embedding space moves the bar instead of silently
    * mis-flagging. The derivation doubles as a SCALE guarantee the
    * constant never gave: at most ~1% of the 5n edges can clear
    * their own p99, so the CC participant subgraph — the driver of
    * the measured 102 s percolation failure — is bounded at any
    * corpus size by construction.
    *
    * Exact and portable: selection runs on μcos = floor(cos·2²⁰)
    * through a value histogram + cumulative count over ≤ 2²¹ distinct
    * values (never a corpus-wide sort; the un-partitioned window
    * ranks the HISTOGRAM, not the edges), and `cos ≥ barμ/2²⁰` is
    * exactly `μcos ≥ barμ` (barμ integer, 2²⁰ a power of two), so
    * both engines cut the identical edge set. Falls back to the
    * frozen 0.47 on an empty graph.
    */
  private[graft] def derivedCosBar(g: DataFrame, k: Int = K): Double = {
    // ONE action (r16 opt round): the edge total Σc rides the same
    // single-partition window pass as the descending cumulative count,
    // so the p99 selection no longer needs its own count() job first.
    // Exact integers throughout — identical bar to the two-action form
    // (k99 = (Σc + 99) div 100 over the same value histogram); an
    // empty graph yields a NULL max → the 0.47 fallback.
    val mu = g.filter(col("rank") <= k)
      .select(expr("cast(floor(cos * 1048576.0D) as bigint)").as("m"))
    val row = mu.groupBy("m").agg(count(lit(1)).as("c"))
      .withColumn("cc", sum("c").over(Window.orderBy(col("m").desc)))
      .withColumn("tot", sum("c").over(
        Window.orderBy(col("m").desc).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cc") >= expr("(tot + 99) div 100"))
      .agg(max("m")).first()
    if (row.isNullAt(0)) 0.47 else row.getLong(0) / 1048576.0
  }

  /** SemDeDup decision relation from a graph `g(v, w, cos, …)` over a
    * corpus `e(vec_id, …)`: edges at cos ≥ `tau` (canonicalized +
    * distinct — a kNN edge may exist in one direction only), connected
    * components over the participant subgraph, singletons unioned in,
    * canonical = component min id. The graph and the bar are BOTH
    * dials — q180 pins (shipped graph, [[derivedCosBar]]'s p99 edge
    * cosine, ≈0.47 on this fixture; q38's pairwise 0.4 screen is
    * rejected there because a bar inside the random-cosine tail
    * percolates the graph — see the q180 registration comment);
    * KnnGraphSpec drives each dial independently, including the 0.4
    * setting.
    */
  private[graft] def semDedup(e: DataFrame, g: DataFrame, tau: Double): DataFrame = {
    // localCheckpoint, not persist (r15, measured): the descent's
    // logical plan REPLICATES each prior round's subtree ~6× per round
    // (b = g ∪ rev appears in left/right/twoHop/direct), so every
    // action that merely REFERENCES the graph re-pays Catalyst
    // analysis of the whole nested tree — cache substitution happens
    // only after analysis. CC runs ~10 such actions (seed, per-round
    // checkpoint + changed-count, final), each read ~15 s of pure
    // analysis at sf0.1 on a 35-edge relation (85 s total). The
    // checkpoint truncates the dedup-rate-sized edge list to a
    // LogicalRDD leaf and every downstream plan goes constant-size —
    // the same reason components() checkpoints its label rounds.
    val sem = CacheScope.checkpointed(
      g.filter(col("cos") >= tau)
        .select(least(col("v"), col("w")).as("a_id"),
          greatest(col("v"), col("w")).as("b_id"))
        .distinct())
    val participants = sem.select(col("a_id").as("doc_id"))
      .union(sem.select(col("b_id").as("doc_id"))).distinct()
    val singletons = e.select(col("vec_id").as("doc_id"))
      .join(participants, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    graft.ext.Clustering.components(participants, sem)
      .unionByName(singletons)
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy("cluster_id")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }
}
