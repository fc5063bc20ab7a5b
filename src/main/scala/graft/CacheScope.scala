package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

/** Query-scoped cache registry (r6 VERDICT "persist-leak class").
  *
  * Registry queries persist multi-consumer intermediates (signature
  * tables, token passes) that back the *returned* lazy plan — so the
  * query function itself can never unpersist them: the cache must
  * outlive the function and die right after the caller's terminal
  * action. This object is that lifetime: every registry-path
  * `persist()` / `localCheckpoint()` routes through [[scoped]] /
  * [[checkpointed]], and every runner (Verify, Bench, Scale, specs)
  * calls [[drain]] after each query's action. RegistrySpec then holds
  * the line: after any registry query runs + drains,
  * `sparkContext.getPersistentRDDs` must be empty — a raw
  * `.persist()` added without scope registration fails the suite.
  *
  * Iterative operators (connected components, TextRank, BPE) still
  * unpersist superseded rounds *inside* the loop for working-set
  * hygiene; drain's second unpersist on those is a no-op. At 100 TB
  * the distinction matters: a leaked cached relation isn't just memory
  * pressure, it changes AQE's size estimates for later queries in the
  * same session (a cached build side flipped a join decision in r6 —
  * the q148 suite-order lesson).
  */
object CacheScope {
  private val dfs = new ConcurrentLinkedQueue[Dataset[_]]()
  private val rdds = new ConcurrentLinkedQueue[RDD[_]]()

  /** Persist `ds` for the current query scope; released at [[drain]].
    * Chain-friendly: `df.transform(CacheScope.scoped)`.
    */
  def scoped[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    dfs.add(ds)
    ds
  }

  /** [[scoped]] + an eager fill pass. With a lazy fill under AQE,
    * leaf stages materialize CONCURRENTLY, so several consumer stages
    * can hit the not-yet-built cache at once and contend on the
    * per-block compute locks mid-spill; one blocking `count()` before
    * fan-out makes every consumer stage a pure cache READER of fully
    * materialized blocks. Measured on q127 at ×300 (SCALE.md round 9):
    * min-of-N wall 85.0 → 76.0 s, and the fill becomes one attributable
    * stage (576 MB columnar for the 75M-shingle relation) instead of
    * overlapping with the verify/containment stages. Use for caches
    * with ≥2 consumers that land in different AQE stages; plain
    * [[scoped]] stays right when the first consumer strictly precedes
    * the rest.
    */
  def eager[T](ds: Dataset[T]): Dataset[T] = {
    val r = scoped(ds)
    r.count()
    r
  }

  /** [[eager]] when the relation's Catalyst size estimate clears
    * `minBytes`, else plain [[scoped]] — the size-adaptive form, same
    * decision style as Spark's own stats-gated broadcast. Round 9
    * measured both regimes (SCALE.md): at soak scale the eager fill
    * wins (q127 ×300: 85.0 → 76.0 s — contended duplicate fills hit
    * the spill path), at bench scale the blocking fill pass costs more
    * than the concurrent duplicate fills it prevents (idle threads
    * absorb them; q127 sf0.1 paid ~0.35 s for an unconditional eager).
    * The stat is the optimized plan's sizeInBytes — file-size-derived,
    * available without running anything.
    */
  def eagerAbove[T](minBytes: Long)(ds: Dataset[T]): Dataset[T] =
    if (ds.queryExecution.optimizedPlan.stats.sizeInBytes > minBytes) eager(ds)
    else scoped(ds)

  /** Eagerly localCheckpoint `df` and register the materialized blocks
    * for release at [[drain]]. `Dataset.unpersist` can't reach a
    * checkpoint's storage (it lives outside the CacheManager), so the
    * persisted RDD is found by diffing `getPersistentRDDs` around the
    * checkpoint call — runners are serialized per query, so the diff
    * is exactly the checkpoint's blocks.
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    sc.getPersistentRDDs.foreach { case (id, r) =>
      if (!before.contains(id)) rdds.add(r)
    }
    out
  }

  /** Unpersist everything registered since the last drain. Called by
    * runners after each query's terminal action; non-blocking by
    * default (block removal proceeds async, registration bookkeeping
    * is immediate). The registry bench (Bench) passes
    * `blocking = true` — outside its timed sections — so a long
    * 177-query × repeats session can never accumulate
    * pending-async-removal blocks into a later query's heap headroom
    * (r16 verdict item 1: the 32-core bench anomalies' one in-code
    * candidate mechanism; guide §5 — cached data competes with
    * execution memory).
    */
  def drain(blocking: Boolean = false): Unit = {
    var d = dfs.poll()
    while (d != null) { d.unpersist(blocking); d = dfs.poll() }
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking); r = rdds.poll() }
  }
}
