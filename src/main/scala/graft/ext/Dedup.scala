package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, Q, Tables}

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table: exact (hash groupBy), n-gram Jaccard similarity
  * join, MinHash+LSH near-dup, and SimHash with pigeonhole banding.
  *
  * All hash math goes through [[Portable]] (md5-derived 60-bit ints) so
  * every stage — signatures, bands, candidate pairs — is reproduced
  * bit-for-bit by the DuckDB oracle: even the *approximate* operators
  * are verified exactly, not rows-only.
  *
  * Scale design (100 TB): the expensive primitive is the shingle
  * self-join. Exact Jaccard (q35) is quadratic in group fan-out and is
  * kept as the ground-truth baseline; MinHash-LSH (q36) is the scale
  * path — candidate generation touches only (doc × k) signature rows,
  * shuffles on (i, minhash) buckets, and verifies exact Jaccard on the
  * (tiny) candidate set. SimHash (q37) banding is the pigeonhole-exact
  * variant: 7 bands over 60 bits guarantee every pair within hamming
  * distance 6 collides in ≥1 band, so blocking loses nothing. Skewed
  * buckets (a band value shared by many docs — boilerplate clusters)
  * are handled by [[Skew.selfPairs]]: buckets past a hot threshold are
  * salted across reducers, result-identically; AQE skew-join still
  * covers moderate residual cases.
  */
object Dedup {

  /** Distinct word 5-gram shingles per doc, as 60-bit md5 hashes:
    * (doc_id, sh: BIGINT). Hashing INSIDE the shingle generator means
    * every downstream join/count moves 8-byte longs, never shingle
    * text — at 100 TB the shingle self-joins shuffle ~4× less. Both
    * engines compute the same md5, so hash collisions (the usual 2^-60
    * non-concern) are identical on both sides and comparisons stay
    * exact. Docs under 5 tokens have no 5-gram shingle and are
    * filtered — matching DuckDB's empty `range(1, len-3)`, where
    * Spark's `sequence(1, n)` with n < 1 would generate a *descending*
    * sequence and crash `slice(_toks, 0, 5)`.
    */
  private[ext] def shingles5(s: SparkSession, d: String): DataFrame =
    shinglesOf(Tables.documents(s, d))

  /** [[shingles5]] over an arbitrary (doc_id, text, …) relation —
    * static or STREAMING (narrow projection + explode, no state), with
    * `keep` columns carried through (e.g. the event-time column a
    * streaming consumer needs for its watermark).
    */
  private[graft] def shinglesOf(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val head = col("doc_id") +: keep.map(col)
    // The codegen shingles60 kernel replaces the portable expression
    // chain (split → transform(h60 ∘ array_join ∘ slice) →
    // array_distinct): bit-identical output (KernelSpec pins it), but
    // the HOF chain evaluates interpreted per shingle and was ~3/4 of
    // q127's ×1000 task-seconds (round-10 stage profile; A/B in
    // SCALE.md). Docs under 5 tokens hash to null and explode to no
    // rows — the old size(_toks) >= 5 filter, for free.
    graft.functions.VectorExpressions.register(docs.sparkSession)
    docs.select(head :+ explode(expr("shingles60(text)")).as("sh"): _*)
  }

  /** DuckDB mirror of [[shingles5]] as a CTE body. */
  private[ext] val shingles5Duck =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 3),
       |         i -> ${Portable.h60Duck("array_to_string(ts[i:i+4], ' ')")}))) AS sh FROM tok)""".stripMargin

  /** DuckDB mirror of the MinHash candidate chain (follows
    * [[shingles5Duck]]): CTEs hh, sig, cand(a_id, b_id) — the oracle
    * side of [[minhashPairs]]'s signature + banding stages, shared by
    * q36/q62/q66.
    */
  private[ext] val minhashCandDuck =
    s"""hh AS (SELECT doc_id, sh AS h FROM sh),
       |sig AS (SELECT doc_id, i, min(${Portable.permDuck("h", "i")}) AS mh
       |        FROM hh, generate_series(0, 15) g(i) GROUP BY doc_id, i),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM sig a JOIN sig b
       |           ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB mirror of [[containmentPairs]] as a CTE chain (follows
    * [[shingles5Duck]]) ending in `contp(a_id, b_id, n_shared,
    * n_small, contained_id, cont_ppm)` — shared by q104 and the q127
    * ledger.
    */
  private[ext] val containmentDuck =
    """cdf AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
      |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN cdf ON cdf.sh = s.sh
      |         WHERE cdf.df <= 100),
      |rn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM rare GROUP BY doc_id),
      |rc AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(count(*) AS BIGINT) AS c
      |       FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |       GROUP BY 1, 2),
      |contp AS (SELECT a_id, b_id, rc.c AS n_shared, least(na.n, nb.n) AS n_small,
      |            CASE WHEN na.n <= nb.n THEN a_id ELSE b_id END AS contained_id,
      |            CAST(rc.c * 1000000 // least(na.n, nb.n) AS BIGINT) AS cont_ppm
      |          FROM rc JOIN rn na ON na.doc_id = a_id JOIN rn nb ON nb.doc_id = b_id
      |          WHERE rc.c * 1000000 // least(na.n, nb.n) >= 800000)""".stripMargin

  /** Stop-shingle-filtered exact containment pairs (q104's core; also
    * the q127 ledger's third drop rule). The df ≤ 100 cap excludes hot
    * boilerplate shingles by a broadcast ANTI-join — "rare" is nearly
    * the whole stream, so joining it IN would shuffle corpus-sized
    * build and probe sides, while the hot list is a handful of rows
    * whose size shrinks as the cap rises.
    */
  private def containmentPairs(s: SparkSession, d: String): DataFrame =
    containmentPairsOf(shingles5(s, d))

  /** [[containmentPairs]] over a caller-supplied shingle relation — the
    * q127 ledger persists ONE shingle pass and feeds it to both the
    * near-dup verify and the containment stage instead of re-running
    * the text scan + shingle kernel per consumer.
    */
  private def containmentPairsOf(sh: DataFrame): DataFrame = {
    val dfc = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val rare = sh.join(broadcast(dfc.filter(col("df") > 100).select("sh")),
      Seq("sh"), "left_anti").transform(CacheScope.scoped)
    val n = rare.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val c = rare.as("x")
      .join(rare.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("c"))
    c.join(n.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(n.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("cont_ppm", expr("(c * 1000000) div least(na, nb)"))
      .filter(col("cont_ppm") >= 800000)
      .select(col("a_id"), col("b_id"), col("c").as("n_shared"),
        expr("least(na, nb)").as("n_small"),
        expr("CASE WHEN na <= nb THEN a_id ELSE b_id END").as("contained_id"),
        col("cont_ppm"))
  }

  /** DuckDB mirror of the exact-Jaccard threshold over `cand`,
    * yielding pairs(a_id, b_id) at ≥ 0.5 — the tail of
    * [[minhashPairs]] without the jaccard output column (q62/q66).
    */
  private[ext] val minhashPairsThresholdDuck =
    """sarr AS (SELECT doc_id, list(sh) AS arr, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a_id, b_id
      |          FROM (SELECT a_id, b_id, sa.n AS na, sb.n AS nb,
      |                  len(list_intersect(sa.arr, sb.arr)) AS c
      |                FROM cand
      |                JOIN sarr sa ON sa.doc_id = a_id
      |                JOIN sarr sb ON sb.doc_id = b_id)
      |          WHERE c * 1.0 / (na + nb - c) >= 0.5)""".stripMargin

  /** DuckDB mirror of the whole SimHash banding pipeline as a CTE body
    * ending in `spairs(a_id, b_id, hamming)` — the q37 oracle, shared
    * with q53's connected-components oracle.
    */
  private[ext] val simhashPairsDuck =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
       |         i -> array_to_string(ts[i:i+2], ' '))) AS sh FROM tok),
       |th AS (SELECT doc_id, ${Portable.h60Duck("sh")} AS h FROM sh),
       |bits AS (SELECT doc_id, i AS j,
       |           SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
       |         FROM th, generate_series(0, 59) g(i) GROUP BY doc_id, i),
       |fp AS (SELECT doc_id, SUM(CASE WHEN sgn >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS fp
       |       FROM bits GROUP BY doc_id),
       |bands AS (SELECT doc_id, fp, b,
       |            CASE WHEN b < 4 THEN (fp >> (9 * b)) & 511
       |                 ELSE (fp >> (36 + 8 * (b - 4))) & 255 END AS bv
       |          FROM fp, generate_series(0, 6) g(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |                a.fp AS afp, b.fp AS bfp
       |         FROM bands a JOIN bands b
       |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |spairs AS (SELECT a_id, b_id, bit_count(xor(afp, bfp)) AS hamming
       |           FROM cand WHERE bit_count(xor(afp, bfp)) <= 6)""".stripMargin

  /** DuckDB CTE chain computing the 128-bit SimHash fingerprint of
    * every document in `src`: per-chunk relation `fp(doc_id, c, w)`
    * plus its pivot `wide(doc_id, c0..c3)`. The shared front half of
    * [[simhash128PairsDuck]] (src = the full `documents` table) and
    * of q171's recall audit (src = the h60-sampled corpus). Chunk c of
    * the fingerprint is md5-digest bytes [4c, 4c+4) big-endian,
    * reconstructed here from hex substrings so every value stays
    * inside DuckDB's signed BIGINT.
    */
  private[ext] def simhash128WideDuck(src: String): String = {
    def w(c: Int) = s"('0x' || substr(md5(sh), ${8 * c + 1}, 8))::BIGINT"
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM $src),
       |sh3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
       |          i -> array_to_string(ts[i:i+2], ' '))) AS sh FROM tok),
       |ch AS (SELECT doc_id, c, CASE c WHEN 0 THEN ${w(0)} WHEN 1 THEN ${w(1)}
       |         WHEN 2 THEN ${w(2)} ELSE ${w(3)} END AS w
       |       FROM sh3, generate_series(0, 3) g(c)),
       |bits AS (SELECT doc_id, c, j,
       |           SUM(CASE WHEN (w >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
       |         FROM ch, generate_series(0, 31) gj(j) GROUP BY doc_id, c, j),
       |fp AS (SELECT doc_id, c,
       |         CAST(SUM(CASE WHEN sgn >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS w
       |       FROM bits GROUP BY doc_id, c),
       |wide AS (SELECT doc_id,
       |           max(CASE WHEN c = 0 THEN w END) AS c0,
       |           max(CASE WHEN c = 1 THEN w END) AS c1,
       |           max(CASE WHEN c = 2 THEN w END) AS c2,
       |           max(CASE WHEN c = 3 THEN w END) AS c3
       |         FROM fp GROUP BY doc_id)""".stripMargin
  }

  /** The production 8 × 16-bit banding over [[simhash128WideDuck]]'s
    * `fp` relation, as CTEs `bands` and `cand(a_id, b_id)` — shared by
    * [[simhash128PairsDuck]] and q171 (whose recall question is
    * exactly "which exact pairs does `cand` miss").
    */
  private[ext] val simhash128CandDuck: String =
    s"""bands AS (SELECT doc_id, b, (w >> (16 * (b % 2))) & 65535 AS bv
       |          FROM fp, generate_series(0, 7) gb(b) WHERE fp.c = b // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bands a JOIN bands b
       |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB mirror of the 128-bit SimHash banding pipeline
    * ([[simhash128Pairs]]) as a CTE body ending in
    * `spairs(a_id, b_id, hamming)` at hamming ≤ 12 — the q166 oracle,
    * shared with the production-width cluster family's
    * connected-components oracles (q167/q168/q169, the same
    * composition role [[simhashPairsDuck]] plays for q53/q67/q160).
    */
  private[ext] val simhash128PairsDuck: String =
    s"""${simhash128WideDuck("documents")},
       |$simhash128CandDuck,
       |spairs AS (SELECT a_id, b_id, hamming
       |           FROM (SELECT a_id, b_id,
       |                   CAST(bit_count(xor(wa.c0, wb.c0)) + bit_count(xor(wa.c1, wb.c1))
       |                      + bit_count(xor(wa.c2, wb.c2)) + bit_count(xor(wa.c3, wb.c3))
       |                     AS BIGINT) AS hamming
       |                 FROM cand JOIN wide wa ON wa.doc_id = a_id
       |                           JOIN wide wb ON wb.doc_id = b_id)
       |           WHERE hamming <= 12)""".stripMargin

  val all: Seq[Q] = Seq(
    // ── Exact dedup: content-hash groupBy, keep-first survivor ─────────
    // The exchange carries (16-byte hash, id), never the document text
    // — at 100 TB that is the difference between shuffling hashes and
    // shuffling the corpus. Map-side partial aggregation reduces
    // duplicates before the exchange. (The oracle states the same
    // result as a window over text; md5 collisions are the usual
    // 2^-64-scale non-concern.)
    Q(
      "q34_exact_dedup",
      """SELECT doc_id, md5(text) AS content_hash, n_copies
        |FROM (SELECT doc_id, text,
        |        count(*) OVER (PARTITION BY text) AS n_copies,
        |        min(doc_id) OVER (PARTITION BY text) AS keep_id
        |      FROM documents)
        |WHERE doc_id = keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
        .groupBy("content_hash")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
    },

    // ── Exact n-gram Jaccard similarity join (ground truth) ────────────
    Q(
      "q35_ngram_jaccard",
      s"""WITH $shingles5Duck,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000.0) / 1000000.0 AS jaccard
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = a_id
         |JOIN sz sb ON sb.doc_id = b_id
         |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5""".stripMargin) { (s, d) =>
      val sh = shingles5(s, d)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("c"))
      pairs
        .join(broadcast(sz.as("sa")), col("sa.doc_id") === col("a_id"))
        .join(broadcast(sz.as("sb")), col("sb.doc_id") === col("b_id"))
        .filter(expr("c * 1.0D / (sa.n + sb.n - c) >= 0.5D"))
        .select(col("a_id"), col("b_id"),
          expr("floor((c * 1.0D / (sa.n + sb.n - c)) * 1000000.0D) / 1000000.0D").as("jaccard"))
    },

    // ── 128-bit SimHash near-dup pairs: the subquadratic banding form ──
    // The round-11 ×1000 profile measured q37/q53's banding stage
    // QUADRATIC in corpus size (10.7× task-sec on 3.33× data): exact
    // hamming ≤ 6 recall on 60 bits forces ≥ 7 bands (pigeonhole), so
    // band values are 8–9 bits — ~3,300 bucket keys total, buckets grow
    // linearly with the corpus, pair enumeration quadratically. This is
    // the WIDE-fingerprint production form: 128-bit SimHash (the full
    // md5 digest, 4×32-bit chunks) banded 8 × 16 bits — pigeonhole-
    // exact recall at hamming ≤ 7 with ~200× fewer expected collisions
    // per band value (2¹⁶ vs 2⁸·⁵), pushing the quadratic term past
    // 10⁹ docs. Emitted pairs are thresholded at hamming ≤ 12 (the
    // similarity level of q37's 6/60); recall is GUARANTEED ≤ 7 and
    // banding-best-effort in (7, 12] — the oracle mirrors the banded
    // candidate set exactly, so both engines under-recall identically
    // and the comparison stays exact (the q164 pattern: the registered
    // form IS the production form, its contract documented).
    Q(
      "q166_simhash128_pairs",
      s"""WITH $simhash128PairsDuck
         |SELECT a_id, b_id, hamming FROM spairs""".stripMargin) { (s, d) =>
      simhash128Pairs(s, d)
    },

    // ── 128-bit banding recall audit (the q73 pattern, r12 ask #2) ─────
    // q166's recall is pigeonhole-exact only ≤ 7 of its hamming ≤ 12
    // emission window; recall in (7, 12] is banding-best-effort. This
    // is the guardrail that MEASURES it — the number the 8 × 16 band
    // choice is tuned against, machine-checked every round the way q73
    // audits MinHash blocking. Ground truth = ALL pairs at hamming
    // ≤ 12, enumerated not by an all-pairs join but by a FINER
    // pigeonhole blocking (16 bands × 8 bits: any pair within hamming
    // 15 shares a full band, so ≤ 12 recall is exact by construction)
    // over the q164 sample dial — a deterministic content-hash doc
    // sample (h60(text) % 2 here; production picks the modulus for a
    // target audit size, retaining ~1/M² of pairs at rate 1/M). Both
    // pair sets are dup-rate-sized, the audit join is tiny; the output
    // splits the window so the pigeonhole guarantee itself is a
    // machine-checked row (guaranteed_le7 must read recall = 1.0 —
    // Cluster128Spec asserts it).
    Q(
      "q171_simhash128_recall",
      s"""WITH docs0 AS (SELECT doc_id, text FROM documents
         |               WHERE ${Portable.h60Duck("text")} % 2 = 0),
         |${simhash128WideDuck("docs0")},
         |exact AS (SELECT a_id, b_id, hamming FROM (
         |            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |              CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
         |                 + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
         |                AS BIGINT) AS hamming
         |            FROM wide a JOIN wide b ON a.doc_id < b.doc_id)
         |          WHERE hamming <= 12),
         |$simhash128CandDuck,
         |flags AS (SELECT e.a_id, e.b_id,
         |            CASE WHEN e.hamming <= 7 THEN 'guaranteed_le7'
         |                 ELSE 'best_effort_8_12' END AS win,
         |            CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |          FROM exact e LEFT JOIN cand c
         |            ON c.a_id = e.a_id AND c.b_id = e.b_id)
         |SELECT win, count(*) AS n_exact,
         |  count(CASE WHEN hit = 1 THEN 1 END) AS n_found,
         |  count(CASE WHEN hit = 0 THEN 1 END) AS n_missed,
         |  floor(count(CASE WHEN hit = 1 THEN 1 END) * 1000000.0 / count(*)) / 1000000.0 AS recall
         |FROM flags GROUP BY win""".stripMargin) { (s, d) =>
      simhash128Recall(s, d)
    },

    // ── Exact Jaccard on a content-hash sample (the 100 TB audit form) ─
    // q35 is the ground truth but ships doc-sized shingle arrays through
    // its verify exchange — at corpus scale it runs ONLY on a sample
    // (SCALE.md; the q73 pattern: the audit is dup-rate-sized, the knob
    // is the sample). This registers that sampled form so the scale
    // posture is machine-checked: a DETERMINISTIC content-hash doc
    // sample (portable md5-derived h60(text) mod 2 here; the modulus is
    // the 100 TB dial — doc sampling rate 1/M retains ~1/M² of pairs, so
    // production picks M for a target audit size) feeds the identical
    // exact-Jaccard machinery. Sampling on CONTENT (not doc_id) keeps
    // exact twins together deliberately: a replicated doc either brings
    // its whole duplicate class into the audit or none of it.
    Q(
      "q164_ngram_jaccard_sample",
      s"""WITH docs0 AS (SELECT * FROM documents
         |              WHERE ${Portable.h60Duck("text")} % 2 = 0),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM docs0),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 3),
         |         i -> ${Portable.h60Duck("array_to_string(ts[i:i+4], ' ')")}))) AS sh FROM tok),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000.0) / 1000000.0 AS jaccard
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = a_id
         |JOIN sz sb ON sb.doc_id = b_id
         |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5""".stripMargin) { (s, d) =>
      val sampled = Tables.documents(s, d)
        .filter(expr(s"${Portable.h60Spark("text")} % 2 = 0"))
      val sh = shinglesOf(sampled)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("c"))
      pairs
        .join(broadcast(sz.as("sa")), col("sa.doc_id") === col("a_id"))
        .join(broadcast(sz.as("sb")), col("sb.doc_id") === col("b_id"))
        .filter(expr("c * 1.0D / (sa.n + sb.n - c) >= 0.5D"))
        .select(col("a_id"), col("b_id"),
          expr("floor((c * 1.0D / (sa.n + sb.n - c)) * 1000000.0D) / 1000000.0D").as("jaccard"))
    },

    // ── MinHash + LSH near-dup (the scale path) ────────────────────────
    // k=16 min-hashes, bands of 1 row (candidate = any signature
    // collision), exact-Jaccard verification on candidates only. On this
    // corpus recall vs q35 is 100% (measured at sf0.01 and sf0.1); at
    // 100 TB the candidate join shuffles (i, minhash) buckets instead of
    // raw shingles.
    Q(
      "q36_minhash_lsh",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |${jaccardVerifyDuck("a_id", "b_id")}""".stripMargin) { (s, d) =>
      minhashPairs(s, d)
    },

    // ── Near-dup rate per source (the drop-this-crawl signal) ──────────
    // The reporting op a curation team reads before dropping or
    // down-weighting a source: per source, the fraction of docs that
    // participate in at least one verified near-dup pair. Reuses the
    // full q36 machinery; the extra work is one dup-participant
    // distinct (dup-rate-sized) and one narrow (doc_id, source) join —
    // no hint, the dup set can be a double-digit corpus fraction on a
    // mirror-heavy crawl, so AQE must be free to pick a hash join.
    Q(
      "q66_dup_rate_by_source",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |$minhashPairsThresholdDuck,
         |dup AS (SELECT a_id AS doc_id FROM pairs UNION SELECT b_id FROM pairs)
         |SELECT source, count(*) AS n_docs,
         |  count(dup.doc_id) AS n_dup_docs,
         |  floor(count(dup.doc_id) * 1000000.0 / count(*)) / 1000000.0 AS dup_rate
         |FROM documents dd LEFT JOIN dup ON dup.doc_id = dd.doc_id
         |GROUP BY source""".stripMargin) { (s, d) =>
      val pairs = minhashPairs(s, d).select("a_id", "b_id")
      val dup = pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id")))
        .distinct()
      Tables.documents(s, d).select("doc_id", "source")
        .join(dup.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(col("hit")).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          expr("floor(n_dup_docs * 1000000.0D / n_docs) / 1000000.0D").as("dup_rate"))
    },

    // ── Near-dup source-provenance matrix (who duplicates whom) ────────
    // q66 says HOW MUCH each source duplicates; this says AGAINST WHOM:
    // verified near-dup pairs mapped to an order-normalized
    // (source, source) matrix — the audit that separates "crawl dumps
    // mirroring each other" (off-diagonal mass between two crawls)
    // from "a source that repeats itself" (diagonal mass), which imply
    // different fixes (drop one dump vs dedup within the source).
    // least/greatest normalization makes the matrix upper-triangular
    // without caring which doc got the smaller id.
    //
    // Scale: pairs are dup-rate-sized; the two provenance joins probe
    // the narrow (doc_id, source) projection with AQE free to pick the
    // build side (a mirror-heavy crawl can make the pair set a
    // double-digit corpus fraction — the q66 reasoning); the matrix
    // aggregate is |sources|² rows at most. pair_share_ppm stays in
    // BIGINT: pairs·10⁶ wraps only past 9.2e12 verified pairs, which
    // would mean the corpus is mostly duplicates.
    Q(
      "q157_dup_source_matrix",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |$minhashPairsThresholdDuck,
         |ps AS (SELECT least(da.source, db.source) AS src_a,
         |         greatest(da.source, db.source) AS src_b
         |       FROM pairs
         |       JOIN documents da ON da.doc_id = a_id
         |       JOIN documents db ON db.doc_id = b_id),
         |g AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM ps GROUP BY src_a, src_b),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM g)
         |SELECT src_a, src_b, n_pairs,
         |  n_pairs * 1000000 // total AS pair_share_ppm,
         |  src_a = src_b AS within_source
         |FROM g, t""".stripMargin) { (s, d) =>
      val pairs = minhashPairs(s, d).select("a_id", "b_id")
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val g = pairs
        .join(src.as("da"), col("da.doc_id") === col("a_id"))
        .join(src.as("db"), col("db.doc_id") === col("b_id"))
        .select(least(col("da.source"), col("db.source")).as("src_a"),
          greatest(col("da.source"), col("db.source")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
      val t = g.agg(sum("n_pairs").as("total"))
      g.crossJoin(broadcast(t))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          expr("n_pairs * 1000000L div total").as("pair_share_ppm"),
          (col("src_a") === col("src_b")).as("within_source"))
    },

    // ── LSH recall audit: MinHash candidates vs exact ground truth ─────
    // The guardrail a dedup pipeline runs on a sample before trusting
    // its LSH knobs (k, bands, threshold) at full scale: compare the
    // MinHash-LSH pair set against the exact-Jaccard ground truth and
    // report missed pairs. On a 100 TB corpus this runs over a
    // stratified sample (q49's operator) — here the whole test corpus
    // IS the sample. Both pair sets are dup-rate-sized, so the audit
    // join is tiny regardless of corpus size; the cost is the two
    // generators it composes. Counts stay BIGINT via count(CASE),
    // recall is floor-truncated off integer counts — engine-exact.
    Q(
      "q73_lsh_recall_audit",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |exact AS (SELECT a_id, b_id
         |          FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
         |                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |                GROUP BY 1, 2) p
         |          JOIN sz sa ON sa.doc_id = a_id
         |          JOIN sz sb ON sb.doc_id = b_id
         |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
         |flags AS (SELECT e.a_id, e.b_id,
         |            CASE WHEN cand.a_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |          FROM exact e LEFT JOIN cand
         |            ON cand.a_id = e.a_id AND cand.b_id = e.b_id)
         |SELECT count(*) AS n_exact,
         |  count(CASE WHEN hit = 1 THEN 1 END) AS n_found,
         |  count(CASE WHEN hit = 0 THEN 1 END) AS n_missed,
         |  floor(count(CASE WHEN hit = 1 THEN 1 END) * 1000000.0 / count(*)) / 1000000.0 AS recall
         |FROM flags""".stripMargin) { (s, d) =>
      val sh = shingles5(s, d).transform(CacheScope.scoped)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val exact = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("c"))
        .join(broadcast(sz.as("sa")), col("sa.doc_id") === col("a_id"))
        .join(broadcast(sz.as("sb")), col("sb.doc_id") === col("b_id"))
        .filter(expr("c * 1.0D / (sa.n + sb.n - c) >= 0.5D"))
        .select("a_id", "b_id")
      // candidate generation only (pre-verify): recall of the BLOCKING
      // stage is the knob being audited — verification never loses pairs
      val cand = minhashCandidates(s, d).withColumn("hit", lit(1))
      exact.join(cand, Seq("a_id", "b_id"), "left")
        .agg(
          count(lit(1)).as("n_exact"),
          count(expr("CASE WHEN hit = 1 THEN 1 END")).as("n_found"),
          count(expr("CASE WHEN hit IS NULL THEN 1 END")).as("n_missed"),
          expr("floor(count(CASE WHEN hit = 1 THEN 1 END) * 1000000.0D / count(1)) / 1000000.0D")
            .as("recall"))
    },

    // ── SimHash near-dup with pigeonhole banding ───────────────────────
    // 60-bit fingerprint over word 3-gram features (frequency-weighted);
    // 7 bands (4×9 bits + 3×8 bits) guarantee any pair with hamming ≤ 6
    // shares a full band (pigeonhole), so the blocked join is exactly
    // equivalent to the quadratic scan at that threshold. The classic
    // operating point (Manku et al., WWW'07, uses k=3 on 64 bits):
    // wider bands keep candidate fan-out ~bucket-uniform; the looser
    // matches that a higher threshold would admit are covered by the
    // exact-Jaccard operators (q35/q36). Bit sums are integers — no
    // fp-order issues.
    Q(
      "q37_simhash",
      s"""WITH $simhashPairsDuck
         |SELECT a_id, b_id, hamming FROM spairs""".stripMargin) { (s, d) =>
      // Fingerprints come from the one-pass codegen kernel
      // [[graft.functions.Simhash60]] — bit-identical to the oracle's
      // explode → 60-signed-sum formulation (integer votes are
      // order-free), but as a narrow per-row projection: no shingle
      // explode, no 60-column aggregation, no exchange before banding.
      simhashPairs(s, d)
    },

    // ── Incremental near-dup: new batch vs existing corpus ─────────────
    // The PRODUCTION shape of dedup: a daily ingest batch is checked
    // against the already-ingested corpus, not the corpus against
    // itself. Batch = the last 50 doc_ids — an ABSOLUTE batch width
    // ("yesterday's ingest"), deliberately not a fraction of the
    // corpus: a decile-style cut would make the broadcast side grow
    // with the table and OOM executors at 100×, whereas a fixed-width
    // batch keeps the broadcast O(batch) by construction no matter how
    // large the corpus grows. The batch's minhash signatures BROADCAST
    // against the corpus signature relation — the corpus never
    // shuffles, which is what makes the daily job O(batch) instead of
    // O(corpus): at 100 TB the corpus side is a bucketed signature
    // table and the batch side is small by definition (PlanShapeSpec
    // asserts the broadcast build side is the batch filter). Exact-
    // Jaccard verify on candidates only, arrays built via the q36
    // semi-join pattern.
    Q(
      "q58_incremental_neardup",
      s"""WITH $shingles5Duck,
         |mx AS (SELECT max(doc_id) - 49 AS cut FROM documents),
         |hh AS (SELECT doc_id, sh AS h FROM sh),
         |sig AS (SELECT doc_id, i, min(${Portable.permDuck("h", "i")}) AS mh
         |        FROM hh, generate_series(0, 15) g(i) GROUP BY doc_id, i),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS dup_of
         |         FROM sig b, sig c, mx
         |         WHERE b.i = c.i AND b.mh = c.mh
         |           AND b.doc_id >= mx.cut AND c.doc_id < mx.cut),
         |${jaccardVerifyDuck("new_id", "dup_of")}""".stripMargin) { (s, d) =>
      graft.functions.VectorExpressions.register(s)
      val docs = Tables.documents(s, d)
      // pure-plan scalar: the cut broadcasts as a 1-row dimension
      // instead of a driver collect
      val cut = docs.agg(expr("max(doc_id) - 49").as("cut"))
      val sig = docs
        .select(col("doc_id"), expr("minhash16(text)").as("sig"))
        .filter(col("sig").isNotNull)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("i", "mh")))
        .crossJoin(broadcast(cut))
        .transform(CacheScope.scoped)
      val bsig = sig.filter(col("doc_id") >= col("cut")).select("doc_id", "i", "mh")
      val csig = sig.filter(col("doc_id") < col("cut")).select("doc_id", "i", "mh")
      val cand = broadcast(bsig.as("b"))
        .join(csig.as("c"), col("b.i") === col("c.i") && col("b.mh") === col("c.mh"))
        .select(col("b.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
        .distinct()
        .transform(CacheScope.scoped)
      jaccardVerify(cand, shingles5(s, d), "new_id", "dup_of")
    },

    // ── Duplicated-span audit: cross-doc exact substring coverage ──────
    // The span-level view of exact duplication (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"):
    // instead of whole-doc near-dup verdicts, measure HOW MUCH of each
    // doc is covered by word-5-gram spans that also appear in some
    // OTHER doc — the signal behind substring-level dedup, which
    // removes boilerplate passages from otherwise-unique documents.
    // POSITIONAL shingles (doc_id, i, hash) — not [[shingles5]]'s
    // distinct set — because coverage needs positions; overlapping dup
    // spans [i, i+5) are merged by the classic sorted-interval trick
    // (cover(i) = 5 for the first hit, else min(5, i − prev)), a
    // per-doc window whose partition is bounded by doc length. Scale:
    // exchanges carry (doc_id, i, 8-byte hash); the cross-doc test is
    // count(DISTINCT doc_id) ≥ 2 per hash (two-phase distinct agg on
    // the hash exchange); the dup-set join gets NO broadcast hint —
    // on a boilerplate-heavy corpus the duplicated-shingle set is a
    // material fraction of total shingle mass, so AQE must be free to
    // pick a hash join. All math is integer; the fraction is
    // floor-truncated off BIGINT counts.
    Q(
      "q78_duplicated_spans", {
        val h = Portable.h60Duck("array_to_string(ts[i:i+4], ' ')")
        s"""WITH tokp AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |psh AS (SELECT doc_id,
           |          unnest(range(1, len(ts) - 3)) AS i,
           |          unnest(list_transform(range(1, len(ts) - 3), i -> $h)) AS sh
           |        FROM tokp),
           |dup AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd
           |                        FROM psh GROUP BY sh) WHERE nd >= 2),
           |hits AS (SELECT p.doc_id, p.i FROM psh p JOIN dup USING (sh)),
           |cov AS (SELECT doc_id, i,
           |          CASE WHEN lag(i) OVER w IS NULL THEN 5
           |               ELSE least(5, i - lag(i) OVER w) END AS cover
           |        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
           |agg AS (SELECT doc_id, count(*) AS n_dup_pos,
           |               CAST(sum(cover) AS BIGINT) AS dup_tokens
           |        FROM cov GROUP BY doc_id),
           |nt AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
           |SELECT nt.doc_id, nt.n_tokens,
           |  COALESCE(n_dup_pos, CAST(0 AS BIGINT)) AS n_dup_pos,
           |  COALESCE(dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
           |  floor(COALESCE(dup_tokens, CAST(0 AS BIGINT)) * 1000000.0 / nt.n_tokens)
           |    / 1000000.0 AS dup_token_frac
           |FROM nt LEFT JOIN agg ON agg.doc_id = nt.doc_id""".stripMargin
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.VectorExpressions.register(s)
      // shingles60_all: the positional compiled kernel (all windows, in
      // order — posexplode recovers i); <5-token docs hash to null and
      // explode to no rows, replacing the size guard.
      val psh = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(expr("shingles60_all(text)")).as(Seq("pos", "sh")))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("sh"))
        .transform(CacheScope.scoped) // two consumers: the dup-set count and the hits join
      val dup = psh.groupBy("sh")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("sh")
      val cov = psh.join(dup, "sh")
        .select(col("doc_id"), col("i"))
        .withColumn("prev", lag("i", 1).over(
          Window.partitionBy("doc_id").orderBy("i")))
        .withColumn("cover", expr(
          "CASE WHEN prev IS NULL THEN 5 ELSE least(5, i - prev) END"))
      val agg = cov.groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_pos"), sum("cover").as("dup_tokens"))
      Tables.documents(s, d)
        .select(col("doc_id"), expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"))
        .join(agg.withColumnRenamed("doc_id", "a_id"),
          col("doc_id") === col("a_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_pos"), expr("CAST(0 AS BIGINT)")).as("n_dup_pos"),
          coalesce(col("dup_tokens"), expr("CAST(0 AS BIGINT)")).as("dup_tokens"))
        .withColumn("dup_token_frac",
          expr("floor(dup_tokens * 1000000.0D / n_tokens) / 1000000.0D"))
    },

    // ── Normalized ("near-exact") dedup: canonicalize, then hash ───────
    // The pass every pipeline runs between exact dedup (q34) and fuzzy
    // dedup (q36): case folds, punctuation strips, and whitespace
    // collapses so trivial variants (re-encoded mirrors, shouting
    // reposts, tracker-suffixed copies) hash together. The synthetic
    // corpus has no such variants, so the query PLANTS deterministic
    // ones (q54's fixture discipline — every doc_id ≡ 0 mod 10 gains
    // an uppercased, punctuation-suffixed copy, identical on both
    // engines) and must cluster each with its original: n_variants = 2
    // exactly for planted groups, 1 elsewhere, and no accidental
    // merges. Same exchange discipline as q34: the groupBy moves
    // (16-byte hash, id), never text. Normalization is ASCII-safe on
    // this corpus; production Unicode folding (NFC/casefold) slots
    // into the same seam.
    Q(
      "q88_normalized_dedup",
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |                UNION ALL
        |                SELECT doc_id + 1000000, upper(text) || '!!'
        |                FROM documents WHERE doc_id % 10 = 0),
        |n AS (SELECT doc_id,
        |        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |            ' +', ' ', 'g'))) AS norm_hash
        |      FROM corpus)
        |SELECT min(doc_id) AS doc_id, norm_hash, count(*) AS n_variants
        |FROM n GROUP BY norm_hash""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text"))
        .union(docs.filter(expr("doc_id % 10 = 0"))
          .select(expr("doc_id + 1000000").as("doc_id"),
            expr("concat(upper(text), '!!')").as("text")))
      corpus
        .select(col("doc_id"),
          md5(expr("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))"))
            .as("norm_hash"))
        .groupBy("norm_hash")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_variants"))
        .select("doc_id", "norm_hash", "n_variants")
    },

    // ── Edit-distance verification of near-dup pairs ───────────────────
    // The character-level precision check a curation team runs on the
    // MinHash pair set before bulk-deleting: shingle Jaccard is
    // word-level and can rate two docs similar that differ in every
    // word's spelling detail; Levenshtein is the orthogonal
    // character-level lens. Both engines ship the classic unit-cost DP
    // (`levenshtein`), an integer — so even this "fuzzy" metric is
    // hash-exact. Cost discipline: the O(len²) DP and the text fetch
    // run ONLY on the dup-rate-sized verified pair set (never pairwise
    // over the corpus); the two doc joins are pair-probes into the
    // corpus scan, AQE-broadcast while the pair set fits. edit_sim =
    // (maxlen − lev)/maxlen, floor-truncated off integers.
    Q(
      "q91_edit_distance_verify",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |$minhashPairsThresholdDuck
         |SELECT a_id, b_id,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
         |  floor((greatest(length(da.text), length(db.text))
         |         - levenshtein(da.text, db.text)) * 1000000.0
         |        / greatest(length(da.text), length(db.text))) / 1000000.0 AS edit_sim
         |FROM pairs
         |JOIN documents da ON da.doc_id = a_id
         |JOIN documents db ON db.doc_id = b_id""".stripMargin) { (s, d) =>
      val pairs = minhashPairs(s, d).select("a_id", "b_id")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      pairs
        .join(docs.select(col("doc_id").as("a_id"), col("text").as("ta")), Seq("a_id"))
        .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          expr("cast(levenshtein(ta, tb) as bigint)").as("lev"),
          expr("floor((greatest(length(ta), length(tb)) - levenshtein(ta, tb)) * 1000000.0D" +
            " / greatest(length(ta), length(tb))) / 1000000.0D").as("edit_sim"))
    },

    // ── Asymmetric containment dedup (subset/superset detection) ───────
    // The dup class Jaccard-threshold pipelines MISS: a short doc fully
    // quoted inside a long one has tiny Jaccard (|A∩B|/|A∪B| shrinks
    // with the size gap) but containment |A∩B|/|A| ≈ 1. Algorithm:
    // exact pair generation through the shingle inverted index, with a
    // document-frequency cap (df ≤ 100) dropping "stop shingles" —
    // boilerplate n-grams that (a) would make the self-join quadratic
    // in the hottest bucket and (b) are precisely the shared text you
    // DON'T want counted as containment evidence. The df cap bounds
    // per-shingle join fanout at df²/2 BY CONSTRUCTION — no skew
    // handling needed, unlike minhash banding — and containment is
    // measured over each doc's rare-shingle set. All math is integer
    // (count ratios in floor-ppm), so pairs are hash-exact. Emits
    // pairs whose smaller side is ≥ 80% contained in the larger.
    Q(
      "q104_containment",
      s"""WITH $shingles5Duck,
         |$containmentDuck
         |SELECT a_id, b_id, n_shared, n_small, contained_id, cont_ppm
         |FROM contp""".stripMargin) { (s, d) =>
      containmentPairs(s, d)
    },

    // ── LSH precision audit (q73's other half) ─────────────────────────
    // q73 measures what the banding stage MISSES (recall); this
    // measures what it WASTES — the fraction of banded candidates that
    // survive exact-Jaccard verification. Together they are the IR
    // metric pair that tunes the band/permutation trade: more bands →
    // recall up, precision (and verify cost) down. Both counts come
    // from the relations the pipeline already builds (candidates +
    // verified pairs — dup-rate-sized); precision is one floor-ppm
    // integer division in a single-row summary.
    Q(
      "q126_lsh_precision",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |$minhashPairsThresholdDuck
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_verified,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cand)
         |    - (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_false_positives,
         |  CAST((SELECT count(*) FROM pairs) * 1000000
         |       // (SELECT count(*) FROM cand) AS BIGINT) AS precision_ppm"""
        .stripMargin) { (s, d) =>
      val cand = minhashCandidates(s, d).transform(CacheScope.scoped)
      val verified = jaccardVerify(cand, shingles5(s, d), "a_id", "b_id")
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val nv = verified.agg(count(lit(1)).as("n_verified"))
      nc.crossJoin(nv).select(
        col("n_candidates"), col("n_verified"),
        (col("n_candidates") - col("n_verified")).as("n_false_positives"),
        expr("n_verified * 1000000 div n_candidates").as("precision_ppm"))
    },

    // ── Curation ledger: per-source fate of every document ─────────────
    // The dedup passes composed into the report a data owner reads:
    // each doc gets ONE fate — dropped by exact dedup (non-first copy
    // of an md5 group), else by near-dup (larger id of a verified
    // MinHash pair), else by containment (≥ 80% subset), else
    // retained — and the ledger counts fates per source. Precedence
    // makes the books balance: fates partition the corpus, so per-
    // source fate counts sum to doc counts BY CONSTRUCTION (no doc
    // double-counted across passes). All three drop lists are
    // relations the pipeline already computes, joined as dup-rate-
    // sized left probes onto the doc spine.
    Q(
      "q127_curation_ledger",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |$minhashPairsThresholdDuck,
         |$containmentDuck,
         |dx AS (SELECT doc_id FROM (
         |         SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
         |                  ORDER BY doc_id) AS rr FROM documents)
         |       WHERE rr > 1),
         |dn AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
         |dc AS (SELECT DISTINCT contained_id AS doc_id FROM contp),
         |lab AS (SELECT d.source,
         |          CASE WHEN dx.doc_id IS NOT NULL THEN 'exact'
         |               WHEN dn.doc_id IS NOT NULL THEN 'near'
         |               WHEN dc.doc_id IS NOT NULL THEN 'contained'
         |               ELSE 'retained' END AS fate
         |        FROM documents d
         |        LEFT JOIN dx ON dx.doc_id = d.doc_id
         |        LEFT JOIN dn ON dn.doc_id = d.doc_id
         |        LEFT JOIN dc ON dc.doc_id = d.doc_id)
         |SELECT source, fate, CAST(count(*) AS BIGINT) AS n
         |FROM lab GROUP BY source, fate""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val dx = docs
        .withColumn("rr", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
        .filter(col("rr") > 1).select("doc_id")
      // ONE shingle pass serves the near-dup verify AND the
      // containment stage (each would otherwise re-run the text scan
      // + shingle kernel). Size-gated EAGER: five consumers land in
      // concurrent AQE stages, and at soak scale pre-filling keeps
      // them pure cache readers (min-of-N 85.0 → 76.0 s at ×300);
      // at bench scale the barrier costs more than the races it
      // prevents — both regimes measured, SCALE.md round 9
      val sh = shingles5(s, d).transform(CacheScope.eagerAbove(64L << 20))
      // NOT pruned by dx (round 10, measured negative): CASE precedence
      // makes pairs with b_id ∈ dx dead weight, and anti-joining them
      // out before the candidate distinct is result-identical — but on
      // a copies-scaled corpus the dup fraction is scale-invariant, so
      // the anti-join over the banding output cost +41 s at ×1000 for
      // 0 shuffle saved (SCALE.md round-10 A/B). A copy-heavy REAL
      // corpus (the case the prune exists for) is the one shape our
      // generator cannot produce; the prune stays documented, not paid.
      val cand = minhashCandidates(s, d).transform(CacheScope.scoped)
      val dn = jaccardVerify(cand, sh, "a_id", "b_id")
        .select(col("b_id").as("doc_id")).distinct()
      val dc = containmentPairsOf(sh)
        .select(col("contained_id").as("doc_id")).distinct()
      docs.select("doc_id", "source")
        .join(dx.withColumn("x", lit(1)), Seq("doc_id"), "left")
        .join(dn.withColumn("nn", lit(1)), Seq("doc_id"), "left")
        .join(dc.withColumn("cc", lit(1)), Seq("doc_id"), "left")
        .select(col("source"),
          expr("CASE WHEN x IS NOT NULL THEN 'exact'" +
            " WHEN nn IS NOT NULL THEN 'near'" +
            " WHEN cc IS NOT NULL THEN 'contained'" +
            " ELSE 'retained' END").as("fate"))
        .groupBy("source", "fate")
        .agg(count(lit(1)).as("n"))
    },

    // ── Dedup threshold calibration sweep ──────────────────────────────
    // The tuning table behind q36's fixed 0.5: what would the corpus
    // lose at each candidate Jaccard threshold? One exact-verify pass
    // scores EVERY MinHash candidate as integer ppm (no threshold
    // filter), then a 4-row threshold dimension fans each scored pair
    // into the thresholds it clears — conditional work is
    // candidates × 4, all dup-rate-sized; the corpus contributes one
    // count. Per threshold: surviving pair count, docs dropped under
    // the keep-smallest-id rule (q127's convention), and the corpus
    // drop rate in ppm. This is the curve a data owner reads before
    // committing a dedup config; at 100 TB it runs on the same
    // candidates q36 already generates.
    Q(
      "q148_threshold_sweep",
      s"""WITH $shingles5Duck,
         |$minhashCandDuck,
         |sarr AS (SELECT doc_id, list(sh) AS arr, count(*) AS n FROM sh GROUP BY doc_id),
         |scored AS (SELECT a_id, b_id,
         |    CAST(c * 1000000 // (na + nb - c) AS BIGINT) AS jppm
         |  FROM (SELECT a_id, b_id, sa.n AS na, sb.n AS nb,
         |          len(list_intersect(sa.arr, sb.arr)) AS c
         |        FROM cand
         |        JOIN sarr sa ON sa.doc_id = a_id
         |        JOIN sarr sb ON sb.doc_id = b_id)),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |th AS (SELECT unnest([300000, 500000, 700000, 900000]) AS threshold_ppm)
         |SELECT th.threshold_ppm,
         |  CAST(count(s.a_id) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT s.b_id) AS BIGINT) AS n_dropped,
         |  CAST(CAST(count(DISTINCT s.b_id) AS BIGINT) * 1000000 // nd.n_docs
         |       AS BIGINT) AS drop_ppm
         |FROM th CROSS JOIN nd LEFT JOIN scored s ON s.jppm >= th.threshold_ppm
         |GROUP BY th.threshold_ppm, nd.n_docs""".stripMargin) { (s, d) =>
      val cand = minhashCandidates(s, d).transform(CacheScope.scoped)
      val candIds = cand.select(col("a_id").as("doc_id"))
        .union(cand.select(col("b_id")))
      val sarr = shingles5(s, d)
        .join(candIds, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(collect_list("sh").as("arr"), count(lit(1)).as("n"))
      val scored = cand
        .join(sarr.as("sa"), col("sa.doc_id") === col("a_id"))
        .join(sarr.as("sb"), col("sb.doc_id") === col("b_id"))
        .withColumn("c", expr("cast(size(array_intersect(sa.arr, sb.arr)) as bigint)"))
        .select(col("a_id"), col("b_id"),
          expr("c * 1000000 div (sa.n + sb.n - c)").as("jppm"))
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val th = s.range(0, 4).select(
        (col("id") * 200000 + 300000).cast("long").as("threshold_ppm"))
      th.crossJoin(broadcast(nd))
        .join(scored, col("jppm") >= col("threshold_ppm"), "left")
        .groupBy("threshold_ppm", "n_docs")
        .agg(
          count(col("a_id")).as("n_pairs"),
          countDistinct(col("b_id")).as("n_dropped"))
        .select(col("threshold_ppm"), col("n_pairs"), col("n_dropped"),
          expr("n_dropped * 1000000 div n_docs").as("drop_ppm"))
    },

    // ── Sub-document (segment-level) corpus dedup + reconstruction ─────
    // The C4/RefinedWeb-class rewrite: dedup at a granularity FINER than
    // the document — repeated boilerplate spans are dropped corpus-wide
    // (keep-first by (doc_id, pos)) while the rest of each document
    // survives, then documents are REBUILT from their surviving
    // segments. Unit here is non-overlapping 10-token segments (the
    // corpus has no sentence boundaries). Output per doc: segment
    // counts before/after and the md5 of the reconstructed text, so the
    // oracle certifies the rebuilt corpus byte-for-byte, not just the
    // drop counts. Scale shape: the keep-DECISION exchange carries
    // (16-byte md5, id, pos) — never text; segment text crosses the
    // wire exactly once, in the decision→segment join that forms the
    // rewrite output itself, and the rebuild groupBy is keyed on doc_id
    // (text volume ≤ corpus size by construction). An all-duplicate doc
    // reconstructs to the empty string (md5('') both engines).
    Q(
      "q149_segment_dedup",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (SELECT doc_id,
        |    unnest(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
        |      i -> {'pos': i, 'seg': array_to_string(ws[(i*10+1):(i*10+10)], ' ')})) AS u
        |  FROM ws),
        |seg2 AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.seg AS seg FROM segs),
        |dec AS (SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM seg2),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs
        |        FROM seg2 GROUP BY doc_id),
        |kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |           md5(string_agg(seg, ' ' ORDER BY pos)) AS kept_hash
        |         FROM dec WHERE rn = 1 GROUP BY doc_id)
        |SELECT t.doc_id, t.n_segs,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  COALESCE(k.kept_hash, md5('')) AS kept_hash
        |FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id""".stripMargin) { (s, d) =>
      val segs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ws) / 10.0) as int) - 1)," +
            " i -> array_join(slice(ws, i * 10 + 1, 10), ' '))")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("seg"))
      val hashed = segs
        .select(col("doc_id"), col("pos"), col("seg"),
          md5(col("seg")).as("h"))
        .transform(CacheScope.scoped) // two consumers: the keep decision and the rebuild join
      // keep-first DECISION over hashes only: min (doc_id, pos) per
      // segment value — the exchange never carries segment text
      val keep = hashed
        .groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        .select(col("h").as("kh"), col("k.doc_id").as("kdoc"),
          col("k.pos").as("kpos"))
      val tot = hashed.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      // the one text-bearing exchange: surviving segments join back to
      // their text to form the rewritten corpus
      val keptSegs = hashed.join(keep,
        col("h") === col("kh") && col("doc_id") === col("kdoc") &&
          col("pos") === col("kpos"))
      val kept = keptSegs
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          sort_array(collect_list(struct(col("pos"), col("seg")))).as("ps"))
        .select(col("doc_id"), col("n_kept"),
          md5(expr("array_join(transform(ps, p -> p.seg), ' ')")).as("kept_hash"))
      tot.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_hash"), md5(lit(""))).as("kept_hash"))
    })

  /** Exact-Jaccard verification of a candidate-pair relation against
    * the shingle stream `sh` — shared by q36 and q58. One groupBy
    * builds per-doc hash arrays; candidate pairs fetch two arrays and
    * `array_intersect` locally (codegen'd built-in) — no shingle-level
    * self-join, and set semantics are safe because [[shingles5]] is
    * distinct per doc. Arrays exist ONLY for docs in some candidate
    * pair (semi-join before the collect_list groupBy), so the array
    * exchange scales with the dup rate, not the corpus; the candidate
    * subtree appears twice in the DAG, which is why callers persist
    * their (tiny) `cand` before passing it in.
    */
  private def jaccardVerify(
      cand: DataFrame, sh: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    val candIds = cand.select(col(leftCol).as("doc_id"))
      .union(cand.select(col(rightCol)))
    val sarr = sh.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list("sh").as("arr"), count(lit(1)).as("n"))
    cand
      .join(sarr.as("sa"), col("sa.doc_id") === col(leftCol))
      .join(sarr.as("sb"), col("sb.doc_id") === col(rightCol))
      // Size-ratio upper bound in its ZERO-COST position: J(A,B) ≤
      // min(n)/max(n) (c ≤ min, union ≥ max), so a pair with
      // 2·min(n) < max(n) can never clear 0.5 — skip its
      // array_intersect. Kept as a row filter AFTER the array joins:
      // the round-10 A/B (SCALE.md) measured the structural form — a
      // corpus-wide count relation pruning pairs BEFORE the array
      // fetch — as +18 s at ×1000 with 0 shuffle saved, because this
      // generator's near-dup candidates are size-matched (prune rate
      // ≈ 0). Here the bound costs one codegen'd comparison and pays
      // only on size-skewed corpora. Result-identical either way.
      .filter(expr("least(sa.n, sb.n) * 2 >= greatest(sa.n, sb.n)"))
      .withColumn("c", expr("cast(size(array_intersect(sa.arr, sb.arr)) as bigint)"))
      .filter(expr("c * 1.0D / (sa.n + sb.n - c) >= 0.5D"))
      .select(col(leftCol), col(rightCol),
        expr("floor((c * 1.0D / (sa.n + sb.n - c)) * 1000000.0D) / 1000000.0D").as("jaccard"))
  }

  /** DuckDB mirror of [[jaccardVerify]] — the trailing CTE + SELECT
    * over an in-scope `cand(leftCol, rightCol)` and `sh`. (The oracle
    * builds arrays for all docs; oracle cost is irrelevant.)
    */
  private def jaccardVerifyDuck(leftCol: String, rightCol: String): String =
    s"""sarr AS (SELECT doc_id, list(sh) AS arr, count(*) AS n FROM sh GROUP BY doc_id)
       |SELECT $leftCol, $rightCol,
       |  floor((c * 1.0 / (na + nb - c)) * 1000000.0) / 1000000.0 AS jaccard
       |FROM (SELECT $leftCol, $rightCol, sa.n AS na, sb.n AS nb,
       |        len(list_intersect(sa.arr, sb.arr)) AS c
       |      FROM cand
       |      JOIN sarr sa ON sa.doc_id = $leftCol
       |      JOIN sarr sb ON sb.doc_id = $rightCol)
       |WHERE c * 1.0 / (na + nb - c) >= 0.5""".stripMargin

  /** The MinHash BLOCKING stage alone: one-pass `minhash16` signatures
    * → skew-aware banding join → distinct (unverified) candidate
    * pairs. Signatures come from the codegen kernel — bit-identical to
    * the oracle's explode → 16 wide-agg mins (MIN is order-free and
    * duplicate-insensitive), with no shingle explode or aggregation
    * exchange: 128 signature bytes per doc leave the scan. The
    * signature persist matters: [[Skew.selfPairs]] consumes its input
    * three times (hot-bucket probe + both join sides), so an
    * unpersisted signature relation re-runs the text scan + kernel per
    * consumer. Shared by [[minhashPairs]] and q73's recall audit.
    */
  private def minhashCandidates(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), expr("minhash16(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("i", "mh")))
      .transform(CacheScope.scoped)
    Skew.selfPairs(sig, "doc_id", Seq("i", "mh")).distinct()
  }

  /** The full MinHash-LSH near-dup pipeline — [[minhashCandidates]]
    * plus exact-Jaccard verification at the 0.5 threshold, returning
    * verified (a_id, b_id, jaccard) pairs. Shared by q36, q62, q66.
    * The (tiny) candidate set persists because [[jaccardVerify]]
    * consumes it twice.
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val cand = minhashCandidates(s, d).transform(CacheScope.scoped)
    jaccardVerify(cand, shingles5(s, d), "a_id", "b_id")
  }

  /** The full Spark-side 128-bit SimHash pair pipeline over
    * `documents` — the PRODUCTION-width near-dup pair relation (q166),
    * shared with the production cluster family (q167/q168/q169) the
    * way [[simhashPairs]] feeds q37/q53/q67/q160. Same shape as the
    * 60-bit form — fused fingerprint kernel, band explosion,
    * skew-aware banding self-join — but 8 × 16-bit bands over the
    * 128-bit fingerprint: ~200× fewer expected collisions per band
    * value than the 60-bit form's 8–9-bit bands, which demotes the
    * banding join from the measured corpus-quadratic (SCALE.md r11:
    * 10.7× task-sec on 3.33× data, 83% of q67 at ×1000) to below the
    * linear fingerprint scan. Pairs are exact-hamming-verified ≤ 12;
    * recall is pigeonhole-guaranteed ≤ 7 and banding-best-effort in
    * (7, 12] — the oracle mirrors the banded candidate set exactly, so
    * both engines under-recall identically. Persists the fingerprint
    * stage (32 B/doc) for the banding join's two sides.
    */
  private[graft] def simhash128Pairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val fp = simhash128Chunks(Tables.documents(s, d))
    simhash128Verified(simhash128Bands(fp, nBands = 8, bandBits = 16))
  }

  /** q171: recall of the production 8 × 16 banding against the exact
    * hamming ≤ 12 pair set on the h60-sampled corpus, split by window
    * (≤ 7 = pigeonhole-guaranteed, must read 1.0; 8–12 = banding
    * best-effort, the measured number). The exact side is enumerated
    * by a FINER pigeonhole blocking (16 × 8: exact at hamming ≤ 15)
    * instead of an all-pairs join, so the ground-truth stage itself
    * stays subquadratic — the sample modulus remains the only 100 TB
    * dial. One cached fingerprint relation feeds both bandings; the
    * verified candidate set is a subset of the exact set by
    * construction (both filter hamming ≤ 12), so found = |cand ∩
    * exact| = |cand| per window and precision is structurally 1.
    */
  private[graft] def simhash128Recall(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val sampled = Tables.documents(s, d)
      .filter(expr(s"${Portable.h60Spark("text")} % 2 = 0"))
    val fp = simhash128Chunks(sampled)
    val exact = simhash128Verified(simhash128Bands(fp, nBands = 16, bandBits = 8))
    val cand = simhash128Verified(simhash128Bands(fp, nBands = 8, bandBits = 16))
      .select(col("a_id"), col("b_id")).withColumn("hit", lit(1))
    exact
      .withColumn("win",
        when(col("hamming") <= 7, lit("guaranteed_le7"))
          .otherwise(lit("best_effort_8_12")))
      .join(cand, Seq("a_id", "b_id"), "left")
      .groupBy("win")
      .agg(
        count(lit(1)).as("n_exact"),
        count(expr("CASE WHEN hit = 1 THEN 1 END")).as("n_found"),
        count(expr("CASE WHEN hit IS NULL THEN 1 END")).as("n_missed"),
        expr("floor(count(CASE WHEN hit = 1 THEN 1 END) * 1000000.0D / count(1)) / 1000000.0D")
          .as("recall"))
  }

  /** The cached (doc_id, c0..c3) 128-bit fingerprint chunk relation of
    * a documents relation (32 B/doc) — the shared front half of
    * [[simhash128Pairs]] and q171's recall audit. Callers must have
    * registered the kernel ([[graft.functions.VectorExpressions]]).
    */
  private[graft] def simhash128Chunks(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), expr("simhash128(text)").as("fp"))
    .filter(col("fp").isNotNull)
    .select(col("doc_id") +: (0 until 4).map(c =>
      col("fp").getItem(c).as(s"c$c")): _*)
    .transform(CacheScope.scoped)

  /** Disjoint equal-width band projection of the 128-bit chunk
    * relation: `nBands` bands of `bandBits` bits (nBands · bandBits =
    * 128). 8 × 16 is the production blocking (pigeonhole-exact recall
    * at hamming ≤ 7); 16 × 8 is q171's ground-truth blocking
    * (pigeonhole-exact at hamming ≤ 15 ⊇ the ≤ 12 emission window,
    * so it can serve as the exact pair enumerator on a sampled corpus
    * without an all-pairs join).
    */
  private[graft] def simhash128Bands(
      fp: DataFrame, nBands: Int, bandBits: Int): DataFrame = {
    require(nBands * bandBits == 128, s"bad banding: $nBands x $bandBits")
    val perChunk = 32 / bandBits
    val chunkOf = (0 until 4).map { c =>
      val hi = (c + 1) * perChunk
      if (c == 3) s"ELSE c3" else s"WHEN b < $hi THEN c$c"
    }.mkString(" ")
    fp.select(col("doc_id") +: (0 until 4).map(c => col(s"c$c")) :+
        explode(expr(s"sequence(0, ${nBands - 1})")).as("b"): _*)
      .withColumn("bv", expr(
        s"shiftright(CASE $chunkOf END, $bandBits * (b % $perChunk)) " +
          s"& ${(1L << bandBits) - 1}"))
  }

  /** Skew-aware banding self-join + exact-hamming verification ≤ 12
    * over a [[simhash128Bands]] projection (any width): emits the
    * distinct verified pair relation (a_id, b_id, hamming).
    */
  private[graft] def simhash128Verified(bands: DataFrame): DataFrame =
    Skew.selfPairs(bands, "doc_id", Seq("b", "bv"),
        payloadCols = (0 until 4).map(c => s"c$c"))
      .select(col("a_id"), col("b_id"),
        expr("cast(bit_count(a_c0 ^ b_c0) + bit_count(a_c1 ^ b_c1) " +
          "+ bit_count(a_c2 ^ b_c2) + bit_count(a_c3 ^ b_c3) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= 12)
      .distinct()

  /** The full Spark-side SimHash pair pipeline over `documents` —
    * shared by q37 and q53's connected components. Persists the
    * fingerprint stage (16 B/doc): the banding join's three consumers
    * re-derive bands from the cache instead of re-running the text
    * scan + simhash kernel per consumer.
    */
  private[graft] def simhashPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val fp = Tables.documents(s, d)
      .select(col("doc_id"), expr("simhash60(text)").as("fp"))
      .filter(col("fp").isNotNull)
      .transform(CacheScope.scoped)
    simhashCandidates(simhashBands(fp))
  }

  /** The 7-band projection of a (doc_id, fp) SimHash relation: 4×9-bit
    * + 3×8-bit band values covering the 60-bit fingerprint.
    */
  private[graft] def simhashBands(fp: DataFrame): DataFrame = fp
    .select(col("doc_id"), col("fp"), explode(expr("sequence(0, 6)")).as("b"))
    .withColumn("bv", expr(
      "CASE WHEN b < 4 THEN shiftright(fp, 9 * b) & 511 ELSE shiftright(fp, 36 + 8 * (b - 4)) & 255 END"))

  /** Banded near-dup pairs at hamming ≤ 6 from [[simhashBands]] output.
    * Pigeonhole-exact (any pair within hamming 6 shares ≥1 full band);
    * candidate generation goes through the skew-aware
    * [[Skew.selfPairs]], so a hot band value (boilerplate cluster,
    * near-empty docs sharing a fingerprint region) is salted across
    * reducers instead of serializing one bucket's m² pairs. The hamming
    * filter runs BEFORE the pair-dedup: bit_count per candidate row is
    * cheap codegen; distinct only shuffles survivors.
    */
  private[graft] def simhashCandidates(
      bands: DataFrame,
      hotThreshold: Int = 1024,
      salts: Int = 16): DataFrame =
    Skew.selfPairs(bands, "doc_id", Seq("b", "bv"), payloadCols = Seq("fp"),
        hotThreshold = hotThreshold, salts = salts)
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_fp ^ b_fp)").as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
}
