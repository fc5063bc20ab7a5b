package graft.ext

import org.apache.spark.sql.functions._
import graft.{CacheScope, Q, Tables}

/** Text-analysis operators for a large-scale training-data pipeline,
  * over the `documents` table: token counting, n-gram/stopword language
  * identification, quality scoring, and content fingerprinting.
  *
  * All four are embarrassingly parallel per-document projections — no
  * shuffle at all (narrow map over the parquet scan), so they scale
  * linearly with input splits at 100 TB. Expressions stay inside
  * whole-stage codegen (built-in string/array functions, no UDFs).
  */
object TextAnalysis {

  private[ext] val stopEn = "'the','a','of','to','and','is'"
  private val stopDe = "'der','die','das','und','ist','ein'"
  private val stopFr = "'le','la','les','et','est','un'"
  private val stopEs = "'el','los','las','es','y','un'"
  private val stopZh = "'的','是','了','在','我','有'"

  /** All candidate-language stopwords as one IN-list (q65's rule input;
    * also the streaming curation gate's).
    */
  private[graft] val stopAll = s"$stopEn,$stopDe,$stopFr,$stopEs,$stopZh"

  /** A quoted SQL IN-list as the plain comma-separated word form the
    * `text_stats` kernel takes ("'the','a'" → "the,a").
    */
  private def csv(quoted: String): String = quoted.replace("'", "")

  /** `text_stats(text, <set>)` call for a quoted stop-set — one fused
    * codegen pass per doc replacing the split/regexp_replace/HOF-filter
    * chain (KernelSpec pins ≡ to the relational form the SQL mirrors
    * keep).
    */
  private def textStats(quotedSet: String): String =
    s"text_stats(text, '${csv(quotedSet)}')"

  /** The langID classifier as a DuckDB SELECT — (doc_id, lang,
    * n_tokens, predicted_lang, best) per doc. ONE definition shared by
    * q31 (scores) and q125 (label-noise audit): an audit computed from
    * a drifted copy of the classifier would audit nothing.
    */
  private val langIdDuck = {
    s"""SELECT doc_id, lang, n_tokens,
       |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
       |       WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
       |       WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
       |       WHEN s_es >= s_zh THEN 'es'
       |       ELSE 'zh' END AS predicted_lang,
       |  greatest(s_en, s_de, s_fr, s_es, s_zh) AS best
       |FROM (SELECT doc_id, lang,
       |        len(string_split(text, ' ')) AS n_tokens,
       |        len(list_filter(string_split(text, ' '), t -> t IN ($stopEn))) AS s_en,
       |        len(list_filter(string_split(text, ' '), t -> t IN ($stopDe))) AS s_de,
       |        len(list_filter(string_split(text, ' '), t -> t IN ($stopFr))) AS s_fr,
       |        len(list_filter(string_split(text, ' '), t -> t IN ($stopEs))) AS s_es,
       |        len(list_filter(string_split(text, ' '), t -> t IN ($stopZh))) AS s_zh
       |      FROM documents)""".stripMargin
  }

  /** Spark side of [[langIdDuck]] — same columns, same tiebreak. The
    * per-language evidence scores come from the `text_stats` kernel
    * (5 fused passes) instead of 6 regex splits + 5 interpreted HOF
    * filters per doc; `n_tokens` reuses the first call's slot 0
    * (subexpression elimination computes it once).
    */
  private def langPred(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.VectorExpressions.register(s)
    def score(set: String) = s"cast(${textStats(set)}[2] as int)"
    val nToks = s"cast(${textStats(stopEn)}[0] as int)"
    Tables.documents(s, d)
      .select(
        col("doc_id"), col("lang"),
        expr(nToks).as("n_tokens"),
        expr(score(stopEn)).as("s_en"),
        expr(score(stopDe)).as("s_de"),
        expr(score(stopFr)).as("s_fr"),
        expr(score(stopEs)).as("s_es"),
        expr(score(stopZh)).as("s_zh"))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"),
        expr("""CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
               |     WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
               |     WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
               |     WHEN s_es >= s_zh THEN 'es'
               |     ELSE 'zh' END""".stripMargin).as("predicted_lang"),
        expr("greatest(s_en, s_de, s_fr, s_es, s_zh)").as("best"))
  }

  /** Gopher-rule building blocks (Rae et al. 2021 §A.1.1), ONE
    * definition for the batch funnel (q65) and the streaming gate
    * ([[graft.stream.StreamingCuration]]): the integer feature
    * projection and the (rule-name, predicate) list. Tuning a threshold
    * here changes both surfaces together — they must not drift.
    */
  private[graft] def gopherFeatures(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    docs
      .withColumn("_ts", expr(textStats(stopAll)))
      .withColumn("n_tokens", expr("cast(_ts[0] as int)"))
      // single-space-separated text: chars = length minus the
      // n_tokens-1 separators, without a second regex pass
      .withColumn("chars", expr("length(text) - (n_tokens - 1)"))
      .withColumn("punct", expr("cast(_ts[1] as int)"))
      .withColumn("stops", expr("cast(_ts[2] as int)"))
      .drop("_ts")
  }

  private[graft] val gopherRules: Seq[(String, String)] = Seq(
    "doc_length" -> "n_tokens BETWEEN 50 AND 100000",
    "mean_word_length" -> "chars BETWEEN 3 * n_tokens AND 10 * n_tokens",
    "symbol_ratio" -> "punct * 10 <= n_tokens",
    "stopword_floor" -> "stops >= 2")

  /** Shared quality-score pieces (q32's scoring + q67's survivor
    * selection): the lexical feature projection and the composite score
    * over its columns. One definition on each side keeps the two
    * queries' notion of "quality" identical by construction; the score
    * is floor-truncated at use sites (see q32's truncation note).
    */
  private[ext] val qualityFeaturesDuck =
    s"""qfeat AS (SELECT doc_id, n_chars,
       |            len(string_split(text, ' ')) AS n_tokens,
       |            length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS punct,
       |            len(list_filter(string_split(text, ' '), t -> t IN ($stopEn))) AS stops
       |          FROM documents)""".stripMargin
  private[ext] val qualityScoreDuck =
    "0.5 * least(n_chars / 200.0, 1.0)" +
      " + 0.25 * (1.0 - punct * 1.0 / n_chars)" +
      " + 0.25 * least(stops * 5.0 / n_tokens, 1.0)"
  // D-suffixed literals force DOUBLE: Spark would otherwise parse
  // `200.0` as DECIMAL and do exact decimal arithmetic where DuckDB
  // does IEEE double — same formula, different last-ulp results.
  private[ext] val qualityScoreSpark =
    "0.5D * least(n_chars / 200.0D, 1.0D)" +
      " + 0.25D * (1.0D - punct * 1.0D / n_chars)" +
      " + 0.25D * least(stops * 5.0D / n_tokens, 1.0D)"

  /** Spark mirror of [[qualityFeaturesDuck]] — a narrow per-doc
    * projection (no shuffle; the text column never leaves the scan),
    * computed by the fused `text_stats` kernel: the HOF form here was
    * q67's CPU wall at ×300 (r10 stage profile: 2,334 task-sec of
    * interpreted split/regexp/filter, ~1.5 ms/doc).
    */
  private[ext] def qualityFeatures(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), expr(textStats(stopEn)).as("_ts"))
      .select(
        col("doc_id"), col("n_chars"),
        expr("cast(_ts[0] as int)").as("n_tokens"),
        expr("cast(_ts[1] as int)").as("punct"),
        expr("cast(_ts[2] as int)").as("stops"))
  }

  val all: Seq[Q] = Seq(
    // ── Token counting: whitespace tokens + a BPE-ish regex pass ───────
    Q(
      "q30_token_stats",
      """SELECT doc_id,
        |  len(string_split(text, ' '))                     AS n_tokens,
        |  len(list_distinct(string_split(text, ' ')))      AS n_distinct,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
        |  n_chars,
        |  floor(length(text) * 10000.0 / len(string_split(text, ' '))) / 10000.0 AS avg_token_span
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"),
        expr("cast(size(array_distinct(split(text, ' '))) as bigint)").as("n_distinct"),
        expr("cast(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) as bigint)").as("n_bpe_tokens"),
        col("n_chars"),
        // floor-truncated, not round()ed — Spark half-up vs DuckDB
        // half-even diverges on exact small-rational ties (same rule as
        // q32's scores below).
        expr("floor(length(text) * 10000.0D / size(split(text, ' '))) / 10000.0D").as("avg_token_span"))
    },

    // ── Language ID: stopword-evidence scores + deterministic argmax ───
    // Heuristic langID as in CCNet/fastText-lite pipelines: score each
    // candidate language by stopword hits, argmax with a fixed tiebreak
    // order. Pure projection; the stopword sets are tiny literals.
    Q(
      "q31_lang_id",
      s"""SELECT doc_id, lang, predicted_lang,
         |  floor(best * 10000.0 / n_tokens) / 10000.0 AS confidence
         |FROM ($langIdDuck)""".stripMargin) { (s, d) =>
      langPred(s, d).select(
        col("doc_id"), col("lang"), col("predicted_lang"),
        expr("floor(best * 10000.0D / n_tokens) / 10000.0D").as("confidence"))
    },

    // ── Label-noise audit: declared-vs-predicted confusion matrix ──────
    // How dirty are the corpus's language labels? The full confusion
    // matrix of declared lang × q31's prediction (ONE definition of the
    // classifier on each side — [[langPred]]/[[langIdDuck]] — so the
    // audit can never disagree with the classifier it audits), with
    // per-row ppm shares off a window over the ≤ |langs|² matrix. The
    // matrix aggregate combine-reduces the per-doc projection; nothing
    // after it exceeds 25 rows. This is the label-quality evidence a
    // curation run uses to decide whether to trust `lang` or re-tag.
    Q(
      "q125_label_noise",
      s"""WITH pred AS ($langIdDuck),
         |m AS (SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
         |      FROM pred GROUP BY lang, predicted_lang)
         |SELECT lang, predicted_lang, n,
         |  CAST(n * 1000000 // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
         |       AS BIGINT) AS row_ppm,
         |  CASE WHEN lang = predicted_lang THEN 0 ELSE 1 END AS is_mismatch
         |FROM m""".stripMargin) { (s, d) =>
      langPred(s, d)
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("row_ppm",
          expr("n * 1000000 div sum(n) over (partition by lang)"))
        .withColumn("is_mismatch",
          expr("CASE WHEN lang = predicted_lang THEN 0 ELSE 1 END"))
    },

    // ── Quality scoring: length / punctuation / stopword ratios ────────
    // Scores are floor-truncated, not round()ed: the doubles are
    // bit-identical across engines (same op order), but round()'s
    // half-tie rule differs (Spark half-up vs DuckDB half-even) and the
    // small-rational scores here do land on exact ties. floor has no tie
    // rule, so truncation is exactly portable.
    Q(
      "q32_quality_score",
      s"""WITH $qualityFeaturesDuck
         |SELECT doc_id, n_tokens,
         |  floor(punct * 1000000.0 / n_chars) / 1000000.0  AS punct_ratio,
         |  floor(stops * 1000000.0 / n_tokens) / 1000000.0 AS stop_ratio,
         |  floor(($qualityScoreDuck) * 10000.0) / 10000.0 AS quality,
         |  CASE WHEN $qualityScoreDuck >= 0.8 THEN 'high'
         |       WHEN $qualityScoreDuck >= 0.5 THEN 'medium'
         |       ELSE 'low' END AS quality_bucket
         |FROM qfeat""".stripMargin) { (s, d) =>
      val q = qualityScoreSpark
      qualityFeatures(s, d)
        .select(
          col("doc_id"), col("n_tokens"),
          expr("floor(punct * 1000000.0D / n_chars) / 1000000.0D").as("punct_ratio"),
          expr("floor(stops * 1000000.0D / n_tokens) / 1000000.0D").as("stop_ratio"),
          expr(s"floor(($q) * 10000.0D) / 10000.0D").as("quality"),
          expr(s"CASE WHEN $q >= 0.8D THEN 'high' WHEN $q >= 0.5D THEN 'medium' ELSE 'low' END")
            .as("quality_bucket"))
    },

    // ── Content fingerprinting: md5 + min 8-gram rolling fingerprint ───
    // The min-shingle fingerprint is the winnowing-style signature used
    // for fuzzy containment; n_copies counts exact duplicates. The
    // shingle hash is Rabin-Karp (base 257 mod 2³¹−1) computed by the
    // codegen kernel [[graft.functions.ShingleMinHash]] — one fused
    // primitive loop vs the interpreted per-window HOF baseline; exact
    // integer math, so the oracle mirror is trivially identical.
    // The duplicate-count window partitions by content_md5, not text:
    // same groups (md5 collisions are the usual 2^-64 non-concern), but
    // the exchange carries 32-byte hashes + the computed columns instead
    // of the corpus text — the q34 shuffle discipline applied here.
    Q(
      "q33_fingerprint", {
        // h(s[i..i+8)) unrolled for the oracle: (((c₀·257+c₁) mod P)·257+c₂)…
        val polyDuck = (1 to 7).foldLeft("CAST(unicode(text[i]) AS BIGINT)")(
          (acc, j) => s"(($acc * 257 + unicode(text[i+$j])) % 2147483647)")
        s"""SELECT doc_id, md5(text) AS content_md5,
           |  list_min(list_transform(range(1, length(text) - 6),
           |           i -> $polyDuck)) AS fp_min8,
           |  count(*) OVER (PARTITION BY md5(text)) AS n_copies
           |FROM documents""".stripMargin
      }) { (s, d) =>
      graft.functions.VectorExpressions.register(s)
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(col("text")).as("content_md5"),
        expr("shingle_min_hash(text, 8)").as("fp_min8"))
        .withColumn("n_copies", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("content_md5")))
    },

    // ── Corpus vocabulary: global token frequencies, top-K by count ────
    // The tokenizer-building / Zipf-audit aggregate: one corpus-wide
    // token count with map-side combine (the exchange carries
    // already-reduced (token, count) rows, not token instances), then a
    // top-K over the vocabulary. The top-K is orderBy(...).limit(K),
    // which Spark plans as TakeOrderedAndProject — each partition keeps
    // its own K best rows and the driver merges K·partitions candidates
    // — NOT a global ranking window, which would funnel the entire
    // vocabulary (sublinear in corpus size per Heaps' law, but still
    // ~10⁸ rows at 100 TB) through one task's sort. Ranks are then
    // numbered over the 20 survivors — a window over K rows, constant
    // cost. The (count DESC, token) tiebreak makes the K-boundary
    // deterministic on both engines. PlanShapeSpec asserts the
    // TakeOrderedAndProject node.
    Q(
      "q56_vocabulary",
      """SELECT rank, token, n FROM (
        |  SELECT t AS token, count(*) AS n,
        |         row_number() OVER (ORDER BY count(*) DESC, t) AS rank
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY t)
        |WHERE rank <= 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(expr("split(text, ' ')")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("token"))))
        .select("rank", "token", "n")
    },

    // ── Boilerplate n-gram detection: cross-doc repeated shingles ──────
    // The template/boilerplate signal (the cross-document cousin of
    // q55's within-document repetition, cf. Lee et al. 2021's repeated
    // n-gram analysis): a shingle appearing in ≥ K distinct docs is
    // "common", and a doc's boilerplate_ratio is the fraction of its
    // shingles that are common — the filter signal for dropping
    // templated/mirrored pages. Two counting exchanges over 8-byte
    // shingle hashes (never text) with map-side combine, then one join
    // of the corpus shingle stream against the common set. NO broadcast
    // hint on that join on purpose: the df≥K set is bounded by
    // total-shingle-mass/K, which still grows with the corpus — but it
    // IS pinned to a shuffled HASH join (common as build side). Left to
    // itself Spark falls back from broadcast to sort-merge, which sorts
    // the corpus-sized shingle stream per reducer — the one disk spill
    // the ×100 soak measured (546 MB, SCALE.md r6). A hash probe never
    // sorts the stream, and its build side is the mass/K common set
    // per partition — the df-cap bound, scaled out by partition count.
    // K=3 suits the test corpus; at production scale K is the
    // boilerplate-frequency knob.
    Q(
      "q64_boilerplate_ngrams",
      s"""WITH ${Dedup.shingles5Duck},
         |common AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
         |           WHERE df >= 3),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
         |com AS (SELECT s.doc_id, count(*) AS n_common
         |        FROM sh s JOIN common c ON c.sh = s.sh GROUP BY s.doc_id)
         |SELECT doc_id, n_shingles, n_common,
         |  floor(n_common * 1000000.0 / n_shingles) / 1000000.0 AS boilerplate_ratio
         |FROM (SELECT t.doc_id, t.n_shingles,
         |        COALESCE(com.n_common, CAST(0 AS BIGINT)) AS n_common
         |      FROM tot t LEFT JOIN com ON com.doc_id = t.doc_id)""".stripMargin) { (s, d) =>
      // the shingle stream feeds three consumers (df count, per-doc
      // totals, common join) — persist the 16-byte rows, not the text
      val sh = Dedup.shingles5(s, d).transform(CacheScope.scoped)
      val common = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3).select("sh")
      val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val com = sh.join(common.hint("shuffle_hash"), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      tot.join(com.withColumnRenamed("doc_id", "c_id"),
          col("doc_id") === col("c_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_common"), expr("CAST(0 AS BIGINT)")).as("n_common"))
        .select(col("doc_id"), col("n_shingles"), col("n_common"),
          expr("floor(n_common * 1000000.0D / n_shingles) / 1000000.0D")
            .as("boilerplate_ratio"))
    },

    // ── BPE merge-pair counting (one tokenizer-fit iteration) ──────────
    // The inner loop of byte-pair-encoding tokenizer training (Sennrich
    // et al. 2016): count adjacent symbol pairs across the corpus,
    // weighted by word frequency, and rank merge candidates. Computed
    // the way real BPE trainers do — over WORD TYPES (the vocabulary)
    // with a corpus-frequency weight, not over every token instance:
    // the pair-explode touches vocab-sized data (sublinear in the
    // corpus per Heaps' law) while the corpus-sized work is one
    // map-side-combined word count. Top-20 via orderBy().limit() →
    // TakeOrderedAndProject (q56's discipline — no global ranking
    // window); rank numbering then runs over 20 rows. Weighted sums
    // CAST AS BIGINT in the oracle (DuckDB widens sum() to HUGEINT).
    Q(
      "q71_bpe_merge_pairs",
      """WITH words AS (SELECT word, count(*) AS freq
        |               FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |               GROUP BY word),
        |wpairs AS (SELECT freq,
        |             unnest(list_transform(range(1, length(word)), i -> word[i:i+1])) AS pair
        |           FROM words WHERE length(word) > 1)
        |SELECT rank, pair, n FROM (
        |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
        |  FROM (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM wpairs GROUP BY pair))
        |WHERE rank <= 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(expr("split(text, ' ')")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        // length-1 words have no pairs; the filter also dodges Spark's
        // descending sequence(1, 0) on them (DuckDB's range(1,1) is
        // empty — the engines disagree on that edge)
        .filter(length(col("word")) > 1)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("pair"))))
        .select("rank", "pair", "n")
    },

    // ── TF-IDF top terms per doc (keyword extraction, no float log) ────
    // The classic distinguishing-term signal with an ENGINE-EXACT
    // scoring twist: idf is the rational N/df instead of log(N/df) —
    // libm log need not agree across engines in the last ulp, while
    // floor(tf·N·10⁶/df) is pure BIGINT math. Overflow bound:
    // tf·N·10⁶ must stay under 2⁶³ — at N=10¹⁰ docs that caps tf at
    // ~900, so production would pre-scale the constant (qval's
    // documented trade). Shapes: one corpus-sized (doc, token) tf
    // count with map-side combine; df via a count window PARTITION BY
    // token over the tf relation — ONE exchange on token serves both
    // df and the join that a groupBy-then-join formulation would pay
    // twice for; N broadcasts as a 1-row dimension (q58's cut
    // pattern, no driver collect); per-doc top-3 is a rank-filter →
    // WindowGroupLimit, so each partition ships ≤3 rows per doc into
    // the final window exchange.
    Q(
      "q72_tfidf_terms",
      """WITH inst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM inst GROUP BY doc_id, token),
        |nn AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, token, tf,
        |             count(*) OVER (PARTITION BY token) AS df
        |           FROM tf)
        |SELECT doc_id, token, tf, df,
        |  CAST(tf * nn.n * 1000000 // df AS DOUBLE) / 1000000.0 AS score, rank
        |FROM (SELECT doc_id, token, tf, df,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY tf * nn.n * 1000000 // df DESC, token) AS rank
        |      FROM scored, nn), nn
        |WHERE rank <= 3""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n"))
      val tf = docs
        .select(col("doc_id"), explode(expr("split(text, ' ')")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
        .crossJoin(broadcast(n))
        .withColumn("iscore", expr("(tf * n * 1000000) div df"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("iscore").desc, col("token"))))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          expr("cast(iscore as double) / 1000000.0D").as("score"), col("rank"))
    },

    // ── Gopher-rule document filter with per-rule attrition funnel ─────
    // The lexical quality gate of Rae et al. 2021 §A.1.1 (the rules a
    // pipeline applies BEFORE expensive dedup/scoring), reported as the
    // attrition funnel data engineers actually read: per lang, how many
    // docs pass each rule and how many survive all of them. All rules
    // are INTEGER comparisons (ratio thresholds cross-multiplied, e.g.
    // mean word length in [3,10] as 3·n_tokens ≤ chars ≤ 10·n_tokens),
    // so the oracle is bit-exact with no float contract at all. One
    // aggregation exchange on lang; counts via count(CASE …) — BIGINT
    // on both engines (sum(CASE) would widen to HUGEINT in DuckDB).
    Q(
      "q65_gopher_filters", {
        // the rule predicates are dialect-neutral integer comparisons,
        // so the ORACLE counts reference the same gopherRules strings
        // the Spark side (and the streaming gate) compile — only the
        // feature projection needs a DuckDB mirror
        val r = gopherRules.toMap
        s"""SELECT lang, count(*) AS n_docs,
           |  count(CASE WHEN ${r("doc_length")} THEN 1 END) AS n_len_ok,
           |  count(CASE WHEN ${r("mean_word_length")} THEN 1 END) AS n_wordlen_ok,
           |  count(CASE WHEN ${r("symbol_ratio")} THEN 1 END) AS n_symbol_ok,
           |  count(CASE WHEN ${r("stopword_floor")} THEN 1 END) AS n_stop_ok,
           |  count(CASE WHEN ${gopherRules.map(_._2).mkString(" AND ")} THEN 1 END) AS n_pass
           |FROM (SELECT lang,
           |        len(string_split(text, ' ')) AS n_tokens,
           |        length(text) - (len(string_split(text, ' ')) - 1) AS chars,
           |        length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS punct,
           |        len(list_filter(string_split(text, ' '), t -> t IN ($stopAll))) AS stops
           |      FROM documents)
           |GROUP BY lang""".stripMargin
      }) { (s, d) =>
      val r = gopherRules.toMap
      gopherFeatures(Tables.documents(s, d))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          count(expr(s"CASE WHEN ${r("doc_length")} THEN 1 END")).as("n_len_ok"),
          count(expr(s"CASE WHEN ${r("mean_word_length")} THEN 1 END")).as("n_wordlen_ok"),
          count(expr(s"CASE WHEN ${r("symbol_ratio")} THEN 1 END")).as("n_symbol_ok"),
          count(expr(s"CASE WHEN ${r("stopword_floor")} THEN 1 END")).as("n_stop_ok"),
          count(expr(s"CASE WHEN ${gopherRules.map(_._2).mkString(" AND ")} THEN 1 END"))
            .as("n_pass"))
    },

    // ── Unigram-LM quality score (CCNet-style frequency filter) ────────
    // The cheap stand-in for a KenLM perplexity filter (Wenzek et al.
    // 2020's CCNet scores docs by LM perplexity; the unigram version
    // needs only corpus statistics): score each doc by the mean corpus
    // frequency of its tokens and its mass of corpus-rare tokens.
    // Unusually low mean frequency or high rare mass flags gibberish /
    // OCR noise / wrong-tokenization docs. ALL math is integer — no
    // log(): per-token relative mass rel = cf·10⁶ ∕∕ total (≤ 10⁶, so
    // tf·rel sums stay under 2⁶³ at ANY corpus size — the division
    // happens before the doc-level sum precisely so the operator has
    // no overflow bound, unlike a sum-then-divide formulation), and
    // "rare" is rel < 2000 ppm — a corpus-RELATIVE threshold, scale-
    // free where an absolute count cutoff is not. Shapes: one
    // map-side-combined (doc, token) tf count; corpus frequency via
    // sum(tf) OVER (PARTITION BY token) — ONE token exchange serves
    // both cf and the implicit join a groupBy-then-join would pay
    // twice for (q72's discipline); corpus total broadcasts as a
    // 1-row dimension. Integer sums CAST AS BIGINT in the oracle
    // (HUGEINT rule).
    Q(
      "q79_unigram_lm_score",
      """WITH inst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM inst GROUP BY doc_id, token),
        |tot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t FROM documents),
        |wf AS (SELECT doc_id, tf,
        |         CAST(sum(tf) OVER (PARTITION BY token) AS BIGINT) * 1000000 // tot.t AS rel
        |       FROM tf, tot),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |          CAST(sum(tf * rel) AS BIGINT) AS wsum,
        |          CAST(sum(CASE WHEN rel < 2000 THEN tf ELSE 0 END) AS BIGINT) AS rare
        |        FROM wf GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  wsum // n_tokens AS mean_freq_ppm,
        |  floor(rare * 1000000.0 / n_tokens) / 1000000.0 AS rare_frac
        |FROM agg""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tot = docs.agg(expr("cast(sum(size(split(text, ' '))) as bigint)").as("t"))
      docs
        .select(col("doc_id"), explode(expr("split(text, ' ')")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .withColumn("cf", sum("tf").over(Window.partitionBy("token")))
        .crossJoin(broadcast(tot))
        .withColumn("rel", expr("(cf * 1000000) div t"))
        .groupBy("doc_id")
        .agg(
          sum("tf").as("n_tokens"),
          expr("sum(tf * rel)").as("wsum"),
          expr("sum(CASE WHEN rel < 2000 THEN tf ELSE 0 END)").as("rare"))
        .select(col("doc_id"), col("n_tokens"),
          expr("wsum div n_tokens").as("mean_freq_ppm"),
          expr("floor(rare * 1000000.0D / n_tokens) / 1000000.0D").as("rare_frac"))
    },

    // ── Segmented inverted index (the retrieval-index builder) ─────────
    // Posting lists per (token, doc_id-range segment) — the Lucene-
    // style segmented layout, and the reason this op survives 100 TB:
    // an UNSEGMENTED posting list for a stopword is corpus-sized, so
    // collect_list on (token) alone OOMs one reducer per hot token.
    // Segmenting by doc_id range bounds every group at segment_size
    // docs BY CONSTRUCTION (no skew assumption — 'the' gets many
    // bounded groups instead of one unbounded one), matches how
    // segment-local indexes are actually laid out (merge/compaction
    // works segment-at-a-time), and makes the group key's cardinality
    // grow with the corpus rather than any single group. Postings are
    // distinct (token, doc) pairs — combine-reduced before the
    // exchange; the md5 of the ordered list makes the comparison
    // total (membership AND order), with min/max_doc as the seekable
    // range metadata a real segment header carries.
    Q(
      "q86_inverted_index",
      """WITH post AS (SELECT DISTINCT t AS token, doc_id
        |              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |                    FROM documents))
        |SELECT token, doc_id // 100 AS segment, count(*) AS n_postings,
        |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS postings_md5,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM post GROUP BY token, doc_id // 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("token"))
        .groupBy(col("token"), expr("doc_id div 100").as("segment"))
        .agg(
          count(lit(1)).as("n_postings"),
          md5(expr("array_join(transform(array_sort(collect_list(doc_id))," +
            " x -> cast(x as string)), ',')")).as("postings_md5"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    },

    // ── TextRank keyword scoring (PageRank over token co-occurrence) ───
    // Mihalcea & Tarau 2004: build the undirected token adjacency graph
    // (edge weight = corpus count of the adjacent pair) and rank tokens
    // by damped PageRank, d = 0.85, 8 fixed iterations. The iteration
    // is the canonical distributed shape — rank state is VOCABULARY-
    // sized (sublinear in corpus, Heaps' law) and each round is one
    // equi-join of the static (edge, out-weight) relation against the
    // rank vector plus one keyed aggregation; the corpus itself is
    // touched exactly once to build edges. Each round localCheckpoints
    // (same lineage-truncation discipline as Clustering.components —
    // 8 stacked shuffles would otherwise replay from round 0 on any
    // retry and blow the planner's stack at scale). All arithmetic is
    // integer micro-rank: contribution = (17·r·w) div (20·ow) — exactly
    // floor(0.85·r·w/ow) — so partial aggregation composes exactly and
    // both engines produce bit-identical BIGINT ranks; a float PageRank
    // would diverge across accumulation orders. Fixed iteration count
    // (not convergence-test) keeps the loop driver-read-free. The
    // oracle unrolls the same 8 rounds as chained CTEs.
    Q(
      "q98_textrank", {
        val iters = (1 to 8).map { k =>
          s"""r$k AS (SELECT e.b AS v,
             |  CAST(150000 + sum((17 * r.r * e.w) // (20 * o.ow)) AS BIGINT) AS r
             |  FROM edges e JOIN r${k - 1} r ON r.v = e.a
             |  JOIN outw o ON o.v = e.a GROUP BY e.b)""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |prs AS (SELECT unnest(list_transform(range(1, len(ws)),
           |                 i -> {'a': ws[i], 'b': ws[i+1]})) AS p
           |        FROM toks),
           |dir AS (SELECT p.a AS a, p.b AS b FROM prs
           |        UNION ALL SELECT p.b, p.a FROM prs),
           |edges AS (SELECT a, b, CAST(count(*) AS BIGINT) AS w
           |          FROM dir GROUP BY a, b),
           |outw AS (SELECT a AS v, CAST(sum(w) AS BIGINT) AS ow
           |         FROM edges GROUP BY a),
           |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM outw),
           |$iters
           |SELECT v AS token, r AS rank FROM r8 ORDER BY r DESC, v LIMIT 20"""
          .stripMargin
      }) { (s, d) =>
      // size(ws) ≥ 2 guard: DuckDB's range(1, len(ws)) is empty on a
      // 1-token doc, but Spark's sequence(1, 0) defaults to step -1 and
      // descends to [1, 0], making element_at(ws, 0) throw — the filter
      // matches the oracle's empty-range behavior on degenerate docs.
      val prs = Tables.documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1)," +
            " i -> named_struct('a', element_at(ws, i), 'b', element_at(ws, i + 1)))"))
          .as("p"))
      val dirE = prs.select(col("p.a").as("a"), col("p.b").as("b"))
        .unionAll(prs.select(col("p.b").as("a"), col("p.a").as("b")))
      val edges = dirE.groupBy("a", "b").agg(count(lit(1)).as("w"))
      val outw = edges.groupBy("a").agg(sum("w").as("ow"))
      // static per-round join input: edge fanned out with its source's
      // out-weight; persisted once, consumed by all 8 rounds
      val eo = edges.join(outw, "a").transform(CacheScope.scoped)
      var r = outw.select(col("a").as("v"), lit(1000000L).as("r"))
      for (_ <- 1 to 8)
        r = eo.join(r, eo("a") === r("v"))
          .groupBy(col("b"))
          .agg(sum(expr("(17 * r * w) div (20 * ow)")).as("contrib"))
          .select(col("b").as("v"), (lit(150000L) + col("contrib")).as("r"))
          .transform(CacheScope.checkpointed)
      eo.unpersist()
      r.orderBy(col("r").desc, col("v")).limit(20)
        .select(col("v").as("token"), col("r").as("rank"))
    },

    // ── Tokenizer vocabulary-coverage audit (OOV rate) ─────────────────
    // How well would a frequency-built vocabulary cover this corpus?
    // Vocabulary = tokens with corpus count ≥ 10 (the deterministic
    // stand-in for a trained tokenizer's vocab); per-doc OOV rate =
    // out-of-vocabulary token fraction in ppm, rolled up per language
    // with a >10%-OOV straggler count. Shape: one token explode feeds
    // BOTH the vocabulary aggregate and the coverage probe; the
    // membership test is a broadcast LEFT SEMI-shaped join against the
    // vocab (count-thresholded, so its size is Heaps-sublinear), and
    // all rates are integer floor-ppm off combine-reduced counts.
    Q(
      "q117_vocab_coverage",
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |vocab AS (SELECT t FROM tok GROUP BY t HAVING count(*) >= 10),
        |per_doc AS (SELECT tok.doc_id, tok.lang,
        |              count(*) AS n_tok,
        |              count(CASE WHEN v.t IS NULL THEN 1 END) AS n_oov
        |            FROM tok LEFT JOIN vocab v ON v.t = tok.t
        |            GROUP BY tok.doc_id, tok.lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(CAST(sum(n_oov) AS BIGINT) * 1000000 // CAST(sum(n_tok) AS BIGINT)
        |       AS BIGINT) AS oov_ppm,
        |  CAST(count(CASE WHEN n_oov * 10 > n_tok THEN 1 END) AS BIGINT)
        |    AS n_high_oov_docs
        |FROM per_doc GROUP BY lang""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(expr("split(text, ' ')")).as("t"))
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 10).select(col("t").as("vt"))
      // HINT-FREE membership join: the vocabulary is Heaps-sublinear
      // but still ~10⁸ rows at 100 TB — a forced broadcast is the
      // corpus-proportional-build-side mistake; AQE broadcasts while
      // it fits and shuffles on token past that
      tok.join(vocab, col("vt") === col("t"), "left")
        .groupBy("doc_id", "lang")
        .agg(
          count(lit(1)).as("n_tok"),
          count(expr("CASE WHEN vt IS NULL THEN 1 END")).as("n_oov"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          expr("sum(n_oov) * 1000000 div sum(n_tok)").as("oov_ppm"),
          count(expr("CASE WHEN n_oov * 10 > n_tok THEN 1 END"))
            .as("n_high_oov_docs"))
    },

    // ── Collocation mining: top adjacent-pair lift (log-free PMI) ──────
    // Which token pairs co-occur far beyond chance? Association LIFT —
    // P(ab)/(P(a)·P(b)) = c_ab·N / (c_a·c_b) — is PMI without the log,
    // and the log is exactly what breaks cross-engine exactness (libm
    // differences); the RANKING is identical because log is monotone.
    // Counts are pure integers: pair counts and unigram-slot counts
    // from one adjacency pass (the q98 edge relation's directed half),
    // support ≥ 5 to kill noise pairs, top-20 by (lift, pair) via
    // TakeOrderedAndProject — the unigram join sides are
    // vocabulary-sized broadcasts. The lift RATIO itself goes through
    // DOUBLE (exact-int64 counts cast exactly below 2⁵³, identical
    // single correctly-rounded op order on both engines, floor at the
    // end) because the all-integer form `c_ab·n·10⁶` needs
    // c_ab·n ≤ 9.2e12 to avoid BIGINT wrap — false at the 100 TB pair
    // counts (n ~ 2e13) this query targets. Docs under 2 tokens have
    // no adjacent pair: the Spark side filters them (size(ws) ≥ 2)
    // where DuckDB's range(1, len(ws)) is already empty — without the
    // guard Spark's sequence(1, 0) descends to [1, 0] and
    // element_at(ws, 0) throws.
    Q(
      "q119_collocations",
      """WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |prs AS (SELECT unnest(list_transform(range(1, len(ws)),
        |                 i -> {'a': ws[i], 'b': ws[i+1]})) AS p
        |        FROM toks),
        |pc AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM prs GROUP BY p.a, p.b),
        |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM pc),
        |ua AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM pc GROUP BY a),
        |ub AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM pc GROUP BY b)
        |SELECT a, b, c_ab,
        |  CAST(floor(((CAST(c_ab AS DOUBLE) * CAST(n.n AS DOUBLE))
        |    / (CAST(ua.c_a AS DOUBLE) * CAST(ub.c_b AS DOUBLE))) * 1000000.0) AS BIGINT)
        |    AS lift_ppm
        |FROM pc JOIN ua USING (a) JOIN ub USING (b), n
        |WHERE c_ab >= 5
        |ORDER BY lift_ppm DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
      val pc = Tables.documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1)," +
            " i -> named_struct('a', element_at(ws, i), 'b', element_at(ws, i + 1)))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c_ab"))
        .transform(CacheScope.scoped) // one adjacency pass feeds N, both unigram sides, and the probe
      val n = pc.agg(sum("c_ab").as("n"))
      val ua = pc.groupBy("a").agg(sum("c_ab").as("c_a"))
      val ub = pc.groupBy("b").agg(sum("c_ab").as("c_b"))
      // unigram sides are vocabulary-sized — hint-free so AQE
      // broadcasts only while they fit (a forced broadcast of a
      // ~10⁸-row vocab at 100 TB OOMs executors); only the 1-row
      // total keeps its hint
      pc.filter(col("c_ab") >= 5)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(broadcast(n))
        .withColumn("lift_ppm",
          expr("CAST(floor(((CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE))" +
            " / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) * 1000000.0D) AS BIGINT)"))
        .orderBy(col("lift_ppm").desc, col("a"), col("b"))
        .limit(20)
        .select("a", "b", "c_ab", "lift_ppm")
    },

    // ── Source-similarity matrix (weighted Jaccard over vocabularies) ──
    // How alike are two crawls? Weighted Jaccard Σmin(cᵃ,cᵇ)/Σmax(cᵃ,cᵇ)
    // over per-source token-frequency vectors — the evidence behind
    // "these sources are near-mirrors, downweight one" mixing
    // decisions. Scale shape: the corpus reduces ONCE to the
    // (source, token, count) profile (map-side combined); the pairwise
    // stage self-joins that PROFILE on token — per-token fan-out is
    // bounded by |sources|² regardless of corpus size — and the
    // min/max identity (max = cᵃ + cᵇ − min, with per-source totals
    // joined in) recovers the denominator without materializing
    // absent-token zeros. Pure integer ppm.
    Q(
      "q137_source_similarity",
      """WITH prof AS (SELECT source, t AS token, CAST(count(*) AS BIGINT) AS c
        |              FROM (SELECT source, unnest(string_split(text, ' ')) AS t
        |                    FROM documents)
        |              GROUP BY source, t),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tc FROM prof GROUP BY source),
        |mins AS (SELECT x.source AS sa, y.source AS sb,
        |           CAST(sum(least(x.c, y.c)) AS BIGINT) AS smin
        |         FROM prof x JOIN prof y
        |           ON x.token = y.token AND x.source < y.source
        |         GROUP BY 1, 2)
        |SELECT sa, sb, smin,
        |  ta.tc + tb.tc - smin AS smax,
        |  CAST(smin * 1000000 // (ta.tc + tb.tc - smin) AS BIGINT) AS wjaccard_ppm
        |FROM mins JOIN tot ta ON ta.source = sa JOIN tot tb ON tb.source = sb"""
        .stripMargin) { (s, d) =>
      val prof = Tables.documents(s, d)
        .select(col("source"), explode(expr("split(text, ' ')")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .transform(CacheScope.scoped) // one corpus reduction feeds totals AND the pair stage
      val tot = prof.groupBy("source").agg(sum("c").as("tc"))
      // Σmax over the FULL vocabularies = tcᵃ + tcᵇ − Σmin (tokens
      // absent from one side contribute their full count to max):
      // only Σmin needs the shared-token join
      prof.as("x")
        .join(prof.as("y"),
          col("x.token") === col("y.token") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(expr("CAST(sum(least(x.c, y.c)) AS BIGINT)").as("smin"))
        .join(tot.select(col("source").as("sa"), col("tc").as("ta_tc")), "sa")
        .join(tot.select(col("source").as("sb"), col("tc").as("tb_tc")), "sb")
        .select(col("sa"), col("sb"), col("smin"),
          expr("ta_tc + tb_tc - smin").as("smax"),
          expr("smin * 1000000 div (ta_tc + tb_tc - smin)").as("wjaccard_ppm"))
    },

    // ── Token diversity: Gini-Simpson impurity + effective vocab ───────
    // The full-distribution repetition lens q55's top-token share can't
    // see: a doc cycling 5 tokens evenly has a low top-1 share but
    // catastrophic diversity. Gini-Simpson impurity 1 − Σpᵢ² is the
    // log-free diversity index (Shannon entropy needs libm log — not
    // engine-portable), and its inverse Σpᵢ²⁻¹ = n²/Σcᵢ² is the
    // "effective vocabulary size" (perplexity's order-2 Rényi cousin) —
    // the per-doc number a curation gate thresholds. Pure BIGINT:
    // impurity_ppm = 10⁶ − (Σcᵢ²·10⁶) div n². Overflow needs a PER-DOC
    // length past n²·10⁶ > 2⁶³ ⇒ n > 3.03e6 tokens (~12 MB of text) —
    // a per-document bound independent of corpus size; past it,
    // pre-divide per token. Shape: one (doc, token) counting exchange
    // (map-side combined) then a per-doc reduce — corpus-linear.
    Q(
      "q147_token_gini",
      """WITH tc AS (SELECT doc_id, t, count(*) AS c
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |                  FROM documents)
        |            GROUP BY doc_id, t),
        |agg AS (SELECT doc_id,
        |          CAST(sum(c) AS BIGINT) AS n,
        |          CAST(sum(c * c) AS BIGINT) AS s2,
        |          CAST(count(*) AS BIGINT) AS n_distinct
        |        FROM tc GROUP BY doc_id)
        |SELECT doc_id, n AS n_tokens, n_distinct,
        |  CAST(1000000 - (s2 * 1000000) // (n * n) AS BIGINT) AS gini_ppm,
        |  CAST((n * n) // s2 AS BIGINT) AS eff_vocab
        |FROM agg""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("split(text, ' ')")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum("c").as("n"),
          expr("sum(c * c)").as("s2"),
          count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
          expr("1000000 - (s2 * 1000000) div (n * n)").as("gini_ppm"),
          expr("(n * n) div s2").as("eff_vocab"))
    },

    // ── BPE tokenizer training (the merge LOOP, not just step 1) ───────
    // q71 counts the candidate pairs of the FIRST merge; this runs the
    // actual training recursion (Sennrich et al. 2016): 6 rounds of
    // {count weighted adjacent pairs → pick the global argmax → merge
    // it greedily left-to-right in every word}. The corpus is first
    // reduced to a (word, freq, char-tokens) vocabulary relation — the
    // classic trick that makes BPE tractable: the iteration runs over
    // DISTINCT words weighted by frequency, so each round is
    // vocabulary-sized no matter how large the corpus is. The argmax is
    // a TakeOrdered(1) whose single row is driver metadata (the merge
    // table IS the training output — same scalar-decision shape as the
    // q06 watermark); re-tokenization is a codegen'd aggregate() fold,
    // greedy left-to-right so chains resolve deterministically
    // ([a,a,a,a] → [aa,aa], [a,a,a] → [aa,a]) — DuckDB mirrors it with
    // an identical list_reduce. tokens_after (Σ freq·|toks| after each
    // round) certifies the merge APPLICATION cross-engine, not just the
    // pair choice; ties break on (count DESC, pair ASC), both engines
    // byte-order on this ASCII vocabulary.
    //
    // Scale: one corpus pass builds the vocabulary; each round is one
    // combine-reduced pair count over it (pairs ≤ Σ|toks| per word,
    // exchanged as (a, b, partial-sum)) + one narrow rewrite. The
    // per-round collect is 1 row. Real tokenizer training (30k merges)
    // would checkpoint the vocabulary relation every ~50 rounds the
    // same way Clustering.scala truncates fixpoint lineage.
    Q(
      "q154_bpe_train",
      s"""WITH ${bpeChainDuck(6)}
         |SELECT * FROM (
         |${(1 to 6).map(i =>
             s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, " +
               s"a || b AS merged, c AS pair_count, " +
               s"(SELECT t FROM t$i) AS tokens_after FROM m$i")
           .mkString("\nUNION ALL ")})
         |ORDER BY step""".stripMargin) { (s, d) =>
      val (w, merges) = bpeTrain(s, d)
      w.unpersist()
      import s.implicits._
      merges.toDF("step", "lhs", "rhs", "merged", "pair_count", "tokens_after")
    },

    // ── BPE encode: apply the trained merges back to the corpus ────────
    // The other half of the tokenizer lifecycle: q154 trains the merge
    // table; this ENCODES with it and reports what the tokenizer buys —
    // per-document BPE token counts and the chars-per-token compression
    // the 6 merges achieve. Tokenization happens ONCE per distinct
    // word (the trained vocabulary relation already holds each word's
    // final token sequence); the corpus then joins its exploded words
    // to that table — a corpus-sized probe of a vocabulary-sized
    // relation, the same shape HuggingFace's fast tokenizers exploit
    // with their word cache. No broadcast hint: the vocabulary grows
    // with corpus diversity, so the build side is AQE's runtime call
    // (the q58 lesson), and everything after the join is a map-side-
    // combined per-doc sum — token sequences never cross an exchange.
    Q(
      "q156_bpe_encode",
      s"""WITH ${bpeChainDuck(6)},
         |enc AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks,
         |          CAST(len(word) AS BIGINT) AS n_wchars FROM w6),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |       FROM documents),
         |j AS (SELECT doc_id, n_toks, n_wchars
         |      FROM (SELECT * FROM dw WHERE word <> '') dw2
         |      JOIN enc ON enc.word = dw2.word)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(n_wchars) AS BIGINT) AS n_word_chars,
         |  CAST(sum(n_wchars) AS BIGINT) * 1000000
         |    // CAST(sum(n_toks) AS BIGINT) AS chars_per_token_ppm
         |FROM j GROUP BY doc_id""".stripMargin) { (s, d) =>
      val (w, _) = bpeTrain(s, d)
      // the final vocabulary stays persisted inside the returned plan;
      // the registry runners CacheScope.drain() after each query (Q contract)
      val enc = w.select(col("word"),
        size(col("toks")).cast("long").as("n_toks"),
        length(col("word")).cast("long").as("n_wchars"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(enc, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_toks").as("n_bpe_tokens"),
          sum("n_wchars").as("n_word_chars"))
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
          col("n_word_chars"),
          expr("n_word_chars * 1000000L div n_bpe_tokens")
            .as("chars_per_token_ppm"))
    },

    // ── Weak-supervision majority vote (Snorkel-style label model) ─────
    // Three deterministic labeling functions over signals the engine
    // already computes, each voting keep(+1) / drop(−1) / abstain(0);
    // the label is the sign of the vote sum (ties abstain), and per-LF
    // agreement with the majority is the diagnostic that finds a
    // broken rule before it pollutes training (Ratner et al. 2017 —
    // the simple-majority special case of the label model):
    //   LF1 token count        < 15 drop, > 25 keep
    //   LF2 mean word len ×100 < 350 drop, > 450 keep (integer exact:
    //       word chars = n_chars − (n−1) on this single-spaced corpus)
    //   LF3 lexical diversity  < 500000 ppm drop, > 700000 ppm keep
    // All thresholds compare INTEGER quantities — no float anywhere,
    // so the votes are engine-exact by construction.
    //
    // Scale: LF1/LF2 are narrow projections; LF3 is the one exchange —
    // a (doc, token) combine-reduced distinct count (q147's shape).
    // The vote is a zero-cost map over the joined per-doc row.
    Q(
      "q161_weak_labels",
      """WITH tok AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(count(DISTINCT t.t) AS BIGINT) AS nd
        |  FROM (SELECT doc_id, n_chars, text,
        |          unnest(string_split(text, ' ')) AS t
        |        FROM documents) t
        |  GROUP BY doc_id, n_chars, text),
        |lf AS (SELECT doc_id,
        |    CASE WHEN n < 15 THEN -1 WHEN n > 25 THEN 1 ELSE 0 END AS lf_len,
        |    CASE WHEN (n_chars - (n - 1)) * 100 // n < 350 THEN -1
        |         WHEN (n_chars - (n - 1)) * 100 // n > 450 THEN 1
        |         ELSE 0 END AS lf_wlen,
        |    CASE WHEN nd * 1000000 // n < 500000 THEN -1
        |         WHEN nd * 1000000 // n > 700000 THEN 1
        |         ELSE 0 END AS lf_div
        |  FROM tok)
        |SELECT doc_id, lf_len, lf_wlen, lf_div,
        |  CASE WHEN lf_len + lf_wlen + lf_div > 0 THEN 'keep'
        |       WHEN lf_len + lf_wlen + lf_div < 0 THEN 'drop'
        |       ELSE 'abstain' END AS label,
        |  CAST(CASE WHEN lf_len <> 0 THEN 1 ELSE 0 END +
        |       CASE WHEN lf_wlen <> 0 THEN 1 ELSE 0 END +
        |       CASE WHEN lf_div <> 0 THEN 1 ELSE 0 END AS BIGINT) AS n_voting
        |FROM lf""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          expr("cast(size(split(text, ' ')) as bigint)").as("n"),
          explode(split(col("text"), " ")).as("t"))
        .groupBy("doc_id", "n_chars", "n")
        .agg(countDistinct("t").as("nd"))
      tok.select(col("doc_id"),
          expr("CASE WHEN n < 15 THEN -1 WHEN n > 25 THEN 1 ELSE 0 END")
            .as("lf_len"),
          expr("CASE WHEN (n_chars - (n - 1)) * 100 div n < 350 THEN -1" +
            " WHEN (n_chars - (n - 1)) * 100 div n > 450 THEN 1" +
            " ELSE 0 END").as("lf_wlen"),
          expr("CASE WHEN nd * 1000000 div n < 500000 THEN -1" +
            " WHEN nd * 1000000 div n > 700000 THEN 1" +
            " ELSE 0 END").as("lf_div"))
        .select(col("doc_id"), col("lf_len"), col("lf_wlen"), col("lf_div"),
          expr("CASE WHEN lf_len + lf_wlen + lf_div > 0 THEN 'keep'" +
            " WHEN lf_len + lf_wlen + lf_div < 0 THEN 'drop'" +
            " ELSE 'abstain' END").as("label"),
          expr("cast((CASE WHEN lf_len <> 0 THEN 1 ELSE 0 END) +" +
            " (CASE WHEN lf_wlen <> 0 THEN 1 ELSE 0 END) +" +
            " (CASE WHEN lf_div <> 0 THEN 1 ELSE 0 END) as bigint)")
            .as("n_voting"))
    })

  /** DuckDB mirror of [[bpeTrain]]'s recursion as a CTE chain (no WITH
    * prefix): `wf` (word frequencies) → `w0` (char tokens) → k rounds
    * of `p_i` (pair counts) / `m_i` (argmax merge) / `w_i` (greedy
    * re-tokenization via list_reduce) / `t_i` (token total). Ends with
    * `w$k` = the trained vocabulary, shared by q154 and q156.
    */
  private def bpeChainDuck(k: Int): String = {
    def step(i: Int) =
      s"""p$i AS (SELECT u.a AS a, u.b AS b, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (SELECT freq, unnest(list_transform(range(1, len(toks)),
         |         j -> {'a': toks[j], 'b': toks[j+1]})) AS u
         |        FROM w${i - 1} WHERE len(toks) >= 2)
         |  GROUP BY u.a, u.b),
         |m$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |w$i AS (SELECT word, freq,
         |    CASE WHEN m$i.a IS NULL OR len(toks) < 2 THEN toks ELSE
         |    list_reduce(list_transform(toks, t -> [t]),
         |      (acc, x) -> CASE WHEN acc[-1] = m$i.a AND x[1] = m$i.b
         |                       THEN list_append(acc[:-2], m$i.a || m$i.b)
         |                       ELSE list_concat(acc, x) END) END AS toks
         |  FROM w${i - 1} LEFT JOIN m$i ON TRUE),
         |t$i AS (SELECT CAST(sum(freq * len(toks)) AS BIGINT) AS t FROM w$i)"""
        .stripMargin
    s"""wf AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> '' GROUP BY t),
       |w0 AS (SELECT word, freq,
       |    list_transform(range(1, len(word) + 1), i -> word[i:i]) AS toks
       |  FROM wf),
       |${(1 to k).map(step).mkString(",\n")}""".stripMargin
  }

  /** The BPE training loop shared by q154 (emits the merge table) and
    * q156 (encodes with the final vocabulary): 6 rounds of weighted
    * pair count → global argmax → greedy merge. Returns the FINAL
    * (word, freq, toks) relation — still persisted; q154 unpersists it
    * immediately, q156 returns a plan that consumes it — plus one
    * (step, lhs, rhs, merged, pair_count, tokens_after) row per
    * realized merge. Intermediate rounds are unpersisted here.
    *
    * Job shape (round 9): each round used to run TWO driver-blocking
    * jobs — the 1-row argmax collect plus a tokens_after aggregate
    * that existed only for the merge-table row. Both now come out of
    * ONE aggregate per round: the grouped pair counts reduce to
    * `min(struct(-c, a, b))` (identical ordering to the old
    * `ORDER BY c DESC, a, b LIMIT 1` — negating the count flips the
    * struct comparison's first field, strings compare binary either
    * way) plus `sum(c)`, and round k's tokens_after falls out of round
    * k+1's pair-count total by the identity Σ freq·|toks| = Σ c
    * + Σ freq (every word has ≥ 1 token, words with one token
    * contribute no pair — so total tokens = total adjacent pairs
    * + total word frequency). Σ freq is corpus-constant, measured once
    * by the pass that also serves as the initial vocabulary's eager
    * cache fill; only the final round still needs its own explicit
    * tokens pass, which doubles as the final cache fill q156's encode
    * join reads back. 12 → 8 jobs per training run; every emitted
    * value is the same exact integer, so the oracle chain is
    * untouched.
    */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[(Long, String, String, String, Long, Long)]) = {
    import scala.collection.mutable.ArrayBuffer
    val wf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var w = wf.select(col("word"), col("freq"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("toks")).transform(CacheScope.scoped)
    // Σ freq (corpus word count): the constant in the tokens identity.
    // This is also the vocabulary cache's eager fill (CacheScope.eager
    // rationale) — the argmax rounds that follow are pure cache readers.
    val fRow = w.agg(sum("freq")).collect()(0)
    val fTotal = if (fRow.isNullAt(0)) 0L else fRow.getLong(0)
    val merges = ArrayBuffer[(Long, String, String, String, Long, Long)]()
    // merge row awaiting its tokens_after value from the NEXT round's
    // pair-count total: (step, lhs, rhs, pair_count)
    var pendingRow: Option[(Long, String, String, Long)] = None
    var stepN = 1L
    var exhausted = false
    while (stepN <= 6L && !exhausted) {
      val r = w.filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " j -> struct(element_at(toks, j) as a, element_at(toks, j + 1) as b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
        .agg(min(struct((-col("c")).as("nc"), col("a"), col("b"))).as("top"),
          sum(col("c")).as("totc"))
        .collect()(0)
      // this round's pair total prices the PREVIOUS round's result:
      // tokens(w) = Σ c over w's pairs + Σ freq
      val totc = if (r.isNullAt(1)) 0L else r.getLong(1)
      pendingRow.foreach { case (st, a, b, c) =>
        merges += ((st, a, b, a + b, c, totc + fTotal))
      }
      pendingRow = None
      // vocabularies can exhaust mergeable pairs before round 6 (every
      // word a single token) — stop, emitting only the realized rows,
      // exactly like the oracle's empty m_i CTEs
      if (r.isNullAt(0)) exhausted = true
      else {
        val top = r.getStruct(0)
        val (a, b, c) =
          (top.getString(1), top.getString(2), -top.getLong(0))
        // greedy left-to-right fold; CASE order guards element_at on
        // the empty accumulator (first element) under either ANSI
        // setting
        val next = w.select(col("word"), col("freq"),
          when(size(col("toks")) < 2, col("toks")).otherwise(
            aggregate(col("toks"), array().cast("array<string>"),
              (acc, x) => when(size(acc) === 0, array(x))
                .when(element_at(acc, -1) === lit(a) && x === lit(b),
                  concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x))))).as("toks"))
          .transform(CacheScope.scoped)
        w.unpersist()
        w = next
        pendingRow = Some((stepN, a, b, c))
        stepN += 1
      }
    }
    // the last realized round has no later pair count to ride: one
    // explicit tokens pass, which is also the final vocabulary's cache
    // fill (q156's encode join reads it back)
    pendingRow.foreach { case (st, a, b, c) =>
      val ta = w.agg(sum(size(col("toks")) * col("freq")))
        .collect()(0).getLong(0)
      merges += ((st, a, b, a + b, c, ta))
    }
    (w, merges.toSeq)
  }
}
