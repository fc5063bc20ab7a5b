package graft

import graft.ext.Portable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence proofs for the codegen kernels: each kernel must equal
  * the portable higher-order-function formulation it replaces, on real
  * corpus data — that equivalence is what licenses the oracle SQL to
  * keep using the relational form while Spark runs the fused loop.
  * Also covers the null/short-input contracts the HOFs can't express.
  */
class KernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = {
    graft.functions.VectorExpressions.register(spark)
    Tables.documents(spark, sf)
  }

  test("shingle_min_hash ≡ min over per-window Rabin-Karp HOF") {
    val poly = (1 to 7).foldLeft("cast(ascii(substr(text, i, 1)) as bigint)")(
      (acc, j) => s"(($acc * 257 + ascii(substr(text, i + $j, 1))) % 2147483647)")
    val mism = docs.select(
      expr("shingle_min_hash(text, 8)").as("k"),
      expr(s"array_min(transform(sequence(1, length(text) - 7), i -> $poly))").as("h"))
      .filter(col("k") =!= col("h") || col("k").isNull)
    assert(mism.count() === 0)
  }

  test("shingle_min_hash null contract: short and null inputs") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val r = Seq("abcdefgh", "short", null.asInstanceOf[String])
      .toDF("s").selectExpr("shingle_min_hash(s, 8) AS h").collect()
    assert(!r(0).isNullAt(0)) // exactly one window
    assert(r(1).isNullAt(0)) // < k chars
    assert(r(2).isNullAt(0)) // null in, null out
  }

  test("shingle_min_hash iterates codepoints, not UTF-16 code units") {
    // The DuckDB mirror indexes codepoints (unicode(text[i]), length(text)),
    // so the kernel must too: 😀 (U+1F600) is 1 codepoint but 2 UTF-16 units.
    def horner(w: Array[Int]): Long =
      w.foldLeft(0L)((a, c) => (a * 257 + c) % 2147483647L)
    val s = "ab😀cdefgh" // 9 codepoints, 10 UTF-16 units
    val cps = s.codePoints.toArray
    val expected = (0 to cps.length - 8).map(i => horner(cps.slice(i, i + 8))).min
    assert(graft.functions.ShingleMinHash.compute(s, 8) === expected)
    // window count follows codepoints: 8 codepoints → exactly one window,
    // even though a UTF-16 view would see 9 units (two windows)
    val one = "a😀bcdefg"
    assert(graft.functions.ShingleMinHash.compute(one, 8) ===
      horner(one.codePoints.toArray))
    // 7 codepoints (8 UTF-16 units) → below k, sentinel
    assert(graft.functions.ShingleMinHash.compute("a😀bcdef", 8) ===
      Long.MinValue)
  }

  test("simhash60 ≡ explode → 60 signed vote sums → assembly") {
    val sh3 = docs
      .select(col("doc_id"), expr("split(text, ' ')").as("ts"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> array_join(slice(ts, i, 3), ' '))"))
        .as("sh"))
      .select(col("doc_id"), expr(Portable.h60Spark("sh")).as("h"))
    val bitAggs = (0 until 60).map(j =>
      sum(expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$j"))
    val relational = sh3.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), expr(
        (0 until 60).map(j =>
          s"CASE WHEN s$j >= 0 THEN shiftleft(cast(1 as bigint), $j) ELSE cast(0 as bigint) END")
          .mkString(" + ")).as("fp_rel"))
    val kernel = docs.select(col("doc_id"), expr("simhash60(text)").as("fp_k"))
    val joined = kernel.join(relational, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("fp_k") =!= col("fp_rel")).count() === 0)
  }

  test("minhash16 ≡ explode → 16 wide-agg permutation mins") {
    val hh = docs
      .select(col("doc_id"), expr("split(text, ' ')").as("ts"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(ts) - 4), i -> array_join(slice(ts, i, 5), ' ')))"))
        .as("sh"))
      .select(col("doc_id"), expr(Portable.h60Spark("sh")).as("h"))
    val mhAggs = (0 until 16).map(i =>
      min(expr(Portable.permSpark("h", i.toString))).as(s"mh$i"))
    val relational = hh.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
      .select(col("doc_id"),
        expr("array(" + (0 until 16).map(i => s"mh$i").mkString(", ") + ")").as("sig_rel"))
    val kernel = docs.select(col("doc_id"), expr("minhash16(text)").as("sig_k"))
    val joined = kernel.join(relational, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("sig_k") =!= col("sig_rel")).count() === 0)
  }

  test("shingles60 ≡ array_distinct ∘ transform h60 chain (value AND order)") {
    val chain = "array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), " +
      s"i -> ${Portable.h60Spark("array_join(slice(split(text, ' '), i, 5), ' ')")}))"
    val mism = docs
      .filter(size(split(col("text"), " ")) >= 5)
      .select(expr("shingles60(text)").as("k"), expr(chain).as("r"))
      .filter(col("k") =!= col("r") || col("k").isNull)
    assert(mism.count() === 0)
  }

  test("shingles60_all ≡ transform h60 chain (positional, duplicates kept)") {
    val chain = "transform(sequence(1, size(split(text, ' ')) - 4), " +
      s"i -> ${Portable.h60Spark("array_join(slice(split(text, ' '), i, 5), ' ')")})"
    val mism = docs
      .filter(size(split(col("text"), " ")) >= 5)
      .select(expr("shingles60_all(text)").as("k"), expr(chain).as("r"))
      .filter(col("k") =!= col("r") || col("k").isNull)
    assert(mism.count() === 0)
  }

  test("shingles60 adversarial inputs: short, null, empty tokens, dup windows") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val texts = Seq(
      "a b c d",                   // 4 tokens → null
      "a b c d e",                 // exactly one window
      "a  b c d e f",              // double space → empty token (split -1 keeps it)
      "x x x x x x x x x x",      // all windows identical → one distinct hash
      " lead b c d e",             // leading empty token
      "t u v w x ",                // trailing empty token
      null.asInstanceOf[String])
      .toDF("text")
    val chain = "array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), " +
      s"i -> ${Portable.h60Spark("array_join(slice(split(text, ' '), i, 5), ' ')")}))"
    val rows = texts.select(expr("shingles60(text)").as("k"),
      when(size(split(col("text"), " ")) >= 5, expr(chain)).as("r")).collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0), s"expected null kernel: $r")
      else assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"mismatch: $r")
    }
    assert(rows(3).getSeq[Long](0).length === 1) // dup windows collapse
  }

  test("simhash128 ≡ explode → 4×32-bit md5 chunks → 128 signed vote sums") {
    val sh3 = docs
      .select(col("doc_id"), expr("split(text, ' ')").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> array_join(slice(ts, i, 3), ' '))"))
        .as("sh"))
      .select(col("doc_id") +: (0 until 4).map(c =>
        expr(s"cast(conv(substr(md5(sh), ${8 * c + 1}, 8), 16, 10) as bigint)").as(s"c$c")): _*)
    val bitAggs = (0 until 128).map(j =>
      sum(expr(s"CASE WHEN (shiftright(c${j / 32}, ${j % 32}) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$j"))
    val relational = sh3.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), expr("array(" + (0 until 4).map(c =>
        (0 until 32).map(j =>
          s"CASE WHEN s${32 * c + j} >= 0 THEN shiftleft(cast(1 as bigint), $j) ELSE cast(0 as bigint) END")
          .mkString(" + ")).mkString(", ") + ")").as("fp_rel"))
    val kernel = docs.select(col("doc_id"), expr("simhash128(text)").as("fp_k"))
    val joined = kernel.join(relational, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("fp_k") =!= col("fp_rel")).count() === 0)
    // low 60 bits relate to simhash60's hash family only via md5's
    // prefix — sanity-pin the chunk RANGE instead: every chunk in [0, 2^32)
    val oob = kernel.filter(expr(
      "exists(fp_k, c -> c < 0 OR c > 4294967295)")).count()
    assert(oob === 0)
  }

  test("text_stats ≡ split/regexp_replace/HOF-filter chain on corpus data") {
    val stopEn = "'the','a','of','to','and','is'"
    val mism = docs.select(
      expr("text_stats(text, 'the,a,of,to,and,is')").as("k"),
      expr("array(cast(size(split(text, ' ')) as bigint), " +
        "cast(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '')) as bigint), " +
        s"cast(size(filter(split(text, ' '), t -> t IN ($stopEn))) as bigint))").as("r"))
      .filter(col("k") =!= col("r") || col("k").isNull)
    assert(mism.count() === 0)
  }

  test("text_stats adversarial inputs: empties, unicode, stop spans, null") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val texts = Seq(
      "",                          // one empty token, nothing else
      " ",                         // two empty tokens
      "the",                       // single stop token, no spaces
      "the the  the",              // consecutive spaces → empty token between stops
      " the",                      // leading empty token then a stop
      "to ",                       // trailing empty token after a stop
      "THE a. б€😀 is2 and",       // case-sensitivity, punct, non-ASCII codepoints
      "atlas theory ofof isis",    // stop words as PREFIXES of non-stops (span compare)
      "的 是 x",                    // multi-byte stop words via the stopAll set shape
      null.asInstanceOf[String]).toDF("text")
    val set = "the,a,of,to,and,is,的,是"
    val quoted = set.split(",").map(w => s"'$w'").mkString(",")
    // null text: the HOF chain gives array(null,null,null), the kernel
    // gives a null ARRAY — equivalent at every consumer (items are
    // extracted, and null[i] ≡ array(null,…)[i]); normalize here
    val rows = texts.select(
      expr(s"text_stats(text, '$set')").as("k"),
      when(col("text").isNotNull,
        expr("array(cast(size(split(text, ' ')) as bigint), " +
          "cast(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '')) as bigint), " +
          s"cast(size(filter(split(text, ' '), t -> t IN ($quoted))) as bigint))")).as("r"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0), s"expected null kernel: $r")
      else assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"mismatch: $r")
    }
    // the unicode row ("THE a. б€😀 is2 and"): 5 tokens; punct = THE(3)
    // + .(1) + б€😀(3) = 7 — 😀 is ONE codepoint (punct counts
    // codepoints, not UTF-16 units); stops = only "and" ("THE" is
    // case-mismatched) — pin the absolute values, not just agreement
    assert(rows(6).getSeq[Long](0) === Seq(5L, 7L, 1L))
  }

  test("vec_qdot ≡ integer-quantized HOF fold; self-dot non-negative") {
    val e = Tables.embeddings(spark, sf)
    graft.functions.VectorExpressions.register(spark)
    val q = "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0D) as bigint))"
    val mism = e.select(
      expr("vec_qdot(embedding, embedding)").as("k"),
      expr(s"aggregate(zip_with($q, $q, (x, y) -> x * y), cast(0 as bigint), (a, v) -> a + v)").as("h"))
      .filter(col("k") =!= col("h") || col("k") < 0)
    assert(mism.count() === 0)
  }

  test("vec_ldot on pre-quantized arrays ≡ vec_qdot on the float arrays") {
    val e = Tables.embeddings(spark, sf)
    graft.functions.VectorExpressions.register(spark)
    val q = "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0D) as bigint))"
    val mism = e.as("a").crossJoin(e.as("b").limit(5))
      .select(
        expr("vec_qdot(a.embedding, b.embedding)").as("qd"),
        expr(s"vec_ldot(${q.replace("embedding", "a.embedding")}, ${q.replace("embedding", "b.embedding")})").as("ld"))
      .filter(col("qd") =!= col("ld"))
    assert(mism.count() === 0)
  }
}
