package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native dot product over two `array<float>` columns.
  *
  * The portable baseline (`aggregate(zip_with(...))`) is semantically
  * identical but runs as an interpreted higher-order function — at
  * ~100M pairs it dominates query time. This expression participates in
  * whole-stage codegen: one fused primitive loop per pair, no lambda
  * dispatch, no per-element boxing.
  *
  * Numeric contract: each float is widened to double *before* the
  * multiply, and products accumulate left-to-right from +0.0 — the
  * same op order as Spark's `aggregate(zip_with(...))` fold, so the
  * two Spark-side forms agree bit-for-bit. This is the PRODUCTION
  * scoring kernel only: float accumulation order is NOT portable
  * across engines (DuckDB's `list_sum` folds differently), so
  * cross-engine-compared scores use [[FloatQDot]]/[[LongDot]] instead.
  *
  * Null contract: null array → null; array *elements* are assumed
  * non-null (embedding columns), mismatched lengths use the shorter.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var k = 0
    while (k < n) {
      acc += x.getFloat(k).toDouble * y.getFloat(k).toDouble
      k += 1
    }
    acc
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $k = 0; $k < $n; $k++) {
         |  $acc += (double)$a.getFloat($k) * (double)$b.getFloat($k);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Quantized integer dot product over two `array<float>` columns:
  *   Σ_i floor(a_i · 2²⁰) · floor(b_i · 2²⁰)   (as BIGINT)
  *
  * This is the cross-engine-exact kernel: integer addition is
  * associative, so the result is independent of accumulation order —
  * unlike the float fold in [[FloatDot]], whose last-ulp value depends
  * on the other engine's `list_sum` accumulation strategy. Every
  * downstream scalar op (int64→double conversion, sqrt, one divide) is
  * a single correctly-rounded IEEE op, so cosine scores derived from
  * this kernel are bit-identical in any engine.
  *
  * The quantization step (`(double)f * 2²⁰` then `floor`) is itself
  * exact: scaling by a power of two only shifts the exponent.
  *
  * Overflow bounds: |component| ≤ C ⇒ |term| ≤ (C·2²⁰)², |sum| ≤
  * 64·(C·2²⁰)² — for unit-scale embeddings (C ≈ 1) that is ~2⁴⁶, five
  * orders inside int64, and still inside double's 2⁵³ exact-integer
  * range for the conversion that follows.
  *
  * Null/length contract: same as [[FloatDot]].
  */
case class FloatQDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_qdot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_qdot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var k = 0
    while (k < n) {
      acc += math.floor(x.getFloat(k).toDouble * VectorExpressions.QScale).toLong *
        math.floor(y.getFloat(k).toDouble * VectorExpressions.QScale).toLong
      k += 1
    }
    acc
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $k = 0; $k < $n; $k++) {
         |  $acc += (long)java.lang.Math.floor((double)$a.getFloat($k) * ${VectorExpressions.QScale}D)
         |        * (long)java.lang.Math.floor((double)$b.getFloat($k) * ${VectorExpressions.QScale}D);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Minimum Rabin-Karp hash over all k-char shingles of a string:
  *   min over i of  h(s[i..i+k)) ,  h(w) = fold (acc·257 + code(c)) mod (2³¹−1)
  *
  * The winnowing-style fingerprint kernel (Schleimer et al., SIGMOD'03
  * uses exactly this windowed-min-of-rolling-hash shape). The portable
  * baseline (`array_min(transform(sequence(...), i -> hash(substr(...))))`)
  * allocates a position array and a substring per window and dispatches
  * an interpreted lambda per element; this expression is one fused
  * rolling-update loop — O(n) long arithmetic total (see
  * [[ShingleMinHash$.compute]]), zero allocation beyond the codepoint
  * scan.
  *
  * Cross-engine contract: `code(c)` is the UTF-16 code unit, which
  * equals the Unicode codepoint (DuckDB's `unicode()`) for all BMP
  * text; the corpus is ASCII. All arithmetic is exact integer math —
  * no accumulation-order concerns by construction.
  *
  * Null contract: null string → null; fewer than k chars → null (the
  * SQL mirror's `list_min` of an empty list).
  */
case class ShingleMinHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = left.dataType == org.apache.spark.sql.types.StringType &&
      right.dataType == org.apache.spark.sql.types.IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_min_hash expects (string, int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_min_hash"

  protected override def nullSafeEval(str: Any, kAny: Any): Any = {
    val s = str.toString
    val k = kAny.asInstanceOf[Int]
    ShingleMinHash.compute(s, k) match {
      case Long.MinValue => null
      case v => v
    }
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, k) => {
      val out = ctx.freshName("mh")
      s"""
         |long $out = graft.functions.ShingleMinHash.compute($str.toString(), $k);
         |if ($out == java.lang.Long.MIN_VALUE) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShingleMinHash {
  private val P = 2147483647L
  private val B = 257L

  /** Minimum windowed hash via a TRUE rolling update: the first window
    * is a Horner fold; each subsequent window drops the leading char's
    * `c·B^(k−1) mod P` residue and shifts one char in — O(n) total
    * instead of O(k·n). The rolling residue equals the fresh Horner
    * residue in [0, P), so the SQL mirror (unrolled Horner) is
    * unchanged. Returns Long.MinValue as the "fewer than k chars"
    * sentinel (callers map it to null; real hashes are in [0, P)).
    *
    * Iterates Unicode CODEPOINTS, not UTF-16 code units, because the
    * DuckDB oracle mirror indexes codepoints (`unicode(text[i])`,
    * `length(text)`) — with code units, any non-BMP char would change
    * both the per-char value and the window count cross-engine. Two
    * char-offset cursors (`lead`, `trail`) keep it allocation-free.
    */
  def compute(s: String, k: Int): Long = {
    val n = s.codePointCount(0, s.length)
    if (n < k || k <= 0) return Long.MinValue
    var pk = 1L
    var j = 1
    while (j < k) { pk = (pk * B) % P; j += 1 }
    var h = 0L
    var lead = 0 // char offset of the next codepoint to shift in
    j = 0
    while (j < k) {
      h = (h * B + s.codePointAt(lead)) % P
      lead = s.offsetByCodePoints(lead, 1)
      j += 1
    }
    var min = h
    var trail = 0 // char offset of the next codepoint to drop
    var i = 1
    while (i <= n - k) {
      val drop = (s.codePointAt(trail).toLong * pk) % P
      trail = s.offsetByCodePoints(trail, 1)
      h = ((h - drop + P) * B + s.codePointAt(lead)) % P
      lead = s.offsetByCodePoints(lead, 1)
      if (h < min) min = h
      i += 1
    }
    min
  }
}

/** Integer dot product over two `array<bigint>` columns — the pair
  * kernel used with pre-quantized vectors: [[FloatQDot]] folds the
  * `floor(x·2²⁰)` quantization into every pair evaluation, which is
  * wasted work in an O(n²) join (each row re-quantizes per partner).
  * Quantize once per side (`transform(..., floor(x·2²⁰))`), then dot
  * the long arrays. Same integer-exactness contract as [[FloatQDot]]:
  * `vec_ldot(qa, qb) ≡ vec_qdot(a, b)` — proven in KernelSpec.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_ldot expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_ldot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var k = 0
    while (k < n) {
      acc += x.getLong(k) * y.getLong(k)
      k += 1
    }
    acc
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $k = 0; $k < $n; $k++) {
         |  $acc += $a.getLong($k) * $b.getLong($k);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 60-bit SimHash of a document in one pass: word 3-gram shingles,
  * each hashed to the 60-bit md5 prefix (`graft.ext.Portable.h60*` —
  * the first 15 hex chars ≡ big-endian first 8 bytes >>> 4), voting
  * +1/−1 per bit position; bit j of the result is set when its vote
  * sum is ≥ 0.
  *
  * Bit-identical to the relational formulation (shingle explode →
  * per-bit signed sums → assembly) because integer vote sums are
  * order-free — but with NO explode, NO 60-column aggregation and NO
  * shuffle: the fingerprint is a narrow per-row projection, so the
  * only exchange left in a SimHash dedup is the banding join itself.
  *
  * Null contract: null → null; fewer than 3 tokens → null (the
  * relational form simply emits no rows for such docs — callers filter
  * nulls to match).
  */
case class Simhash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash60 expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash60"

  protected override def nullSafeEval(str: Any): Any =
    Simhash60.compute(str.toString)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val out = ctx.freshName("fp")
      s"""
         |Long $out = graft.functions.Simhash60.compute($str.toString());
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $out.longValue();
         |}
       """.stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One fused pass over the document; called from both the
    * interpreted and the generated code path (the body is plain JVM
    * primitive work — JIT inlines it; splitting it out keeps the
    * generated method tiny and under the JIT's inline threshold).
    */
  def compute(s: String): java.lang.Long = {
    val toks = s.split(" ", -1)
    val n = toks.length
    if (n < 3) return null
    val digest = md.get()
    val votes = new Array[Int](60)
    var i = 0
    while (i + 2 < n) {
      val sh = new java.lang.StringBuilder(
        toks(i).length + toks(i + 1).length + toks(i + 2).length + 2)
        .append(toks(i)).append(' ')
        .append(toks(i + 1)).append(' ')
        .append(toks(i + 2)).toString
      val dg = digest.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      h = h >>> 4
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (votes(j) >= 0) fp |= (1L << j); j += 1 }
    java.lang.Long.valueOf(fp)
  }
}

/** 16-element MinHash signature of a document in one pass: word 5-gram
  * shingles hashed to the 60-bit md5 prefix, pushed through the
  * [[graft.ext.Portable]] permutation family
  * `((37i+11)·(h mod P) + (17i+7)) mod P`, minimum per permutation.
  *
  * Bit-identical to the relational form (shingle explode → 16 wide-agg
  * mins) for two reasons: MIN is order-free, and MIN over a multiset
  * equals MIN over its distinct set — so the kernel needs neither the
  * oracle's `list_distinct` nor any particular iteration order.
  * Removes the shingle explode and the 16-column aggregation exchange;
  * only the signature array (128 bytes/doc) leaves the scan.
  *
  * Null contract: null → null; fewer than 5 tokens → null.
  */
case class MinHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash16 expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash16"

  protected override def nullSafeEval(str: Any): Any = {
    val sig = MinHash16.compute(str.toString)
    if (sig == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val sig = ctx.freshName("sig")
      s"""
         |long[] $sig = graft.functions.MinHash16.compute($str.toString());
         |if ($sig == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         |}
       """.stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash16 {
  private val P = 2147483647L
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: String): Array[Long] = {
    val toks = s.split(" ", -1)
    val n = toks.length
    if (n < 5) return null
    val digest = md.get()
    val mins = Array.fill(16)(Long.MaxValue)
    var i = 0
    while (i + 4 < n) {
      val sb = new java.lang.StringBuilder()
      var w = 0
      while (w < 5) {
        if (w > 0) sb.append(' ')
        sb.append(toks(i + w))
        w += 1
      }
      val dg = digest.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      h = h >>> 4
      val hm = h % P
      var k = 0
      while (k < 16) {
        val p = ((37L * k + 11L) * hm + (17L * k + 7L)) % P
        if (p < mins(k)) mins(k) = p
        k += 1
      }
      i += 1
    }
    mins
  }
}

/** Distinct word 5-gram shingle hashes of a document in one pass:
  * `array<bigint>` of the 60-bit md5-prefix values, first-occurrence
  * order — the compiled form of the portable shingle generator
  * (`array_distinct(transform(sequence(1, n-4), i ->
  * h60(array_join(slice(toks, i, 5), ' '))))`).
  *
  * Bit-identical to that expression chain (and so to the DuckDB
  * mirror's `list_distinct(list_transform(range(1, len-3), …))`): the
  * hex prefix `conv(substr(md5(x),1,15),16,10)` IS the digest's first
  * 60 bits, computed here as `(first 8 bytes big-endian) >>> 4` —
  * exactly [[MinHash16]]'s hashing, minus the permutation fold. The
  * win is mechanical, not semantic: `transform` is a higher-order
  * function Spark evaluates INTERPRETED per element (lambda dispatch,
  * UTF8String slice+join per shingle, md5 → hex string → substr → conv
  * reparse), and the round-10 ×1000 stage profile put that Generate
  * stage at ~3/4 of q127's task-seconds. One compiled loop — tokenize
  * once, reuse one digest, open-address dedupe on the long — removes
  * every per-shingle allocation except the digest input.
  *
  * Null contract: null → null; fewer than 5 tokens → null (callers
  * explode, and exploding null emits no rows — same visible semantics
  * as the old `size(toks) >= 5` pre-filter).
  */
case class Shingles60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles60 expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingles60"

  protected override def nullSafeEval(str: Any): Any = {
    val sh = Shingles60.compute(str.toString)
    if (sh == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(sh)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val sh = ctx.freshName("sh")
      s"""
         |long[] $sh = graft.functions.Shingles60.compute($str.toString());
         |if ($sh == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sh);
         |}
       """.stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[Shingles60]] without the dedupe: EVERY word-5-gram window's hash,
  * window order — the positional form `transform(sequence(1, n-4),
  * i -> h60(array_join(slice(toks, i, 5), ' ')))` (no array_distinct).
  * Callers `posexplode` to recover (position, hash). Same null
  * contract and same per-window hash as [[Shingles60]].
  */
case class Shingles60All(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles60_all expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingles60_all"

  protected override def nullSafeEval(str: Any): Any = {
    val sh = Shingles60.computeAll(str.toString)
    if (sh == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(sh)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val sh = ctx.freshName("sha")
      s"""
         |long[] $sh = graft.functions.Shingles60.computeAll($str.toString());
         |if ($sh == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sh);
         |}
       """.stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** All window hashes, window order, no dedupe (null if <5 tokens). */
  def computeAll(s: String): Array[Long] = {
    val toks = s.split(" ", -1)
    val n = toks.length
    if (n < 5) return null
    val digest = md.get()
    val out = new Array[Long](n - 4)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + 4 < n) {
      sb.setLength(0)
      var w = 0
      while (w < 5) {
        if (w > 0) sb.append(' ')
        sb.append(toks(i + w))
        w += 1
      }
      val dg = digest.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      out(i) = h >>> 4
      i += 1
    }
    out
  }

  /** Distinct 5-gram hashes, first-occurrence order. Dedupe is an
    * open-addressed long table (no boxing, no HashSet nodes) sized to
    * the window count; 0 is used as the empty slot, so the (legal,
    * 2⁻⁶⁰-rare) hash value 0 tracks its presence in a side flag.
    */
  def compute(s: String): Array[Long] = {
    val toks = s.split(" ", -1)
    val n = toks.length
    if (n < 5) return null
    val digest = md.get()
    val nWin = n - 4
    var cap = java.lang.Integer.highestOneBit(nWin * 2 - 1) << 1
    if (cap < 8) cap = 8
    val table = new Array[Long](cap)
    var zeroSeen = false
    val out = new Array[Long](nWin)
    var nOut = 0
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + 4 < n) {
      sb.setLength(0)
      var w = 0
      while (w < 5) {
        if (w > 0) sb.append(' ')
        sb.append(toks(i + w))
        w += 1
      }
      val dg = digest.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      h = h >>> 4
      if (h == 0L) {
        if (!zeroSeen) { zeroSeen = true; out(nOut) = 0L; nOut += 1 }
      } else {
        var slot = (java.lang.Long.hashCode(h) & 0x7fffffff) & (cap - 1)
        var dup = false
        while (table(slot) != 0L && !dup) {
          if (table(slot) == h) dup = true
          else slot = (slot + 1) & (cap - 1)
        }
        if (!dup) {
          table(slot) = h
          out(nOut) = h
          nOut += 1
        }
      }
      i += 1
    }
    if (nOut == nWin) out else java.util.Arrays.copyOf(out, nOut)
  }
}

/** 128-bit SimHash of a document in one pass — `array<bigint>` of
  * FOUR 32-bit chunks (each in [0, 2³²), big-endian digest order):
  * word 3-gram shingles, each hashed to the FULL 128-bit md5 digest,
  * voting +1/−1 per bit position across all 128 bits; bit j of the
  * result is set when its vote sum is ≥ 0. Bit j lives in chunk j/32
  * at position j%32 counted from that chunk's LSB, where chunk c is
  * digest bytes [4c, 4c+4) big-endian — exactly what a SQL mirror
  * reconstructs from hex substrings, with every value inside signed
  * BIGINT range (the reason for 4×32 rather than 2×64: a 64-bit
  * unsigned chunk would overflow DuckDB's signed BIGINT).
  *
  * WHY width matters (SCALE.md round 11): exact banding recall at
  * hamming ≤ k needs ≥ k+1 bands (pigeonhole), so a 60-bit
  * fingerprint caps band values at 8–9 bits — ~3,300 distinct bucket
  * keys, linearly-growing buckets, and a candidate term QUADRATIC in
  * corpus size (measured: 10.7× banding task-sec on 3.33× data at
  * ×1000). 128 bits give 8 bands × 16 bits: same pigeonhole
  * exactness (hamming ≤ 7) with ~200× fewer expected collisions per
  * band value, pushing the quadratic past 10⁹ docs.
  *
  * Null contract: null → null; fewer than 3 tokens → null (same as
  * [[Simhash60]]).
  */
case class Simhash128(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash128 expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "simhash128"

  protected override def nullSafeEval(str: Any): Any = {
    val fp = Simhash128.compute(str.toString)
    if (fp == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(fp)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val fp = ctx.freshName("fp128")
      s"""
         |long[] $fp = graft.functions.Simhash128.compute($str.toString());
         |if ($fp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($fp);
         |}
       """.stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash128 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One fused pass (same shingle walk as [[Simhash60.compute]], full
    * 128-bit vote). Chunk c bit j (from LSB) corresponds to digest bit
    * 32c + j where the digest is read big-endian per 4-byte group.
    */
  def compute(s: String): Array[Long] = {
    val toks = s.split(" ", -1)
    val n = toks.length
    if (n < 3) return null
    val digest = md.get()
    val votes = new Array[Int](128)
    var i = 0
    while (i + 2 < n) {
      val sh = new java.lang.StringBuilder(
        toks(i).length + toks(i + 1).length + toks(i + 2).length + 2)
        .append(toks(i)).append(' ')
        .append(toks(i + 1)).append(' ')
        .append(toks(i + 2)).toString
      val dg = digest.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var c = 0
      while (c < 4) {
        var w = 0L
        var b = 0
        while (b < 4) { w = (w << 8) | (dg(4 * c + b) & 0xffL); b += 1 }
        var j = 0
        while (j < 32) {
          if (((w >> j) & 1L) == 1L) votes(32 * c + j) += 1
          else votes(32 * c + j) -= 1
          j += 1
        }
        c += 1
      }
      i += 1
    }
    val fp = new Array[Long](4)
    var k = 0
    while (k < 128) {
      if (votes(k) >= 0) fp(k / 32) |= (1L << (k % 32))
      k += 1
    }
    fp
  }
}

/** Lexical text statistics in ONE fused pass — `array<bigint>` of
  * `[n_tokens, punct, stop_hits]`:
  *
  *   - `n_tokens`  ≡ `size(split(text, ' '))` — split on a single
  *     space with Java's limit −1 semantics keeps leading/consecutive/
  *     trailing empty segments, so the count is exactly (spaces + 1).
  *   - `punct`     ≡ `length(text) − length(regexp_replace(text,
  *     '[^a-z0-9 ]', ''))` — the number of CODEPOINTS outside
  *     `[a-z0-9 ]` (Java regex negated classes and Spark's `length`
  *     both count codepoints, so one codepoint-cursor scan matches).
  *   - `stop_hits` ≡ `size(filter(split(text, ' '), t -> t IN (set)))`
  *     — tokens compared by exact string equality against the stop set
  *     (second arg: a comma-separated FOLDABLE literal, e.g.
  *     "the,a,of,to,and,is"), matched allocation-free via
  *     `regionMatches` on the token's span.
  *
  * Replaces the quality/Gopher feature chain (2 regex `split`s, a full
  * `regexp_replace` rewrite pass, and an INTERPRETED higher-order
  * `filter` with per-token lambda dispatch per doc) that the round-10
  * ×300 stage profile flagged as q67's CPU wall (2,334 task-sec, ~1.5
  * ms/doc, a third of the hot-12 — `STREAM_r10.jsonl`
  * `probe:"q67_stage_profile"`). Same recipe as [[Shingles60]]: the
  * SQL mirrors keep the relational form; KernelSpec pins ≡.
  *
  * Null contract: null text → null (stop CSV is a non-null literal by
  * construction; a null CSV also yields null).
  */
case class TextStats(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != org.apache.spark.sql.types.StringType ||
      right.dataType != org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckFailure(
        s"text_stats expects (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "text_stats expects a foldable stop-word CSV as its second argument")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "text_stats"

  // parsed once per expression instance (the arg is foldable); both
  // the interpreted and the generated path read this array
  private lazy val stopWords: Array[String] = {
    val v = right.eval(null)
    if (v == null) Array.empty else v.toString.split(",", -1).filter(_.nonEmpty)
  }

  protected override def nullSafeEval(str: Any, csv: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextStats.compute(str.toString, stopWords))

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopsRef = ctx.addReferenceObj("stopWords", stopWords, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, (str, _) => {
      val out = ctx.freshName("tstats")
      s"""
         |long[] $out = graft.functions.TextStats.compute($str.toString(), $stopsRef);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TextStats {
  /** One codepoint-cursor pass: count spaces (tokens = spaces + 1),
    * codepoints outside `[a-z0-9 ]`, and stop-set token hits
    * (allocation-free span compare).
    */
  def compute(s: String, stops: Array[String]): Array[Long] = {
    val n = s.length
    var spaces = 0L
    var punct = 0L
    var hits = 0L
    var tokStart = 0
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (cp == ' ') {
        spaces += 1
        if (isStop(s, tokStart, i, stops)) hits += 1
        tokStart = i + 1
      } else if (!((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9'))) {
        punct += 1
      }
      i += Character.charCount(cp)
    }
    if (isStop(s, tokStart, n, stops)) hits += 1
    Array(spaces + 1, punct, hits)
  }

  private def isStop(s: String, from: Int, to: Int, stops: Array[String]): Boolean = {
    val len = to - from
    var k = 0
    while (k < stops.length) {
      val w = stops(k)
      if (w.length == len && s.regionMatches(from, w, 0, len)) return true
      k += 1
    }
    false
  }
}

object VectorExpressions {
  /** Fixed-point quantization scale for `vec_qdot`: 2²⁰. */
  val QScale: Double = 1048576.0

  /** The single kernel registry — BOTH registration paths (the
    * imperative [[register]] and the `spark.sql.extensions` injection
    * in [[graft.GraftExtensions]]) consume this list, so a kernel
    * added here is automatically present in local sessions AND in
    * Spark Connect / thrift-server sessions. Hand-listing the pairs in
    * two places previously risked silent drift between the two paths.
    */
  val kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (args => FloatDot(args(0), args(1))),
    "vec_qdot" -> (args => FloatQDot(args(0), args(1))),
    "vec_ldot" -> (args => LongDot(args(0), args(1))),
    "shingle_min_hash" -> (args => ShingleMinHash(args(0), args(1))),
    "simhash60" -> (args => Simhash60(args(0))),
    "minhash16" -> (args => MinHash16(args(0))),
    "shingles60" -> (args => Shingles60(args(0))),
    "shingles60_all" -> (args => Shingles60All(args(0))),
    "text_stats" -> (args => TextStats(args(0), args(1))),
    "simhash128" -> (args => Simhash128(args(0))))

  /** Register every kernel on the session (idempotent). Called from
    * [[graft.GraftSession]]; query builders also call it defensively so
    * they work on any externally-built session.
    */
  def register(spark: SparkSession): Unit =
    kernels.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
