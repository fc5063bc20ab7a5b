package graft

import org.apache.spark.sql.functions._

/** Deterministic CLUSTERED embedding fixture (r13 verdict ask #1): the
  * driver's test embeddings are uniform noise — the worst case for
  * both the LSH init (hyperplane buckets carry no semantic locality)
  * and NN-descent (a neighbor's neighbors are no likelier to be close
  * than random draws), so the kNN-graph dial priced on them may be
  * mispriced for a REAL embedding corpus, which is clustered by
  * construction (topics, templates, languages). This main writes a
  * mixture-of-Gaussians corpus: k seed centroids with md5-style
  * hash-derived coordinates uniform in ±`amp`, each vector assigned a
  * centroid by id hash and offset per-dim by sigma·N(0,1) noise
  * (Box–Muller over two hash-derived uniforms — trivially
  * deterministic: same args, bit-identical corpus, no RNG state).
  * Coordinate amplitude defaults match the driver corpus (~±0.35) so
  * quantization (`vec_qdot`'s 2²⁰ fixed point) and norms behave
  * identically across the two fixtures and a sweep line differs only
  * in STRUCTURE, never in numeric regime.
  *
  *   runMain graft.ClusteredGen <outDir> <n> [k=32] [sigmaX1000=80] [ampX1000=350]
  *
  * Writes ONLY embeddings.parquet — schema-identical to the driver
  * layout (vec_id BIGINT, embedding FLOAT[64], label INT; label = the
  * true mixture component, so recall audits can also read cluster
  * purity) — which is the one table KnnBench/[[ext.Similarity]] read.
  */
object ClusteredGen {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val n = args(1).toLong
    val k = args.lift(2).map(_.toInt).getOrElse(32)
    val sigma = args.lift(3).map(_.toInt).getOrElse(80) / 1000.0
    val amp = args.lift(4).map(_.toInt).getOrElse(350) / 1000.0
    val spark = GraftSession.local()

    def u(seed: String, mod: Long): String =
      // hash-derived uniform in (0, 1]: +1 keeps ln() off zero
      s"(pmod(xxhash64(concat('$seed|', cast(vec_id as string), '|', cast(i as string))), ${mod}L) + 1) / $mod.0D"
    val cent =
      s"(pmod(xxhash64(concat('cent|', cast(label as string), '|', cast(i as string))), 2001L) - 1000) / 1000.0D * $amp"
    val gauss =
      s"sqrt(-2.0D * ln(${u("g1", 1048576L)})) * cos(6.283185307179586D * ${u("g2", 1048576L)})"

    spark.range(n)
      .select(
        col("id").as("vec_id"),
        expr(s"cast(pmod(xxhash64(concat('lab|', cast(id as string))), $k) as int)").as("label"))
      .select(col("vec_id"), col("label"),
        expr(s"transform(sequence(0, 63), i -> cast($cent + $sigma * $gauss as float))")
          .as("embedding"))
      .select("vec_id", "embedding", "label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"""{"clusteredgen":"$out","n":$n,"k":$k,"sigma":$sigma,"amp":$amp}""")
    spark.stop()
  }
}
