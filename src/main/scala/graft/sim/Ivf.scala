package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the k-means
  * counterpart to the random-hyperplane LSH path in [[Similarity]].
  *
  * Index: deterministic k-means centroids ([[fit]]) on a 6-decimal
  * quantization grid; every corpus vector is assigned to its nearest
  * centroid cell on that grid — a map-only argmax over the broadcast
  * centroid array (no shuffle).
  * Search: each query probes its `nprobe` nearest cells (replicated by
  * explode), candidates come from the cell equi-join, exact cosine + top-k
  * inside the probed cells only.
  *
  * Scale math: with nlist cells and balanced assignment, per-query work is
  * nprobe·N/nlist exact cosines instead of N — at N = 10⁹ and nlist =
  * √N ≈ 32k, a 16-probe search touches ~0.05% of the corpus. The centroid
  * array is nlist×dim floats (32k×64 ≈ 8 MB) — comfortably broadcast. The
  * assignment expression reuses the codegen'd FoldDot kernel per centroid.
  */
object Ivf {

  final case class Index(dim: Int, centroids: Array[Array[Double]])

  /** Index-grade quantization: each component rounded to 6 decimals (as a
    * double). Makes the Lloyd means exact — the whole index build becomes
    * value-golden (both engines round half-away-from-zero, and a sum of
    * 6-decimal values is an exact integer count of 10⁻⁶ units, see
    * [[cellMeans]]). Assignment uses the quantized vector; candidate
    * scoring stays on raw embeddings. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double"), 6))

  /** Deterministic k-means: hash-seeded init (the nlist vectors with the
    * smallest md5(vec_id) — a uniform, engine-mirrorable pick) + a FIXED
    * number of Lloyd iterations over quantized vectors. Per-cell means are
    * exact sums of the grid values ([[cellMeans]]) requantized to 6
    * decimals, so every centroid is bit-identical to the DuckDB mirror and
    * `sim_ivf_ann` is value-golden. With `sampleFraction` < 1
    * the fit runs on a `seed`ed sample of the corpus.
    *
    * Each iteration is one map-only assignment pass + one (cell, dim)
    * partial aggregate (nlist×dim rows collected — 8×64 here, ≤ a few MB
    * at any realistic nlist·dim); the corpus never shuffles its payload. */
  def fit(embeddings: DataFrame, nlist: Int, iters: Int = 3, seed: Long = 42L,
          sampleFraction: Double = 1.0): Index = {
    val sample =
      if (sampleFraction >= 1.0) embeddings
      else embeddings.sample(withReplacement = false, sampleFraction, seed)
    val embq = sample.select(col("vec_id"), quantize(col("embedding")).as("q")).cache()
    try {
      val h = conv(substr(md5(col("vec_id").cast("string")), lit(1), lit(15)), 16, 10).cast("long")
      val init = embq.orderBy(h.asc, col("vec_id").asc).limit(nlist)
        .select("q").collect()
      var cents: Array[Array[Double]] = init.map(r => r.getSeq[Double](0).toArray)
      val dim = cents(0).length
      for (_ <- 0 until iters) {
        val idx = Index(dim, cents)
        val aggs = cellMeans(col("q"), dim)
        val means = embq
          .withColumn("cellq", cell(col("q"), idx))
          .groupBy("cellq").agg(aggs.head, aggs.tail: _*)
          .collect()
        val next = cents.map(_.clone()) // empty cells keep their centroid
        means.foreach { r =>
          val c = r.getInt(0)
          var d = 0
          while (d < dim) { next(c)(d) = r.getDouble(d + 1); d += 1 }
        }
        cents = next
      }
      Index(dim, cents)
    } finally { embq.unpersist(); () }
  }

  /** The `dim` per-group mean aggregates of quantized vectors `q`, one
    * aggregate expression per component over element_at — no Generate node
    * (the posexplode form additionally tripped a janino method-split bug
    * inside the combined stage, falling back to interpreted eval) and no
    * dim× row explosion in the exchange.
    *
    * Every grid value is a 6-decimal v = m·10⁻⁶, and `round(q·10⁶)`
    * recovers its integer m exactly (|m| ≪ 2^51), so the long sum S = Σm is
    * exact and S / 10⁶ (S < 2^53 and 10⁶ both exact doubles) is the
    * correctly rounded double of the decimal sum Σv: bit-identical to the
    * DECIMAL(38,18) sum cast to double, at long-add cost. The mean is then
    * one division by the count and a requantization to 6 decimals. */
  private[graft] def cellMeans(q: Column, dim: Int): Seq[Column] =
    (0 until dim).map(d =>
      round(sum(round(element_at(q, d + 1) * 1e6).cast("long")).cast("double")
        / 1e6 / count(lit(1)).cast("double"), 6).as(s"m$d"))

  /** Scores against every centroid: x·c − ‖c‖²/2 (argmax ≡ nearest by L2),
    * as one array column; FoldDot per centroid, all map-only. */
  private def cellScores(emb: Column, index: Index): Column =
    array(index.centroids.map { c =>
      graft.functions.TextExpressions.dot(emb, typedLit(c.toSeq)) -
        lit(c.map(x => x * x).sum / 2.0)
    }: _*)

  /** Nearest-centroid cell id (0-based; ties → lowest id). */
  def cell(emb: Column, index: Index): Column = {
    val scores = cellScores(emb, index)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** The query's `nprobe` best cells, as an array (for explode). Sorted on
    * (−score, cell) so ties break to the LOWEST cell id — same total order
    * as a `score DESC, cell ASC` row_number, which the value-golden oracle
    * mirrors. */
  def probeCells(emb: Column, index: Index, nprobe: Int): Column = {
    val scores = cellScores(emb, index)
    slice(array_sort(zip_with(
      scores,
      typedLit(index.centroids.indices.map(_.toLong)),
      (s, i) => struct((-s).as("nscore"), i.as("cell")))), 1, nprobe)
  }

  /** ANN top-k: corpus partitioned by cell once, queries replicated to
    * their nprobe cells, exact cosine within probed cells. Cell assignment
    * and probing run on the quantized vectors, the grid [[fit]] fits the
    * centroids on, so the whole query is value-golden; scoring uses the raw
    * embeddings. */
  def search(embeddings: DataFrame, queries: DataFrame, index: Index,
             k: Int, nprobe: Int): DataFrame = {
    val corpus = embeddings
      .withColumn("ivf_cell", cell(quantize(col("embedding")), index))
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("probe", explode(probeCells(quantize(col("q_emb")), index, nprobe)))
      .select(col("query_id"), col("q_emb"), col("probe.cell").cast("int").as("ivf_cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(probed), Seq("ivf_cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosine(col("q_emb"), col("embedding")).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }
}
