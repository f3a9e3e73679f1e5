package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.{Ivf, Similarity}

/** IVF ANN gates on the real embeddings table: the fit and the search are
  * deterministic, centroids sit on the 6-decimal grid, full-probe search is
  * exact and few-probe recall@k against the brute-force oracle is high. */
class IvfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def topSet(df: DataFrame) = df
    .select("query_id", "vec_id").collect()
    .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ivf: cells partition the corpus; assignment is deterministic") {
    val emb = Tables.embeddings(spark, sf).cache()
    val index = Ivf.fit(emb, nlist = 8, seed = 42L)
    assert(index.centroids.length == 8)
    val cells = emb.withColumn("c", Ivf.cell(col("embedding"), index))
    val counts = cells.groupBy("c").count().collect()
    assert(counts.map(_.getLong(1)).sum == emb.count())
    assert(counts.length > 1) // corpus actually spreads over cells
    // refit with same seed → identical assignment
    val index2 = Ivf.fit(emb, nlist = 8, seed = 42L)
    val cells2 = emb.withColumn("c", Ivf.cell(col("embedding"), index2))
    assert(cells.select("vec_id", "c").exceptAll(cells2.select("vec_id", "c")).count() == 0)
    // two fit-and-search runs of the same input → identical ranked rows
    val queries = emb.filter(col("vec_id") < 5)
    def ranked(index: Ivf.Index) = Ivf.search(emb, queries, index, k = 10, nprobe = 4)
      .select("query_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val run1 = ranked(index)
    assert(run1.nonEmpty)
    assert(run1 == ranked(Ivf.fit(emb, nlist = 8, seed = 42L)),
      "refit + search returned different (query_id, vec_id, rk) rows")
    emb.unpersist()
  }

  test("ivf fit: deterministic centroids on the 6-decimal grid; full-probe equals brute force") {
    val emb = Tables.embeddings(spark, sf).cache()
    def cents(i: Ivf.Index) = i.centroids.map(_.toSeq).toSeq
    def assertOnGrid(i: Ivf.Index): Unit = i.centroids.flatten.foreach { x =>
      assert((BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble == x),
        s"centroid component $x off the 6-decimal grid")
    }
    val i1 = Ivf.fit(emb, nlist = 8, iters = 3)
    val i2 = Ivf.fit(emb, nlist = 8, iters = 3)
    assert(cents(i1) == cents(i2), "refit produced different centroids")
    assertOnGrid(i1)
    // Lloyd iterations actually moved the centroids off the init picks
    val i0 = Ivf.fit(emb, nlist = 8, iters = 0)
    assert(cents(i1) != cents(i0))
    // a seeded half sample refits to the same centroids, also on the grid
    val s1 = Ivf.fit(emb, nlist = 8, seed = 7L, sampleFraction = 0.5)
    val s2 = Ivf.fit(emb, nlist = 8, seed = 7L, sampleFraction = 0.5)
    assert(s1.centroids.length == 8)
    assert(cents(s1) == cents(s2), "sampled refit produced different centroids")
    assertOnGrid(s1)
    assert(cents(s1) != cents(i1)) // the sample, not the full corpus, was fitted

    val queries = emb.filter(col("vec_id") < 5)
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 10))
    val full = topSet(Ivf.search(emb, queries, i1, k = 10, nprobe = 8))
    assert(full == brute)
    emb.unpersist()
  }

  test("ivf fit: long-sum cell means are bit-identical to the DECIMAL(38,18) means") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 2 000 unit-norm 64-dim Gaussian float vectors (the perfbench corpus
    // shape), grouped into 16 cells of uneven size
    val dim = 64
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val q = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .select((pmod(xxhash64(col("vec_id")), lit(16L)) * (col("vec_id") % 3 + 1) % 16).as("cell"),
        Ivf.quantize(col("embedding")).as("q"))
    val decimal = (0 until dim).map(d =>
      round(sum(element_at(col("q"), d + 1).cast("decimal(38,18)"))
        .cast("decimal(38,6)").cast("double")
        / count(lit(1)).cast("double"), 6).as(s"m$d"))
    def means(aggs: Seq[Column]) = q.groupBy("cell").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getLong(0) -> (1 to dim).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
      .toMap
    val (viaLong, viaDecimal) = (means(Ivf.cellMeans(col("q"), dim)), means(decimal))
    assert(viaLong.size == 16)
    assert(viaLong == viaDecimal)
  }

  test("ivf: full-probe search equals brute force; few-probe recall is high") {
    val emb = Tables.embeddings(spark, sf).cache()
    val queries = emb.filter(col("vec_id") < 5)
    val index = Ivf.fit(emb, nlist = 8, seed = 42L)

    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 10))
    // probing ALL cells is exact: identical result set to brute force
    val full = topSet(Ivf.search(emb, queries, index, k = 10, nprobe = 8))
    assert(full == brute)
    // probing half the cells keeps recall high on clustered synthetic data
    val probed = topSet(Ivf.search(emb, queries, index, k = 10, nprobe = 4))
    val recall = (probed intersect brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall@10 with nprobe=4/8 was $recall")
  }
}
