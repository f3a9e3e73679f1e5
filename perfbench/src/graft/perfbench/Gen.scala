package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs in the schema of the repository's test tables (`events`,
  * `documents`, `embeddings`). The same seed gives the same rows; another
  * seed gives other rows at the same sizes. Nothing here reads existing
  * data: every table is made from the seed alone. */
object Gen {

  /** Mixes a seed and a stream number into an independent 63-bit seed. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val BaseMicros = 1704067200000000L // 2024-01-01T00:00:00Z

  /** `n` events (event_id, ts, user_id, event_type, value, props), shaped
    * like the test tables' `events`: ts uniform over 30 days, 15 users per
    * 1 000 events, five event types with equal shares, value exponential
    * with mean 50 (rounded to cents), props `{"k": 0..99}`. The ids start
    * at a seed-dependent base, so the id-derived provider fields (game,
    * type, coordinates) differ between seeds too. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val base = mix(seed, 0) % 1000000L * 1000L
    val users = math.max(1L, n * 15 / 1000)
    def r(k: Int) = rand(mix(seed, k))
    spark.range(0, n, 1, 4).select(
      (col("id") + base).as("event_id"),
      timestamp_micros(lit(BaseMicros) + (r(1) * 30L * 86400L * 1000000L).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      (r(2) * users).cast("long").as("user_id"),
      element_at(array(EventTypes.map(lit): _*), (r(3) * EventTypes.size).cast("int") + 1).as("event_type"),
      round(-log(lit(1.0) - r(4)) * 50, 2).as("value"),
      concat(lit("{\"k\": "), (r(5) * 100).cast("int").cast("string"), lit("}")).as("props"))
  }

  /** The test tables' document vocabulary: 30 words, "the" and "a" among
    * them, each about as frequent as the others. */
  private val Vocab = Seq("agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "value", "vector", "window", "the", "a")
  private val OtherLangs = Seq("zh", "es", "fr", "de")

  /** `n` documents (doc_id, text, lang, source, n_chars), shaped like the
    * test tables' `documents`: 10 to 100 words drawn uniformly from
    * [[Vocab]]; a `lang` label drawn apart from the text (41% "en", the
    * rest "zh", "es", "fr", "de" alike); sources `src0`..`src19` in turn.
    * As there, 8 in 5 000 documents (at least one) are exact copies and
    * one in twenty is a near copy, the text of another document with
    * " dup" appended; copies and originals sit at seeded positions. The
    * quality gate then drops the documents that hold neither "the" nor
    * "a" (about 9%). Also returns each exact copy's original, for checking
    * dedup. */
  def documents(spark: SparkSession, n: Int, seed: Long): (DataFrame, Map[Long, Long]) = {
    val rnd = new Random(mix(seed, 100))
    val nExact = math.max(1, math.round(n * 8.0 / 5000).toInt)
    val nNear = n / 20
    val copies = rnd.shuffle((0 until n).toVector).take(nExact + nNear)
    val copySet = copies.toSet
    val originals = (0 until n).filterNot(copySet)
    val texts = new Array[String](n)
    originals.foreach(i => texts(i) = Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    val exact = Map.newBuilder[Long, Long]
    copies.zipWithIndex.foreach { case (i, k) =>
      val o = originals(rnd.nextInt(originals.size))
      if (k < nExact) { texts(i) = texts(o); exact += (i.toLong -> o.toLong) }
      else texts(i) = texts(o) + " dup"
    }
    def lang(): String = if (rnd.nextDouble() < 0.41) "en" else OtherLangs(rnd.nextInt(OtherLangs.size))
    val rows = (0 until n).map(i =>
      Row(i.toLong, texts(i), lang(), s"src${i % 20}", texts(i).length.toLong))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      exact.result())
  }

  /** `n` unit vectors of dimension `dim` (vec_id, embedding, label), shaped
    * like the test tables' `embeddings`: directions uniform on the sphere
    * and labels 0..9 drawn apart from them, so the vectors form no
    * clusters. */
  def embeddings(spark: SparkSession, n: Int, dim: Int, seed: Long): DataFrame = {
    val rnd = new Random(mix(seed, 200))
    val rows = (0 until n).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }
}
