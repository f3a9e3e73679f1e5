package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextOps

/** Dedup / text / similarity operator semantics on hand-built corpora. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different text with other words entirely here"),
    (5L, "spark engines shuffle data between executors constantly")
  ).toDF("doc_id", "text")

  test("exact duplicates: canonical = min id, non-canonical rows emitted") {
    val out = Dedup.exactDuplicates(docs).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 2L && out(0).getLong(1) == 1L && out(0).getLong(2) == 2L)
  }

  test("exact duplicates: a degenerate 120k-copy group completes with bounded rows") {
    // the collect_list formulation this replaced would build ONE 120k-entry
    // array row here; the window form buffers spillable sorted rows instead
    val degenerate = spark.range(120000).select(
      format_string("d%06d", col("id")).as("doc_id"), lit("same text every time").as("text"))
    val out = Dedup.exactDuplicates(degenerate)
    assert(out.count() == 119999L)
    val first = out.orderBy("doc_id").head()
    assert(first.getAs[String]("doc_id") == "d000001")
    assert(first.getAs[String]("canonical_id") == "d000000")
    assert(first.getAs[Long]("group_size") == 120000L)
  }

  test("n-gram jaccard finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.4)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (x, y) => x == 4L || y == 4L })
  }

  test("minhash identical for identical text; LSH recovers exact dups") {
    val mh1 = docs.filter($"doc_id" === 1).select(Dedup.minhash(col("text"), 3)).head.getLong(0)
    val mh2 = docs.filter($"doc_id" === 2).select(Dedup.minhash(col("text"), 3)).head.getLong(0)
    assert(mh1 == mh2)
    val pairs = Dedup.minhashLshPairs(docs, n = 3, threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash: equal for identical text, close for near-dups, far for unrelated") {
    val sh = docs.select(col("doc_id"), Dedup.simhash32(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) <= 8)
    assert(sh.values.forall(v => v >= 0 && v < (1L << 32)))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs default cap composes lazily (no job at construction)") {
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Dedup.simhashPairs(docs, maxHamming = 3) // default in-plan cap
    assert(tracker.getJobIdsForGroup(null).length == before,
      "constructing simhashPairs ran a Spark job (eager corpus count)")
    // the in-plan cap filters like the driver-side formula would
    val expected = Dedup.simhashCapFor(docs.count())
    val viaExplicit = Dedup.simhashPairs(docs, maxHamming = 3, bucketCap = expected)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLazy = plan
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLazy == viaExplicit)
  }

  test("simhashPairs: the (doc_a, doc_b) distinct shuffles only in-radius pairs") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // 1 000 random 12-word documents: every 8-bit band bucket holds ~4 of
    // them, so each shares a band with a dozen others at Hamming ~16, plus
    // 30 exact copies, the only pairs within Hamming ≤ 3 (checked below).
    // One shuffle partition puts every candidate of the distinct's map side
    // in one task, so its partial aggregate emits each pair once.
    val s1 = spark.newSession()
    s1.conf.set("spark.sql.shuffle.partitions", "1")
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 500).map(i => s"w$i")
    val base = (1L to 1000L).map(i => i -> Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val copies = (1L to 30L).map(i => (5000L + i) -> base((i * 31).toInt)._2)
    val corpus = s1.createDataFrame(base ++ copies).toDF("doc_id", "text")
    val sims = Dedup.simhashValues(corpus).collect().map(r => r.getLong(0) -> r.getLong(1))
    def shareBand(a: Long, b: Long) = (0 until 4).exists(k => ((a ^ b) >>> (8 * k) & 255L) == 0L)
    val cand = for {
      i <- sims.indices; j <- i + 1 until sims.length
      if shareBand(sims(i)._2, sims(j)._2)
    } yield java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2)
    val inRadius = cand.count(_ <= 3)
    assert(inRadius >= 30 && cand.size > 10 * inRadius, s"${cand.size} candidates, $inRadius in radius")

    val pairs = Dedup.simhashPairs(corpus, maxHamming = 3)
    assert(pairs.collect().length == inRadius)
    val helper = new AdaptiveSparkPlanHelper {}
    val shipped = helper.collect(pairs.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case HashPartitioning(keys, _) =>
          keys.collect { case a: Attribute => a.name } == Seq("doc_a", "doc_b")
        case _ => false
      }) => e.metrics("shuffleRecordsWritten").value
    }
    assert(shipped == Seq(inRadius.toLong))
  }

  test("text ops: token counts, quality, language id, fingerprints") {
    val r = docs.filter($"doc_id" === 1).select(
      TextOps.tokenCount(col("text")),
      TextOps.bpeTokenCount(col("text")),
      TextOps.punctCount(col("text")),
      TextOps.langId(col("text")),
      TextOps.polyHash(col("text")),
      TextOps.fingerprint(col("text"))).head
    assert(r.getInt(0) == 9)
    assert(r.getInt(1) == 9)
    assert(r.getInt(2) == 0)
    assert(r.getString(3) == "en")
    assert(r.getLong(4) > 0)
    assert(r.getLong(5) > 0)
    // identical texts fingerprint identically
    val fps = docs.filter($"doc_id" <= 2).select(TextOps.fingerprint(col("text")))
      .collect().map(_.getLong(0)).toSet
    assert(fps.size == 1)
  }

  test("df-cap drops pairs whose only overlap is hot shingles") {
    // 5 docs sharing one boilerplate 3-gram (df = 5) plus unique tails
    val hot = (1L to 5L).map(i => (i, s"shared boilerplate prefix unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(hot, n = 3, threshold = 0.01, dfCap = 4).count()
    assert(capped == 0) // the only shared shingle exceeds the cap
    val uncapped = Dedup.jaccardPairs(hot, n = 3, threshold = 0.01, dfCap = 128).count()
    assert(uncapped == 10) // all C(5,2) pairs share the boilerplate shingle
  }

  test("bucket cap drops degenerate LSH band buckets (1k identical docs)") {
    // 1000 exact copies: every band bucket holds all 1000 docs — without a
    // cap that's a 1000-entry collect_list row and 500k pair candidates per
    // band. With the cap the degenerate bucket is dropped entirely (the
    // exact-dedup-first precondition handles the cluster), while a small
    // genuine near-dup cluster in the same corpus is still found.
    val degenerate = (1L to 1000L).map(i => (i, "same boilerplate text repeated everywhere always"))
    val distinct = Seq(
      (2001L, "a genuinely unique document about spark shuffles and joins"),
      (2002L, "a genuinely unique document about spark shuffles and joins"))
    val corpus = (degenerate ++ distinct).toDF("doc_id", "text")
    val mh = Dedup.minhashLshPairs(corpus, n = 3, threshold = 0.9, bucketCap = 256)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((2001L, 2002L))) // degenerate bucket dropped, real pair kept
    val sh = Dedup.simhashPairs(corpus, maxHamming = 3, bucketCap = 256)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh == Set((2001L, 2002L)))
    // simhashCapFor: skew-relative — fixed floor at small N, 16× expected above
    assert(Dedup.simhashCapFor(1000L) == 256)
    assert(Dedup.simhashCapFor(1000000L) == 16 * math.ceil(1000000.0 / 256).toInt)
  }

  test("planesFor sizes the LSH signature to corpus scale") {
    assert(Similarity.planesFor(1000) == Similarity.NumPlanes) // floor
    assert(Similarity.planesFor(1000000000L, 4096) == 18)
    // pair-generation sizing (query-path knobs): data-dependent, low floor
    assert(Similarity.planesFor(550, 64, 4) == 4)
    assert(Similarity.planesFor(2200, 64, 4) == 6)
    // inclusive at exact power-of-two boundaries (integer math, no log2 ulp)
    assert(Similarity.planesFor(1L << 18, 64, 4) == 12)
    assert(Similarity.planesFor((1L << 18) + 1, 64, 4) == 13)
    // 10⁹ vectors at occupancy 64 → 24 planes
    assert(Similarity.planesFor(1000000000L, 64, 4) == 24)
    // occupancy n / 2^p stays ≤ target as n grows 1000×
    for (n <- Seq(1e6.toLong, 1e9.toLong, 1e12.toLong)) {
      val p = Similarity.planesFor(n, 4096)
      assert(n.toDouble / math.pow(2, p) <= 4096.0, s"n=$n p=$p")
    }
  }

  test("simhash band width: 2×16-bit banding still recovers exact dups at hamming<=1") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 1, bandBits = 16)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 3, bandBits = 16) // 2 bands < 4 needed
    }
  }

  test("cosine similarity: self = 1, fold is deterministic, topk ranks by score") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val self = embs.select(Similarity.cosine(col("embedding"), col("embedding"))).collect()
    self.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
    val q = embs.filter($"vec_id" === 0)
    val top = Similarity.bruteForceTopK(embs, q, 3)
      .orderBy("rk").select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L, 3L))
  }
}
