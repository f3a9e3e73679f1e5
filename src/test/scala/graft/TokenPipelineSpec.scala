package graft

import org.apache.spark.sql.functions._

import graft.text.TokenPipeline

/** Edge semantics of the token-level pipeline (text/TokenPipeline.scala):
  * packing boundary algebra, dup-span stride-1 guarantees, split
  * determinism, and the ingest-shape contract. */
class TokenPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (String, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "source")

  test("fromDocuments produces the ingest shape with int32 tokens") {
    val t = TokenPipeline.fromDocuments(docs(("7", "a b c", "s1")))
    assert(t.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("doc_id", "string"), ("tokens", "array<int>"), ("n_tok", "int"), ("source", "string")))
    val r = t.head()
    val rToks = r.getSeq[Int](r.fieldIndex("tokens"))
    assert(rToks.length == 3 && r.getAs[Int]("n_tok") == 3)
    // same word → same token id, different word → different (md5-stable)
    val t2 = TokenPipeline.fromDocuments(docs(("8", "c a a", "s1"))).head()
    val t2Toks = t2.getSeq[Int](t2.fieldIndex("tokens"))
    assert(t2Toks(1) == t2Toks(2))
    assert(t2Toks(0) == rToks(2))
  }

  test("packChunks: exact boundary, straddling doc, per-source restart, short tail") {
    // source s1: docs of 4+4 tokens with C=4 → doc1 fills chunk 0 exactly,
    // doc2 fills chunk 1; then a 6-token doc straddles chunks 2..3 leaving
    // a 2-token tail. source s2 restarts at chunk 0.
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "a b c d", "s1"), ("02", "e f g h", "s1"), ("03", "i j k l m n", "s1"),
      ("10", "x y z", "s2")))
    val out = TokenPipeline.packChunks(t, chunkSize = 4)
      .select("source", "chunk_id", "n_tok", "n_docs")
      .as[(String, Long, Int, Long)].collect().toSet
    assert(out == Set(
      ("s1", 0L, 4, 1L), ("s1", 1L, 4, 1L), ("s1", 2L, 4, 1L), ("s1", 3L, 2, 1L),
      ("s2", 0L, 3, 1L)))
    // token order is preserved across the straddle: chunk 3 of s1 = [m n]
    val chunk3 = TokenPipeline.packChunks(t, chunkSize = 4)
      .filter(col("source") === "s1" && col("chunk_id") === 3)
      .select("tokens").as[Seq[Int]].head()
    val doc3 = t.filter(col("doc_id") === "03").select("tokens").as[Seq[Int]].head()
    assert(chunk3 == doc3.takeRight(2))
  }

  test("packChunks metadata cache: repeated calls never hold more than one frame") {
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "a b c d", "s1"), ("02", "e f g h", "s1"), ("10", "x y z", "s2")))
    def cachedMeta() = spark.sparkContext.getPersistentRDDs.values
      .count(_.name != null) // all persisted RDDs (the suite shares the session)
    val before = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 0 until 5) TokenPipeline.packChunks(t, chunkSize = 4).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"packChunks leaked cached metadata frames: $before → $after (${cachedMeta()})")
  }

  test("packChunks: two-phase offsets reproduce the per-source running sum exactly") {
    // 3 sources × 40 docs of varying lengths at shuffle.partitions=4, so
    // every source straddles several range partitions and the broadcast
    // base offsets genuinely stitch across partition boundaries
    val rows = for (s <- 1 to 3; i <- 1 to 40)
      yield (f"d$i%03d", (1 to (i * 7 % 11 + 1)).map(j => s"w${s}_${i}_$j").mkString(" "), s"src$s")
    val t = TokenPipeline.fromDocuments(rows.toDF("doc_id", "text", "source"))
    val got = TokenPipeline.packChunks(t, chunkSize = 16)
      .select("source", "chunk_id", "tokens", "n_docs")
      .as[(String, Long, Seq[Int], Long)].collect()
      .map { case (s, c, tk, nd) => ((s, c), (tk, nd)) }.toMap
    // driver-side reference: concat per source in doc_id order, cut at 16
    val byDoc = t.select("doc_id", "tokens", "source")
      .as[(String, Seq[Int], String)].collect()
    val expected = byDoc.groupBy(_._3).flatMap { case (src, ds) =>
      val ordered = ds.sortBy(_._1)
      val flat = ordered.flatMap(_._2)
      // doc start offsets → how many docs contribute to each chunk
      val offs = ordered.map(_._2.size).scanLeft(0)(_ + _)
      val spans = ordered.map(_._2.size).zip(offs).map { case (n, o) => (o, o + n) }
      flat.grouped(16).zipWithIndex.map { case (chunk, ci) =>
        val lo = ci * 16
        val hi = lo + chunk.size
        val nDocs = spans.count { case (s0, e0) => math.max(s0, lo) < math.min(e0, hi) }
        ((src, ci.toLong), (chunk.toSeq, nDocs.toLong))
      }
    }
    assert(got == expected)
  }

  test("packChunks plan: the only per-source window runs over the tiny partial sums") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val t = TokenPipeline.fromDocuments(docs(("01", "a b c", "s1"), ("02", "d e", "s1")))
    val lp = TokenPipeline.packChunks(t, chunkSize = 4).queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    // local prefix window keyed (pid, source) — parallel at any source count
    assert(wins.exists(_.partitionSpec.size == 2))
    // any single-key (source) window must sit over the per-(pid, source)
    // aggregate, never over the corpus — the round-3 scale-killer shape
    val srcOnly = wins.filter(_.partitionSpec.size == 1)
    assert(srcOnly.nonEmpty)
    assert(srcOnly.forall(w => w.child.collectFirst { case a: Aggregate => a }.nonEmpty))
  }

  test("packChunks doc_starts: boundary positions, mid-doc chunk has none") {
    // docs of 3+3 tokens at C=4: chunk 0 = [d1 | head of d2] with starts
    // at 0 and 3; chunk 1 = d2's tail only — NO boundary (mid-document)
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "a b c", "s1"), ("02", "d e f", "s1")))
    val out = TokenPipeline.packChunks(t, chunkSize = 4)
      .select("chunk_id", "doc_starts").as[(Long, Seq[Int])].collect().toMap
    assert(out(0L) == Seq(0, 3))
    assert(out(1L) == Seq.empty)
  }

  test("packChunksWithEos: one EOS per doc, sources end on EOS, interiors intact") {
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "a b c", "s1"), ("02", "d e f g", "s1"), ("10", "x y", "s2")))
    val out = TokenPipeline.packChunksWithEos(t, eos = -1, chunkSize = 4)
      .select("source", "chunk_id", "tokens")
      .as[(String, Long, Seq[Int])].collect().sortBy(c => (c._1, c._2))
    val all = out.groupBy(_._1).view.mapValues(_.flatMap(_._3).toSeq).toMap
    // s1 = doc1 ++ EOS ++ doc2 ++ EOS; s2 = doc10 ++ EOS
    assert(all("s1").count(_ == -1) == 2 && all("s1").last == -1)
    assert(all("s2").count(_ == -1) == 1 && all("s2").last == -1)
    assert(all("s1").length == 3 + 1 + 4 + 1)
    // non-EOS content equals the plain concatenation in doc order
    val plain = t.orderBy("source", "doc_id")
      .select("source", "tokens").as[(String, Seq[Int])].collect()
      .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSeq).toMap
    assert(all("s1").filter(_ != -1) == plain("s1"))
  }

  test("contaminatedDocs flags exactly the docs sharing an 8-token window") {
    val corpus = TokenPipeline.fromDocuments(docs(
      ("b1", "one two three four five six seven eight nine", "s"),
      ("c1", "zzz one two three four five six seven eight yyy", "s"),
      ("c2", "totally different words with no shared window here at all", "s"),
      ("c3", "short text", "s"))) // n_tok < 8 → can never be flagged
    val bench = corpus.filter($"doc_id" === "b1")
    val out = TokenPipeline.contaminatedDocs(corpus, bench, w = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // b1 (9 tokens → 2 windows) self-hits both; c1 embeds exactly the
    // first benchmark window ("one".."eight"); c2/c3 are clean
    assert(out("b1") == ((2L, 2L)))
    assert(out("c1") == ((1L, 1L)))
    assert(out.keySet == Set("b1", "c1"))
  }

  test("packChunks: chunk crossing a doc boundary concatenates in doc_id order") {
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "a b c", "s1"), ("02", "d e f", "s1")))
    val out = TokenPipeline.packChunks(t, chunkSize = 4)
      .orderBy("chunk_id").select("tokens", "n_docs").as[(Seq[Int], Long)].collect()
    val all = t.orderBy("doc_id").select("tokens").as[Seq[Int]].collect().flatten
    assert(out(0)._1 == all.take(4).toSeq && out(0)._2 == 2L)
    assert(out(1)._1 == all.drop(4).toSeq && out(1)._2 == 1L)
  }

  test("oovStats: tokens outside the top-k vocab count as OOV, zero-OOV docs kept") {
    // corpus tf: x→4, y→3, z→1, q→1 ⇒ top-2 = {x, y}
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "x x y z", "s"), ("02", "x y y q", "s"), ("03", "x x", "s")))
    val out = TokenPipeline.oovStats(t, k = 2).orderBy("doc_id")
      .select("doc_id", "n_tok", "n_oov").as[(String, Int, Long)].collect().toSeq
    assert(out == Seq(("01", 4, 1L), ("02", 4, 1L), ("03", 2, 0L)))
  }

  test("sourceMix: smallest source kept whole, larger sources down-sampled, deterministic") {
    val rows = (0 until 330).map(i =>
      (i.toString, s"tok$i body", if (i < 30) "small" else "big"))
    val d = rows.toDF("doc_id", "text", "source")
    val kept = TokenPipeline.sourceMix(d, alpha = 0.3)
    val bySource = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("small") == 30L) // rate (30/30)^(α−1) = 1: kept whole
    // big: rate (300/30)^(-0.7) ≈ 0.1995 → expect ~60 of 300, hash-binomial
    assert(bySource("big") > 30L && bySource("big") < 120L, s"big kept ${bySource("big")}")
    // deterministic: identical kept set on re-evaluation
    val k1 = kept.select("doc_id").collect().map(_.getString(0)).toSet
    val k2 = TokenPipeline.sourceMix(d, alpha = 0.3)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(k1 == k2)
  }

  test("longestDupSpan: runs of consecutive dup windows, span = run + w - 1") {
    // docs share a 6-token prefix (3 consecutive dup windows at w=4 →
    // span 6) and a 4-token suffix (1 isolated dup window); middles differ
    val t = TokenPipeline.fromDocuments(docs(
      ("01", "d1 d2 d3 d4 d5 d6 za zb zc e1 e2 e3 e4", "s"),
      ("02", "d1 d2 d3 d4 d5 d6 ya yb yc e1 e2 e3 e4", "s")))
    val out = TokenPipeline.longestDupSpan(t, w = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_dup_windows", "n_runs", "longest_span")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("01", 4L, 2L, 6L), ("02", 4L, 2L, 6L)))
    // a doc with no duplicated windows produces no row
    val t2 = TokenPipeline.fromDocuments(docs(("09", "u1 u2 u3 u4 u5", "s")) )
    assert(TokenPipeline.longestDupSpan(t2, w = 4).count() == 0)
  }

  test("dupSpans finds every aligned occurrence, skips short docs, df counts all") {
    val common = (1 to 16).map(i => s"w$i").mkString(" ")
    val t = TokenPipeline.fromDocuments(docs(
      ("01", common + " extra", "s"), ("02", "pre " + common, "s"),
      ("03", common, "s"), ("04", "short doc", "s")))
    val spans = TokenPipeline.dupSpans(t, w = 16)
      .select("doc_id", "pos", "df").as[(String, Int, Long)].collect().toSet
    // the 16-token run occurs at pos 1 (doc 01), pos 2 (doc 02), pos 1 (doc 03)
    assert(spans == Set(("01", 1, 3L), ("02", 2, 3L), ("03", 1, 3L)))
  }

  test("dupSpanCutStats keeps the first occurrence, cuts the rest, unions overlaps") {
    val common = (1 to 16).map(i => s"w$i").mkString(" ")
    val t = TokenPipeline.fromDocuments(docs(
      ("1", common + " tail1 tail2", "s"),     // keeper (min doc_id, pos)
      ("2", "pre " + common, "s"),             // cut: positions 2..17
      ("3", common + " " + common, "s")))      // cut: two overlapping-free spans 1..16, 18..33
    val full = TokenPipeline.dupSpanCutStats(t, w = 16)
      .as[(String, Int, Long, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    assert(full("1") == (0L, 18L))   // keeper doc untouched
    assert(full("2") == (16L, 1L))   // the copied window cut, "pre" kept
    // doc 3 (32 tokens): every window duplicates the keeper's hash or an
    // earlier in-doc window; all 32 positions covered by some cut window
    assert(full("3") == (32L, 0L))
  }

  test("lmScore: add-one smoothing, self and held-out unseen bigrams") {
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val model = TokenPipeline.fromDocuments(docs(("1", "aa bb aa bb", "s")))
    // model bigrams: (aa,bb)×2, (bb,aa)×1; prefix counts aa→2, bb→1; V=2
    val self = TokenPipeline.lmScore(model, model)
      .select("doc_id", "n_bigrams", "sum_logp").as[(String, Long, Double)].head()
    val expSelf = 2 * r9(math.log(3.0 / 4.0)) + r9(math.log(2.0 / 3.0))
    assert(self._2 == 3L && math.abs(self._3 - expSelf) < 1e-12)
    // held-out doc with an unseen bigram (cc,aa): smooths to 1/(0+V)
    val held = TokenPipeline.fromDocuments(docs(("2", "cc aa", "s")))
    val h = TokenPipeline.lmScore(held, model)
      .select("n_bigrams", "avg_logp").as[(Long, Double)].head()
    assert(h._1 == 1L && math.abs(h._2 - r9(math.log(1.0 / 2.0))) < 1e-12)
  }

  test("hashSplit is deterministic, exhaustive, and content-stable") {
    val t = TokenPipeline.fromDocuments(
      docs((1 to 200).map(i => (s"d$i", "a b", "s")): _*))
    val s1 = TokenPipeline.hashSplit(t).select("doc_id", "split")
      .as[(String, String)].collect().toMap
    val s2 = TokenPipeline.hashSplit(t.orderBy(rand(7))).select("doc_id", "split")
      .as[(String, String)].collect().toMap
    assert(s1 == s2 && s1.size == 200)
    val bySplit = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }
}
