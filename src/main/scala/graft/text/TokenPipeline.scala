package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Token-level training-data pipeline over the engine's ingest shape —
  * the pre-tokenized sequence table `(doc_id: string, tokens: array<int32>,
  * n_tok: int32, source: string)`:
  *
  *  - [[fromDocuments]]: deterministic word→int32 tokenizer (md5-derived
  *    ids, the BPE slot in a real deployment) producing that exact shape;
  *  - [[vocabStats]]: corpus vocabulary tf/df — one partial-agg shuffle;
  *  - [[hashSplit]]: train/val/test assignment by a content-stable hash of
  *    doc_id — map-only, NO shuffle (a split that shuffles 100 TB is wrong);
  *  - [[dupSpans]]: exact duplicated token-window map (the span-cut input
  *    of Lee et al. 2022, "Deduplicating Training Data Makes Language
  *    Models Better"): every W-token window that occurs ≥2 times anywhere
  *    in the corpus, per occurrence. Work is linear in total tokens and
  *    output linear in duplicate occurrences — no pair generation at all,
  *    so unlike pairwise near-dup there is no quadratic risk to cap;
  *  - [[packChunks]]: concat-and-chunk sequence packing into fixed
  *    `chunkSize`-token training examples (doc order = doc_id within
  *    source, chunks never cross sources). Each doc emits at most
  *    n_tok/C + 1 array *slices* — tokens are never exploded row-per-token,
  *    so the shuffle moves each token once, inside its slice.
  */
object TokenPipeline {

  /** Stable int32 token id in [0, 1e9+7) from the md5 of the word —
    * SQL-mirrorable: ('0x' || substring(md5(w), 1, 8))::BIGINT % 1000000007. */
  def tokenId(w: Column): Column =
    (conv(substring(md5(w), 1, 8), 16, 10).cast("long") % 1000000007L).cast("int")

  /** documents(doc_id, text, source) → the tokenized-sequence table. */
  def fromDocuments(documents: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    documents.select(
      col("doc_id").cast("string").as("doc_id"),
      transform(toks, tokenId(_)).as("tokens"),
      size(toks).cast("int").as("n_tok"),
      col("source"))
  }

  /** Corpus vocabulary: term frequency + document frequency per token. */
  def vocabStats(tokens: DataFrame): DataFrame =
    tokens.select(col("doc_id"), explode(col("tokens")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))

  /** Deterministic train/val/test split: bucket = md5-hash(doc_id) % 100,
    * <trainPct train, <trainPct+valPct val, else test. Content-stable
    * (reruns and late-arriving shards land identically) and map-only. */
  def hashSplit(tokens: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = Dedup.md5Hash60(col("doc_id")) % 100
    tokens.select(col("doc_id"), col("source"), col("n_tok"),
      bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Duplicated-span map: every W-token window (stride 1) whose ~60-bit
    * double-modulus rolling hash occurs ≥ 2 times in the corpus, as
    * (doc_id, pos, win_hash, df). Downstream span-cutting removes
    * [pos, pos+w) from all-but-one occurrence. One exchange (the df count
    * over win_hash).
    *
    * Window hashing is the O(1)-per-window prefix rolling-hash kernel
    * ([[graft.functions.Kernels.tokenWindowHashes]]) — ONE codegen'd pass
    * per doc — replacing the round-3 md5-over-reconcatenated-string form
    * that paid O(w) string building + digest per position (~16× the CPU at
    * w=16 on the corpus-dominant operator). KernelsSpec asserts parity
    * with the interpreted fold; the DuckDB oracle mirrors the fold
    * exactly via zero-seeded list_reduce. */
  def dupSpans(tokens: DataFrame, w: Int = 16): DataFrame = {
    val wins = tokens.filter(col("n_tok") >= w)
      .select(col("doc_id"),
        posexplode(graft.functions.TextExpressions.tokenWindowHashes(col("tokens"), w))
          .as(Seq("p0", "win_hash")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("win_hash"))
    wins.withColumn("df", count(lit(1)).over(Window.partitionBy("win_hash")))
      .filter(col("df") >= 2)
  }

  /** Span-cut completion of [[dupSpans]] (the actual dedup of Lee et al.):
    * per duplicated window hash the globally-first occurrence — min
    * (doc_id-as-number, doc_id, pos); the try_cast sorts numeric-string
    * corpora numerically and degrades to a pure-string total order (cast
    * NULL for every id) on non-numeric id schemes — is kept, every other
    * occurrence marks its
    * W token positions for removal; overlapping cut windows union. Returns
    * per-doc (doc_id, n_tok, n_cut, n_kept). Work: one row_number window
    * over win_hash + a W-fold explode of cut occurrences only (not of the
    * corpus), distinct, count — all equi-shuffles, output one row per doc. */
  def dupSpanCutStats(tokens: DataFrame, w: Int = 16): DataFrame = {
    val dup = dupSpans(tokens, w)
    // numeric-first keeper order with the raw string as tiebreaker: for
    // non-numeric ids the bigint cast is NULL and the string doc_id keeps
    // the order total — without it the keeper among ties would be
    // partition-order-dependent. Null placement is ENGINE-DIVERGENT by
    // default (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), so the
    // oracle pins NULLS FIRST explicitly to match Spark on mixed-id
    // corpora.
    val keeper = Window.partitionBy("win_hash")
      .orderBy(expr("try_cast(doc_id AS bigint)"), col("doc_id"), col("pos"))
    // countDistinct instead of distinct()+count: Catalyst's distinct-agg
    // rewrite colocates by doc_id ONCE and dedups cp within the group —
    // the explicit distinct() paid a second exchange on (doc_id, cp)
    val cut = dup.withColumn("rn", row_number().over(keeper))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("cp"))
      .groupBy("doc_id").agg(countDistinct("cp").as("n_cut"))
    tokens.select("doc_id", "n_tok")
      .join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        (col("n_tok") - coalesce(col("n_cut"), lit(0L))).as("n_kept"))
  }

  /** Vocabulary-truncation OOV statistics: tokens outside the top-`k`
    * corpus vocabulary (by tf, ties to the smaller token id — a total
    * order) count as OOV; output one row per non-empty doc
    * (doc_id, n_tok, n_oov, oov_ratio) — the signal that sizes a
    * tokenizer's vocab against a corpus. Shape: one tf aggregate (vocab
    * rows, tiny next to the corpus), rank window over the vocab only,
    * OOV join broadcast by stats, per-doc partial agg — the corpus
    * payload never shuffles. */
  def oovStats(tokens: DataFrame, k: Int): DataFrame = {
    val ex = tokens.select(col("doc_id"), explode(col("tokens")).as("t"))
    val tf = ex.groupBy("t").agg(count(lit(1)).as("tf"))
    // top-k vocab via orderBy+limit (a distributed TakeOrdered with the
    // same (tf DESC, t) total order) instead of a row_number over a GLOBAL
    // window, which serialized the whole vocab into one partition. A token
    // is OOV iff it is NOT in the top-k set — bounded by the PARAMETER k,
    // not the vocab, so the corpus-side membership test never needs a
    // corpus shuffle (guide §3.1; the old rare-set join had no usable size
    // estimate and sort-merge-joined the exploded corpus).
    val topk = tf.orderBy(col("tf").desc, col("t")).limit(k).select("t")
    if (k <= 1024) {
      // small-k fast path: carry the top-k set as ONE in-plan array row
      // (the lmScore one-row-vocab pattern — lazy, broadcast-cross-joined)
      // and count OOV per doc with a map-side array filter. ZERO joins and
      // ZERO exchanges on the corpus; per-token membership is a ≤k linear
      // scan, which at k ≤ 1024 is cheaper than probing a hash relation.
      val topkArr = topk.agg(collect_list(col("t")).as("__topk"))
      val nOov = size(filter(col("tokens"), t => !array_contains(col("__topk"), t)))
        .cast("long")
      tokens.filter(col("n_tok") > 0)
        .crossJoin(broadcast(topkArr))
        .select(col("doc_id"), col("n_tok"), nOov.as("n_oov"),
          (nOov.cast("double") / col("n_tok").cast("double")).as("oov_ratio"))
    } else {
      // large-k path: broadcast anti-join (hash-relation probe, O(1)/token)
      val oov = ex.join(broadcast(topk), Seq("t"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
      tokens.filter(col("n_tok") > 0).select("doc_id", "n_tok")
        .join(oov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          (coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tok").cast("double"))
            .as("oov_ratio"))
    }
  }

  /** Temperature-scaled source mixing (the mT5/ROOTS sampling law,
    * p(s) ∝ n_s^α with α < 1 boosting rare sources): realized as per-doc
    * deterministic ACCEPTANCE with rate_s = (n_s / n_min)^(α−1) — the
    * smallest source is kept whole, larger sources are down-sampled
    * toward the tempered mixture — gated by a content hash, so the
    * sample is reproducible under retries/re-partitioning and
    * engine-mirrorable. Rates are rounded to 9 decimals (pow is the one
    * libm call); the 20-bit hash fraction is exact, so the comparison is
    * bit-identical on both engines. Shape: a per-source count (tiny)
    * broadcast onto a map-only filter — the corpus never shuffles. */
  def sourceMix(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    val counts = documents.groupBy("source").agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min("__n").as("__nmin"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("__rate",
        round(pow(col("__n").cast("double") / col("__nmin").cast("double"), alpha - 1.0), 9))
      .select(col("source"), col("__rate"))
    val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"), col("source"))),
      1, 5), 16, 10).cast("double") / 1048576.0
    documents.join(broadcast(rates), "source")
      .filter(h < col("__rate"))
      .drop("__rate")
  }

  /** Span-aware duplication burden per doc: maximal RUNS of consecutive
    * duplicated window positions from [[dupSpans]] (gaps-and-islands:
    * pos − row_number is constant within a run), each run of k positions
    * covering a duplicated span of k + w − 1 tokens. Output one row per
    * doc WITH duplicated windows: (doc_id, n_dup_windows, n_runs,
    * longest_span) — the "is this doc one giant boilerplate block or
    * lightly contaminated" signal a corpus-quality dashboard ranks on,
    * without suffix structures: two window shuffles (df + the per-doc
    * run numbering) and a per-doc aggregate. */
  def longestDupSpan(tokens: DataFrame, w: Int = 16): DataFrame = {
    val dd = dupSpans(tokens, w).select("doc_id", "pos")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    dd.withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
      .groupBy("doc_id")
      .agg(sum("run_len").as("n_dup_windows"),
        count(lit(1)).as("n_runs"),
        (max("run_len") + (w - 1)).as("longest_span"))
  }

  /** Document-boundary variant of [[packChunks]]: every doc gets the
    * `eos` token appended before packing (the standard GPT-style
    * boundary-marking form — each document ends with EOS, so a training
    * example never silently glues two docs without a separator).
    * Zero-token docs are dropped FIRST, per convention — without the
    * filter they would inject contentless lone-EOS tokens and shift every
    * later chunk boundary. Pure composition: a map-only token rewrite
    * followed by the identical two-phase packing, so it inherits every
    * scale property and the shared oracle shape. */
  def packChunksWithEos(tokens: DataFrame, eos: Int, chunkSize: Int = 128): DataFrame =
    packChunks(
      tokens.filter(col("n_tok") > 0)
        .withColumn("tokens", concat(col("tokens"), array(lit(eos))))
        .withColumn("n_tok", col("n_tok") + 1),
      chunkSize)

  /** Benchmark decontamination (the eval-overlap gate every training-data
    * pipeline needs): flag corpus docs sharing any W-token window with a
    * benchmark/eval set, by the same double-modulus rolling window hash as
    * [[dupSpans]]. Returns one row per contaminated doc:
    * (doc_id, n_hit_windows, n_distinct_hits).
    *
    * 100 TB shape: the benchmark side reduces to a DISTINCT window-hash
    * set (eval suites are thousands of docs — broadcast by stats, never
    * forced); the corpus side is a map-only kernel explode into that
    * join, and only HIT rows reach the per-doc aggregation — the corpus
    * itself is never shuffled. */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame, w: Int = 8,
                       shuffleHashJoin: Boolean = false): DataFrame = {
    def wins(df: DataFrame) = df.filter(col("n_tok") >= w)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.tokenWindowHashes(col("tokens"), w))
          .as("win_hash"))
    val benchHashes = wins(benchmark).select("win_hash").distinct()
    // Past-broadcast regime (guide §3.2/§3.1): when the bench window-hash
    // set exceeds the broadcast budget the planner falls back to a
    // sort-merge join, and the measured scaling gap (round-5 §2c probe:
    // 0.74 of the session ceiling) was the two corpus-sized SORTS feeding
    // it on single-box disk bandwidth. The opt-in, result-identical lever
    // `shuffleHashJoin` hints the bench side SHUFFLE_HASH — both sides
    // still shuffle, but neither sorts (the bench side builds a
    // per-partition hash map; fine whenever bench/partitions fits in
    // memory). It defaults OFF: in the broadcast regime (eval suites of
    // thousands of docs) the plain stats-driven broadcast join is already
    // optimal.
    val joinBench = if (shuffleHashJoin) benchHashes.hint("shuffle_hash") else benchHashes
    wins(corpus).join(joinBench, "win_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_windows"),
        countDistinct("win_hash").as("n_distinct_hits"))
  }

  /** CCNet-style language-model quality score: per-doc mean log-likelihood
    * under an add-one-smoothed corpus bigram model,
    * p(b|a) = (c(a,b)+1) / (c(a)+V). Per-bigram logs are rounded to 9
    * decimals (JVM/DuckDB `ln` may differ in the last ulp — the trig rule)
    * and summed as DECIMAL(38,12), so the per-doc aggregate is
    * order-independent and engine-exact; the mean is the one final
    * division. Shape: two count aggregations + one equi-join of the
    * exploded doc bigrams against the model — the model tables shuffle
    * once and at web scale are tiny next to the corpus; the vocabulary
    * size rides as a broadcast one-row cross join, so composing this
    * operator stays fully LAZY (no eager driver job) and the optimizer
    * schedules all model scans in one action. Self-scored here (model =
    * scoring corpus); pass a different `model` for held-out scoring.
    * Output shape: one row per doc WITH ≥2 tokens — 0/1-token docs have
    * no bigram to score and are absent (left-join back onto the corpus
    * if every doc needs a row). */
  def lmScore(tokens: DataFrame, model: DataFrame): DataFrame = {
    val bigrams = (df: DataFrame) => df.filter(col("n_tok") >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), col("n_tok") - 1),
        i => struct(element_at(col("tokens"), i).as("a"),
          element_at(col("tokens"), i + 1).as("b")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    val bigramCounts = bigrams(model).groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // c(a) = Σ_b c(a,b): derived from the reduced table, not a second
    // full-corpus shuffle
    val prefixCounts = bigramCounts.groupBy("a").agg(sum("c_ab").as("c_a"))
    val vocab = model.select(explode(col("tokens")).as("t"))
      .agg(countDistinct("t").as("__vs"))
    // coalesce: unseen bigrams/prefixes (held-out scoring) smooth to 1/V+
    val logp = round(log((coalesce(col("c_ab"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c_a"), lit(0L)) + col("__vs")).cast("double")), 9)
    // SELF-scored (model eq tokens — the lm_perplexity / ccnet shape):
    // every scored bigram is by construction present in the model tables
    // (same frame, same n_tok≥2 filter, same pair extraction), so the two
    // left joins collapse to ONE inner join against a pre-joined
    // per-bigram score table. The cab⋈ca pre-join is MODEL-sized (bigram
    // vocab rows), while the old second join shuffled the full exploded
    // corpus stream again on `a` — one corpus-wide exchange+sort removed
    // at any scale. Held-out scoring keeps the general two-join path
    // (unseen bigrams/prefixes must smooth through the left-join nulls).
    val scoredStream =
      if (tokens eq model) {
        val lpTable = bigramCounts.join(prefixCounts, "a")
          .crossJoin(broadcast(vocab))
          .select(col("a"), col("b"), logp.as("__lp"))
        bigrams(tokens).join(lpTable, Seq("a", "b"))
          .select(col("doc_id"), col("__lp").as("lp"))
      } else {
        bigrams(tokens)
          .join(bigramCounts, Seq("a", "b"), "left")
          .join(prefixCounts, Seq("a"), "left")
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"), logp.as("lp"))
      }
    scoredStream
      .select(col("doc_id"),
        col("lp").cast("decimal(38,12)").as("lp"))
      .groupBy("doc_id")
      // each lp carries exactly 9 decimals, so the decimal sum has ≤9
      // decimals of significance and round(·, 9) is numerically a no-op —
      // it only RESCALES the decimal before the one cast to double, so the
      // scaled integer entering the conversion is 1000× smaller (exact
      // below |sum| ≈ 9e6, vs ≈ 9e3 at scale 12) and both engines convert
      // identically (the vaep_player_rating requantize pattern)
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")), 9).cast("double").as("sum_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_logp"),
        (col("sum_logp") / col("n_bigrams")).as("avg_logp"))
  }

  /** One-slot cache lifecycle for the pack metadata frame: the persist is
    * load-bearing (phase-1 local prefixes and phase-2 base offsets must
    * observe the SAME spark_partition_id assignment, and AQE does not
    * reuse divergently-pruned exchanges), but it must not accumulate — a
    * long-running curation service calls packChunks per batch. Each call
    * releases the previous call's frame, so at most one ~16-byte/row
    * metadata frame is ever cached per JVM. Concurrent packChunks plans
    * built before the earlier one executes would recompute (correct,
    * just uncached) — sequential pipelines, the normal case, never do. */
  private val lastPackMeta =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Concat-and-chunk packing: per source, docs in doc_id order are laid
    * out on a global token axis (running-sum offset) and cut into
    * `chunkSize` chunks; a doc overlapping k chunk boundaries contributes
    * k+1 slices. Returns (source, chunk_id, tokens, n_tok, n_docs,
    * doc_starts) with chunk_id restarting at 0 per source and
    * `doc_starts` the 0-based in-chunk positions where a document BEGINS
    * (the boundary-mask input packed training needs; a chunk opening
    * mid-document has no 0 entry); the final chunk per source may be
    * short. Chunk assembly shuffles each token exactly once inside its
    * slice struct.
    *
    * The running-sum offset is a TWO-PHASE PREFIX SUM, not a
    * `Window.partitionBy(source)` running sum — that window clusters an
    * entire source into ONE task, so a 100 TB corpus with a handful of
    * sources would compute its offsets on a handful of tasks. And it runs
    * over a 3-column METADATA projection (source, doc_id, n_tok) — the
    * token arrays never ride the offset path: (0) the metadata frame is
    * range-partitioned on (source, doc_id) — so partition order agrees
    * with the per-source doc order — and PERSISTED (≈16 bytes/row; the
    * standard fan-out materialization; MEMORY_AND_DISK blocks are
    * LRU-evictable, so repeated pack jobs in one long session degrade to
    * recompute rather than accumulate — `spark.catalog.clearCache()`
    * reclaims eagerly) so the two offset consumers share one scan, one
    * shuffle, and one fixed `spark_partition_id` assignment; (1) each task computes its LOCAL running sum (the window
    * key includes the range-partition id, so no group exceeds one range
    * partition); (2) per-(partition, source) token totals — a few rows
    * per task — are cumulated into per-partition base offsets and
    * broadcast back; off = base + local, joined onto the token table by
    * doc_id. Work per task is bounded by the range-partition size at ANY
    * source skew, the heavy token payload moves only in the offset join
    * and the chunk assembly, and the value of `off` — hence every
    * downstream chunk — is identical to the single-window form
    * (TokenPipelineSpec asserts; identical oracle). */
  def packChunks(tokens: DataFrame, chunkSize: Int = 128): DataFrame = {
    val c = chunkSize
    val nParts = tokens.sparkSession.sessionState.conf.numShufflePartitions
    val meta = tokens.filter(col("n_tok") > 0)
      .select(col("source"), col("doc_id"), col("n_tok"))
      .repartitionByRange(nParts, col("source"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OneSlotCache.swap(lastPackMeta, meta)
    // (1) local prefix within (range partition, source) — parallel across
    // the range partitions regardless of how few sources exist
    val localPrev = Window.partitionBy("pid", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // (2) tiny per-(pid, source) totals → cumulative base offset of each
    // partition within its source (rows = partitions × sources touched,
    // not corpus rows), broadcast back under the local prefixes
    val basePrev = Window.partitionBy("source").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = meta.groupBy("pid", "source").agg(sum("n_tok").as("ptot"))
      .withColumn("base", coalesce(sum("ptot").over(basePrev), lit(0L)).cast("long"))
      .select("pid", "source", "base")
    val offsets = meta
      .withColumn("loff", coalesce(sum("n_tok").over(localPrev), lit(0L)).cast("long"))
      .join(broadcast(bases), Seq("pid", "source"))
      // (source, doc_id) is the packing key — doc_ids need not be unique
      // ACROSS sources
      .select(col("source"), col("doc_id"), (col("base") + col("loff")).as("off"))
    val t = tokens.filter(col("n_tok") > 0).join(offsets, Seq("source", "doc_id"))
    val gstart = greatest(col("off"), col("chunk_id") * c)
    val gend = least(col("off") + col("n_tok"), (col("chunk_id") + 1) * c)
    t.select(col("source"), col("off"), col("tokens"), col("n_tok"),
        explode(sequence(floor(col("off") / c),
          floor((col("off") + col("n_tok") - 1) / c))).as("chunk_id"))
      .select(col("source"), col("chunk_id"), gstart.as("gstart"),
        slice(col("tokens"), (gstart - col("off") + 1).cast("int"),
          (gend - gstart).cast("int")).as("piece"),
        // pieces that BEGIN their document mark a boundary inside the
        // chunk (0-based position) — the attention/loss-mask input packed
        // training needs; collect_list drops the null continuation pieces
        when(gstart === col("off"),
          (gstart - col("chunk_id") * c).cast("int")).as("ds"))
      .groupBy("source", "chunk_id")
      .agg(sort_array(collect_list(struct(col("gstart"), col("piece")))).as("ps"),
        count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("ds"))).as("doc_starts"))
      .select(col("source"), col("chunk_id"),
        flatten(col("ps.piece")).as("tokens"), col("n_docs"), col("doc_starts"))
      .withColumn("n_tok", size(col("tokens")))
  }
}
