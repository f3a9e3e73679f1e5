package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Kernels, TextExpressions}
import graft.text.TextOps

/** Deduplication operators for web-scale corpus curation: exact (content
  * hash), n-gram Jaccard (inverted-index pair generation), MinHash+LSH
  * banding, and SimHash. All are shuffle-shaped the way the 100 TB versions
  * must be: pair candidates come from equi-joins on content-derived keys
  * (shingle / band / simhash bucket), never from a cross join; the only
  * wide rows are (doc_id, shingle) postings with map-side projection.
  */
object Dedup {

  /** Stable 60-bit content hash from md5 (identical hex prefix parse on the
    * SQL side: ('0x' || substr(md5(s),1,15))::BIGINT). */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles (distinct, first-occurrence order). Codegen'd
    * kernel; value-identical to [[shinglesHof]] (KernelsSpec asserts). */
  def shingles(text: Column, n: Int = 3): Column =
    TextExpressions.shingles(text, n)

  /** Round-1 HOF formulation — parity baseline only (interpreted lambdas). */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val w = TextOps.tokens(text)
    array_distinct(transform(sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(w, i, lit(n)))))
  }

  /** Exact duplicate groups: docs whose full text hashes equal; canonical =
    * min doc_id. One hash-shuffle on the 60-bit content hash — at scale this
    * is the cheapest possible grouping (no text comparison re-shuffle since
    * collision probability at 2^60 is negligible for dedup purposes).
    *
    * Deliberately row-per-doc window aggregates, NOT
    * `collect_list(doc_id)` + explode: a degenerate corpus with d copies
    * of one document would materialize a single d-entry array row (the
    * unbounded-group failure mode the LSH bucket caps exist to prevent —
    * and this operator is the one users are told to run FIRST, so it must
    * survive exactly that corpus). The window form never builds a list:
    * WindowExec buffers the hash group as spillable sorted rows, so
    * memory stays bounded at any duplication factor — DedupSpec runs a
    * 120k-copy group through it. */
  def exactDuplicates(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = documents.select(col("doc_id"), md5Hash60(col("text")).as("content_hash"))
    val wHash = Window.partitionBy("content_hash")
    hashed
      .withColumn("group_size", count(lit(1)).over(wHash))
      .withColumn("canonical_id", min("doc_id").over(wHash))
      .filter(col("group_size") > 1 && col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "canonical_id", "group_size")
  }

  /** Default document-frequency cap: shingles appearing in more than this
    * many documents (boilerplate, stopword runs) are excluded from pair
    * generation. Without a cap, ONE hot shingle with df = d contributes
    * d·(d−1)/2 candidate pairs — quadratic blowup at corpus scale; with the
    * cap, per-shingle work is bounded by DfCap²/2 and total work by
    * |shingles|·DfCap²/2. Pairs whose overlap is exclusively hot shingles
    * are dropped (standard near-dup practice: boilerplate overlap is not
    * duplication evidence); for pairs that survive, `jaccard` is computed
    * from capped intersections only, i.e. a conservative underestimate. */
  val DefaultDfCap = 128

  /** Candidate near-duplicate pairs with exact n-gram Jaccard ≥ threshold.
    *
    * Physical shape (the one that survives 100 TB): postings are shuffled
    * by shingle ONCE — a window count(df) and the postings-list aggregation
    * share the same exchange — hot shingles are dropped BEFORE any list is
    * materialized (bounded ≤ dfCap memory per group), and pairs come from a
    * double explode of each capped postings list (work ∝ Σ_s min(df,cap)²)
    * instead of a second self-join shuffle. */
  def jaccardPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.5,
                   dfCap: Int = DefaultDfCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = documents.select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
    // per-doc shingle count = the size of the (distinct) shingle array —
    // map-only, replacing the old explode+groupBy(doc_id) second shuffle
    // of the full postings stream with a projection on the document scan
    val sizes = documents.select(col("doc_id"), size(shingles(col("text"), n)).cast("long").as("n_sh"))
    val wSh = Window.partitionBy("shingle")
    val lists = sh
      .withColumn("df", count(lit(1)).over(wSh))
      .filter(col("df") >= 2 && col("df") <= dfCap) // singletons pair nothing; hot = capped
      .groupBy("shingle")
      .agg(collect_list("doc_id").as("ids"))
    val inter = lists
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
  }

  /** Default band-bucket occupancy cap for the LSH pair generators. A band
    * bucket holding d docs contributes d·(d−1)/2 candidate pairs AND one
    * collect_list row of d entries — both quadratic/unbounded when a
    * degenerate bucket forms (exact-duplicate clusters, boilerplate or
    * near-empty docs sharing a band signature). Buckets above the cap are
    * dropped from pair generation, bounding per-bucket memory at cap
    * entries and per-bucket work at cap²/2 — the same reasoning as
    * [[DefaultDfCap]] for shingle postings. Recall note: a pair is kept if
    * ANY of its shared buckets is under the cap, and giant buckets are
    * dominated by exact-duplicate clusters — run [[exactDuplicates]] first
    * (one cheap hash-groupBy) and LSH only over canonical survivors, and
    * the cap costs essentially nothing. */
  val DefaultBucketCap = 256

  /** Skew multiplier over expected occupancy for corpus-relative caps —
    * shared by [[simhashCapFor]] and the in-plan default in
    * [[simhashPairs]] so the two can never drift. */
  val SkewFactor = 16

  /** SimHash bucket cap. Unlike minhash bands (content-derived keys, huge
    * keyspace — only true near-dup clusters collide, so a FIXED cap is
    * right), simhash band keys live in the fixed 2^bandBits keyspace, so
    * typical occupancy is structurally N / 2^bandBits and grows with the
    * corpus. A degenerate bucket is therefore one far above EXPECTED
    * occupancy: cap = max(DefaultBucketCap, SkewFactor · ⌈N / 2^bandBits⌉).
    * Once N / 2^bandBits itself is too large for cap²-bounded pair work the
    * banding is saturated and no cap can save it — widen the signature /
    * bands (simhashPairs scaladoc), which this cap turns from an OOM into
    * an explicit, logged drop. */
  def simhashCapFor(corpusSize: Long, bandBits: Int = 8, skewFactor: Int = SkewFactor): Int = {
    val expected = math.ceil(corpusSize.toDouble / (1L << bandBits)).toLong
    math.max(DefaultBucketCap.toLong, skewFactor * expected).min(Int.MaxValue).toInt
  }

  val NumMinhash = 16
  val BandSize = 4
  def minhashA(j: Int): Long = Kernels.minhashA(j)
  def minhashB(j: Int): Long = Kernels.minhashB(j)

  /** MinHash signature component j over the shingle set:
    * min over shingles of (a_j · h(s) + b_j) mod p, h = 60-bit md5 prefix
    * reduced mod p (keeps products < 2^63). Interpreted parity reference
    * for the [[minhashSignatures]] kernel (KernelsSpec asserts): each call
    * re-shingles and re-hashes the text. */
  def minhash(text: Column, j: Int, n: Int = 3): Column =
    array_min(transform(shingles(text, n),
      s => (lit(minhashA(j)) * (md5Hash60(s) % TextOps.HashPrime)
        + lit(minhashB(j))) % TextOps.HashPrime))

  /** MinHash-LSH candidate pairs: docs sharing any band bucket, verified
    * with exact Jaccard. Explodes docs × bands (constant factor 4), joins on
    * (band_id, band_key) — the classic banding join that keeps candidate
    * generation linear in bucket occupancy at corpus scale.
    *
    * Physical shape: map-only. One codegen'd kernel per document shingles
    * the text once, md5-hashes each shingle once and keeps all 16 running
    * minima ([[Kernels.minhashSig]]); `mh0..mh15` are the elements of its
    * array. A document's signature reads only its own text, so nothing is
    * shuffled, and computing each component as a separate [[minhash]]
    * expression would re-hash every shingle 16×. Documents with null text
    * have no shingles and no signature row. Integer math ⇒ the values of
    * [[minhash]]. */
  def minhashSignatures(documents: DataFrame, n: Int = 3): DataFrame = {
    val sig = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), TextExpressions.minhashSig(col("text"), n, NumMinhash).as("sig"))
    sig.select(col("doc_id") +: (0 until NumMinhash).map(j => col("sig")(j).as(s"mh$j")): _*)
  }

  def minhashLshPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.5,
                      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val nBands = NumMinhash / BandSize
    val sigs = minhashSignatures(documents, n)
    val banded = sigs.select(col("doc_id"),
      posexplode(array((0 until nBands).map { b =>
        concat_ws("_", (b * BandSize until (b + 1) * BandSize)
          .map(j => col(s"mh$j").cast("string")): _*)
      }: _*)).as(Seq("band_id", "band_key")))
    // candidates via per-bucket postings lists (one shuffle of the banded
    // rows) instead of a banded⋈banded self-join — the join formulation
    // evaluates the whole signature chain once per side. Buckets above
    // `bucketCap` are dropped (see DefaultBucketCap) — mirrored in the
    // DuckDB oracle — BEFORE any list is materialized: the occupancy
    // window and the postings groupBy hash-partition on the same key, so
    // Catalyst reuses ONE exchange and no row ever exceeds cap entries.
    import org.apache.spark.sql.expressions.Window
    val wBucket = Window.partitionBy("band_id", "band_key")
    val cand = banded
      .withColumn("occ", count(lit(1)).over(wBucket))
      .filter(col("occ").between(2, bucketCap))
      .groupBy("band_id", "band_key")
      .agg(collect_list("doc_id").as("ids"))
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val texts = documents.select(col("doc_id"), shingles(col("text"), n).as("sh"))
    val withSh = cand
      .join(texts.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    val interSize = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    withSh
      .withColumn("jaccard", interSize / (size(col("sh_a")) + size(col("sh_b")) - interSize))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  val SimhashBits = Kernels.SimhashBits

  /** 32-bit SimHash over whitespace tokens: bit b is set iff the sum of
    * ±1 votes from each token's hash bit b is positive. Interpreted parity
    * reference for the [[simhashValues]] kernel (KernelsSpec asserts): it
    * hashes each token once per bit, and gives 0 for null text. */
  def simhash32(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val hashes = transform(toks,
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    (0 until SimhashBits).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** (doc_id, simhash) per document with non-null text, as one map-only
    * projection: the codegen'd [[Kernels.simhash32]] tokenizes once, hashes
    * each token ONCE and counts all 32 votes in one pass. Integer math ⇒
    * the values of [[simhash32]]; documents with null text have no tokens
    * and no row. */
  def simhashValues(documents: DataFrame): DataFrame =
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"), TextExpressions.simhash(col("text")).as("simhash"))

  /** SimHash near-duplicate pairs, bucketed by `32/bandBits` sub-keys of
    * `bandBits` bits each and verified with bit_count. The pigeonhole
    * guarantee needs nBands ≥ maxHamming + 1 (any two hashes within Hamming
    * h differ in ≤ h bands, so they share ≥ nBands − h); the default 4 × 8
    * bits covers Hamming ≤ 3. At corpus scale, bucket occupancy ≈
    * N / 2^bandBits per band — shrink bandBits (more, narrower bands) only
    * for higher Hamming radii, and widen it (e.g. 2 × 16 bits for Hamming
    * ≤ 1) to keep occupancy bounded as N grows.
    *
    * `bucketCap < 0` (the default) sizes the cap from the corpus IN-PLAN:
    * a one-row count aggregate broadcast-cross-joined onto the banded
    * frame (the lmScore one-row-vocab pattern), evaluating
    * [[simhashCapFor]]'s integer formula as a Column. The operator stays
    * lazily composable — no action at construction time, no second run of
    * an expensive upstream pipeline — and the count branch is a
    * column-pruned scan of `documents` inside the same job. A FIXED
    * default would be structurally wrong here: simhash band keys live in
    * the fixed 2^bandBits keyspace, so expected occupancy grows with N
    * and a constant cap silently drops essentially every bucket at corpus
    * scale (the failure simhashCapFor's scaladoc derives).
    *
    * The Hamming filter runs BEFORE the `(doc_a, doc_b)` distinct: a pair's
    * distance is a function of its two simhashes, so every copy of a pair
    * (one per shared band) carries the same value, and filtering first only
    * stops the distinct's exchange from shipping candidates it would drop. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3, bandBits: Int = 8,
                   bucketCap: Int = -1): DataFrame = {
    val nBands = SimhashBits / bandBits
    require(nBands >= maxHamming + 1,
      s"need ≥ ${maxHamming + 1} bands for Hamming ≤ $maxHamming, got $nBands")
    // the count branch exists ONLY on the default path — an explicit cap
    // must not cost an extra run of a possibly-expensive upstream
    val capped: DataFrame => DataFrame =
      if (bucketCap >= 0) { df => df.filter(col("occ") >= 2 && col("occ") <= bucketCap) }
      else { df =>
        val capCol = least(
          greatest(lit(DefaultBucketCap.toLong),
            lit(SkewFactor.toLong) *
              ceil(col("__corpus_n").cast("double") / (1L << bandBits)).cast("long")),
          lit(Int.MaxValue.toLong))
        df.crossJoin(broadcast(documents.agg(count(lit(1)).as("__corpus_n"))))
          .filter(col("occ") >= 2 && col("occ") <= capCol)
          .drop("__corpus_n")
      }
    val mask = (1L << bandBits) - 1
    val sh = simhashValues(documents)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)): _*)).as(Seq("band_id", "band_key")))
    // per-bucket postings lists carrying (doc_id, simhash) pairs — one
    // shuffle, simhash computed once (the self-join form doubled the
    // signature pass). Over-`bucketCap` buckets are dropped via an
    // occupancy window BEFORE collect_list (shared exchange, bounded rows)
    // — see DefaultBucketCap; mirrored in the DuckDB oracle.
    import org.apache.spark.sql.expressions.Window
    val wBucket = Window.partitionBy("band_id", "band_key")
    capped(banded.withColumn("occ", count(lit(1)).over(wBucket)))
      .groupBy("band_id", "band_key")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ids"))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Connected components over an undirected edge list — the clustering
    * step that turns pairwise near-dup evidence (exact / Jaccard / LSH /
    * SimHash pairs) into duplicate clusters with one canonical doc each
    * (cluster id = min doc_id in the component).
    *
    * Algorithm: iterative min-label propagation. Each round does one
    * equi-join (edges ⋈ labels on src) + one min-aggregate — two bounded
    * hash shuffles, rows ≤ |E|+|V|, no per-node state wider than (id,
    * comp). Each round ends with a pointer-jumping shortcut —
    * comp(v) ← comp(comp(v)), sound because comp(x) ≤ x and comp(x) stays
    * inside x's component — which halves label-chain lengths, so rounds =
    * O(log diameter) even on adversarial long-chain graphs (near-dup
    * components are near-cliques and close in 2–3 rounds regardless);
    * `maxIter` bounds the worst case, and exhausting it THROWS — an
    * unconverged label set is not a weaker answer, it is a wrong one
    * (labels mid-propagation split real components), so the failure must
    * be attributable rather than silent.
    *
    * Fault tolerance: lineage is truncated per round with an eager
    * checkpoint so the plan stays O(1) deep. When the SparkContext has a
    * checkpoint directory configured (`sc.setCheckpointDir` — the cluster
    * deployment path), rounds use RELIABLE `checkpoint()`: blocks live in
    * the fault-tolerant store and survive executor loss mid-propagation.
    * Without one it falls back to `localCheckpoint` (executor-block
    * storage) — fine on local[*] where executor == driver, but a lost
    * executor on a real cluster kills the job because the truncated
    * lineage has no recompute path; DedupSpec exercises both modes.
    * Reliable-mode storage note: each round's checkpoint stays on disk
    * for the session (Spark only garbage-collects them with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, which
    * long-running curation services should set — rounds+2 checkpoints of
    * ≤ |E|+|V| rows per invocation otherwise accumulate).
    *
    * Ids that are not integral (strings, say) are first mapped to their
    * rank among all ids, so propagation runs on longs and the minimum rank
    * is the minimum id; the labels are mapped back at the end.
    *
    * Returns (id, comp) for every vertex that appears in `edges`.
    */
  def connectedComponents(edges: DataFrame, a: String = "doc_a", b: String = "doc_b",
      maxIter: Int = 20): DataFrame = {
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def persist(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
    edges.schema(a).dataType match {
      case ByteType | ShortType | IntegerType | LongType => propagate(edges, a, b, maxIter, persist)
      case idType =>
        val ids = edges.select(col(a).as("v")).union(edges.select(col(b).as("v")))
          .distinct().orderBy("v")
        val ranks = persist(edges.sparkSession.createDataFrame(
          ids.rdd.zipWithIndex.map { case (r, i) => Row(r.get(0), i) },
          StructType(Seq(StructField("v", idType), StructField("n", LongType)))))
        def rank(c: String, as: String) =
          ranks.select(col("v").as(c), col("n").as(as))
        val ranked = edges.select(col(a).as("__a"), col(b).as("__b"))
          .join(rank("__a", "src"), "__a").join(rank("__b", "dst"), "__b")
        propagate(ranked, "src", "dst", maxIter, persist)
          .join(rank("id_v", "id"), "id").join(rank("comp_v", "comp"), "comp")
          .select(col("id_v").as("id"), col("comp_v").as("comp"))
    }
  }

  private def propagate(edges: DataFrame, a: String, b: String, maxIter: Int,
      persist: DataFrame => DataFrame): DataFrame = {
    // materialize the symmetric edge list once — every propagation round
    // joins against it, and without this the (possibly expensive) edge
    // derivation upstream would recompute per round
    val sym = persist(edges.select(col(a).as("src"), col(b).as("dst"))
      .union(edges.select(col(b).as("src"), col(a).as("dst")))
      .distinct())
    // fused round 0: the init label of v is min(v, min neighbor) — the
    // result of the first propagation round — computed directly from the
    // symmetric edge list with ONE aggregate (the old id-distinct init paid
    // the same shuffle and then needed a full join+agg round to get here)
    var labels = persist(sym.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("comp")))
    // labels only ever DECREASE (min-propagation, and the pointer jump
    // substitutes comp(comp(v)) ≤ comp(v)), so Σcomp is a strictly
    // decreasing integer potential and "Σ unchanged" ⟺ "no label moved" —
    // one tiny aggregate per round instead of the old join+isEmpty probe
    def potential(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("comp").cast("decimal(38,0)")), count(lit(1))).head
      require(!r.isNullAt(0) || r.getLong(1) == 0,
        "connectedComponents: null label potential; convergence cannot be decided")
      r.getDecimal(0)
    }
    var prevPot = potential(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      val afterMin = labels.union(prop)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jump: comp(v) ← comp(comp(v)). comp(x) ≤ x, so the parent
      // lookup only ever lowers labels and stays within the component.
      val parent = afterMin.select(col("id").as("pid"), col("comp").as("pcomp"))
      val next = persist(afterMin.join(parent, afterMin("comp") === parent("pid"))
        .select(col("id"), col("pcomp").as("comp")))
      val pot = potential(next)
      converged = pot == prevPot
      prevPot = pot
      labels = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter rounds — " +
        "labels are mid-propagation and would split real components; raise maxIter " +
        "(rounds grow O(log graph-diameter) under pointer jumping)")
    labels
  }

  /** Duplicate clusters from an edge list: every clustered doc with its
    * cluster id (min doc_id in the component) and the cluster size. */
  def duplicateClusters(edges: DataFrame, a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    val cc = connectedComponents(edges, a, b)
    val sizes = cc.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"), col("cluster_size"))
  }
}
