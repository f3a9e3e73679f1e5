package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.Tables
import graft.sim.Similarity

/** Similarity search over the `embeddings` table. The dot products are
  * left-folds with float→double widening on both engines, so scores are
  * bit-identical and even top-k rankings compare exactly. */
object SimilarityQueries {

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < 5)

  /** DuckDB dot product of two embedding refs (left fold, double lanes). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, ${Similarity.Dim}), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private def planeProjSql(emb: String, p: Int): String = {
    s"list_reduce(list_transform(generate_series(1, ${Similarity.Dim}), " +
      s"i -> $emb[i]::DOUBLE * ((($p * 73 + (i - 1) * 179) % 97 - 48)::DOUBLE)), (x, y) -> x + y)"
  }

  /** Oracle expansion cap for the corpus-sized plane count (test SFs yield
    * 4–6 planes; anything ≤ MaxOraclePlanes mirrors exactly). 40 planes
    * covers any physical corpus (64·2^40 ≈ 7e13 vectors) — the CASE
    * expansion grows only linearly, so the oracle width never forces the
    * engine path back onto a coarse bucket count. */
  private val MaxOraclePlanes = 40

  /** CTE computing the corpus-sized plane count — the same pure-integer
    * `smallest p with n ≤ occupancy·2^p, floored` rule as
    * [[Similarity.planesFor]], so Spark (driver count) and DuckDB (scalar
    * subquery) agree exactly, including at power-of-two boundaries. */
  private def planesCte(corpus: String): String =
    s"""np AS (
       |  SELECT CAST(coalesce(min(p), $MaxOraclePlanes) AS INT) AS npl
       |  FROM (SELECT unnest(range(${Similarity.PairGenMinPlanes}, $MaxOraclePlanes + 1)) AS p)
       |  WHERE (SELECT count(*) FROM $corpus) <= ${Similarity.PairGenOccupancy} * (1::BIGINT << p)
       |)""".stripMargin

  /** Bucket signature with the plane count read from the `np` CTE: bit p
    * contributes only when p < npl. */
  private def sizedBucketSql(emb: String): String =
    (0 until MaxOraclePlanes).map { p =>
      s"(CASE WHEN $p < npl THEN (CASE WHEN ${planeProjSql(emb, p)} > 0 THEN ${1L << p} ELSE 0 END) ELSE 0 END)"
    }.mkString(" + ")

  // ---- deterministic IVF (Ivf.fit) mirror -----------------------------------

  private val IvfNlist = 8
  private val IvfIters = 3
  private val IvfNprobe = 4
  private val IvfK = 10

  /** Dot of two DOUBLE lists (no cast — inputs already double). */
  private def dotQSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, ${Similarity.Dim}), " +
      s"i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** The assignment score x·c − ‖c‖²/2 (argmax ≡ nearest by L2) — the same
    * left-folds Ivf.cellScores evaluates, so scores are bit-identical. */
  private def ivfScoreSql(q: String, c: String): String =
    s"(${dotQSql(q, c)} - list_reduce(list_transform($c, x -> x * x), (x, y) -> x + y) / 2.0)"

  /** One Lloyd step: assign to `prev` centroids, then per-(cell, dim)
    * decimal-exact mean requantized to 6 decimals; empty cells carry. */
  private def ivfStepSql(prev: String, assignOut: String, centOut: String): String =
    s"""$assignOut AS (
       |  SELECT vec_id, q, cid FROM (
       |    SELECT e.vec_id, e.q, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${ivfScoreSql("e.q", "c.c")} DESC, c.cid) AS rn
       |    FROM embq e CROSS JOIN $prev c
       |  ) WHERE rn = 1
       |), $centOut AS (
       |  SELECT p.cid, coalesce(u.c, p.c) AS c
       |  FROM $prev p LEFT JOIN (
       |    SELECT cid, list(m ORDER BY dim) AS c FROM (
       |      SELECT a.cid, d.i AS dim,
       |        round(CAST(CAST(sum(CAST(a.q[d.i] AS DECIMAL(38,18))) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS m
       |      FROM $assignOut a CROSS JOIN (SELECT unnest(generate_series(1, ${Similarity.Dim})) AS i) d
       |      GROUP BY a.cid, d.i
       |    ) GROUP BY cid
       |  ) u USING (cid)
       |)""".stripMargin

  private def ivfOracleSql: String = {
    val steps = (1 to IvfIters)
      .map(t => ivfStepSql(s"c${t - 1}", s"a$t", s"c$t")).mkString(", ")
    s"""WITH embq AS (
       |  SELECT vec_id, embedding, list_transform(embedding, x -> round(x::DOUBLE, 6)) AS q
       |  FROM embeddings
       |), c0 AS (
       |  SELECT cid, c FROM (
       |    SELECT CAST(row_number() OVER (
       |        ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id) AS INT) - 1 AS cid,
       |      q AS c
       |    FROM embq
       |  ) WHERE cid < $IvfNlist
       |), $steps, corpus AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${ivfScoreSql("e.q", "c.c")} DESC, c.cid) AS rn
       |    FROM embq e CROSS JOIN c$IvfIters c
       |  ) WHERE rn = 1
       |), probed AS (
       |  SELECT query_id, q_emb, cid FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${ivfScoreSql("e.q", "c.c")} DESC, c.cid) AS rn
       |    FROM embq e CROSS JOIN c$IvfIters c WHERE e.vec_id < 5
       |  ) WHERE rn <= $IvfNprobe
       |), scored AS (
       |  SELECT p.query_id, s.vec_id, ${cosineSql("p.q_emb", "s.embedding")} AS cosine
       |  FROM corpus s JOIN probed p ON s.cid = p.cid AND s.vec_id <> p.query_id
       |)
       |SELECT query_id, vec_id, cosine, rk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM scored
       |) WHERE rk <= $IvfK""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("sim_cosine_scores",
      s"""SELECT q.vec_id AS query_id, e.vec_id,
         |  ${cosineSql("q.embedding", "e.embedding")} AS cosine
         |FROM embeddings e
         |JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         |  ON e.vec_id <> q.vec_id""".stripMargin) { (s, dir) =>
      Similarity.bruteForceScores(Tables.embeddings(s, dir), queriesDf(s, dir))
    },

    Q("sim_bruteforce_topk",
      s"""WITH scores AS (
         |  SELECT q.vec_id AS query_id, e.vec_id,
         |    ${cosineSql("q.embedding", "e.embedding")} AS cosine
         |  FROM embeddings e
         |  JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         |    ON e.vec_id <> q.vec_id
         |)
         |SELECT query_id, vec_id, cosine, rk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM scores
         |) WHERE rk <= 10""".stripMargin) { (s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), queriesDf(s, dir), 10)
    },

    // embedding-cosine near-duplicate detection: candidate pairs from the
    // LSH bucket equi-join, verified with the exact (bit-identical) cosine.
    Q("dedup_embedding_cosine",
      s"""WITH aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0
         |), ${planesCte("aug")}, e AS (
         |  SELECT vec_id, embedding, ${sizedBucketSql("embedding")} AS bucket FROM aug, np
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosineSql("a.embedding", "b.embedding")} AS cosine
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.6""".stripMargin) { (s, dir) =>
      val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val dups = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val aug = base.unionByName(dups)
      // corpus-sized signature (planesFor): one cheap driver count — the
      // standard index-build pattern — then a fixed-width bucket expression
      // clamped to the oracle's expansion width: beyond MaxOraclePlanes the
      // CTE's scalar would go NULL and bucket everything to 0 (all-pairs
      // blow-up) while Spark kept sharding — fail-safe to the common width
      val planes = math.min(MaxOraclePlanes, Similarity.planesFor(aug.count(),
        Similarity.PairGenOccupancy, Similarity.PairGenMinPlanes))
      val e = aug.select(col("vec_id"), col("embedding"),
        Similarity.lshBucket(col("embedding"), planes).as("bucket"))
      e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cosine"))
        .filter(col("cosine") >= 0.6)
    },

    // IVF ANN, fully value-golden: hash-seeded init + 3 Lloyd iterations on
    // 6-decimal-quantized vectors (decimal-exact means ⇒ bit-identical
    // centroids), assignment/probing on the quantized grid, exact cosine on
    // raw embeddings. The DuckDB mirror unrolls the same three iterations.
    Q("sim_ivf_ann", ivfOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val index = graft.sim.Ivf.fit(emb, nlist = IvfNlist, iters = IvfIters)
      graft.sim.Ivf.search(emb, queriesDf(s, dir), index, k = IvfK, nprobe = IvfNprobe)
    },

    Q("sim_lsh_ann",
      s"""WITH ${planesCte("embeddings")}, e AS (
         |  SELECT vec_id, embedding, ${sizedBucketSql("embedding")} AS bucket FROM embeddings, np
         |), q AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, ${sizedBucketSql("embedding")} AS bucket
         |  FROM embeddings, np WHERE vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, e.vec_id, ${cosineSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
         |)
         |SELECT query_id, vec_id, cosine, rk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM scored
         |) WHERE rk <= 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val planes = math.min(MaxOraclePlanes, Similarity.planesFor(emb.count(),
        Similarity.PairGenOccupancy, Similarity.PairGenMinPlanes))
      Similarity.lshTopK(emb, queriesDf(s, dir), 10, planes)
    })
}
