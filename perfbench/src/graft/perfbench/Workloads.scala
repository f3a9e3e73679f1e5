package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Spadl, SynKloppy, SynOpta, SynStatsBomb, SynWyscout}
import graft.dedup.Dedup
import graft.queries.MlQueries
import graft.sim.Ivf
import graft.sources.{Kloppy, Opta, StatsBomb, Wyscout}
import graft.streaming.{SessionEngine, SnapshotTable}
import graft.text.{TextOps, TokenPipeline}
import graft.vaep.{Features, Formula, FrozenGbt, GameStates, VaepModel, XgModel}
import graft.xt.XThreat

/** Input sizes. `full` is what the benchmark measures; `tiny` is for the
  * self-test. */
final case class Scale(eventsPerProvider: Long, trainEventsPerProvider: Long,
                       documents: Int, vectors: Int, queries: Int,
                       actionsPerGame: Int, filesPerSecond: Double)

object Scale {
  val full = Scale(eventsPerProvider = 4000, trainEventsPerProvider = 6000,
    documents = 2000, vectors = 2000, queries = 100,
    actionsPerGame = 400, filesPerSecond = 25)
  val tiny = Scale(eventsPerProvider = 600, trainEventsPerProvider = 1500,
    documents = 400, vectors = 400, queries = 20,
    actionsPerGame = 100, filesPerSecond = 20)
  def apply(name: String): Scale = name match {
    case "full" => full
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** What a workload run needs from the benchmark. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long, val scale: Scale) {
  def path(name: String): String = dir.resolve(name).toString
}

/** The check of one job's result: a digest, which the runner compares with
  * the digest recorded for the seed when there is one, and the problems
  * found by checks that need no recorded value. */
final case class Checked(digest: String, problems: Seq[String])

/** A closed-loop workload: each iteration is one job from input files to a
  * committed result; the next starts when the previous has finished. */
trait ClosedLoop {
  /** Makes the seeded inputs (repeatable: it overwrites earlier ones). */
  def prepare(): Unit
  /** The size of what [[prepare]] made. */
  def inputs(): Inputs
  /** Runs iteration `i` under `root` and returns its output row count. */
  def iteration(tr: Tracer, root: Int, i: Int): Long
  /** Checks iteration `i`'s result, then deletes it. */
  def check(i: Int): Checked
}

/** Order-independent digest of a frame: row count, distinct keys and the
  * sum of per-row hashes, with doubles rounded to 6 places. */
object Digest {
  def delete(dir: Path): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  private def parts(df: DataFrame, keys: Seq[String]): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType.typeName == "double" || f.dataType.typeName == "float") round(col(f.name), 6)
      else col(f.name)
    }
    Seq(count(lit(1)), count_distinct(col(keys.head), keys.tail.map(col): _*),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")))
  }

  private def fmt(r: Row, at: Int): String = s"${r.getLong(at)}/${r.getLong(at + 1)}/${r.get(at + 2)}"

  def of(df: DataFrame, keys: Seq[String]): String = {
    val p = parts(df, keys)
    fmt(df.agg(p.head, p.tail: _*).head, 0)
  }

  /** [[of]] for each value of the long column `group`. */
  def perGroup(df: DataFrame, group: String, keys: Seq[String]): Map[Long, String] = {
    val p = parts(df, keys)
    df.groupBy(group).agg(p.head, p.tail: _*).collect().map(r => r.getLong(0) -> fmt(r, 1)).toMap
  }

  /** The row count a digest records. */
  def rows(digest: String): Long = digest.takeWhile(_ != '/').toLong
}

/** The size of a workload's generated input, for the report: rows, games
  * (0 where the input has none) and bytes on disk. */
final case class Inputs(rows: Long, games: Long, bytes: Long) {
  def json: String = s"""{"rows": $rows, "games": $games, "bytes": $bytes}"""
}

object Inputs {
  /** Of the parquet tables at `paths`; games are the distinct values of
    * `gameCol` in each table, summed. */
  def of(spark: SparkSession, paths: Seq[String], gameCol: Option[String]): Inputs =
    paths.map { p =>
      val t = spark.read.parquet(p)
      val walk = Files.walk(java.nio.file.Paths.get(p))
      val bytes = try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum finally walk.close()
      Inputs(t.count(), gameCol.fold(0L)(g => t.select(g).distinct().count()), bytes)
    }.reduce((a, b) => Inputs(a.rows + b.rows, a.games + b.games, a.bytes + b.bytes))
}

/** Soccer inputs shared by the two batch soccer workloads. */
object Soccer {
  final case class Provider(name: String, raw: DataFrame => DataFrame, convert: DataFrame => DataFrame)

  val providers = Seq(
    Provider("statsbomb", SynStatsBomb.fromEvents, StatsBomb.convertToActions(_, SynStatsBomb.homeTeamId)),
    Provider("opta", SynOpta.fromEvents, Opta.convertToActions(_, SynOpta.homeTeamId)),
    Provider("wyscout", SynWyscout.fromEvents, Wyscout.convertToActions(_, SynWyscout.homeTeamId)),
    Provider("kloppy", SynKloppy.fromEvents, Kloppy.convertToActions))

  val ActionCols = Seq("game_id", "action_id", "period_id", "time_seconds", "team_id",
    "player_id", "start_x", "start_y", "end_x", "end_y", "type_id", "result_id",
    "bodypart_id", "seq")

  /** Each provider's raw feed, derived from its own seeded events through
    * the provider's `Syn*.fromEvents`, written under `dir/<provider>`. */
  def writeRaw(ctx: Ctx, dir: String, eventsPerProvider: Long): Unit =
    providers.zipWithIndex.foreach { case (p, k) =>
      p.raw(Gen.events(ctx.spark, eventsPerProvider, Gen.mix(ctx.seed, 10 + k)))
        .write.mode("overwrite").parquet(s"$dir/${p.name}")
    }

  /** Provider `k`'s raw feed converted to SPADL; game ids are moved into a
    * range of the provider's own so games of different feeds stay apart.
    * The Opta converter leaves the end of a few actions null (no next
    * event to take it from); like the Kloppy converter, such an action
    * ends where it starts, as the typed CEP scan needs coordinates. */
  def convert(spark: SparkSession, dir: String, k: Int): DataFrame =
    providers(k).convert(spark.read.parquet(s"$dir/${providers(k).name}"))
      .select(ActionCols.map(col): _*)
      .withColumn("game_id", col("game_id") + k * 1000L)
      .withColumn("end_x", coalesce(col("end_x"), col("start_x")))
      .withColumn("end_y", coalesce(col("end_y"), col("start_y")))

  val ShotTypes = Seq(Spadl.TypeShot, Spadl.TypeShotPenalty, Spadl.TypeShotFreekick)
}

/** Raw provider feeds → SPADL → CEP normalizer + labels → xT → VAEP feature
  * projection → frozen GBT probabilities → VAEP values → snapshot commit. */
final class MatchValuation(ctx: Ctx) extends ClosedLoop {
  import ctx.spark
  private val raw = ctx.path("raw")
  private def out(i: Int) = ctx.path(s"out/iter-$i")
  private lazy val frozenScores = FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "scores")
  private lazy val frozenConcedes = FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "concedes")

  def prepare(): Unit = Soccer.writeRaw(ctx, raw, ctx.scale.eventsPerProvider)

  def inputs(): Inputs = Inputs.of(spark, Soccer.providers.map(p => s"$raw/${p.name}"), Some("game_id"))

  def iteration(tr: Tracer, root: Int, i: Int): Long = {
    val actions = Soccer.providers.indices.map { k =>
      tr.frame("sources", s"${Soccer.providers(k).name}.convertToActions", root) {
        Soccer.convert(spark, raw, k)
      }
    }.reduce(_ unionByName _)
    // the labeled actions feed the xT fit, the rating and the projection,
    // so a user persists them once (as the headline valuation job does)
    val valued = tr.frame("streaming.cep", "SessionEngine.runBatch", root) {
      SessionEngine.runBatch(actions).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val model = tr.span("xt", "XThreat.fit", root) { _ => XThreat.fit(valued) }
    val rated = tr.frame("xt", "XThreat.rateColumn", root) {
      valued.withColumn("xt_value", XThreat.rateColumn(model))
    }
    val values = tr.frame("vaep", "Features+GameStates+FrozenGbt+Formula", root) {
      val states = GameStates.withStates(Features.withGoalscore(rated), 3)
      val wide = states.select(Seq("game_id", "action_id", "seq", "period_id", "time_seconds",
        "team_id", "type_id", "result_id", "scores", "concedes", "xt_value").map(col) ++
        Features.defaultFeaturesPostGoalscore(3): _*)
      Formula.value(wide
        .withColumn("scores_p", FrozenGbt.column(frozenScores))
        .withColumn("concedes_p", FrozenGbt.column(frozenConcedes)))
    }
    val table = new SnapshotTable(out(i))
    tr.span("streaming.commit", "SnapshotTable.commit", root) { _ =>
      table.commit(values, i.toLong, "match_valuation")
    }
    valued.unpersist(blocking = false)
    tr.release()
    table.totalRows
  }

  def check(i: Int): Checked = {
    val t = new SnapshotTable(out(i)).read(spark)
    val d = Digest.of(t.select("game_id", "action_id", "type_id", "result_id",
      "scores", "concedes", "xt_value", "scores_p", "concedes_p", "vaep_value",
      "start_dist_to_goal_a0", "goalscore_diff", "time_delta_1"), Seq("game_id", "action_id"))
    def outside(c: String) = sum(when(col(c).isNull || col(c) < 0 || col(c) > 1, 1).otherwise(0))
    val r = t.agg(outside("scores_p"), outside("concedes_p"),
      count_distinct(floor(col("game_id") / 1000))).head
    Digest.delete(ctx.dir.resolve(s"out/iter-$i"))
    val p = d.split("/")
    Checked(d,
      (if (p(0) != p(1)) Seq(s"duplicate (game_id, action_id) keys: $d") else Nil) ++
        (if (r.getLong(0) + r.getLong(1) > 0) Seq(s"probabilities outside [0, 1]: $r") else Nil) ++
        (if (r.getLong(2) != Soccer.providers.size) Seq(s"games of ${r.getLong(2)} providers committed") else Nil))
  }
}

/** SPADL actions (converted at set-up) → CEP labels → features → the VAEP
  * GBT pair + an xG GBT → held-out Brier / AUROC. */
final class VaepTrain(ctx: Ctx) extends ClosedLoop {
  import ctx.spark
  private val raw = ctx.path("raw")
  private val actionsPath = ctx.path("actions")
  private val Fc = MlQueries.featureCols(3) ++ Array("type_id", "result_id")
  private val XgFc = MlQueries.featureCols(3) ++ Array("type_id")
  private var last = Seq.empty[Double]

  def prepare(): Unit = {
    Soccer.writeRaw(ctx, raw, ctx.scale.trainEventsPerProvider)
    Soccer.providers.indices.map(k => Soccer.convert(spark, raw, k)).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(actionsPath)
  }

  def inputs(): Inputs = Inputs.of(spark, Seq(actionsPath), Some("game_id"))

  private def features(labeled: DataFrame): DataFrame = {
    val k = 3
    val states = GameStates.withStates(labeled, k)
    val feats = (0 until k).flatMap { i =>
      Features.time(i) ++ Features.startlocation(i) ++ Features.endlocation(i) ++
        Features.startpolar(i) ++ Features.endpolar(i) ++ Features.movement(i)
    } ++ (1 until k).flatMap(i => Features.team(i) ++ Features.timeDelta(i)) ++ Features.goalscore
    val shot = col("type_id").isin(Soccer.ShotTypes: _*)
    states.select(Seq(col("game_id"), col("action_id"), col("type_id"), col("result_id"),
      col("scores"), col("concedes"), shot.as("is_shot"),
      (shot && col("result_id") === Spadl.ResultSuccess).as("goal")) ++ feats: _*)
  }

  def iteration(tr: Tracer, root: Int, i: Int): Long = {
    val labeled = tr.frame("streaming.cep", "SessionEngine.runBatch", root) {
      SessionEngine.runBatch(spark.read.parquet(actionsPath))
    }
    // the training frame is read by every boosting pass: cache it, as the
    // learned lanes do
    val data = tr.frame("vaep", "GameStates+Features", root) { features(labeled).cache() }
    val train = data.filter(col("game_id") % 4 =!= 0)
    val test = data.filter(col("game_id") % 4 === 0)
    val model = tr.span("vaep", "VaepModel.fit", root) { _ =>
      VaepModel.fit(train, Fc, maxIter = 10, maxDepth = 3, seed = 42L)
    }
    val xg = tr.span("vaep", "XgModel.fit", root) { _ =>
      XgModel.fit(train.filter(col("is_shot")), XgFc, "goal", maxIter = 10, maxDepth = 3, seed = 42L)
    }
    // held-out (Brier, AUROC) of the scores, concedes and xG models
    last = tr.span("vaep", "VaepModel.score", root) { _ =>
      val p = VaepModel.estimateProbabilities(model, test)
      val x = XgModel.predict(xg, test.filter(col("is_shot")), XgFc)
      val s = VaepModel.score(p, "scores", "scores_p")
      val c = VaepModel.score(p, "concedes", "concedes_p")
      val g = VaepModel.score(x, "goal", "xg")
      Seq(s._1, s._2, c._1, c._2, g._1, g._2)
    }
    val rows = data.count()
    data.unpersist(blocking = false)
    tr.release()
    rows
  }

  def check(i: Int): Checked = {
    val q = last.map(x => math.rint(x * 1e9) / 1e9)
    val Seq(bs, as, bc, ac, bx, ax) = q
    // the band every seed must meet: Brier below the no-skill 0.25 and an
    // AUROC clearly above chance (the labels follow from type and result);
    // the recorded digest pins the exact values, so a change in how the
    // models are fitted shows even inside the band
    val band = Seq(("scores", bs, as), ("concedes", bc, ac), ("xg", bx, ax)).collect {
      case (m, b, a) if !(b > 0 && b < 0.25 && a > 0.6 && a <= 1.0) =>
        s"$m model out of band: brier $b auroc $a"
    }
    Checked(q.mkString("/"), band)
  }
}

/** Documents → quality/language gate → exact, MinHash-LSH and SimHash
  * duplicates → duplicate clusters → tokens of the kept documents → packed
  * chunks; embeddings → IVF index → ANN search. */
final class CorpusCuration(ctx: Ctx) extends ClosedLoop {
  import ctx.spark
  private val docsPath = ctx.path("documents.parquet")
  private val embPath = ctx.path("embeddings.parquet")
  private def out(i: Int, name: String) = ctx.path(s"out/iter-$i/$name")
  private var exactCopyOf = Map.empty[Long, Long]

  def prepare(): Unit = {
    val (docs, p) = Gen.documents(spark, ctx.scale.documents, ctx.seed)
    docs.write.mode("overwrite").parquet(docsPath)
    Gen.embeddings(spark, ctx.scale.vectors, 64, ctx.seed).write.mode("overwrite").parquet(embPath)
    exactCopyOf = p
  }

  def inputs(): Inputs = Inputs.of(spark, Seq(docsPath, embPath), None)

  private def gate(docs: DataFrame): DataFrame =
    docs.filter(TextOps.qualityScore(col("text")) > 0.95 && TextOps.langId(col("text")) === "en")
      .select("doc_id", "text", "source")

  def iteration(tr: Tracer, root: Int, i: Int): Long = {
    val gated = tr.frame("text", "TextOps.qualityScore+langId", root) { gate(spark.read.parquet(docsPath)) }
    val exact = tr.frame("dedup", "Dedup.exactDuplicates", root) { Dedup.exactDuplicates(gated) }
    val lsh = tr.frame("dedup", "Dedup.minhashLshPairs", root) { Dedup.minhashLshPairs(gated) }
    val simh = tr.frame("dedup", "Dedup.simhashPairs", root) { Dedup.simhashPairs(gated) }
    val edges = exact.select(col("doc_id").as("doc_a"), col("canonical_id").as("doc_b"))
      .union(lsh.select("doc_a", "doc_b")).union(simh.select("doc_a", "doc_b"))
    val clusters = tr.frame("dedup", "Dedup.duplicateClusters", root) { Dedup.duplicateClusters(edges) }
    val kept = gated.join(clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val tokens = tr.frame("text", "TokenPipeline.fromDocuments", root) { TokenPipeline.fromDocuments(kept) }
    val chunks = tr.frame("text", "TokenPipeline.packChunks", root) { TokenPipeline.packChunks(tokens, 128) }
    val emb = spark.read.parquet(embPath)
    val index = tr.span("sim", "Ivf.fit", root) { _ => Ivf.fit(emb, nlist = 16, seed = 42L) }
    val ann = tr.frame("sim", "Ivf.search", root) {
      Ivf.search(emb, emb.filter(col("vec_id") < ctx.scale.queries), index, k = 10, nprobe = 4)
    }
    chunks.write.parquet(out(i, "chunks"))
    clusters.write.parquet(out(i, "clusters"))
    ann.write.parquet(out(i, "ann"))
    tr.release()
    Seq("chunks", "clusters", "ann").map(n => spark.read.parquet(out(i, n)).count()).sum
  }

  def check(i: Int): Checked = {
    val chunks = spark.read.parquet(out(i, "chunks"))
    val clusters = spark.read.parquet(out(i, "clusters"))
    val ann = spark.read.parquet(out(i, "ann"))
    val d = Seq(Digest.of(chunks.select(col("source"), col("chunk_id"), col("n_docs"), col("n_tok"),
        xxhash64(col("tokens")).as("h")), Seq("source", "chunk_id")),
      Digest.of(clusters, Seq("doc_id")),
      // Ivf.fit's k-means sums in the order tasks finish, so which
      // neighbours a probe finds can change from run to run (IvfSpec gates
      // this fit path on recall for the same reason): the digest pins the
      // result's shape only, and annProblems checks its content
      Digest.of(ann.select("query_id", "rk"), Seq("query_id", "rk"))).mkString(" ")
    // every planted exact copy of a document that passed the gate must sit
    // in the same cluster as its original
    val gated = gate(spark.read.parquet(docsPath))
    val passed = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val cl = clusters.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val missed = exactCopyOf.count { case (c, o) =>
      passed(c) && passed(o) && (cl.get(c).isEmpty || cl.get(c) != cl.get(o))
    }
    // packing neither drops nor invents tokens of the kept documents
    val keptTokens = gated.join(clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_anti").agg(sum(size(TextOps.tokens(col("text"))))).head.getLong(0)
    val packedTokens = chunks.agg(sum("n_tok")).head.getLong(0)
    val annErrs = annProblems(ann)
    Digest.delete(ctx.dir.resolve(s"out/iter-$i"))
    Checked(d,
      (if (missed > 0) Seq(s"$missed planted exact copies not clustered with their original") else Nil) ++
        (if (keptTokens != packedTokens) Seq(s"packed $packedTokens tokens of $keptTokens kept") else Nil) ++
        annErrs)
  }

  /** Every search result's cosine must be that of its two vectors, ranks
    * must follow the cosines, and the recall of the 10 true nearest
    * neighbours (brute force) must be at least 0.4. Probing 4 of 16 cells
    * finds about 0.55 of them on these vectors; probing cells at random
    * would find about 0.25. */
  private def annProblems(ann: DataFrame): Seq[String] = {
    val vecs = spark.read.parquet(embPath).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d, na, nb = 0.0
      a.indices.foreach { j => d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j) }
      d / math.sqrt(na * nb)
    }
    val got = ann.select("query_id", "vec_id", "rk", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).groupBy(_._1)
    val wrongCos = got.values.flatten.count { case (q, v, _, c) => math.abs(cos(vecs(q), vecs(v)) - c) > 1e-5 }
    val misordered = got.values.count { rs =>
      val byRank = rs.sortBy(_._3)
      byRank.map(_._3).toSeq != (1 to byRank.length) ||
        byRank.sliding(2).exists(p => p.length == 2 && p(1)._4 > p(0)._4)
    }
    val found = (0L until ctx.scale.queries).map { q =>
      val truth = vecs.toSeq.filter(_._1 != q).sortBy(x => -cos(vecs(q), x._2)).take(10).map(_._1).toSet
      got.getOrElse(q, Array.empty).count(r => truth(r._2))
    }.sum
    val recall = found.toDouble / (10 * ctx.scale.queries)
    System.err.println(s"perfbench: corpus_curation search recall@10 $recall")
    (if (wrongCos > 0) Seq(s"$wrongCos search results with a wrong cosine") else Nil) ++
      (if (misordered > 0) Seq(s"$misordered queries with ranks out of order") else Nil) ++
      (if (recall < 0.4) Seq(s"search recall@10 $recall below 0.4") else Nil)
  }
}
