package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{SynActions, TokenCodec}
import graft.streaming.{SessionEngine, SnapshotTable}

/** Open loop: a generator moves one pre-encoded game file into a watched
  * directory on a fixed schedule; a file stream decodes it, the CEP engine
  * buffers each game in state until `gapMs` of silence closes its session,
  * and each micro-batch commits through the exactly-once snapshot sink. */
final class StreamIngest(ctx: Ctx, seconds: Double) {
  import ctx.spark
  import spark.implicits._

  val GapMs = 1000L
  val TriggerMs = 200L
  val WarmFiles = 12
  val rate: Double = ctx.scale.filesPerSecond
  val files: Int = math.ceil(rate * seconds).toInt
  private val games = files + WarmFiles
  private val staging = ctx.path("staging")

  /** Per game: the digest of `SessionEngine.runBatch` over the same
    * decoded actions — what the stream must commit exactly once. */
  private var reference = Map.empty[Long, String]
  private var staged = IndexedSeq.empty[(Long, Path)]

  private def perGame(valued: DataFrame): Map[Long, String] = Digest.perGroup(valued, "game_id", Seq("action_id"))

  private def decode(docs: DataFrame): DataFrame =
    TokenCodec.decode(docs).withColumn("seq", col("action_id"))

  /** Encodes `games` seeded games and writes each as its own parquet file. */
  def prepare(): Unit = {
    val events = Gen.events(spark, games.toLong * ctx.scale.actionsPerGame, Gen.mix(ctx.seed, 30))
    TokenCodec.encode(SynActions.fromEvents(events, games.toLong))
      .withColumn("gid", col("doc_id"))
      .write.mode("overwrite").partitionBy("gid").parquet(staging)
    val docs = spark.read.parquet(staging).drop("gid")
    reference = perGame(SessionEngine.runBatch(decode(docs)))
    staged = Files.list(ctx.dir.resolve("staging")).iterator().asScala.toIndexedSeq
      .filter(_.getFileName.toString.startsWith("gid="))
      .map { d =>
        val f = Files.list(d).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        d.getFileName.toString.stripPrefix("gid=").toLong -> f
      }.sortBy(_._1)
    // a seeded order of arrival
    staged = new scala.util.Random(Gen.mix(ctx.seed, 31)).shuffle(staged)
    require(staged.size == games, s"staged ${staged.size} game files, expected $games")
  }

  def inputs(): Inputs = Inputs.of(spark, Seq(staging), Some("doc_id"))

  final case class Commit(epoch: Long, endNs: Long, applied: Boolean)

  /** The outcome of one stream over `n` offered files. */
  final case class Outcome(offered: Int, dueNs: Map[Long, Long], commits: Seq[Commit],
                           committed: Map[Long, (Long, String)], // game → (epoch, digest)
                           backlog: Int, lateMaxS: Double, windowS: Double, tableRows: Long)

  /** Streams `fileRange` of the staged files through a fresh query; its
    * micro-batches are traced when `tr` is enabled. */
  def stream(name: String, fileRange: Range, tr: Tracer, root: Int): Outcome = {
    val watch = ctx.dir.resolve(s"$name/watch")
    Files.createDirectories(watch)
    val table = new SnapshotTable(ctx.path(s"$name/table"))
    val commits = new ConcurrentLinkedQueue[Commit]()
    val schema = spark.read.parquet(staged.head._2.toString).schema
    val actions = decode(spark.readStream.schema(schema).parquet(watch.toString))
      .as[SessionEngine.ActionRow]
    val q = SessionEngine.runStreaming(actions, GapMs).toDF().writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ctx.path(s"$name/checkpoint"))
      .foreachBatch { (df: Dataset[Row], epoch: Long) =>
        val applied =
          if (!tr.enabled) table.commit(df, epoch, name)
          else {
            val d = tr.frame("streaming.cep", "SessionEngine.runStreaming", root)(df)
            val a = tr.span("streaming.commit", "SnapshotTable.commit", root) { _ => table.commit(d, epoch, name) }
            tr.release()
            a
          }
        commits.add(Commit(epoch, System.nanoTime(), applied))
        ()
      }
      .start()
    try {
      val due = Map.newBuilder[Long, Long]
      var lateMax = 0.0
      val t0 = System.nanoTime() + 200L * 1000000L
      fileRange.zipWithIndex.foreach { case (k, j) =>
        val dueNs = t0 + (j * 1e9 / rate).toLong
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val (game, src) = staged(k)
        Files.move(src, watch.resolve(s"game-$game.parquet"), StandardCopyOption.ATOMIC_MOVE)
        lateMax = math.max(lateMax, (System.nanoTime() - dueNs) / 1e9)
        due += game -> dueNs
      }
      val windowEnd = t0 + (fileRange.size * 1e9 / rate).toLong
      val dueNs = due.result()
      val expected = fileRange.map(k => Digest.rows(reference(staged(k)._1))).sum
      // drain: every file's session closes one gap after it arrived
      val deadline = windowEnd + (GapMs + 20000L) * 1000000L
      while (table.totalRows < expected && System.nanoTime() < deadline) Thread.sleep(20)
      q.stop()
      val rows = table.totalRows
      System.err.println(s"perfbench: stream $name offered ${fileRange.size} files, expected $expected rows, committed $rows in ${commits.size} commits")
      val committed =
        if (rows == 0) Map.empty[Long, (Long, String)]
        else {
          val data = table.read(spark)
            .withColumn("epoch", regexp_extract(input_file_name(), s"$name-epoch-(\\d+)", 1).cast("long"))
          val epochs = data.groupBy("game_id").agg(min("epoch"), max("epoch")).collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
          perGame(data.drop("epoch")).map { case (g, d) =>
            val (lo, hi) = epochs(g)
            g -> (if (lo == hi) lo else -1L, d)
          }
        }
      Outcome(fileRange.size, dueNs, commits.asScala.toList, committed,
        backlog = fileRange.count(k => !committed.contains(staged(k)._1)),
        lateMax, fileRange.size / rate, rows)
    } finally {
      if (q.isActive) q.stop()
    }
  }

  /** Games whose committed rows differ from the reference, are missing, or
    * came from more than one micro-batch. */
  def failures(o: Outcome, fileRange: Range): Seq[String] =
    fileRange.map(k => staged(k)._1).flatMap { g =>
      val d = reference(g)
      o.committed.get(g) match {
        case None => Some(s"game $g was not committed")
        case Some((epoch, e)) if epoch < 0 || e != d =>
          Some(s"game $g committed digest $e in epoch $epoch; expected digest $d")
        case _ => None
      }
    }

  /** Lag of each committed game: commit time − due time − session gap. */
  def lags(o: Outcome): Seq[Double] = {
    val byEpoch = o.commits.filter(_.applied).map(c => c.epoch -> c).toMap
    o.dueNs.toSeq.flatMap { case (g, due) =>
      o.committed.get(g).flatMap { case (epoch, _) => byEpoch.get(epoch) }
        .map(c => (c.endNs - due) / 1e9 - GapMs / 1e3)
    }
  }

  def warmRange: Range = files until games
  def measuredRange: Range = 0 until files
}
