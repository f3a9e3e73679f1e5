package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.graft.Shim
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.core.Tables

/** Emulated Iceberg-style table (no Iceberg jars ship here, SURVEY.md §0):
  * immutable parquet data files plus one JSON manifest per sequential
  * snapshot version. A commit writes its data, then publishes the next
  * version's manifest; readers see committed versions only.
  *
  * Exactly-once for `foreachBatch`: each manifest records its (writer,
  * epoch) and a replayed pair is skipped. A batch's data directory is named
  * by that pair and overwritten on retry, so files of an attempt that failed
  * before its manifest never become live. Per-file row counts (lineage) come
  * from the Parquet footers, so a commit starts no Spark job of its own.
  *
  * Store contract: all file access goes through Spark's streaming
  * `CheckpointFileManager`, chosen by the session's confs as for
  * checkpoints (methods without a session use the active one). A manifest
  * is published with `createAtomic(overwriteIfPossible = false)`: a rename
  * on HDFS and the local filesystem that fails if the version exists, so a
  * writer racing to the same version loses instead of erasing a committed
  * snapshot. The loser removes its temporary manifest and publishes the same
  * files at the next free version, unless its (writer, epoch) was committed
  * meanwhile. Stores without atomic rename (S3-like) need a
  * `CheckpointFileManager` that publishes with a conditional put and fails
  * with `FileAlreadyExistsException` when the version exists.
  */
final class SnapshotTable(val root: String) {
  private val metaDir = new Path(root, "metadata")
  private val dataDir = new Path(root, "data")
  private val Snapshot = """snapshot-(\d+)\.json""".r

  private case class Manifest(writer: String, epochId: Long, files: Seq[(String, Long)])

  private def store(spark: SparkSession): CheckpointFileManager =
    CheckpointFileManager.create(new Path(root), Shim.hadoopConf(spark))
  private def store: CheckpointFileManager = store(SparkSession.active)

  private def versions(fm: CheckpointFileManager): Seq[Long] =
    if (!fm.exists(metaDir)) Seq.empty
    else fm.list(metaDir).toSeq.map(_.getPath.getName)
      .collect { case Snapshot(v) => v.toLong }.sorted

  private def manifest(fm: CheckpointFileManager, v: Long): Manifest = {
    implicit val formats: Formats = DefaultFormats
    val in = fm.open(new Path(metaDir, s"snapshot-$v.json"))
    val json = try parse(in) finally in.close()
    Manifest((json \ "writer").extract[String], (json \ "epochId").extract[Long],
      (json \ "files").children.map(f => (f \ "path").extract[String] -> (f \ "rows").extract[Long]))
  }

  private def manifests(fm: CheckpointFileManager): Seq[Manifest] =
    versions(fm).map(manifest(fm, _))

  def currentVersion: Option[Long] = versions(store).lastOption

  /** (writerId, epochId) pairs already committed (for idempotent replay).
    * Epoch ids restart at 0 per streaming query, so idempotence is scoped
    * to the writer (= checkpoint lineage) that produced the epoch. */
  def committedEpochs: Set[(String, Long)] =
    manifests(store).map(m => (m.writer, m.epochId)).toSet

  /** All live data files (union of snapshots — append-only table). */
  def liveFiles: Seq[String] = manifests(store).flatMap(_.files.map(_._1))

  /** Per-file lineage of a snapshot version: file → row count. */
  def lineage(v: Long): Seq[(String, Long)] = manifest(store, v).files

  /** Append `df` as one atomic snapshot for `epochId`. Returns false when
    * the epoch was already committed (replay detected → no-op). */
  def commit(df: DataFrame, epochId: Long, writerId: String = "default"): Boolean = this.synchronized {
    val conf = Shim.hadoopConf(df.sparkSession)
    val fm = CheckpointFileManager.create(new Path(root), conf)
    if (manifests(fm).exists(m => m.writer == writerId && m.epochId == epochId)) return false
    fm.mkdirs(metaDir)
    // one directory per (writer, epoch); a writer id that is not a plain
    // name (e.g. a checkpoint path) is escaped injectively: '/' → "+2f+"
    val writerDir = writerId.flatMap(c =>
      if (c < 128 && (c.isLetterOrDigit || "-_.".contains(c))) c.toString else f"+${c.toInt}%x+")
    val batchDir = new Path(dataDir, s"$writerDir-epoch-$epochId")
    df.write.mode("overwrite").parquet(batchDir.toString)
    val counts = fm.list(batchDir).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.toString).map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try f.toString -> reader.getRecordCount finally reader.close()
      }
    def json(v: Long) = ("version" -> v) ~ ("writer" -> writerId) ~ ("epochId" -> epochId) ~
      ("files" -> counts.map { case (f, c) => ("path" -> f) ~ ("rows" -> c) })
    var v = versions(fm).lastOption.fold(0L)(_ + 1)
    while (!publish(fm, v, compact(render(json(v))).getBytes(UTF_8))) {
      // lost the race for v: if this (writer, epoch) won elsewhere the
      // commit is a replay, otherwise it takes the next free version
      val vs = versions(fm)
      if (vs.map(manifest(fm, _)).exists(m => m.writer == writerId && m.epochId == epochId))
        return false
      v = vs.last + 1
    }
    true
  }

  /** Publishes `bytes` as version `v`'s manifest — the commit point: it
    * appears whole or not at all. Returns false, leaving nothing behind,
    * when the version already exists. */
  private def publish(fm: CheckpointFileManager, v: Long, bytes: Array[Byte]): Boolean = {
    val path = new Path(metaDir, s"snapshot-$v.json")
    try {
      val out = fm.createAtomic(path, overwriteIfPossible = false)
      try out.write(bytes)
      catch { case e: Throwable => out.cancel(); throw e }
      out.close()
      true
    } catch {
      case _: FileAlreadyExistsException =>
        // a rename-based store keeps the losing temporary file; ours is
        // the one for this version with exactly these bytes, which name
        // this (writer, epoch) and its data files
        fm.list(metaDir).map(_.getPath)
          .filter(p => p.getName.startsWith(s".${path.getName}.") && p.getName.endsWith(".tmp"))
          .filter(p => Try { val in = fm.open(p); try in.readAllBytes() finally in.close() }
            .toOption.exists(java.util.Arrays.equals(_, bytes)))
          .foreach(fm.delete)
        false
    }
  }

  /** Snapshot-consistent read of the whole table. */
  def read(spark: SparkSession): DataFrame = {
    val files = manifests(store(spark)).flatMap(_.files.map(_._1))
    if (files.isEmpty) spark.emptyDataFrame
    else Tables.parquet(spark, files: _*)
  }

  def totalRows: Long = manifests(store).flatMap(_.files.map(_._2)).sum
}

object SnapshotTable {
  /** foreachBatch sink function with exactly-once semantics. `writerId`
    * identifies the checkpoint lineage (pass the checkpoint path or query
    * name) so replays dedupe within a query while distinct queries append. */
  def sink(table: SnapshotTable, writerId: String = "default"): (DataFrame, Long) => Unit =
    (df, epochId) => { table.commit(df, epochId, writerId); () }
}
