package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Emulated Iceberg-style table: immutable parquet data files + an atomic,
  * versioned snapshot manifest. (No Iceberg jars ship in this environment —
  * SURVEY.md §0 — so the commit protocol is modeled on Iceberg snapshots:
  * write data → write manifest to a temp file → atomic rename to the next
  * sequential version. The reader resolves the highest committed version.)
  *
  * Exactly-once for Structured Streaming `foreachBatch`: each commit records
  * its (epochId); a replayed batch with an already-committed epochId is
  * skipped, making the sink idempotent under retries. Manifests also carry
  * per-partition lineage (file → row count) for audit/metrics.
  */
final class SnapshotTable(val root: String) {
  private def metaDir: Path = Paths.get(root, "metadata")
  private def dataDir: Path = Paths.get(root, "data")

  private def versions: Seq[Long] =
    if (!Files.isDirectory(metaDir)) Seq.empty
    else Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("snapshot-\\d+\\.json") =>
        s.stripPrefix("snapshot-").stripSuffix(".json").toLong
      }.toSeq.sorted

  def currentVersion: Option[Long] = versions.lastOption

  private def manifestOf(v: Long): String =
    new String(Files.readAllBytes(metaDir.resolve(s"snapshot-$v.json")), "UTF-8")

  /** (writerId, epochId) pairs already committed (for idempotent replay).
    * Epoch ids restart at 0 per streaming query, so idempotence is scoped
    * to the writer (= checkpoint lineage) that produced the epoch. */
  def committedEpochs: Set[(String, Long)] =
    versions.map { v =>
      val m = manifestOf(v)
      (parseString(m, "writer"), parseField(m, "epochId").toLong)
    }.toSet

  /** All live data files (union of snapshots — append-only table). */
  def liveFiles: Seq[String] =
    versions.flatMap(v => parseFiles(manifestOf(v)).map(_._1))

  /** Per-partition lineage of a snapshot version: file → row count. */
  def lineage(v: Long): Seq[(String, Long)] = parseFiles(manifestOf(v))

  /** Append `df` as one atomic snapshot for `epochId`. Returns false when
    * the epoch was already committed (replay detected → no-op). */
  def commit(df: DataFrame, epochId: Long, writerId: String = "default"): Boolean = this.synchronized {
    if (committedEpochs.contains((writerId, epochId))) return false
    Files.createDirectories(metaDir)
    Files.createDirectories(dataDir)
    val batchDir = dataDir.resolve(s"$writerId-epoch-$epochId")
    df.write.mode("overwrite").parquet(batchDir.toString)
    val files = Files.list(batchDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    // row counts from the Parquet footers: no Spark job per file
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val counts = files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HadoopPath(f.toUri), conf))
      try f.toString -> reader.getRecordCount finally reader.close()
    }
    val v = currentVersion.getOrElse(-1L) + 1
    val manifest =
      s"""{"version": $v, "writer": "$writerId", "epochId": $epochId, "files": [${
        counts.map { case (f, c) => s"""{"path": "$f", "rows": $c}""" }.mkString(", ")
      }]}"""
    val tmp = metaDir.resolve(s".snapshot-$v.json.tmp")
    Files.write(tmp, manifest.getBytes("UTF-8"))
    // atomic publish — the Iceberg-style commit point
    Files.move(tmp, metaDir.resolve(s"snapshot-$v.json"),
      StandardCopyOption.ATOMIC_MOVE)
    true
  }

  /** Snapshot-consistent read of the whole table. */
  def read(spark: SparkSession): DataFrame = {
    val files = liveFiles
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  def totalRows: Long =
    versions.flatMap(v => parseFiles(manifestOf(v)).map(_._2)).sum

  // minimal manifest parsing (flat, engine-controlled format)
  private def parseField(json: String, field: String): String = {
    val m = (s""""$field": (\\d+)""").r.findFirstMatchIn(json)
    m.map(_.group(1)).getOrElse(sys.error(s"field $field missing in manifest"))
  }
  private def parseString(json: String, field: String): String =
    (s""""$field": "([^"]*)"""").r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(sys.error(s"field $field missing in manifest"))

  private def parseFiles(json: String): Seq[(String, Long)] =
    ("""\{"path": "([^"]+)", "rows": (\d+)\}""").r.findAllMatchIn(json)
      .map(m => (m.group(1), m.group(2).toLong)).toSeq
}

object SnapshotTable {
  /** foreachBatch sink function with exactly-once semantics. `writerId`
    * identifies the checkpoint lineage (pass the checkpoint path or query
    * name) so replays dedupe within a query while distinct queries append. */
  def sink(table: SnapshotTable, writerId: String = "default"): (DataFrame, Long) => Unit =
    (df, epochId) => { table.commit(df, epochId, writerId); () }
}
