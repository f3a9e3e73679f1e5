package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileSystem, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.streaming.Trigger

/** Shared run-to-completion harness for the driver's streaming queries:
  * a file/memory stream is executed with `Trigger.AvailableNow` in a child
  * session, every micro-batch commits exactly once to a [[SnapshotTable]],
  * and the table is read back in the caller's session as the query result.
  * Tables + checkpoints live under one session-scoped temp root that a JVM
  * shutdown hook deletes recursively, so repeated invocations (Verify,
  * min-of-N bench rounds) don't accumulate orphan data. */
object StreamRun {

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft_stream_run")
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    Runtime.getRuntime.addShutdownHook(new Thread(() => { fs.delete(new HadoopPath(p.toUri), true); () }))
    p
  }

  /** A temp directory under the session root (deleted at JVM exit) — for
    * streaming queries that need a custom sink instead of [[availableNow]]. */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** Bytes under `inputDir` (a plain path or any Hadoop filesystem URI),
    * or None when the path cannot be read. */
  private[graft] def inputBytes(spark: SparkSession, inputDir: String): Option[Long] =
    scala.util.Try {
      val path = new HadoopPath(inputDir)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(path).getLength
    }.toOption

  /** Runs the streaming DataFrame `build` makes to completion and returns
    * the result, read back in `spark`: the latest snapshot in complete mode
    * (streaming aggregations), else the whole table; 0 rows with the built
    * schema when no batch committed. `build` runs in a clone of `spark`, so
    * the caller's confs never change, and operators on the result plan with
    * the caller's partition count. On the clone:
    *  - shuffle (= state-store) partitions are scale-adaptive. Every stateful
    *    operator materializes one state-store instance (and the sink one
    *    file) PER partition PER micro-batch, so the session's batch
    *    parallelism makes small streams pay ~32× the state/checkpoint/sink
    *    I/O their volume warrants. Target one partition per 64 MB of resting
    *    input under `inputDir`, clamped to [1, session shuffle partitions];
    *    when its Hadoop filesystem cannot size it, the session value stands.
    *  - a plan with `transformWithState` gets the RocksDB state store
    *    provider, which that operator requires. */
  def availableNow(spark: SparkSession, inputDir: String, complete: Boolean = false)(
      build: SparkSession => DataFrame): DataFrame = {
    val child = Shim.cloneSession(spark)
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key).toLong
    inputBytes(spark, inputDir).foreach(bytes =>
      child.conf.set(key, math.max(1L, bytes / (64L << 20)).min(session.max(1L))))
    val df = build(child)
    if (Shim.plan(df).exists(_.isInstanceOf[TransformWithState]))
      child.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val table = new SnapshotTable(tempDir("out"))
    val ckpt = tempDir("ckpt")
    val sink = SnapshotTable.sink(table, writerId = ckpt)
    df.writeStream
      .outputMode(if (complete) "complete" else "append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], epoch: Long) => sink(b, epoch))
      .option("checkpointLocation", ckpt)
      .start()
      .awaitTermination()
    val files = table.currentVersion.toSeq
      .flatMap(v => if (complete) table.lineage(v).map(_._1) else table.liveFiles)
    // the built schema spares the read a schema-inference job
    spark.read.schema(df.schema).parquet(files: _*)
  }
}
