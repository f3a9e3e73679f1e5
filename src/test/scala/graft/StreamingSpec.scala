package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath, PathFilter}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.streaming.{SessionEngine, SnapshotTable}
import graft.streaming.SessionEngine.ActionRow

/** Streaming guarantees: session-close emission, checkpoint resume with
  * identical output, and exactly-once snapshot-sink commits under replay. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkRows(game: Long, n: Int): Seq[ActionRow] =
    (0 until n).map(i => ActionRow(game, i.toLong, 1, i * 2.0, (i % 2).toLong, i.toLong,
      i % 7 * 15.0, i % 5 * 13.0, (i + 1) % 7 * 15.0, (i + 1) % 5 * 13.0,
      i % 23, i % 6, i % 6, i.toLong))

  test("streaming session engine emits exactly the batch result at session close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ActionRow]
    val out = SessionEngine.runStreaming(input.toDS(), gapMs = 300L)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("cep_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    // NOTE: processAllAvailable() cannot be used here - with a
    // ProcessingTimeTimeout armed, Spark schedules timeout-evaluation
    // batches continuously and the stream never quiesces. Poll instead.
    def waitFor(cond: => Boolean, ms: Long = 60000): Boolean = {
      val deadline = System.currentTimeMillis + ms
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
      cond
    }
    try {
      val rows = mkRows(1, 30)
      input.addData(rows)
      val expected = SessionEngine.processGame(rows)
      // after the 300 ms session gap, the timeout fires and the whole game
      // is emitted exactly once
      assert(waitFor(spark.table("cep_out").count() == expected.length),
        "session was not emitted before the deadline")
      val got = spark.table("cep_out").filter($"game_id" === 1L)
        .as[SessionEngine.ValuedAction].collect().sortBy(_.action_id).toSeq
      assert(got == expected.sortBy(_.action_id).toSeq)
      // no duplicate emission afterwards
      Thread.sleep(1000)
      assert(spark.table("cep_out").count() == expected.length)
    } finally query.stop()
  }

  test("event-time session: watermark past gap closes the game, late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SessionEngine.TimedAction
    val input = MemoryStream[TimedAction]
    val out = SessionEngine.runStreamingEventTime(input.toDS(),
      watermarkDelay = "0 seconds", gapMs = 1000L)
    val query = out.writeStream
      .format("memory").queryName("cep_et").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-et").toString)
      .start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val rows = mkRows(1, 12)
      val base = 1700000000000L
      input.addData(rows.map(a => TimedAction(ts(base + a.seq * 100), a)))
      query.processAllAvailable()
      assert(spark.table("cep_et").count() == 0) // watermark not past gap yet
      // an event far in the future for ANOTHER game advances the watermark
      input.addData(Seq(TimedAction(ts(base + 3600 * 1000), mkRows(2, 1).head)))
      query.processAllAvailable()
      // timeout fires on the NEXT batch after the watermark advanced
      input.addData(Seq(TimedAction(ts(base + 3601 * 1000), mkRows(3, 1).head)))
      query.processAllAvailable()
      val expected = SessionEngine.processGame(rows)
      val got = spark.table("cep_et").filter($"game_id" === 1L)
      assert(got.count() == expected.length)
      // a LATE event for game 1 (behind the watermark) must not reopen it
      input.addData(Seq(TimedAction(ts(base + 500), rows.head.copy(seq = 99L))))
      query.processAllAvailable()
      input.addData(Seq(TimedAction(ts(base + 3602 * 1000), mkRows(4, 1).head)))
      query.processAllAvailable()
      assert(spark.table("cep_et").filter($"game_id" === 1L).count() == expected.length)
    } finally query.stop()
  }

  test("watermark-scoped dedup: drops within the window, re-emits after state expiry") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = input.toDF().toDF("ts", "content_hash")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("content_hash")
      .select("content_hash")
    val query = out.writeStream
      .format("memory").queryName("dedup_wm").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-wm").toString)
      .start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val base = 1700000000000L
      input.addData(Seq((ts(base), "a"), (ts(base), "b")))
      query.processAllAvailable()
      assert(spark.table("dedup_wm").count() == 2) // first occurrences emit
      // a duplicate within the watermark window is absorbed by state; the
      // far-future row advances the watermark past a's expiry
      input.addData(Seq((ts(base + 5000), "a"), (ts(base + 100000), "c")))
      query.processAllAvailable()
      assert(spark.table("dedup_wm").count() == 3) // only c emitted
      // state for a expired (watermark ≈ base+90s) → the SAME hash is a
      // fresh arrival again — the bounded-state semantics the unbounded
      // dropDuplicates gate cannot provide
      input.addData(Seq((ts(base + 100000), "a")))
      query.processAllAvailable()
      assert(spark.table("dedup_wm").filter($"content_hash" === "a").count() == 2)
    } finally query.stop()
  }

  test("TTL'd transformWithState dedup: drops within TTL, re-emits after expiry") {
    // transformWithState requires the RocksDB provider: set it on a session
    // of this test's own, not on the shared one
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = rocks.sqlContext
    // ProcessingTime-mode TWS schedules batches continuously (timer/TTL
    // advancement), so processAllAvailable never settles — poll the sink
    // with a deadline instead
    def awaitCount(table: String, n: Long, what: String): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (rocks.table(table).count() < n) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(100)
      }
    }
    def start(input: MemoryStream[String], ttlMs: Long, name: String) =
      graft.streaming.DedupTws.distinctHashes(input.toDS(), ttlMs).toDF("content_hash")
        .writeStream
        .format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(100))
        .option("checkpointLocation", Files.createTempDirectory(s"ckpt-$name").toString)
        .start()
    // (1) within-TTL suppression under a TTL far beyond any host-load
    // stretch (30 s) — asserted UNCONDITIONALLY (the old 6 s TTL forced a
    // skip-under-load guard that could silently bypass the core check)
    val in1 = MemoryStream[String]
    val q1 = start(in1, ttlMs = 30000L, "dedup_tws_sup")
    try {
      in1.addData(Seq("a", "b", "a"))
      awaitCount("dedup_tws_sup", 2, "first occurrences")
      Thread.sleep(500) // a few more batches: the in-batch dup stays absorbed
      assert(rocks.table("dedup_tws_sup").count() == 2)
      in1.addData(Seq("a", "c"))
      awaitCount("dedup_tws_sup", 3, "c")
      Thread.sleep(500)
      assert(rocks.table("dedup_tws_sup").count() == 3) // a still in state
    } finally q1.stop()
    // (2) expiry — the only genuinely time-sensitive half — under a SHORT
    // TTL so the fixed wait shrinks (2 s TTL + slack vs the old 8 s sleep)
    val in2 = MemoryStream[String]
    val q2 = start(in2, ttlMs = 2000L, "dedup_tws_exp")
    try {
      in2.addData(Seq("a"))
      awaitCount("dedup_tws_exp", 1, "first a")
      Thread.sleep(3500) // let the 2 s processing-time TTL lapse
      in2.addData(Seq("a"))
      awaitCount("dedup_tws_exp", 2, "re-emission of a after TTL expiry")
      // state for a expired → fresh arrival again (bounded-state contract)
      assert(rocks.table("dedup_tws_exp").filter($"content_hash" === "a").count() == 2)
    } finally q2.stop()
  }

  test("snapshot sink: atomic versions, lineage, idempotent replay") {
    val dir = Files.createTempDirectory("snap").toString
    val table = new SnapshotTable(dir)
    val df1 = (1 to 10).toDF("v")
    val df2 = (11 to 15).toDF("v")

    assert(table.commit(df1, epochId = 0L))
    assert(table.currentVersion.contains(0L))
    assert(table.totalRows == 10L)

    // replay of epoch 0 (e.g. after a failure before checkpoint advance)
    assert(!table.commit(df1, epochId = 0L))
    assert(table.totalRows == 10L) // unchanged — exactly-once

    assert(table.commit(df2, epochId = 1L))
    assert(table.totalRows == 15L)
    assert(table.read(spark).count() == 15L)
    assert(table.committedEpochs == Set(("default", 0L), ("default", 1L)))

    // per-partition lineage recorded
    val lin = table.lineage(table.currentVersion.get)
    assert(lin.nonEmpty && lin.map(_._2).sum == 5L)

    // a multi-file commit: one lineage entry per data file, each with the
    // file's own row count
    assert(table.commit((1 to 40).toDF("v").repartition(4), epochId = 2L))
    val files = table.lineage(table.currentVersion.get)
    assert(files.length == 4 && files.map(_._2).sum == 40L)
    files.foreach { case (f, n) => assert(spark.read.parquet(f).count() == n, f) }
    assert(table.totalRows == 55L && table.read(spark).count() == 55L)

    // a writer id and a table path with JSON metacharacters round-trip
    // through the manifest
    val odd = "w \"q\" \\ /x"
    val quoted = new SnapshotTable(dir + "/a\"b")
    assert(quoted.commit((1 to 3).toDF("v"), epochId = 0L, writerId = odd))
    assert(quoted.committedEpochs == Set((odd, 0L)))
    assert(!quoted.commit((1 to 3).toDF("v"), epochId = 0L, writerId = odd))
    assert(quoted.totalRows == 3L && quoted.read(spark).count() == 3L)
  }

  test("snapshot sink: a commit that fails before its manifest is redone on restart") {
    val src = Files.createTempDirectory("snap_src").resolve("in").toString
    (1 to 40).toDF("v").repartition(4).write.parquet(src)
    def run(s: SparkSession, table: SnapshotTable, ckpt: String): Unit =
      s.readStream.schema("v INT").option("maxFilesPerTrigger", 2).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], epoch: Long) => SnapshotTable.sink(table, ckpt)(b, epoch))
        .option("checkpointLocation", ckpt)
        .start().awaitTermination()
    // rows, and per version the row counts of its files
    def contents(t: SnapshotTable) = (t.read(spark).as[Int].collect().sorted.toSeq,
      t.currentVersion.toSeq.flatMap(v => 0L to v).map(t.lineage(_).map(_._2).sorted))

    val clean = new SnapshotTable(Files.createTempDirectory("snap_clean").toString)
    run(spark, clean, Files.createTempDirectory("ckpt_clean").toString)
    assert(clean.currentVersion.contains(1L) && clean.totalRows == 40L)

    val dir = Files.createTempDirectory("snap_fault")
    val table = new SnapshotTable(dir.toString)
    val ckpt = Files.createTempDirectory("ckpt_fault").toString
    val s = spark.newSession()
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    s.conf.set(key, classOf[FailFirstManifest].getName)
    FailFirstManifest.armed.set(true)
    try {
      val e = intercept[StreamingQueryException](run(s, table, ckpt))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(FailFirstManifest.Message)))
    } finally s.conf.unset(key)
    // the data of epoch 0 was written, its manifest never published
    assert(table.currentVersion.isEmpty)
    val orphans = Files.walk(dir.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(orphans.nonEmpty)

    // restart the same query from the same checkpoint
    run(s, table, ckpt)
    assert(contents(table) == contents(clean))
    assert(table.committedEpochs == Set((ckpt, 0L), (ckpt, 1L)))
    assert(table.liveFiles.map(f => new HadoopPath(f).getName).toSet.intersect(orphans).isEmpty)
  }

  test("snapshot sink: a commit that loses its version race leaves nothing behind") {
    val dir = Files.createTempDirectory("snap_race")
    val table = new SnapshotTable(dir.toString)
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass", classOf[ForeignFirstManifest].getName)
    def rows(game: Long, n: Int) = s.createDataFrame(mkRows(game, n))
    def names(sub: String) = Files.list(dir.resolve(sub)).iterator().asScala.map(_.getFileName.toString).toSeq
    def clean(): Unit = {
      assert(names("metadata").forall(_.matches("""\.?snapshot-\d+\.json(\.crc)?""")), names("metadata"))
      val live = table.liveFiles.map(f => new HadoopPath(f).getParent.getName).toSet
      assert(names("data").filterNot(_.startsWith(".")).toSet == live)
    }
    assert(table.commit(rows(1, 3), 0L, "w"))
    // a foreign manifest takes version 1 just before this commit publishes
    ForeignFirstManifest.next.set(("foreign", 0L))
    assert(table.commit(rows(2, 4), 1L, "w"))
    assert(table.currentVersion.contains(2L))
    assert(table.lineage(1L).isEmpty && table.lineage(2L).map(_._2).sum == 4L)
    assert(table.committedEpochs == Set(("w", 0L), ("foreign", 0L), ("w", 1L)))
    clean()
    // the version was taken by this very (writer, epoch): a replay, no-op
    ForeignFirstManifest.next.set(("w", 2L))
    assert(!table.commit(rows(3, 5), 2L, "w"))
    assert(table.currentVersion.contains(3L) && table.lineage(3L).isEmpty)
    assert(names("metadata").forall(_.matches("""\.?snapshot-\d+\.json(\.crc)?""")))
    assert(table.read(s).count() == 7L)
  }

  test("checkpoint resume: restart continues without duplicating output") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckpt2").toString
    val dir = Files.createTempDirectory("snap2").toString
    val table = new SnapshotTable(dir)

    val input1 = MemoryStream[ActionRow]
    val q1 = input1.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[ActionRow], epochId: Long) =>
        SnapshotTable.sink(table, "w1")(ds.toDF(), epochId))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    input1.addData(mkRows(1, 5))
    q1.processAllAvailable()
    q1.stop()
    assert(table.totalRows == 5L)

    // replaying the SAME epoch of the same writer is a no-op (crash between
    // sink commit and checkpoint advance => foreachBatch re-runs epoch 0)
    assert(!table.commit(mkRows(1, 5).toDF(), 0L, "w1"))
    assert(table.totalRows == 5L)

    // restart from the SAME checkpoint with new data: epochs continue, no dupes
    val input2 = MemoryStream[ActionRow]
    input2.addData(mkRows(1, 5)) // replayed source data lands in a NEW epoch
    val q2 = input2.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[ActionRow], epochId: Long) =>
        SnapshotTable.sink(table, "w2")(ds.toDF(), epochId))
      .option("checkpointLocation", Files.createTempDirectory("ckpt3").toString)
      .outputMode("append").start()
    input2.addData(mkRows(2, 7))
    q2.processAllAvailable()
    q2.stop()
    // a different writer lineage appends (5 replayed + 7 new)
    assert(table.totalRows == 17L)
    assert(table.read(spark).count() == 17L)
  }
}

/** The default checkpoint file manager, except that the first snapshot
  * manifest published while [[FailFirstManifest.armed]] is set throws:
  * the fault a crash between a commit's data write and its manifest makes. */
class FailFirstManifest(path: HadoopPath, conf: Configuration) extends CheckpointFileManager {
  private val fm = new FileContextBasedCheckpointFileManager(path, conf)
  override def createAtomic(p: HadoopPath, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream = {
    if (p.getName.startsWith("snapshot-") && FailFirstManifest.armed.getAndSet(false))
      throw new java.io.IOException(s"${FailFirstManifest.Message}: $p")
    fm.createAtomic(p, overwriteIfPossible)
  }
  override def open(p: HadoopPath) = fm.open(p)
  override def list(p: HadoopPath, filter: PathFilter) = fm.list(p, filter)
  override def mkdirs(p: HadoopPath): Unit = fm.mkdirs(p)
  override def exists(p: HadoopPath): Boolean = fm.exists(p)
  override def delete(p: HadoopPath): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): HadoopPath = fm.createCheckpointDirectory()
}

object FailFirstManifest {
  val armed = new AtomicBoolean(false)
  val Message = "injected fault before the manifest"
}

/** The default checkpoint file manager, except that the next snapshot
  * manifest published after [[ForeignFirstManifest.next]] is set finds its
  * version already taken by a manifest of that (writer, epoch) with no
  * files: a concurrent writer that won the race. */
class ForeignFirstManifest(path: HadoopPath, conf: Configuration) extends FailFirstManifest(path, conf) {
  override def createAtomic(p: HadoopPath, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream = {
    val foreign = if (p.getName.startsWith("snapshot-")) ForeignFirstManifest.next.getAndSet(null) else null
    if (foreign != null) {
      val v = p.getName.stripPrefix("snapshot-").stripSuffix(".json")
      val out = super.createAtomic(p, overwriteIfPossible = false)
      out.write(s"""{"version":$v,"writer":"${foreign._1}","epochId":${foreign._2},"files":[]}"""
        .getBytes(UTF_8))
      out.close()
    }
    super.createAtomic(p, overwriteIfPossible)
  }
}

object ForeignFirstManifest {
  val next = new AtomicReference[(String, Long)]()
}
