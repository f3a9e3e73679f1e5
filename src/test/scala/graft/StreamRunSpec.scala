package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.types.StringType

import graft.streaming.{DedupTws, StreamRun}

/** `StreamRun` sizes its input through the Hadoop filesystem, so a URI
  * sizes like its plain path; it builds and runs each query in a child
  * session, so the caller's confs never change; and an input that commits
  * nothing still returns the query's schema. */
class StreamRunSpec extends SparkSpec {
  import spark.implicits._

  test("a file: URI directory sizes like its plain path") {
    val dir = Files.createTempDirectory("stream_run_size")
    Files.write(dir.resolve("a.bin"), Array.fill[Byte](1000)(1))
    Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("sub").resolve("b.bin"), Array.fill[Byte](234)(2))
    assert(StreamRun.inputBytes(spark, dir.toString) == Some(1234L))
    assert(StreamRun.inputBytes(spark, dir.toUri.toString) == Some(1234L))
  }

  test("child session: clamped shuffle partitions, RocksDB only for " +
      "transformWithState, the caller's confs untouched") {
    val partitions = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocksDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def callerConfs = (spark.conf.get(partitions), spark.conf.getOption(provider))
    val before = callerConfs
    val src = Files.createTempDirectory("stream_run_iso").resolve("in").toString
    (1 to 20).map(i => (i, s"text ${i % 7}")).toDF("doc_id", "text").write.parquet(src)

    /** Runs a dedup over `src`, sized from `inputDir`; returns the child
      * session the query was built in. */
    def run(inputDir: String, tws: Boolean): SparkSession = {
      var child: SparkSession = null
      val out = StreamRun.availableNow(spark, inputDir) { c =>
        child = c
        assert(callerConfs == before) // the caller's session is not touched
        val hashes = c.readStream.schema("doc_id INT, text STRING").parquet(src)
          .select(md5(col("text")).as("h"))
        if (tws) DedupTws.distinctHashes(hashes.as[String], ttlMs = 0L).toDF("h")
        else hashes.dropDuplicates()
      }
      assert(out.count() == 7L)
      assert(callerConfs == before)
      child
    }

    assert(before._1 == "4")
    // a small input clamps to one partition; a TWS plan gets RocksDB, which
    // the caller's session does not have
    val tws = run(src, tws = true)
    assert(tws.conf.get(partitions) == "1")
    assert(tws.conf.getOption(provider).contains(rocksDB) && !before._2.contains(rocksDB))
    // a plan without transformWithState keeps the session's provider
    val plain = run(src, tws = false)
    assert(plain.conf.get(partitions) == "1")
    assert(plain.conf.getOption(provider) == before._2)
  }

  test("an input that cannot be sized keeps the session's shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    val src = Files.createTempDirectory("stream_run_unsized").resolve("in").toString
    (1 to 20).map(i => (i, s"text ${i % 7}")).toDF("doc_id", "text").write.parquet(src)
    val missing = Files.createTempDirectory("stream_run_missing").resolve("absent").toString
    var child: SparkSession = null
    val out = StreamRun.availableNow(spark, missing) { c =>
      child = c
      c.readStream.schema("doc_id INT, text STRING").parquet(src).select("text").dropDuplicates()
    }
    assert(out.count() == 7L)
    assert(child.conf.get(key) == session)
    assert(spark.conf.get(key) == session)
  }

  test("an input that commits no batch returns 0 rows with the query's schema") {
    val dir = Files.createTempDirectory("stream_run_empty").toString
    def build(c: SparkSession): DataFrame =
      c.readStream.schema("doc_id INT, text STRING").parquet(dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
    val out = StreamRun.availableNow(spark, dir)(build)
    assert(out.count() == 0L)
    assert(out.schema == build(spark).schema)
    assert(out.schema("h").dataType == StringType)
  }
}
