package graft

import java.nio.file.Files

import graft.streaming.StreamRun

/** Input sizing of `StreamRun.withAdaptiveStateParallelism` goes through
  * the Hadoop filesystem, so a URI sizes like its plain path, and an input
  * it cannot size keeps the session's parallelism. */
class StreamRunSpec extends SparkSpec {

  test("a file: URI directory sizes like its plain path") {
    val dir = Files.createTempDirectory("stream_run_size")
    Files.write(dir.resolve("a.bin"), Array.fill[Byte](1000)(1))
    Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("sub").resolve("b.bin"), Array.fill[Byte](234)(2))
    assert(StreamRun.inputBytes(spark, dir.toString) == Some(1234L))
    assert(StreamRun.inputBytes(spark, dir.toUri.toString) == Some(1234L))
  }

  test("an input that cannot be sized keeps the session's shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    val missing = Files.createTempDirectory("stream_run_missing").resolve("absent").toString
    assert(StreamRun.withAdaptiveStateParallelism(spark, missing)(spark.conf.get(key)) == session)
    assert(spark.conf.get(key) == session)
  }
}
