package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine code reaches files through the Hadoop `FileSystem` or Spark's
  * `CheckpointFileManager`, so every path works on any Hadoop store, not
  * only on a local disk. The instrument mains, which write local reports,
  * are exempt; creating a local temp directory stays allowed. */
class EngineIoSpec extends AnyFunSuite {

  test("engine code lists, sizes, renames and deletes files only through Hadoop") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val mains = Seq("Bench", "Verify", "Profile", "ScalingBench", "FreezeGbt")
      .map(m => root.resolve(s"$m.scala")).toSet
    val local = """Files\.(list|walk|move|size|delete|isDirectory|readAllBytes)|\.listFiles\b""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !mains(p))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if local.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }).toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
