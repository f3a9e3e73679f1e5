package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingPacker
import graft.streaming.StreamingPacker.{PackedChunk, PackState, TokenDoc}
import graft.text.TokenPipeline

/** Stateful streaming packer (streaming/StreamingPacker.scala): pure
  * packing algebra, multi-micro-batch state carry, and batch↔stream
  * equivalence on full chunks. */
class StreamingPackerSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Int, src: String, toks: Range) =
    TokenDoc(f"$id%04d", toks.toSeq, toks.size, src)

  test("packGroup: chunk boundaries, straddles, and piece counts") {
    val st0 = PackState(0L, Nil, 0L)
    // 3+3 tokens, C=4: chunk 0 = [d1, head of d2], tail [5,6] buffered
    val (out, st) = StreamingPacker.packGroup("s",
      Seq(doc(1, "s", 1 to 3), doc(2, "s", 4 to 6)), st0, 4)
    assert(out == Seq(PackedChunk("s", 0L, Seq(1, 2, 3, 4), 4, 2L)))
    assert(st == PackState(1L, Seq(5, 6), 1L, Some("0002")))
    // a doc spanning several chunks keeps n_docs=1 on interior chunks
    val (out2, st2) = StreamingPacker.packGroup("s", Seq(doc(3, "s", 7 to 16)), st, 4)
    assert(out2 == Seq(
      PackedChunk("s", 1L, Seq(5, 6, 7, 8), 4, 2L),
      PackedChunk("s", 2L, Seq(9, 10, 11, 12), 4, 1L),
      PackedChunk("s", 3L, Seq(13, 14, 15, 16), 4, 1L)))
    assert(st2 == PackState(4L, Nil, 0L, Some("0003")))
    // exact fill: a doc that lands on the boundary leaves an empty buffer
    val (out3, st3) = StreamingPacker.packGroup("s", Seq(doc(4, "s", 1 to 4)), st2, 4)
    assert(out3.head.n_docs == 1L && st3.buffer.isEmpty && st3.docsInCur == 0L)
  }

  test("packGroup enforces the cross-batch doc_id ordering contract") {
    // a batch delivering an id ≤ the max already packed must fail loudly
    // (silent acceptance would produce chunks diverging from the batch
    // packer); ids strictly above the watermark keep flowing
    val (_, st) = StreamingPacker.packGroup("s",
      Seq(doc(5, "s", 1 to 3)), PackState(0L, Nil, 0L), 4)
    assert(st.maxDocId.contains("0005"))
    val regress = intercept[IllegalStateException] {
      StreamingPacker.packGroup("s", Seq(doc(4, "s", 1 to 3)), st, 4)
    }
    assert(regress.getMessage.contains("ordering contract"))
    val replay = intercept[IllegalStateException] {
      StreamingPacker.packGroup("s", Seq(doc(5, "s", 1 to 3)), st, 4)
    }
    assert(replay.getMessage.contains("0005"))
    // zero-token docs advance the watermark too (they were delivered)
    val (out2, st2) = StreamingPacker.packGroup("s",
      Seq(TokenDoc("0006", Nil, 0, "s")), st, 4)
    assert(out2.isEmpty && st2.maxDocId.contains("0006"))
    // a replay WITHIN one micro-batch is the same silent divergence
    val sameBatch = intercept[IllegalStateException] {
      StreamingPacker.packGroup("s",
        Seq(doc(7, "s", 1 to 3), doc(7, "s", 1 to 3)), st2, 4)
    }
    assert(sameBatch.getMessage.contains("twice in one micro-batch"))
  }

  test("multi-batch streaming equals single-batch packing on full chunks") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (1 to 9).map(i => doc(i, if (i % 2 == 0) "a" else "b", 1 to (i * 3)))
    val (batch1, batch2) = docs.splitAt(5) // doc_id-monotone arrival
    val input = MemoryStream[TokenDoc]
    val out = StreamingPacker.pack(input.toDS(), chunkSize = 16)
    val ckpt = Files.createTempDirectory("pack_ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("pack_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    try {
      input.addData(batch1)
      query.processAllAvailable()
      input.addData(batch2)
      query.processAllAvailable()
      val streamed = spark.table("pack_out").as[PackedChunk].collect()
        .sortBy(c => (c.source, c.chunk_id)).toSeq
      // reference: everything in ONE state pass per source
      val expected = docs.groupBy(_.source).toSeq.flatMap { case (src, ds) =>
        StreamingPacker.packGroup(src, ds, PackState(0L, Nil, 0L), 16)._1
      }.sortBy(c => (c.source, c.chunk_id))
      assert(streamed == expected)
      assert(streamed.forall(_.n_tok == 16))
    } finally query.stop()
  }

  test("transformWithState packer (RocksDB) equals the flatMapGroupsWithState form") {
    // transformWithState requires the RocksDB provider: set it on a session
    // of this test's own, not on the shared one
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = rocks.sqlContext
    val docs = (1 to 9).map(i => doc(i, if (i % 2 == 0) "a" else "b", 1 to (i * 3)))
    val (batch1, batch2) = docs.splitAt(5)
    val input = MemoryStream[TokenDoc]
    val out = graft.streaming.PackerTws.pack(input.toDS(), chunkSize = 16)
    val query = out.writeStream
      .format("memory").queryName("tws_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("tws_ckpt").toString)
      .start()
    try {
      input.addData(batch1)
      query.processAllAvailable()
      input.addData(batch2)
      query.processAllAvailable()
      val streamed = rocks.table("tws_out").as[PackedChunk].collect()
        .sortBy(c => (c.source, c.chunk_id)).toSeq
      // shared packGroup algebra ⇒ chunk-identical to the single-pass
      // reference AND the flatMapGroupsWithState operator
      val expected = docs.groupBy(_.source).toSeq.flatMap { case (src, ds) =>
        StreamingPacker.packGroup(src, ds, PackState(0L, Nil, 0L), 16)._1
      }.sortBy(c => (c.source, c.chunk_id))
      assert(streamed == expected)
    } finally query.stop()
  }

  test("packer state survives a checkpoint restart (chunk ids and buffer continue)") {
    import org.apache.spark.sql.functions.col
    val srcDir = Files.createTempDirectory("pack_src").toString
    val outDir = Files.createTempDirectory("pack_out_d").toString
    val ckpt = Files.createTempDirectory("pack_ck").toString
    val C = 8
    def write(docs: Seq[TokenDoc]): Unit =
      docs.toDS().toDF().coalesce(1).write.mode("append").parquet(srcDir)
    def runToCompletion(): Unit = {
      val sch = Seq(doc(0, "s", 1 to 1)).toDS().toDF().schema
      val stream = spark.readStream.schema(sch).parquet(srcDir)
      val q = StreamingPacker.pack(stream.as[TokenDoc], C).toDF().writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    val docs1 = Seq(doc(1, "s", 1 to 5), doc(2, "s", 6 to 11))   // 11 tokens → 1 chunk + 3-token tail
    val docs2 = Seq(doc(3, "s", 12 to 20), doc(4, "s", 21 to 24)) // tail + 13 more → chunks 1, 2
    write(docs1); runToCompletion()
    write(docs2); runToCompletion() // NEW query, SAME checkpoint → state restored
    val got = spark.read.parquet(outDir).as[PackedChunk].collect()
      .sortBy(_.chunk_id).toSeq
    val expected = StreamingPacker.packGroup("s", docs1 ++ docs2, PackState(0L, Nil, 0L), C)._1
    assert(got == expected)
    assert(got.map(_.chunk_id) == (0L until got.length))
    // the run-2 chunks depend on run-1's buffered tail (tokens 9..11):
    // proves the state carried across the restart
    assert(got(1).tokens.take(3) == Seq(9, 10, 11))
  }

  test("streaming dropDuplicates dedup gate: duplicates across micro-batches emit once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = input.toDS().toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("content_hash"))
      .dropDuplicates()
    val ckpt = Files.createTempDirectory("dedup_ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(Seq("aa", "bb", "aa"))
      query.processAllAvailable()
      input.addData(Seq("bb", "cc")) // bb already seen in batch 1 → state drops it
      query.processAllAvailable()
      assert(spark.table("dedup_out").count() == 3)
    } finally query.stop()
  }

  test("streaming full chunks match the batch packer on the documents table") {
    val docsDf = Seq(
      ("d01", "alpha beta gamma delta epsilon zeta", "s1"),
      ("d02", "one two three four five six seven eight nine ten", "s1"),
      ("d03", "a b c d e f g h i j k l m n o p q r", "s2"),
      ("d04", "x y z w", "s2"),
      ("d05", "p q r s t u v", "s1")
    ).toDF("doc_id", "text", "source")
    val toks = TokenPipeline.fromDocuments(docsDf)
    val C = 8
    val batchFull = TokenPipeline.packChunks(toks, C)
      .filter($"n_tok" === C)
      .select("source", "chunk_id", "tokens", "n_tok", "n_docs")
      .as[PackedChunk].collect().sortBy(c => (c.source, c.chunk_id)).toSeq
    val viaState = toks.as[TokenDoc].collect().groupBy(_.source).toSeq
      .flatMap { case (src, ds) =>
        StreamingPacker.packGroup(src, ds.toSeq, PackState(0L, Nil, 0L), C)._1
      }.sortBy(c => (c.source, c.chunk_id))
    assert(viaState == batchFull)
  }
}
