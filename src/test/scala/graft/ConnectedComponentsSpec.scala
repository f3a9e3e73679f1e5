package graft

import graft.dedup.Dedup

/** Min-label-propagation connected components (dedup/Dedup.scala):
  * multi-round chains, component isolation, and the cluster projection. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("path graph needs multiple rounds and still converges to min id") {
    // 1-2-3-4-5 chain (diameter 4) plus an isolated pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc.size == 7)
  }

  test("pointer jumping: a 64-chain converges within O(log n) rounds") {
    // without the comp(comp(v)) shortcut this needs ~63 rounds; with it,
    // label-chain lengths halve per round, so maxIter = 10 suffices
    val edges = (1L until 64L).map(i => (i, i + 1)).toSeq.toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 64 && cc.values.forall(_ == 1L))
  }

  test("reliable checkpoint mode engages when the context has a checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("cc_reliable_ckpt").toString
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
      // rounds actually wrote reliable RDD checkpoints (the store that
      // survives executor loss), not executor-local blocks
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) (if (c.getName.startsWith("rdd-")) Seq(c) else rddDirs(c)) else Nil)
      assert(rddDirs(new java.io.File(dir)).nonEmpty)
    } finally {
      // the shared session outlives this suite — restore localCheckpoint
      // default (checkpointDir is a private[spark] var; public in bytecode)
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
    }
  }

  test("exhausting maxIter throws instead of returning mid-propagation labels") {
    // a 64-chain cannot converge in one round — silent exit here would
    // hand back labels that split the real component
    val edges = (1L until 64L).map(i => (i, i + 1)).toSeq.toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("edge direction and duplicate edges do not matter") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 9L), (9L, 3L), (9L, 5L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("matches a union-find oracle on a deterministic pseudo-random graph") {
    // 300 edges over 200 vertices from a fixed LCG — mixes cliques,
    // chains, and singleton-free isolated pairs
    val edges = (0 until 300).map { i =>
      val a = (i * 7919L + 13) % 200
      val b = (i * 104729L + 7) % 200
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val cc = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    assert(cc == expected)
  }

  test("duplicateClusters: cluster id is min doc_id, size counts members") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L)))
  }

  test("string ids: a 32-node path graph is one component, ANSI on and off") {
    // lexical order differs from numeric here: the min id is "v0", and
    // "v10" < "v2"
    val edges = (0 until 31).map(i => (s"v$i", s"v${i + 1}")).toDF("doc_a", "doc_b")
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(key, ansi)
        val cc = Dedup.connectedComponents(edges).as[(String, String)].collect().toMap
        assert(cc.size == 32 && cc.values.toSet == Set("v0"), s"ansi=$ansi")
      }
    } finally spark.conf.set(key, prev)
  }
}
