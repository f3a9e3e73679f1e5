package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.TextExpressions
import graft.sim.Similarity
import graft.text.TextOps

/** Value parity of the codegen'd kernel expressions vs the round-1
  * higher-order-function formulations they replaced. The HOF forms ARE the
  * oracle-proven semantics (round-1 gate), so bitwise equality here carries
  * the oracle guarantee over to the kernels. Runs on the real sf0.001
  * documents/embeddings tables plus adversarial edge-case strings. */
class KernelsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val edgeCases = Seq(
    "",
    " ",
    "   ",
    "one",
    "a b",
    "\tleading tab",
    "trailing tab\t",
    "inner\nnewline token",
    "  padded  spaces  ",
    "exactly eight tokens are present in this here string",
    "nine tokens a b c d e f g",
    "the the the a a of und der die",
    "unicode café straße 中文 emoji😀end",
    "x " * 50 + "y")

  private def textDf = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("text"))
    docs.unionByName(edgeCases.toDF("text"))
  }

  test("polyHash kernel == HOF form on corpus + edge cases") {
    val d = textDf.select(
      TextOps.polyHash(col("text")).as("k"),
      TextOps.polyHashHof(col("text")).as("h"))
    assert(d.filter(!(col("k") <=> col("h"))).count() == 0)
  }

  test("fingerprint kernel == HOF form on corpus + edge cases") {
    val d = textDf.select(
      TextOps.fingerprint(col("text")).as("k"),
      TextOps.fingerprintHof(col("text")).as("h"))
    assert(d.filter(!(col("k") <=> col("h"))).count() == 0)
  }

  test("markerCountSum kernel == sum of HOF word counts") {
    val words = Seq("the", "a", "of", "und", "der")
    val hof = words.map(w => TextOps.wordCount(col("text"), w)).reduce(_ + _)
    val d = textDf.select(
      TextExpressions.markerCountSum(col("text"), words).as("k"),
      hof.cast("long").as("h"))
    assert(d.filter(!(col("k") <=> col("h"))).count() == 0)
  }

  test("shingles kernel == HOF form (distinct, first-occurrence order)") {
    for (n <- Seq(1, 3, 8)) {
      val d = textDf.select(
        Dedup.shingles(col("text"), n).as("k"),
        Dedup.shinglesHof(col("text"), n).as("h"))
      assert(d.filter(!(col("k") <=> col("h"))).count() == 0, s"n=$n")
    }
  }

  test("simhash kernel == Dedup.simhash32, minhash kernel == Dedup.minhash(text, j)") {
    val s = textDf.select(
      TextExpressions.simhash(col("text")).as("k"),
      Dedup.simhash32(col("text")).as("h"))
    assert(s.filter(!(col("k") <=> col("h"))).count() == 0)
    for (n <- Seq(1, 3, 8)) {
      val d = textDf.select(
        TextExpressions.minhashSig(col("text"), n, Dedup.NumMinhash).as("k"),
        array((0 until Dedup.NumMinhash).map(j => Dedup.minhash(col("text"), j, n)): _*).as("h"))
      assert(d.filter(!(col("k") <=> col("h"))).count() == 0, s"n=$n")
    }
  }

  test("simhash and minhash kernels: null text gives null; both run in whole-stage codegen") {
    import spark.implicits._
    val nulls = Seq(Option.empty[String]).toDF("text").select(
      TextExpressions.simhash(col("text")), TextExpressions.minhashSig(col("text"), 3, 16)).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // the parity reference maps null text to 0; simhashValues drops the row
    assert(Seq(Option.empty[String]).toDF("text").select(Dedup.simhash32(col("text")))
      .head().getLong(0) == 0L)
    val d = Tables.documents(spark, sf).select(
      TextExpressions.simhash(col("text")).as("s"),
      TextExpressions.minhashSig(col("text"), 3, 16).as("m"))
    assert(d.collect().forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    // codegen.fallback is false in this session: a kernel whose generated
    // Java fails to compile fails here instead of running interpreted
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import graft.functions.{MinhashSigExpr, SimhashExpr}
    val inStage = d.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.collect { case p: ProjectExec => p.projectList }).flatten
    assert(inStage.exists(_.find(_.isInstanceOf[SimhashExpr]).isDefined))
    assert(inStage.exists(_.find(_.isInstanceOf[MinhashSigExpr]).isDefined))
  }

  test("fold-dot kernel is bit-identical to the HOF fold (float and const-double)") {
    val e = Tables.embeddings(spark, sf).limit(200)
    val pair = e.select(col("embedding").as("a"))
      .crossJoin(broadcast(e.limit(5).select(col("embedding").as("b"))))
    val d = pair.select(
      Similarity.dot(col("a"), col("b")).as("k"),
      Similarity.dotHof(col("a"), col("b")).as("h"))
    // exact bit equality, not approximate: same fold order, same widening
    assert(d.filter(!(col("k") <=> col("h"))).count() == 0)

    val planes = org.apache.spark.sql.functions.typedLit(
      (0 until Similarity.Dim).map(i => Similarity.planeComponent(3, i)))
    val d2 = e.select(
      Similarity.dot(col("embedding"), planes).as("k"),
      Similarity.dotHof(col("embedding"), planes).as("h"))
    assert(d2.filter(!(col("k") <=> col("h"))).count() == 0)
  }

  test("fold-dot returns null on length mismatch (zip_with padding semantics)") {
    import spark.implicits._
    val d = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("k"))
    assert(d.collect()(0).isNullAt(0))
  }

  test("tokenWindowHashes kernel == interpreted zero-seeded fold, all window sizes") {
    import spark.implicits._
    // real token arrays (md5-derived ids up to 1e9+6, the adversarial
    // magnitude for the modular math) + hand edges: n == w, n < w, n == 0
    val corpus = graft.text.TokenPipeline
      .fromDocuments(Tables.documents(spark, sf).limit(200)
        .withColumn("source", lit("s")))
      .select("tokens")
    val edges = Seq(
      Seq(1000000006, 1000000006, 0, 7),
      Seq(5, 7, 9),
      Seq(42),
      Seq.empty[Int]).toDF("tokens")
    def hof(w: Int) = when(size(col("tokens")) < w, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(1), size(col("tokens")) - (w - 1)),
        i => {
          val win = slice(col("tokens"), i, lit(w))
          def fold(p: Long) =
            aggregate(win, lit(0L), (acc, x) => (acc * 31 + x.cast("long")) % p)
          fold(1000000007L) * 998244353L + fold(998244353L)
        }))
    for (w <- Seq(1, 3, 16)) {
      val d = corpus.unionByName(edges).select(
        TextExpressions.tokenWindowHashes(col("tokens"), w).as("k"), hof(w).as("h"))
      assert(d.filter(!(col("k") <=> col("h"))).count() == 0, s"w=$w")
    }
    // a null token element fails loudly instead of hashing as id 0 and
    // fabricating duplicate spans
    val err = intercept[Throwable] {
      Seq(Seq(Some(1), None, Some(3))).toDF("tokens")
        .select(TextExpressions.tokenWindowHashes(col("tokens"), 2)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("null token")), messages(err).mkString(" | "))
  }
}
