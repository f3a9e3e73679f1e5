package graft

import java.nio.file.Files

/** `Profile` records: the shape counts are read from the plan that ran (the
  * final adaptive plan), and a record carries every documented field. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private lazy val out = Files.createTempDirectory("graft-profile")

  private def record(name: String) = {
    import spark.implicits._
    val Seq(rec) = Profile.profile(spark, sf, cores = 4, rounds = 1, out, name)
    spark.read.json(Seq(rec).toDS())
  }

  test("map-only tokens_hash_split runs no exchange") {
    assert(record("tokens_hash_split").head().getAs[Long]("exchanges") == 0L)
  }

  test("xt_transition_matrix: exchanges and whole-stage codegen stages of the final plan") {
    val r = record("xt_transition_matrix").head()
    assert(r.getAs[Long]("exchanges") >= 1L)
    // the pre-execution adaptive plan has no codegen stages yet
    assert(r.getAs[Long]("wscg") >= 1L)
    assert(Files.exists(out.resolve("plans/xt_transition_matrix.txt")))
  }

  test("a record parses as JSON with every field; a failure is a record with an error") {
    val fields = Seq("name", "kind", "sf", "cores", "rounds", "times_s", "min_s",
      "exchanges", "broadcasts", "sorts", "windows", "wscg", "scans")
    val ok = record("tokens_hash_split")
    assert(fields.forall(ok.columns.contains) && !ok.columns.contains("error"))
    val r = ok.head()
    assert(r.getAs[String]("kind") == "query" && r.getAs[String]("sf") == "sf0.001")
    assert(r.getAs[Long]("cores") == 4L && r.getAs[collection.Seq[Double]]("times_s").size == 1)
    val failed = record("no_such_query").head()
    assert(failed.getAs[String]("error").contains("no_such_query"))
  }
}
