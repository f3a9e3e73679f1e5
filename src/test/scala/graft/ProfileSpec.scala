package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

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

  /** Plan-shape drift: the shape counts of a fixed sample — the four
    * provider converters, the headline job, the two repair stencils the
    * converters share, the xT fit, a map-only query and the three
    * signature-based dedup queries — must equal their
    * records in `BENCH/profile_r07.jsonl`. A change that moves one of these
    * shapes regenerates that table in the same diff (`graft.Profile
    * <sf0.001> 4 3 <out> all valuation valuation_packed phases`, whose
    * `profile.jsonl` replaces it). */
  test("plan shapes of a fixed sample match BENCH/profile_r07.jsonl") {
    val shape = Seq("exchanges", "broadcasts", "sorts", "windows", "wscg", "scans").map(col)
    val table = spark.read.json("BENCH/profile_r07.jsonl")
    val drift = Seq("convert_statsbomb_full", "convert_opta_full", "convert_wyscout_full",
      "convert_kloppy_full", "valuation", "repair_owngoal_shots", "repair_goalkicks",
      "xt_fit_surface", "tokens_hash_split", "dedup_simhash_values", "dedup_simhash_pairs",
      "dedup_minhash_lsh").flatMap { name =>
      val rec = record(name)
      assert(!rec.columns.contains("error"), rec.head().toString)
      val ran = rec.select(shape: _*).head()
      val want = table.filter(col("name") === name).select(shape: _*).collect().toSeq
      if (want == Seq(ran)) None else Some(s"$name: ran $ran, table $want")
    }
    assert(drift.isEmpty, drift.mkString("\n"))
  }

  test("map-only tokens_hash_split runs no exchange") {
    assert(record("tokens_hash_split").head().getAs[Long]("exchanges") == 0L)
  }

  test("map-only dedup_simhash_values runs no exchange") {
    assert(record("dedup_simhash_values").head().getAs[Long]("exchanges") == 0L)
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
