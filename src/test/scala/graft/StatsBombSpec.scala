package graft

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.core.SynStatsBomb
import graft.sources.StatsBomb

/** Per-parser semantics of the full StatsBomb dispatch, each case
  * transcribed from `socceraction/spadl/statsbomb.py:223-483`, plus the
  * interception-pass split and pipeline wiring. */
class StatsBombSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Run one (type_name, extra-JSON) pair through the dispatch. */
  private def parse(typeName: String, extra: String): (Int, Int, Int) = {
    val df = Seq((typeName, extra)).toDF("type_name", "extra")
      .select(StatsBomb.parseEvent(col("type_name"),
        from_json(col("extra"), StatsBomb.extraSchema)).as("r"))
      .select("r.type_id", "r.result_id", "r.bodypart_id")
    val row = df.head()
    (row.getInt(0), row.getInt(1), row.getInt(2))
  }

  test("pass parser: types, heights, cross, outcomes, body parts") {
    // plain open-play pass, no qualifiers → pass/success/foot
    assert(parse("Pass", "{}") == (0, 1, 0))
    // high free kick → freekick_crossed; short → freekick_short
    assert(parse("Pass",
      """{"pass":{"type":{"name":"Free Kick"},"height":{"name":"High Pass"}}}""") == (3, 1, 0))
    assert(parse("Pass", """{"pass":{"type":{"name":"Free Kick"}}}""") == (4, 1, 0))
    // corner crossed via cross=true even without height
    assert(parse("Pass",
      """{"pass":{"type":{"name":"Corner"},"cross":true}}""") == (5, 1, 0))
    assert(parse("Pass", """{"pass":{"type":{"name":"Corner"}}}""") == (6, 1, 0))
    assert(parse("Pass", """{"pass":{"type":{"name":"Goal Kick"}}}""") == (22, 1, 0))
    // throw-in: bodypart defaults to other
    assert(parse("Pass", """{"pass":{"type":{"name":"Throw-in"}}}""") == (2, 1, 2))
    // cross flag on an open-play pass
    assert(parse("Pass", """{"pass":{"cross":true}}""") == (1, 1, 0))
    // outcomes
    assert(parse("Pass", """{"pass":{"outcome":{"name":"Incomplete"}}}""") == (0, 0, 0))
    assert(parse("Pass", """{"pass":{"outcome":{"name":"Out"}}}""") == (0, 0, 0))
    assert(parse("Pass", """{"pass":{"outcome":{"name":"Pass Offside"}}}""") == (0, 2, 0))
    // injury clearance / unknown → discarded as non_action/success
    assert(parse("Pass", """{"pass":{"outcome":{"name":"Injury Clearance"}}}""") == (20, 1, 0))
    assert(parse("Pass", """{"pass":{"outcome":{"name":"Unknown"}}}""") == (20, 1, 0))
    // body parts: head / sided feet / drop kick → foot / other
    assert(parse("Pass", """{"pass":{"body_part":{"name":"Head"}}}""") == (0, 1, 1))
    assert(parse("Pass", """{"pass":{"body_part":{"name":"Left Foot"}}}""") == (0, 1, 4))
    assert(parse("Pass", """{"pass":{"body_part":{"name":"Right Foot"}}}""") == (0, 1, 5))
    assert(parse("Pass", """{"pass":{"body_part":{"name":"Drop Kick"}}}""") == (0, 1, 0))
    assert(parse("Pass", """{"pass":{"body_part":{"name":"Keeper Arm"}}}""") == (0, 1, 2))
  }

  test("dribble/carry parsers") {
    assert(parse("Dribble", """{"dribble":{"outcome":{"name":"Incomplete"}}}""") == (7, 0, 0))
    assert(parse("Dribble", """{"dribble":{"outcome":{"name":"Complete"}}}""") == (7, 1, 0))
    assert(parse("Dribble", "{}") == (7, 1, 0))
    assert(parse("Carry", "{}") == (21, 1, 0))
  }

  test("foul parser: card escalation") {
    assert(parse("Foul Committed", "{}") == (8, 0, 0))
    assert(parse("Foul Committed",
      """{"foul_committed":{"card":{"name":"Yellow Card"}}}""") == (8, 4, 0))
    // "Second Yellow" contains Yellow → yellow_card (checked before Red)
    assert(parse("Foul Committed",
      """{"foul_committed":{"card":{"name":"Second Yellow"}}}""") == (8, 4, 0))
    assert(parse("Foul Committed",
      """{"foul_committed":{"card":{"name":"Red Card"}}}""") == (8, 5, 0))
  }

  test("duel parser: only tackles are actions") {
    assert(parse("Duel",
      """{"duel":{"type":{"name":"Tackle"},"outcome":{"name":"Lost In Play"}}}""") == (9, 0, 0))
    assert(parse("Duel",
      """{"duel":{"type":{"name":"Tackle"},"outcome":{"name":"Won"}}}""") == (9, 1, 0))
    assert(parse("Duel", """{"duel":{"type":{"name":"Tackle"}}}""") == (9, 1, 0))
    assert(parse("Duel", """{"duel":{"type":{"name":"Aerial Lost"}}}""") == (20, 1, 0))
  }

  test("interception parser") {
    assert(parse("Interception",
      """{"interception":{"outcome":{"name":"Lost Out"}}}""") == (10, 0, 0))
    assert(parse("Interception",
      """{"interception":{"outcome":{"name":"Won"}}}""") == (10, 1, 0))
    assert(parse("Interception", "{}") == (10, 1, 0))
  }

  test("shot parser: types, outcomes, no drop-kick remap") {
    assert(parse("Shot", """{"shot":{"outcome":{"name":"Goal"}}}""") == (11, 1, 0))
    assert(parse("Shot", """{"shot":{"outcome":{"name":"Saved"}}}""") == (11, 0, 0))
    assert(parse("Shot",
      """{"shot":{"type":{"name":"Free Kick"},"outcome":{"name":"Goal"}}}""") == (13, 1, 0))
    assert(parse("Shot", """{"shot":{"type":{"name":"Penalty"}}}""") == (12, 0, 0))
    assert(parse("Shot", """{"shot":{"body_part":{"name":"Head"}}}""") == (11, 0, 1))
    // shot parser has NO Drop Kick → foot special case: falls to other
    assert(parse("Shot", """{"shot":{"body_part":{"name":"Drop Kick"}}}""") == (11, 0, 2))
  }

  test("own goal / goalkeeper / clearance / miscontrol / unknown parsers") {
    assert(parse("Own Goal Against", "{}") == (19, 3, 0))
    assert(parse("Goal Keeper",
      """{"goalkeeper":{"type":{"name":"Shot Saved"},"outcome":{"name":"Success"}}}""") == (14, 1, 2))
    assert(parse("Goal Keeper",
      """{"goalkeeper":{"type":{"name":"Keeper Sweeper"},"outcome":{"name":"No Touch"}}}""") == (15, 0, 2))
    assert(parse("Goal Keeper",
      """{"goalkeeper":{"type":{"name":"Punch"},"body_part":{"name":"Drop Kick"}}}""") == (16, 1, 0))
    // unrecognized gk type → non_action; default gk bodypart = other
    assert(parse("Goal Keeper", """{"goalkeeper":{"type":{"name":"Smother"}}}""") == (20, 1, 2))
    assert(parse("Clearance",
      """{"clearance":{"body_part":{"name":"Head"}}}""") == (18, 1, 1))
    assert(parse("Clearance", "{}") == (18, 1, 0))
    assert(parse("Miscontrol", "{}") == (19, 0, 0))
    assert(parse("Pressure", "{}") == (20, 1, 0))
    assert(parse("Starting XI", "{}") == (20, 1, 0))
  }

  test("interception-pass split: derived interception precedes the pass") {
    val events = Seq(
      (1L, 100L, 1, "00:01:00.000", 0L, 7L, "Pass",
        Seq(10.0, 10.0),
        """{"pass":{"type":{"name":"Interception"},"end_location":[60.0,40.0]}}""", 100L),
      (1L, 101L, 1, "00:01:05.000", 0L, 8L, "Carry",
        Seq(60.0, 40.0), """{"carry":{"end_location":[61.0,41.0]}}""", 101L),
      // a null bag: the carrier condition is null, which splits nothing
      (1L, 102L, 1, "00:02:00.000", 0L, 9L, "Pass", Seq(70.0, 30.0), null, 102L))
      .toDF("game_id", "event_id", "period_id", "timestamp", "team_id",
        "player_id", "type_name", "location", "extra", "seq")
    val out = StatsBomb.convertToActions(events, lit(0L))
      .orderBy("action_id").collect()
    // interception (derived) first, then the pass, then the carry(dribble)
    val types = out.map(_.getAs[Int]("type_id")).toSeq
    assert(types.take(2) == Seq(10, 0))
    assert(types.contains(21)) // carry → dribble
    val icpt = out(0)
    assert(icpt.getAs[Int]("result_id") == 1) // Success In Play
    // interception inherits the pass's location and timestamp
    assert(icpt.getAs[Double]("time_seconds") == 60.0)
    assert(icpt.getAs[Double]("start_x") == out(1).getAs[Double]("start_x"))
    // the null-bag pass is one action: the original row (2·102+1) alone
    val nullBag = out.filter(_.getAs[Long]("player_id") == 9L)
    assert(nullBag.map(r => (r.getAs[Int]("type_id"), r.getAs[Long]("seq"))).toSeq ==
      Seq((0, 205L)))
  }

  test("the extra bag is parsed once: one from_json in the plan that ran") {
    // an RDD source, so the optimizer cannot fold the parse into a local
    // relation; the derived interception's literal bag folds to a constant
    val events = spark.sparkContext.parallelize(Seq(
      (1L, 100L, 1, "00:01:00.000", 0L, 7L, "Pass", Seq(10.0, 10.0),
        """{"pass":{"type":{"name":"Interception"},"end_location":[60.0,40.0]}}""", 100L),
      (1L, 101L, 1, "00:01:05.000", 0L, 8L, "Shot", Seq(60.0, 40.0),
        """{"shot":{"outcome":{"name":"Goal"}}}""", 101L)))
      .toDF("game_id", "event_id", "period_id", "timestamp", "team_id",
        "player_id", "type_name", "location", "extra", "seq")
    val df = StatsBomb.convertToActions(events, lit(0L))
    assert(df.collect().length == 3)
    val parses = collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.expressions.map(_.collect { case j: JsonToStructs => j }.length).sum
    }.sum
    assert(parses == 1, df.queryExecution.executedPlan.toString)
  }

  test("fidelity: one fractional location switches the whole game to 0.1 cells") {
    def mk(frac: Boolean) = Seq(
      (1L, 1L, 1, "00:00:01.000", 0L, 7L, "Pass",
        Seq(if (frac) 60.5 else 60.0, 40.0), "{}", 1L),
      (1L, 2L, 1, "00:00:05.000", 0L, 7L, "Clearance", Seq(62.0, 41.0), "{}", 2L))
      .toDF("game_id", "event_id", "period_id", "timestamp", "team_id",
        "player_id", "type_name", "location", "extra", "seq")
    def sx(frac: Boolean) = StatsBomb.convertToActions(mk(frac), lit(0L))
      .filter(col("seq") === 3L) // the pass: original seq 1 → 2·1+1
      .head().getAs[Double]("start_x")
    // v1: (60 − 0.5)/120·105 ; v2: (60.5 − 0.05)/120·105
    assert(sx(frac = false) == (60.0 - 0.5) / 120 * 105)
    assert(sx(frac = true) == (60.5 - 0.05) / 120 * 105)
  }

  test("synthetic generator covers the full dispatch vocabulary") {
    val raw = SynStatsBomb.fromEvents(
      graft.core.Tables.events(spark, "/root/testdata/sf0.001"))
    val out = StatsBomb.convertToActions(raw, SynStatsBomb.homeTeamId)
    val types = out.select("type_id").distinct().collect().map(_.getInt(0)).toSet
    // every SPADL type except non_action (filtered) and keeper_pick_up
    // (StatsBomb's dispatch never emits 17) appears
    val expected = (0 to 22).toSet - 20 - 17
    assert(expected.subsetOf(types), s"missing: ${expected -- types}")
    val results = out.select("result_id").distinct().collect().map(_.getInt(0)).toSet
    assert(results == Set(0, 1, 2, 3, 4, 5))
    val bps = out.select("bodypart_id").distinct().collect().map(_.getInt(0)).toSet
    assert(bps == Set(0, 1, 2, 4, 5))
  }
}
