package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Spadl._
import graft.core.SynActions.Wg
import graft.operators.{RepairOps, SpadlOps}

/** The full Wyscout event→SPADL converter (SURVEY.md §2.2 P10 + §2.3
  * N12/N13/N15) — reference `socceraction/spadl/wyscout.py:25-917`
  * ("HERE BE DRAGONS" per the reference's own header; quirks preserved and
  * flagged below).
  *
  * Input: one row per Wyscout event with `(game_id, event_id, period_id,
  * milliseconds, team_id, player_id, type_id [Wyscout], subtype_id,
  * tags array<int>, positions array<struct<x,y>>, seq)` in raw feed order.
  *
  * The chain mirrors the reference exactly: tag explosion → position split →
  * shot goal-mosaic coordinates → duel conversion → interception insertion
  * (re-sort) → offside attach → touch conversion → simulation conversion →
  * type/result/bodypart dispatch → non-action removal → coordinate fix-ups
  * (goalkick/foul/keeper-save, keeper-after-goal removal) → direction fix →
  * clearance fix → dribble synthesis. Every step up to the per-game
  * normalizer scan is a per-game window pass or filter; the two orderings
  * used are raw `seq` (pre-insertion) and `(period, ms, seq2)`
  * (post-insertion). All of them share one game_id exchange, placed before
  * the duel conversion's windows: it carries the ids, `period_id`,
  * `milliseconds`, `seq`, Wyscout type/subtype, the four position
  * coordinates (goal-mosaic already applied) and the 19 tag flags — not
  * the raw `tags` array nor `event_id`, which no later stage reads.
  */
object Wyscout {

  /** Tag ids consulted by the pipeline (the relevant subset of the
    * reference's 59-entry `wyscout_tags`, `wyscout.py:79-139`). Exploded to
    * boolean COLUMNS because later stages mutate them (duel/touch/simulation
    * conversions) and inserted interceptions reset them all. */
  private val tagCols: Seq[(String, Int)] = Seq(
    "goal" -> 101, "own_goal" -> 102, "left_foot" -> 401, "right_foot" -> 402,
    "head_body" -> 403, "high" -> 801, "interception" -> 1401,
    "clearance_tag" -> 1501, "missed_ball" -> 1302, "take_on_left" -> 503,
    "take_on_right" -> 504, "sliding_tackle" -> 1601, "red_card" -> 1701,
    "yellow_card" -> 1702, "second_yellow_card" -> 1703, "blocked" -> 2101,
    "fairplay" -> 1001, "accurate" -> 1801, "not_accurate" -> 1802)

  // goal-mosaic position-tag groups (`wyscout.py:222-283`)
  private val MosaicGroups: Seq[(Seq[Int], Double)] = Seq(
    // application order in the reference; LAST assignment wins
    (Seq(1201, 1203, 1207), 50.0), // goal center
    (Seq(1202, 1206, 1209), 55.0), // goal right
    (Seq(1204, 1205, 1208), 45.0), // goal left
    (Seq(1214, 1221), 50.0), // out center (incl. post high center)
    (Seq(1210, 1213, 1216), 60.0), // out right
    (Seq(1211, 1212, 1215), 40.0), // out left
    (Seq(1218, 1219, 1222), 55.38), // post left
    (Seq(1217, 1220, 1223), 44.62)) // post right

  def convertToActions(events: DataFrame, homeTeamId: Column): DataFrame = {
    val wRaw = Window.partitionBy("game_id").orderBy("seq")

    // ---- step 0: tag explosion + position split (`:59-183`) -------------
    val base = events.select(
      Seq(col("game_id"), col("event_id"), col("period_id"), col("milliseconds"),
        col("team_id"), col("player_id"), col("type_id"), col("subtype_id"),
        col("tags"), col("seq"),
        Converters.wyscoutStartX(col("positions")).as("start_x"),
        Converters.wyscoutStartY(col("positions")).as("start_y"),
        Converters.wyscoutEndX(col("positions")).as("end_x"),
        Converters.wyscoutEndY(col("positions")).as("end_y")) ++
        tagCols.map { case (n, id) => Converters.hasTag(col("tags"), id).as(n) }: _*)

    // ---- step 1: shot goal-mosaic end coordinates (N13, `:207-287`) -----
    val shot = col("subtype_id").isin(33, 100)
    val pas = col("type_id") === 8
    val anyTag = (ids: Seq[Int]) => ids.map(Converters.hasTag(col("tags"), _)).reduce(_ || _)
    val anyMosaic = anyTag(MosaicGroups.flatMap(_._1))
    // last-wins pandas assignment ⇒ when-chain in REVERSE application order
    val mosaicY = MosaicGroups.reverse.foldLeft(lit(null).cast("double")) {
      case (acc, (ids, y)) => when(anyTag(ids), y).otherwise(acc)
    }
    val mosaicked = base
      .withColumn("end_x",
        when((shot || pas) && col("blocked"), col("start_x"))
          .when(shot && anyMosaic, 100.0)
          .otherwise(col("end_x")))
      .withColumn("end_y",
        when((shot || pas) && col("blocked"), col("start_y"))
          .when(shot && mosaicY.isNotNull, mosaicY)
          .otherwise(col("end_y")))
      // the tag flags above are all that later stages read of `tags`
      .drop("tags", "event_id")

    // ---- step 2: duel conversion (`:290-375`) ---------------------------
    val d1 = mosaicked
      .withColumn("nx1_type", lead("type_id", 1).over(wRaw))
      .withColumn("nx1_sub", lead("subtype_id", 1).over(wRaw))
      .withColumn("nx1_team", lead("team_id", 1).over(wRaw))
      .withColumn("nx2_sub", lead("subtype_id", 2).over(wRaw))
      .withColumn("nx2_team", lead("team_id", 2).over(wRaw))
      .withColumn("nx2_period", lead("period_id", 2).over(wRaw))
      .withColumn("nx2_sx", lead("start_x", 2).over(wRaw))
      .withColumn("nx2_sy", lead("start_y", 2).over(wRaw))
    val duelOut = coalesce(
      col("type_id") === 1 && col("nx1_type") === 1 && col("nx2_sub") === 50 &&
        col("period_id") === col("nx2_period"), lit(false))
    val sel0 = duelOut && !(col("team_id") <=> col("nx2_team"))
    val sel1 = duelOut && !(col("nx1_team") <=> col("nx2_team"))
    val duelWon = sel0 || sel1
    val duelWonAir = (sel0 && col("subtype_id") === 10) || (sel1 && col("nx1_sub") === 10)
    val d2 = d1
      .withColumn("won", duelWon)
      .withColumn("subtype_id",
        when(duelWonAir, 82).when(col("won"), 85).otherwise(col("subtype_id")))
      .withColumn("type_id", when(col("won"), 8).otherwise(col("type_id")))
      .withColumn("accurate", when(col("won"), false).otherwise(col("accurate")))
      .withColumn("not_accurate", when(col("won"), true).otherwise(col("not_accurate")))
      .withColumn("end_x", when(col("won"), lit(100.0) - col("nx2_sx")).otherwise(col("end_x")))
      .withColumn("end_y", when(col("won"), lit(100.0) - col("nx2_sy")).otherwise(col("end_y")))
      // ground attacking duels tagged take-on, and sliding tackles, survive
      // as type 0 (post-duel-won subtype, matching the sequential pandas
      // assignment); everything still typed duel is dropped
      .withColumn("type_id",
        when(col("subtype_id") === 11 && (col("take_on_left") || col("take_on_right")), 0)
          .otherwise(col("type_id")))
      .withColumn("type_id", when(col("sliding_tackle"), 0).otherwise(col("type_id")))
      .filter(col("type_id") =!= 1)
      .drop("nx1_type", "nx1_sub", "nx1_team", "nx2_sub", "nx2_team",
        "nx2_period", "nx2_sx", "nx2_sy", "won")

    // ---- step 3: interception insertion (N4, `:377-418`) ----------------
    val isInterceptionCarrier = col("interception") &&
      (col("type_id") === 8 || col("subtype_id").isin(70, 71))
    // the derived interception is in place, untyped, with every tag reset
    // but `interception`
    val d3 = Converters.insertBefore(d2, isInterceptionCarrier,
      Map("type_id" -> lit(0), "subtype_id" -> lit(0),
        "end_x" -> col("start_x"), "end_y" -> col("start_y")) ++
        tagCols.map { case (n, _) => n -> lit(n == "interception") })
    // post-insertion canonical order: stable (period, ms) with derived first
    val wMs = Window.partitionBy("game_id")
      .orderBy("period_id", "milliseconds", "seq")

    // ---- step 4: offside attach (`:421-455`) ----------------------------
    val d4 = d3
      .withColumn("offside",
        when(col("type_id") === 8 && lead("type_id", 1).over(wMs) === 6, 1).otherwise(0))
      .filter(col("type_id") =!= 6)

    // ---- step 5: touch conversion (N12, `:505-552`) ---------------------
    val t1 = d4
      .withColumn("nx1_player", lead("player_id", 1).over(wMs))
      .withColumn("nx1_team", lead("team_id", 1).over(wMs))
      .withColumn("nx1_sx", lead("start_x", 1).over(wMs))
      .withColumn("nx1_sy", lead("start_y", 1).over(wMs))
    val touch = col("subtype_id") === 72 && !col("interception") && !col("missed_ball")
    val samePlayer = col("player_id") <=> col("nx1_player")
    val sameTeam = col("team_id") <=> col("nx1_team")
    val sameLocT = coalesce(
      abs(col("end_x") - col("nx1_sx")) < SpadlOps.MinDribbleLength &&
        abs(col("end_y") - col("nx1_sy")) < SpadlOps.MinDribbleLength, lit(false))
    val touchPass = touch && !samePlayer && sameLocT
    val d5 = t1
      .withColumn("accurate", when(touchPass, sameTeam).otherwise(col("accurate")))
      .withColumn("not_accurate", when(touchPass, !sameTeam).otherwise(col("not_accurate")))
      .withColumn("type_id", when(touchPass, 8).otherwise(col("type_id")))
      .withColumn("subtype_id", when(touchPass, 85).otherwise(col("subtype_id")))
      .drop("nx1_player", "nx1_team", "nx1_sx", "nx1_sy")

    // ---- step 6: simulation conversion (`:458-502`) ---------------------
    // NOTE reference precedence quirk preserved: previous-is-failed-take-on
    // is take_on_left OR (take_on_right AND not_accurate) — `&` binds
    // tighter than `|` in the pandas original (`wyscout.py:470-473`)
    val prevFailedTakeOn = coalesce(
      lag("take_on_left", 1).over(wMs) ||
        (lag("take_on_right", 1).over(wMs) && lag("not_accurate", 1).over(wMs)),
      lit(false))
    val sim = col("subtype_id") === 25
    // materialize the lag BEFORE filtering: removing a simulation row must
    // not change the previous-row view of later rows (pandas computes all
    // shifts on the pre-removal frame)
    val d6 = d5
      .withColumn("prevFailedTO", prevFailedTakeOn)
      .filter(!(sim && col("prevFailedTO")))
      .withColumn("toFailedTakeOn", sim && !col("prevFailedTO"))
      .withColumn("type_id", when(col("toFailedTakeOn"), 0).otherwise(col("type_id")))
      .withColumn("subtype_id", when(col("toFailedTakeOn"), 0).otherwise(col("subtype_id")))
      .withColumn("accurate", when(col("toFailedTakeOn"), false).otherwise(col("accurate")))
      .withColumn("not_accurate", when(col("toFailedTakeOn"), true).otherwise(col("not_accurate")))
      .withColumn("take_on_left", when(col("toFailedTakeOn"), true).otherwise(col("take_on_left")))
      .drop("prevFailedTO", "toFailedTakeOn")

    // ---- step 7: dispatch (`:555-723`) ----------------------------------
    val spadlType =
      when(col("fairplay"), TypeNonAction)
        .when(col("own_goal"), TypeBadTouch)
        .when(col("type_id") === 8, when(col("subtype_id") === 80, TypeCross).otherwise(TypePass))
        .when(col("subtype_id") === 36, lit(2))
        .when(col("subtype_id") === 30,
          when(col("high"), TypeCornerCrossed).otherwise(TypeCornerShort))
        .when(col("subtype_id") === 32, lit(3))
        .when(col("subtype_id") === 31, lit(4))
        .when(col("subtype_id") === 34, TypeGoalkick)
        .when(col("type_id") === 2 && !col("subtype_id").isin(22, 23, 24, 26), TypeFoul)
        .when(col("type_id") === 10, TypeShot)
        .when(col("subtype_id") === 35, TypeShotPenalty)
        .when(col("subtype_id") === 33, TypeShotFreekick)
        .when(col("type_id") === 9, lit(14))
        .when(col("subtype_id") === 71, TypeClearance)
        .when(col("subtype_id") === 72 && col("not_accurate"), TypeBadTouch)
        .when(col("subtype_id") === 70, TypeDribble)
        .when(col("take_on_left") || col("take_on_right"), lit(7))
        .when(col("sliding_tackle"), TypeTackle)
        .when(col("interception") && col("subtype_id").isin(0, 10, 11, 12, 13, 72),
          TypeInterception)
        .otherwise(TypeNonAction)
    val spadlResult =
      when(col("offside") === 1, ResultOffside)
        .when(col("type_id") === 2,
          when(col("yellow_card"), ResultYellow)
            .when(col("second_yellow_card") || col("red_card"), ResultRed)
            .otherwise(ResultFail))
        .when(col("goal"), ResultSuccess)
        .when(col("own_goal"), ResultOwngoal)
        .when(col("subtype_id").isin(100, 33, 35), ResultFail)
        .when(col("accurate"), ResultSuccess)
        .when(col("not_accurate"), ResultFail)
        .when(col("interception") || col("clearance_tag") || col("subtype_id") === 71,
          ResultSuccess)
        .when(col("type_id") === 9, ResultSuccess)
        .otherwise(ResultSuccess)
    val spadlBodypart =
      when(col("subtype_id").isin(81, 36, 21, 90, 91), lit(BodypartOther))
        .when(col("subtype_id") === 82, lit(BodypartHead))
        .when(col("type_id") === 10 && col("head_body"), lit(3))
        .when(col("left_foot"), lit(4))
        .when(col("right_foot"), lit(5))
        .otherwise(lit(BodypartFoot))

    val actions = d6.select(
      col("game_id"), col("period_id"),
      (col("milliseconds") / 1000.0).as("time_seconds"),
      col("team_id"), col("player_id"),
      col("start_x"), col("start_y"), col("end_x"), col("end_y"),
      spadlType.as("type_id"), spadlResult.as("result_id"),
      spadlBodypart.as("bodypart_id"), col("seq"))
      .filter(col("type_id") =!= TypeNonAction)

    // ---- step 8: fix_actions (`:745-917`) -------------------------------
    val metered = actions
      .withColumn("start_x", Converters.wyscoutX(col("start_x")))
      .withColumn("start_y", Converters.wyscoutY(col("start_y")))
      .withColumn("end_x", Converters.wyscoutX(col("end_x")))
      .withColumn("end_y", Converters.wyscoutY(col("end_y")))
    // N14 — goalkick start → (5, 34); result from next-action possession
    val fixed = RepairOps.fixGoalkicks(metered)
      // foul end := start
      .withColumn("end_x",
        when(col("type_id") === TypeFoul, col("start_x")).otherwise(col("end_x")))
      .withColumn("end_y",
        when(col("type_id") === TypeFoul, col("start_y")).otherwise(col("end_y")))
    // keeper-save coordinates: invert to own goal; start := end
    val saves = col("type_id") === 14
    val savesFixed = fixed
      .withColumn("end_x", when(saves, lit(FieldLength) - col("end_x")).otherwise(col("end_x")))
      .withColumn("end_y", when(saves, lit(FieldWidth) - col("end_y")).otherwise(col("end_y")))
      .withColumn("start_x", when(saves, col("end_x")).otherwise(col("start_x")))
      .withColumn("start_y", when(saves, col("end_y")).otherwise(col("start_y")))
    // N15 — drop keeper saves right after a goal (same 10 s phase);
    // window expressions can't sit in a filter, so materialize first
    val prevGoal =
      lag("type_id", 1).over(Wg).isin(TypeShot, TypeShotPenalty, TypeShotFreekick) &&
        lag("result_id", 1).over(Wg) === ResultSuccess &&
        (lag("time_seconds", 1).over(Wg) + 10 > col("time_seconds"))
    val cleaned = savesFixed
      .withColumn("dropSave", coalesce(saves && prevGoal, lit(false)))
      .filter(!col("dropSave"))
      .drop("dropSave")

    // ---- step 9: shared normalizer tail ---------------------------------
    SpadlOps.normalize(SpadlOps.fixDirectionOfPlay(cleaned, homeTeamId))
  }
}
