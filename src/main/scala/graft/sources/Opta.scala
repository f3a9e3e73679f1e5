package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Spadl._
import graft.operators.{RepairOps, SpadlOps}

/** The full Opta event→SPADL converter (SURVEY.md §2.2 P9): the
  * qualifier-driven type/result/bodypart dispatch and the Opta-specific
  * repair chain — reference `socceraction/spadl/opta.py:18-296`.
  *
  * Input: one row per Opta event with `(game_id, event_id, period_id,
  * minute, second, team_id, player_id, start_x, start_y, end_x, end_y
  * [percent], type_name, outcome boolean, qualifiers array<int>, seq)` in
  * raw feed order (`seq`).
  *
  * The dispatch is a map-only when-chain over `array_contains` qualifier
  * probes; the repair chain shares one game_id exchange across all window
  * stencils. That exchange carries the ids, `seq`, `time_seconds`, the
  * metered coordinates, the three dispatch ints, the raw outcome and the
  * two event-type tests the repairs read (`ball recovery`, `ball touch`)
  * — not the event-type string. Pipeline order follows the reference exactly:
  * qualifier dispatch → recoveries→dribbles → unintentional-touch fix →
  * non_action filter → sort → owngoal flip → direction fix → clearance fix →
  * interception result fix → resequence → dribble synthesis.
  */
object Opta {

  private def q(id: Int): Column = array_contains(col("qualifiers"), id)

  /** `_get_type_id` (`opta.py:122-183`). */
  def typeId(typeName: Column, outcome: Column): Column = {
    val passish = typeName.isin("pass", "offside pass")
    val shotish = typeName.isin("miss", "post", "attempt saved", "goal")
    val passType =
      when(q(107), lit(2)) // throw-in
        .when(q(5) && (q(2) || q(1) || q(155)), lit(3)) // freekick crossed
        .when(q(5), lit(4))
        .when(q(6) && q(2), TypeCornerCrossed)
        .when(q(6), TypeCornerShort)
        .when(q(2), TypeCross)
        .when(q(124), TypeGoalkick)
        .otherwise(TypePass)
    when(q(238), TypeNonAction) // fairplay
      .when(passish, passType)
      .when(typeName === "take on", lit(7))
      .when(typeName === "foul" && !outcome, TypeFoul)
      .when(typeName === "tackle", TypeTackle)
      .when(typeName.isin("interception", "blocked pass"), TypeInterception)
      .when(shotish,
        when(q(9), TypeShotPenalty).when(q(26), TypeShotFreekick).otherwise(TypeShot))
      .when(typeName === "save", when(q(94), TypeNonAction).otherwise(lit(14)))
      .when(typeName === "claim", lit(15))
      .when(typeName === "punch", lit(16))
      .when(typeName === "keeper pick-up", lit(17))
      .when(typeName === "clearance", TypeClearance)
      .when(typeName === "ball touch" && !outcome, TypeBadTouch)
      .otherwise(TypeNonAction)
  }

  /** `_get_result_id` (`opta.py:100-119`). */
  def resultId(typeName: Column, outcome: Column): Column =
    when(typeName === "offside pass", ResultOffside)
      .when(typeName === "foul", ResultFail)
      .when(typeName.isin("attempt saved", "miss", "post"), ResultFail)
      .when(typeName === "goal", when(q(28), ResultOwngoal).otherwise(ResultSuccess))
      .when(typeName === "ball touch", ResultFail)
      .when(outcome, ResultSuccess)
      .otherwise(ResultFail)

  /** `_get_bodypart_id` (`opta.py:83-97`). */
  def bodypartId(typeName: Column): Column =
    when(q(15) || q(3) || q(168), lit(BodypartHead))
      .when(q(21), lit(BodypartOther))
      .when(q(20), lit(5)) // foot_right
      .when(q(72), lit(4)) // foot_left
      .when(q(107), lit(BodypartOther)) // throw-in
      .when(typeName.isin("save", "claim", "punch", "keeper pick-up"), lit(BodypartOther))
      .otherwise(lit(BodypartFoot))

  /** Full conversion (`opta.py:18-80`). */
  def convertToActions(events: DataFrame, homeTeamId: Column): DataFrame = {
    val parsed = events.select(
      col("game_id"), col("period_id"),
      Converters.optaTimeSeconds(col("minute"), col("second"), col("period_id"))
        .cast("double").as("time_seconds"),
      col("team_id"), col("player_id"),
      Converters.optaX(col("start_x")).as("start_x"),
      Converters.optaY(col("start_y")).as("start_y"),
      Converters.optaX(col("end_x")).as("end_x"),
      Converters.optaY(col("end_y")).as("end_y"),
      typeId(col("type_name"), col("outcome")).as("type_id"),
      resultId(col("type_name"), col("outcome")).as("result_id"),
      bodypartId(col("type_name")).as("bodypart_id"),
      (col("type_name") === "ball recovery").as("opta_recovery"),
      (col("type_name") === "ball touch").as("opta_touch"),
      col("outcome").as("opta_outcome"),
      col("seq"))

    // N5 — `_fix_recoveries` (`opta.py:202-241`): a ball recovery becomes a
    // dribble to the NEXT REAL action's start (shift(-1) + mask + bfill ≡
    // nearest following non-non_action; the O(n) descending running frame).
    val wRaw = Window.partitionBy("game_id").orderBy("seq")
    val wDescPrev = Window.partitionBy("game_id").orderBy(col("seq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def nextReal(c: String): Column =
      last(when(col("type_id") =!= TypeNonAction, col(c)), ignoreNulls = true).over(wDescPrev)
    val recovery = col("opta_recovery")
    // neighbors must come from the PRE-mutation frame (pandas evaluates
    // df_actions_next before assigning) — materialize them first, THEN
    // rewrite type/end, so a recovery chain doesn't see other recoveries
    // as "real" once they become dribbles
    val withNext = parsed
      .withColumn("nr_x", nextReal("start_x"))
      .withColumn("nr_y", nextReal("start_y"))
    val sameLoc = coalesce(
      abs(col("end_x") - col("nr_x")) < SpadlOps.MinDribbleLength &&
        abs(col("end_y") - col("nr_y")) < SpadlOps.MinDribbleLength, lit(false))
    val recovered = withNext
      .withColumn("type_id",
        when(recovery && !sameLoc, TypeDribble)
          .when(recovery && sameLoc, TypeNonAction)
          .otherwise(col("type_id")))
      .withColumn("end_x", when(recovery, col("nr_x")).otherwise(col("end_x")))
      .withColumn("end_y", when(recovery, col("nr_y")).otherwise(col("end_y")))
      .drop("nr_x", "nr_y")

    // N7 — `_fix_unintentional_ball_touches` (`opta.py:263-296`): a raw
    // "ball touch" with a positive outcome right after any action is an
    // unintentional deflection: the action's end snaps to action(+2)'s
    // start, and a pass kept by the same team becomes successful.
    val deflected = coalesce(
      lead("opta_touch", 1).over(wRaw) &&
        lead("opta_outcome", 1).over(wRaw), lit(false))
    val nx2Team = lead("team_id", 2).over(wRaw)
    val touched = recovered
      .withColumn("result_id",
        when(col("type_id") === TypePass && deflected && (col("team_id") <=> nx2Team),
          ResultSuccess).otherwise(col("result_id")))
      .withColumn("new_end_x",
        when(deflected, lead("start_x", 2).over(wRaw)).otherwise(col("end_x")))
      .withColumn("new_end_y",
        when(deflected, lead("start_y", 2).over(wRaw)).otherwise(col("end_y")))
      .withColumn("end_x", col("new_end_x")).withColumn("end_y", col("new_end_y"))
      .drop("new_end_x", "new_end_y", "opta_recovery", "opta_touch", "opta_outcome")

    val actions = touched.filter(col("type_id") =!= TypeNonAction)

    // `_fix_owngoals` mirrors in meters, before the direction fix
    SpadlOps.normalize(
      SpadlOps.fixDirectionOfPlay(RepairOps.fixOwngoals(actions), homeTeamId),
      interceptions = true)
  }
}
