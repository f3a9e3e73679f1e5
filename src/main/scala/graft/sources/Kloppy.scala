package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Spadl._
import graft.operators.SpadlOps

/** The kloppy EventDataset→SPADL converter (SURVEY.md §2.2 P11) — reference
  * `socceraction/spadl/kloppy.py:57-420`.
  *
  * Kloppy hands socceraction a PROVIDER-NORMALIZED typed event model:
  * coordinates already transformed to the SPADL coordinate system with
  * HOME_AWAY orientation (so there is NO direction fix in this pipeline —
  * kloppy's `dataset.transform` did it), enum-valued event types, results
  * and qualifiers. The Spark analogue is a frame with
  * `(game_id, event_id, period_id, time_seconds, team_id, player_id,
  * event_type, result, qualifiers array<string>, start_x, start_y,
  * end_x/end_y [the family-specific receiver/end/result coordinates,
  * null when absent], seq)`; enum names follow kloppy's vocabulary.
  *
  * Pipeline (`kloppy.py:100-129`): per-event dispatch → stable sort →
  * non_action filter → clearance fix → resequence → dribble synthesis.
  */
object Kloppy {

  private def has(name: String): Column = array_contains(col("qualifiers"), name)

  /** `_parse_bodypart` (`kloppy.py:217-230`). */
  def bodypartId(default: Int): Column =
    when(has("HEAD"), lit(BodypartHead))
      .when(has("RIGHT_FOOT"), lit(5))
      .when(has("LEFT_FOOT"), lit(4))
      .when(has("CHEST") || has("OTHER"), lit(BodypartOther))
      .when(has("HEAD_OTHER"), lit(3))
      .otherwise(lit(default))

  /** The full per-family dispatch → struct(type_id, result_id, bodypart_id)
    * (`kloppy.py:180-420`). */
  def parseEvent(eventType: Column, result: Column): Column = {
    val crossed = has("CHIPPED_PASS") || has("CROSS") || has("HIGH_PASS") || has("LONG_BALL")
    val passA =
      when(has("FREE_KICK"), when(crossed, lit(3)).otherwise(lit(4)))
        .when(has("CORNER_KICK"), when(crossed, TypeCornerCrossed).otherwise(TypeCornerShort))
        .when(has("GOAL_KICK"), TypeGoalkick)
        .when(has("THROW_IN"), lit(2))
        .when(has("CROSS"), TypeCross)
        .otherwise(TypePass)
    val passInterrupted = result.isNull ||
      !result.isin("INCOMPLETE", "OUT", "OFFSIDE", "COMPLETE")
    val passR =
      when(result.isin("INCOMPLETE", "OUT"), ResultFail)
        .when(result === "OFFSIDE", ResultOffside)
        .otherwise(ResultSuccess)
    // a throw-in unconditionally overrides the parsed bodypart with other
    // (`:261-263`), as does KEEPER_ARM (`:269-270`)
    val passB = when(has("KEEPER_ARM") || has("THROW_IN"), lit(BodypartOther))
      .otherwise(bodypartId(BodypartFoot))
    val pass = struct(
      when(passInterrupted, TypeNonAction).otherwise(passA).as("type_id"),
      when(passInterrupted, ResultSuccess).otherwise(passR).as("result_id"),
      passB.as("bodypart_id"))

    val shotA = when(has("FREE_KICK"), TypeShotFreekick)
      .when(has("PENALTY"), TypeShotPenalty)
      .otherwise(TypeShot)
    val shot = struct(
      when(result === "OWN_GOAL", TypeBadTouch).otherwise(shotA).as("type_id"),
      when(result === "GOAL", ResultSuccess)
        .when(result === "OWN_GOAL", ResultOwngoal)
        .otherwise(ResultFail).as("result_id"),
      bodypartId(BodypartFoot).as("bodypart_id"))

    val takeOn = struct(lit(7).as("type_id"),
      when(result === "COMPLETE", ResultSuccess).otherwise(ResultFail).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))
    val carry = struct(lit(TypeDribble).as("type_id"), lit(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    val interception = struct(lit(TypeInterception).as("type_id"),
      when(result.isin("LOST", "OUT"), ResultFail).otherwise(ResultSuccess).as("result_id"),
      bodypartId(BodypartFoot).as("bodypart_id"))

    // kloppy quirk preserved: SECOND_YELLOW maps to red_card (`:358-361`)
    val foul = struct(lit(TypeFoul).as("type_id"),
      when(has("FIRST_YELLOW"), ResultYellow)
        .when(has("SECOND_YELLOW") || has("RED"), ResultRed)
        .otherwise(ResultFail).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    val duel = struct(
      when(has("GROUND") && !has("LOOSE_BALL"), TypeTackle)
        .otherwise(TypeNonAction).as("type_id"),
      when(result === "LOST", ResultFail).otherwise(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    val clearance = struct(lit(TypeClearance).as("type_id"),
      lit(ResultSuccess).as("result_id"), bodypartId(BodypartFoot).as("bodypart_id"))
    val miscontrol = struct(lit(TypeBadTouch).as("type_id"),
      lit(ResultFail).as("result_id"), lit(BodypartFoot).as("bodypart_id"))

    // sequential-if overrides in the reference: the LAST matching
    // goalkeeper action type wins (`:397-420`) → reverse when-chain
    val keeper = struct(
      when(has("PICK_UP"), lit(17))
        .when(has("PUNCH"), lit(16))
        .when(has("SMOTHER"), lit(15))
        .when(has("CLAIM"), lit(15))
        .when(has("SAVE"), lit(14))
        .otherwise(TypeNonAction).as("type_id"),
      lit(ResultSuccess).as("result_id"),
      bodypartId(BodypartOther).as("bodypart_id"))

    val nonAction = struct(lit(TypeNonAction).as("type_id"),
      lit(ResultSuccess).as("result_id"), lit(BodypartFoot).as("bodypart_id"))

    when(eventType === "PASS", pass)
      .when(eventType === "SHOT", shot)
      .when(eventType === "TAKE_ON", takeOn)
      .when(eventType === "CARRY", carry)
      .when(eventType === "FOUL_COMMITTED", foul)
      .when(eventType === "DUEL", duel)
      .when(eventType === "CLEARANCE", clearance)
      .when(eventType === "MISCONTROL", miscontrol)
      .when(eventType === "GOALKEEPER", keeper)
      .when(eventType === "INTERCEPTION", interception)
      .otherwise(nonAction)
  }

  /** Full conversion: dispatch → non_action filter → clearance fix →
    * resequence → dribbles. End coordinates fall back to the event's own
    * location when the family-specific end is absent (`:156-177`). */
  def convertToActions(events: DataFrame): DataFrame = {
    val parsed = events
      .withColumn("arb", parseEvent(col("event_type"), col("result")))
    val actions = parsed.select(
      col("game_id"), col("period_id"), col("time_seconds"),
      col("team_id"), col("player_id"),
      col("start_x"), col("start_y"),
      coalesce(col("end_x"), col("start_x")).as("end_x"),
      coalesce(col("end_y"), col("start_y")).as("end_y"),
      col("arb").getField("type_id").as("type_id"),
      col("arb").getField("result_id").as("result_id"),
      col("arb").getField("bodypart_id").as("bodypart_id"),
      col("seq"))
      .filter(col("type_id") =!= TypeNonAction)
    SpadlOps.normalize(actions)
  }
}
