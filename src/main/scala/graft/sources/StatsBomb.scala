package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Spadl
import graft.core.Spadl._
import graft.operators.SpadlOps

/** The full StatsBomb event→SPADL converter (SURVEY.md §2.2 P8, §2.3 N3):
  * the 11-parser dispatch over the raw event `extra` bag, the
  * interception-pass split, and the normalizer chain — reference
  * `socceraction/spadl/statsbomb.py:17-120` (pipeline),
  * `:125-159` (interception split), `:223-483` (event parsers).
  *
  * Input: one row per raw event with
  * `(game_id, event_id, period_id, timestamp "HH:MM:SS.mmm", team_id,
  * player_id, type_name, location array<double>, extra JSON-string, seq)`.
  * The `extra` bag is parsed ONCE per row with `from_json` into a typed
  * struct before the interception split (the Spark-first equivalent of
  * the reference's dict column — one codegen'd parse instead of N path
  * probes), and every event parser is a `when`-chain over the struct
  * fields. The dispatch, the time parse, the end-location choice and a
  * per-row fractional-coordinate flag form one
  * map-side projection before the converter's only exchange (the fidelity
  * window's, whose game_id partitioning the normalizer's per-game scan
  * reuses). That exchange carries game/period/team/player ids, `seq`,
  * `time_seconds`, the start and chosen end locations, the three dispatch
  * ints and the flag — none of the raw or parsed strings.
  *
  * Fidelity quirk preserved: in the reference, `_infer_xy_fidelity_versions`
  * returns its tuple in (shot, xy) order while the call site unpacks
  * (xy, shot), and all four `_convert_locations` calls then pass
  * `shot_fidelity_version` (`statsbomb.py:47-103`) — the NET effective
  * behavior is ONE fidelity for all events of a game: high (0.1 cells) iff
  * ANY location coordinate in the game is fractional. That effective
  * semantics is what `anyFractionalInGame` implements (per-game window max,
  * one pass).
  */
object StatsBomb {

  /** The subset of the StatsBomb `extra` bag the dispatch consults
    * (open-data events spec; field names as in the raw JSON). */
  val extraSchema: StructType = {
    def idName = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    StructType(Seq(
      StructField("pass", StructType(Seq(
        StructField("type", idName),
        StructField("height", idName),
        StructField("cross", BooleanType),
        StructField("outcome", idName),
        StructField("body_part", idName),
        StructField("end_location", ArrayType(DoubleType))))),
      StructField("shot", StructType(Seq(
        StructField("type", idName),
        StructField("outcome", idName),
        StructField("body_part", idName),
        StructField("end_location", ArrayType(DoubleType))))),
      StructField("carry", StructType(Seq(
        StructField("end_location", ArrayType(DoubleType))))),
      StructField("dribble", StructType(Seq(StructField("outcome", idName)))),
      StructField("foul_committed", StructType(Seq(StructField("card", idName)))),
      StructField("duel", StructType(Seq(
        StructField("type", idName), StructField("outcome", idName)))),
      StructField("interception", StructType(Seq(StructField("outcome", idName)))),
      StructField("goalkeeper", StructType(Seq(
        StructField("type", idName),
        StructField("outcome", idName),
        StructField("body_part", idName)))),
      StructField("clearance", StructType(Seq(StructField("body_part", idName))))))
  }

  private def name(c: Column): Column = c.getField("name")

  /** Bodypart name → id, shared by the pass/shot/goalkeeper/clearance
    * parsers (reference `statsbomb.py:287-303,392-405,446-457,465-473`):
    * "Head"∈bp → head, Left/Right Foot → sided foot, "Foot"∈bp (plus
    * "Drop Kick" where `dropKickIsFoot`) → foot, anything else → other;
    * null → `default`. */
  private def bodypartId(bp: Column, default: Int, dropKickIsFoot: Boolean): Column = {
    val footish =
      if (dropKickIsFoot) bp.contains("Foot") || bp === "Drop Kick" else bp.contains("Foot")
    when(bp.isNull, default)
      .when(bp.contains("Head"), lit(1))
      .when(bp === "Left Foot", lit(4))
      .when(bp === "Right Foot", lit(5))
      .when(footish, lit(BodypartFoot))
      .otherwise(lit(BodypartOther))
  }

  /** The 11-parser dispatch → struct(type_id, result_id, bodypart_id).
    * Every branch cites its reference parser. */
  def parseEvent(typeName: Column, x: Column): Column = {
    // ---- Pass (`statsbomb.py:250-303`) ----
    val p = x.getField("pass")
    val ptype = name(p.getField("type"))
    val pheight = name(p.getField("height"))
    val pcross = p.getField("cross")
    val high = pheight === "High Pass" || pcross
    val passA =
      when(ptype === "Free Kick", when(high, lit(3)).otherwise(lit(4)))
        .when(ptype === "Corner", when(high, TypeCornerCrossed).otherwise(TypeCornerShort))
        .when(ptype === "Goal Kick", TypeGoalkick)
        .when(ptype === "Throw-in", lit(2))
        .when(pcross, TypeCross)
        .otherwise(TypePass)
    val poutcome = name(p.getField("outcome"))
    val passDiscard = poutcome.isin("Injury Clearance", "Unknown")
    val passR =
      when(poutcome.isin("Incomplete", "Out"), ResultFail)
        .when(poutcome === "Pass Offside", ResultOffside)
        .otherwise(ResultSuccess)
    val pbp = name(p.getField("body_part"))
    // throw-in defaults to other BEFORE the body_part override (`:265-266`)
    val passDefaultB = when(ptype === "Throw-in", BodypartOther).otherwise(BodypartFoot)
    val passB = when(pbp.isNull, passDefaultB)
      .otherwise(bodypartId(pbp, BodypartFoot, dropKickIsFoot = true))
    val pass = struct(
      when(passDiscard, TypeNonAction).otherwise(passA).as("type_id"),
      when(passDiscard, ResultSuccess).otherwise(passR).as("result_id"),
      passB.as("bodypart_id"))

    // ---- Dribble → take_on (`:306-319`) / Carry → dribble (`:322-326`) ----
    val doutcome = name(x.getField("dribble").getField("outcome"))
    val takeOn = struct(
      lit(7).as("type_id"),
      when(doutcome === "Incomplete", ResultFail).otherwise(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))
    val carry = struct(lit(TypeDribble).as("type_id"), lit(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    // ---- Foul Committed (`:330-343`) ----
    val card = name(x.getField("foul_committed").getField("card"))
    val foul = struct(
      lit(TypeFoul).as("type_id"),
      when(card.contains("Yellow"), ResultYellow)
        .when(card.contains("Red"), ResultRed)
        .otherwise(ResultFail).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    // ---- Duel: only Tackle is an action (`:346-359`) ----
    val duel = x.getField("duel")
    val duelOutcome = name(duel.getField("outcome"))
    val tackle = struct(
      lit(TypeTackle).as("type_id"),
      when(duelOutcome.isin("Lost In Play", "Lost Out"), ResultFail)
        .otherwise(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    // ---- Interception (`:362-372`) ----
    val ioutcome = name(x.getField("interception").getField("outcome"))
    val interception = struct(
      lit(TypeInterception).as("type_id"),
      when(ioutcome.isin("Lost In Play", "Lost Out"), ResultFail)
        .otherwise(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    // ---- Shot (`:375-406`) ----
    val sh = x.getField("shot")
    val stype = name(sh.getField("type"))
    val shot = struct(
      when(stype === "Free Kick", TypeShotFreekick)
        .when(stype === "Penalty", TypeShotPenalty)
        .otherwise(TypeShot).as("type_id"),
      when(name(sh.getField("outcome")) === "Goal", ResultSuccess)
        .otherwise(ResultFail).as("result_id"),
      bodypartId(name(sh.getField("body_part")), BodypartFoot, dropKickIsFoot = false)
        .as("bodypart_id"))

    // ---- Own Goal Against → bad_touch/owngoal (`:409-413`) ----
    val ownGoal = struct(lit(TypeBadTouch).as("type_id"), lit(ResultOwngoal).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    // ---- Goal Keeper (`:416-457`) ----
    val gk = x.getField("goalkeeper")
    val gtype = name(gk.getField("type"))
    val goutcome = name(gk.getField("outcome"))
    val keeper = struct(
      when(gtype === "Shot Saved", lit(14))
        .when(gtype.isin("Collected", "Keeper Sweeper"), lit(15))
        .when(gtype === "Punch", lit(16))
        .otherwise(TypeNonAction).as("type_id"),
      when(goutcome.isin("In Play Danger", "No Touch"), ResultFail)
        .otherwise(ResultSuccess).as("result_id"),
      bodypartId(name(gk.getField("body_part")), BodypartOther, dropKickIsFoot = true)
        .as("bodypart_id"))

    // ---- Clearance (`:460-473`) / Miscontrol (`:476-480`) ----
    val clearance = struct(lit(TypeClearance).as("type_id"), lit(ResultSuccess).as("result_id"),
      bodypartId(name(x.getField("clearance").getField("body_part")), BodypartFoot,
        dropKickIsFoot = false).as("bodypart_id"))
    val miscontrol = struct(lit(TypeBadTouch).as("type_id"), lit(ResultFail).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    val nonAction = struct(lit(TypeNonAction).as("type_id"), lit(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"))

    when(typeName === "Pass", pass)
      .when(typeName === "Dribble", takeOn)
      .when(typeName === "Carry", carry)
      .when(typeName === "Foul Committed", foul)
      .when(typeName === "Duel",
        when(name(duel.getField("type")) === "Tackle", tackle).otherwise(nonAction))
      .when(typeName === "Interception", interception)
      .when(typeName === "Shot", shot)
      .when(typeName === "Own Goal Against", ownGoal)
      .when(typeName === "Goal Keeper", keeper)
      .when(typeName === "Clearance", clearance)
      .when(typeName === "Miscontrol", miscontrol)
      .otherwise(nonAction)
  }

  /** Cell-grid → meters for a 2-element location; 3-element (goal-frame
    * shot end) locations use the always-high-fidelity y rule
    * (`statsbomb.py:175-215`). */
  private def locX(loc: Column, cellSide: Column): Column =
    Converters.statsBombX(element_at(loc, 1), cellSide)

  private def locY(loc: Column, cellSide: Column): Column =
    when(size(loc) === 3,
      least(greatest(lit(FieldWidth) - (element_at(loc, 2) - 0.05) / 80 * FieldWidth,
        lit(0.0)), lit(FieldWidth)))
      .otherwise(Converters.statsBombY(element_at(loc, 2), cellSide))

  /** Full conversion: extra-bag parse → interception split → dispatch →
    * coordinates/time → non_action filter → direction fix → clearance fix →
    * resequence → dribble synthesis (`statsbomb.py:17-120`). One shuffle
    * total: every expression that reads only its own row (the dispatch, the
    * time parse, the end-location choice, the fractional-coordinate flag)
    * runs in one map-side projection before the fidelity window, so that
    * window's exchange carries no strings — only the columns the later
    * stages read — and the per-game normalizer scan shares its game_id
    * partitioning. */
  def convertToActions(rawEvents: DataFrame, homeTeamId: Column): DataFrame = {
    // parse the extra bag ONCE, before the split, into a materialized
    // struct column that replaces the raw string: the dispatch references
    // the parsed bag from inside dozens of `when` branches, where
    // whole-stage codegen's subexpression elimination does NOT hoist
    // conditional subexpressions — the plan carried ~100 textual from_json
    // instances and re-parsed the JSON per consulted branch. Materializing
    // the alias keeps one JsonToStructs per row (CollapseProject refuses to
    // inline a non-cheap alias referenced more than once), and downstream
    // uses are plain struct-field reads.
    val parsed = rawEvents.withColumn("extra", from_json(col("extra"), extraSchema))
    val x = col("extra")
    // N3 — passes that are also interceptions (pass.type = "Interception")
    // split into interception-then-pass (`statsbomb.py:125-159`): the
    // derived interception keeps the pass's location/timestamp and sorts
    // immediately BEFORE it (the reference concatenates [interceptions,
    // events] and stable-sorts by timestamp); its bag is a constant-folded
    // literal parse
    val withSplit = Converters.insertBefore(parsed,
      name(x.getField("pass").getField("type")) === "Interception",
      Map("type_name" -> lit("Interception"),
        "extra" -> from_json(
          lit("""{"interception": {"outcome": {"id": 16, "name": "Success In Play"}}}"""),
          extraSchema)))

    // end location priority: pass → shot → carry → fall back to location
    val endLoc = coalesce(
      x.getField("pass").getField("end_location"),
      x.getField("shot").getField("end_location"),
      x.getField("carry").getField("end_location"),
      col("location"))
    val fracOf = (c: Column) => !isnull(c) && c % 1 =!= 0

    // the row-local half runs for every event, as in the reference (whose
    // time parse, `statsbomb.py:80`, also precedes the non_action filter);
    // element_at on `location` feeds the fidelity window, which reads every
    // event anyway
    val perRow = withSplit.select(
      col("game_id"),
      col("period_id"),
      Converters.statsBombTimeSeconds(col("timestamp")).as("time_seconds"),
      col("team_id"),
      col("player_id"),
      col("location"),
      endLoc.as("end_loc"),
      parseEvent(col("type_name"), x).as("arb"),
      (fracOf(element_at(col("location"), 1)) || fracOf(element_at(col("location"), 2)))
        .as("frac"),
      col("seq"))

    // effective fidelity (see object scaladoc): fractional anywhere in game
    val anyFrac = max(col("frac")).over(Window.partitionBy("game_id"))
    val actions = perRow
      .withColumn("cell_side", Converters.fidelityCellSide(anyFrac))
      .select(
        col("game_id"),
        col("period_id"),
        col("time_seconds"),
        col("team_id"),
        col("player_id"),
        locX(col("location"), col("cell_side")).as("start_x"),
        locY(col("location"), col("cell_side")).as("start_y"),
        locX(col("end_loc"), col("cell_side")).as("end_x"),
        locY(col("end_loc"), col("cell_side")).as("end_y"),
        col("arb").getField("type_id").as("type_id"),
        col("arb").getField("result_id").as("result_id"),
        col("arb").getField("bodypart_id").as("bodypart_id"),
        col("seq"))
      .filter(col("type_id") =!= TypeNonAction)

    SpadlOps.normalize(SpadlOps.fixDirectionOfPlay(actions, homeTeamId))
  }
}
