package graft.vaep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Spadl
import graft.core.Spadl.{FieldLength, FieldWidth}
import graft.core.SynActions.Wg
import graft.vaep.GameStates.st

/** §2.9 — the VAEP feature catalog, every transformer a pure `Column`
  * expression over the flattened game-state columns (one `select`, no UDFs,
  * whole-stage-codegen friendly). Column names follow the reference exactly
  * (`socceraction/vaep/features.py:21-60` feature_column_names).
  */
object Features {

  private val GoalX = FieldLength
  private val GoalY = FieldWidth / 2

  /** seconds offset of each period's kickoff (reference
    * `vaep/features.py:445-450` match_time_at_period_start × 60). */
  private val periodOffsetSecs = Map(1 -> 0, 2 -> 2700, 3 -> 5400, 4 -> 6300, 5 -> 7200)

  def actiontype(i: Int): Seq[Column] = Seq(
    element_at(typedLit(Spadl.actiontypes), col(st("type_id", i)) + 1)
      .as(s"actiontype_a$i"))

  def actiontypeOnehot(i: Int): Seq[Column] =
    Spadl.actiontypes.zipWithIndex.map { case (n, id) =>
      (col(st("type_id", i)) === id).as(s"actiontype_${n}_a$i")
    }

  def result(i: Int): Seq[Column] = Seq(
    element_at(typedLit(Spadl.results), col(st("result_id", i)) + 1)
      .as(s"result_a$i"))

  def resultOnehot(i: Int): Seq[Column] =
    Spadl.results.zipWithIndex.map { case (n, id) =>
      (col(st("result_id", i)) === id).as(s"result_${n}_a$i")
    }

  def actiontypeResultOnehot(i: Int): Seq[Column] =
    for {
      (tn, tid) <- Spadl.actiontypes.zipWithIndex
      (rn, rid) <- Spadl.results.zipWithIndex
    } yield (col(st("type_id", i)) === tid && col(st("result_id", i)) === rid)
      .as(s"actiontype_${tn}_result_${rn}_a$i")

  // ---- packed one-hot encoding (training-data storage form) -----------
  //
  // The one-hot groups are single-category: exactly one of the 138
  // actiontype×result bits (and one of 23 type bits, 6 result bits, ≤6
  // bodypart bits) is set per state. Materializing them as boolean COLUMNS
  // costs 567 expression slots and ~570 bytes/row of UnsafeRow traffic —
  // the measured bandwidth bottleneck of the valuation job. The packed form
  // stores the same information as bit positions in a handful of longs,
  // computed by pure index arithmetic (no when-chains), and unpacks to the
  // exact boolean columns on demand (`unpackActiontypeResult`, parity
  // asserted in FeaturesSpec).

  private val AtrBits = Spadl.actiontypes.length * Spadl.results.length // 138

  /** actiontype×result one-hot for state i as 3 longs: bit (t·6+r) of the
    * 138-bit word, split into 64-bit lanes. */
  def actiontypeResultPacked(i: Int): Seq[Column] = {
    val idx = col(st("type_id", i)) * Spadl.results.length + col(st("result_id", i))
    (0 until (AtrBits + 63) / 64).map { w =>
      when(idx >= w * 64 && idx < (w + 1) * 64,
        call_function("shiftleft", lit(1L), (idx - w * 64).cast("int")))
        .otherwise(0L).as(s"atr_packed_${w}_a$i")
    }
  }

  /** type/result/bodypart one-hots for state i in ONE long:
    * bits 0-22 = actiontype, 32-37 = result, 48-53 = raw bodypart id. */
  def categoricalPacked(i: Int): Seq[Column] = Seq(
    (call_function("shiftleft", lit(1L), col(st("type_id", i)).cast("int")) +
      call_function("shiftleft", lit(1L), (col(st("result_id", i)) + 32).cast("int")) +
      call_function("shiftleft", lit(1L), (col(st("bodypart_id", i)) + 48).cast("int")))
      .as(s"cat_packed_a$i"))

  /** Re-derive the boolean actiontype×result columns from the packed lanes
    * (bit test per column — the lazy ML-boundary unpack). */
  def unpackActiontypeResult(i: Int): Seq[Column] =
    for {
      (tn, tid) <- Spadl.actiontypes.zipWithIndex
      (rn, rid) <- Spadl.results.zipWithIndex
    } yield {
      val idx = tid * Spadl.results.length + rid
      (shiftright(col(s"atr_packed_${idx / 64}_a$i"), idx % 64).bitwiseAND(1) === 1)
        .as(s"actiontype_${tn}_result_${rn}_a$i")
    }

  def bodypart(i: Int): Seq[Column] = Seq(
    element_at(typedLit(Spadl.bodyparts), col(st("bodypart_id", i)) + 1)
      .as(s"bodypart_a$i"))

  /** Merged 4-way encoding: foot ∪ {foot_left, foot_right};
    * head/other ∪ {head, other}. Reference `vaep/features.py:343-382`. */
  def bodypartOnehot(i: Int): Seq[Column] = {
    val b = col(st("bodypart_id", i))
    Seq(
      b.isin(0, 4, 5).as(s"bodypart_foot_a$i"),
      (b === 1).as(s"bodypart_head_a$i"),
      (b === 2).as(s"bodypart_other_a$i"),
      b.isin(1, 2, 3).as(s"bodypart_head/other_a$i"))
  }

  def bodypartDetailedOnehot(i: Int): Seq[Column] = {
    val b = col(st("bodypart_id", i))
    Seq(
      b.isin(0, 4, 5).as(s"bodypart_foot_a$i"),
      (b === 1).as(s"bodypart_head_a$i"),
      (b === 2).as(s"bodypart_other_a$i"),
      b.isin(1, 2, 3).as(s"bodypart_head/other_a$i"),
      (b === 4).as(s"bodypart_foot_left_a$i"),
      (b === 5).as(s"bodypart_foot_right_a$i"))
  }

  def time(i: Int): Seq[Column] = {
    val offset = periodOffsetSecs.toSeq.sortBy(_._1)
      .foldLeft(lit(0): Column) { case (acc, (p, o)) =>
        when(col(st("period_id", i)) === p, o).otherwise(acc)
      }
    Seq(
      col(st("period_id", i)).as(s"period_id_a$i"),
      col(st("time_seconds", i)).as(s"time_seconds_a$i"),
      (offset + col(st("time_seconds", i))).as(s"time_seconds_overall_a$i"))
  }

  def startlocation(i: Int): Seq[Column] = Seq(
    col(st("start_x", i)).as(s"start_x_a$i"),
    col(st("start_y", i)).as(s"start_y_a$i"))

  def endlocation(i: Int): Seq[Column] = Seq(
    col(st("end_x", i)).as(s"end_x_a$i"),
    col(st("end_y", i)).as(s"end_y_a$i"))

  /** Polar coordinates w.r.t. the goal center; angle = nan_to_num(arctan(dy/dx))
    * with explicit branches (dx=0,dy=0 → 0; dx=0 → π/2) so no IEEE
    * divide-by-zero is ever issued. Reference `vaep/features.py:490-541`;
    * the atomic kind ([[AtomicVaep.polar]]) uses it with the empty `stem`. */
  private[vaep] def polar(xc: Column, yc: Column, stem: String, i: Int): Seq[Column] = {
    val dx = abs(lit(GoalX) - xc)
    val dy = abs(lit(GoalY) - yc)
    val angle = when(dx === 0.0 && dy === 0.0, lit(0.0))
      .when(dx === 0.0, lit(math.Pi / 2))
      .otherwise(atan(dy / dx))
    Seq(
      sqrt(dx * dx + dy * dy).as(s"${stem}dist_to_goal_a$i"),
      angle.as(s"${stem}angle_to_goal_a$i"))
  }

  def startpolar(i: Int): Seq[Column] =
    polar(col(st("start_x", i)), col(st("start_y", i)), "start_", i)

  def endpolar(i: Int): Seq[Column] =
    polar(col(st("end_x", i)), col(st("end_y", i)), "end_", i)

  def movement(i: Int): Seq[Column] = {
    val dx = col(st("end_x", i)) - col(st("start_x", i))
    val dy = col(st("end_y", i)) - col(st("start_y", i))
    Seq(dx.as(s"dx_a$i"), dy.as(s"dy_a$i"), sqrt(dx * dx + dy * dy).as(s"movement_a$i"))
  }

  // STATE FEATURES (reference `vaep/features.py:599-696`) — defined for i ≥ 1.

  def team(i: Int): Seq[Column] =
    Seq((col(st("team_id", i)) === col("team_id")).as(s"team_$i"))

  def timeDelta(i: Int): Seq[Column] =
    Seq((col("time_seconds") - col(st("time_seconds", i))).as(s"time_delta_$i"))

  def spaceDelta(i: Int): Seq[Column] = {
    val dx = col(st("end_x", i)) - col("start_x")
    val dy = col(st("end_y", i)) - col("start_y")
    Seq(dx.as(s"dx_a0$i"), dy.as(s"dy_a0$i"), sqrt(dx * dx + dy * dy).as(s"mov_a0$i"))
  }

  def speed(i: Int): Seq[Column] = {
    val dx = col(st("end_x", i)) - col("start_x")
    val dy = col(st("end_y", i)) - col("start_y")
    val dt0 = col("time_seconds") - col(st("time_seconds", i))
    val dt = when(dt0 <= 0.0, lit(1e-6)).otherwise(dt0)
    Seq(
      (abs(dx) / dt).as(s"speedx_a0$i"),
      (abs(dy) / dt).as(s"speedy_a0$i"),
      (sqrt(dx * dx + dy * dy) / dt).as(s"speed_a0$i"))
  }

  // CONTEXT FEATURES

  /** G6 — running score before the current action, mapped onto the acting
    * team. "team A" is the team of the game's first action. Reference
    * `vaep/features.py:702-736` (cumsum − current = sum over the strictly
    * preceding frame).
    */
  def goalscore: Seq[Column] = goalscore(ActionKind.Standard)

  /** [[goalscore]] with the kind's goal predicates, in its game order. */
  def goalscore(kind: ActionKind): Seq[Column] = {
    val (goal, owngoal) = (kind.goal, kind.owngoal)
    val teamA = first("team_id").over(kind.gameWindow)
    val isA = col("team_id") === teamA
    val goalA = when((goal && isA) || (owngoal && !isA), 1).otherwise(0)
    val goalB = when((goal && !isA) || (owngoal && isA), 1).otherwise(0)
    val wPrev = kind.gameWindow.rowsBetween(Window.unboundedPreceding, -1)
    val scoreA = coalesce(sum(goalA).over(wPrev), lit(0L))
    val scoreB = coalesce(sum(goalB).over(wPrev), lit(0L))
    val teamScore = when(isA, scoreA).otherwise(scoreB)
    val oppScore = when(isA, scoreB).otherwise(scoreA)
    Seq(
      teamScore.as("goalscore_team"),
      oppScore.as("goalscore_opponent"),
      (teamScore - oppScore).as("goalscore_diff"))
  }

  /** A5 — seconds the player held the ball before the action: Δt to the
    * previous action iff same period, same player, and the previous action
    * was a dribble; else 0. Reference `vaep/features.py:566-593`. */
  def playerPossessionTime: Seq[Column] = {
    val samePeriod = lag("period_id", 1).over(Wg) === col("period_id")
    val samePlayer = lag("player_id", 1).over(Wg) === col("player_id")
    val prevDribble = lag("type_id", 1).over(Wg) === Spadl.TypeDribble
    Seq(
      when(samePeriod && samePlayer && prevDribble,
        col("time_seconds") - lag("time_seconds", 1).over(Wg))
        .otherwise(0.0).as("player_possession_time_a0"))
  }

  /** The default VAEP feature set (reference `vaep/base.py:38-53`), for
    * game states of size k — ~154 columns at k=3 in one projection.
    *
    * PLAN SHAPE WARNING: `goalscore` contains window expressions; putting it
    * in the same select as the ~550 onehot columns makes Catalyst run the
    * goalscore WindowExec (sort + buffer) over the already-wide projected
    * rows — measured 5× slower at 2.6M rows. Prefer
    * `withGoalscore(narrowDf)` first, then project
    * `defaultFeaturesPostGoalscore(k)` on top (no window above the wide
    * projection). */
  def defaultFeatures(k: Int): Seq[Column] =
    statelessFeatures(k) ++ goalscore

  /** Same set, but referencing precomputed goalscore_* columns (see
    * `withGoalscore`) so the final projection is window-free. */
  def defaultFeaturesPostGoalscore(k: Int): Seq[Column] =
    statelessFeatures(k) ++
      Seq(col("goalscore_team"), col("goalscore_opponent"), col("goalscore_diff"))

  /** The default set in PACKED storage form: identical numeric features,
    * one-hot groups as bitmask longs (~60 columns instead of ~570 at k=3).
    * The training-data table this materializes carries the same
    * information; consumers unpack lazily (`unpackActiontypeResult`). */
  def packedFeaturesPostGoalscore(k: Int): Seq[Column] = {
    val perState = (0 until k).flatMap { i =>
      categoricalPacked(i) ++ actiontypeResultPacked(i) ++
        time(i) ++ startlocation(i) ++ endlocation(i) ++
        startpolar(i) ++ endpolar(i) ++ movement(i)
    }
    perState ++ (1 until k).flatMap(i => team(i) ++ timeDelta(i) ++ spaceDelta(i)) ++
      Seq(col("goalscore_team"), col("goalscore_opponent"), col("goalscore_diff"))
  }

  private def statelessFeatures(k: Int): Seq[Column] = {
    val perState = (0 until k).flatMap { i =>
      actiontypeOnehot(i) ++ resultOnehot(i) ++ actiontypeResultOnehot(i) ++
        bodypartOnehot(i) ++ time(i) ++ startlocation(i) ++ endlocation(i) ++
        startpolar(i) ++ endpolar(i) ++ movement(i)
    }
    perState ++ (1 until k).flatMap(i => team(i) ++ timeDelta(i) ++ spaceDelta(i))
  }

  /** Attach goalscore_* to a narrow action frame (windows run over the
    * 14-column rows, not the wide feature rows). */
  def withGoalscore(actions: DataFrame): DataFrame =
    actions.select(col("*") +: goalscore: _*)
}
