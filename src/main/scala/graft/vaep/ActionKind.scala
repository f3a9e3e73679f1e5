package graft.vaep

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.{Spadl, SynActions}
import graft.operators.AtomicOps

/** What separates the VAEP tail of SPADL actions from that of Atomic-SPADL
  * actions (reference `socceraction/vaep/` vs `socceraction/atomic/vaep/`).
  * Game states, orientation, running score, labels and the value formula
  * have one implementation each (`GameStates`, `Features.goalscore`,
  * `Labels`, `Formula`), which reads the kind as data.
  *
  * @param stateFields fields each of the k−1 predecessor states carries
  * @param periodWindow per-(game, period) order of the game states
  * @param gameWindow   per-game order of the running score and the formula's lag
  * @param goal         the row is a goal by its team
  * @param owngoal      the row is an own goal by its team
  * @param mirror       fields mirrored (`extent − v`) for the away team
  * @param negate       fields negated for the away team
  * @param overrides    the formula's overrides of the previous action's
  *                     terms, in precedence order; at least one overrides
  *                     each term
  */
final case class ActionKind(
    stateFields: Seq[String],
    periodWindow: WindowSpec,
    gameWindow: WindowSpec,
    goal: Column,
    owngoal: Column,
    mirror: Seq[(String, Double)],
    negate: Seq[String],
    overrides: Seq[ActionKind.Override]) {
  require(overrides.nonEmpty && overrides.exists(_.concedes.isDefined),
    "the formula needs at least one override of each term")
}

object ActionKind {

  /** One override of the formula: where `test(prev)` holds, the previous
    * action's P(scores) term is `scores`, and its P(concedes) term is
    * `concedes` when set. `prev(f)` is field `f` of the previous action in
    * the kind's game window. */
  final case class Override(test: (String => Column) => Column, scores: Double,
                            concedes: Option[Double])

  private val SamePhaseSeconds = 10.0
  private val PenaltyProb = 0.792453
  private val CornerProb = 0.046500

  private val shot =
    col("type_id").isin(Spadl.TypeShot, Spadl.TypeShotPenalty, Spadl.TypeShotFreekick)

  /** SPADL: goals are successful shots (`vaep/labels.py:28-29`); the
    * formula overrides corner > penalty > prev-goal > too-long
    * (`vaep/formula.py:48-67`). */
  val Standard: ActionKind = ActionKind(
    stateFields = Seq("team_id", "player_id", "time_seconds", "start_x", "start_y",
      "end_x", "end_y", "type_id", "result_id", "bodypart_id", "period_id"),
    periodWindow = SynActions.W,
    gameWindow = SynActions.Wg,
    goal = shot && col("result_id") === Spadl.ResultSuccess,
    owngoal = shot && col("result_id") === Spadl.ResultOwngoal,
    mirror = Seq("start_x" -> Spadl.FieldLength, "end_x" -> Spadl.FieldLength,
      "start_y" -> Spadl.FieldWidth, "end_y" -> Spadl.FieldWidth),
    negate = Nil,
    overrides = Seq(
      Override(_ => col("type_id").isin(Spadl.TypeCornerCrossed, Spadl.TypeCornerShort),
        CornerProb, None),
      Override(_ => col("type_id") === Spadl.TypeShotPenalty, PenaltyProb, None),
      Override(prev => prev("type_id")
        .isin(Spadl.TypeShot, Spadl.TypeShotFreekick, Spadl.TypeShotPenalty) &&
        prev("result_id") === Spadl.ResultSuccess, 0.0, Some(0.0)),
      Override(prev => abs(col("time_seconds") - prev("time_seconds")) > SamePhaseSeconds,
        0.0, Some(0.0))))

  /** Atomic-SPADL: goals are goal/owngoal TYPE rows (`atomic/vaep/labels.py:28-29`),
    * (dx, dy) is negated for the away team (`atomic/vaep/features.py:95-120`),
    * and the formula has no phase cutoff and no penalty/corner constants,
    * only prev-goal on type ∈ {goal, owngoal} (`atomic/vaep/formula.py:46-58`). */
  val Atomic: ActionKind = ActionKind(
    stateFields = Seq("team_id", "player_id", "time_seconds", "x", "y", "dx", "dy",
      "type_id", "bodypart_id", "period_id"),
    periodWindow = Window.partitionBy("game_id", "period_id").orderBy("action_id"),
    gameWindow = Window.partitionBy("game_id").orderBy("period_id", "action_id"),
    goal = col("type_id") === AtomicOps.TypeGoal,
    owngoal = col("type_id") === AtomicOps.TypeOwngoal,
    mirror = Seq("x" -> Spadl.FieldLength, "y" -> Spadl.FieldWidth),
    negate = Seq("dx", "dy"),
    overrides = Seq(
      Override(prev => prev("type_id").isin(AtomicOps.TypeGoal, AtomicOps.TypeOwngoal),
        0.0, Some(0.0))))
}
