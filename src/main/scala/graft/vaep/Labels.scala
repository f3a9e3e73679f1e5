package graft.vaep

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Act, Spadl}

/** A2 — VAEP lookahead labels.
  *
  * Reference `socceraction/vaep/labels.py:10-94` and
  * `atomic/vaep/labels.py`: for each action, did the acting team score
  * (resp. concede) within the next `nrActions − 1` actions, goals as the
  * kind defines them, where rows past the game end replicate the last row. The
  * replicate-last-row clamping is equivalent to a truncated window because
  * every overflow term duplicates the last row's contribution, which the
  * window already contains (proved in LabelsSpec).
  *
  * Formulated with RANGE frames over the dense per-game `action_id`:
  * "my team's goals in the next 9 global actions" is a range frame over the
  * (game, team) partition — this avoids the unsupported pattern of
  * referencing the current row's team inside a window aggregate, and needs
  * no extra shuffle beyond the game_id exchange.
  */
object Labels {

  private def frames(nrActions: Int) = {
    val wTeam = Window.partitionBy("game_id", "team_id").orderBy("action_id")
      .rangeBetween(0, nrActions - 1)
    val wGame = Window.partitionBy("game_id").orderBy("action_id")
      .rangeBetween(0, nrActions - 1)
    (wTeam, wGame)
  }

  /** P(score) target: goal by my team or owngoal by the opponent in
    * [i, i + nrActions − 1], goals as the kind defines them. */
  def scores(actions: DataFrame, nrActions: Int = 10,
             kind: ActionKind = ActionKind.Standard): DataFrame = {
    val (wTeam, wGame) = frames(nrActions)
    val goalI = when(kind.goal, 1).otherwise(0)
    val ogI = when(kind.owngoal, 1).otherwise(0)
    actions.withColumn("scores",
      (max(goalI).over(wTeam) > 0) ||
        (sum(ogI).over(wGame) - sum(ogI).over(wTeam) > 0))
  }

  /** P(concede) target: owngoal by my team or goal by the opponent. */
  def concedes(actions: DataFrame, nrActions: Int = 10,
               kind: ActionKind = ActionKind.Standard): DataFrame = {
    val (wTeam, wGame) = frames(nrActions)
    val goalI = when(kind.goal, 1).otherwise(0)
    val ogI = when(kind.owngoal, 1).otherwise(0)
    actions.withColumn("concedes",
      (max(ogI).over(wTeam) > 0) ||
        (sum(goalI).over(wGame) - sum(goalI).over(wTeam) > 0))
  }

  /** [[scores]] and [[concedes]] over one game's actions in action_id
    * order (`SpadlOps.NormalizeKernel`'s last step): `scores` (`concedes`)
    * is set when the action or one of its `nrActions − 1` successors is a
    * goal (an own goal) by the acting team or an own goal (a goal) by
    * another. Team equality is null-safe, as the (game_id, team_id) window
    * partitions are. Index-based with an early exit: this is the hot loop
    * of the headline valuation job. */
  def scan(game: Array[Act], nrActions: Int): Unit = {
    val typed = Act.bits(Act.TypeId, Act.ResultId)
    for (i <- game.indices) {
      val a = game(i)
      var j = i
      while (j < math.min(i + nrActions, game.length) && !(a.scores && a.concedes)) {
        val b = game(j)
        if (b.has(typed) && (b.typeId == Spadl.TypeShot || b.typeId == Spadl.TypeShotPenalty ||
            b.typeId == Spadl.TypeShotFreekick)) {
          val own = a.sameTeam(b)
          if (b.resultId == Spadl.ResultSuccess) { if (own) a.scores = true else a.concedes = true }
          else if (b.resultId == Spadl.ResultOwngoal) { if (own) a.concedes = true else a.scores = true }
        }
        j += 1
      }
    }
  }

  /** xG target — the action itself is a scored goal.
    * Reference `vaep/labels.py:97-117`. */
  def goalFromShot(actions: DataFrame): DataFrame =
    actions.withColumn("goal_from_shot", ActionKind.Standard.goal)
}
