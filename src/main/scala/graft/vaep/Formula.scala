package graft.vaep

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Spadl
import graft.core.SynActions.Wg

/** §2.11 — the VAEP value formula, a lag-1 stencil over the whole game
  * (NOT period-partitioned, unlike game states — reference
  * `socceraction/vaep/formula.py:9-13` vs `features.py:93`).
  *
  * Inputs: an action frame carrying P̂scores / P̂concedes columns. Override
  * precedence mirrors the reference's sequential mask assignment
  * (`formula.py:48-67`): corner > penalty > prev-goal > too-long > default.
  */
object Formula {

  private val SamePhaseSeconds = 10.0
  private val PenaltyProb = 0.792453
  private val CornerProb = 0.046500

  /** lag(1) over the game, first row = itself (`formula.py:9-13`). */
  private def prev(c: Column): Column = coalesce(lag(c, 1).over(Wg), c)

  def value(actions: DataFrame, scoresCol: String = "scores_p",
            concedesCol: String = "concedes_p"): DataFrame = {
    val ps = col(scoresCol)
    val pc = col(concedesCol)
    val sameTeam = prev(col("team_id")) === col("team_id")
    val tooLong = abs(col("time_seconds") - prev(col("time_seconds"))) > SamePhaseSeconds
    val prevGoal =
      prev(col("type_id")).isin(Spadl.TypeShot, Spadl.TypeShotFreekick, Spadl.TypeShotPenalty) &&
        prev(col("result_id")) === Spadl.ResultSuccess
    val penalty = col("type_id") === Spadl.TypeShotPenalty
    val corner = col("type_id").isin(Spadl.TypeCornerCrossed, Spadl.TypeCornerShort)

    val prevScores = when(corner, CornerProb)
      .when(penalty, PenaltyProb)
      .when(prevGoal, 0.0)
      .when(tooLong, 0.0)
      .otherwise(when(sameTeam, prev(ps)).otherwise(prev(pc)))
    val prevConcedes = when(prevGoal, 0.0)
      .when(tooLong, 0.0)
      .otherwise(when(sameTeam, prev(pc)).otherwise(prev(ps)))

    val offensive = ps - prevScores
    val defensive = -(pc - prevConcedes)
    actions.withColumns(ListMap("offensive_value" -> offensive, "defensive_value" -> defensive,
      "vaep_value" -> (offensive + defensive)))
  }
}
