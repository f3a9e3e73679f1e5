package graft.vaep

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §2.11 — the VAEP value formula, a lag-1 stencil over the whole game
  * (NOT period-partitioned, unlike game states — reference
  * `socceraction/vaep/formula.py:9-13` vs `features.py:93`).
  *
  * Inputs: an action frame carrying P̂scores / P̂concedes columns. The
  * previous action's terms are replaced by the kind's overrides, the first
  * that holds winning, as the reference's sequential mask assignment does
  * (`formula.py:48-67`; SPADL: corner > penalty > prev-goal > too-long >
  * default; Atomic-SPADL: prev-goal > default).
  */
object Formula {

  def value(actions: DataFrame, scoresCol: String = "scores_p",
            concedesCol: String = "concedes_p",
            kind: ActionKind = ActionKind.Standard): DataFrame = {
    // the previous action's field: lag(1) over the game, first row = itself
    // (`formula.py:9-13`); one window column per field, however often read
    val lagged = mutable.LinkedHashSet[String]()
    def prev(f: String): Column = { lagged += f; col(s"__prev_$f") }
    def overridden(branches: Seq[(Column, Double)], default: Column): Column =
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (c, (test, v)) => c.when(test, v)
      }.otherwise(default)

    val ps = col(scoresCol)
    val pc = col(concedesCol)
    val sameTeam = prev("team_id") === col("team_id")
    val tests = kind.overrides.map(o => o.test(prev) -> o)
    val prevScores = overridden(tests.map { case (t, o) => t -> o.scores },
      when(sameTeam, prev(scoresCol)).otherwise(prev(concedesCol)))
    val prevConcedes = overridden(tests.flatMap { case (t, o) => o.concedes.map(t -> _) },
      when(sameTeam, prev(concedesCol)).otherwise(prev(scoresCol)))

    val offensive = ps - prevScores
    val defensive = -(pc - prevConcedes)
    val lags = lagged.toSeq.map(f => s"__prev_$f" -> coalesce(lag(f, 1).over(kind.gameWindow), col(f)))
    actions.withColumns(ListMap(lags: _*))
      .withColumns(ListMap("offensive_value" -> offensive, "defensive_value" -> defensive,
        "vaep_value" -> (offensive + defensive)))
      .drop(lags.map(_._1): _*)
  }
}
