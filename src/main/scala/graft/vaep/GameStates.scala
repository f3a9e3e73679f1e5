package graft.vaep

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Spadl.{FieldLength, FieldWidth}
import graft.core.SynActions.W

/** A1 — game states: each action paired with its k−1 predecessors within
  * the same (game, period), leading rows clamped to the period's first row.
  *
  * Reference `socceraction/vaep/features.py:63-98`: `shift(i)` per
  * (game_id, period_id) group with `fillna(group.iloc[0])`. Here each
  * predecessor field is `coalesce(lag(f, i) over W, first(f) over W)` — all
  * window specs share one partitioning, so Catalyst plans a single exchange
  * and a single sort for the whole state assembly.
  *
  * State fields are flattened to `<field>__a<i>` columns (not structs) so
  * every downstream feature is a plain codegen'd projection.
  */
object GameStates {

  val StateFields: Seq[String] = Seq("team_id", "player_id", "time_seconds",
    "start_x", "start_y", "end_x", "end_y", "type_id", "result_id",
    "bodypart_id", "period_id")

  /** Name of field `f` of state action a_i (a0 = the action itself). */
  def st(f: String, i: Int): String = if (i == 0) f else s"${f}__a$i"

  def withStates(actions: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "the game state should include at least one preceding action")
    // one projection: each chained withColumn would re-analyse the whole plan
    actions.withColumns(ListMap((for (i <- 1 until k; f <- StateFields)
      yield st(f, i) -> coalesce(lag(f, i).over(W), first(f).over(W))): _*))
  }

  /** P16 — mirror all state actions' coordinates when the *acting* (a0)
    * team is the away team, so every game state is oriented left-to-right
    * for the team in possession. Reference `socceraction/vaep/features.py:101-131`. */
  def playLeftToRight(states: DataFrame, k: Int, homeTeamId: Column): DataFrame = {
    val away = col("team_id") =!= homeTeamId
    (0 until k).foldLeft(states) { (df, i) =>
      Seq("start_x" -> FieldLength, "end_x" -> FieldLength).foldLeft {
        Seq("start_y" -> FieldWidth, "end_y" -> FieldWidth).foldLeft(df) { (d, fy) =>
          val (f, w) = fy
          if (d.columns.contains(st(f, i)))
            d.withColumn(st(f, i), when(away, lit(w) - col(st(f, i))).otherwise(col(st(f, i))))
          else d
        }
      } { (d, fx) =>
        val (f, l) = fx
        if (d.columns.contains(st(f, i)))
          d.withColumn(st(f, i), when(away, lit(l) - col(st(f, i))).otherwise(col(st(f, i))))
        else d
      }
    }
  }
}
