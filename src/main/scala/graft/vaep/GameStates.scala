package graft.vaep

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1 — game states: each action paired with its k−1 predecessors within
  * the same (game, period), leading rows clamped to the period's first row.
  *
  * Reference `socceraction/vaep/features.py:63-98` (and its atomic twin):
  * `shift(i)` per (game_id, period_id) group with `fillna(group.iloc[0])`.
  * Here each predecessor field is `coalesce(lag(f, i) over W, first(f) over W)`
  * with W the kind's period window — all window specs share one
  * partitioning, so Catalyst plans a single exchange and a single sort for
  * the whole state assembly.
  *
  * State fields are flattened to `<field>__a<i>` columns (not structs) so
  * every downstream feature is a plain codegen'd projection.
  */
object GameStates {

  /** Name of field `f` of state action a_i (a0 = the action itself). */
  def st(f: String, i: Int): String = if (i == 0) f else s"${f}__a$i"

  def withStates(actions: DataFrame, k: Int, kind: ActionKind = ActionKind.Standard): DataFrame = {
    require(k >= 1, "the game state should include at least one preceding action")
    val w = kind.periodWindow
    // one projection: each chained withColumn would re-analyse the whole plan
    actions.withColumns(ListMap((for (i <- 1 until k; f <- kind.stateFields)
      yield st(f, i) -> coalesce(lag(f, i).over(w), first(f).over(w))): _*))
  }

  /** P16 — orient every game state left-to-right for the acting (a0) team:
    * when it is the away team, mirror the kind's coordinates and negate its
    * movement components in all k states. Reference
    * `socceraction/vaep/features.py:101-131`. */
  def playLeftToRight(states: DataFrame, k: Int, homeTeamId: Column,
                      kind: ActionKind = ActionKind.Standard): DataFrame = {
    val away = col("team_id") =!= homeTeamId
    val flips = kind.mirror.map { case (f, extent) => f -> ((c: Column) => lit(extent) - c) } ++
      kind.negate.map(f => f -> ((c: Column) => -c))
    val present = states.columns.toSet
    states.withColumns(ListMap((for {
      i <- 0 until k
      (f, flip) <- flips
      c = st(f, i) if present(c)
    } yield c -> when(away, flip(col(c))).otherwise(col(c))): _*))
  }
}
