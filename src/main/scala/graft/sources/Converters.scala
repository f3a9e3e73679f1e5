package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Spadl.{FieldLength, FieldWidth}

/** Provider-specific coordinate/time normalizers (SURVEY.md §2.2 P2–P13) —
  * the scalar core of the StatsBomb / Opta / Wyscout converters, as pure
  * Column expressions (the reference uses row-at-a-time `apply`, strictly
  * slower; Catalyst codegen vectorizes these for free, §4.1), plus the
  * one interception split (§2.3 N3/N4) the StatsBomb and Wyscout
  * converters share.
  */
object Converters {

  /** P2 — StatsBomb cell-grid location → meters, y-flipped, clipped.
    * Cells are 1-based with the given side (1.0, or 0.1 for
    * high-fidelity); the cell center maps to the coordinate
    * (reference `spadl/statsbomb.py:173-212`). */
  def statsBombX(loc0: Column, cellSide: Column): Column =
    clipX((loc0 - cellSide / 2) / 120 * FieldLength)

  def statsBombY(loc1: Column, cellSide: Column): Column =
    clipY(lit(FieldWidth) - (loc1 - cellSide / 2) / 80 * FieldWidth)

  /** P3 — fidelity inference: a game whose coordinates are ever
    * non-integral uses the 0.1-cell grid (version 2). One per-game window
    * max — no second pass (reference `spadl/statsbomb.py:160-171`). */
  def fidelityCellSide(anyFractionalInGame: Column): Column =
    when(anyFractionalInGame, 0.1).otherwise(1.0)

  /** P7 — StatsBomb "HH:MM:SS.mmm" timestamp → seconds since period start
    * (reference `spadl/statsbomb.py:80`). */
  def statsBombTimeSeconds(timestamp: Column): Column =
    split(timestamp, ":").getItem(0).cast("double") * 3600 +
      split(timestamp, ":").getItem(1).cast("double") * 60 +
      split(timestamp, ":").getItem(2).cast("double")

  /** P4 — Opta percent coordinates → meters with clipping
    * (reference `spadl/opta.py:52-55`). */
  def optaX(x: Column): Column = least(greatest(x, lit(0.0)), lit(100.0)) / 100 * FieldLength
  def optaY(y: Column): Column = least(greatest(y, lit(0.0)), lit(100.0)) / 100 * FieldWidth

  /** P6 — Opta minute/second → seconds since period start, subtracting the
    * cumulative prior-period lengths 45/45/15/15 min
    * (reference `spadl/opta.py:41-48`). */
  def optaTimeSeconds(minute: Column, second: Column, periodId: Column): Column =
    minute * 60 + second -
      when(periodId > 1, 45 * 60).otherwise(0) -
      when(periodId > 2, 45 * 60).otherwise(0) -
      when(periodId > 3, 15 * 60).otherwise(0) -
      when(periodId > 4, 15 * 60).otherwise(0)

  /** P5 — Wyscout percent coordinates → meters; y measured top-to-bottom so
    * it flips (reference `spadl/wyscout.py:755-775`). */
  def wyscoutX(x: Column): Column = clipX(x * FieldLength / 100)
  def wyscoutY(y: Column): Column = clipY((lit(100.0) - y) * FieldWidth / 100)

  /** P13 — Wyscout positions array → (start, end); single-element arrays
    * mean in-place (end = start); empty → nulls
    * (reference `spadl/wyscout.py:142-158`). */
  def wyscoutStartX(positions: Column): Column =
    when(size(positions) >= 1, element_at(positions, 1).getField("x")).otherwise(lit(null))
  def wyscoutStartY(positions: Column): Column =
    when(size(positions) >= 1, element_at(positions, 1).getField("y")).otherwise(lit(null))
  def wyscoutEndX(positions: Column): Column =
    when(size(positions) >= 2, element_at(positions, 2).getField("x"))
      .otherwise(wyscoutStartX(positions))
  def wyscoutEndY(positions: Column): Column =
    when(size(positions) >= 2, element_at(positions, 2).getField("y"))
      .otherwise(wyscoutStartY(positions))

  /** P12 — Wyscout tag array → boolean flag per tag id
    * (reference `spadl/wyscout.py:59-139`, 59 tag columns). */
  def hasTag(tags: Column, tagId: Int): Column = array_contains(tags, tagId)

  /** N3/N4 — the interception split StatsBomb and Wyscout share
    * (reference `spadl/statsbomb.py:125-159`, `spadl/wyscout.py:377-418`):
    * each row where `carrier` holds is preceded by a derived copy whose
    * columns named in `derived` take the given values; a null `carrier` is
    * false (`when`). One pass — an `explode` of [derived, row] or [row],
    * not base ∪ derived, which would evaluate the upstream twice. `seq`
    * becomes 2·seq (derived) / 2·seq+1 (original), so the derived row sorts
    * immediately before its carrier in a unique total order. */
  def insertBefore(events: DataFrame, carrier: Column, derived: Map[String, Column]): DataFrame = {
    val cols = events.columns.filterNot(_ == "game_id")
    def row(seq: Column, values: Map[String, Column]): Column = struct(cols.map {
      case "seq" => seq.as("seq")
      case c => values.getOrElse(c, col(c)).as(c)
    }: _*)
    val original = row(col("seq") * 2 + 1, Map.empty)
    events
      .select(col("game_id"),
        explode(when(carrier, array(row(col("seq") * 2, derived), original))
          .otherwise(array(original))).as("r"))
      .select(col("game_id"), col("r.*"))
  }

  private def clipX(c: Column): Column = least(greatest(c, lit(0.0)), lit(FieldLength))
  private def clipY(c: Column): Column = least(greatest(c, lit(0.0)), lit(FieldWidth))
}
