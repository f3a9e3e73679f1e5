package graft.core

import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** One SPADL action as the per-game kernels (`graft.operators.PerGameScan`,
  * the streaming CEP sessions) see it: the columns as primitive fields,
  * with bit `1 << f` of `nulls` set when field `f` is SQL NULL. */
final class Act(
    var actionId: Long, var periodId: Int, var time: Double, var teamId: Long,
    var playerId: Long, var startX: Double, var startY: Double, var endX: Double,
    var endY: Double, var typeId: Int, var resultId: Int, var bodypartId: Int,
    var seq: Long, var nulls: Int = 0) {
  var scores = false
  var concedes = false
  /** No field in `mask` is null. */
  def has(mask: Int): Boolean = (nulls & mask) == 0
  /** `team_id <=> b.team_id`; a missing `b` (past the game's end) is a null. */
  def sameTeam(b: Act): Boolean = {
    val known = has(1 << Act.TeamId)
    if (b == null) !known else known == b.has(1 << Act.TeamId) && (!known || teamId == b.teamId)
  }
}

object Act {
  final val ActionId = 0; final val PeriodId = 1; final val Time = 2; final val TeamId = 3
  final val PlayerId = 4; final val StartX = 5; final val StartY = 6; final val EndX = 7
  final val EndY = 8; final val TypeId = 9; final val ResultId = 10; final val BodypartId = 11
  final val SeqNo = 12

  val Fields: Seq[(String, DataType)] = Seq(
    "action_id" -> LongType, "period_id" -> IntegerType, "time_seconds" -> DoubleType,
    "team_id" -> LongType, "player_id" -> LongType, "start_x" -> DoubleType,
    "start_y" -> DoubleType, "end_x" -> DoubleType, "end_y" -> DoubleType,
    "type_id" -> IntegerType, "result_id" -> IntegerType, "bodypart_id" -> IntegerType,
    "seq" -> LongType)

  /** The null-mask bits of `fields`. */
  def bits(fields: Int*): Int = fields.foldLeft(0)((m, f) => m | 1 << f)

  def blank: Act = new Act(0L, 0, 0.0, 0L, 0L, 0.0, 0.0, 0.0, 0.0, 0, 0, 0, 0L)
}
