package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Act
import graft.core.Spadl._

/** Atomic-SPADL converter (reference `socceraction/atomic/spadl/base.py`).
  *
  * Chain: `_extra_from_passes` → `_add_dribbles` → `_extra_from_shots` →
  * `_extra_from_fouls` → `_convert_columns` → `_simplify`. Each insertion
  * stage is ONE pass: a lead-window projection that emits the base row plus
  * a conditional synthesized row as a 1-or-2 element array, exploded and
  * resequenced with `row_number` over the fractional interleave key — the
  * declarative equivalent of pandas "append with action_id + 0.1, stable
  * sort, renumber". All windows share the game_id partitioning, so Catalyst
  * keeps ONE exchange for the whole chain and evaluates each stage's input
  * exactly once (the earlier base∪extras union formulation re-evaluated the
  * upstream chain per branch — 2⁴ = 16 scans over four stages).
  *
  * Reference quirk preserved: `ar.index("interception")` resolves to the
  * BASE interception id (10), not a new atomic id, because the atomic
  * vocabulary extends the base list (`atomic/spadl/base.py:96`,
  * `atomic/spadl/config.py:26-37`).
  */
object AtomicOps {

  // atomic action-type ids (base vocabulary + 10, `atomic/spadl/config.py:26-37`)
  val TypeReceival = 23
  val TypeOut = 25
  val TypeOffside = 26
  val TypeGoal = 27
  val TypeOwngoal = 28
  val TypeYellowCard = 29
  val TypeRedCard = 30
  val TypeCorner = 31
  val TypeFreekick = 32

  private val PasslikeIds = Seq(0, 1, 2, 4, 3, 5, 6, 18, 22)
  private val InterceptionlikeIds = Seq(10, 9, 16, 14, 15, 17)
  private val ShotlikeIds = Seq(TypeShot, TypeShotFreekick, TypeShotPenalty)

  private val Wa = Window.partitionBy("game_id").orderBy("period_id", "action_id")

  private val outCols = Seq("game_id", "period_id", "action_id", "time_seconds",
    "team_id", "player_id", "start_x", "start_y", "end_x", "end_y",
    "type_id", "result_id", "bodypart_id", "seq")

  /** A row synthesized after the current one, at the current row's end:
    * (period, action_id + 0.1), result -1. */
  private def extraStruct(typeId: Column, time: Column = col("time_seconds"),
                          team: Column = col("team_id"), player: Column = col("player_id"),
                          bodypart: Column = col("bodypart_id")): Column = struct(
    col("period_id"),
    (col("action_id").cast("double") + 0.1).as("aid_frac"),
    time.as("time_seconds"), team.as("team_id"), player.as("player_id"),
    col("end_x").as("start_x"), col("end_y").as("start_y"),
    col("end_x").as("end_x"), col("end_y").as("end_y"),
    typeId.as("type_id"), lit(-1).as("result_id"), bodypart.as("bodypart_id"), col("seq"))

  /** [[SpadlOps.interleave]] in the atomic column order. */
  private def explodeInterleave(withNx: DataFrame, cond: Column, extra: Column): DataFrame =
    SpadlOps.interleave(withNx, cond, extra).select(outCols.map(col): _*)

  /** N16 — synthesize receival / interception / out / offside rows after
    * pass-like actions (`atomic/spadl/base.py:39-113`). */
  def extraFromPasses(actions: DataFrame): DataFrame = {
    val nx = SpadlOps.withNext(actions, Wa, "team_id", "player_id", "period_id", "time_seconds",
      "type_id")
    val samePeriod = col("nx_period_id") === col("period_id") // lead null ⇒ false ≡ samegame&sameperiod
    val extraIdx = col("type_id").isin(PasslikeIds: _*) && samePeriod &&
      !col("nx_type_id").isin(InterceptionlikeIds: _*)
    val sameTeam = col("team_id") === col("nx_team_id")
    val offside = col("result_id") === ResultOffside
    val out = (col("nx_type_id") === TypeGoalkick && !sameTeam) ||
      col("nx_type_id") === lit(2) // throw_in
    // mask order (`base.py:98-104`): receival < interception < out < offside
    val typeId = when(offside, TypeOffside)
      .when(out, TypeOut)
      .when(!sameTeam, TypeInterception)
      .otherwise(TypeReceival)
    val extra = extraStruct(typeId,
      time = (col("time_seconds") + col("nx_time_seconds")) / 2,
      team = when(typeId === TypeInterception, col("nx_team_id")).otherwise(col("team_id")),
      player = when(out || offside, col("player_id")).otherwise(col("nx_player_id")),
      bodypart = lit(BodypartFoot))
    explodeInterleave(nx, extraIdx, extra)
  }

  /** N17 — goal / owngoal / out rows after shots (`atomic/spadl/base.py:116-166`). */
  def extraFromShots(actions: DataFrame): DataFrame = {
    val nx = SpadlOps.withNext(actions, Wa, "period_id", "type_id")
    val samePeriod = col("nx_period_id") === col("period_id")
    val shot = col("type_id").isin(ShotlikeIds: _*)
    val goal = shot && col("result_id") === ResultSuccess
    val owngoal = col("result_id") === ResultOwngoal
    val out = shot && col("nx_type_id").isin(TypeCornerCrossed, TypeCornerShort, TypeGoalkick) &&
      samePeriod
    // mask order (`base.py:157-161`): out < goal < owngoal
    val typeId = when(owngoal, TypeOwngoal).when(goal, TypeGoal).otherwise(TypeOut)
    explodeInterleave(nx, goal || owngoal || out, extraStruct(typeId))
  }

  /** N18 — yellow/red-card rows (`atomic/spadl/base.py:169-197`). */
  def extraFromFouls(actions: DataFrame): DataFrame = {
    val yellow = col("result_id") === ResultYellow
    val red = col("result_id") === ResultRed
    explodeInterleave(actions, yellow || red,
      extraStruct(when(red, TypeRedCard).otherwise(TypeYellowCard)))
  }

  /** `_add_dribbles` re-run inside the atomic chain operates on the
    * action_id-resequenced frame, so the neighbor order is (period,
    * action_id) (`atomic/spadl/base.py:31`). */
  def addDribblesById(actions: DataFrame): DataFrame =
    SpadlOps.addDribbles(actions, Wa).select(outCols.map(col): _*)

  /** P19 + P18 — project to (x, y, dx, dy) and remap corner/freekick types
    * (`atomic/spadl/base.py:200-236`). */
  def convertColumns(actions: DataFrame): DataFrame = actions.select(
    col("game_id"), col("action_id"), col("period_id"), col("time_seconds"),
    col("team_id"), col("player_id"),
    col("start_x").as("x"), col("start_y").as("y"),
    (col("end_x") - col("start_x")).as("dx"),
    (col("end_y") - col("start_y")).as("dy"),
    when(col("type_id").isin(TypeCornerCrossed, TypeCornerShort), TypeCorner)
      .when(col("type_id").isin(3, 4, TypeShotFreekick), TypeFreekick)
      .otherwise(col("type_id")).as("type_id"),
    col("bodypart_id"), col("seq"))

  /** Full SPADL → Atomic-SPADL conversion (`atomic/spadl/base.py:16-36`),
    * declarative composition — the per-stage window/explode operators above
    * chained as written. Kept as the reference formulation the per-stage
    * oracles gate and the equivalence baseline for [[convertToAtomic]]. */
  def convertToAtomicDeclarative(actions: DataFrame): DataFrame =
    convertColumns(
      extraFromFouls(extraFromShots(addDribblesById(extraFromPasses(actions)))))

  private val PasslikeSet = PasslikeIds.toSet
  private val InterceptionlikeSet = InterceptionlikeIds.toSet
  private val ShotlikeSet = ShotlikeIds.toSet

  /** The four insertion stages of the chain as one per-game kernel: each
    * stage emits a row, then its conditional synthesized row right after it.
    * That IS the (period_id, aid_frac) position `explodeInterleave`
    * renumbers by: the input is (period, action_id) sorted and every extra
    * carries (base period, base id + 0.1) — or, for dribbles, the next row's
    * period under a same-period guard. Conditions and fields cite the same
    * reference lines as the window stages above; AtomicOpsSpec asserts
    * whole-frame equality with [[convertToAtomicDeclarative]]. */
  case object AtomicKernel extends GameKernel {
    val reads: Seq[Int] = Act.ActionId to Act.SeqNo
    val order: Seq[Int] = Seq(Act.PeriodId, Act.ActionId)
    def labels: Boolean = false

    /** [[extraStruct]]'s row after `a`. */
    private def extra(a: Act)(typeId: Int, time: Double = a.time, team: Long = a.teamId,
                              player: Long = a.playerId, bodypart: Int = a.bodypartId): Act =
      new Act(a.actionId, a.periodId, time, team, player, a.endX, a.endY, a.endX, a.endY,
        typeId, -1, bodypart, a.seq)

    def run(game: Array[Act]): Array[Act] = {
      require(game.forall(_.nulls == 0), "the atomic conversion needs actions without nulls")
      // N16 — extraFromPasses (`atomic/spadl/base.py:39-113`)
      val afterPasses = GameKernel.insertAfter(game) { (a, nx) =>
        if (nx != null && PasslikeSet(a.typeId) && nx.periodId == a.periodId &&
            !InterceptionlikeSet(nx.typeId)) {
          val sameTeam = a.teamId == nx.teamId
          val offside = a.resultId == ResultOffside
          val outOfPlay = (nx.typeId == TypeGoalkick && !sameTeam) || nx.typeId == 2 // throw_in
          // mask order (`base.py:98-104`): receival < interception < out < offside
          val typeId =
            if (offside) TypeOffside
            else if (outOfPlay) TypeOut
            else if (!sameTeam) TypeInterception
            else TypeReceival
          extra(a)(typeId, (a.time + nx.time) / 2,
            if (typeId == TypeInterception) nx.teamId else a.teamId,
            if (outOfPlay || offside) a.playerId else nx.playerId, BodypartFoot)
        } else null
      }
      // N2 rerun by id — addDribblesById (`atomic/spadl/base.py:31`)
      val afterDribbles = GameKernel.insertAfter(afterPasses)(SpadlOps.dribble)
      // N17 — extraFromShots (`atomic/spadl/base.py:116-166`)
      val afterShots = GameKernel.insertAfter(afterDribbles) { (a, nx) =>
        val shot = ShotlikeSet(a.typeId)
        val goal = shot && a.resultId == ResultSuccess
        val owngoal = a.resultId == ResultOwngoal
        val outOfPlay = shot && nx != null && nx.periodId == a.periodId &&
          (nx.typeId == TypeCornerCrossed || nx.typeId == TypeCornerShort || nx.typeId == TypeGoalkick)
        // mask order (`base.py:157-161`): out < goal < owngoal
        if (goal || owngoal || outOfPlay)
          extra(a)(if (owngoal) TypeOwngoal else if (goal) TypeGoal else TypeOut)
        else null
      }
      // N18 — extraFromFouls (`atomic/spadl/base.py:169-197`)
      GameKernel.insertAfter(afterShots) { (a, _) =>
        if (a.resultId == ResultYellow || a.resultId == ResultRed)
          extra(a)(if (a.resultId == ResultRed) TypeRedCard else TypeYellowCard)
        else null
      }
    }
  }

  /** Full SPADL → Atomic-SPADL conversion: [[AtomicKernel]] as one
    * [[PerGameScan]], then the map-only column conversion. Value-identical
    * to [[convertToAtomicDeclarative]] (spec-asserted; `atomic_convert_full`
    * and every downstream atomic oracle hash the composition). */
  def convertToAtomic(actions: DataFrame): DataFrame =
    convertColumns(PerGameScan(actions, AtomicKernel))
}
