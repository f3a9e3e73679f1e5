package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.Act
import graft.core.Act._
import graft.core.Spadl._
import graft.core.SynActions.{W, Wg}
import graft.vaep.Labels

/** Batch (window-function) formulation of the SPADL normalizer operators.
  *
  * The reference implements these as pandas `shift(±k)` + boolean-mask
  * assignment over one in-memory game (`socceraction/spadl/base.py`). Here
  * each is a declarative per-game window transform: Catalyst plans ONE
  * exchange on `game_id` (all window specs share the partitioning) and the
  * stencils run inside whole-stage codegen. These window forms are the
  * reference the `spadl_*` oracles gate; the converters' shared tail runs
  * them as ONE ordered per-game pass instead ([[normalize]]).
  */
object SpadlOps {

  /** N1 — clearance end-coords := next action's start (last row keeps own).
    * Reference `socceraction/spadl/base.py:13-20`. */
  def fixClearances(actions: DataFrame): DataFrame = actions
    .withColumn("end_x",
      when(col("type_id") === TypeClearance,
        coalesce(lead("start_x", 1).over(Wg), col("end_x"))).otherwise(col("end_x")))
    .withColumn("end_y",
      when(col("type_id") === TypeClearance,
        coalesce(lead("start_y", 1).over(Wg), col("end_y"))).otherwise(col("end_y")))

  /** P15 — mirror coordinates for the away team so both teams attack
    * left-to-right. Reference `socceraction/spadl/base.py:23-30`. */
  def fixDirectionOfPlay(actions: DataFrame, homeTeamId: Column): DataFrame = {
    val away = col("team_id") =!= homeTeamId
    def mirror(c: String, size: Double) = c -> when(away, lit(size) - col(c)).otherwise(col(c))
    actions.withColumns(ListMap(mirror("start_x", FieldLength), mirror("end_x", FieldLength),
      mirror("start_y", FieldWidth), mirror("end_y", FieldWidth)))
  }

  /** P17/J1 — denormalize type/result/bodypart names via the three dimension
    * tables. Reference `socceraction/spadl/utils.py:11-32`. The dims are
    * ≤23 rows: force broadcast so the plan is three BroadcastHashJoins with
    * no shuffle of the fact side.
    */
  def addNames(actions: DataFrame): DataFrame = {
    val spark = actions.sparkSession
    actions
      .join(broadcast(actiontypesDf(spark)), Seq("type_id"), "left")
      .join(broadcast(resultsDf(spark)), Seq("result_id"), "left")
      .join(broadcast(bodypartsDf(spark)), Seq("bodypart_id"), "left")
  }

  val MinDribbleLength = 3.0
  val MaxDribbleLength = 60.0
  val MaxDribbleDuration = 10.0

  /** N2 — synthesize a `dribble` action between consecutive same-team
    * actions whose gap is 3–60 m, <10 s, same period, and where the next
    * action is not a foul, not a shot, and not headed (the reference's
    * `not_headed_shot` is a conjunction of two independent conditions:
    * `base.py:46-48`); then resort and resequence `action_id`.
    * Reference `socceraction/spadl/base.py:38-91`.
    *
    * Formulated as one lead-window projection and one [[interleave]]
    * stage, with no extra shuffle. `w` orders each game's neighbours; the
    * atomic chain re-runs this by (period, action_id).
    */
  def addDribbles(actions: DataFrame, w: WindowSpec = Wg): DataFrame = {
    // pandas shift(-1, fill_value=0) gives the last row an all-zero neighbor;
    // period_id 0 never matches a real period so the last row emits nothing —
    // a null lead here is equivalent (all conditions null-safe false).
    val nx = withNext(actions, w, "team_id", "player_id", "period_id", "time_seconds",
      "start_x", "start_y", "type_id", "bodypart_id")
    val dxc = col("end_x") - col("nx_start_x")
    val dyc = col("end_y") - col("nx_start_y")
    val d2 = dxc * dxc + dyc * dyc
    val cond = (col("team_id") === col("nx_team_id")) &&
      (col("nx_type_id") =!= TypeFoul) &&
      (col("nx_type_id") =!= TypeShot) && (col("nx_bodypart_id") =!= BodypartHead) &&
      (d2 >= MinDribbleLength * MinDribbleLength) &&
      (d2 <= MaxDribbleLength * MaxDribbleLength) &&
      (col("nx_time_seconds") - col("time_seconds") < MaxDribbleDuration) &&
      (col("period_id") === col("nx_period_id"))
    val dribble = struct(
      col("nx_period_id").cast("int").as("period_id"),
      (col("action_id").cast("double") + 0.1).as("aid_frac"),
      ((col("time_seconds") + col("nx_time_seconds")) / 2).as("time_seconds"),
      col("nx_team_id").as("team_id"),
      col("nx_player_id").as("player_id"),
      col("end_x").as("start_x"), col("end_y").as("start_y"),
      col("nx_start_x").as("end_x"), col("nx_start_y").as("end_y"),
      lit(TypeDribble).as("type_id"),
      lit(ResultSuccess).as("result_id"),
      lit(BodypartFoot).as("bodypart_id"),
      col("seq"))
    interleave(nx, cond, dribble)
  }

  /** `actions` plus `nx_<c>` := lead(c, 1) over `w` for each of `cols`, in
    * one projection. */
  private[operators] def withNext(actions: DataFrame, w: WindowSpec, cols: String*): DataFrame =
    actions.withColumns(ListMap(cols.map(c => s"nx_$c" -> lead(c, 1).over(w)): _*))

  /** One insertion stage: per row emit [base] or [base, extra] (`extra` an
    * interleave struct with aid_frac = action_id + 0.1), explode, renumber
    * per game in (period, aid_frac) order: the reference's "append with
    * action_id + 0.1, stable sort, renumber". Output: `game_id` and the
    * [[Act]] columns.
    *
    * PLAN SHAPE: the 1-or-2 element array is ONE pass over one lineage.
    * The union formulation (base ∪ extras, both derived from the input)
    * evaluates the upstream chain TWICE per insertion stage; chained stages
    * double per stage (the atomic chain hit 16 scans). Values are
    * identical: same row multiset, and the (period_id, aid_frac)
    * resequencing key is a total order (unique action_id per game), so
    * row_number assigns identically. */
  private[operators] def interleave(withNx: DataFrame, cond: Column, extra: Column): DataFrame = {
    val base = struct(
      col("period_id"),
      col("action_id").cast("double").as("aid_frac"),
      col("time_seconds"), col("team_id"), col("player_id"),
      col("start_x"), col("start_y"), col("end_x"), col("end_y"),
      col("type_id"), col("result_id"), col("bodypart_id"), col("seq"))
    val wReseq = Window.partitionBy("game_id").orderBy("period_id", "aid_frac")
    withNx
      .select(col("game_id"), explode(when(cond, array(base, extra)).otherwise(array(base))).as("r"))
      .select(col("game_id"), col("r.*"))
      .withColumn("action_id", row_number().over(wReseq).cast("long") - 1)
      .select(("game_id" +: Act.Fields.map(_._1)).map(col): _*)
  }

  /** N6 (Opta) — an interception NOT followed by a same-team action is
    * retagged as failed. Reference `socceraction/spadl/opta.py:244-260`. */
  def fixInterceptions(actions: DataFrame): DataFrame = actions
    .withColumn("result_id",
      when(col("type_id") === TypeInterception &&
        !(lead("team_id", 1).over(Wg) <=> col("team_id")), lit(ResultFail))
        .otherwise(col("result_id")))

  /** N5 (Opta) — a ball-recovery (modeled: interception with success) whose
    * possession continues becomes a dribble to the next *real* action's
    * start; the scan for "next non-non_action" is a forward
    * first-ignoring-nulls window. Reference `socceraction/spadl/opta.py:202-241`.
    */
  def nextRealActionStart(actions: DataFrame): DataFrame = {
    // "First non-non_action AFTER current" in ascending order ≡ "nearest
    // non-null BEFORE current" in descending order. The descending
    // (unboundedPreceding, -1) frame is a growing frame WindowExec processes
    // incrementally — O(n) per game — whereas the ascending
    // (1, unboundedFollowing) form is a shrinking frame recomputed per row
    // (O(n²) on long no-real-action stretches; the round-1 bottleneck).
    val wDesc = Window.partitionBy("game_id")
      .orderBy(col("period_id").desc, col("time_seconds").desc, col("seq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    actions
      .withColumn("next_real_x",
        last(when(col("type_id") =!= TypeNonAction, col("start_x")), ignoreNulls = true)
          .over(wDesc))
      .withColumn("next_real_y",
        last(when(col("type_id") =!= TypeNonAction, col("start_y")), ignoreNulls = true)
          .over(wDesc))
  }

  /** N7 (Opta) — pass deflected by an opponent touch then recovered by the
    * passing team: pass end := action(+2) start, result := success.
    * Reference `socceraction/spadl/opta.py:263-296`. */
  def fixUnintentionalTouches(actions: DataFrame): DataFrame = {
    val deflected = (col("type_id") === TypePass) &&
      (lead("type_id", 1).over(Wg) === TypeBadTouch) &&
      !(lead("team_id", 1).over(Wg) <=> col("team_id")) &&
      (lead("team_id", 2).over(Wg) <=> col("team_id"))
    actions
      .withColumn("end_x", when(deflected, lead("start_x", 2).over(Wg)).otherwise(col("end_x")))
      .withColumn("end_y", when(deflected, lead("start_y", 2).over(Wg)).otherwise(col("end_y")))
      .withColumn("result_id", when(deflected, lit(ResultSuccess)).otherwise(col("result_id")))
  }

  /** O1+O2 — canonical ordering + dense per-game action_id resequencing.
    * Reference `socceraction/spadl/statsbomb.py:110,116`. */
  def resequence(actions: DataFrame): DataFrame =
    actions.withColumn("action_id", row_number().over(Wg).cast("long") - 1)

  private val DribbleFrom = bits(TeamId, EndX, EndY, Time, PeriodId)
  private val DribbleTo = bits(TeamId, TypeId, BodypartId, StartX, StartY, Time, PeriodId)

  /** N2 — the dribble [[addDribbles]] synthesizes between `a` and its
    * successor `nx` (null: none), or null. Any null operand makes the
    * window form's condition null, so it emits no dribble either. */
  def dribble(a: Act, nx: Act): Act = {
    if (nx == null || !a.has(DribbleFrom) || !nx.has(DribbleTo)) return null
    val dx = a.endX - nx.startX
    val dy = a.endY - nx.startY
    val d2 = dx * dx + dy * dy
    if (a.teamId == nx.teamId && nx.typeId != TypeFoul && nx.typeId != TypeShot &&
        nx.bodypartId != BodypartHead &&
        d2 >= MinDribbleLength * MinDribbleLength && d2 <= MaxDribbleLength * MaxDribbleLength &&
        nx.time - a.time < MaxDribbleDuration && a.periodId == nx.periodId)
      new Act(a.actionId, nx.periodId, (a.time + nx.time) / 2, nx.teamId, nx.playerId,
        a.endX, a.endY, nx.startX, nx.startY, TypeDribble, ResultSuccess, BodypartFoot, a.seq,
        (nx.nulls & (1 << PlayerId)) | (a.nulls & (1 << SeqNo)))
    else null
  }

  /** The per-game form of [[fixClearances]] → [[fixInterceptions]] (Opta
    * only) → [[resequence]] → [[addDribbles]], then, when `nrActions > 0`,
    * the `Labels.scores`/`Labels.concedes` lookahead over `nrActions`.
    * Every step keeps the window forms' null semantics. */
  final case class NormalizeKernel(interceptions: Boolean, nrActions: Int) extends GameKernel {
    val reads: Seq[Int] = PeriodId to SeqNo
    val order: Seq[Int] = Seq(PeriodId, Time, SeqNo)
    def labels: Boolean = nrActions > 0

    def run(game: Array[Act]): Array[Act] = {
      var i = 0
      while (i < game.length) {
        val a = game(i)
        val nx = if (i + 1 < game.length) game(i + 1) else null
        val known = a.has(1 << TypeId)
        // N1 — end := coalesce(lead(start), end)
        if (known && a.typeId == TypeClearance && nx != null) {
          if (nx.has(1 << StartX)) { a.endX = nx.startX; a.nulls &= ~(1 << EndX) }
          if (nx.has(1 << StartY)) { a.endY = nx.startY; a.nulls &= ~(1 << EndY) }
        }
        // N6 — reads team ids only, which N1 leaves alone
        if (interceptions && known && a.typeId == TypeInterception && !a.sameTeam(nx)) {
          a.resultId = ResultFail
          a.nulls &= ~(1 << ResultId)
        }
        i += 1
      }
      val out = GameKernel.insertAfter(game)(dribble)
      if (labels) Labels.scan(out, nrActions)
      out
    }
  }

  /** The converters' shared normalizer tail as one [[PerGameScan]]:
    * [[fixClearances]] → [[fixInterceptions]] (when `interceptions`) →
    * [[resequence]] → [[addDribbles]]. */
  def normalize(actions: DataFrame, interceptions: Boolean = false): DataFrame =
    PerGameScan(actions, NormalizeKernel(interceptions, nrActions = 0))
}
