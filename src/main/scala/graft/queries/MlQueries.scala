package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{SynActions, Tables}
import graft.operators.AtomicOps
import graft.vaep.{ActionKind, AtomicVaep, Features, Formula, GameStates, Labels, VaepModel}

/** M1–M4 — the full VAEP ML chain: states → features → labels → seeded GBT
  * pair → probabilities → value formula → per-action ratings. Learned-model
  * outputs are not value-golden (the reference's own e2e suite doesn't
  * golden them either); the driver records rows-only, and the spec asserts
  * structure + metric quality gates. */
object MlQueries {

  def featureCols(k: Int): Array[String] = {
    // a compact, numeric-only subset of the default feature set
    val perState = (0 until k).flatMap { i =>
      Seq(s"start_x_a$i", s"start_y_a$i", s"end_x_a$i", s"end_y_a$i",
        s"start_dist_to_goal_a$i", s"start_angle_to_goal_a$i",
        s"end_dist_to_goal_a$i", s"end_angle_to_goal_a$i",
        s"dx_a$i", s"dy_a$i", s"movement_a$i",
        s"period_id_a$i", s"time_seconds_overall_a$i")
    }
    (perState ++ (1 until k).flatMap(i => Seq(s"team_$i", s"time_delta_$i")) ++
      Seq("goalscore_team", "goalscore_opponent", "goalscore_diff")).toArray
  }

  def assembled(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val actions = SynActions.fromEvents(Tables.events(s, dir))
    val states = GameStates.withStates(actions, k)
    val feats = (0 until k).flatMap { i =>
      Features.time(i) ++ Features.startlocation(i) ++ Features.endlocation(i) ++
        Features.startpolar(i) ++ Features.endpolar(i) ++ Features.movement(i)
    } ++ (1 until k).flatMap(i => Features.team(i) ++ Features.timeDelta(i)) ++
      Features.goalscore
    val withF = states.select(
      Seq(col("game_id"), col("action_id"), col("seq"), col("team_id"),
        col("period_id"), col("time_seconds"), col("type_id"),
        col("result_id")) ++ feats: _*)
    Labels.concedes(Labels.scores(withF))
  }

  /** Numeric feature set for the atomic GBT chain (one gamestate, matching
    * the reference e2e test's `AtomicVAEP(nb_prev_actions=1)`,
    * `tests/atomic/test_atomic_vaep.py:24-61`). */
  def atomicFeatureCols: Array[String] = Array(
    "x_a0", "y_a0", "dist_to_goal_a0", "angle_to_goal_a0",
    "mov_d_a0", "mov_angle_a0", "dx_a0", "dy_a0",
    "goalscore_team", "goalscore_opponent", "goalscore_diff")

  /** Atomic chain: SPADL→atomic conversion, left-to-right orientation,
    * single-state feature projection, atomic lookahead labels — the input
    * the reference's AtomicVAEP fits on. */
  def atomicAssembled(s: SparkSession, dir: String): DataFrame = {
    val atomic = AtomicOps.convertToAtomic(SynActions.fromEvents(Tables.events(s, dir)))
    val ltr = GameStates.playLeftToRight(atomic, 1, SynActions.homeTeamId, ActionKind.Atomic)
    val feats = AtomicVaep.location(0) ++ AtomicVaep.polar(0) ++ AtomicVaep.movementPolar(0) ++
      AtomicVaep.direction(0) ++ Features.goalscore(ActionKind.Atomic)
    val withF = ltr.select(
      Seq(col("game_id"), col("action_id"), col("seq"), col("team_id"),
        col("period_id"), col("time_seconds"), col("type_id")) ++ feats: _*)
    Labels.concedes(Labels.scores(withF, kind = ActionKind.Atomic),
      kind = ActionKind.Atomic)
  }

  /** The committed frozen GBT pair (generated once by [[graft.FreezeGbt]]). */
  private lazy val frozenScores =
    graft.vaep.FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "scores")
  private lazy val frozenConcedes =
    graft.vaep.FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "concedes")

  val all: Seq[Q] = Seq(

    // The GBT PREDICT path value-golden: one trained scores/concedes pair
    // frozen to literal trees (resource + FreezeGbt), walked identically as
    // a Column chain and as nested-CASE SQL — tree comparisons are exact
    // double arithmetic, the log-loss link is the only libm call and rounds
    // to 9 on both sides (the vaep_rate_logistic trick, extended to the
    // real model family). Training itself stays rows-only by design.
    Q("vaep_rate_gbt_frozen",
      s"""${graft.core.SynActions.OracleCte}, f AS (
         |  SELECT *,
         |    start_x AS start_x_a0, start_y AS start_y_a0,
         |    end_x AS end_x_a0, end_y AS end_y_a0,
         |    end_x - start_x AS dx_a0, end_y - start_y AS dy_a0,
         |    time_seconds AS time_seconds_a0,
         |    sqrt(abs(105.0 - start_x) * abs(105.0 - start_x) + abs(34.0 - start_y) * abs(34.0 - start_y)) AS start_dist_to_goal_a0
         |  FROM actions
         |), p AS (
         |  SELECT *,
         |    round(${graft.vaep.FrozenGbt.sql(frozenScores)}, 9) AS scores_p,
         |    round(${graft.vaep.FrozenGbt.sql(frozenConcedes)}, 9) AS concedes_p
         |  FROM f
         |)${VaepQueries.FormulaFromP}
         |SELECT game_id, action_id, seq, scores_p, concedes_p,
         |  offensive_value, defensive_value,
         |  offensive_value + defensive_value AS vaep_value
         |FROM v""".stripMargin) { (s, dir) =>
      import graft.vaep.FrozenGbt
      val acts = SynActions.fromEvents(Tables.events(s, dir))
      val withF = acts.select(
        col("*") +: (Features.startlocation(0) ++ Features.endlocation(0) ++
          Features.movement(0) :+ col("time_seconds").as("time_seconds_a0")
          :+ Features.startpolar(0).head): _*)
      val withP = withF
        .withColumn("scores_p", round(FrozenGbt.column(frozenScores), 9))
        .withColumn("concedes_p", round(FrozenGbt.column(frozenConcedes), 9))
      Formula.value(withP)
        .select("game_id", "action_id", "seq", "scores_p", "concedes_p",
          "offensive_value", "defensive_value", "vaep_value")
    },

    Q.rowsOnly("vaep_ml_rate") { (s, dir) =>
      val data = assembled(s, dir).cache()
      val fc = featureCols(3)
      val model = VaepModel.fit(data, fc, maxIter = 10, maxDepth = 3, seed = 42L)
      val rated = VaepModel.rate(model, data)
      data.unpersist()
      rated.select("game_id", "action_id", "seq", "scores_p", "concedes_p",
        "offensive_value", "defensive_value", "vaep_value")
    },

    // The atomic GBT chain end-to-end (reference
    // tests/atomic/test_atomic_vaep.py:24-61): atomic gamestate features +
    // atomic labels → seeded GBT pair → probabilities → the ATOMIC value
    // formula (no phase cutoff, prev-goal on goal/owngoal TYPE rows).
    // Learned-model outputs are rows-only like vaep_ml_rate; structure and
    // metric quality are gated in VaepModelSpec.
    Q.rowsOnly("atomic_vaep_ml_rate") { (s, dir) =>
      val data = atomicAssembled(s, dir).cache()
      val model = VaepModel.fit(data, atomicFeatureCols, maxIter = 10, maxDepth = 3, seed = 42L)
      val rated = Formula.value(VaepModel.estimateProbabilities(model, data),
        kind = ActionKind.Atomic)
      data.unpersist()
      rated.select("game_id", "action_id", "seq", "scores_p", "concedes_p",
        "offensive_value", "defensive_value", "vaep_value")
    })
}
