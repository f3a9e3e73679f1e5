package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{SynActions, Tables}
import graft.core.SynActions.OracleCte
import graft.operators.AtomicOps
import graft.vaep.{ActionKind, AtomicVaep, Features, Formula, GameStates, Labels}

/** Atomic-VAEP operator family (SURVEY.md §2.7/§2.9/§2.11 atomic variants)
  * over the full SPADL→atomic chain, oracle-checked end to end. */
object AtomicVaepQueries {

  private def atomic(s: SparkSession, dir: String): DataFrame =
    AtomicOps.convertToAtomic(SynActions.fromEvents(Tables.events(s, dir)))

  private def cte = s"$OracleCte ${AtomicQueries.fullChainCte}"

  val all: Seq[Q] = Seq(

    Q("atomic_vaep_ltr",
      s"""$cte
         |SELECT game_id, action_id, seq,
         |  CASE WHEN team_id <> game_id % 4 THEN 105.0 - x ELSE x END AS x,
         |  CASE WHEN team_id <> game_id % 4 THEN 68.0 - y ELSE y END AS y,
         |  CASE WHEN team_id <> game_id % 4 THEN -dx ELSE dx END AS dx,
         |  CASE WHEN team_id <> game_id % 4 THEN -dy ELSE dy END AS dy
         |FROM atomic""".stripMargin) { (s, dir) =>
      GameStates.playLeftToRight(atomic(s, dir), 1, SynActions.homeTeamId, ActionKind.Atomic)
        .select("game_id", "action_id", "seq", "x", "y", "dx", "dy")
    },

    Q("atomic_vaep_features",
      s"""$cte
         |SELECT game_id, action_id, seq,
         |  x AS x_a0, y AS y_a0,
         |  sqrt(abs(105.0 - x) * abs(105.0 - x) + abs(34.0 - y) * abs(34.0 - y)) AS dist_to_goal_a0,
         |  round(CASE WHEN abs(105.0 - x) = 0 AND abs(34.0 - y) = 0 THEN 0.0
         |             WHEN abs(105.0 - x) = 0 THEN pi() / 2
         |             ELSE atan(abs(34.0 - y) / abs(105.0 - x)) END, 9) AS angle_to_goal_a0,
         |  sqrt(dx * dx + dy * dy) AS mov_d_a0,
         |  round(CASE WHEN dy = 0 THEN 0.0 ELSE atan2(dy, dx) END, 9) AS mov_angle_a0,
         |  CASE WHEN sqrt(dx * dx + dy * dy) > 0 THEN dx / sqrt(dx * dx + dy * dy) ELSE dx END AS dx_a0,
         |  CASE WHEN sqrt(dx * dx + dy * dy) > 0 THEN dy / sqrt(dx * dx + dy * dy) ELSE dy END AS dy_a0,
         |  type_id = 27 AS "actiontype_goal_a0",
         |  type_id = 23 AS "actiontype_receival_a0",
         |  type_id = 31 AS "actiontype_corner_a0",
         |  type_id = 32 AS "actiontype_freekick_a0"
         |FROM atomic""".stripMargin) { (s, dir) =>
      val a = atomic(s, dir)
      val t = col("type_id")
      val feats = AtomicVaep.location(0) ++ AtomicVaep.polar(0) ++
        AtomicVaep.movementPolar(0) ++ AtomicVaep.direction(0) ++ Seq(
          (t === 27).as("actiontype_goal_a0"),
          (t === 23).as("actiontype_receival_a0"),
          (t === 31).as("actiontype_corner_a0"),
          (t === 32).as("actiontype_freekick_a0"))
      val out = a.select(Seq(col("game_id"), col("action_id"), col("seq")) ++ feats: _*)
      Seq("angle_to_goal_a0", "mov_angle_a0").foldLeft(out)((d, c) =>
        d.withColumn(c, round(col(c), 9)))
    },

    Q("atomic_vaep_goalscore",
      s"""$cte, g AS (
         |  SELECT *,
         |    CASE WHEN (type_id = 27 AND team_id = first_value(team_id) OVER wg)
         |           OR (type_id = 28 AND team_id <> first_value(team_id) OVER wg)
         |         THEN 1 ELSE 0 END AS goal_a,
         |    CASE WHEN (type_id = 27 AND team_id <> first_value(team_id) OVER wg)
         |           OR (type_id = 28 AND team_id = first_value(team_id) OVER wg)
         |         THEN 1 ELSE 0 END AS goal_b,
         |    team_id = first_value(team_id) OVER wg AS is_a
         |  FROM atomic
         |  WINDOW wg AS (PARTITION BY game_id ORDER BY period_id, action_id)
         |), cum AS (
         |  SELECT *,
         |    CAST(coalesce(sum(goal_a) OVER wp, 0) AS BIGINT) AS score_a,
         |    CAST(coalesce(sum(goal_b) OVER wp, 0) AS BIGINT) AS score_b
         |  FROM g
         |  WINDOW wp AS (PARTITION BY game_id ORDER BY period_id, action_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |)
         |SELECT game_id, action_id, seq,
         |  CASE WHEN is_a THEN score_a ELSE score_b END AS goalscore_team,
         |  CASE WHEN is_a THEN score_b ELSE score_a END AS goalscore_opponent,
         |  (CASE WHEN is_a THEN score_a ELSE score_b END) - (CASE WHEN is_a THEN score_b ELSE score_a END) AS goalscore_diff
         |FROM cum""".stripMargin) { (s, dir) =>
      atomic(s, dir).select(Seq(col("game_id"), col("action_id"), col("seq")) ++
        Features.goalscore(ActionKind.Atomic): _*)
    },

    Q("atomic_vaep_labels",
      s"""$cte, f AS (
         |  SELECT *,
         |    CASE WHEN type_id = 27 THEN 1 ELSE 0 END AS goal_i,
         |    CASE WHEN type_id = 28 THEN 1 ELSE 0 END AS og_i
         |  FROM atomic
         |)
         |SELECT game_id, action_id, seq,
         |  (max(goal_i) OVER wt > 0) OR (sum(og_i) OVER wg - sum(og_i) OVER wt > 0) AS scores,
         |  (max(og_i) OVER wt > 0) OR (sum(goal_i) OVER wg - sum(goal_i) OVER wt > 0) AS concedes
         |FROM f
         |WINDOW wt AS (PARTITION BY game_id, team_id ORDER BY action_id
         |              RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING),
         |       wg AS (PARTITION BY game_id ORDER BY action_id
         |              RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING)""".stripMargin) { (s, dir) =>
      Labels.concedes(Labels.scores(atomic(s, dir), kind = ActionKind.Atomic),
        kind = ActionKind.Atomic)
        .select("game_id", "action_id", "seq", "scores", "concedes")
    },

    Q("atomic_vaep_formula",
      s"""$cte, p AS (
         |  SELECT *,
         |    (seq * 17 % 1000) / 1000.0 AS scores_p,
         |    (seq * 29 % 1000) / 1000.0 AS concedes_p
         |  FROM atomic
         |), pr AS (
         |  SELECT *,
         |    coalesce(lag(team_id) OVER wg, team_id) AS pv_team,
         |    coalesce(lag(type_id) OVER wg, type_id) AS pv_type,
         |    coalesce(lag(scores_p) OVER wg, scores_p) AS pv_ps,
         |    coalesce(lag(concedes_p) OVER wg, concedes_p) AS pv_pc
         |  FROM p
         |  WINDOW wg AS (PARTITION BY game_id ORDER BY period_id, action_id)
         |)
         |SELECT game_id, action_id, seq,
         |  scores_p - (CASE WHEN pv_type IN (27, 28) THEN 0.0
         |    WHEN pv_team = team_id THEN pv_ps ELSE pv_pc END) AS offensive_value,
         |  -(concedes_p - (CASE WHEN pv_type IN (27, 28) THEN 0.0
         |    WHEN pv_team = team_id THEN pv_pc ELSE pv_ps END)) AS defensive_value,
         |  (scores_p - (CASE WHEN pv_type IN (27, 28) THEN 0.0
         |    WHEN pv_team = team_id THEN pv_ps ELSE pv_pc END))
         |  + (-(concedes_p - (CASE WHEN pv_type IN (27, 28) THEN 0.0
         |    WHEN pv_team = team_id THEN pv_pc ELSE pv_ps END))) AS vaep_value
         |FROM atomic_p""".stripMargin.replace("FROM atomic_p", "FROM pr")) { (s, dir) =>
      val withP = atomic(s, dir)
        .withColumn("scores_p", (col("seq") * 17 % 1000) / lit(1000.0))
        .withColumn("concedes_p", (col("seq") * 29 % 1000) / lit(1000.0))
      Formula.value(withP, kind = ActionKind.Atomic)
        .select("game_id", "action_id", "seq", "offensive_value",
          "defensive_value", "vaep_value")
    })
}
