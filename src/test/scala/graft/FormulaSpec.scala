package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._

import graft.core.Spadl
import graft.streaming.SessionEngine.ActionRow
import graft.vaep.{ActionKind, Formula}

/** §2.11 — VAEP formula semantics: override precedence, team switch,
  * phase cutoff, first-row self-lag. */
class FormulaSpec extends SparkSpec {
  import spark.implicits._

  private def mk(rows: (Long, Double, Long, Int, Int, Double, Double)*) = {
    // (seq, t, team, type, result, ps, pc)
    rows.map { case (seq, t, team, ty, res, _, _) =>
      ActionRow(1L, seq, 1, t, team, team, 0, 0, 0, 0, ty, res, 0, seq)
    }.toDF()
      .withColumn("scores_p",
        element_at(typedLit(rows.map(r => r._1 -> r._6).toMap), col("seq")))
      .withColumn("concedes_p",
        element_at(typedLit(rows.map(r => r._1 -> r._7).toMap), col("seq")))
  }

  private def values(df: DataFrame) =
    Formula.value(df).orderBy("seq")
      .select("offensive_value", "defensive_value", "vaep_value")
      .collect()

  test("first row: prev = itself ⇒ offensive 0, defensive 0") {
    val v = values(mk((0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1)))
    assert(v(0).getDouble(0) == 0.0)
    assert(v(0).getDouble(1) == 0.0)
  }

  test("same team chain: off = ps - prev_ps; opponent: off = ps - prev_pc") {
    val v = values(mk(
      (0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1),
      (1L, 2.0, 1L, Spadl.TypePass, 1, 0.5, 0.2), // same team
      (2L, 4.0, 2L, Spadl.TypePass, 1, 0.4, 0.3))) // possession change
    assert(math.abs(v(1).getDouble(0) - (0.5 - 0.3)) < 1e-12)
    assert(math.abs(v(1).getDouble(1) - -(0.2 - 0.1)) < 1e-12)
    // team 2's prev_scores = prev CONCEDES of team 1's action
    assert(math.abs(v(2).getDouble(0) - (0.4 - 0.2)) < 1e-12)
    assert(math.abs(v(2).getDouble(1) - -(0.3 - 0.5)) < 1e-12)
  }

  test("phase cutoff: gap > 10s zeroes the prev term") {
    val v = values(mk(
      (0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1),
      (1L, 20.0, 1L, Spadl.TypePass, 1, 0.5, 0.2)))
    assert(v(1).getDouble(0) == 0.5)
    assert(v(1).getDouble(1) == -0.2)
  }

  test("previous goal zeroes the prev term") {
    val v = values(mk(
      (0L, 0.0, 1L, Spadl.TypeShot, Spadl.ResultSuccess, 0.9, 0.1),
      (1L, 2.0, 1L, Spadl.TypePass, 1, 0.5, 0.2)))
    assert(v(1).getDouble(0) == 0.5)
    assert(v(1).getDouble(1) == -0.2)
  }

  test("penalty and corner fixed constants (offensive only)") {
    val pen = values(mk(
      (0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1),
      (1L, 2.0, 1L, Spadl.TypeShotPenalty, 1, 0.9, 0.05)))
    assert(math.abs(pen(1).getDouble(0) - (0.9 - 0.792453)) < 1e-12)
    assert(math.abs(pen(1).getDouble(1) - -(0.05 - 0.1)) < 1e-12) // defensive unaffected
    val cor = values(mk(
      (0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1),
      (1L, 2.0, 1L, Spadl.TypeCornerCrossed, 1, 0.2, 0.05)))
    assert(math.abs(cor(1).getDouble(0) - (0.2 - 0.0465)) < 1e-12)
  }

  test("corner overrides phase cutoff (reference mask order)") {
    val v = values(mk(
      (0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1),
      (1L, 50.0, 1L, Spadl.TypeCornerShort, 1, 0.2, 0.05))) // gap > 10s AND corner
    assert(math.abs(v(1).getDouble(0) - (0.2 - 0.0465)) < 1e-12)
    assert(v(1).getDouble(1) == -0.05) // defensive: toolong zeroes prev
  }

  test("vaep = offensive + defensive") {
    val v = values(mk(
      (0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1),
      (1L, 2.0, 2L, Spadl.TypeTackle, 1, 0.4, 0.2)))
    v.foreach(r => assert(r.getDouble(2) == r.getDouble(0) + r.getDouble(1)))
  }

  test("each previous-action field is one lag, however often the formula reads it") {
    def lags(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w.windowExpressions.size
    }.sum
    val df = mk((0L, 0.0, 1L, Spadl.TypePass, 1, 0.3, 0.1))
    assert(lags(Formula.value(df)) == 6) // team, type, result, time, P(scores), P(concedes)
    assert(lags(Formula.value(df, kind = ActionKind.Atomic)) == 4) // team, type, P(scores), P(concedes)
  }

  test("atomic kind: no corner, penalty or phase-cutoff override; prev-goal on type 27/28") {
    val rows = Seq( // (action_id, t, type, ps, pc)
      (0L, 0.0, Spadl.TypePass, 0.3, 0.1),
      (1L, 50.0, Spadl.TypeCornerCrossed, 0.2, 0.05), // gap > 10s AND corner
      (2L, 52.0, Spadl.TypeShotPenalty, 0.9, 0.05),
      (3L, 53.0, 27, 0.6, 0.1), // goal
      (4L, 54.0, Spadl.TypePass, 0.4, 0.2),
      (5L, 55.0, 28, 0.1, 0.3), // own goal
      (6L, 56.0, Spadl.TypePass, 0.5, 0.25))
      .toDF("action_id", "time_seconds", "type_id", "scores_p", "concedes_p")
      .withColumn("game_id", lit(1L)).withColumn("period_id", lit(1))
      .withColumn("team_id", lit(1L))
    val v = Formula.value(rows, kind = ActionKind.Atomic).orderBy("action_id")
      .select("offensive_value", "defensive_value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val expected = Seq((0.0, 0.0), (0.2 - 0.3, -(0.05 - 0.1)), (0.9 - 0.2, -(0.05 - 0.05)),
      (0.6 - 0.9, -(0.1 - 0.05)), (0.4, -0.2), (0.1 - 0.4, -(0.3 - 0.2)), (0.5, -0.25))
    v.zip(expected).zipWithIndex.foreach { case (((o, d), (eo, ed)), i) =>
      assert(math.abs(o - eo) < 1e-12 && math.abs(d - ed) < 1e-12, s"action $i: ($o, $d)")
    }
  }
}
