package graft

import scala.util.Random

import graft.streaming.SessionEngine.ActionRow
import graft.vaep.{ActionKind, Labels}

/** A2 — proves the truncated-window formulation equals the reference's
  * replicate-last-row clamping (`socceraction/vaep/labels.py:38-50`) on
  * seeded random games, and checks fixture-level behavior. */
class LabelsSpec extends SparkSpec {
  import spark.implicits._

  /** Direct port of the reference's label algorithm (replicate last row for
    * overflowed shifts) as the executable spec. */
  private def referenceScores(goal: Array[Boolean], owngoal: Array[Boolean],
                              team: Array[Long], nr: Int): Array[Boolean] = {
    val n = goal.length
    Array.tabulate(n) { i =>
      var res = goal(i)
      for (j <- 1 until nr) {
        val k = math.min(i + j, n - 1) // shifted[-i:] = last row
        res = res || (goal(k) && team(k) == team(i)) ||
          (owngoal(k) && team(k) != team(i))
      }
      res
    }
  }

  private def referenceConcedes(goal: Array[Boolean], owngoal: Array[Boolean],
                                team: Array[Long], nr: Int): Array[Boolean] = {
    val n = goal.length
    Array.tabulate(n) { i =>
      var res = owngoal(i)
      for (j <- 1 until nr) {
        val k = math.min(i + j, n - 1)
        res = res || (goal(k) && team(k) != team(i)) ||
          (owngoal(k) && team(k) == team(i))
      }
      res
    }
  }

  test("window labels == reference replicate-last-row semantics (100 random games)") {
    val rnd = new Random(42)
    val allRows = (0 until 100).flatMap { g =>
      val n = 1 + rnd.nextInt(40)
      (0 until n).map { i =>
        val ty = Seq(0, 11, 12, 13, 21)(rnd.nextInt(5))
        ActionRow(g.toLong, i.toLong, 1, i.toDouble, rnd.nextInt(3).toLong, 0L,
          0, 0, 0, 0, ty, rnd.nextInt(6), 0, i.toLong)
      }
    }
    val out = Labels.concedes(Labels.scores(allRows.toDF()))
      .select("game_id", "action_id", "scores", "concedes")
      .collect().groupBy(_.getLong(0))
    allRows.groupBy(_.game_id).foreach { case (g, rows) =>
      val sorted = rows.sortBy(_.action_id)
      val goal = sorted.map(r => Seq(11, 12, 13).contains(r.type_id) && r.result_id == 1).toArray
      val owng = sorted.map(r => Seq(11, 12, 13).contains(r.type_id) && r.result_id == 3).toArray
      val team = sorted.map(_.team_id).toArray
      val expS = referenceScores(goal, owng, team, 10)
      val expC = referenceConcedes(goal, owng, team, 10)
      val got = out(g).sortBy(_.getLong(1))
      got.indices.foreach { i =>
        assert(got(i).getBoolean(2) == expS(i), s"scores game $g action $i")
        assert(got(i).getBoolean(3) == expC(i), s"concedes game $g action $i")
      }
    }
  }

  test("golden fixture: labels computed for all 400 actions") {
    val out = Labels.concedes(Labels.scores(goldenSpadl))
    assert(out.count() == 400)
    val n = out.filter(org.apache.spark.sql.functions.col("scores")).count()
    assert(n >= 0 && n < 400)
  }

  test("atomic labels fire on goal/owngoal TYPE rows, not on shots") {
    val rows = Seq( // (action_id, team, type_id) → (scores, concedes) at nrActions = 2
      (0L, 1L, 11), // a shot: no goal in the atomic kind
      (1L, 2L, 0), // next row is the opponent's goal
      (2L, 1L, 27), // goal by the acting team
      (3L, 1L, 0), // next row is the opponent's own goal
      (4L, 2L, 28), // own goal by the acting team
      (5L, 2L, 0))
      .toDF("action_id", "team_id", "type_id")
      .withColumn("game_id", org.apache.spark.sql.functions.lit(1L))
    val k = ActionKind.Atomic
    val got = Labels.concedes(Labels.scores(rows, 2, k), 2, k)
      .orderBy("action_id").select("scores", "concedes").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq
    assert(got == Seq((false, false), (false, true), (true, false), (true, false),
      (false, true), (false, false)))
  }
}
