package graft

import graft.core.Spadl
import graft.streaming.SessionEngine
import graft.streaming.SessionEngine.ActionRow

/** Unit semantics of the per-game CEP scan (dribble synthesis, clearance
  * repair, resequencing, label clamping at game end). */
class SessionEngineSpec extends SparkSpec {

  private def a(seq: Long, t: Double, team: Long, ty: Int, res: Int,
                sx: Double, sy: Double, ex: Double, ey: Double,
                period: Int = 1, bp: Int = 0): ActionRow =
    ActionRow(1L, seq, period, t, team, team * 10, sx, sy, ex, ey, ty, res, bp, seq)

  test("clearance end-coords snap to next action's start; last row keeps own") {
    val out = SessionEngine.processGame(Seq(
      a(0, 0.0, 1, Spadl.TypeClearance, 1, 10, 10, 20, 20),
      a(1, 2.0, 2, Spadl.TypePass, 1, 50, 40, 60, 40),
      a(2, 4.0, 2, Spadl.TypeClearance, 1, 60, 40, 70, 40)))
    val clearance0 = out.find(_.seq == 0).get
    assert(clearance0.end_x == 50.0 && clearance0.end_y == 40.0)
    val clearance2 = out.find(v => v.seq == 2 && v.type_id == Spadl.TypeClearance).get
    assert(clearance2.end_x == 70.0 && clearance2.end_y == 40.0) // last row: itself
  }

  test("dribble synthesized between same-team actions 3-60m apart, <10s, same period") {
    val out = SessionEngine.processGame(Seq(
      a(0, 0.0, 1, Spadl.TypePass, 1, 10, 10, 20, 20),
      a(1, 5.0, 1, Spadl.TypePass, 1, 30, 20, 40, 20))) // gap (20,20)→(30,20) = 10m
    assert(out.length == 3)
    val d = out(1)
    assert(d.type_id == Spadl.TypeDribble)
    assert(d.time_seconds == 2.5)
    assert(d.start_x == 20.0 && d.start_y == 20.0 && d.end_x == 30.0 && d.end_y == 20.0)
    assert(d.result_id == Spadl.ResultSuccess && d.bodypart_id == Spadl.BodypartFoot)
    assert(out.map(_.action_id) == IndexedSeq(0L, 1L, 2L))
  }

  test("no dribble when: diff team / too far / too slow / cross-period / foul, shot, or headed next") {
    def n(rows: Seq[ActionRow]) = SessionEngine.processGame(rows).length
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20), a(1, 5, 2, 0, 1, 30, 20, 40, 20))) == 2)
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20), a(1, 5, 1, 0, 1, 90, 20, 95, 20))) == 2)
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20), a(1, 15, 1, 0, 1, 30, 20, 40, 20))) == 2)
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20),
      a(1, 5, 1, 0, 1, 30, 20, 40, 20, period = 2))) == 2)
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20),
      a(1, 5, 1, Spadl.TypeFoul, 1, 30, 20, 40, 20))) == 2)
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20),
      a(1, 5, 1, Spadl.TypeShot, 1, 30, 20, 40, 20, bp = Spadl.BodypartHead))) == 2)
    // headed NON-shot is ALSO suppressed: the reference's not_headed_shot is
    // (next.type != shot) AND (next.bodypart != head) — two independent
    // conditions (base.py:46-48), not just "headed shot".
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20),
      a(1, 5, 1, 0, 1, 30, 20, 40, 20, bp = Spadl.BodypartHead))) == 2)
    // footed NON-shot shot-type is also suppressed (any shot next)
    assert(n(Seq(a(0, 0, 1, 0, 1, 10, 10, 20, 20),
      a(1, 5, 1, Spadl.TypeShot, 1, 30, 20, 40, 20))) == 2)
  }

  test("labels: scoring shot marks the 10-action lookback window") {
    val rows = (0 until 15).map(i =>
      a(i, i.toDouble, if (i % 2 == 0) 1 else 2, Spadl.TypeTackle, 0, 10, 10, 10, 10)) :+
      a(15, 15.0, 1, Spadl.TypeShot, Spadl.ResultSuccess, 90, 34, 105, 34)
    // tackle type prevents dribble insertion? tackle id=9 is fine for dribbles;
    // use zero-distance moves so no dribbles are inserted.
    val out = SessionEngine.processGame(rows)
    assert(out.length == 16)
    out.foreach { v =>
      val i = v.action_id.toInt
      if (i >= 6) { // within 10 of the goal at index 15
        if (v.team_id == 1) assert(v.scores, s"row $i") else assert(v.concedes, s"row $i")
      } else {
        assert(!v.scores && !v.concedes, s"row $i")
      }
    }
  }

  /** Period 1 ends with a clearance whose end snaps to period 2's first
    * start, and period 2 opens with a goal inside period 1's label windows. */
  private val boundaryGame = Seq(
    a(0, 0.0, 0, Spadl.TypePass, 1, 10, 10, 20, 20),
    a(1, 5.0, 0, Spadl.TypePass, 1, 30, 20, 40, 20),
    a(2, 9.0, 1, Spadl.TypeClearance, 1, 60, 40, 70, 40),
    a(3, 0.0, 0, Spadl.TypePass, 1, 80, 30, 85, 30, period = 2),
    a(4, 3.0, 0, Spadl.TypeShot, Spadl.ResultSuccess, 90, 34, 105, 34, period = 2),
    a(5, 8.0, 1, Spadl.TypePass, 1, 50, 30, 55, 30, period = 2))

  private def assertBatchEqualsDirect(rows: Seq[ActionRow]): Unit = {
    import spark.implicits._
    val viaSpark = SessionEngine.runBatch(rows.toDF()).orderBy("action_id").collect().toSeq
    val direct = SessionEngine.processGame(rows).sortBy(_.action_id).toDF().collect().toSeq
    assert(viaSpark.size == direct.size)
    assert(viaSpark == direct)
  }

  test("batch mode equals direct scan") {
    val mixed = (0 until 50).map(i => a(i, i * 3.0, (i % 3).toLong, i % 23, i % 6,
      i % 7 * 15.0, i % 5 * 13.0, i % 11 * 9.0, i % 6 * 11.0))
    for (rows <- Seq(mixed, boundaryGame)) assertBatchEqualsDirect(rows)
  }

  test("skewed game: one long game of four periods equals direct scan") {
    // 4 periods × 100 actions in a single game
    val fourPeriods = (0 until 400).map(i => a(i, (i % 100) * 3.0, (i % 3).toLong, i % 23,
      i % 6, i % 7 * 15.0, i % 5 * 13.0, i % 11 * 9.0, i % 6 * 11.0, period = 1 + i / 100,
      bp = i % 3).copy(game_id = 7L, player_id = i % 11L))
    assertBatchEqualsDirect(fourPeriods)
  }

  test("batch mode across a period boundary: clearance end and labels") {
    import spark.implicits._
    val out = SessionEngine.runBatch(boundaryGame.toDF()).collect()
    val clearance = out.find(_.getAs[Int]("type_id") == Spadl.TypeClearance).get
    assert(clearance.getAs[Double]("end_x") == 80.0) // period 2's first start
    def period1(team: Long) = out.filter(r =>
      r.getAs[Int]("period_id") == 1 && r.getAs[Long]("team_id") == team)
    assert(period1(0L).nonEmpty && period1(0L).forall(_.getAs[Boolean]("scores")))
    assert(period1(1L).nonEmpty && period1(1L).forall(_.getAs[Boolean]("concedes")))
  }
}
