package graft

import org.apache.spark.sql.functions._

import graft.vaep.{ActionKind, AtomicVaep, Features, GameStates}

/** Exact-value golden-fixture assertions mirroring the reference's
  * `tests/vaep/test_features.py` on the vendored 400-action game. */
class FeaturesSpec extends SparkSpec {

  // the reference tests index by positional row (pandas RangeIndex); the
  // fixture's action_ids are sparse, so attach an explicit position
  private lazy val states = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("game_id").orderBy("period_id", "time_seconds", "seq")
    GameStates.withStates(goldenSpadl, 3)
      .withColumn("pos", row_number().over(w) - 1).cache()
  }

  private def featRow(pos: Long, cols: org.apache.spark.sql.Column*) =
    states.filter(col("pos") === pos).select(cols: _*).head

  test("time features (test_features.py:94-103)") {
    val r0 = featRow(0, Features.time(0): _*)
    assert(r0.getLong(0) == 1L)
    assert(r0.getDouble(1) == 0.533)
    assert(r0.getDouble(2) == 0.533)
    val r200 = featRow(200, Features.time(0): _*)
    assert(r200.getLong(0) == 2L)
    assert(r200.getDouble(1) == 0.671)
    assert(r200.getDouble(2) == 0.671 + 45 * 60)
  }

  test("time_delta state features (test_features.py:116-132)") {
    val r1 = featRow(1, Features.timeDelta(1) ++ Features.timeDelta(2): _*)
    assert(math.abs(r1.getDouble(0) - 0.719) < 1e-9)
    assert(math.abs(r1.getDouble(1) - 0.719) < 1e-9) // clamped to first row
    val r2 = featRow(2, Features.timeDelta(1) ++ Features.timeDelta(2): _*)
    assert(math.abs(r2.getDouble(0) - 0.881) < 1e-9)
    assert(math.abs(r2.getDouble(1) - 1.6) < 1e-9)
    // first action of period 2: deltas reset to 0 by period clamping
    val r200 = featRow(200, Features.timeDelta(1) ++ Features.timeDelta(2): _*)
    assert(r200.getDouble(0) == 0.0)
    assert(r200.getDouble(1) == 0.0)
  }

  test("player_possession_time (test_features.py:106-113)") {
    val rows = goldenSpadl
      .select(Seq(col("action_id")) ++ Features.playerPossessionTime: _*)
      .orderBy("action_id").limit(3).collect()
    assert(rows(0).getDouble(1) == 0.0)
    assert(rows(1).getDouble(1) == 0.0)
    assert(math.abs(rows(2).getDouble(1) - 0.881) < 1e-9)
  }

  test("one-hot widths for k=3 (test_features.py:49-91)") {
    assert((0 until 3).flatMap(Features.actiontypeOnehot).size == 23 * 3)
    assert((0 until 3).flatMap(Features.resultOnehot).size == 6 * 3)
    assert((0 until 3).flatMap(Features.actiontypeResultOnehot).size == 138 * 3)
    assert((0 until 3).flatMap(Features.bodypartOnehot).size == 4 * 3)
    assert((0 until 3).flatMap(Features.bodypartDetailedOnehot).size == 6 * 3)
    assert(Features.defaultFeatures(3).size ==
      3 * (23 + 6 + 138 + 4 + 3 + 2 + 2 + 2 + 2 + 3) + 2 * (1 + 1 + 3) + 3)
  }

  test("feature names follow the reference convention") {
    val names = Features.defaultFeatures(3).map(_.toString)
    val flat = states.select(Features.defaultFeatures(3): _*).columns
    assert(flat.contains("actiontype_pass_a0"))
    assert(flat.contains("actiontype_corner_short_result_offside_a2"))
    assert(flat.contains("bodypart_head/other_a1"))
    assert(flat.contains("time_seconds_overall_a0"))
    assert(flat.contains("start_dist_to_goal_a0"))
    assert(flat.contains("time_delta_2"))
    assert(flat.contains("mov_a01"))
    assert(flat.contains("goalscore_diff"))
    assert(names.nonEmpty)
  }

  test("polar features: distance and angle math") {
    val r = goldenSpadl.filter(col("action_id") === 0)
      .select(Features.startpolar(0): _*).head
    // row 0 starts at (52.0625, 34.425): dx=52.9375, dy=0.425
    val dx = 105.0 - 52.0625
    val dy = math.abs(34.0 - 34.425)
    assert(r.getDouble(0) == math.sqrt(dx * dx + dy * dy))
    assert(r.getDouble(1) == math.atan(dy / dx))
  }

  test("goalscore starts 0-0 and counts strictly-before goals") {
    val rows = goldenSpadl
      .select(Seq(col("action_id")) ++ Features.goalscore: _*)
      .orderBy("action_id").collect()
    assert(rows(0).getLong(1) == 0L && rows(0).getLong(2) == 0L)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(2) >= 0L)
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
  }

  test("packed one-hots unpack to the exact boolean columns") {
    import graft.core.{SynActions, Tables}
    val st = graft.vaep.GameStates.withStates(
      SynActions.fromEvents(Tables.events(spark, "/root/testdata/sf0.001")), 3)
    for (i <- 0 until 3) {
      val viaPacked = st
        .select(Seq(col("game_id"), col("seq")) ++ Features.actiontypeResultPacked(i): _*)
        .select(Seq(col("game_id"), col("seq")) ++ Features.unpackActiontypeResult(i): _*)
      val direct = st
        .select(Seq(col("game_id"), col("seq")) ++ Features.actiontypeResultOnehot(i): _*)
      assert(viaPacked.exceptAll(direct).count() == 0, s"state $i")
      assert(direct.exceptAll(viaPacked).count() == 0, s"state $i")
    }
    // exactly one atr bit set per row, and the categorical word carries
    // type/result/bodypart in its three lanes
    val packed = st.select(
      (Features.actiontypeResultPacked(0) ++ Features.categoricalPacked(0)) :+
        col(graft.vaep.GameStates.st("type_id", 0)).as("t"): _*)
    packed.collect().foreach { r =>
      val bits = (0 until 3).map(w => java.lang.Long.bitCount(r.getLong(w))).sum
      assert(bits == 1)
      val cat = r.getLong(3)
      assert(java.lang.Long.numberOfTrailingZeros(cat) == r.getInt(4)) // type lane
    }
  }

  // Atomic-SPADL input: one game, two periods, rows given out of order and
  // time_seconds running against action_id, so only action_id order is right
  private lazy val atomicActions = {
    import spark.implicits._
    Seq( // (action_id, period, team, x, y, dx, dy, time_seconds)
      (2L, 1, 2L, 21.0, 22.0, 2.5, -1.5, 97.0),
      (0L, 1, 1L, 1.0, 2.0, 0.5, 0.25, 99.0),
      (4L, 2, 1L, 41.0, 42.0, 4.5, 3.0, 10.0),
      (1L, 1, 1L, 11.0, 12.0, 1.5, 0.0, 98.0),
      (3L, 2, 2L, 31.0, 32.0, 3.5, 2.0, 11.0))
      .toDF("action_id", "period_id", "team_id", "x", "y", "dx", "dy", "time_seconds")
      .withColumn("game_id", lit(1L))
      .withColumn("player_id", col("team_id") * 10)
      .withColumn("type_id", lit(0))
      .withColumn("bodypart_id", lit(0))
  }

  test("atomic states lag within (game, period) in action_id order, clamped to the period's first row") {
    val st = GameStates.withStates(atomicActions, 3, ActionKind.Atomic)
    assert(ActionKind.Atomic.stateFields.forall(f => st.columns.contains(s"${f}__a2")))
    val got = st.select("action_id", "x", "x__a1", "x__a2", "dy__a1", "time_seconds__a2")
      .collect().map(r => r.getLong(0) -> r).toMap
    def xs(id: Long) = (got(id).getDouble(2), got(id).getDouble(3))
    assert(xs(0) == (1.0, 1.0))
    assert(xs(1) == (1.0, 1.0))
    assert(xs(2) == (11.0, 1.0))
    assert(xs(3) == (31.0, 31.0)) // period 2 restarts at its own first row
    assert(xs(4) == (31.0, 31.0))
    assert(got(2L).getDouble(4) == 0.0 && got(2L).getDouble(5) == 99.0)
  }

  test("atomic playLeftToRight mirrors x/y and negates dx/dy of every state for the away team") {
    val st = GameStates.withStates(atomicActions, 2, ActionKind.Atomic)
    val ltr = GameStates.playLeftToRight(st, 2, lit(1L), ActionKind.Atomic)
    val cols = Seq("x", "y", "dx", "dy", "x__a1", "y__a1", "dx__a1", "dy__a1", "time_seconds")
    def row(df: org.apache.spark.sql.DataFrame, id: Long) =
      df.filter(col("action_id") === id).select(cols.map(col): _*).head.toSeq.map(_.asInstanceOf[Double])
    assert(row(ltr, 1L) == row(st, 1L)) // home team: unchanged
    val (before, after) = (row(st, 2L), row(ltr, 2L)) // away team, predecessor is home
    assert(after == Seq(105.0 - before(0), 68.0 - before(1), -before(2), -before(3),
      105.0 - before(4), 68.0 - before(5), -before(6), -before(7), before(8)))
    assert(ltr.columns.toSeq == st.columns.toSeq)
  }

  test("atomic interception one-hot fires on type_id 10 and drops the duplicate id") {
    import spark.implicits._
    val out = Seq(10, 24, 0).toDF("type_id").select(AtomicVaep.actiontypeOnehot(0): _*)
    assert(!out.columns.exists(_.contains("interception_atomic_dup")))
    assert(out.select("actiontype_interception_a0").collect().map(_.getBoolean(0)).toSeq ==
      Seq(true, false, false))
  }
}
