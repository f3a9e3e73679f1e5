package graft

import org.apache.spark.sql.DataFrame

import graft.streaming.SessionEngine.ActionRow
import graft.xt.XThreat

/** xT math identities mirroring the reference's unit tests
  * (`/root/reference/tests/test_xthreat.py:16-207`). */
class XThreatSpec extends SparkSpec {
  import spark.implicits._

  private def row(sx: Double, sy: Double, ex: Double, ey: Double,
                  typeId: Int, resultId: Int, seq: Long): ActionRow =
    ActionRow(1L, seq, 1, seq.toDouble, 1L, 1L, sx, sy, ex, ey, typeId, resultId, 0, seq)

  private def df(rows: ActionRow*): DataFrame = rows.toSeq.toDF()

  private def cellOf(x: Double, y: Double): Long = {
    import org.apache.spark.sql.functions._
    Seq((x, y)).toDF("start_x", "start_y")
      .select(XThreat.flatCellIndex(col("start_x"), col("start_y")))
      .head.getLong(0)
  }

  test("cell indexing clips out-of-bounds and uses top-left origin") {
    // top-left = (x=0, y=field_width): yj=11 ⇒ flat 0
    assert(cellOf(0.0, 68.0) == 0L)
    // bottom-right = (x=105, y=0): xi clipped to 15, yj=0 ⇒ (11-0)*16+15
    assert(cellOf(105.0, 0.0) == 11 * 16 + 15)
    assert(cellOf(-5.0, -3.0) == 11 * 16 + 0)
    assert(cellOf(1000.0, 1000.0) == 15L)
    // interior: x=52.5 ⇒ xi=8; y=34 ⇒ yj=6 ⇒ (11-6)*16+8
    assert(cellOf(52.5, 34.0) == 5 * 16 + 8)
  }

  test("scoring prob = goals/shots on a 1x1 grid") {
    val actions = df(
      row(10, 10, 90, 34, 11, 1, 0), // shot, goal
      row(20, 20, 90, 34, 11, 0, 1), // shot, miss
      row(30, 30, 90, 34, 11, 0, 2), // shot, miss
      row(40, 40, 50, 50, 0, 1, 3)) // pass
    val m = XThreat.fit(actions, l = 1, w = 1)
    assert(m.pScoring(0) == 1.0 / 3.0)
    assert(m.pShot(0) == 3.0 / 4.0)
    assert(m.pMove(0) == 1.0 / 4.0)
  }

  test("shot_prob + move_prob is 0 or 1 per cell") {
    val actions = df((0 until 40).map(i =>
      row(i % 7 * 15.0, i % 5 * 13.0, 50, 30, if (i % 3 == 0) 11 else 0, i % 2, i.toLong)): _*)
    val m = XThreat.fit(actions)
    (0 until m.l * m.w).foreach { c =>
      val s = m.pShot(c) + m.pMove(c)
      assert(s == 0.0 || math.abs(s - 1.0) < 1e-12, s"cell $c sum $s")
    }
  }

  test("hand-built two-action transition matrix") {
    // two successful moves from cell A: one to B, one to C; one failed from A
    val a = (2.0, 65.0) // cell 0 (top-left)
    val actions = df(
      row(a._1, a._2, 104.0, 1.0, 0, 1, 0), // A → bottom-right, success
      row(a._1, a._2, 104.0, 1.0, 0, 1, 1), // A → bottom-right, success
      row(a._1, a._2, 50.0, 34.0, 0, 0, 2)) // A → mid, fail
    val m = XThreat.fit(actions, eps = 1e-5)
    val cellA = cellOf(a._1, a._2)
    val cellBR = cellOf(104.0, 1.0)
    assert(m.transition(cellA.toInt)(cellBR.toInt) == 2.0 / 3.0)
    assert(m.transition(cellA.toInt).sum == 2.0 / 3.0)
  }

  test("value iteration converges and rate values successful moves only") {
    val actions = df((0 until 200).map { i =>
      row((i * 13 % 105).toDouble, (i * 7 % 68).toDouble,
        (i * 29 % 105).toDouble, (i * 11 % 68).toDouble,
        i % 23, i % 6, i.toLong)
    }: _*)
    val m = XThreat.fit(actions)
    assert(m.iterations > 0 && m.iterations < 100)
    assert(m.xT.forall(v => v >= 0.0 && v <= 1.0))
    val rated = actions.withColumn("xt", XThreat.rateColumn(m))
    val rows = rated.select("type_id", "result_id", "xt").collect()
    rows.foreach { r =>
      val isMove = Seq(0, 1, 21).contains(r.getInt(0)) && r.getInt(1) == 1
      assert(r.isNullAt(2) != isMove)
    }
  }

  test("fixed-iteration solve: one step equals the immediate-payoff surface") {
    val actions = df((0 until 200).map { i =>
      row((i * 13 % 105).toDouble, (i * 7 % 68).toDouble,
        (i * 29 % 105).toDouble, (i * 11 % 68).toDouble,
        i % 23, i % 6, i.toLong)
    }: _*)
    val m1 = XThreat.fitIterations(actions, 1)
    assert(m1.iterations == 1)
    // x₁ = gs + pMove·(T·0) = pScoring·pShot exactly
    (0 until m1.xT.length).foreach { i =>
      assert(m1.xT(i) == m1.pScoring(i) * m1.pShot(i), s"cell $i")
    }
    // more steps never decrease the surface (monotone value iteration)
    val m5 = XThreat.fitIterations(actions, 5)
    (0 until m5.xT.length).foreach(i => assert(m5.xT(i) >= m1.xT(i)))
    // and the converged surface dominates the 5-step one
    val mc = XThreat.fit(actions)
    (0 until mc.xT.length).foreach(i => assert(mc.xT(i) >= m5.xT(i) - 1e-12))
  }

  test("fit is bit-identical to the model assembled from cellStats and transitionEntries") {
    import org.apache.spark.sql.functions._
    // NaN starts, null ends, failed and successful moves, shots and goals
    val moveOrShot = Seq(0, 1, 21, 11, 7) // pass, cross, dribble, shot, take-on
    val actions = df((0 until 300).map { i =>
      row(if (i % 17 == 0) Double.NaN else (i * 13 % 105).toDouble,
        if (i % 19 == 0) Double.NaN else (i * 7 % 68).toDouble,
        (i * 29 % 105).toDouble, (i * 11 % 68).toDouble,
        moveOrShot(i % 5), i % 2, i.toLong)
    }: _*).withColumn("end_x", when(col("seq") % 11 === 0, lit(null)).otherwise(col("end_x")))
    val (l, w) = (XThreat.DefaultL, XThreat.DefaultW)
    val n = l * w
    val Seq(shots, goals, moves) = Seq.fill(3)(new Array[Double](n))
    XThreat.cellStats(actions).collect().foreach { r =>
      val c = r.getLong(0).toInt
      shots(c) = r.getLong(1).toDouble
      goals(c) = r.getLong(2).toDouble
      moves(c) = r.getLong(3).toDouble
    }
    val trans = Array.fill(n)(new Array[Double](n))
    XThreat.transitionEntries(actions).collect().filterNot(_.isNullAt(1))
      .foreach(r => trans(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2))
    assert(trans.exists(_.exists(_ > 0)) && goals.sum > 0)
    for ((eps, iterations) <- Seq((1e-5, Int.MaxValue), (Double.NegativeInfinity, 7))) {
      val fitted = XThreat.fit(actions, l, w, eps, iterations)
      val built = XThreat.solve(l, w, shots, goals, moves, trans, eps, iterations)
      def same(a: Array[Double], b: Array[Double]) = java.util.Arrays.equals(a, b)
      assert(same(fitted.pScoring, built.pScoring))
      assert(same(fitted.pShot, built.pShot))
      assert(same(fitted.pMove, built.pMove))
      assert(fitted.transition.indices.forall(i => same(fitted.transition(i), built.transition(i))))
      assert(same(fitted.xT, built.xT) && fitted.iterations == built.iterations)
    }
  }

  test("JSON save/load roundtrip") {
    val actions = df(
      row(10, 10, 90, 34, 11, 1, 0),
      row(20, 20, 80, 30, 0, 1, 1),
      row(80, 30, 95, 34, 11, 1, 2))
    val m = XThreat.fit(actions)
    val (l, w, grid) = XThreat.gridFromJson(XThreat.toJson(m))
    assert(l == m.l && w == m.w)
    assert(grid.sameElements(m.xT))
  }

  test("bilinear interpolation matches grid at cell centers") {
    val actions = df(
      row(10, 10, 90, 34, 11, 1, 0),
      row(20, 20, 80, 30, 0, 1, 1),
      row(80, 30, 95, 34, 11, 1, 2))
    val m = XThreat.fit(actions)
    val cw = 105.0 / m.l
    val ch = 68.0 / m.w
    for (xi <- 1 until m.l - 1; yj <- 1 until m.w - 1) {
      val cx = (xi + 0.5) * cw
      val cy = (yj + 0.5) * ch
      val expected = m.xT((m.w - 1 - yj) * m.l + xi)
      assert(math.abs(XThreat.interpolate(m, cx, cy) - expected) < 1e-12)
    }
  }

  test("interpolateColumn is bit-identical to the driver scalar") {
    import org.apache.spark.sql.functions._
    val actions = df(
      row(10, 10, 90, 34, 11, 1, 0),
      row(20, 20, 80, 30, 0, 1, 1),
      row(30, 40, 70, 20, 21, 1, 2),
      row(80, 30, 95, 34, 11, 1, 3))
    val m = XThreat.fit(actions)
    // a grid of probe points including borders, corners, cell centers
    val pts = for (x <- Seq(0.0, 0.1, 3.28125, 10.0, 52.5, 101.7, 105.0);
                   y <- Seq(0.0, 2.833, 5.0, 34.0, 60.0, 68.0)) yield (x, y)
    val grid = typedLit(m.xT.toSeq)
    val got = pts.toDF("x", "y")
      .select(XThreat.interpolateColumn(grid, col("x"), col("y"), m.l, m.w))
      .collect().map(_.getDouble(0))
    pts.zip(got).foreach { case ((x, y), g) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(XThreat.interpolate(m, x, y)), s"($x,$y)")
    }
  }

  test("reference-compat interpolation: column == scalar, quantization semantics") {
    import org.apache.spark.sql.functions._
    val actions = df(
      row(10, 10, 90, 34, 11, 1, 0),
      row(20, 20, 80, 30, 0, 1, 1),
      row(30, 40, 70, 20, 21, 1, 2),
      row(80, 30, 95, 34, 11, 1, 3))
    val fitted = XThreat.fit(actions)
    // an everywhere-varying synthetic surface so quantization is visible
    // at ANY probe point (a sparse fitted surface is 0 in most cells)
    val vals = Array.tabulate(fitted.l * fitted.w)(c => (c * 37 % 100) / 1000.0)
    val m = fitted.copy(xT = vals)
    val pts = for (x <- Seq(0.0, 0.1, 3.28125, 10.0, 52.5, 101.7, 105.0);
                   y <- Seq(0.0, 2.833, 5.0, 34.0, 60.0, 68.0)) yield (x, y)
    val grid = typedLit(m.xT.toSeq)
    val got = pts.toDF("x", "y")
      .select(XThreat.interpolateColumnRefCompat(grid, col("x"), col("y"), m.l, m.w))
      .collect().map(_.getDouble(0))
    pts.zip(got).foreach { case ((x, y), g) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(XThreat.interpolateRefCompat(m, x, y)), s"($x,$y)")
    }
    // the double flip cancels: compat == clean at lattice-snapped coords,
    // and the residual deviation is ONLY quantization — points inside the
    // same 0.1×0.1 lattice cell collapse to one value
    assert(XThreat.interpolateRefCompat(m, 10.03, 20.07) ==
      XThreat.interpolateRefCompat(m, 10.09, 20.01))
    // clean path distinguishes them (y-varying surface)
    assert(XThreat.interpolate(m, 10.03, 20.07) != XThreat.interpolate(m, 10.09, 20.01))
    // compat deviates from clean by at most one lattice step of surface
    // variation — sanity-bound the gap at a y-asymmetric point
    val cleanV = XThreat.interpolate(m, 10.03, 20.07)
    val compatV = XThreat.interpolateRefCompat(m, 10.03, 20.07)
    assert(math.abs(cleanV - compatV) < 0.01, s"clean $cleanV vs compat $compatV")
  }

  test("convergence margin: synthetic fixtures converge far below the oracle chain") {
    val actions = df(
      row(10, 10, 90, 34, 11, 1, 0),
      row(20, 20, 80, 30, 0, 1, 1),
      row(30, 40, 70, 20, 21, 1, 2),
      row(80, 30, 95, 34, 11, 1, 3))
    val m = XThreat.fit(actions)
    assert(m.iterations <= graft.queries.XtQueries.MaxSolveSteps / 2,
      s"iterations ${m.iterations} eats the freeze-chain margin")
  }
}
