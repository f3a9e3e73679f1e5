package graft.xt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Spadl

/** The Expected Threat (xT) model — a grid Markov model solved by value
  * iteration (reference `socceraction/xthreat.py`).
  *
  * Spark-first design: the reference loops 192× over pandas `value_counts`
  * (`xthreat.py:212-216`); here ALL fit statistics come from ONE hash
  * aggregation keyed by (start cell, end cell), where the end cell is null
  * unless the action is a successful move (the only rows whose end cell the
  * transitions read) — a single shuffle with map-side partial aggregation,
  * collected as ≤ 192 + 192² tiny rows of long counts. The value
  * iteration itself is driver-side Array math (≈37k flops/iter) and the
  * resulting 192-double surface is shipped back as a literal, so `rate` is a
  * map-only codegen'd projection — no shuffle, broadcast, or UDF at all.
  * This shape is exactly what survives 100 TB: the only global exchange is
  * the partial-agg tree reduction.
  */
object XThreat {

  val DefaultL = 16 // cells along x (N in the reference, `xthreat.py:22`)
  val DefaultW = 12 // cells along y (M, `xthreat.py:21`)

  final case class Model(
      l: Int,
      w: Int,
      pScoring: Array[Double],
      pShot: Array[Double],
      pMove: Array[Double],
      transition: Array[Array[Double]], // [start][end]
      xT: Array[Double],
      iterations: Int)

  /** Flat cell index with top-left origin: (w−1−yj)·l + xi, where
    * xi = trunc(x/105·l) clipped to [0, l−1] (reference `xthreat.py:25-38`). */
  def flatCellIndex(x: Column, y: Column, l: Int = DefaultL, w: Int = DefaultW): Column = {
    val xi = least(greatest(floor(x / Spadl.FieldLength * l), lit(0L)), lit(l - 1L))
    val yj = least(greatest(floor(y / Spadl.FieldWidth * w), lit(0L)), lit(w - 1L))
    (lit(w - 1L) - yj) * l + xi
  }

  /** SQL rendering of the same index (for oracle parity). */
  def flatCellIndexSql(x: String, y: String, l: Int = DefaultL, w: Int = DefaultW): String = {
    val xi = s"least(greatest(CAST(floor($x / 105.0 * $l) AS BIGINT), 0), ${l - 1})"
    val yj = s"least(greatest(CAST(floor($y / 68.0 * $w) AS BIGINT), 0), ${w - 1})"
    s"((${w - 1} - $yj) * $l + $xi)"
  }

  /** Ball-progressing actions: pass, cross, dribble (reference
    * `xthreat.py:110-139`; take-ons excluded). */
  def isMoveAction: Column =
    col("type_id").isin(Spadl.TypePass, Spadl.TypeCross, Spadl.TypeDribble)

  /** Per-start-cell statistics: shots, goals, moves — one aggregation pass
    * (reference `scoring_prob` + `action_prob`, `xthreat.py:74-174`). */
  def cellStats(actions: DataFrame, l: Int = DefaultL, w: Int = DefaultW): DataFrame = {
    val isShot = col("type_id") === Spadl.TypeShot
    val isMove = isMoveAction
    actions
      .filter(!isnan(col("start_x")) && !isnan(col("start_y")))
      .withColumn("cell", flatCellIndex(col("start_x"), col("start_y"), l, w))
      .groupBy("cell")
      .agg(
        sum(when(isShot, 1L).otherwise(0L)).as("shots"),
        sum(when(isShot && col("result_id") === Spadl.ResultSuccess, 1L).otherwise(0L)).as("goals"),
        sum(when(isMove, 1L).otherwise(0L)).as("moves"))
  }

  /** Sparse (start, end, p) move transition entries: successful end-cell
    * counts ÷ ALL moves starting in the cell (reference `xthreat.py:177-218`). */
  def transitionEntries(actions: DataFrame, l: Int = DefaultL, w: Int = DefaultW): DataFrame = {
    val moves = actions.filter(isMoveAction)
      .withColumn("start_cell", flatCellIndex(col("start_x"), col("start_y"), l, w))
      .withColumn("end_cell", flatCellIndex(col("end_x"), col("end_y"), l, w))
    val startCounts = moves.groupBy("start_cell").agg(count(lit(1)).as("n_start"))
    moves.filter(col("result_id") === Spadl.ResultSuccess)
      .groupBy("start_cell", "end_cell")
      .agg(count(lit(1)).as("n_succ"))
      .join(startCounts, "start_cell")
      .select(col("start_cell"), col("end_cell"),
        (col("n_succ") / col("n_start")).as("p"))
  }

  /** Fixed-iteration solve — the value-golden variant: exactly `iterations`
    * value-iteration steps from the zero surface, SQL-mirrorable with
    * chained CTEs (the convergence loop's iteration count is data-dependent,
    * so the converged surface stays a rows-only check). */
  def fitIterations(actions: DataFrame, iterations: Int,
                    l: Int = DefaultL, w: Int = DefaultW): Model =
    fit(actions, l, w, eps = Double.NegativeInfinity, maxIterations = iterations)

  /** Fit: aggregate on the cluster, solve on the driver
    * (reference `xthreat.py:322-345` + `__solve` :278-320). */
  def fit(actions: DataFrame, l: Int = DefaultL, w: Int = DefaultW,
          eps: Double = 1e-5, maxIterations: Int = Int.MaxValue): Model = {
    val n = l * w
    // ONE fused aggregation pass instead of the two separate collect jobs
    // ([[cellStats]] + [[transitionEntries]]): each job re-derived the full
    // upstream action lineage (scan + per-game window), so fusing halves
    // the passes for every fit caller. The key is (start_cell, end_cell)
    // with end_cell null unless the action is a successful move, the only
    // rows whose end cell the transitions read: ≤ n + n² result rows, and
    // the partial aggregate ships one row per start cell for everything
    // else. The per-start-cell stats are summed over end cells on the
    // driver. The cellStats sums keep that operator's NaN filter via the
    // `when` guards (F1), while the transition counts stay UNfiltered
    // exactly like transitionEntries — identical counts, hence a
    // bit-identical model (xt_* value-golden oracles unchanged).
    val isShot = col("type_id") === Spadl.TypeShot
    val isMove = isMoveAction
    val isSuccMove = isMove && col("result_id") === Spadl.ResultSuccess
    val f1 = !isnan(col("start_x")) && !isnan(col("start_y"))
    val grouped = actions
      .withColumn("start_cell", flatCellIndex(col("start_x"), col("start_y"), l, w))
      .withColumn("end_cell", when(isSuccMove, flatCellIndex(col("end_x"), col("end_y"), l, w)))
      .groupBy("start_cell", "end_cell")
      .agg(
        sum(when(f1 && isShot, 1L).otherwise(0L)).as("shots"),
        sum(when(f1 && isShot && col("result_id") === Spadl.ResultSuccess, 1L)
          .otherwise(0L)).as("goals"),
        sum(when(f1 && isMove, 1L).otherwise(0L)).as("moves"),
        sum(when(isMove, 1L).otherwise(0L)).as("n_start_moves"),
        sum(when(isSuccMove, 1L).otherwise(0L)).as("n_succ"))
      .collect()
    val shots = new Array[Double](n)
    val goals = new Array[Double](n)
    val moves = new Array[Double](n)
    val nStart = new Array[Double](n)
    val nSucc = Array.fill(n)(new Array[Double](n))
    grouped.foreach { r =>
      if (!r.isNullAt(0)) {
        val s = r.getLong(0).toInt
        shots(s) += r.getLong(2).toDouble
        goals(s) += r.getLong(3).toDouble
        moves(s) += r.getLong(4).toDouble
        nStart(s) += r.getLong(5).toDouble
        if (!r.isNullAt(1))
          nSucc(s)(r.getLong(1).toInt) += r.getLong(6).toDouble
      }
    }
    val trans = Array.fill(n)(new Array[Double](n))
    var ti = 0
    while (ti < n) {
      var tj = 0
      while (tj < n) {
        if (nSucc(ti)(tj) > 0) trans(ti)(tj) = nSucc(ti)(tj) / nStart(ti)
        tj += 1
      }
      ti += 1
    }
    solve(l, w, shots, goals, moves, trans, eps, maxIterations)
  }

  /** The driver half of [[fit]]: per-cell shot/goal/move counts and the
    * move transition matrix ([start][end]) → probabilities and the value
    * surface (reference `__solve`, `xthreat.py:278-320`). */
  def solve(l: Int, w: Int, shots: Array[Double], goals: Array[Double], moves: Array[Double],
            trans: Array[Array[Double]], eps: Double, maxIterations: Int): Model = {
    val n = l * w
    def safeDiv(a: Double, b: Double) = if (b != 0.0) a / b else 0.0
    val pScoring = Array.tabulate(n)(i => safeDiv(goals(i), shots(i)))
    val pShot = Array.tabulate(n)(i => safeDiv(shots(i), shots(i) + moves(i)))
    val pMove = Array.tabulate(n)(i => safeDiv(moves(i), shots(i) + moves(i)))

    // value iteration: xT ← pScoring·pShot + pMove·(T xT), until the signed
    // per-cell improvement is ≤ eps everywhere (the surface is monotone
    // nondecreasing, so signed and absolute convergence coincide).
    val gs = Array.tabulate(n)(i => pScoring(i) * pShot(i))
    var xt = new Array[Double](n)
    var iterations = 0
    var converged = false
    while (!converged && iterations < maxIterations) {
      val next = new Array[Double](n)
      var i = 0
      while (i < n) {
        var payoff = 0.0
        val row = trans(i)
        var j = 0
        while (j < n) { payoff += row(j) * xt(j); j += 1 }
        next(i) = gs(i) + pMove(i) * payoff
        i += 1
      }
      converged = (0 until n).forall(i => next(i) - xt(i) <= eps)
      xt = next
      iterations += 1
    }
    Model(l, w, pScoring, pShot, pMove, trans, xt, iterations)
  }

  /** M7 — rate: successful move actions get xT(end) − xT(start); everything
    * else null (reference `xthreat.py:380-437`, NaN there). The fitted
    * surface rides along as a 192-double literal inside codegen. */
  def rateColumn(model: Model): Column =
    rate(model)((grid, x, y) =>
      element_at(grid, (flatCellIndex(x, y, model.l, model.w) + 1).cast("int")))

  /** The one successful-move rating shell of [[rateColumn]],
    * [[rateInterpColumn]] and [[rateInterpRefCompatColumn]]:
    * `valueAt(end) − valueAt(start)` for successful move actions, null
    * otherwise; `valueAt` reads a point's value off the surface literal. */
  private def rate(model: Model)(valueAt: (Column, Column, Column) => Column): Column = {
    val grid = typedLit(model.xT.toSeq)
    when(isMoveAction && col("result_id") === Spadl.ResultSuccess,
      valueAt(grid, col("end_x"), col("end_y")) - valueAt(grid, col("start_x"), col("start_y")))
      .otherwise(lit(null).cast("double"))
  }

  /** M9 — persist / restore the value surface as a JSON 2-D array in
    * row-major [w][l] layout (reference `xthreat.py:439-501`). */
  def toJson(model: Model): String =
    (0 until model.w).map { r =>
      (0 until model.l).map(c => model.xT(r * model.l + c)).mkString("[", ",", "]")
    }.mkString("[", ",", "]")

  def gridFromJson(json: String): (Int, Int, Array[Double]) = {
    val rows = json.trim.stripPrefix("[").stripSuffix("]")
      .split("\\],\\s*\\[").map(_.stripPrefix("[").stripSuffix("]"))
    val parsed = rows.map(_.split(",").map(_.trim.toDouble))
    val w = parsed.length
    val l = if (w > 0) parsed(0).length else 0
    (l, w, parsed.flatten)
  }

  /** Column form of [[interpolate]] — the same closed-form bilinear math as
    * Column expressions over the surface literal, so `rate` with
    * interpolation is a map-only codegen'd projection exactly like the
    * cell-lookup path (reference `rate(use_interpolation=True)`,
    * `xthreat.py:380-437`). Value-identical to the driver scalar
    * (XThreatSpec asserts bit equality), and carries the same documented
    * orientation deviation. */
  def interpolateColumn(grid: Column, x: Column, y: Column,
                        l: Int = DefaultL, w: Int = DefaultW): Column = {
    val cw = Spadl.FieldLength / l
    val ch = Spadl.FieldWidth / w
    val gx = least(greatest(x / cw - 0.5, lit(0.0)), lit(l - 1.0))
    val gy = least(greatest(y / ch - 0.5, lit(0.0)), lit(w - 1.0))
    val x0 = least(floor(gx).cast("int"), lit(l - 2))
    val y0 = least(floor(gy).cast("int"), lit(w - 2))
    val fx = gx - x0
    val fy = gy - y0
    def v(yj: Column, xi: Column): Column =
      element_at(grid, ((lit(w - 1) - yj) * l + xi + 1).cast("int"))
    v(y0, x0) * (lit(1.0) - fx) * (lit(1.0) - fy) +
      v(y0, x0 + 1) * fx * (lit(1.0) - fy) +
      v(y0 + 1, x0) * (lit(1.0) - fx) * fy +
      v(y0 + 1, x0 + 1) * fx * fy
  }

  /** M7 with interpolation: successful move actions get
    * interp(end) − interp(start); everything else null. */
  def rateInterpColumn(model: Model): Column =
    rate(model)(interpolateColumn(_, _, _, model.l, model.w))

  /** M8 — closed-form bilinear interpolation over cell centers (replaces the
    * reference's scipy `interp2d`, `xthreat.py:347-378`): value at (x, y)
    * interpolates the 4 surrounding cell-center values, clamped at borders.
    *
    * This is the CLEAN path: rows map to physical y directly and the query
    * point is evaluated exactly. The reference's double-flip +
    * fine-lattice composition is available behind the
    * [[interpolateColumnRefCompat]] / [[rateInterpRefCompatColumn]] flag
    * surface — see the reference-compat section below for the proof that
    * upstream's two flips cancel and the residual deviation is lattice
    * quantization of the query point. */
  def interpolate(model: Model, x: Double, y: Double): Double = {
    val cw = Spadl.FieldLength / model.l
    val ch = Spadl.FieldWidth / model.w
    val gx = math.min(math.max(x / cw - 0.5, 0.0), model.l - 1.0)
    val gy = math.min(math.max(y / ch - 0.5, 0.0), model.w - 1.0)
    val x0 = math.min(gx.toInt, model.l - 2)
    val y0 = math.min(gy.toInt, model.w - 2)
    val fx = gx - x0
    val fy = gy - y0
    def v(yj: Int, xi: Int) = model.xT((model.w - 1 - yj) * model.l + xi)
    v(y0, x0) * (1 - fx) * (1 - fy) + v(y0, x0 + 1) * fx * (1 - fy) +
      v(y0 + 1, x0) * (1 - fx) * fy + v(y0 + 1, x0 + 1) * fx * fy
  }

  // ---- reference-compat interpolation (flagged) ------------------------
  // socceraction's `rate(use_interpolation=True)` does NOT evaluate the
  // bilinear at the query point. It (a) builds interp2d over ascending
  // cell centers with z = xT in flat-index row order — row 0 is the
  // HIGH-y band paired with the LOWEST y center, i.e. a vertically
  // MIRRORED surface; (b) samples it on a 1050×680 lattice
  // xs = linspace(0, 105, 1050), ys = linspace(0, 68, 680); (c) indexes
  // the lattice with a SECOND flip, grid[(W−1)−yj, xi] with
  // xi = clip(int(x/105·1050)), yj = clip(int(y/68·680))
  // (`xthreat.py:347-437`). Writing M(yy,xx) for the mirrored bilinear and
  // P for the physical one, M(yy, xx) = P(68 − yy, xx) — at any row r,
  // M's value at center (r+½)ch is xT row r = physical band w−1−r, which
  // sits at center 68 − (r+½)ch; clamped extrapolation is symmetric too.
  // So step (c) returns P(68 − ys[(W−1)−yj], xs[xi]): the two flips CANCEL
  // and the net observable deviation from the clean path is only the
  // LATTICE QUANTIZATION of the query point. The compat path reproduces
  // exactly that composition in closed form. Bit-level parity with
  // scipy's FITPACK degree-1 spline is out of scope — and unverifiable
  // upstream: interp2d was deprecated in scipy 1.10 and REMOVED in 1.14,
  // so the reference's interpolation path no longer runs on current scipy.

  /** The reference's 1050×680 lattice snap with its double flip:
    * (x, y) → (xs[xi], 68 − ys[(W−1)−yj]), float-op order mirrored from
    * numpy (`linspace` value = index · step; `int()` truncation = floor
    * for the non-negative SPADL domain). */
  def snapRefLattice(x: Column, y: Column): (Column, Column) = {
    val fineL = (Spadl.FieldLength * 10).toInt // 1050
    val fineW = (Spadl.FieldWidth * 10).toInt // 680
    val xi = least(greatest(
      floor(x / Spadl.FieldLength * fineL).cast("int"), lit(0)), lit(fineL - 1))
    val yj = least(greatest(
      floor(y / Spadl.FieldWidth * fineW).cast("int"), lit(0)), lit(fineW - 1))
    (xi.cast("double") * (Spadl.FieldLength / (fineL - 1)),
      lit(Spadl.FieldWidth) -
        (lit(fineW - 1) - yj).cast("double") * (Spadl.FieldWidth / (fineW - 1)))
  }

  /** Column form of the reference-compat interpolation: lattice-snap, then
    * the same closed-form physical bilinear. Oracle-checked end to end by
    * `xt_rate_interp_ref`; scalar twin [[interpolateRefCompat]] is
    * bit-asserted in XThreatSpec. */
  def interpolateColumnRefCompat(grid: Column, x: Column, y: Column,
                                 l: Int = DefaultL, w: Int = DefaultW): Column = {
    val (xs, ys) = snapRefLattice(x, y)
    interpolateColumn(grid, xs, ys, l, w)
  }

  /** M7 with the reference-compat interpolation path (the flag surface:
    * `refCompat = true` selects upstream's quantized-lattice semantics,
    * default stays the clean bilinear of [[rateInterpColumn]]). */
  def rateInterpRefCompatColumn(model: Model): Column =
    rate(model)(interpolateColumnRefCompat(_, _, _, model.l, model.w))

  /** Scalar twin of [[interpolateColumnRefCompat]]. */
  def interpolateRefCompat(model: Model, x: Double, y: Double): Double = {
    val fineL = (Spadl.FieldLength * 10).toInt
    val fineW = (Spadl.FieldWidth * 10).toInt
    val xi = math.min(math.max(math.floor(x / Spadl.FieldLength * fineL), 0.0),
      fineL - 1.0).toInt
    val yj = math.min(math.max(math.floor(y / Spadl.FieldWidth * fineW), 0.0),
      fineW - 1.0).toInt
    val xs = xi * (Spadl.FieldLength / (fineL - 1))
    val ys = Spadl.FieldWidth - (fineW - 1 - yj) * (Spadl.FieldWidth / (fineW - 1))
    interpolate(model, xs, ys)
  }
}
