package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Spadl, SynKloppy, SynOpta, SynStatsBomb, SynWyscout, Tables}
import graft.sources.{Kloppy, Opta, StatsBomb, Wyscout}

/** Hand-built-row semantics of the Opta and Wyscout full converters —
  * each case transcribed from the reference repair functions — and what
  * each converter's one exchange carries. */
class ProviderConverterSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // ---- Opta -----------------------------------------------------------

  private def optaEv(seq: Long, typeName: String, outcome: Boolean,
                     quals: Seq[Int], sx: Double = 50, sy: Double = 50,
                     ex: Double = 60, ey: Double = 50, minute: Long = 10) =
    (1L, seq, 1, minute, 0L, 0L, 0L, sx, sy, ex, ey, typeName, outcome, quals, seq)

  private def optaDf(rows: Seq[(Long, Long, Int, Long, Long, Long, Long, Double,
      Double, Double, Double, String, Boolean, Seq[Int], Long)]) =
    rows.toDF("game_id", "event_id", "period_id", "minute", "second", "team_id",
      "player_id", "start_x", "start_y", "end_x", "end_y", "type_name",
      "outcome", "qualifiers", "seq")

  test("opta: ball recovery becomes a dribble to the next real action's start") {
    val df = optaDf(Seq(
      optaEv(1, "ball recovery", outcome = true, Nil, sx = 10, sy = 50, ex = 10, ey = 50),
      optaEv(2, "deleted event", outcome = true, Nil), // non_action, skipped by the scan
      optaEv(3, "pass", outcome = true, Nil, sx = 30, sy = 50, ex = 40, ey = 50)))
    val out = Opta.convertToActions(df, lit(0L)).orderBy("action_id").collect()
    val rec = out(0)
    assert(rec.getAs[Int]("type_id") == Spadl.TypeDribble)
    // dribble ends at the pass's converted start: 30% of 105
    assert(rec.getAs[Double]("end_x") == 30.0 / 100 * 105)
  }

  test("opta: recovery already at the next action's location is dropped") {
    val df = optaDf(Seq(
      optaEv(1, "ball recovery", outcome = true, Nil, sx = 30, sy = 50, ex = 30, ey = 50),
      optaEv(2, "pass", outcome = true, Nil, sx = 30, sy = 50, ex = 40, ey = 50)))
    val out = Opta.convertToActions(df, lit(0L)).collect()
    assert(out.length == 1) // only the pass survives
    assert(out(0).getAs[Int]("type_id") == Spadl.TypePass)
  }

  test("opta: deflected pass keeps success and snaps to the post-touch location") {
    val df = optaDf(Seq(
      optaEv(1, "pass", outcome = true, Nil, sx = 10, sy = 50, ex = 50, ey = 50),
      optaEv(2, "ball touch", outcome = true, Nil, sx = 48, sy = 50), // deflection
      optaEv(3, "pass", outcome = true, Nil, sx = 60, sy = 50, ex = 70, ey = 50)))
    val out = Opta.convertToActions(df, lit(0L)).orderBy("action_id").collect()
    val pass = out(0)
    assert(pass.getAs[Int]("result_id") == Spadl.ResultSuccess)
    assert(pass.getAs[Double]("end_x") == 60.0 / 100 * 105) // action(+2) start
  }

  test("opta: own-goal shot becomes bad_touch with mirrored end") {
    val df = optaDf(Seq(
      optaEv(1, "goal", outcome = true, Seq(28), sx = 10, sy = 40, ex = 0, ey = 46)))
    val out = Opta.convertToActions(df, lit(0L)).collect()
    assert(out(0).getAs[Int]("type_id") == Spadl.TypeBadTouch)
    assert(out(0).getAs[Int]("result_id") == Spadl.ResultOwngoal)
    assert(out(0).getAs[Double]("end_x") == 105.0 - 0.0)
  }

  test("opta: qualifier dispatch (penalty, freekick cross, throw-in bodypart)") {
    val df = optaDf(Seq(
      optaEv(1, "goal", outcome = true, Seq(9)),
      optaEv(2, "attempt saved", outcome = false, Seq(26), minute = 20),
      optaEv(3, "pass", outcome = true, Seq(5, 2), minute = 30),
      optaEv(4, "pass", outcome = true, Seq(107), minute = 40)))
    val out = Opta.convertToActions(df, lit(0L)).orderBy("action_id")
      .select("type_id", "bodypart_id").collect()
    assert(out(0).getInt(0) == Spadl.TypeShotPenalty)
    assert(out(1).getInt(0) == Spadl.TypeShotFreekick)
    assert(out(2).getInt(0) == 3) // freekick_crossed
    assert(out(3).getInt(0) == 2 && out(3).getInt(1) == Spadl.BodypartOther) // throw-in
  }

  // ---- Wyscout --------------------------------------------------------

  private def wyEv(seq: Long, ty: Int, sub: Int, tags: Seq[Int],
                   sx: Double = 50, sy: Double = 50, ex: Double = 60, ey: Double = 50,
                   team: Long = 0, player: Long = 7, ms: Long = 10000, period: Int = 1) =
    (1L, seq, period, ms, team, player, ty, sub, tags,
      Seq((sx, sy), (ex, ey)).map { case (x, y) => (x, y) }, seq)

  private def wyDf(rows: Seq[(Long, Long, Int, Long, Long, Long, Int, Int,
      Seq[Int], Seq[(Double, Double)], Long)]) =
    rows.toDF("game_id", "event_id", "period_id", "milliseconds", "team_id",
      "player_id", "type_id", "subtype_id", "tags", "pos_raw", "seq")
      .withColumn("positions", expr(
        "transform(pos_raw, p -> named_struct('x', p._1, 'y', p._2))"))
      .drop("pos_raw")

  test("wyscout: goal-mosaic tags impute shot end coordinates") {
    // accurate shot into high-left goal corner (tag 1208) → (100, 45) pct
    val df = wyDf(Seq(
      wyEv(1, 10, 100, Seq(101, 1208, 1801), sx = 85, sy = 40, ex = 0, ey = 0)))
    val out = Wyscout.convertToActions(df, lit(0L)).collect()
    assert(out(0).getAs[Int]("type_id") == Spadl.TypeShot)
    assert(out(0).getAs[Int]("result_id") == Spadl.ResultSuccess)
    assert(out(0).getAs[Double]("end_x") == 105.0)
    assert(out(0).getAs[Double]("end_y") == (100.0 - 45.0) * 68 / 100)
  }

  test("wyscout: duel pair before ball-out becomes one pass to the mirrored out location") {
    val df = wyDf(Seq(
      wyEv(1, 1, 12, Seq(1802), team = 0, ms = 1000, sx = 50, sy = 50),
      wyEv(2, 1, 12, Seq(1801), team = 1, ms = 1000, sx = 50, sy = 50),
      wyEv(3, 5, 50, Nil, team = 1, ms = 2000, sx = 20, sy = 30)))
    val out = Wyscout.convertToActions(df, lit(0L)).collect()
    assert(out.length == 1)
    val p = out(0)
    assert(p.getAs[Int]("type_id") == Spadl.TypePass)
    assert(p.getAs[Int]("result_id") == Spadl.ResultFail) // duel-won passes are not_accurate
    assert(p.getAs[Double]("end_x") == (100.0 - 20.0) * 105 / 100)
  }

  test("wyscout: interception-tagged pass splits into interception then pass") {
    val df = wyDf(Seq(
      wyEv(1, 8, 85, Seq(1401, 1801), sx = 40, sy = 50, ex = 60, ey = 50),
      // null tags: the carrier condition is null, which splits nothing
      wyEv(2, 8, 85, null, player = 9, ms = 60000)))
    val out = Wyscout.convertToActions(df, lit(0L)).orderBy("action_id").collect()
    assert(out.map(_.getAs[Int]("type_id")).toSeq ==
      Seq(Spadl.TypeInterception, Spadl.TypePass, Spadl.TypePass))
    val icpt = out(0)
    assert(icpt.getAs[Int]("result_id") == Spadl.ResultSuccess)
    assert(icpt.getAs[Double]("end_x") == icpt.getAs[Double]("start_x"))
    // the null-tag pass is one action: the original row (2·2+1) alone
    val nullTags = out.filter(_.getAs[Long]("player_id") == 9L)
    assert(nullTags.map(r => (r.getAs[Int]("type_id"), r.getAs[Long]("seq"))).toSeq ==
      Seq((Spadl.TypePass, 5L)))
  }

  test("wyscout: offside event attaches to the previous pass and disappears") {
    val df = wyDf(Seq(
      wyEv(1, 8, 85, Seq(1801), ms = 1000),
      wyEv(2, 6, 60, Nil, ms = 2000)))
    val out = Wyscout.convertToActions(df, lit(0L)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Int]("result_id") == Spadl.ResultOffside)
  }

  test("wyscout: touch at the next action's feet becomes a pass; simulation becomes failed take-on") {
    val touch = wyDf(Seq(
      wyEv(1, 7, 72, Nil, team = 0, player = 1, ms = 1000, sx = 50, sy = 50, ex = 52, ey = 50),
      wyEv(2, 8, 85, Seq(1801), team = 1, player = 2, ms = 2000, sx = 52.5, sy = 50)))
    val tOut = Wyscout.convertToActions(touch, lit(0L)).orderBy("action_id").collect()
    assert(tOut(0).getAs[Int]("type_id") == Spadl.TypePass)
    assert(tOut(0).getAs[Int]("result_id") == Spadl.ResultFail) // opponent received

    val sim = wyDf(Seq(wyEv(1, 2, 25, Nil)))
    val sOut = Wyscout.convertToActions(sim, lit(0L)).collect()
    assert(sOut(0).getAs[Int]("type_id") == 7) // take_on
    assert(sOut(0).getAs[Int]("result_id") == Spadl.ResultFail)
  }

  test("wyscout: keeper save right after a goal is removed; goalkick gets fixed start") {
    val df = wyDf(Seq(
      wyEv(1, 10, 100, Seq(101, 1203), team = 0, ms = 1000, sx = 85, sy = 50),
      wyEv(2, 9, 90, Nil, team = 1, ms = 2000, sx = 5, sy = 50),
      wyEv(3, 3, 34, Seq(1801), team = 1, ms = 60000, sx = 1, sy = 1, ex = 40, ey = 50)))
    val out = Wyscout.convertToActions(df, lit(0L)).orderBy("action_id").collect()
    assert(!out.map(_.getAs[Int]("type_id")).contains(14)) // save removed
    val gk = out.find(_.getAs[Int]("type_id") == Spadl.TypeGoalkick).get
    // goalkick start is pinned to (5, 34) and THEN direction-mirrored for
    // the away team (team 1 vs home 0): 105 − 5 = 100, 68 − 34 = 34
    assert(gk.getAs[Double]("start_x") == 100.0 && gk.getAs[Double]("start_y") == 34.0)
    assert(gk.getAs[Int]("result_id") == Spadl.ResultFail) // no next action → fail
  }

  // ---- the per-game exchange ------------------------------------------

  test("each converter ships one exchange of narrow typed columns") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val converters: Seq[(String, DataFrame, Set[String])] = Seq(
      ("statsbomb", StatsBomb.convertToActions(SynStatsBomb.fromEvents(events), SynStatsBomb.homeTeamId),
        Set("location", "end_loc")),
      ("opta", Opta.convertToActions(SynOpta.fromEvents(events), SynOpta.homeTeamId), Set.empty),
      ("wyscout", Wyscout.convertToActions(SynWyscout.fromEvents(events), SynWyscout.homeTeamId),
        Set.empty),
      ("kloppy", Kloppy.convertToActions(SynKloppy.fromEvents(events)), Set.empty))
    def types(t: DataType): Seq[DataType] = t +: (t match {
      case s: StructType => s.fields.toSeq.flatMap(f => types(f.dataType))
      case a: ArrayType => types(a.elementType)
      case m: MapType => types(m.keyType) ++ types(m.valueType)
      case _ => Nil
    })
    def wide(t: DataType) =
      types(t).exists(x => x.isInstanceOf[StringType] || x == BinaryType || x.isInstanceOf[MapType])
    val problems = converters.flatMap { case (name, df, arrays) =>
      assert(df.collect().nonEmpty, name)
      val exchanges = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      val out = exchanges.flatMap(_.output)
      val shipped = out.filter(a => types(a.dataType).exists(_.isInstanceOf[ArrayType])).map(_.name).toSet
      (if (exchanges.length == 1) Nil else Seq(s"$name: ${exchanges.length} exchanges")) ++
        (if (!out.exists(a => wide(a.dataType)) && shipped == arrays) Nil
        else Seq(s"$name ships ${out.mkString(", ")}"))
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
