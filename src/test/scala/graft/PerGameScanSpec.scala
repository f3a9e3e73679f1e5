package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.core.Spadl
import graft.operators.{PerGameScanExec, SpadlOps}
import graft.streaming.SessionEngine
import graft.vaep.{Features, Formula, FrozenGbt, GameStates, Labels}

/** The per-game scan operator: its kernel against the window forms it
  * replaces (null coordinates, period boundaries, Opta's interception
  * rule), its analysis in self-joins, and the plan shape of the valuation
  * chain on top of it. */
class PerGameScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private type Raw = (Long, Int, Double, Option[Long], Option[Long], Option[Double],
    Option[Double], Option[Double], Option[Double], Int, Int, Int, Long)

  private def frame(rows: Seq[Raw]): DataFrame = rows.toDF("game_id", "period_id",
    "time_seconds", "team_id", "player_id", "start_x", "start_y", "end_x", "end_y",
    "type_id", "result_id", "bodypart_id", "seq")

  private def act(game: Long, seq: Long, t: Double, team: Option[Long], ty: Int,
                  start: (Option[Double], Option[Double]), end: (Option[Double], Option[Double]),
                  period: Int = 1, res: Int = 1): Raw =
    (game, period, t, team, team.map(_ * 10), start._1, start._2, end._1, end._2, ty, res, 0, seq)

  private val (some, none) = ((x: Double) => Option(x), Option.empty[Double])
  private val (team1, team2) = (Option(1L), Option(2L))

  /** Null end coordinates: a clearance whose successor has no start_x keeps
    * its null end_x; a null end suppresses the dribble after it. */
  private val nullEnds = Seq(
    act(1, 0, 0, team1, Spadl.TypePass, (some(10), some(10)), (none, none)),
    act(1, 1, 2, team1, Spadl.TypeClearance, (some(20), some(20)), (none, some(30))),
    act(1, 2, 4, team1, Spadl.TypePass, (none, some(25)), (some(44), some(30))),
    act(1, 3, 6, team1, Spadl.TypePass, (some(45), some(30)), (some(50), some(30))),
    act(1, 4, 8, team1, Spadl.TypePass, (some(60), some(30)), (none, none)))

  /** Period boundary: a dribble candidate whose successor opens period 2,
    * and a clearance closing period 1 (it takes the next period's start). */
  private val periodBoundary = Seq(
    act(2, 0, 10, team1, Spadl.TypePass, (some(0), some(0)), (some(20), some(20))),
    act(2, 1, 11, team1, Spadl.TypePass, (some(30), some(20)), (some(40), some(20))),
    act(2, 2, 12, team1, Spadl.TypePass, (some(40), some(20)), (some(50), some(20))),
    act(2, 3, 0, team1, Spadl.TypePass, (some(55), some(20)), (some(60), some(20)), period = 2),
    act(3, 0, 40, team2, Spadl.TypeClearance, (some(30), some(30)), (some(40), some(40))),
    act(3, 1, 1, team2, Spadl.TypePass, (some(45), some(45)), (some(50), some(50)), period = 2))

  /** Interceptions followed by the same team, another team, a null team
    * after a null team, and at the game's end. */
  private val interceptions = Seq(
    act(4, 0, 0, team1, Spadl.TypeInterception, (some(10), some(10)), (some(10), some(10))),
    act(4, 1, 20, team1, Spadl.TypePass, (some(10), some(10)), (some(20), some(10))),
    act(4, 2, 40, team1, Spadl.TypeInterception, (some(20), some(10)), (some(20), some(10))),
    act(4, 3, 60, team2, Spadl.TypePass, (some(30), some(10)), (some(40), some(10))),
    act(4, 4, 80, None, Spadl.TypeInterception, (some(40), some(10)), (some(40), some(10))),
    act(4, 5, 100, None, Spadl.TypePass, (some(40), some(10)), (some(50), some(10))),
    act(4, 6, 120, team2, Spadl.TypeInterception, (some(50), some(10)), (some(50), some(10))))

  /** Seeded games of nearby actions with ~10% nulls in the team, player
    * and coordinate columns. */
  private def randomGames(seed: Long): Seq[Raw] = {
    val rnd = new Random(seed)
    def opt[T](v: T): Option[T] = if (rnd.nextDouble() < 0.1) None else Some(v)
    val types = Seq(Spadl.TypePass, Spadl.TypePass, Spadl.TypeClearance, Spadl.TypeInterception,
      Spadl.TypeFoul, Spadl.TypeShot, Spadl.TypeShotPenalty, Spadl.TypeTackle)
    (10L until 16L).flatMap { g =>
      var t = 0.0
      var (x, y) = (50.0, 34.0)
      (0 until 80).map { i =>
        val period = if (i < 40) 1 else 2
        if (i == 40) t = 0.0
        t += rnd.nextInt(12)
        val (sx, sy) = (x + rnd.nextInt(9) - 4, y + rnd.nextInt(9) - 4)
        x = sx + rnd.nextInt(21) - 10
        y = sy + rnd.nextInt(21) - 10
        val team = opt(rnd.nextInt(2).toLong)
        (g, period, t, team, opt(rnd.nextInt(5).toLong), opt(sx), opt(sy), opt(x), opt(y),
          types(rnd.nextInt(types.length)), rnd.nextInt(6), rnd.nextInt(3), g * 100 + i)
      }
    }
  }

  private def windowChain(df: DataFrame, interceptions: Boolean): DataFrame = {
    val cleared = SpadlOps.fixClearances(df)
    SpadlOps.addDribbles(SpadlOps.resequence(
      if (interceptions) SpadlOps.fixInterceptions(cleared) else cleared))
  }

  private def assertSameFrame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (collectSorted(got, "game_id", "action_id"), collectSorted(want, "game_id", "action_id"))
    assert(g.length == w.length, s"row counts differ: ${g.length} vs ${w.length}")
    g.zip(w).foreach { case (a, b) => assert(a == b, s"\n kernel $a\n window $b") }
  }

  private val cases = Seq("null end coordinates" -> nullEnds, "period boundary" -> periodBoundary,
    "interceptions" -> interceptions, "seeded games with nulls" -> randomGames(7))

  test("normalizer kernel ≡ window chain: nulls, period boundary, Opta interceptions") {
    for ((name, rows) <- cases; opta <- Seq(false, true)) withClue(s"$name, interceptions=$opta:") {
      assertSameFrame(SpadlOps.normalize(frame(rows), opta), windowChain(frame(rows), opta))
    }
    // the hand cases do exercise what they are named for
    val out = SpadlOps.normalize(frame(nullEnds ++ periodBoundary ++ interceptions), interceptions = true)
      .collect().map(r => (r.getAs[Long]("game_id"), r.getAs[Long]("seq"), r)).groupBy(r => (r._1, r._2))
    val clearance = out((1L, 1L)).head._3
    assert(clearance.isNullAt(clearance.fieldIndex("end_x")) && clearance.getAs[Double]("end_y") == 25.0)
    assert(out((1L, 3L)).length == 2) // the one dribble of game 1
    assert(out((2L, 0L)).length == 2 && out((2L, 2L)).length == 1) // none across the period
    assert(out((3L, 0L)).head._3.getAs[Double]("end_x") == 45.0)
    assert(Seq(0L, 2L, 4L, 6L).map(s => out((4L, s)).head._3.getAs[Int]("result_id")) ==
      Seq(Spadl.ResultSuccess, Spadl.ResultFail, Spadl.ResultSuccess, Spadl.ResultFail))
  }

  test("labeled kernel (runBatch) ≡ window chain + Labels, with nulls") {
    for ((name, rows) <- cases) withClue(s"$name:") {
      assertSameFrame(SessionEngine.runBatch(frame(rows)),
        Labels.concedes(Labels.scores(windowChain(frame(rows), interceptions = false), 10), 10))
    }
  }

  test("a self-join of the operator's output analyses and joins per game") {
    val v = SessionEngine.runBatch(frame(randomGames(3)))
    val perGame = v.groupBy("game_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v.join(v, "game_id").count() == perGame.values.map(n => n * n).sum)
    val (a, b) = (v.as("a"), v.as("b"))
    val next = a.join(b, $"a.game_id" === $"b.game_id" && $"b.action_id" === $"a.action_id" + 1)
    assert(next.count() == perGame.values.map(_ - 1).sum)
    // and back to its own input
    val input = frame(randomGames(3))
    assert(SessionEngine.runBatch(input).join(input.select("game_id").distinct(), "game_id").count() ==
      perGame.values.sum)
  }

  test("plan shape: runBatch → persist → GameStates → Features → Formula has one exchange, below the cache") {
    val dir = Files.createTempDirectory("pergame").toString
    // read back from files: an input with no partitioning of its own
    frame(randomGames(5)).write.parquet(s"$dir/in")
    val valued = SessionEngine.runBatch(spark.read.parquet(s"$dir/in")).persist()
    try {
      valued.count()
      val states = GameStates.withStates(Features.withGoalscore(valued), 3)
      val wide = states.select(Seq("game_id", "action_id", "seq", "period_id", "time_seconds", "team_id",
        "type_id", "result_id", "scores", "concedes").map(col) ++
        Features.defaultFeaturesPostGoalscore(3): _*)
      val values = Formula.value(wide
        .withColumn("scores_p", FrozenGbt.column(FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "scores")))
        .withColumn("concedes_p", FrozenGbt.column(FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "concedes"))))
      def exchanges(p: SparkPlan) = collect(p) { case e: ShuffleExchangeExec => e }
      val plan = values.queryExecution.executedPlan
      val cached = collect(plan) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      assert(exchanges(plan).isEmpty, s"exchange above the cache:\n$plan")
      assert(cached.length == 1 && exchanges(cached.head).length == 1, s"cached plan:\n${cached.headOption}")
      assert(collect(cached.head) { case s: PerGameScanExec => s }.length == 1)
      values.write.parquet(s"$dir/out")
      assert(spark.read.parquet(s"$dir/out").count() == valued.count())
    } finally valued.unpersist()
  }
}
