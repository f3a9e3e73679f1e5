package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Spadl
import graft.streaming.WindowedStats
import graft.xt.XThreat

/** Event-time tumbling/sliding windows, the watermarked stream-stream
  * interval join, and per-micro-batch broadcast model refresh — each run as
  * a REAL streaming query over a MemoryStream. */
class WindowedStatsSpec extends SparkSpec {
  import spark.implicits._

  // base aligned to a 5-minute boundary (1699999800 s ≡ 0 mod 300) so the
  // test's window membership is readable
  private def ts(sec: Long): Timestamp = new Timestamp(1699999800000L + sec * 1000)

  private def runStream(input: DataFrame => DataFrame,
                        rows: Seq[(Long, Long, Long, Int, Int, Long, Long)]): Array[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Int, Int, Timestamp, Long, Double, Double, Double, Double)]
    mem.addData(rows.map { case (g, t, s, ty, r, sec, p) =>
      (g, t, s, ty, r, ts(sec), p, 50.0, 34.0, 60.0, 34.0)
    }: _*)
    val df = mem.toDF().toDF("game_id", "team_id", "seq", "type_id", "result_id",
      "event_time", "player_id", "start_x", "start_y", "end_x", "end_y")
    val name = s"wstats_${System.nanoTime()}"
    val q = input(df).writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).collect()
  }

  test("tumbling 5-minute per-team scoreboard over an event-time stream") {
    // team 0: pass at 10s, goal at 100s (window 0-300); pass at 400s (window 300-600)
    val rows = Seq(
      (1L, 0L, 1L, Spadl.TypePass, 1, 10L, 7L),
      (1L, 0L, 2L, Spadl.TypeShot, Spadl.ResultSuccess, 100L, 7L),
      (1L, 1L, 3L, Spadl.TypeShot, Spadl.ResultFail, 200L, 8L),
      (1L, 0L, 4L, Spadl.TypePass, 1, 400L, 7L),
      // watermark driver: a late-window event pushing the watermark past 600s
      (1L, 1L, 5L, Spadl.TypePass, 1, 1300L, 8L))
    val out = runStream(WindowedStats.tumblingTeamStats(_), rows)
    val byKey = out.map(r => (r.getAs[Timestamp]("window_start").getTime / 1000 % 100000,
      r.getAs[Long]("team_id")) -> r).toMap
    val w0team0 = byKey.find { case ((_, t), r) =>
      t == 0L && r.getAs[Long]("n_goals") == 1L }.get._2
    assert(w0team0.getAs[Long]("n_actions") == 2L)
    assert(w0team0.getAs[Long]("n_shots") == 1L)
    // team 1's first-window shot was no goal
    val t1 = out.filter(r => r.getAs[Long]("team_id") == 1L &&
      r.getAs[Long]("n_shots") == 1L)
    assert(t1.forall(_.getAs[Long]("n_goals") == 0L))
  }

  test("sliding windows produce overlapping memberships") {
    val rated = (df: DataFrame) => WindowedStats.slidingThreat(
      df.withColumn("xt_value", lit(0.01)), windowLength = "10 minutes", slide = "5 minutes")
    val rows = Seq(
      (1L, 0L, 1L, Spadl.TypePass, 1, 360L, 7L), // 6 min → windows [0,10) and [5,15)
      (1L, 0L, 2L, Spadl.TypePass, 1, 4000L, 7L)) // watermark driver
    val out = runStream(rated, rows)
    val windows = out.filter(_.getAs[Long]("n_moves") == 1L)
      .map(_.getAs[Timestamp]("window_start").getTime)
    assert(windows.length == 2) // the 6-minute event appears in two sliding windows
  }

  test("stream-stream interval join finds assist candidates within 15s") {
    val rows = Seq(
      (1L, 0L, 1L, Spadl.TypePass, 1, 90L, 7L), // 10s before the shot → candidate
      (1L, 0L, 2L, Spadl.TypePass, 1, 60L, 9L), // 40s before → too old
      (1L, 1L, 3L, Spadl.TypePass, 1, 95L, 8L), // other team → no
      (1L, 0L, 4L, Spadl.TypeShot, Spadl.ResultSuccess, 100L, 7L),
      (1L, 0L, 5L, Spadl.TypePass, 1, 500L, 7L)) // watermark driver
    val out = runStream(WindowedStats.assistCandidates(_), rows)
    assert(out.length == 1)
    assert(out(0).getAs[Long]("pass_seq") == 1L)
    assert(out(0).getAs[Long]("passer_id") == 7L)
  }

  test("foreachBatch rates each micro-batch with the current broadcast model") {
    val grid1 = Array.tabulate(XThreat.DefaultL * XThreat.DefaultW)(_ => 0.5)
    val model1 = XThreat.Model(XThreat.DefaultL, XThreat.DefaultW,
      grid1, grid1, grid1, Array(), grid1, 0)
    val ref = new AtomicReference(model1)
    val collected = scala.collection.mutable.ArrayBuffer[Double]()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Int, Double, Double, Double, Double)]
    mem.addData((1L, Spadl.TypePass, Spadl.ResultSuccess, 10.0, 30.0, 20.0, 30.0))
    val df = mem.toDF().toDF("game_id", "type_id", "result_id",
      "start_x", "start_y", "end_x", "end_y")
    val q = WindowedStats.ratedSink(df, ref, (batch, _) =>
      collected ++= batch.select("xt_value").collect().map(_.getDouble(0))).start()
    q.awaitTermination()
    // constant surface → xT difference 0.0 for a successful move
    assert(collected.toSeq == Seq(0.0))

    // swap the broadcast model between batches: next batch uses the new grid
    val grid2 = Array.tabulate(XThreat.DefaultL * XThreat.DefaultW)(c => c * 0.001)
    ref.set(XThreat.Model(XThreat.DefaultL, XThreat.DefaultW,
      grid2, grid2, grid2, Array(), grid2, 0))
    mem.addData((1L, Spadl.TypePass, Spadl.ResultSuccess, 10.0, 30.0, 20.0, 30.0))
    val q2 = WindowedStats.ratedSink(df, ref, (batch, _) =>
      collected ++= batch.select("xt_value").collect().map(_.getDouble(0))).start()
    q2.awaitTermination()
    assert(collected.size == 3) // batch 2 re-rated the full memory stream
    assert(collected.drop(1).exists(_ != 0.0)) // new non-constant surface
  }
}
