package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.core.Spadl
import graft.xt.XThreat

/** Event-time windowed streaming operators over the action stream
  * (north-rule surface beyond session windows: tumbling/sliding windows, a
  * watermarked stream-stream join, and broadcast state refreshed per
  * micro-batch).
  *
  * State-bound design, the part that matters at 10¹² events: every operator
  * keys its state by (window, team/game) with an event-time watermark, so
  * the state store holds only the windows the watermark has not passed —
  * late data beyond the delay is dropped deterministically (same input +
  * watermark ⇒ same output), and nothing accumulates unboundedly.
  */
object WindowedStats {

  /** Tumbling 5-minute per-team scoreboard: actions, shots, goals per
    * (event-time window, team). One shuffle on (window, team_id); partial
    * aggregation map-side; watermark expires closed windows. */
  def tumblingTeamStats(actions: DataFrame, watermarkDelay: String = "10 minutes",
                        windowLength: String = "5 minutes"): DataFrame = {
    val goalish = col("type_id").isin(Spadl.TypeShot, Spadl.TypeShotPenalty,
      Spadl.TypeShotFreekick)
    actions
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLength), col("team_id"))
      .agg(
        count(lit(1)).as("n_actions"),
        sum(when(goalish, 1L).otherwise(0L)).as("n_shots"),
        sum(when(goalish && col("result_id") === Spadl.ResultSuccess, 1L).otherwise(0L))
          .as("n_goals"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("team_id"), col("n_actions"), col("n_shots"), col("n_goals"))
  }

  /** Sliding threat momentum: mean xT value over a 10-minute window sliding
    * every 2 minutes, per team — overlapping windows are the standard
    * "momentum" readout; each event lands in windowLength/slide windows. */
  def slidingThreat(rated: DataFrame, watermarkDelay: String = "10 minutes",
                    windowLength: String = "10 minutes",
                    slide: String = "2 minutes"): DataFrame =
    rated
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLength, slide), col("team_id"))
      .agg(sum("xt_value").as("threat"), count(lit(1)).as("n_moves"))
      .select(col("window.start").as("window_start"), col("team_id"),
        col("threat"), col("n_moves"))

  /** Watermarked stream-stream INTERVAL JOIN: each shot joined with the
    * same-team passes of the preceding `maxGap` (assist candidates).
    * Both sides carry watermarks and the join predicate bounds the event-
    * time gap, so Spark can size the join state: a pass is dropped from
    * state once the shot-side watermark passes pass_time + maxGap. */
  def assistCandidates(actions: DataFrame, watermarkDelay: String = "30 seconds",
                       maxGap: String = "15 seconds"): DataFrame = {
    val shots = actions
      .filter(col("type_id") === Spadl.TypeShot)
      .select(col("game_id").as("s_game_id"), col("team_id").as("s_team_id"),
        col("seq").as("shot_seq"), col("result_id").as("shot_result"),
        col("event_time").as("shot_time"))
      .withWatermark("shot_time", watermarkDelay)
    val passes = actions
      .filter(col("type_id").isin(Spadl.TypePass, Spadl.TypeCross))
      .select(col("game_id").as("p_game_id"), col("team_id").as("p_team_id"),
        col("seq").as("pass_seq"), col("player_id").as("passer_id"),
        col("event_time").as("pass_time"))
      .withWatermark("pass_time", watermarkDelay)
    shots.join(passes,
      col("s_game_id") === col("p_game_id") &&
        col("s_team_id") === col("p_team_id") &&
        col("pass_time") >= col("shot_time") - expr(s"INTERVAL '$maxGap'") &&
        col("pass_time") < col("shot_time"))
      .select(col("s_game_id").as("game_id"), col("s_team_id").as("team_id"),
        col("shot_seq"), col("pass_seq"), col("passer_id"), col("shot_result"))
  }

  /** Broadcast state refreshed per micro-batch (the north star's "xT
    * transition matrix as broadcast state"): `foreachBatch` rates each
    * micro-batch with the CURRENT model from `modelRef` — swap the
    * reference between batches (e.g. after a periodic refit) and the next
    * batch uses the new surface; the rating itself stays a map-only
    * codegen'd projection (the 192-double grid rides along as a literal,
    * re-planned per batch). `sink` has the shape of [[SnapshotTable.sink]]:
    * it gets each rated batch with its epoch id. */
  def ratedSink(actions: DataFrame, modelRef: AtomicReference[XThreat.Model],
                sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    actions.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        sink(batch.withColumn("xt_value", XThreat.rateColumn(modelRef.get())), epoch)
      }
}
