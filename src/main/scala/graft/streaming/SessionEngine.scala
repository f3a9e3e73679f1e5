package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Act
import graft.operators.PerGameScan
import graft.operators.SpadlOps.NormalizeKernel

/** The per-match CEP core: one ordered pass per game implementing the
  * SPADL normalizer chain + k-lookahead labels (SURVEY.md §3.1/§2.12),
  * `SpadlOps.NormalizeKernel`.
  *
  * The SAME kernel backs two execution modes:
  *   - batch: a [[PerGameScan]] — one shuffle to co-locate each game, then
  *     the kernel over `InternalRow`s (the window forms in SpadlOps and
  *     Labels are the declarative equivalent; the stream_cep_batch oracle
  *     checks the result against DuckDB);
  *   - streaming: `flatMapGroupsWithState` with per-game buffered state and
  *     timeout-driven session close (gap = match end), calling the kernel
  *     through `processGame`. Identical input stream + watermark ⇒
  *     identical output, resumable from checkpoint.
  *
  * Scale notes: state is bounded per game (~3k actions ≈ 300 KB); keys are
  * (game_id). A long game runs as one task of the same scan: a 2M-action
  * game took 5.6–7.1 s on 4 cores, where a (game_id, period)-salted scan
  * with boundary stitching took 14.0–15.6 s and was removed (CHANGES.md).
  */
object SessionEngine {

  final case class ActionRow(
      game_id: Long, action_id: Long, period_id: Int, time_seconds: Double,
      team_id: Long, player_id: Long, start_x: Double, start_y: Double,
      end_x: Double, end_y: Double, type_id: Int, result_id: Int,
      bodypart_id: Int, seq: Long)

  final case class ValuedAction(
      game_id: Long, action_id: Long, period_id: Int, time_seconds: Double,
      team_id: Long, player_id: Long, start_x: Double, start_y: Double,
      end_x: Double, end_y: Double, type_id: Int, result_id: Int,
      bodypart_id: Int, seq: Long, scores: Boolean, concedes: Boolean)

  final case class GameBuffer(actions: List[ActionRow], maxEventMs: Long)

  /** One game's ordered pass, in memory: the streaming modes' call into the
    * kernel [[runBatch]] runs — sort → clearance repair → resequence →
    * dribble synthesis → k = `nrActions` lookahead labels. */
  def processGame(rows: Iterable[ActionRow], nrActions: Int = 10): IndexedSeq[ValuedAction] = {
    // PerGameScanExec's input order; `+ 0.0` makes -0.0 equal 0.0, as in Spark
    val game = rows.toArray.sortBy(r => (r.period_id, r.time_seconds + 0.0, r.seq)).map(r =>
      new Act(r.action_id, r.period_id, r.time_seconds, r.team_id, r.player_id, r.start_x,
        r.start_y, r.end_x, r.end_y, r.type_id, r.result_id, r.bodypart_id, r.seq))
    NormalizeKernel(interceptions = false, nrActions).run(game).toIndexedSeq.map(a =>
      ValuedAction(rows.head.game_id, a.actionId, a.periodId, a.time, a.teamId, a.playerId,
        a.startX, a.startY, a.endX, a.endY, a.typeId, a.resultId, a.bodypartId, a.seq,
        a.scores, a.concedes))
  }

  /** Batch mode: the kernel as one [[PerGameScan]] — one exchange on
    * `game_id` and one sort, and the output keeps that partitioning. */
  def runBatch(actions: DataFrame): DataFrame =
    PerGameScan(actions, NormalizeKernel(interceptions = false, nrActions = 10))

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** A closed session: the game's whole output, once; the state is dropped. */
  private def close(state: GroupState[GameBuffer]): Iterator[ValuedAction] = {
    val out = state.getOption.map(b => processGame(b.actions)).getOrElse(IndexedSeq.empty)
    state.remove()
    out.iterator
  }

  final case class TimedAction(eventTime: java.sql.Timestamp, action: ActionRow)

  /** Event-time mode (north star §2.12): events carry an event-time column
    * with a watermark; a game's session closes when the watermark passes
    * max(event time) + gap — late events beyond the watermark are dropped by
    * the engine, so identical input stream + watermark ⇒ identical output.
    */
  def runStreamingEventTime(events: Dataset[TimedAction],
                            watermarkDelay: String = "10 minutes",
                            gapMs: Long = SessionGapMs): Dataset[ValuedAction] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.action.game_id)
      .flatMapGroupsWithState[GameBuffer, ValuedAction](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (gameId: Long, rows: Iterator[TimedAction], state: GroupState[GameBuffer]) =>
          if (state.hasTimedOut) close(state)
          else {
            val batch = rows.toList
            val prev = state.getOption.getOrElse(GameBuffer(Nil, 0L))
            val maxMs = (prev.maxEventMs +: batch.map(_.eventTime.getTime)).max
            state.update(GameBuffer(prev.actions ++ batch.map(_.action), maxMs))
            // close the session once the event-time watermark passes the
            // last seen event + gap
            state.setTimeoutTimestamp(maxMs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Streaming mode: per-game buffered state; a processing-time timeout
    * after `gapMs` of silence closes the match session and emits the
    * fully-normalized, labeled action sequence exactly once. */
  def runStreaming(events: Dataset[ActionRow],
                   gapMs: Long = SessionGapMs): Dataset[ValuedAction] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.game_id)
      .flatMapGroupsWithState[GameBuffer, ValuedAction](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (gameId: Long, rows: Iterator[ActionRow], state: GroupState[GameBuffer]) =>
          if (state.hasTimedOut) close(state)
          else {
            val prev = state.getOption.getOrElse(GameBuffer(Nil, 0L))
            state.update(GameBuffer(prev.actions ++ rows.toList, prev.maxEventMs))
            state.setTimeoutDuration(gapMs)
            Iterator.empty
          }
      }
  }
}
