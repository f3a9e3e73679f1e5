package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{SynActions, Tables, TokenCodec}
import graft.core.SynActions.OracleCte
import graft.streaming.{SessionEngine, SnapshotTable, StreamRun, WindowedStats}
import graft.xt.XThreat

/** The CEP engine surface (SURVEY.md §2.12, §3.1): the stateful per-game
  * scan executed in batch mode, the token-codec ingest surface, and the
  * end-to-end flagship flow (tokens → decode → CEP → labeled actions).
  * The oracle SQL re-derives the SAME semantics declaratively (windows +
  * union + range frames), so these queries prove stateful-scan ≡
  * window-formulation ≡ DuckDB. */
object StreamingQueries {

  private def actions(s: SparkSession, dir: String): DataFrame =
    SynActions.fromEvents(Tables.events(s, dir))

  /** Event-timed action projection on the compressed SPADL clock: the
    * month-long synthetic timeline maps to ~43 minutes (time_seconds is
    * micros/1e9), giving event-time windows game-like density. et =
    * EpochBase + ⌊time_seconds·1e6⌋ micros — both engines compute the same
    * two double ops then floor, so the micros agree exactly. */
  private def timedActions(s: SparkSession, dir: String): DataFrame =
    // derived from the ONE canonical synthetic projection (projectEvents) so
    // the generator formulas cannot drift: et = base + ⌊time_seconds·1e6⌋
    // runs the identical double chain ((us−base)/1e9)·1e6 on both sides
    SynActions.projectEvents(Tables.events(s, dir)).select(
      col("game_id"), col("team_id"), col("player_id"),
      col("type_id"), col("result_id"), col("seq"),
      timestamp_micros(lit(SynActions.EpochBaseMicros) +
        floor(col("time_seconds") * lit(1000000.0))).as("event_time"))

  private val timedCte =
    s"""$OracleCte, timed AS (
       |  SELECT game_id, team_id, player_id, type_id, result_id, seq,
       |    ${SynActions.EpochBaseMicros} + CAST(floor(time_seconds * 1000000.0) AS BIGINT) AS et_us
       |  FROM actions0
       |)""".stripMargin

  /** clearances → dribbles → dense ids → k=10 labels, over CTE `in`. */
  private def cepSql(in: String, suffix: String): String = {
    val wg = s"(PARTITION BY game_id ORDER BY period_id, time_seconds, seq)"
    s""", clr$suffix AS (
       |  SELECT game_id, action_id, period_id, time_seconds, team_id, player_id,
       |    start_x, start_y,
       |    CASE WHEN type_id = 18 THEN coalesce(lead(start_x) OVER $wg, end_x) ELSE end_x END AS end_x,
       |    CASE WHEN type_id = 18 THEN coalesce(lead(start_y) OVER $wg, end_y) ELSE end_y END AS end_y,
       |    type_id, result_id, bodypart_id, seq
       |  FROM $in
       |), nx$suffix AS (
       |  SELECT *,
       |    lead(team_id) OVER w AS nx_team_id, lead(player_id) OVER w AS nx_player_id,
       |    lead(period_id) OVER w AS nx_period_id, lead(time_seconds) OVER w AS nx_time_seconds,
       |    lead(start_x) OVER w AS nx_start_x, lead(start_y) OVER w AS nx_start_y,
       |    lead(type_id) OVER w AS nx_type_id, lead(bodypart_id) OVER w AS nx_bodypart_id
       |  FROM clr$suffix WINDOW w AS (PARTITION BY game_id ORDER BY period_id, action_id)
       |), drb$suffix AS (
       |  SELECT game_id, period_id, CAST(action_id AS DOUBLE) AS aid_frac, time_seconds,
       |    team_id, player_id, start_x, start_y, end_x, end_y, type_id, result_id, bodypart_id, seq
       |  FROM clr$suffix
       |  UNION ALL
       |  SELECT game_id, CAST(nx_period_id AS INT),
       |    CAST(action_id AS DOUBLE) + 0.1,
       |    (time_seconds + nx_time_seconds) / 2,
       |    nx_team_id, nx_player_id, end_x, end_y, nx_start_x, nx_start_y,
       |    CAST(21 AS INT), CAST(1 AS INT), CAST(0 AS INT), seq
       |  FROM nx$suffix
       |  WHERE team_id = nx_team_id AND nx_type_id <> 8
       |    AND nx_type_id <> 11 AND nx_bodypart_id <> 1
       |    AND (end_x - nx_start_x) * (end_x - nx_start_x) + (end_y - nx_start_y) * (end_y - nx_start_y) >= 9.0
       |    AND (end_x - nx_start_x) * (end_x - nx_start_x) + (end_y - nx_start_y) * (end_y - nx_start_y) <= 3600.0
       |    AND nx_time_seconds - time_seconds < 10.0
       |    AND period_id = nx_period_id
       |), rs$suffix AS (
       |  SELECT game_id,
       |    CAST(row_number() OVER (PARTITION BY game_id ORDER BY period_id, aid_frac) AS BIGINT) - 1 AS action_id,
       |    period_id, time_seconds, team_id, player_id, start_x, start_y, end_x, end_y,
       |    type_id, result_id, bodypart_id, seq,
       |    CASE WHEN type_id IN (11, 12, 13) AND result_id = 1 THEN 1 ELSE 0 END AS goal_i,
       |    CASE WHEN type_id IN (11, 12, 13) AND result_id = 3 THEN 1 ELSE 0 END AS og_i
       |  FROM drb$suffix
       |), lab$suffix AS (
       |  SELECT game_id, action_id, period_id, time_seconds, team_id, player_id,
       |    start_x, start_y, end_x, end_y, type_id, result_id, bodypart_id, seq,
       |    (max(goal_i) OVER wt > 0) OR (sum(og_i) OVER wgm - sum(og_i) OVER wt > 0) AS scores,
       |    (max(og_i) OVER wt > 0) OR (sum(goal_i) OVER wgm - sum(goal_i) OVER wt > 0) AS concedes
       |  FROM rs$suffix
       |  WINDOW wt AS (PARTITION BY game_id, team_id ORDER BY action_id
       |                RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING),
       |         wgm AS (PARTITION BY game_id ORDER BY action_id
       |                 RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING)
       |)""".stripMargin
  }

  private val outSelect =
    "SELECT game_id, action_id, period_id, time_seconds, team_id, player_id, " +
      "start_x, start_y, end_x, end_y, type_id, result_id, bodypart_id, seq, scores, concedes"

  /** DuckDB rendering of the codec quantization (cm / ms fixpoint). */
  private val quantCte =
    s""", quant AS (
       |  SELECT game_id, action_id, period_id,
       |    CAST(round(time_seconds * 1000) AS BIGINT) / 1000.0 AS time_seconds,
       |    team_id, player_id,
       |    CAST(round(start_x * 100) AS BIGINT) / 100.0 AS start_x,
       |    CAST(round(start_y * 100) AS BIGINT) / 100.0 AS start_y,
       |    CAST(round(end_x * 100) AS BIGINT) / 100.0 AS end_x,
       |    CAST(round(end_y * 100) AS BIGINT) / 100.0 AS end_y,
       |    type_id, result_id, bodypart_id, seq
       |  FROM actions
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    Q("stream_cep_batch",
      s"""$OracleCte ${cepSql("actions", "1")}
         |$outSelect FROM lab1""".stripMargin) { (s, dir) =>
      SessionEngine.runBatch(actions(s, dir))
    },

    Q("stream_tokens_roundtrip",
      s"""$OracleCte $quantCte
         |SELECT game_id, action_id, period_id, time_seconds, team_id, player_id,
         |  start_x, start_y, end_x, end_y, type_id, result_id, bodypart_id
         |FROM quant""".stripMargin) { (s, dir) =>
      TokenCodec.decode(TokenCodec.encode(actions(s, dir)))
    },

    // Tumbling event-time window aggregation — the WindowedStats operator
    // run through its batch-equivalence path (WindowedStatsSpec runs the
    // same code as a REAL watermark stream). The compressed SPADL clock
    // (month → ~43 min) makes windows structurally interesting; window
    // bounds compare as epoch-second BIGINTs to sidestep timestamp codecs.
    Q("stream_windowed_team_stats",
      s"""$timedCte
         |SELECT (et_us // 60000000) * 60 AS window_start,
         |  (et_us // 60000000) * 60 + 60 AS window_end,
         |  team_id,
         |  count(*) AS n_actions,
         |  CAST(sum(CASE WHEN type_id IN (11, 12, 13) THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
         |  CAST(sum(CASE WHEN type_id IN (11, 12, 13) AND result_id = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_goals
         |FROM timed
         |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      WindowedStats.tumblingTeamStats(timedActions(s, dir), windowLength = "1 minute")
        .select(unix_seconds(col("window_start")).as("window_start"),
          unix_seconds(col("window_end")).as("window_end"),
          col("team_id"), col("n_actions"), col("n_shots"), col("n_goals"))
    },

    // Watermarked stream-stream interval join (assist candidates): shots ⋈
    // same-game-same-team passes of the preceding 2 minutes. Batch-
    // equivalence path of WindowedStats.assistCandidates; the oracle
    // compares event-time micros as integers (Spark timestamps are micros).
    Q("stream_assist_candidates",
      s"""$timedCte
         |SELECT s.game_id, s.team_id, s.seq AS shot_seq, p.seq AS pass_seq,
         |  p.player_id AS passer_id, s.result_id AS shot_result
         |FROM timed s JOIN timed p
         |  ON s.game_id = p.game_id AND s.team_id = p.team_id
         |  AND p.et_us >= s.et_us - 120000000 AND p.et_us < s.et_us
         |WHERE s.type_id = 11 AND p.type_id IN (0, 1)""".stripMargin) { (s, dir) =>
      WindowedStats.assistCandidates(timedActions(s, dir), maxGap = "120 seconds")
    },

    // The broadcast-model foreachBatch sink run as a REAL streaming query:
    // file-source stream over the events parquet → map-only SPADL projection
    // → per-batch xT rating with the model held in an AtomicReference →
    // exactly-once SnapshotTable commit per micro-batch, read back. The
    // oracle re-derives the CONVERGED surface (freeze chain) and rates
    // declaratively — proving the streaming sink path value-equal to the
    // batch rating. (Mid-stream model
    // refresh is deterministic only per batch; WindowedStatsSpec covers it.)
    Q("stream_rated_sink",
      s"""${XtQueries.fitStatsCtes}, ${XtQueries.convergedChainCtes}, gl AS MATERIALIZED (
         |  SELECT list(v ORDER BY cell) AS grid FROM it${XtQueries.MaxSolveSteps}
         |)
         |SELECT seq,
         |  CASE WHEN ${XtQueries.moveSql} AND result_id = 1
         |       THEN list_extract(grid, ${XtQueries.endCellSql} + 1) - list_extract(grid, ${XtQueries.cellSql} + 1)
         |  END AS xt_value
         |FROM actions, gl""".stripMargin) { (s, dir) =>
      val model = XThreat.fit(actions(s, dir))
      val ref = new java.util.concurrent.atomic.AtomicReference(model)
      val schema = Tables.events(s, dir).schema
      // glob form: the file source needs a directory basePath (a bare file
      // path fails with "basePath must be a directory")
      val stream = s.readStream.schema(schema).parquet(s"$dir/events.parque[t]")
      val acts = SynActions.projectEvents(stream)
      // session-rooted temp dirs: cleaned at JVM exit, so repeated Verify /
      // min-of-N Bench invocations don't accumulate orphan sink+checkpoint data
      val table = new SnapshotTable(StreamRun.tempDir("rated_sink"))
      val ckpt = StreamRun.tempDir("rated_ckpt")
      val sink = SnapshotTable.sink(table, writerId = ckpt)
      WindowedStats.ratedSink(acts, ref, (b, epoch) => sink(b.select(col("seq"), col("xt_value")), epoch))
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
      table.read(s)
    },

    // Flagship end-to-end: tokenized ingest surface → decode → stateful CEP
    // → labeled action stream. The decoded frame has no seq column; the
    // dense action_id is the deterministic tiebreaker (unique per game).
    Q("stream_cep_from_tokens",
      s"""$OracleCte $quantCte, qs AS (
         |  SELECT game_id, action_id, period_id, time_seconds, team_id, player_id,
         |    start_x, start_y, end_x, end_y, type_id, result_id, bodypart_id,
         |    action_id AS seq
         |  FROM quant
         |) ${cepSql("qs", "2")}
         |$outSelect FROM lab2""".stripMargin) { (s, dir) =>
      val decoded = TokenCodec.decode(TokenCodec.encode(actions(s, dir)))
        .withColumn("seq", col("action_id"))
      SessionEngine.runBatch(decoded)
    })
}
