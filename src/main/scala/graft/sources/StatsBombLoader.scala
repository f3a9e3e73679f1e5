package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S4/S5/S6 — the StatsBomb open-data loader: directory-layout readers with
  * `_flatten_id` semantics, the events⋈360-frames join, and the distributed
  * `extract_player_games` minutes computation. Reference
  * `socceraction/data/statsbomb/loader.py:30-368` (loader),
  * `:371-464` (player games), `:467-496` (flatteners),
  * `socceraction/data/base.py:100-123` (minute expansion).
  *
  * Layout (same as the Open Data GitHub repo): `competitions.json`,
  * `matches/{competition_id}/{season_id}.json`, `events/{game_id}.json`,
  * `lineups/{game_id}.json`, `three-sixty/{game_id}.json`.
  *
  * Spark-first shape: each accessor is a JSON scan + one flattening
  * projection (the reference's per-row `_flatten_id` dict walk becomes
  * struct-field selection, codegen'd); `extract_player_games` is a
  * grouped-aggregation plan keyed by game_id — it computes minutes for ALL
  * games in one pass (the reference loops one game at a time), so the same
  * code serves a 10⁶-game backfill.
  */
final class StatsBombLoader(spark: SparkSession, root: String) {

  private def readJson(rel: String): DataFrame =
    spark.read.option("multiLine", true).json(s"$root/$rel")

  /** `{id, name}` sub-object → `<prefix>_id` / `<prefix>_name` columns
    * (the `_flatten_id` rule, `loader.py:467-480`). */
  private def flat(c: String, as: String): Seq[Column] =
    Seq(col(s"$c.id").as(s"${as}_id"), col(s"$c.name").as(s"${as}_name"))

  /** Competitions and seasons (`loader.py:81-113`). */
  def competitions(): DataFrame =
    readJson("competitions.json").select(
      "season_id", "competition_id", "competition_name", "country_name",
      "competition_gender", "season_name")

  /** All games of a season (`loader.py:115-180`): nested home/away/
    * competition/season/stage/stadium/referee objects flattened, game_date =
    * match_date + kick_off (12:00:00.000 when absent). */
  def games(competitionId: Long, seasonId: Long): DataFrame = {
    val m = readJson(s"matches/$competitionId/$seasonId.json")
    val kickOff = coalesce(col("kick_off"), lit("12:00:00.000"))
    m.select(
      col("match_id").as("game_id"),
      col("season.season_id").as("season_id"),
      col("competition.competition_id").as("competition_id"),
      col("competition_stage.name").as("competition_stage"),
      col("match_week").as("game_day"),
      to_timestamp(concat_ws(" ", col("match_date"), kickOff)).as("game_date"),
      col("home_team.home_team_id").as("home_team_id"),
      col("away_team.away_team_id").as("away_team_id"),
      col("home_score"), col("away_score"),
      col("stadium.name").as("venue"),
      col("referee.name").as("referee"))
  }

  private def lineups(gameId: Long): DataFrame = readJson(s"lineups/$gameId.json")

  /** Both teams of a game (`loader.py:193-215`). */
  def teams(gameId: Long): DataFrame =
    lineups(gameId).select("team_id", "team_name")

  /** Event stream of a game (`loader.py:274-368`): `_flatten_id` the nested
    * id/name objects, keep the per-type qualifier bags as ONE JSON `extra`
    * column (the converter's input), optionally left-join the 360 frames on
    * event_id (S5). */
  def events(gameId: Long, load360: Boolean = false): DataFrame = {
    val raw = readJson(s"events/$gameId.json")
    // schema-on-read: optional raw fields may be absent from a file's
    // inferred schema entirely (the reference's dict.get(None) analogue)
    def opt(name: String, tpe: String): Column =
      if (raw.columns.contains(name)) col(name) else lit(null).cast(tpe)
    def optFlat(name: String, as: String): Seq[Column] =
      if (raw.columns.contains(name)) flat(name, as)
      else Seq(lit(null).cast("long").as(s"${as}_id"),
        lit(null).cast("string").as(s"${as}_name"))
    // qualifier bags present in this file's inferred schema → the extra bag
    val bagNames = Seq("pass", "shot", "carry", "dribble", "foul_committed",
      "duel", "interception", "goalkeeper", "clearance", "substitution",
      "tactics", "bad_behaviour", "ball_receipt", "ball_recovery",
      "miscontrol", "block", "fifty_fifty", "half_start", "half_end",
      "injury_stoppage", "player_off")
    val present = bagNames.filter(raw.columns.contains)
    val extra = to_json(struct(present.map(col): _*))

    val base = raw.select(
      Seq(lit(gameId).as("game_id"),
        col("id").as("event_id"),
        col("period").as("period_id"),
        col("team.id").as("team_id"),
        optFlat("player", "player").head.as("player_id")) ++
        flat("type", "type") ++
        Seq(col("index"), col("timestamp"), col("minute"), col("second"),
          col("possession")) ++
        flat("possession_team", "possession_team") ++
        flat("play_pattern", "play_pattern") ++
        Seq(col("team.name").as("team_name"),
          opt("duration", "double").as("duration"),
          extra.as("extra"),
          coalesce(opt("related_events", "array<string>"), array().cast("array<string>"))
            .as("related_events"),
          optFlat("player", "player").last.as("player_name")) ++
        optFlat("position", "position") ++
        Seq(opt("location", "array<double>").as("location"),
          coalesce(opt("under_pressure", "boolean"), lit(false)).as("under_pressure"),
          coalesce(opt("counterpress", "boolean"), lit(false)).as("counterpress")): _*)

    if (!load360) base
    else {
      val frames = readJson(s"three-sixty/$gameId.json").select(
        col("event_uuid").as("event_id"),
        col("visible_area").as("visible_area_360"),
        col("freeze_frame").as("freeze_frame_360"))
      base.join(frames, Seq("event_id"), "left")
    }
  }

  /** All players of a game with minutes played (`loader.py:217-272`): the
    * lineup entries joined with `extract_player_games` output; substitutes
    * get position "Substitute"/0. */
  def players(gameId: Long): DataFrame = {
    val lineup = lineups(gameId).select(
      col("team_id"),
      explode(col("lineup")).as("p"))
      .select(
        col("p.player_id").as("player_id"),
        col("p.player_name").as("player_name"),
        col("p.player_nickname").as("nickname"),
        col("p.jersey_number").as("jersey_number"))
    val pg = StatsBombLoader.extractPlayerGames(events(gameId))
      .select(col("player_id"), col("team_id"),
        coalesce(col("position_id"), lit(0L)).as("starting_position_id"),
        coalesce(col("position_name"), lit("Substitute")).as("starting_position_name"),
        col("minutes_played"))
    lineup.join(pg, Seq("player_id"))
      .withColumn("game_id", lit(gameId))
      .withColumn("is_starter", col("starting_position_id") =!= 0)
      .select("game_id", "team_id", "player_id", "player_name", "nickname",
        "jersey_number", "is_starter", "starting_position_id",
        "starting_position_name", "minutes_played")
  }
}

object StatsBombLoader {

  def apply(spark: SparkSession, root: String): StatsBombLoader =
    new StatsBombLoader(spark, root)

  /** Extra-bag fields `extract_player_games` consults. */
  val playerGamesExtraSchema: StructType = {
    def idName = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    StructType(Seq(
      StructField("tactics", StructType(Seq(
        StructField("formation", LongType),
        StructField("lineup", ArrayType(StructType(Seq(
          StructField("player", idName),
          StructField("position", idName),
          StructField("jersey_number", LongType)))))))),
      StructField("substitution", StructType(Seq(
        StructField("replacement", idName)))),
      StructField("foul_committed", StructType(Seq(StructField("card", idName)))),
      StructField("bad_behaviour", StructType(Seq(StructField("card", idName))))))
  }

  private val RegularCum = Seq(1 -> 0, 2 -> 45, 3 -> 90, 4 -> 105)
  private val RegularLen = Map(1 -> 45, 2 -> 45, 3 -> 15, 4 -> 15)

  /** S6 — minutes played per (game, player) from Starting XI / Substitution /
    * red-card events (`loader.py:371-464`). Works on the `events()` frame
    * (any number of games at once); all stages are per-game aggregations and
    * joins on game_id — no driver-side loops.
    *
    * Period durations come from the Half End events (shoot-outs, period 5,
    * excluded); a timestamp is "expanded" with the injury time of every
    * COMPLETED prior period (`data/base.py:100-123` — period p's overrun
    * counts only when the minute is past p's regular cumulative end, and
    * only for the first nPeriods−1 periods). */
  def extractPlayerGames(events: DataFrame): DataFrame = {
    val x = from_json(col("extra"), playerGamesExtraSchema)

    // per-game period durations + total minutes (Half End rows, periods 1-4)
    val regCum = RegularCum.foldLeft(lit(0)) { case (acc, (p, c)) =>
      when(col("period_id") === p, c).otherwise(acc)
    }
    val halfEnds = events
      .filter(col("type_name") === "Half End" && col("period_id") <= 4)
      .select(col("game_id"), col("period_id"), col("minute")).distinct()
      .withColumn("dur", col("minute") - regCum)
    val durs = halfEnds.groupBy("game_id").agg(
      sum("dur").as("game_minutes"),
      count(lit(1)).as("n_periods") +: (1 to 3).map(p =>
        max(when(col("period_id") === p, col("dur"))).as(s"dur$p")): _*)

    // expand a minute with the injury time of completed prior periods: the
    // overrun of period p once the minute is past p's regular end (the
    // regular start of period p + 1, RegularCum(p))
    def expand(minute: Column): Column = (1 to 3).foldLeft(minute) { (acc, p) =>
      acc + coalesce(when(col("n_periods") > p && minute > RegularCum(p)._2,
        col(s"dur$p") - RegularLen(p)), lit(0))
    }

    // first red card (straight red or second yellow) per (game, player)
    val cardName = coalesce(
      x.getField("foul_committed").getField("card").getField("name"),
      x.getField("bad_behaviour").getField("card").getField("name"))
    val redCards = events
      .withColumn("card", cardName)
      .filter(col("card").isin("Second Yellow", "Red Card"))
      .groupBy(col("game_id"), col("player_id"))
      .agg(min_by(col("minute"), col("index")).as("red_minute"))

    // Starting XI: one row per lineup entry, full game minus red-card cutoff
    val xi = events.filter(col("type_name") === "Starting XI")
      .select(col("game_id"), col("team_id"), col("team_name"),
        explode(x.getField("tactics").getField("lineup")).as("p"))
      .select(col("game_id"), col("team_id"), col("team_name"),
        col("p.player.id").as("player_id"),
        col("p.player.name").as("player_name"),
        col("p.position.id").as("position_id"),
        col("p.position.name").as("position_name"),
        col("p.jersey_number").as("jersey_number"))
      .join(durs, "game_id")
      .join(redCards, Seq("game_id", "player_id"), "left")
      .withColumn("minutes_played",
        when(col("red_minute").isNotNull, expand(col("red_minute")))
          .otherwise(col("game_minutes")))

    // Substitutions: the replacement enters at the expanded minute...
    val subs = events.filter(col("type_name") === "Substitution")
      .select(col("game_id"), col("team_id"), col("team_name"),
        col("player_id").as("out_player_id"), col("minute"),
        x.getField("substitution").getField("replacement").getField("id")
          .as("player_id"),
        x.getField("substitution").getField("replacement").getField("name")
          .as("player_name"))
      .join(durs, "game_id")
      .withColumn("sub_minute", expand(col("minute")))
    val replacements = subs
      .join(redCards, Seq("game_id", "player_id"), "left")
      .withColumn("minutes_played",
        when(col("red_minute").isNotNull, expand(col("red_minute")) - col("sub_minute"))
          .otherwise(col("game_minutes") - col("sub_minute")))
      .select("game_id", "team_id", "team_name", "player_id", "player_name",
        "minutes_played")

    // ...and the player going off keeps only the minutes up to it
    val subbedOut = subs.select(col("game_id"),
      col("out_player_id").as("player_id"), col("sub_minute"))

    val xiFinal = xi
      .join(subbedOut, Seq("game_id", "player_id"), "left")
      .withColumn("minutes_played",
        coalesce(col("sub_minute"), col("minutes_played")))
      .select("game_id", "team_id", "team_name", "player_id", "player_name",
        "position_id", "position_name", "jersey_number", "minutes_played")

    // a replacement has no starting position or jersey: null
    xiFinal.unionByName(replacements, allowMissingColumns = true)
  }
}
