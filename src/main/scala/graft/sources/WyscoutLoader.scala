package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared Wyscout substitution-minutes algebra
  * (`socceraction/data/wyscout/loader.py:782-848` and `_expand_minute`,
  * `data/base.py:100-122`): per-period durations come from the event
  * stream's max clock, red-card / substitution minutes are expanded with
  * the accumulated injury time of earlier periods, and minutes_played
  * follows the reference's lineup/sub-in/sub-out rules.
  *
  * Spark-first shape: durations are ONE aggregation over the events
  * (map-side partial max per (game, period)), broadcast back onto the
  * per-team roster rows; everything else is per-row higher-order-function
  * math over the roster/substitution arrays — no shuffle beyond the one
  * aggregate, valid for all games of a league file at once. */
object WyscoutMinutes {

  private val rosterEntry = StructType(Seq(
    StructField("playerId", LongType),
    StructField("shirtNumber", LongType),
    StructField("redCards", StringType)))

  /** teamsData map schema incl. rosters and substitutions (dynamic team-id
    * keys ⇒ explicit map schema over from_json(to_json(...))). */
  val teamsDataType: MapType = MapType(StringType, StructType(Seq(
    StructField("side", StringType),
    StructField("teamId", LongType),
    StructField("score", LongType),
    StructField("formation", StructType(Seq(
      StructField("lineup", ArrayType(rosterEntry)),
      StructField("bench", ArrayType(rosterEntry)),
      StructField("substitutions", ArrayType(StructType(Seq(
        StructField("playerIn", LongType),
        StructField("playerOut", LongType),
        StructField("minute", LongType)))))))))))

  /** Per-game ordered period durations (minutes): round-half-even of each
    * period's max clock, periods 1–4 with any events (`loader.py:785-794`). */
  def periodDurations(events: DataFrame): DataFrame =
    events
      .filter(col("period_id").between(1, 4))
      .groupBy("game_id", "period_id")
      .agg(max(col("milliseconds")).as("mx"))
      .filter(col("mx") =!= 0)
      .groupBy("game_id")
      .agg(sort_array(collect_list(struct(col("period_id"),
        bround(col("mx") / 60000.0, 0).cast("long").as("dur")))).as("pd"))
      .select(col("game_id"),
        transform(col("pd"), p => p.getField("dur")).as("durations"))

  /** `_expand_minute`: add injury time of every EARLIER period the minute
    * has passed. The reference's break-at-first-false loop equals a filter
    * because the regular-period cumsums are increasing. Null minutes stay
    * null (the additions are exact no-ops on null). */
  def expandMinute(minute: Column, durations: Column): Column = {
    val regular = Seq(45L, 45L, 15L, 15L)
    val cums = regular.scanLeft(0L)(_ + _).drop(1) // 45, 90, 105, 120
    (0 to 3).map { p =>
      when(size(durations) - 1 > p && minute > cums(p),
        element_at(durations, p + 1) - regular(p)).otherwise(0L)
    }.foldLeft(minute)(_ + _)
  }

  /** Player minutes from (game_id, teamsData) rows + converted events.
    * Per reference rules: lineup players play the full duration unless
    * red-carded or subbed out; sub-ins play duration − expanded sub minute
    * (red-card clipped); a subbed-OUT player's minutes are the expanded
    * out-minute (the reference assigns this unconditionally — preserved,
    * including for the sub-in-then-out case). Unused bench players are not
    * emitted (the reference's pg dict never holds them; callers left-join
    * and fill 0). Grain deviation: keyed (team_id, player_id) — the
    * reference's playerId-keyed dict silently lets a later team override an
    * earlier one's entry for the same id. */
  def playerGames(matches: DataFrame, events: DataFrame): DataFrame = {
    val durs = periodDurations(events)
    val teams = matches
      .select(col("game_id"), explode(col("teamsData")).as(Seq("tid", "td")))
      .join(broadcast(durs), "game_id")
      .select(col("game_id"),
        col("td.teamId").as("team_id"),
        col("td.formation.lineup").as("lineup"),
        col("td.formation.bench").as("bench"),
        col("td.formation.substitutions").as("subs"),
        col("durations"))
      .withColumn("duration", aggregate(col("durations"), lit(0L), _ + _))

    val emptyRoster = array().cast(ArrayType(rosterEntry))
    def redOf(pid: Column): Column = {
      val all = concat(coalesce(col("lineup"), emptyRoster),
        coalesce(col("bench"), emptyRoster))
      val hit = get(filter(all, p => p.getField("playerId") === pid &&
        p.getField("redCards").isNotNull && p.getField("redCards") =!= "0"), lit(0))
      expandMinute(hit.getField("redCards").cast("long"), col("durations"))
    }
    def subOutExp(pid: Column): Column =
      expandMinute(
        get(filter(col("subs"), s => s.getField("playerOut") === pid), lit(0))
          .getField("minute"), col("durations"))

    val lineupRows = teams
      .select(col("game_id"), col("team_id"), col("duration"), col("durations"),
        col("lineup"), col("bench"), col("subs"), explode(col("lineup")).as("p"))
      .select(col("game_id"), col("team_id"),
        col("p.playerId").as("player_id"),
        coalesce(col("p.shirtNumber"), lit(0L)).as("jersey_number"),
        lit(true).as("is_starter"),
        coalesce(subOutExp(col("p.playerId")), redOf(col("p.playerId")),
          col("duration")).as("minutes_played"))

    val subInRows = teams
      .select(col("game_id"), col("team_id"), col("duration"), col("durations"),
        col("lineup"), col("bench"), col("subs"), explode(col("subs")).as("s"))
      .select(col("game_id"), col("team_id"), col("durations"), col("duration"),
        col("lineup"), col("bench"), col("subs"),
        col("s.playerIn").as("player_id"),
        expandMinute(col("s.minute"), col("durations")).as("exp_in"))
      .select(col("game_id"), col("team_id"), col("player_id"),
        coalesce(
          get(filter(col("bench"),
            p => p.getField("playerId") === col("player_id")), lit(0))
            .getField("shirtNumber"), lit(0L)).as("jersey_number"),
        lit(false).as("is_starter"),
        coalesce(subOutExp(col("player_id")),
          redOf(col("player_id")) - col("exp_in"),
          col("duration") - col("exp_in")).as("minutes_played"))

    lineupRows.unionByName(subInRows)
  }
}

/** S9 — the Wyscout API loader (local layout): `competitions.json`,
  * `seasons_{competition_id}.json`, `matches_{season_id}.json`,
  * `events_{game_id}.json` (the API payload with events/teams/players/match
  * sections). Reference `socceraction/data/wyscout/loader.py:330-660`
  * (feeds, accessors) and `:662-780` (the *_convert_* projections).
  *
  * `events(gameId)` emits exactly the frame `Wyscout.convertToActions`
  * consumes: wyscout type/subtype ids, `tags` as array<int>, `positions` as
  * array<struct<x,y>>, milliseconds from eventSec, period ids from the
  * 1H/2H/E1/E2/P vocabulary, and a deterministic per-game `seq`.
  */
final class WyscoutLoader(spark: SparkSession, root: String) {

  private def readJson(rel: String): DataFrame =
    spark.read.option("multiLine", true).json(s"$root/$rel")

  /** `_convert_competitions` (`loader.py:662-673`). */
  def competitions(): DataFrame =
    readJson("competitions.json").select(
      col("wyId").as("competition_id"),
      col("name").as("competition_name"),
      when(col("area.name") === "", "International").otherwise(col("area.name"))
        .as("country_name"),
      coalesce(col("gender"), lit("male")).as("competition_gender"))

  /** `_convert_seasons` (`loader.py:676-684`). */
  def seasons(competitionId: Long): DataFrame =
    readJson(s"seasons_$competitionId.json").select(
      col("wyId").as("season_id"),
      col("name").as("season_name"),
      col("competitionId").as("competition_id"))

  /** `_convert_games` (`loader.py:687-707`): teamsData is an object keyed by
    * team id — read with an explicit map schema (dynamic JSON keys must not
    * become inferred struct fields). */
  def games(competitionId: Long, seasonId: Long): DataFrame = {
    val teamsDataType = MapType(StringType,
      StructType(Seq(StructField("side", StringType), StructField("score", LongType))))
    val m = readJson(s"matches_$seasonId.json")
      .select(explode(col("matches")).as("m"))
      .withColumn("teamsData", from_json(to_json(col("m.teamsData")), teamsDataType))
    def sideTeam(side: String): Column =
      element_at(
        map_keys(map_filter(col("teamsData"), (_, v) => v.getField("side") === side)), 1)
        .cast("long")
    m.select(
      col("m.matchId").as("game_id"),
      col("m.competitionId").as("competition_id"),
      col("m.seasonId").as("season_id"),
      to_timestamp(col("m.dateutc")).as("game_date"),
      col("m.gameweek").as("game_day"),
      sideTeam("home").as("home_team_id"),
      sideTeam("away").as("away_team_id"))
      .filter(col("competition_id") === competitionId)
  }

  private def eventsPayload(gameId: Long): DataFrame = readJson(s"events_$gameId.json")

  /** `_convert_teams` (`loader.py:725-732`): the API payload's teams
    * section, an object keyed by team id. */
  def teams(gameId: Long): DataFrame = {
    val teamType = MapType(StringType, StructType(Seq(
      StructField("team", StructType(Seq(
        StructField("wyId", LongType),
        StructField("name", StringType),
        StructField("officialName", StringType)))))))
    eventsPayload(gameId)
      .select(explode(from_json(to_json(col("teams")), teamType)).as(Seq("tid", "t")))
      .select(
        col("t.team.wyId").as("team_id"),
        col("t.team.name").as("team_name_short"),
        col("t.team.officialName").as("team_name"))
  }

  /** `_convert_players` (`loader.py:710-722`). */
  def players(gameId: Long): DataFrame = {
    val playersType = MapType(StringType, ArrayType(StructType(Seq(
      StructField("player", StructType(Seq(
        StructField("wyId", LongType),
        StructField("shortName", StringType),
        StructField("firstName", StringType),
        StructField("lastName", StringType),
        StructField("birthDate", StringType))))))))
    eventsPayload(gameId)
      .select(explode(from_json(to_json(col("players")), playersType)).as(Seq("tid", "ps")))
      .select(col("tid").cast("long").as("team_id"), explode(col("ps")).as("p"))
      .select(
        col("team_id"),
        col("p.player.wyId").as("player_id"),
        col("p.player.shortName").as("nickname"),
        concat_ws(" ", col("p.player.firstName"), col("p.player.lastName"))
          .as("player_name"),
        to_date(col("p.player.birthDate")).as("birth_date"))
      .withColumn("game_id", lit(gameId))
  }

  /** `_convert_events` (`loader.py:735-780`): the raw event array →
    * converter-ready rows. Periods follow the 1H/2H/E1/E2/P map
    * (`wyscout_periods`); `seq` is a per-game (period, eventSec, id)
    * row number — the canonical event order. */
  def events(gameId: Long): DataFrame = {
    val periodId = when(col("e.matchPeriod") === "1H", 1)
      .when(col("e.matchPeriod") === "2H", 2)
      .when(col("e.matchPeriod") === "E1", 3)
      .when(col("e.matchPeriod") === "E2", 4)
      .when(col("e.matchPeriod") === "P", 5)
    val w = Window.partitionBy("game_id")
      .orderBy("period_id", "milliseconds", "event_id")
    eventsPayload(gameId)
      .select(explode(col("events")).as("e"))
      .select(
        col("e.matchId").as("game_id"),
        col("e.id").as("event_id"),
        periodId.cast("int").as("period_id"),
        (col("e.eventSec") * 1000).cast("long").as("milliseconds"),
        col("e.teamId").as("team_id"),
        col("e.playerId").as("player_id"),
        col("e.eventId").cast("int").as("type_id"),
        coalesce(col("e.subEventId").cast("int"), lit(0)).as("subtype_id"),
        col("e.eventName").as("type_name"),
        col("e.subEventName").as("subtype_name"),
        coalesce(transform(col("e.tags"), t => t.getField("id").cast("int")),
          array().cast("array<int>")).as("tags"),
        coalesce(transform(col("e.positions"),
          p => struct(p.getField("x").cast("double").as("x"),
            p.getField("y").cast("double").as("y"))),
          array().cast("array<struct<x:double,y:double>>")).as("positions"))
      .withColumn("seq", row_number().over(w).cast("long"))
  }

  /** Player minutes from the API payload's match.teamsData + events
    * (`loader.py:620-630` → `_get_minutes_played`). */
  def playerGames(gameId: Long): DataFrame = {
    val m = eventsPayload(gameId).select(
      lit(gameId).as("game_id"),
      from_json(to_json(col("match.teamsData")), WyscoutMinutes.teamsDataType)
        .as("teamsData"))
    WyscoutMinutes.playerGames(m, events(gameId))
  }
}

object WyscoutLoader {
  def apply(spark: SparkSession, root: String): WyscoutLoader =
    new WyscoutLoader(spark, root)
}

/** S9 — the PUBLIC Wyscout research dataset layout (Pappalardo et al.,
  * Sci Data 6:236, 2019): one `matches_{Country}.json` / per-league
  * `events_{Country}.json` pair per competition, plus global
  * `competitions.json` / `teams.json` / `players.json`. Reference
  * `socceraction/data/wyscout/loader.py:167-378` (incl. the hardcoded
  * dataset index `loader.py:330-366` — constants of the published
  * dataset).
  *
  * The per-league events file holds every game of the season; `events`
  * filters on matchId (at scale the league files are columnarized once and
  * partition-pruned by game bucket — see StorageLayoutSpec). `players`
  * returns lineup+bench identity rows with sides; `playerGames` adds the
  * full substitution-minutes algebra via [[WyscoutMinutes]]. */
final class PublicWyscoutLoader(spark: SparkSession, root: String) {

  /** (competition_id, season_id, season_name, matches file, events file) —
    * the published dataset's fixed index. */
  val index: Seq[(Long, Long, String, String, String)] = Seq(
    (524L, 181248L, "2017/2018", "matches_Italy.json", "events_Italy.json"),
    (364L, 181150L, "2017/2018", "matches_England.json", "events_England.json"),
    (795L, 181144L, "2017/2018", "matches_Spain.json", "events_Spain.json"),
    (412L, 181189L, "2017/2018", "matches_France.json", "events_France.json"),
    (426L, 181137L, "2017/2018", "matches_Germany.json", "events_Germany.json"),
    (102L, 9291L, "2016", "matches_European_Championship.json", "events_European_Championship.json"),
    (28L, 10078L, "2018", "matches_World_Cup.json", "events_World_Cup.json"))

  private def readJson(rel: String): DataFrame =
    spark.read.option("multiLine", true).json(s"$root/$rel")

  private def filesFor(competitionId: Long): (String, String) = {
    val e = index.find(_._1 == competitionId)
      .getOrElse(throw new IllegalArgumentException(
        s"competition $competitionId is not part of the public dataset"))
    (e._4, e._5)
  }

  /** competitions.json ⋈ the dataset index (`loader.py:167-203`). */
  def competitions(): DataFrame = {
    import spark.implicits._
    val idx = index.map(e => (e._1, e._2, e._3))
      .toDF("competition_id", "season_id", "season_name")
    readJson("competitions.json").select(
      col("wyId").as("competition_id"),
      col("name").as("competition_name"),
      when(col("area.name") === "", "International").otherwise(col("area.name"))
        .as("country_name"),
      lit("male").as("competition_gender"))
      .join(idx, Seq("competition_id"), "left")
  }

  private def matchesOf(competitionId: Long): DataFrame =
    readJson(filesFor(competitionId)._1)
      .withColumn("teamsData",
        from_json(to_json(col("teamsData")), WyscoutMinutes.teamsDataType))

  /** Games of a season (`loader.py:205-223` + `_convert_games`). */
  def games(competitionId: Long, seasonId: Long): DataFrame = {
    def sideTeam(side: String): Column =
      element_at(
        map_keys(map_filter(col("teamsData"), (_, v) => v.getField("side") === side)), 1)
        .cast("long")
    matchesOf(competitionId)
      .filter(col("seasonId") === seasonId)
      .select(
        col("wyId").as("game_id"),
        col("competitionId").as("competition_id"),
        col("seasonId").as("season_id"),
        to_timestamp(col("dateutc")).as("game_date"),
        col("gameweek").as("game_day"),
        sideTeam("home").as("home_team_id"),
        sideTeam("away").as("away_team_id"))
  }

  /** Both teams of a game via the global teams.json (`loader.py:231-249`). */
  def teams(competitionId: Long, gameId: Long): DataFrame = {
    val lineup = matchesOf(competitionId)
      .filter(col("wyId") === gameId)
      .select(explode(col("teamsData")).as(Seq("tid", "td")))
      .select(col("td.teamId").as("team_id"))
    readJson("teams.json").select(
      col("wyId").as("team_id"),
      col("name").as("team_name_short"),
      col("officialName").as("team_name"))
      .join(lineup, "team_id")
  }

  /** Lineup + bench identity rows of a game, joined with players.json
    * (`loader.py:251-302`, identity subset; lineup members are starters). */
  def players(competitionId: Long, gameId: Long): DataFrame = {
    val base = matchesOf(competitionId)
      .filter(col("wyId") === gameId)
      .select(explode(col("teamsData")).as(Seq("tid", "td")))
    def roster(field: String, starter: Boolean): DataFrame = base
      .select(col("td.teamId").as("team_id"), col("td.side").as("side"),
        explode(coalesce(col(s"td.formation.$field"),
          array().cast(
            "array<struct<playerId:bigint,shirtNumber:bigint,redCards:string>>")))
          .as("p"))
      .select(col("team_id"), col("side"), col("p.playerId").as("player_id"),
        lit(starter).as("is_starter"))
    val identities = readJson("players.json").select(
      col("wyId").as("player_id"),
      col("shortName").as("nickname"),
      concat_ws(" ", col("firstName"), col("lastName")).as("player_name"),
      to_date(col("birthDate")).as("birth_date"))
    roster("lineup", starter = true).unionByName(roster("bench", starter = false))
      .join(identities, Seq("player_id"), "left")
      .withColumn("game_id", lit(gameId))
  }

  /** Player minutes of a game: teamsData rosters/substitutions + the
    * per-league event clocks (`loader.py:304-319` → `_get_minutes_played`). */
  def playerGames(competitionId: Long, gameId: Long): DataFrame =
    WyscoutMinutes.playerGames(
      matchesOf(competitionId).filter(col("wyId") === gameId)
        .select(col("wyId").as("game_id"), col("teamsData")),
      events(competitionId, gameId))

  /** Event rows of a game from the per-league file (`loader.py:321-345` +
    * `_convert_events`) — same output contract as WyscoutLoader.events. */
  def events(competitionId: Long, gameId: Long): DataFrame = {
    val periodId = when(col("e.matchPeriod") === "1H", 1)
      .when(col("e.matchPeriod") === "2H", 2)
      .when(col("e.matchPeriod") === "E1", 3)
      .when(col("e.matchPeriod") === "E2", 4)
      .when(col("e.matchPeriod") === "P", 5)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("game_id")
      .orderBy("period_id", "milliseconds", "event_id")
    readJson(filesFor(competitionId)._2)
      .filter(col("matchId") === gameId)
      .select(struct(col("*")).as("e"))
      .select(
        col("e.matchId").as("game_id"),
        col("e.id").as("event_id"),
        periodId.cast("int").as("period_id"),
        (col("e.eventSec") * 1000).cast("long").as("milliseconds"),
        col("e.teamId").as("team_id"),
        col("e.playerId").as("player_id"),
        col("e.eventId").cast("int").as("type_id"),
        coalesce(col("e.subEventId").cast("int"), lit(0)).as("subtype_id"),
        col("e.eventName").as("type_name"),
        col("e.subEventName").as("subtype_name"),
        coalesce(transform(col("e.tags"), t => t.getField("id").cast("int")),
          array().cast("array<int>")).as("tags"),
        coalesce(transform(col("e.positions"),
          p => struct(p.getField("x").cast("double").as("x"),
            p.getField("y").cast("double").as("y"))),
          array().cast("array<struct<x:double,y:double>>")).as("positions"))
      .withColumn("seq", row_number().over(w).cast("long"))
  }
}

object PublicWyscoutLoader {
  def apply(spark: SparkSession, root: String): PublicWyscoutLoader =
    new PublicWyscoutLoader(spark, root)
}
