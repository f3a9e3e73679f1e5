package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S7/S8 — the Opta feed loader: Stats Perform MA1 (schedule) + MA3
  * (match events) JSON feeds, classic F1 (schedule) / F9 (match result) /
  * F24 (events) JSON feeds, and F7 / F24 XML feeds via Spark's native XML
  * source. Reference `socceraction/data/opta/loader.py:207-478`
  * (feed-pattern dispatch, accessor assembly, event-type dim join,
  * sort/cleanup) and `socceraction/data/opta/parsers/` (per-feed field
  * extraction, qualifier maps, end-coordinate qualifiers, minutes
  * algebra).
  *
  * Feed files are located by glob patterns with `{competition_id}`,
  * `{season_id}`, `{game_id}` placeholders (same contract as the
  * reference); each accessor is a JSON scan + explode + projection, and
  * `events(gameId)` emits exactly the frame `Opta.convertToActions`
  * consumes (type_name, outcome, percent coordinates, qualifier-id array).
  * The four event flavours (MA3, F24 JSON, F24 XML, WhoScored) share one
  * reader, [[readEvents]]; the two result feeds (F9 JSON, F7 XML) share
  * one [[ResultFeed]] body per accessor.
  */
final class OptaLoader(spark: SparkSession, root: String,
                       feeds: Map[String, String] = OptaLoader.StatsPerformFeeds) {

  private def paths(feed: String, competitionId: String = "*",
                    seasonId: String = "*", gameId: String = "*"): Seq[String] = {
    val pattern = feeds(feed)
      .replace("{competition_id}", competitionId)
      .replace("{season_id}", seasonId)
      .replace("{game_id}", gameId)
    val rx = java.util.regex.Pattern.compile(
      pattern.replace(".", "\\.").replace("*", ".*"))
    // through the root's Hadoop filesystem, so a file:, hdfs: or s3a: URI
    // lists like a plain path
    val dir = new org.apache.hadoop.fs.Path(root)
    val found = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath).filter(p => rx.matcher(p.getName).matches())
      .map(_.toString).toSeq.sorted
    if (found.isEmpty) throw new IllegalArgumentException(
      s"no $feed feed file matches '$pattern' under $root")
    found
  }

  private def readJson(ps: Seq[String]): DataFrame =
    spark.read.option("multiLine", true).json(ps: _*)

  private def readXml(rowTag: String, ps: Seq[String]): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(ps: _*)

  /** An attribute of a JSON feed element (its `@attributes` bag). */
  private def bag(c: Column, name: String): Column = c.getField("@attributes").getField(name)

  /** An attribute of an XML feed element (Spark's `_` prefix). */
  private def xmlAttr(c: Column, name: String): Column = c.getField("_" + name)

  /** An ISO-8601 instant with an optional trailing `Z`. */
  private def isoTimestamp(c: Column): Column = to_timestamp(regexp_replace(c, "Z$", ""))

  /** Competitions and seasons from the MA1 schedule feeds
    * (`ma1_json.py:52-74`). */
  def competitions(): DataFrame =
    readJson(paths("ma1"))
      .select(explode(col("match")).as("m"))
      .select(
        col("m.matchInfo.competition.id").as("competition_id"),
        col("m.matchInfo.competition.name").as("competition_name"),
        col("m.matchInfo.tournamentCalendar.id").as("season_id"),
        col("m.matchInfo.tournamentCalendar.name").as("season_name"))
      .distinct()

  /** All games of a season from the MA1 schedule (`ma1_json.py:76-133`). */
  def games(competitionId: String, seasonId: String): DataFrame = {
    val m = readJson(paths("ma1")).select(explode(col("match")).as("m"))
      .select(col("m.matchInfo").as("mi"), col("m.liveData").as("ld"))
      .filter(col("mi.competition.id") === competitionId &&
        col("mi.tournamentCalendar.id") === seasonId)
    def teamBySide(side: String): Column =
      Feeds.onSide(col("mi.contestant"), side, _.getField("position")).getField("id")
    m.select(
      col("mi.id").as("game_id"),
      col("mi.competition.id").as("competition_id"),
      col("mi.tournamentCalendar.id").as("season_id"),
      col("mi.week").cast("int").as("game_day"),
      to_timestamp(concat(
        substring(col("mi.date"), 1, 10), lit("T"),
        substring(col("mi.time"), 1, 8))).as("game_date"),
      teamBySide("home").as("home_team_id"),
      teamBySide("away").as("away_team_id"),
      col("ld.matchDetails.scores.total.home").as("home_score"),
      col("ld.matchDetails.scores.total.away").as("away_score"),
      col("mi.venue.shortName").as("venue"))
  }

  private def ma3(gameId: String): DataFrame =
    readJson(paths("ma3", gameId = gameId))

  /** Both teams from the MA3 contestants (`ma3_json.py:103-122`). */
  def teams(gameId: String): DataFrame =
    ma3(gameId)
      .select(explode(col("matchInfo.contestant")).as("c"))
      .select(col("c.id").as("team_id"), col("c.name").as("team_name"))

  /** What one event flavour supplies to [[readEvents]], as expressions
    * over its exploded event `e`: the qualifier list with its id and value
    * extractors, and the raw event fields. Only MA3 carries a player name;
    * only WhoScored carries explicit end coordinates, which win over the
    * qualifier-derived ones. */
  private case class EventFields(
      quals: Column, qualId: Column => Column, qualValue: Column => Column,
      id: Column, period: Column, minute: Column, second: Column, timestamp: Column,
      team: Column, player: Column, typeId: Column, outcome: Column, x: Column, y: Column,
      playerName: Option[Column] = None,
      endX: Option[Column] = None, endY: Option[Column] = None)

  /** The event reader of every flavour (`ma3_json.py:240-292`,
    * `f24_json.py:68-123`, `f24_xml.py:57-108`, `whoscored.py:189-249`):
    * `raw` holds `game_id` and the exploded event `e`. Builds the qualifier
    * id→value map, derives end coordinates from qualifiers 140/141 (pass) /
    * 146/147 (blocked shot) / 102/103 (goal line), reads an absent outcome
    * as success, drops deleted events, and applies the loader's tail: the
    * event-type dim join and the canonical per-game ordering
    * (`loader.py:432-478`). */
  private def readEvents(raw: DataFrame, f: EventFields): DataFrame = {
    // a null qualifier array yields a null map / empty id list; element_at
    // on null is null → all probes fall through
    def qnum(id: Int): Column = element_at(col("qmap"), id).cast("double")
    val x = f.x.cast("double")
    val y = f.y.cast("double")
    raw
      .withColumn("qmap", map_from_entries(transform(f.quals,
        q => struct(f.qualId(q).as("key"), f.qualValue(q).as("value")))))
      .select(Seq(
        col("game_id"),
        f.id.cast("long").as("event_id"),
        f.period.cast("int").as("period_id"),
        f.minute.cast("long").as("minute"),
        greatest(f.second.cast("long"), lit(0L)).as("second"), // pre-match -3..-1 → 0
        f.timestamp.as("timestamp"),
        f.team.as("team_id"),
        f.player.as("player_id")) ++
        f.playerName.map(_.as("player_name")) ++ Seq(
        f.typeId.cast("int").as("type_id"),
        coalesce(f.outcome.cast("int") === 1, lit(true)).as("outcome"),
        x.as("start_x"),
        y.as("start_y"),
        coalesce(f.endX.map(_.cast("double")).toSeq ++
          Seq(qnum(140), qnum(146), qnum(102), x): _*).as("end_x"),
        coalesce(f.endY.map(_.cast("double")).toSeq ++
          Seq(qnum(141), qnum(147), qnum(103), y): _*).as("end_y"),
        coalesce(transform(f.quals, q => f.qualId(q).cast("int")),
          array().cast("array<int>")).as("qualifiers"),
        col("qmap")): _*)
      .filter(col("type_id") =!= 43) // deleted events
      .join(broadcast(OptaLoader.eventTypes(spark)), Seq("type_id"), "left")
      .withColumn("seq",
        row_number().over(Window.partitionBy("game_id")
          .orderBy("period_id", "minute", "second", "timestamp", "event_id")).cast("long"))
  }

  /** Raw event rows of a game from the MA3 liveData.event list
    * ([[readEvents]]). */
  def events(gameId: String): DataFrame =
    readEvents(
      ma3(gameId).select(
        col("matchInfo.id").as("game_id"),
        explode(col("liveData.event")).as("e")),
      EventFields(col("e.qualifier"), _.getField("qualifierId"), _.getField("value"),
        id = col("e.id"), period = col("e.periodId"), minute = col("e.timeMin"),
        second = col("e.timeSec"), timestamp = isoTimestamp(col("e.timeStamp")),
        team = col("e.contestantId"), player = col("e.playerId"),
        typeId = col("e.typeId"), outcome = col("e.outcome"), x = col("e.x"), y = col("e.y"),
        playerName = Some(col("e.playerName"))))

  // ---- F1 JSON feed (`parsers/f1_json.py`) ----------------------------
  // Schedule feed: OptaFeed→OptaDocument with a MatchData list; uID values
  // carry a one-letter prefix ("g123" → 123).

  private def stripU(c: Column): Column = substring(c, 2, 1000).cast("long")

  /** Home/away team ids and scores from a TeamData list (F1 per match, F9
    * and F7 per game), read through the feed's attribute accessor. */
  private def sideColumns(teams: Column, attr: (Column, String) => Column): Seq[Column] = {
    def side(s: String, name: String): Column =
      attr(Feeds.onSide(teams, s, attr(_, "Side")), name)
    Seq(stripU(side("Home", "TeamRef")).as("home_team_id"),
      stripU(side("Away", "TeamRef")).as("away_team_id"),
      side("Home", "Score").cast("long").as("home_score"),
      side("Away", "Score").cast("long").as("away_score"))
  }

  private def f1Doc(): DataFrame =
    readJson(paths("f1"))
      .filter(col("data.OptaFeed").isNotNull)
      .select(col("data.OptaFeed.OptaDocument").as("d"))

  /** Competitions from the F1 schedule (`f1_json.py:32-52`). */
  def f1Competitions(): DataFrame =
    f1Doc().select(
      col("d.`@attributes`.competition_id").cast("long").as("competition_id"),
      col("d.`@attributes`.competition_name").as("competition_name"),
      col("d.`@attributes`.season_id").cast("long").as("season_id"),
      col("d.`@attributes`.season_id").cast("string").as("season_name"))

  /** Games from the F1 schedule (`f1_json.py:54-103`): per-match home/away
    * sides and scores from TeamData. */
  def f1Games(): DataFrame = {
    val m = f1Doc().select(
      col("d.`@attributes`.competition_id").cast("long").as("competition_id"),
      col("d.`@attributes`.season_id").cast("long").as("season_id"),
      explode(col("d.MatchData")).as("m"))
    m.select(Seq(
      stripU(col("m.`@attributes`.uID")).as("game_id"),
      col("competition_id"), col("season_id"),
      col("m.MatchInfo.`@attributes`.MatchDay").cast("int").as("game_day"),
      to_timestamp(col("m.MatchInfo.Date")).as("game_date")) ++
      sideColumns(col("m.TeamData"), bag): _*)
  }

  // ---- F9 JSON / F7 XML result feeds (`parsers/f9_json.py`, `f7_xml.py`)
  // Optional feed elements (a whole Substitution/Booking list, or single
  // attributes like Retired) are OMITTED from real files when absent, so
  // the inferred schema of a normal match must not fail at analysis time:
  // members resolve defensively against the actual schema — absent array →
  // typed empty, single element inferred as a bare struct → wrapped,
  // absent attribute → NULL (the coalesce chains fall through).

  private def memberType(parent: StructType, name: String): Option[DataType] =
    parent.find(_.name == name).map(_.dataType)

  private def memberStruct(parent: StructType, name: String): Option[StructType] =
    memberType(parent, name).flatMap {
      case ArrayType(st: StructType, _) => Some(st)
      case st: StructType => Some(st)
      case _ => None
    }

  private def optArr(parent: StructType, prefix: String, name: String, ddl: String): Column =
    memberType(parent, name) match {
      case Some(ArrayType(_: StructType, _)) => col(s"$prefix.$name")
      case Some(_: StructType) => array(col(s"$prefix.$name"))
      // explicit JSON null / empty XML element infers a non-struct type —
      // same degraded path as a missing member (accessors assume struct)
      case _ => lit(null).cast(s"array<$ddl>")
    }

  /** A nested member as an array column, wrapping the bare struct a
    * single XML/JSON element infers to. For required members (no DDL
    * fallback — absence should still fail loudly). */
  private def pathAsArray(df: DataFrame, path: String): Column =
    scala.util.Try(df.select(col(path)).schema.head.dataType).toOption match {
      case Some(_: ArrayType) => col(path)
      case _ => array(col(path))
    }

  /** One result-feed dialect. F9 JSON and F7 XML carry the same match
    * result, spelled differently: attributes in an `@attributes` bag vs
    * `_`-prefixed XML attributes (`attr`, and `attrNames` lists an
    * element's attributes), a Stat's value in `@value` vs `_VALUE`,
    * attendance as a MatchInfo element vs attribute, and the booking minute
    * as `Time` (`f9_json.py:208-216`) vs `Min` (`f7_xml.py:171-178`).
    * `doc` reads a game's document as one struct column `d`; `subsDdl` /
    * `bookDdl` type an absent Substitution/Booking member; `teamCols` /
    * `playerCols` are the lineup columns whose names and order the two
    * reference parsers choose differently. */
  private final class ResultFeed(
      val doc: String => DataFrame,
      attr: (Column, String) => Column,
      attrNames: StructType => Set[String],
      statValue: String, attendance: String,
      subsDdl: String, bookDdl: String, bookTime: String,
      teamCols: Column => Seq[Column], playerCols: Column => Seq[Column]) {

    private def stat(d: DataFrame, path: String, name: String): Column =
      element_at(filter(pathAsArray(d, path), s => attr(s, "Type") === name), 1)
        .getField(statValue)

    /** `attr` that degrades to NULL when the inferred element schema lacks
      * the attribute (or the element). */
    private def attrOrNull(elem: Option[StructType]): (Column, String) => Column = {
      val names = elem.map(attrNames).getOrElse(Set.empty[String])
      (c, f) => if (elem.isEmpty || names(f)) attr(c, f) else lit(null).cast("string")
    }

    /** sub_on/sub_off/red-card minutes rule (`f9_json.py:176-266`,
      * `f7_xml.py:142-210`) over the `subs` / `bookings` / `match_time`
      * columns of a TeamData row of type `tdType`: per player, sub_on =
      * their first non-Retired SubOn entry (else match_time for an unused
      * Sub, 0 for a starter), sub_off = their first SubOff entry (else the
      * red-card minute, else match_time); minutes = sub_off − sub_on. */
    private def minutesPlayed(tdType: StructType, pref: Column, status: Column): Column = {
      val sAttr = attrOrNull(memberStruct(tdType, "Substitution"))
      val bAttr = attrOrNull(memberStruct(tdType, "Booking"))
      def subOf(p: Column => Column): Column =
        sAttr(get(filter(col("subs"), p), lit(0)), "Time").cast("long")
      val subOn = coalesce(subOf(s => sAttr(s, "Retired").isNull && sAttr(s, "SubOn") === pref),
        when(status === "Sub", col("match_time")).otherwise(0L))
      val redTime = bAttr(get(filter(col("bookings"),
          b => bAttr(b, "CardType").isin("Red", "SecondYellow") &&
            bAttr(b, "PlayerRef") === pref), lit(0)), bookTime)
        .cast("long")
      coalesce(subOf(s => sAttr(s, "SubOff") === pref), redTime, col("match_time")) - subOn
    }

    /** Game header (`f9_json.py:49-115`, `f7_xml.py:58-119`); a single XML
      * element infers as a bare struct, so every repeated member is
      * wrapped before the array ops. */
    def games(gameId: String): DataFrame = {
      val d = doc(gameId)
      d.select(Seq(
        stripU(attr(col("d"), "uID")).as("game_id"),
        stripU(attr(col("d.Competition"), "uID")).as("competition_id"),
        stat(d, "d.Competition.Stat", "season_id").cast("long").as("season_id"),
        stat(d, "d.Competition.Stat", "matchday").cast("int").as("game_day"),
        to_timestamp(col("d.MatchData.MatchInfo.Date"), "yyyyMMdd'T'HHmmssZ")
          .as("game_date")) ++
        sideColumns(pathAsArray(d, "d.MatchData.TeamData"), attr) ++ Seq(
        stat(d, "d.MatchData.Stat", "match_time").cast("long").as("duration"),
        col("d.Venue.Name").as("venue"),
        col(attendance).cast("long").as("attendance")): _*)
    }

    /** Lineups with the substitution-minutes algebra ([[minutesPlayed]]) —
      * map-only, every game one row-group, no shuffle. */
    def lineups(gameId: String): DataFrame = {
      val d = doc(gameId)
      val base = d.select(
        stripU(attr(col("d"), "uID")).as("game_id"),
        stat(d, "d.MatchData.Stat", "match_time").cast("long").as("match_time"),
        explode(pathAsArray(d, "d.MatchData.TeamData")).as("td"))
      val tdType = base.schema("td").dataType.asInstanceOf[StructType]
      val exploded = base.select(col("game_id"), col("match_time"), col("td"),
        optArr(tdType, "td", "Substitution", subsDdl).as("subs"),
        optArr(tdType, "td", "Booking", bookDdl).as("bookings"),
        explode(col("td.PlayerLineUp.MatchPlayer")).as("p"))
      val pref = attr(col("p"), "PlayerRef")
      val status = attr(col("p"), "Status")
      exploded.select(
        Seq(col("game_id"), stripU(attr(col("td"), "TeamRef")).as("team_id")) ++
          teamCols(col("td")) ++ Seq(stripU(pref).as("player_id")) ++
          playerCols(col("p")) ++ Seq(
          (status === "Start").as("is_starter"),
          minutesPlayed(tdType, pref, status).as("minutes_played")): _*)
    }
  }

  private val F9 = new ResultFeed(
    doc = gameId => readJson(paths("f9", gameId = gameId))
      .filter(col("data.OptaFeed").isNotNull)
      .select(element_at(col("data.OptaFeed.OptaDocument"), 1).as("d")),
    attr = bag,
    attrNames = memberStruct(_, "@attributes").map(_.fieldNames.toSet).getOrElse(Set.empty),
    statValue = "@value",
    attendance = "d.MatchData.MatchInfo.Attendance",
    subsDdl = "struct<`@attributes`:struct<Retired:string,SubOn:string,SubOff:string,Time:string>>",
    bookDdl = "struct<`@attributes`:struct<CardType:string,PlayerRef:string,Time:string>>",
    bookTime = "Time",
    teamCols = _ => Nil,
    playerCols = p => Seq(bag(p, "ShirtNumber").cast("long").as("jersey_number"),
      bag(p, "Position").as("starting_position")))

  // element text of attributed XML nodes lands in `_VALUE`
  private val F7 = new ResultFeed(
    doc = gameId => readXml("SoccerDocument", paths("f7", gameId = gameId))
      .select(struct(col("*")).as("d")),
    attr = xmlAttr,
    attrNames = _.fieldNames.collect { case n if n.startsWith("_") => n.drop(1) }.toSet,
    statValue = "_VALUE",
    attendance = "d.MatchData.MatchInfo._Attendance",
    subsDdl = "struct<_Retired:string,_SubOn:string,_SubOff:string,_Time:string>",
    bookDdl = "struct<_CardType:string,_PlayerRef:string,_Min:string>",
    bookTime = "Min",
    teamCols = td => Seq(xmlAttr(td, "Formation").cast("string").as("formation"),
      xmlAttr(td, "Side").as("side")),
    playerCols = p => Seq(xmlAttr(p, "Position").as("position"),
      xmlAttr(p, "ShirtNumber").cast("long").as("jersey_number")))

  /** Game header from the F9 result feed ([[ResultFeed.games]]). */
  def f9Games(gameId: String): DataFrame = F9.games(gameId)

  /** Teams from the F9 result feed (`f9_json.py:116-139`). */
  def f9Teams(gameId: String): DataFrame =
    F9.doc(gameId)
      .select(explode(col("d.Team")).as("t"))
      .filter(col("t.id").isNotNull)
      .select(col("t.id").cast("long").as("team_id"),
        col("t.nameObj.name").as("team_name"))

  /** Lineups from the F9 result feed ([[ResultFeed.lineups]]). */
  def f9Lineups(gameId: String): DataFrame = F9.lineups(gameId)

  /** Game header from the F7 XML feed ([[ResultFeed.games]]). */
  def f7Games(gameId: String): DataFrame = F7.games(gameId)

  /** Teams from the F7 XML feed (`f7_xml.py:121-140`). */
  def f7Teams(gameId: String): DataFrame =
    F7.doc(gameId)
      .select(explode(col("d.Team")).as("t"))
      .select(stripU(col("t._uID")).as("team_id"), col("t.Name").as("team_name"))

  /** Lineups from the F7 XML feed, with the formation and side of each
    * team ([[ResultFeed.lineups]]). */
  def f7Lineups(gameId: String): DataFrame = F7.lineups(gameId)

  // ---- WhoScored matchCentreData feed (`parsers/whoscored.py`) --------
  // One JSON object per game (ids live in the file name); event types and
  // outcomes are {value, displayName} pairs, qualifiers a list of typed
  // objects, minutes already expanded across periods.

  private def ws(gameId: String): DataFrame =
    readJson(paths("whoscored", gameId = gameId))

  /** Both sides of a WhoScored game from one read of its file: per side,
    * game_id and team_id followed by `cols(side)` (`side` is "home" or
    * "away", the name of the side's object). */
  private def wsSides(gameId: String)(cols: String => Seq[Column]): DataFrame = {
    val d = ws(gameId)
    def side(s: String): DataFrame = d.select(Seq(
      lit(gameId.toLong).as("game_id"),
      col(s"$s.teamId").cast("long").as("team_id")) ++ cols(s): _*)
    side("home").unionByName(side("away"))
  }

  /** Game header (`whoscored.py:97-131`); competition/season ids come from
    * the feed path, so the caller passes them through. */
  def wsGames(gameId: String, competitionId: Long, seasonId: Long): DataFrame =
    ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      lit(competitionId).as("competition_id"),
      lit(seasonId).as("season_id"),
      to_timestamp(col("startTime")).as("game_date"),
      col("home.teamId").cast("long").as("home_team_id"),
      col("away.teamId").cast("long").as("away_team_id"),
      col("home.scores.running").cast("long").as("home_score"),
      col("away.scores.running").cast("long").as("away_score"),
      col("expandedMaxMinute").cast("long").as("duration"),
      col("referee.name").as("referee"),
      col("attendance").cast("long").as("attendance"))

  /** Both teams (`whoscored.py:133-150`). */
  def wsTeams(gameId: String): DataFrame =
    wsSides(gameId)(s => Seq(col(s"$s.name").as("team_name"))).drop("game_id")

  /** Event rows (`whoscored.py:189-249`, [[readEvents]]): typed qualifier
    * objects (a valueless qualifier reads "true"), endX/endY preferred over
    * qualifier-derived ends, expanded minutes, outcomeType.value as the
    * outcome. */
  def wsEvents(gameId: String): DataFrame =
    readEvents(
      ws(gameId).select(lit(gameId.toLong).as("game_id"), explode(col("events")).as("e")),
      EventFields(col("e.qualifiers"), _.getField("type").getField("value").cast("int"),
        q => coalesce(q.getField("value").cast("string"), lit("true")),
        id = coalesce(col("e.id"), col("e.eventId")), period = col("e.period.value"),
        minute = col("e.expandedMinute"), second = coalesce(col("e.second"), lit(0L)),
        timestamp = lit(null).cast("timestamp"), // not in the stream
        team = col("e.teamId").cast("long"), player = col("e.playerId").cast("long"),
        typeId = col("e.type.value"), outcome = col("e.outcomeType.value"),
        x = col("e.x"), y = col("e.y"), endX = Some(col("e.endX")), endY = Some(col("e.endY"))))

  /** periodMinuteLimits / periodEndMinutes are objects keyed by period-id
    * string → read as maps so a computed key can index them. */
  private val longMap = MapType(StringType, LongType)

  /** An expanded minute as a minute of its period: less the previous
    * period's entry in the periodMinuteLimits map `lims`. */
  private def periodMinute(minute: Column, periodId: Column, lims: Column): Column =
    minute - when(periodId > 1,
      coalesce(element_at(lims, (periodId - 1).cast("string")), lit(0L))).otherwise(0L)

  /** Substitutions from the WhoScored stream (`whoscored.py:251-274`):
    * sub-on events (type 19) with the replaced player attached, plus the
    * period-relative millisecond clock derived from periodMinuteLimits. */
  def wsSubstitutions(gameId: String): DataFrame = {
    val raw = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      col("periodMinuteLimits").as("lims"),
      explode(col("events")).as("e"))
      .filter(col("e.type.value") === 19)
    val periodId = col("e.period.value").cast("int")
    val minute = periodMinute(col("e.minute").cast("long"), periodId,
      from_json(to_json(col("lims")), longMap))
    raw.select(
      col("game_id"),
      col("e.teamId").cast("long").as("team_id"),
      periodId.as("period_id"),
      ((minute * 60 + coalesce(col("e.second"), lit(0L)).cast("long")) * 1000)
        .as("period_milliseconds"),
      col("e.playerId").cast("long").as("player_in_id"),
      col("e.relatedPlayerId").cast("long").as("player_out_id"))
  }

  /** Per-player aggregated game stats with the expanded-minutes algebra
    * (`whoscored.py:355-421`): minute_end = red-card minute if any, else
    * subbedOutExpandedMinute; the four starter/sub cases yield
    * minute_start/minute_end/minutes_played against expandedMaxMinute.
    * The dynamic per-stat dicts are emitted long-form by [[wsPlayerStats]]
    * (a tidy reshape of the reference's per-row stat columns). */
  def wsPlayerGameStats(gameId: String): DataFrame = {
    val exploded = wsSides(gameId)(s => Seq(
      col("expandedMaxMinute").cast("long").as("max_minute"),
      from_json(to_json(col(s"$s.incidentEvents")), wsIncidentsType).as("incidents"),
      explode(from_json(to_json(col(s"$s.players")), wsPlayersType)).as("p")))
    val pid = col("p.playerId").cast("long")
    val red = get(filter(col("incidents"),
        e => e.getField("cardType").getField("displayName").isin("Red", "SecondYellow") &&
          e.getField("playerId").cast("long") === pid), lit(0))
      .getField("expandedMinute").cast("long")
    val isStarter = coalesce(col("p.isFirstEleven"), lit(false))
    val subbedIn = col("p.subbedInExpandedMinute").cast("long")
    val subbedOut = coalesce(red, col("p.subbedOutExpandedMinute").cast("long"))
    // the reference's four cases, in order (`whoscored.py:396-414`)
    val minuteStart = when(isStarter, 0L).otherwise(subbedIn)
    val minuteEnd = when(isStarter && subbedOut.isNull, col("max_minute"))
      .when(isStarter, subbedOut)
      .when(subbedIn.isNotNull && subbedOut.isNull, col("max_minute"))
      .otherwise(subbedOut)
    val minutes = when(isStarter && subbedOut.isNull, col("max_minute"))
      .when(isStarter, subbedOut)
      .when(subbedIn.isNotNull && subbedOut.isNull, col("max_minute") - subbedIn)
      .when(subbedIn.isNotNull, subbedOut - subbedIn)
      .otherwise(0L)
    exploded.select(
      col("game_id"), col("team_id"), pid.as("player_id"),
      isStarter.as("is_starter"),
      col("p.position").as("position_code"),
      coalesce(col("p.shirtNo").cast("long"), lit(0L)).as("jersey_number"),
      coalesce(col("p.isManOfTheMatch"), lit(false)).as("mvp"),
      minuteStart.as("minute_start"),
      minuteEnd.as("minute_end"),
      minutes.as("minutes_played"))
  }

  /** (stat, vals) dynamic stat dicts long-form after the `keys`: the
    * camelCase name snake_cased, the dict's minute-keyed values summed. */
  private def statRows(df: DataFrame, keys: String*): DataFrame =
    df.select(keys.map(col) ++ Seq(
      lower(regexp_replace(regexp_replace(col("stat"),
        "(.)([A-Z][a-z]+)", "$1_$2"), "([a-z0-9])([A-Z])", "$1_$2")).as("stat"),
      aggregate(map_values(col("vals")), lit(0.0), _ + _).as("value")): _*)

  private val statMapType = MapType(StringType, MapType(StringType, DoubleType))

  /** Explicit schemas for the side-asymmetric WhoScored JSON (a side whose
    * players never carry e.g. subbedInExpandedMinute would otherwise infer
    * a struct without the field and break the shared projection). */
  private val wsPlayersType: DataType =
    ArrayType(StructType(Seq(
      StructField("playerId", LongType),
      StructField("isFirstEleven", BooleanType),
      StructField("position", StringType),
      StructField("shirtNo", LongType),
      StructField("isManOfTheMatch", BooleanType),
      StructField("subbedInExpandedMinute", LongType),
      StructField("subbedOutExpandedMinute", LongType),
      StructField("stats", statMapType))))

  private val wsIncidentsType: DataType =
    ArrayType(StructType(Seq(
      StructField("playerId", LongType),
      StructField("expandedMinute", LongType),
      StructField("cardType", StructType(Seq(
        StructField("value", LongType),
        StructField("displayName", StringType)))))))

  /** Per-player stats, long-form (`whoscored.py:363-367`): each dynamic
    * stat dict summed over its minute-keyed values; `*success` stats are
    * dropped (the reference's lowercase endswith filter). */
  def wsPlayerStats(gameId: String): DataFrame = {
    val perPlayer = wsSides(gameId)(s => Seq(
      explode(from_json(to_json(col(s"$s.players")), wsPlayersType)).as("p")))
      .select(col("game_id"), col("team_id"),
        col("p.playerId").cast("long").as("player_id"),
        explode(col("p.stats")).as(Seq("stat", "vals")))
    statRows(perPlayer, "game_id", "team_id", "player_id")
      .filter(!col("stat").endsWith("success"))
  }

  /** Per-team aggregated game stats (`whoscored.py:325-353`): side, final
    * score, optional shootout score. Dynamic stat dicts via
    * [[wsTeamStats]] — which keeps `*success` entries, mirroring the
    * reference quirk (its filter tests capital-S "Success" on
    * already-lowercased snake names, so nothing is ever excluded). */
  def wsTeamGameStats(gameId: String): DataFrame = {
    // scores normalized through an explicit schema: "penalty" is optional
    // in the feed and would otherwise be absent from the inferred struct
    val scoresType = StructType(Seq(StructField("halftime", LongType),
      StructField("fulltime", LongType), StructField("running", LongType),
      StructField("penalty", LongType)))
    wsSides(gameId)(s => Seq(
      col(s"$s.field").as("side"),
      from_json(to_json(col(s"$s.scores")), scoresType).as("scores")))
      .select(col("game_id"), col("team_id"), col("side"),
        col("scores.fulltime").as("score"),
        col("scores.penalty").as("shootout_score"))
  }

  /** Per-team stats, long-form; sums each dict-valued stat. */
  def wsTeamStats(gameId: String): DataFrame =
    statRows(wsSides(gameId)(s => Seq(
      explode(from_json(to_json(col(s"$s.stats")), statMapType)).as(Seq("stat", "vals")))),
      "game_id", "team_id")

  /** Player formation positions over time (`whoscored.py:275-322`): one row
    * per (formation stint, player); period id = first period whose
    * periodEndMinutes exceeds the stint start, period-relative minute via
    * periodMinuteLimits; position code from the reference's
    * `_position_mapping` (GK at (0, 5), Unknown otherwise). */
  def wsPositions(gameId: String): DataFrame = {
    val exploded = wsSides(gameId)(s => Seq(
      from_json(to_json(col("periodEndMinutes")), longMap).as("pem"),
      from_json(to_json(col("periodMinuteLimits")), longMap).as("lims"),
      explode(col(s"$s.formations")).as("f")))
      .select(col("game_id"), col("pem"), col("lims"), col("team_id"),
        col("f.formationName").as("formation_scheme"),
        col("f.startMinuteExpanded").cast("long").as("start_minute"),
        col("f.endMinuteExpanded").cast("long").as("end_minute"),
        explode(arrays_zip(col("f.playerIds"), col("f.formationPositions")))
          .as("z"))
    // first period (sorted ids) whose end minute exceeds the stint start;
    // the reference falls through to the LAST period when none does
    val matching = transform(
      map_keys(map_filter(col("pem"), (_, v) => v > col("start_minute"))),
      k => k.cast("int"))
    val periodId = coalesce(array_min(matching),
      array_max(transform(map_keys(col("pem")), k => k.cast("int"))))
    val x = col("z").getField("formationPositions").getField("vertical").cast("double")
    val y = col("z").getField("formationPositions").getField("horizontal").cast("double")
    exploded.select(
      col("game_id"), col("team_id"),
      col("z").getField("playerIds").cast("long").as("player_id"),
      periodId.as("period_id"),
      (periodMinute(col("start_minute"), periodId, col("lims")) * 60 * 1000)
        .as("period_milliseconds"),
      (col("start_minute") * 60 * 1000).as("start_milliseconds"),
      (col("end_minute") * 60 * 1000).as("end_milliseconds"),
      col("formation_scheme"),
      when(x === 0.0 && y === 5.0, "GK").otherwise("Unknown").as("player_position"),
      x.as("player_position_x"),
      y.as("player_position_y"),
      col("start_minute"))
  }

  // ---- F24 feed, JSON (`parsers/f24_json.py`) and XML (`f24_xml.py`) ---
  // The same attribute names in `@attributes` bags and, through Spark 4's
  // native XML source (rowTag "Game"), as `_`-prefixed attributes.

  private def f24Xml(gameId: String): DataFrame =
    readXml("Game", paths("f24xml", gameId = gameId))

  private def f24Game(gameId: String): DataFrame =
    readJson(paths("f24", gameId = gameId))
      .filter(col("data.Games").isNotNull)
      .select(col("data.Games.Game").as("g"))

  /** The F24 event fields of either flavour, read through its attribute
    * accessor `a`; only the timestamp's encoding differs. */
  private def f24Fields(a: (Column, String) => Column, timestamp: Column): EventFields = {
    def e(name: String): Column = a(col("e"), name)
    EventFields(col("e.Q"), a(_, "qualifier_id").cast("int"), a(_, "value").cast("string"),
      id = e("id"), period = e("period_id"), minute = e("min"), second = e("sec"),
      timestamp = timestamp, team = e("team_id").cast("long"),
      player = e("player_id").cast("long"), typeId = e("type_id"), outcome = e("outcome"),
      x = e("x"), y = e("y"))
  }

  /** The F24 game header of either flavour, read through `a`. */
  private def f24Header(a: String => Column, gameDate: Column): Seq[Column] = Seq(
    a("id").cast("long").as("game_id"),
    a("season_id").cast("long").as("season_id"),
    a("competition_id").cast("long").as("competition_id"),
    a("matchday").cast("int").as("game_day"),
    gameDate.as("game_date"),
    a("home_team_id").cast("long").as("home_team_id"),
    a("away_team_id").cast("long").as("away_team_id"))

  /** Game header from the F24 XML feed (`f24_xml.py:23-55`), with scores. */
  def f24XmlGames(gameId: String = "*"): DataFrame = {
    def a(name: String): Column = col(s"_$name")
    f24Xml(gameId).select(f24Header(a, to_timestamp(a("game_date"))) ++ Seq(
      a("home_score").cast("long").as("home_score"),
      a("away_score").cast("long").as("away_score")): _*)
  }

  /** Event rows from the F24 XML feed (`f24_xml.py:57-108`,
    * [[readEvents]]). */
  def f24XmlEvents(gameId: String): DataFrame =
    readEvents(
      f24Xml(gameId).select(col("_id").cast("long").as("game_id"), explode(col("Event")).as("e")),
      f24Fields(xmlAttr, to_timestamp(col("e._timestamp"))))

  /** Game header from the F24 feed (`f24_json.py:25-66`). */
  def f24Games(gameId: String = "*"): DataFrame = {
    def a(name: String): Column = bag(col("g"), name)
    f24Game(gameId).select(f24Header(a, isoTimestamp(a("game_date").getField("locale"))): _*)
  }

  /** Event rows from the F24 feed (`f24_json.py:68-123`, [[readEvents]]). */
  def f24Events(gameId: String): DataFrame =
    readEvents(
      f24Game(gameId).select(
        col("g.`@attributes`.id").cast("long").as("game_id"),
        explode(col("g.Event")).as("e")),
      f24Fields(bag, isoTimestamp(bag(col("e"), "TimeStamp").getField("locale"))))

  /** Players with minutes from the MA3 stream (`ma3_json.py:124-238`):
    * team-setup lists (qualifier 30 players ∥ 44 positions ∥ 59 jerseys ∥
    * 131 formation slots), substitutions (events 18/19), red cards
    * (event 17, qualifier 32/33), duration (event 30, qualifier 209). */
  def players(gameId: String): DataFrame = {
    val ev = events(gameId)
    val duration = coalesce(
      max(when(col("type_id") === 30 && map_contains_key(col("qmap"), 209)
        && col("minute") > 90, col("minute"))), lit(90L))
    val durs = ev.groupBy("game_id").agg(duration.as("game_duration"))

    // one row per (player, position, jersey, slot) from the aligned
    // comma-joined team-setup lists
    val setup = ev.filter(col("type_id") === 34)
      .select(col("game_id"), col("team_id"),
        explode(arrays_zip(
          split(element_at(col("qmap"), 30), ", "),
          split(element_at(col("qmap"), 44), ", "),
          split(element_at(col("qmap"), 59), ", "),
          split(element_at(col("qmap"), 131), ", "))).as("z"))
      .select(col("game_id"), col("team_id"),
        col("z").getField("0").as("player_id"),
        col("z").getField("1").cast("int").as("starting_position_id"),
        col("z").getField("2").cast("long").as("jersey_number"),
        col("z").getField("3").cast("int").as("position_in_formation"))

    // per player: first name seen, first red card, last sub off / sub on
    def minuteOf(event: Column): Column = when(event, col("minute"))
    val perPlayer = ev.filter(col("player_id").isNotNull).groupBy("player_id").agg(
      min_by(col("player_name"), col("seq")).as("player_name"),
      min(minuteOf(col("type_id") === 17 &&
        (map_contains_key(col("qmap"), 32) || map_contains_key(col("qmap"), 33))))
        .as("red_minute"),
      max(minuteOf(col("type_id") === 18)).as("minute_end"),
      max(minuteOf(col("type_id") === 19)).as("minute_start"))

    setup
      .join(durs, "game_id")
      .join(perPlayer, Seq("player_id"), "left")
      .withColumn("minute_start", coalesce(col("minute_start"), lit(0L)))
      .withColumn("minute_end",
        coalesce(col("red_minute"), col("minute_end"), col("game_duration")))
      .withColumn("is_starter", col("position_in_formation") > 0)
      .withColumn("minutes_played", col("minute_end") - col("minute_start"))
      .filter(col("minutes_played") > 0)
      .withColumn("starting_position",
        when(col("starting_position_id").between(1, OptaLoader.positionNames.length),
          element_at(typedLit(OptaLoader.positionNames), col("starting_position_id")))
          .otherwise("Unknown"))
      .select("game_id", "team_id", "player_id", "player_name", "is_starter",
        "minutes_played", "jersey_number", "starting_position")
  }
}

object OptaLoader {

  val StatsPerformFeeds: Map[String, String] = Map(
    "ma1" -> "ma1-{competition_id}-{season_id}.json",
    "ma3" -> "ma3-{competition_id}-{season_id}-{game_id}.json",
    "f24" -> "f24-{competition_id}-{season_id}-{game_id}.json",
    "f24xml" -> "f24xml-{competition_id}-{season_id}-{game_id}.xml",
    "f1" -> "f1-{competition_id}-{season_id}.json",
    "f9" -> "f9-{competition_id}-{season_id}-{game_id}.json",
    "f7" -> "f7-{competition_id}-{season_id}-{game_id}.xml",
    "whoscored" -> "ws-{competition_id}-{season_id}-{game_id}.json")

  def apply(spark: SparkSession, root: String): OptaLoader = new OptaLoader(spark, root)

  val positionNames: Seq[String] =
    Seq("Goalkeeper", "Defender", "Midfielder", "Forward", "Substitute")

  /** The public Opta event-type vocabulary (reference
    * `data/opta/loader.py:59-147`) as a broadcastable dim table. */
  val eventTypeNames: Seq[(Int, String)] = Seq(
    1 -> "pass", 2 -> "offside pass", 3 -> "take on", 4 -> "foul", 5 -> "out",
    6 -> "corner awarded", 7 -> "tackle", 8 -> "interception", 9 -> "turnover",
    10 -> "save", 11 -> "claim", 12 -> "clearance", 13 -> "miss", 14 -> "post",
    15 -> "attempt saved", 16 -> "goal", 17 -> "card", 18 -> "player off",
    19 -> "player on", 20 -> "player retired", 21 -> "player returns",
    22 -> "player becomes goalkeeper", 23 -> "goalkeeper becomes player",
    24 -> "condition change", 25 -> "official change", 27 -> "start delay",
    28 -> "end delay", 30 -> "end", 32 -> "start", 34 -> "team set up",
    35 -> "player changed position", 36 -> "player changed jersey number",
    37 -> "collection end", 40 -> "formation change", 41 -> "punch",
    42 -> "good skill", 43 -> "deleted event", 44 -> "aerial",
    45 -> "challenge", 47 -> "rescinded card", 49 -> "ball recovery",
    50 -> "dispossessed", 51 -> "error", 52 -> "keeper pick-up",
    53 -> "cross not claimed", 54 -> "smother", 55 -> "offside provoked",
    56 -> "shield ball opp", 57 -> "foul throw in", 58 -> "penalty faced",
    59 -> "keeper sweeper", 60 -> "chance missed", 61 -> "ball touch",
    64 -> "resume", 65 -> "contentious referee decision",
    67 -> "50/50", 68 -> "referee drop ball", 69 -> "failed to block",
    70 -> "injury time announcement", 71 -> "coach setup",
    72 -> "caught offside", 73 -> "other ball contact", 74 -> "blocked pass",
    75 -> "delayed start", 76 -> "early end", 77 -> "player off pitch",
    80 -> "drop of ball", 81 -> "obstacle", 83 -> "attempted tackle")

  def eventTypes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    eventTypeNames.toDF("type_id", "type_name")
  }
}
