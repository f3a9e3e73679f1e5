package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Spadl

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
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath).filter(p => rx.matcher(p.getName).matches())
      .map(_.toString).toSeq.sorted
  }

  private def readJson(ps: Seq[String]): DataFrame =
    spark.read.option("multiLine", true).json(ps: _*)

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
    val contestants = col("mi.contestant")
    def teamBySide(side: String): Column =
      element_at(filter(contestants, c => c.getField("position") === side), 1).getField("id")
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

  /** Raw event rows of a game: explode liveData.event, build the qualifier
    * id→value map, derive end coordinates from qualifiers 140/141 (pass) /
    * 146/147 (blocked shot) / 102/103 (goal line), attach type names, apply
    * the loader's sort + cleanup (`ma3_json.py:240-292`,
    * `loader.py:432-478`). */
  def events(gameId: String): DataFrame = {
    val raw = ma3(gameId).select(
      col("matchInfo.id").as("game_id"),
      explode(col("liveData.event")).as("e"))
    val quals = col("e.qualifier")
    // a null qualifier array yields a null map / empty id list; element_at
    // and map_contains_key on null are null → all probes fall through
    val qmap = map_from_entries(transform(quals,
      q => struct(q.getField("qualifierId").as("key"), q.getField("value").as("value"))))
    def qval(id: Int): Column = element_at(col("qmap"), id)
    def qnum(id: Int): Column = qval(id).cast("double")

    val base = raw
      .withColumn("qmap", qmap)
      .select(
        col("game_id"),
        col("e.id").cast("long").as("event_id"),
        col("e.periodId").cast("int").as("period_id"),
        col("e.timeMin").cast("long").as("minute"),
        greatest(col("e.timeSec").cast("long"), lit(0L)).as("second"), // pre-match -3..-1 → 0
        to_timestamp(regexp_replace(col("e.timeStamp"), "Z$", "")).as("timestamp"),
        col("e.contestantId").as("team_id"),
        col("e.playerId").as("player_id"),
        col("e.playerName").as("player_name"),
        col("e.typeId").cast("int").as("type_id"),
        coalesce(col("e.outcome").cast("int") === 1, lit(true)).as("outcome"),
        col("e.x").cast("double").as("start_x"),
        col("e.y").cast("double").as("start_y"),
        coalesce(qnum(140), qnum(146), qnum(102), col("e.x").cast("double")).as("end_x"),
        coalesce(qnum(141), qnum(147), qnum(103), col("e.y").cast("double")).as("end_y"),
        coalesce(transform(quals, q => q.getField("qualifierId").cast("int")),
          array().cast("array<int>")).as("qualifiers"),
        col("qmap"))
      .filter(col("type_id") =!= 43) // deleted events
    finishEvents(base)
  }

  /** Shared accessor tail: event-type dim join + the loader's canonical
    * per-game ordering (`loader.py:455-478`). */
  private def finishEvents(base: DataFrame): DataFrame =
    base
      .join(broadcast(OptaLoader.eventTypes(spark)), Seq("type_id"), "left")
      .withColumn("seq",
        row_number().over(Window.partitionBy("game_id")
          .orderBy("period_id", "minute", "second", "timestamp", "event_id")).cast("long"))

  // ---- F1 JSON feed (`parsers/f1_json.py`) ----------------------------
  // Schedule feed: OptaFeed→OptaDocument with a MatchData list; uID values
  // carry a one-letter prefix ("g123" → 123).

  private def stripU(c: Column): Column = substring(c, 2, 1000).cast("long")

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
    def side(s: String): Column =
      element_at(filter(col("m.TeamData"),
        t => t.getField("@attributes").getField("Side") === s), 1)
        .getField("@attributes")
    m.select(
      stripU(col("m.`@attributes`.uID")).as("game_id"),
      col("competition_id"), col("season_id"),
      col("m.MatchInfo.`@attributes`.MatchDay").cast("int").as("game_day"),
      to_timestamp(col("m.MatchInfo.Date")).as("game_date"),
      stripU(side("Home").getField("TeamRef")).as("home_team_id"),
      stripU(side("Away").getField("TeamRef")).as("away_team_id"),
      side("Home").getField("Score").cast("long").as("home_score"),
      side("Away").getField("Score").cast("long").as("away_score"))
  }

  // ---- F9 JSON feed (`parsers/f9_json.py`) ----------------------------
  // Match-result feed: OptaDocument is a LIST; Stat entries are
  // {@attributes: {Type}, @value} pairs.

  private def f9Doc(gameId: String): DataFrame =
    readJson(paths("f9", gameId = gameId))
      .filter(col("data.OptaFeed").isNotNull)
      .select(element_at(col("data.OptaFeed.OptaDocument"), 1).as("d"))

  private def statOf(stats: Column, name: String): Column =
    element_at(filter(stats,
      s => s.getField("@attributes").getField("Type") === name), 1)
      .getField("@value")

  /** Game header from the F9 result feed (`f9_json.py:49-115`). */
  def f9Games(gameId: String): DataFrame = {
    val d = f9Doc(gameId)
    def side(s: String): Column =
      element_at(filter(col("d.MatchData.TeamData"),
        t => t.getField("@attributes").getField("Side") === s), 1)
        .getField("@attributes")
    d.select(
      stripU(col("d.`@attributes`.uID")).as("game_id"),
      stripU(col("d.Competition.`@attributes`.uID")).as("competition_id"),
      statOf(col("d.Competition.Stat"), "season_id").cast("long").as("season_id"),
      statOf(col("d.Competition.Stat"), "matchday").cast("int").as("game_day"),
      to_timestamp(col("d.MatchData.MatchInfo.Date"), "yyyyMMdd'T'HHmmssZ")
        .as("game_date"),
      stripU(side("Home").getField("TeamRef")).as("home_team_id"),
      stripU(side("Away").getField("TeamRef")).as("away_team_id"),
      side("Home").getField("Score").cast("long").as("home_score"),
      side("Away").getField("Score").cast("long").as("away_score"),
      statOf(col("d.MatchData.Stat"), "match_time").cast("long").as("duration"),
      col("d.Venue.Name").as("venue"),
      col("d.MatchData.MatchInfo.Attendance").cast("long").as("attendance"))
  }

  /** Teams from the F9 result feed (`f9_json.py:116-139`). */
  def f9Teams(gameId: String): DataFrame =
    f9Doc(gameId)
      .select(explode(col("d.Team")).as("t"))
      .filter(col("t.id").isNotNull)
      .select(col("t.id").cast("long").as("team_id"),
        col("t.nameObj.name").as("team_name"))

  // ---- shared F9/F7 lineup-minutes machinery --------------------------
  // Optional feed elements (a whole Substitution/Booking list, or single
  // attributes like Retired) are OMITTED from real files when absent, so
  // the inferred schema of a normal match must not fail at analysis time:
  // members resolve defensively against the actual schema — absent array →
  // typed empty, single element inferred as a bare struct → wrapped,
  // absent attribute → NULL (the coalesce chains fall through).

  private def memberType(parent: org.apache.spark.sql.types.StructType,
      name: String): Option[org.apache.spark.sql.types.DataType] =
    parent.find(_.name == name).map(_.dataType)

  private def memberStruct(parent: org.apache.spark.sql.types.StructType,
      name: String): Option[org.apache.spark.sql.types.StructType] =
    memberType(parent, name).flatMap {
      case org.apache.spark.sql.types.ArrayType(st: org.apache.spark.sql.types.StructType, _) => Some(st)
      case st: org.apache.spark.sql.types.StructType => Some(st)
      case _ => None
    }

  private def optArr(parent: org.apache.spark.sql.types.StructType,
      prefix: String, name: String, ddl: String): Column =
    memberType(parent, name) match {
      case Some(org.apache.spark.sql.types.ArrayType(_: org.apache.spark.sql.types.StructType, _)) =>
        col(s"$prefix.$name")
      case Some(_: org.apache.spark.sql.types.StructType) => array(col(s"$prefix.$name"))
      // explicit JSON null / empty XML element infers a non-struct type —
      // same degraded path as a missing member (accessors assume struct)
      case _ => lit(null).cast(s"array<$ddl>")
    }

  /** A nested member as an array column, wrapping the bare struct a
    * single XML/JSON element infers to. For required members (no DDL
    * fallback — absence should still fail loudly). */
  private def pathAsArray(df: DataFrame, path: String): Column =
    scala.util.Try(df.select(col(path)).schema.head.dataType).toOption match {
      case Some(_: org.apache.spark.sql.types.ArrayType) => col(path)
      case _ => array(col(path))
    }

  /** sub_on/sub_off/red-card minutes rule shared by the F9 JSON and F7 XML
    * paths (`f9_json.py:176-266`, `f7_xml.py:142-210`): per player,
    * sub_on = their first non-Retired SubOn entry (else match_time for an
    * unused Sub, 0 for a starter), sub_off = their first SubOff entry
    * (else the red-card minute, else match_time); minutes = sub_off −
    * sub_on. `sAttr`/`bAttr` abstract the feed's attribute access (F9
    * '@attributes' bags vs F7 '_'-prefixed XML attributes). The booking
    * minute attribute differs between the feeds — F9 Booking elements
    * carry `Time` (`f9_json.py:208-216`) but F7 Booking elements carry
    * `Min` (`f7_xml.py:171-178`) — so it is a parameter, not a constant. */
  private def subMinutes(subs: Column, sAttr: (Column, String) => Column,
      bookings: Column, bAttr: (Column, String) => Column,
      pref: Column, status: Column, matchTime: Column,
      bookTimeAttr: String = "Time"): Column = {
    val subOn = coalesce(
      sAttr(get(filter(subs,
        s => sAttr(s, "Retired").isNull && sAttr(s, "SubOn") === pref), lit(0)), "Time")
        .cast("long"),
      when(status === "Sub", matchTime).otherwise(0L))
    val redTime = bAttr(get(filter(bookings,
        b => bAttr(b, "CardType").isin("Red", "SecondYellow") &&
          bAttr(b, "PlayerRef") === pref), lit(0)), bookTimeAttr)
      .cast("long")
    val subOff = coalesce(
      sAttr(get(filter(subs, s => sAttr(s, "SubOff") === pref), lit(0)), "Time")
        .cast("long"),
      redTime, matchTime)
    subOff - subOn
  }

  private val F9SubsDdl =
    "struct<`@attributes`:struct<Retired:string,SubOn:string,SubOff:string,Time:string>>"
  private val F9BookDdl =
    "struct<`@attributes`:struct<CardType:string,PlayerRef:string,Time:string>>"

  /** '@attributes'-bag accessor that degrades to NULL when the inferred
    * element schema lacks the attribute (or the whole bag). */
  private def bagAttr(elem: Option[org.apache.spark.sql.types.StructType])
      : (Column, String) => Column = {
    val inner: Set[String] = elem.flatMap(memberStruct(_, "@attributes"))
      .map(_.fieldNames.toSet).getOrElse(Set.empty)
    (c, f) =>
      if (elem.isEmpty || inner(f)) c.getField("@attributes").getField(f)
      else lit(null).cast("string")
  }

  /** Lineups with the substitution-minutes algebra from the F9 result feed
    * ([[subMinutes]]) — map-only, every game one row-group, no shuffle. */
  def f9Lineups(gameId: String): DataFrame = {
    val d = f9Doc(gameId)
    val base = d.select(
        stripU(col("d.`@attributes`.uID")).as("game_id"),
        statOf(col("d.MatchData.Stat"), "match_time").cast("long").as("match_time"),
        explode(col("d.MatchData.TeamData")).as("td"))
    val tdType = base.schema("td").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val exploded = base.select(col("game_id"), col("match_time"),
        stripU(col("td.`@attributes`.TeamRef")).as("team_id"),
        optArr(tdType, "td", "Substitution", F9SubsDdl).as("subs"),
        optArr(tdType, "td", "Booking", F9BookDdl).as("bookings"),
        explode(col("td.PlayerLineUp.MatchPlayer")).as("p"))
    val sAttr = bagAttr(memberStruct(tdType, "Substitution"))
    val bAttr = bagAttr(memberStruct(tdType, "Booking"))
    val pref = col("p.`@attributes`.PlayerRef")
    val status = col("p.`@attributes`.Status")
    exploded.select(
      col("game_id"), col("team_id"),
      stripU(pref).as("player_id"),
      col("p.`@attributes`.ShirtNumber").cast("long").as("jersey_number"),
      col("p.`@attributes`.Position").as("starting_position"),
      (status === "Start").as("is_starter"),
      subMinutes(col("subs"), sAttr, col("bookings"), bAttr,
        pref, status, col("match_time")).as("minutes_played"))
  }

  // ---- F7 XML feed (`parsers/f7_xml.py`) ------------------------------
  // Same result-feed content in XML; Spark-native XML source with rowTag
  // SoccerDocument; element text of attributed nodes lands in `_VALUE`.

  private def f7Doc(gameId: String): DataFrame =
    spark.read.format("xml").option("rowTag", "SoccerDocument")
      .load(paths("f7", gameId = gameId): _*)

  /** Game header from the F7 XML feed (`f7_xml.py:58-119`). */
  def f7Games(gameId: String): DataFrame = {
    val d = f7Doc(gameId)
    // single XML elements infer as bare structs — wrap every repeated
    // member before the array ops (same shape-variance as f7Lineups)
    def side(s: String): Column =
      element_at(filter(pathAsArray(d, "MatchData.TeamData"),
        t => t.getField("_Side") === s), 1)
    def statOfX(path: String, name: String): Column =
      element_at(filter(pathAsArray(d, path), st => st.getField("_Type") === name), 1)
        .getField("_VALUE")
    d.select(
      stripU(col("_uID")).as("game_id"),
      stripU(col("Competition._uID")).as("competition_id"),
      statOfX("Competition.Stat", "season_id").cast("long").as("season_id"),
      statOfX("Competition.Stat", "matchday").cast("int").as("game_day"),
      to_timestamp(col("MatchData.MatchInfo.Date"), "yyyyMMdd'T'HHmmssZ").as("game_date"),
      stripU(side("Home").getField("_TeamRef")).as("home_team_id"),
      stripU(side("Away").getField("_TeamRef")).as("away_team_id"),
      side("Home").getField("_Score").cast("long").as("home_score"),
      side("Away").getField("_Score").cast("long").as("away_score"),
      statOfX("MatchData.Stat", "match_time").cast("long").as("duration"),
      col("Venue.Name").as("venue"),
      col("MatchData.MatchInfo._Attendance").cast("long").as("attendance"))
  }

  /** Teams from the F7 XML feed (`f7_xml.py:121-140`). */
  def f7Teams(gameId: String): DataFrame =
    f7Doc(gameId)
      .select(explode(col("Team")).as("t"))
      .select(stripU(col("t._uID")).as("team_id"), col("t.Name").as("team_name"))

  private val F7SubsDdl =
    "struct<_Retired:string,_SubOn:string,_SubOff:string,_Time:string>"
  private val F7BookDdl =
    "struct<_CardType:string,_PlayerRef:string,_Min:string>"

  /** '_'-prefixed XML-attribute accessor that degrades to NULL when the
    * inferred element schema lacks the attribute. */
  private def xmlAttr(elem: Option[org.apache.spark.sql.types.StructType])
      : (Column, String) => Column = {
    val fields: Set[String] = elem.map(_.fieldNames.toSet).getOrElse(Set.empty)
    (c, f) =>
      if (elem.isEmpty || fields("_" + f)) c.getField("_" + f)
      else lit(null).cast("string")
  }

  /** Lineups with the substitution-minutes algebra from the F7 XML feed —
    * identical rules to the F9 path ([[subMinutes]]) over the
    * XML-attributed Substitution/Booking elements. */
  def f7Lineups(gameId: String): DataFrame = {
    def statOfX(stats: Column, name: String): Column =
      element_at(filter(stats, st => st.getField("_Type") === name), 1)
        .getField("_VALUE")
    val doc = f7Doc(gameId)
    val base = doc
      .select(stripU(col("_uID")).as("game_id"),
        statOfX(pathAsArray(doc, "MatchData.Stat"), "match_time")
          .cast("long").as("match_time"),
        explode(pathAsArray(doc, "MatchData.TeamData")).as("td"))
    val tdType = base.schema("td").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val exploded = base.select(col("game_id"), col("match_time"),
        stripU(col("td._TeamRef")).as("team_id"),
        col("td._Formation").cast("string").as("formation"),
        col("td._Side").as("side"),
        optArr(tdType, "td", "Substitution", F7SubsDdl).as("subs"),
        optArr(tdType, "td", "Booking", F7BookDdl).as("bookings"),
        explode(col("td.PlayerLineUp.MatchPlayer")).as("p"))
    val sAttr = xmlAttr(memberStruct(tdType, "Substitution"))
    val bAttr = xmlAttr(memberStruct(tdType, "Booking"))
    val pref = col("p._PlayerRef")
    val status = col("p._Status")
    exploded.select(col("game_id"), col("team_id"), col("formation"), col("side"),
      stripU(pref).as("player_id"),
      col("p._Position").as("position"),
      col("p._ShirtNumber").cast("long").as("jersey_number"),
      (status === "Start").as("is_starter"),
      subMinutes(col("subs"), sAttr, col("bookings"), bAttr,
        pref, status, col("match_time"), bookTimeAttr = "Min").as("minutes_played"))
  }

  // ---- WhoScored matchCentreData feed (`parsers/whoscored.py`) --------
  // One JSON object per game (ids live in the file name); event types and
  // outcomes are {value, displayName} pairs, qualifiers a list of typed
  // objects, minutes already expanded across periods.

  private def ws(gameId: String): DataFrame =
    readJson(paths("whoscored", gameId = gameId))

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
  def wsTeams(gameId: String): DataFrame = {
    val d = ws(gameId)
    d.select(col("home.teamId").cast("long").as("team_id"),
        col("home.name").as("team_name"))
      .unionByName(d.select(col("away.teamId").cast("long").as("team_id"),
        col("away.name").as("team_name")))
  }

  /** Event rows (`whoscored.py:189-249`): typed qualifier objects →
    * id-value map, endX/endY preferred over qualifier-derived ends,
    * expanded minutes, outcomeType.value as the outcome. */
  def wsEvents(gameId: String): DataFrame = {
    val raw = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      explode(col("events")).as("e"))
    val quals = col("e.qualifiers")
    val qmap = map_from_entries(transform(quals,
      q => struct(q.getField("type").getField("value").cast("int").as("key"),
        coalesce(q.getField("value").cast("string"), lit("true")).as("value"))))
    def qnum(id: Int): Column = element_at(col("qmap"), id).cast("double")
    val base = raw
      .withColumn("qmap", qmap)
      .select(
        col("game_id"),
        coalesce(col("e.id"), col("e.eventId")).cast("long").as("event_id"),
        col("e.period.value").cast("int").as("period_id"),
        col("e.expandedMinute").cast("long").as("minute"),
        greatest(coalesce(col("e.second"), lit(0L)).cast("long"), lit(0L)).as("second"),
        lit(null).cast("timestamp").as("timestamp"), // not in the stream
        col("e.teamId").cast("long").as("team_id"),
        col("e.playerId").cast("long").as("player_id"),
        col("e.type.value").cast("int").as("type_id"),
        coalesce(col("e.outcomeType.value").cast("int") === 1, lit(true)).as("outcome"),
        col("e.x").cast("double").as("start_x"),
        col("e.y").cast("double").as("start_y"),
        coalesce(col("e.endX").cast("double"), qnum(140), qnum(146), qnum(102),
          col("e.x").cast("double")).as("end_x"),
        coalesce(col("e.endY").cast("double"), qnum(141), qnum(147), qnum(103),
          col("e.y").cast("double")).as("end_y"),
        coalesce(transform(quals,
          q => q.getField("type").getField("value").cast("int")),
          array().cast("array<int>")).as("qualifiers"),
        col("qmap"))
      .filter(col("type_id") =!= 43)
    finishEvents(base)
  }

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
    // periodMinuteLimits is an object keyed by period-id string → read it
    // as a map so the (dynamic) previous-period key can index it
    val limsMap = from_json(to_json(col("lims")),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType))
    val prevLimit = when(periodId > 1,
      coalesce(element_at(limsMap, (periodId - 1).cast("string")), lit(0L)))
      .otherwise(0L)
    val periodMinute = col("e.minute").cast("long") - prevLimit
    raw.select(
      col("game_id"),
      col("e.teamId").cast("long").as("team_id"),
      periodId.as("period_id"),
      ((periodMinute * 60 + coalesce(col("e.second"), lit(0L)).cast("long")) * 1000)
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
    def side(s: String): DataFrame = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      col("expandedMaxMinute").cast("long").as("max_minute"),
      col(s"$s.teamId").cast("long").as("team_id"),
      from_json(to_json(col(s"$s.incidentEvents")), wsIncidentsType).as("incidents"),
      explode(from_json(to_json(col(s"$s.players")), wsPlayersType)).as("p"))
    val exploded = side("home").unionByName(side("away"))
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

  private def camelToSnake(c: Column): Column =
    lower(regexp_replace(regexp_replace(c,
      "(.)([A-Z][a-z]+)", "$1_$2"), "([a-z0-9])([A-Z])", "$1_$2"))

  /** Explicit schemas for the side-asymmetric WhoScored JSON (a side whose
    * players never carry e.g. subbedInExpandedMinute would otherwise infer
    * a struct without the field and break the shared projection). */
  private val wsPlayersType: org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    ArrayType(StructType(Seq(
      StructField("playerId", LongType),
      StructField("isFirstEleven", BooleanType),
      StructField("position", StringType),
      StructField("shirtNo", LongType),
      StructField("isManOfTheMatch", BooleanType),
      StructField("subbedInExpandedMinute", LongType),
      StructField("subbedOutExpandedMinute", LongType),
      StructField("stats", MapType(StringType, MapType(StringType, DoubleType))))))
  }

  private val wsIncidentsType: org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    ArrayType(StructType(Seq(
      StructField("playerId", LongType),
      StructField("expandedMinute", LongType),
      StructField("cardType", StructType(Seq(
        StructField("value", LongType),
        StructField("displayName", StringType)))))))
  }

  private val statMapType = org.apache.spark.sql.types.MapType(
    org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.DoubleType))

  /** Per-player stats, long-form (`whoscored.py:363-367`): each dynamic
    * stat dict summed over its minute-keyed values; `*success` stats are
    * dropped (the reference's lowercase endswith filter). */
  def wsPlayerStats(gameId: String): DataFrame = {
    def side(s: String): DataFrame = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      col(s"$s.teamId").cast("long").as("team_id"),
      explode(from_json(to_json(col(s"$s.players")), wsPlayersType)).as("p"))
      .select(col("game_id"), col("team_id"),
        col("p.playerId").cast("long").as("player_id"),
        explode(col("p.stats")).as(Seq("stat", "vals")))
    side("home").unionByName(side("away"))
      .select(col("game_id"), col("team_id"), col("player_id"),
        camelToSnake(col("stat")).as("stat"),
        aggregate(map_values(col("vals")), lit(0.0), _ + _).as("value"))
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
    val scoresType = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("halftime", LongType),
        StructField("fulltime", LongType), StructField("running", LongType),
        StructField("penalty", LongType)))
    }
    def side(s: String): DataFrame = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      col(s"$s.teamId").cast("long").as("team_id"),
      col(s"$s.field").as("side"),
      from_json(to_json(col(s"$s.scores")), scoresType).as("scores"))
      .select(col("game_id"), col("team_id"), col("side"),
        col("scores.fulltime").as("score"),
        col("scores.penalty").as("shootout_score"))
    side("home").unionByName(side("away"))
  }

  /** Per-team stats, long-form; sums each dict-valued stat. */
  def wsTeamStats(gameId: String): DataFrame = {
    def side(s: String): DataFrame = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      col(s"$s.teamId").cast("long").as("team_id"),
      explode(from_json(to_json(col(s"$s.stats")), statMapType)).as(Seq("stat", "vals")))
    side("home").unionByName(side("away"))
      .select(col("game_id"), col("team_id"),
        camelToSnake(col("stat")).as("stat"),
        aggregate(map_values(col("vals")), lit(0.0), _ + _).as("value"))
  }

  /** Player formation positions over time (`whoscored.py:275-322`): one row
    * per (formation stint, player); period id = first period whose
    * periodEndMinutes exceeds the stint start, period-relative minute via
    * periodMinuteLimits; position code from the reference's
    * `_position_mapping` (GK at (0, 5), Unknown otherwise). */
  def wsPositions(gameId: String): DataFrame = {
    val longMap = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType)
    def sideDf(s: String): DataFrame = ws(gameId).select(
      lit(gameId.toLong).as("game_id"),
      from_json(to_json(col("periodEndMinutes")), longMap).as("pem"),
      from_json(to_json(col("periodMinuteLimits")), longMap).as("lims"),
      col(s"$s.teamId").cast("long").as("team_id"),
      explode(col(s"$s.formations")).as("f"))
    val exploded = sideDf("home").unionByName(sideDf("away"))
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
    val periodMinute = when(periodId > 1,
      col("start_minute") -
        coalesce(element_at(col("lims"), (periodId - 1).cast("string")), lit(0L)))
      .otherwise(col("start_minute"))
    val x = col("z").getField("formationPositions").getField("vertical").cast("double")
    val y = col("z").getField("formationPositions").getField("horizontal").cast("double")
    exploded.select(
      col("game_id"), col("team_id"),
      col("z").getField("playerIds").cast("long").as("player_id"),
      periodId.as("period_id"),
      (periodMinute * 60 * 1000).as("period_milliseconds"),
      (col("start_minute") * 60 * 1000).as("start_milliseconds"),
      (col("end_minute") * 60 * 1000).as("end_milliseconds"),
      col("formation_scheme"),
      when(x === 0.0 && y === 5.0, "GK").otherwise("Unknown").as("player_position"),
      x.as("player_position_x"),
      y.as("player_position_y"),
      col("start_minute"))
  }

  // ---- F24 XML feed (`parsers/f24_xml.py`) ----------------------------
  // Spark 4's native XML source: rowTag "Game", attributes surfaced with
  // the "_" prefix, child elements as struct arrays.

  private def f24Xml(gameId: String): DataFrame =
    spark.read.format("xml").option("rowTag", "Game")
      .load(paths("f24xml", gameId = gameId): _*)

  /** Game header from the F24 XML feed (`f24_xml.py:23-55`). */
  def f24XmlGames(gameId: String = "*"): DataFrame =
    f24Xml(gameId).select(
      col("_id").cast("long").as("game_id"),
      col("_season_id").cast("long").as("season_id"),
      col("_competition_id").cast("long").as("competition_id"),
      col("_matchday").cast("int").as("game_day"),
      to_timestamp(col("_game_date")).as("game_date"),
      col("_home_team_id").cast("long").as("home_team_id"),
      col("_away_team_id").cast("long").as("away_team_id"),
      col("_home_score").cast("long").as("home_score"),
      col("_away_score").cast("long").as("away_score"))

  /** Event rows from the F24 XML feed (`f24_xml.py:57-108`): identical
    * semantics to the JSON flavor, attribute-prefixed fields. */
  def f24XmlEvents(gameId: String): DataFrame = {
    val raw = f24Xml(gameId).select(
      col("_id").cast("long").as("game_id"),
      explode(col("Event")).as("e"))
    val qmap = map_from_entries(transform(col("e.Q"),
      q => struct(q.getField("_qualifier_id").cast("int").as("key"),
        q.getField("_value").cast("string").as("value"))))
    def qnum(id: Int): Column = element_at(col("qmap"), id).cast("double")
    val base = raw
      .withColumn("qmap", qmap)
      .select(
        col("game_id"),
        col("e._id").cast("long").as("event_id"),
        col("e._period_id").cast("int").as("period_id"),
        col("e._min").cast("long").as("minute"),
        greatest(col("e._sec").cast("long"), lit(0L)).as("second"),
        to_timestamp(col("e._timestamp")).as("timestamp"),
        col("e._team_id").cast("long").as("team_id"),
        col("e._player_id").cast("long").as("player_id"),
        col("e._type_id").cast("int").as("type_id"),
        coalesce(col("e._outcome").cast("int") === 1, lit(true)).as("outcome"),
        col("e._x").cast("double").as("start_x"),
        col("e._y").cast("double").as("start_y"),
        coalesce(qnum(140), qnum(146), qnum(102), col("e._x").cast("double")).as("end_x"),
        coalesce(qnum(141), qnum(147), qnum(103), col("e._y").cast("double")).as("end_y"),
        coalesce(transform(col("e.Q"), q => q.getField("_qualifier_id").cast("int")),
          array().cast("array<int>")).as("qualifiers"),
        col("qmap"))
      .filter(col("type_id") =!= 43)
    finishEvents(base)
  }

  // ---- F24 JSON feed (`parsers/f24_json.py`) --------------------------

  private def f24Game(gameId: String): DataFrame =
    readJson(paths("f24", gameId = gameId))
      .filter(col("data.Games").isNotNull)
      .select(col("data.Games.Game").as("g"))

  /** Game header from the F24 feed (`f24_json.py:25-66`). */
  def f24Games(gameId: String = "*"): DataFrame =
    f24Game(gameId).select(
      col("g.`@attributes`.id").cast("long").as("game_id"),
      col("g.`@attributes`.season_id").cast("long").as("season_id"),
      col("g.`@attributes`.competition_id").cast("long").as("competition_id"),
      col("g.`@attributes`.matchday").cast("int").as("game_day"),
      to_timestamp(regexp_replace(col("g.`@attributes`.game_date.locale"), "Z$", ""))
        .as("game_date"),
      col("g.`@attributes`.home_team_id").cast("long").as("home_team_id"),
      col("g.`@attributes`.away_team_id").cast("long").as("away_team_id"))

  /** Event rows from the F24 feed (`f24_json.py:68-123`): `@attributes`
    * bags, Q-qualifier map, the same end-coordinate qualifiers and
    * accessor tail as MA3. */
  def f24Events(gameId: String): DataFrame = {
    val raw = f24Game(gameId).select(
      col("g.`@attributes`.id").cast("long").as("game_id"),
      explode(col("g.Event")).as("e"))
    val a = col("e.`@attributes`")
    val qmap = map_from_entries(transform(col("e.Q"),
      q => struct(
        q.getField("@attributes").getField("qualifier_id").cast("int").as("key"),
        q.getField("@attributes").getField("value").cast("string").as("value"))))
    def qnum(id: Int): Column = element_at(col("qmap"), id).cast("double")
    val base = raw
      .withColumn("qmap", qmap)
      .select(
        col("game_id"),
        a.getField("id").cast("long").as("event_id"),
        a.getField("period_id").cast("int").as("period_id"),
        a.getField("min").cast("long").as("minute"),
        greatest(a.getField("sec").cast("long"), lit(0L)).as("second"),
        to_timestamp(regexp_replace(a.getField("TimeStamp").getField("locale"), "Z$", ""))
          .as("timestamp"),
        a.getField("team_id").cast("long").as("team_id"),
        a.getField("player_id").cast("long").as("player_id"),
        a.getField("type_id").cast("int").as("type_id"),
        coalesce(a.getField("outcome").cast("int") === 1, lit(true)).as("outcome"),
        a.getField("x").cast("double").as("start_x"),
        a.getField("y").cast("double").as("start_y"),
        coalesce(qnum(140), qnum(146), qnum(102), a.getField("x").cast("double")).as("end_x"),
        coalesce(qnum(141), qnum(147), qnum(103), a.getField("y").cast("double")).as("end_y"),
        coalesce(transform(col("e.Q"),
          q => q.getField("@attributes").getField("qualifier_id").cast("int")),
          array().cast("array<int>")).as("qualifiers"),
        col("qmap"))
      .filter(col("type_id") =!= 43)
    finishEvents(base)
  }

  /** Players with minutes from the MA3 stream (`ma3_json.py:124-238`):
    * team-setup lists (qualifier 30 players ∥ 44 positions ∥ 59 jerseys ∥
    * 131 formation slots), substitutions (events 18/19), red cards
    * (event 17, qualifier 32/33), duration (event 30, qualifier 209). */
  def players(gameId: String): DataFrame = {
    val ev = events(gameId).cache()
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

    val names = ev.filter(col("player_id").isNotNull)
      .groupBy("player_id").agg(min_by(col("player_name"), col("seq")).as("player_name"))
    val redCards = ev.filter(col("type_id") === 17 && col("player_id").isNotNull &&
        (map_contains_key(col("qmap"), 32) || map_contains_key(col("qmap"), 33)))
      .groupBy("player_id").agg(min("minute").as("red_minute"))
    val subsOff = ev.filter(col("type_id") === 18)
      .groupBy("player_id").agg(max("minute").as("minute_end"))
    val subsOn = ev.filter(col("type_id") === 19)
      .groupBy("player_id").agg(max("minute").as("minute_start"))

    setup
      .join(durs, "game_id")
      .join(names, Seq("player_id"), "left")
      .join(redCards, Seq("player_id"), "left")
      .join(subsOff, Seq("player_id"), "left")
      .join(subsOn, Seq("player_id"), "left")
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
    eventTypeNames.map { case (i, n) => (i, n) }.toDF("type_id", "type_name")
  }
}
