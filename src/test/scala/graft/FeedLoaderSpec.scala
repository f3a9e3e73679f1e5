package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.storage.StorageLevel

import graft.sources.{Opta, OptaLoader, Wyscout, WyscoutLoader}

/** Opta (MA1/MA3) and Wyscout API loader semantics against the hand-written
  * feed fixtures, including the loader→converter end-to-end path. */
class FeedLoaderSpec extends SparkSpec {

  private lazy val optaRoot = getClass.getResource("/opta_root").toString
    .stripPrefix("file:")
  private lazy val wyRoot = getClass.getResource("/wyscout_root").toString
  private lazy val opta = OptaLoader(spark, optaRoot)
  private lazy val wy = WyscoutLoader(spark, wyRoot)

  test("opta: competitions and games from the MA1 schedule feed") {
    val comps = opta.competitions().collect()
    assert(comps.length == 1)
    assert(comps(0).getAs[String]("competition_name") == "Test League")
    val games = opta.games("c1", "s1").orderBy("game_id").collect()
    assert(games.length == 2)
    val g = games(0)
    assert(g.getAs[String]("game_id") == "g900")
    assert(g.getAs[String]("home_team_id") == "t10")
    assert(g.getAs[String]("away_team_id") == "t20")
    assert(g.getAs[Long]("home_score") == 2L)
    assert(g.getAs[String]("venue") == "Test Arena")
    assert(g.getAs[java.sql.Timestamp]("game_date").toString.startsWith("2026-03-01 15:00"))
  }

  test("opta: a file: URI root lists the same feeds as its plain path") {
    val uriRoot = new java.io.File(optaRoot).toURI.toString
    assert(uriRoot.startsWith("file:"))
    val viaUri = OptaLoader(spark, uriRoot).competitions().collect().toSet
    assert(viaUri.nonEmpty && viaUri == opta.competitions().collect().toSet)
  }

  test("opta: MA3 teams, qualifier map, end coordinates, deleted-event filter") {
    assert(opta.teams("g900").collect().map(_.getAs[String]("team_name")).toSet ==
      Set("Home FC", "Away United"))
    val ev = opta.events("g900").cache()
    assert(ev.filter(col("type_id") === 43).count() == 0) // deleted dropped
    val pass = ev.filter(col("event_id") === 11).head()
    assert(pass.getAs[String]("type_name") == "pass")
    assert(pass.getAs[Double]("end_x") == 61.2) // qualifier 140
    assert(pass.getAs[Double]("end_y") == 44.0)
    val goal = ev.filter(col("event_id") === 12).head()
    assert(goal.getAs[String]("type_name") == "goal")
    assert(goal.getAs[Double]("end_x") == 100.0) // goal-line qualifier 102
    assert(goal.getAs[Boolean]("outcome"))
    ev.unpersist()
  }

  test("opta: MA3 player minutes (setup lists, sub, red card, duration)") {
    val p = opta.players("g900").collect()
      .map(r => r.getAs[String]("player_id") -> r).toMap
    // duration = 94 (event 30 with qualifier 209 at 94')
    assert(p("p1").getAs[Long]("minutes_played") == 94)
    assert(p("p2").getAs[Long]("minutes_played") == 61) // subbed off 61'
    assert(p("p3").getAs[Long]("minutes_played") == 77) // second yellow 77'
    assert(p("p5").getAs[Long]("minutes_played") == 94)
    assert(p("p1").getAs[Boolean]("is_starter"))
    assert(!p("p3").getAs[Boolean]("is_starter")) // formation slot 0
    assert(p("p1").getAs[String]("starting_position") == "Goalkeeper")
    assert(p("p1").getAs[Long]("jersey_number") == 1L)
    assert(!p.contains("p4")) // substitute not in the setup lists
  }

  test("opta: F24 JSON feed — game header, @attributes events, Q-qualifier map") {
    val g = opta.f24Games("918").head()
    assert(g.getAs[Long]("game_id") == 918L)
    assert(g.getAs[Long]("home_team_id") == 10L)
    assert(g.getAs[Int]("game_day") == 12)
    val ev = opta.f24Events("918").cache()
    assert(ev.filter(col("type_id") === 43).count() == 0) // deleted dropped
    assert(ev.count() == 3)
    val pass = ev.filter(col("event_id") === 2).head()
    assert(pass.getAs[String]("type_name") == "pass")
    assert(pass.getAs[Double]("end_x") == 62.5) // qualifier 140
    assert(pass.getSeq[Int](pass.fieldIndex("qualifiers")).toSet == Set(140, 141, 1))
    val goal = ev.filter(col("event_id") === 3).head()
    assert(goal.getAs[Double]("end_x") == 99.0) // goal-line qualifier 102
    assert(goal.getAs[Double]("end_y") == 51.0)
    ev.unpersist()
  }

  test("opta: players leaves the game's events uncached") {
    assert(opta.players("g900").count() > 0)
    assert(opta.events("g900").storageLevel == StorageLevel.NONE)
  }

  test("opta: a feed with no matching file fails naming the feed, pattern and root") {
    val json = intercept[IllegalArgumentException](opta.events("nope"))
    assert(json.getMessage.contains("ma3") &&
      json.getMessage.contains("ma3-*-*-nope.json") && json.getMessage.contains(optaRoot))
    val xml = intercept[IllegalArgumentException](opta.f7Lineups("nope"))
    assert(xml.getMessage.contains("f7") &&
      xml.getMessage.contains("f7-*-*-nope.xml") && xml.getMessage.contains(optaRoot))
  }

  test("opta: each WhoScored both-sides accessor reads the game file once") {
    // building the frame infers the file's schema: one job per read
    val sc = spark.sparkContext
    val accessors: Seq[(String, () => DataFrame)] = Seq(
      "wsTeams" -> (() => opta.wsTeams("555")),
      "wsPlayerGameStats" -> (() => opta.wsPlayerGameStats("555")),
      "wsPlayerStats" -> (() => opta.wsPlayerStats("555")),
      "wsTeamGameStats" -> (() => opta.wsTeamGameStats("555")),
      "wsTeamStats" -> (() => opta.wsTeamStats("555")),
      "wsPositions" -> (() => opta.wsPositions("555")))
    for ((name, build) <- accessors) {
      val group = s"feed-loader-$name"
      sc.setJobGroup(group, name)
      try build() finally sc.clearJobGroup()
      Shim.drainListeners(spark)
      assert(sc.statusTracker.getJobIdsForGroup(group).length == 1, name)
    }
  }

  test("opta: F1 schedule feed (competitions, per-match sides and scores)") {
    val c = opta.f1Competitions().head()
    assert(c.getAs[Long]("competition_id") == 8L)
    assert(c.getAs[String]("competition_name") == "Test League")
    val g = opta.f1Games().orderBy("game_id").collect()
    assert(g.length == 2)
    assert(g(0).getAs[Long]("game_id") == 918L)
    assert(g(0).getAs[Long]("home_team_id") == 10L)
    assert(g(0).getAs[Long]("home_score") == 2L)
    assert(g(1).getAs[Long]("home_team_id") == 20L) // sides flip per match
    assert(g(1).getAs[Int]("game_day") == 13)
  }

  test("opta: F9 result feed (Stat pairs, Team list, duration/venue/attendance)") {
    val g = opta.f9Games("918").head()
    assert(g.getAs[Long]("game_id") == 918L)
    assert(g.getAs[Long]("season_id") == 2026L)
    assert(g.getAs[Long]("duration") == 94L)
    assert(g.getAs[String]("venue") == "Test Arena")
    assert(g.getAs[Long]("attendance") == 15000L)
    assert(g.getAs[Long]("home_score") == 2L && g.getAs[Long]("away_score") == 1L)
    assert(opta.f9Teams("918").collect()
      .map(r => r.getAs[Long]("team_id") -> r.getAs[String]("team_name")).toMap ==
      Map(10L -> "Home FC", 20L -> "Away United"))
  }

  test("opta: F7 XML feed (game header, teams, starting lineups)") {
    val g = opta.f7Games("918").head()
    assert(g.getAs[Long]("game_id") == 918L)
    assert(g.getAs[Long]("duration") == 94L)
    assert(g.getAs[Long]("home_team_id") == 10L)
    assert(opta.f7Teams("918").count() == 2)
    val lineup = opta.f7Lineups("918").collect()
    assert(lineup.length == 5)
    val p102 = lineup.find(_.getAs[Long]("player_id") == 102L).get
    assert(p102.getAs[String]("position") == "Striker")
    assert(p102.getAs[Long]("jersey_number") == 9L)
    assert(p102.getAs[Boolean]("is_starter"))
    val p103 = lineup.find(_.getAs[Long]("player_id") == 103L).get
    assert(!p103.getAs[Boolean]("is_starter"))
    assert(p103.getAs[String]("formation") == "442")
  }

  test("opta: F9 lineup minutes (subs, red cards, retired-entry skip, bare away side)") {
    val l = opta.f9Lineups("918").collect()
      .map(r => r.getAs[Long]("player_id") -> r).toMap
    assert(l(101L).getAs[Long]("minutes_played") == 85) // red card 85'
    assert(l(102L).getAs[Long]("minutes_played") == 70) // subbed off 70'
    assert(l(103L).getAs[Long]("minutes_played") == 24) // on 70' (Retired entry skipped), match_time 94
    assert(l(201L).getAs[Long]("minutes_played") == 94) // away side has no sub/booking arrays
    assert(l(202L).getAs[Long]("minutes_played") == 94)
    assert(l(101L).getAs[Boolean]("is_starter") && !l(103L).getAs[Boolean]("is_starter"))
    assert(l(101L).getAs[String]("starting_position") == "Goalkeeper")
    assert(l(103L).getAs[Long]("jersey_number") == 14L)
  }

  test("opta: F7 lineup minutes match the F9 algebra over XML attributes") {
    val l = opta.f7Lineups("918").collect()
      .map(r => r.getAs[Long]("player_id") -> r).toMap
    assert(l(101L).getAs[Long]("minutes_played") == 85)
    assert(l(102L).getAs[Long]("minutes_played") == 70)
    assert(l(103L).getAs[Long]("minutes_played") == 24)
    assert(l(201L).getAs[Long]("minutes_played") == 94)
  }

  test("opta: F9/F7 degenerate feeds — no subs/bookings/Retired, single XML sub element") {
    // game 920: the F9 file has NO Substitution/Booking members at all and
    // no Retired attribute anywhere — the inferred schema lacks them, and
    // the loader must degrade to NULL, not fail at analysis
    val f9 = opta.f9Lineups("920").collect()
      .map(r => r.getAs[Long]("player_id") -> r).toMap
    assert(f9(101L).getAs[Long]("minutes_played") == 90) // starter, full match
    assert(f9(104L).getAs[Long]("minutes_played") == 0)  // unused sub: on = match_time
    assert(f9(201L).getAs[Long]("minutes_played") == 90)
    // the F7 file has exactly ONE <Substitution> (inferred as a bare
    // struct, not an array) on one side, none on the other, and no
    // <Booking> — wrap/empty handling must still run the full algebra
    val f7 = opta.f7Lineups("920").collect()
      .map(r => r.getAs[Long]("player_id") -> r).toMap
    assert(f7(101L).getAs[Long]("minutes_played") == 60) // subbed off 60'
    assert(f7(104L).getAs[Long]("minutes_played") == 30) // on 60', match_time 90
    assert(f7(201L).getAs[Long]("minutes_played") == 90)
    // the game-header accessor survives the same single-Stat inference
    val g = opta.f7Games("920").head()
    assert(g.getAs[Long]("duration") == 90L && g.getAs[Long]("home_team_id") == 10L)
  }

  test("opta: WhoScored player game stats (expanded-minutes algebra)") {
    val p = opta.wsPlayerGameStats("555").collect()
      .map(r => r.getAs[Long]("player_id") -> r).toMap
    assert(p(9001L).getAs[Long]("minutes_played") == 95) // full game
    assert(p(9001L).getAs[Boolean]("mvp"))
    assert(p(9002L).getAs[Long]("minutes_played") == 60) // starter out 60'
    assert(p(9003L).getAs[Long]("minutes_played") == 35) // in 60' → 95 − 60
    assert(p(9003L).getAs[Long]("minute_start") == 60L)
    assert(p(9004L).getAs[Long]("minutes_played") == 80) // red card 80'
    assert(p(9101L).getAs[Long]("minutes_played") == 95)
    assert(p(9102L).getAs[Long]("minutes_played") == 0) // unused sub
    assert(p(9102L).isNullAt(p(9102L).fieldIndex("minute_start")))
  }

  test("opta: WhoScored long-form stats (player drops *success, team keeps it)") {
    val ps = opta.wsPlayerStats("555").collect()
      .map(r => (r.getAs[Long]("player_id"), r.getAs[String]("stat")) ->
        r.getAs[Double]("value")).toMap
    assert(ps((9001L, "total_pass")) == 5.0)
    assert(ps((9001L, "ratings")) == 6.8)
    assert(!ps.contains((9001L, "pass_success"))) // *success dropped for players
    assert(ps((9101L, "total_saves")) == 2.0)
    val ts = opta.wsTeamStats("555").collect()
      .map(r => (r.getAs[Long]("team_id"), r.getAs[String]("stat")) ->
        r.getAs[Double]("value")).toMap
    assert(ts((272L, "total_pass")) == 8.0)
    assert(ts((272L, "pass_success")) == 4.0) // reference quirk: team stats keep *Success
    val tg = opta.wsTeamGameStats("555").collect()
      .map(r => r.getAs[Long]("team_id") -> r).toMap
    assert(tg(272L).getAs[String]("side") == "home")
    assert(tg(272L).getAs[Long]("score") == 2L)
    assert(tg(273L).getAs[String]("side") == "away")
  }

  test("opta: WhoScored formation positions (periods, relative clocks, GK mapping)") {
    val pos = opta.wsPositions("555").collect()
      .map(r => (r.getAs[Long]("player_id"), r.getAs[Long]("start_minute")) -> r).toMap
    val first = pos((9001L, 0L))
    assert(first.getAs[Int]("period_id") == 1)
    assert(first.getAs[Long]("period_milliseconds") == 0L)
    assert(first.getAs[String]("player_position") == "GK") // (0, 5) → GK
    assert(pos((9002L, 0L)).getAs[String]("player_position") == "Unknown")
    val second = pos((9001L, 60L))
    assert(second.getAs[Int]("period_id") == 2) // first period ending after 60'
    assert(second.getAs[Long]("period_milliseconds") == 15 * 60 * 1000L) // 60 − limit(1)=45
    assert(second.getAs[Long]("start_milliseconds") == 3600000L)
    assert(second.getAs[Long]("end_milliseconds") == 95 * 60000L)
    assert(second.getAs[String]("formation_scheme") == "433")
    assert(pos((9101L, 0L)).getAs[String]("player_position") == "GK")
  }

  test("opta: WhoScored matchCentreData feed") {
    val g = opta.wsGames("555", competitionId = 1L, seasonId = 1L).head()
    assert(g.getAs[Long]("game_id") == 555L)
    assert(g.getAs[Long]("home_team_id") == 272L)
    assert(g.getAs[Long]("home_score") == 2L && g.getAs[Long]("away_score") == 1L)
    assert(g.getAs[Long]("duration") == 95L)
    assert(g.getAs[String]("referee") == "R. Eferee")
    assert(opta.wsTeams("555").collect()
      .map(r => r.getAs[Long]("team_id") -> r.getAs[String]("team_name")).toMap ==
      Map(272L -> "Home FC", 273L -> "Away United"))
    val ev = opta.wsEvents("555").orderBy("event_id").collect()
    assert(ev.length == 4) // incl. the substitution-on event
    val pass = ev.find(_.getAs[Long]("event_id") == 700002L).get
    assert(pass.getAs[String]("type_name") == "pass")
    assert(pass.getAs[Double]("end_x") == 61.2) // endX preferred
    assert(pass.getSeq[Int](pass.fieldIndex("qualifiers")).toSet == Set(140, 141, 1))
    val goal = ev.find(_.getAs[Long]("event_id") == 700003L).get
    assert(goal.getAs[String]("type_name") == "goal")
    assert(goal.getAs[Long]("minute") == 54L) // expandedMinute
    assert(goal.getAs[Double]("end_x") == 49.2) // goal-line qualifier fallback
    assert(goal.getAs[Int]("period_id") == 2)
  }

  test("opta: WhoScored substitutions with period-relative clocks") {
    val subs = opta.wsSubstitutions("555").collect()
    assert(subs.length == 1)
    val s = subs(0)
    assert(s.getAs[Long]("player_in_id") == 9003L)
    assert(s.getAs[Long]("player_out_id") == 9001L)
    assert(s.getAs[Int]("period_id") == 2)
    // raw minute 63, period 2 starts at limit 45 → (63−45)·60+30 s
    assert(s.getAs[Long]("period_milliseconds") == ((63 - 45) * 60 + 30) * 1000L)
  }

  test("opta: F24 XML feed via the native XML source") {
    val g = opta.f24XmlGames("919").head()
    assert(g.getAs[Long]("game_id") == 919L)
    assert(g.getAs[Long]("home_score") == 1L)
    val ev = opta.f24XmlEvents("919").orderBy("event_id").collect()
    assert(ev.length == 3)
    assert(ev(1).getAs[String]("type_name") == "pass")
    assert(ev(1).getAs[Double]("end_x") == 61.0) // qualifier 140
    assert(ev(2).getAs[String]("type_name") == "attempt saved")
    assert(ev(2).getAs[Double]("end_x") == 98.5) // blocked-shot qualifier 146
    assert(!ev(2).getAs[Boolean]("outcome"))
    assert(ev(0).getAs[Long]("player_id") == 0L ||
      ev(0).isNullAt(ev(0).fieldIndex("player_id"))) // absent attribute → null
  }

  test("opta: loader events feed the full converter") {
    val ev = opta.events("g900")
      .withColumn("game_id", lit(900L))
      .withColumn("team_id", when(col("team_id") === "t10", 0L).otherwise(1L))
      .withColumn("player_id", coalesce(
        regexp_extract(col("player_id"), "\\d+", 0).cast("long"), lit(0L)))
    val out = Opta.convertToActions(ev, lit(0L)).collect()
    val types = out.map(_.getAs[Int]("type_id")).toSet
    assert(types.contains(0)) // the pass
    assert(types.contains(11)) // the goal
  }

  test("wyscout: competitions / seasons / games with dynamic teamsData keys") {
    val comps = wy.competitions().orderBy("competition_id").collect()
    assert(comps.length == 2)
    assert(comps(0).getAs[String]("country_name") == "Testland")
    assert(comps(1).getAs[String]("country_name") == "International") // "" fallback
    val seasons = wy.seasons(5).collect()
    assert(seasons.map(_.getAs[Long]("season_id")).toSet == Set(77L, 78L))
    val games = wy.games(5, 77).orderBy("game_id").collect()
    assert(games.length == 2)
    assert(games(0).getAs[Long]("home_team_id") == 3001L)
    assert(games(0).getAs[Long]("away_team_id") == 3002L)
    assert(games(1).getAs[Long]("home_team_id") == 3002L)
  }

  test("wyscout: teams, players, events from the API payload") {
    assert(wy.teams(500).collect().map(_.getAs[String]("team_name")).toSet ==
      Set("Alpha FC", "Beta United"))
    val players = wy.players(500).collect()
    assert(players.length == 4)
    val p11 = players.find(_.getAs[Long]("player_id") == 11L).get
    assert(p11.getAs[String]("player_name") == "Hana Uno")
    assert(p11.getAs[Long]("team_id") == 3001L)

    val ev = wy.events(500).orderBy("seq").collect()
    assert(ev.length == 6)
    assert(ev(0).getAs[Long]("milliseconds") == 2500L)
    assert(ev(0).getAs[Int]("type_id") == 8)
    assert(ev(1).getAs[Int]("period_id") == 1)
    assert(ev(2).getAs[Int]("period_id") == 1) // the late 1H clock driver
    assert(ev(3).getAs[Int]("period_id") == 2)
    assert(ev(4).getAs[Int]("subtype_id") == 0) // "" coerced to 0
    val tags = ev(1).getSeq[Int](ev(1).fieldIndex("tags"))
    assert(tags.contains(101) && tags.contains(1203))
  }

  test("wyscout: player minutes from the API payload's match.teamsData") {
    val p = wy.playerGames(500).collect()
      .map(r => (r.getAs[Long]("team_id"), r.getAs[Long]("player_id")) -> r).toMap
    // period clocks → durations [46, 47], duration 93; expand(60) = 61
    assert(p((3001L, 11L)).getAs[Long]("minutes_played") == 93) // full game
    assert(p((3001L, 12L)).getAs[Long]("minutes_played") == 61) // out at 60' (+1 1H injury)
    assert(p((3001L, 13L)).getAs[Long]("minutes_played") == 32) // in: 93 − 61
    assert(!p((3001L, 13L)).getAs[Boolean]("is_starter"))
    assert(p((3001L, 13L)).getAs[Long]("jersey_number") == 14L) // bench lookup
    assert(p((3002L, 21L)).getAs[Long]("minutes_played") == 76) // red 75' expanded
    assert(p.size == 4) // unused bench players are not emitted
  }

  test("public wyscout dataset: index-driven league files, lineup rosters, per-game event filter") {
    import graft.sources.PublicWyscoutLoader
    val pub = PublicWyscoutLoader(spark,
      getClass.getResource("/public_wyscout").toString)
    val comps = pub.competitions().collect()
      .map(r => r.getAs[Long]("competition_id") -> r).toMap
    assert(comps(364L).getAs[Long]("season_id") == 181150L) // dataset index
    assert(comps(28L).getAs[String]("country_name") == "International")
    val g = pub.games(364L, 181150L).head()
    assert(g.getAs[Long]("game_id") == 2499719L)
    assert(g.getAs[Long]("home_team_id") == 1609L)
    assert(pub.teams(364L, 2499719L).collect()
      .map(_.getAs[String]("team_name")).toSet == Set("Alpha FC", "Beta United"))
    val players = pub.players(364L, 2499719L).collect()
    assert(players.length == 4) // 3 starters + 1 bench
    val bench = players.find(r => r.getAs[Long]("player_id") == 25415L &&
      r.getAs[Long]("team_id") == 1609L).get
    assert(!bench.getAs[Boolean]("is_starter"))
    assert(bench.getAs[String]("player_name") == "Cam Tres")
    val ev = pub.events(364L, 2499719L).orderBy("seq").collect()
    assert(ev.length == 4) // the other game's event is filtered out
    assert(ev(0).getAs[Int]("type_id") == 8 && ev(2).getAs[Int]("period_id") == 2)
    // the public events plug straight into the full converter
    val out = graft.sources.Wyscout.convertToActions(
      pub.events(364L, 2499719L), lit(1609L)).collect()
    assert(out.exists(_.getAs[Int]("type_id") == 11)) // the shot survives

    // minutes: durations [46, 47] → duration 93, expand(60) = 61
    val pg = pub.playerGames(364L, 2499719L).collect()
      .map(r => (r.getAs[Long]("team_id"), r.getAs[Long]("player_id")) -> r).toMap
    assert(pg((1609L, 25413L)).getAs[Long]("minutes_played") == 93)
    assert(pg((1609L, 25414L)).getAs[Long]("minutes_played") == 61)
    assert(pg((1609L, 25415L)).getAs[Long]("minutes_played") == 32)
    assert(pg((1610L, 25415L)).getAs[Long]("minutes_played") == 93)
  }

  test("wyscout: loader events feed the full converter (goal mosaic applied)") {
    val out = Wyscout.convertToActions(wy.events(500), lit(3001L))
      .orderBy("action_id").collect()
    val shot = out.find(_.getAs[Int]("type_id") == 11).get
    assert(shot.getAs[Int]("result_id") == 1) // goal tag
    // mosaic mid-center (1203) → percent (100, 50) → meters (105, 34)
    assert(shot.getAs[Double]("end_x") == 105.0)
    assert(shot.getAs[Double]("end_y") == 34.0)
  }
}
