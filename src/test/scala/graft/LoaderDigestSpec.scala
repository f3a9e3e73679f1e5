package graft

import org.apache.spark.sql.DataFrame

import graft.sources.{OptaLoader, PublicWyscoutLoader, StatsBombLoader, WyscoutLoader}

/** Pins every public accessor of the four provider loaders on the
  * checked-in fixtures: each frame's [[SparkSpec.contentDigest]] (schema
  * DDL + SHA-256 of the sorted JSON rows) must equal its line in
  * `loader_digests.tsv`. A refactor of a loader keeps every line; a change
  * that means to alter an output changes the line it alters, in the same
  * diff. */
class LoaderDigestSpec extends SparkSpec {

  private def resource(name: String) = getClass.getResource(name).toString
  private lazy val opta = OptaLoader(spark, resource("/opta_root").stripPrefix("file:"))
  private lazy val wy = WyscoutLoader(spark, resource("/wyscout_root"))
  private lazy val pub = PublicWyscoutLoader(spark, resource("/public_wyscout"))
  private lazy val sb = StatsBombLoader(spark, resource("/statsbomb_root"))

  private lazy val expected: Map[String, String] =
    scala.io.Source.fromURL(getClass.getResource("/loader_digests.tsv"), "UTF-8")
      .getLines().filter(_.nonEmpty).map { l =>
        val Array(name, digest) = l.split("\t", 2)
        name -> digest
      }.toMap

  private val accessors: Seq[(String, () => DataFrame)] = Seq(
    "opta.competitions" -> (() => opta.competitions()),
    "opta.games(c1,s1)" -> (() => opta.games("c1", "s1")),
    "opta.teams(g900)" -> (() => opta.teams("g900")),
    "opta.events(g900)" -> (() => opta.events("g900")),
    "opta.players(g900)" -> (() => opta.players("g900")),
    "opta.f1Competitions" -> (() => opta.f1Competitions()),
    "opta.f1Games" -> (() => opta.f1Games()),
    "opta.f9Games(918)" -> (() => opta.f9Games("918")),
    "opta.f9Games(920)" -> (() => opta.f9Games("920")),
    "opta.f9Teams(918)" -> (() => opta.f9Teams("918")),
    "opta.f9Teams(920)" -> (() => opta.f9Teams("920")),
    "opta.f9Lineups(918)" -> (() => opta.f9Lineups("918")),
    "opta.f9Lineups(920)" -> (() => opta.f9Lineups("920")),
    "opta.f7Games(918)" -> (() => opta.f7Games("918")),
    "opta.f7Games(920)" -> (() => opta.f7Games("920")),
    "opta.f7Teams(918)" -> (() => opta.f7Teams("918")),
    "opta.f7Teams(920)" -> (() => opta.f7Teams("920")),
    "opta.f7Lineups(918)" -> (() => opta.f7Lineups("918")),
    "opta.f7Lineups(920)" -> (() => opta.f7Lineups("920")),
    "opta.wsGames(555)" -> (() => opta.wsGames("555", competitionId = 1L, seasonId = 1L)),
    "opta.wsTeams(555)" -> (() => opta.wsTeams("555")),
    "opta.wsEvents(555)" -> (() => opta.wsEvents("555")),
    "opta.wsSubstitutions(555)" -> (() => opta.wsSubstitutions("555")),
    "opta.wsPlayerGameStats(555)" -> (() => opta.wsPlayerGameStats("555")),
    "opta.wsPlayerStats(555)" -> (() => opta.wsPlayerStats("555")),
    "opta.wsTeamGameStats(555)" -> (() => opta.wsTeamGameStats("555")),
    "opta.wsTeamStats(555)" -> (() => opta.wsTeamStats("555")),
    "opta.wsPositions(555)" -> (() => opta.wsPositions("555")),
    "opta.f24XmlGames(919)" -> (() => opta.f24XmlGames("919")),
    "opta.f24XmlGames" -> (() => opta.f24XmlGames()),
    "opta.f24XmlEvents(919)" -> (() => opta.f24XmlEvents("919")),
    "opta.f24Games(918)" -> (() => opta.f24Games("918")),
    "opta.f24Games" -> (() => opta.f24Games()),
    "opta.f24Events(918)" -> (() => opta.f24Events("918")),
    "wyscout.competitions" -> (() => wy.competitions()),
    "wyscout.seasons(5)" -> (() => wy.seasons(5)),
    "wyscout.games(5,77)" -> (() => wy.games(5, 77)),
    "wyscout.teams(500)" -> (() => wy.teams(500)),
    "wyscout.players(500)" -> (() => wy.players(500)),
    "wyscout.events(500)" -> (() => wy.events(500)),
    "wyscout.playerGames(500)" -> (() => wy.playerGames(500)),
    "publicWyscout.competitions" -> (() => pub.competitions()),
    "publicWyscout.games(364,181150)" -> (() => pub.games(364L, 181150L)),
    "publicWyscout.teams(364,2499719)" -> (() => pub.teams(364L, 2499719L)),
    "publicWyscout.players(364,2499719)" -> (() => pub.players(364L, 2499719L)),
    "publicWyscout.events(364,2499719)" -> (() => pub.events(364L, 2499719L)),
    "publicWyscout.playerGames(364,2499719)" -> (() => pub.playerGames(364L, 2499719L)),
    "statsbomb.competitions" -> (() => sb.competitions()),
    "statsbomb.games(1,2)" -> (() => sb.games(1, 2)),
    "statsbomb.teams(100)" -> (() => sb.teams(100)),
    "statsbomb.events(100)" -> (() => sb.events(100)),
    "statsbomb.events(100,load360)" -> (() => sb.events(100, load360 = true)),
    "statsbomb.players(100)" -> (() => sb.players(100)),
    "statsbomb.extractPlayerGames(100)" ->
      (() => StatsBombLoader.extractPlayerGames(sb.events(100))))

  for ((name, frame) <- accessors) test(s"digest: $name") {
    val actual = contentDigest(frame())
    assert(expected.get(name).contains(actual), s"\n$name\t$actual\n")
  }

  test("every pinned digest names an accessor of this spec") {
    assert(expected.keySet == accessors.map(_._1).toSet)
  }
}
