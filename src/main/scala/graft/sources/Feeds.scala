package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{element_at, filter}

/** Lookups the provider loaders share. */
private[sources] object Feeds {

  /** The first team of a feed's team array whose side (read by `sideOf`)
    * is `side`: the per-side team lookup of the Opta schedule and result
    * feeds and of Wyscout's teamsData (as its map entries). */
  def onSide(teams: Column, side: String, sideOf: Column => Column): Column =
    element_at(filter(teams, t => sideOf(t) === side), 1)
}
