package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.queries.MlQueries
import graft.vaep.{FrozenGbt, VaepModel}

/** One-shot generator for the frozen VAEP GBT resource
  * (`src/main/resources/graft/vaep_gbt_frozen.txt`): a seeded fit of the
  * scores/concedes GBT pair on the sf0.001 actions corpus over a compact
  * raw-column feature set, frozen to literal trees via [[FrozenGbt]].
  * Re-run only to regenerate the committed resource:
  *
  *   sbt "runMain graft.FreezeGbt [outPath]"
  */
object FreezeGbt {

  /** Raw-ish a0 features whose SQL mirror is a one-line expression each —
    * keeps the frozen-predict oracle compact while exercising the full
    * tree-walk chain. */
  val FeatureCols: Array[String] = Array(
    "start_x_a0", "start_y_a0", "end_x_a0", "end_y_a0", "dx_a0", "dy_a0",
    "time_seconds_a0", "start_dist_to_goal_a0", "type_id")

  /** xG frozen-model feature subset: numeric / boolean columns of the
    * shot-features frame whose names are bare SQL identifiers (the
    * one-hot names containing `/` would need quoting in the CASE walk)
    * and whose values are engine-exact (angles pre-rounded to 9). */
  val XgFeatureCols: Array[String] = Array(
    "start_x_a0", "start_y_a0", "start_dist_to_goal_a0", "start_angle_to_goal_a0",
    "start_x_a1", "start_y_a1", "dx_a1", "dy_a1", "movement_a1",
    "dx_a01", "dy_a01", "mov_a01", "team_1")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0)
      else "src/main/resources/graft/vaep_gbt_frozen.txt"
    val outXg = if (args.length > 1) args(1)
      else "src/main/resources/graft/xg_gbt_frozen.txt"
    val spark = Profile.session(8)
    val data = MlQueries.assembled(spark, "/root/testdata/sf0.001").cache()
    val m = VaepModel.fit(data, FeatureCols, maxIter = 5, maxDepth = 3, seed = 42L)
    val text =
      "model scores\n" + FrozenGbt.serialize(FrozenGbt.fromMl(m.scores, FeatureCols)) +
      "model concedes\n" + FrozenGbt.serialize(FrozenGbt.fromMl(m.concedes, FeatureCols))
    Files.createDirectories(Paths.get(out).getParent)
    Files.write(Paths.get(out), text.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out (${text.length} bytes)")

    // the xG lane: same seeded-fit-and-freeze over the shot feature matrix
    val shots = graft.queries.XgQueries.shotsWithFeatures(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("game_id") <
        graft.core.SynActions.NumGames / 2)
      .cache()
    val xg = graft.vaep.XgModel.fit(shots, XgFeatureCols, "result_success_a0",
      maxIter = 5, maxDepth = 3, seed = 42L)
    val textXg = "model xg\n" + FrozenGbt.serialize(FrozenGbt.fromMl(xg, XgFeatureCols))
    Files.createDirectories(Paths.get(outXg).toAbsolutePath.getParent)
    Files.write(Paths.get(outXg), textXg.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $outXg (${textXg.length} bytes)")
    spark.stop()
  }
}
