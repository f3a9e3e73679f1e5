package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim

import graft.core.{SynActions, Tables}
import graft.streaming.SnapshotTable

/** Table-layout behavior the 100 TB design relies on (SURVEY §4.3):
  * partition pruning on a bucketed directory layout and predicate pushdown
  * into the parquet scan — asserted against the physical plan, not just
  * row counts. */
class StorageLayoutSpec extends SparkSpec {

  test("bucket(game_id) directory layout prunes partitions at scan time") {
    val dir = Files.createTempDirectory("graft_prune").toString
    val actions = SynActions.fromEvents(Tables.events(spark, "/root/testdata/sf0.001"))
      .withColumn("game_bucket", col("game_id") % 8)
    actions.write.partitionBy("game_bucket").mode("overwrite").parquet(dir)

    val all = spark.read.parquet(dir)
    val pruned = all.filter(col("game_bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    // the bucket predicate becomes a PARTITION filter (evaluated against
    // directory names, before any file is opened), not a data filter
    val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("game_bucket") && pf.contains("= 3"), plan.take(800))
    assert(pruned.count() ==
      actions.filter(col("game_id") % 8 === 3).count())
  }

  test("predicates and projections push into the parquet scan") {
    val dir = Files.createTempDirectory("graft_push").toString
    SynActions.fromEvents(Tables.events(spark, "/root/testdata/sf0.001"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("type_id") === 11 && col("result_id") === 1)
      .select("game_id", "action_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("IsNotNull(type_id)"), plan.take(800))
    // column pruning: the scan schema carries only the needed columns
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("game_id") && readSchema.contains("type_id"))
    assert(!readSchema.contains("start_x") && !readSchema.contains("bodypart_id"),
      readSchema)
  }

  test("table reads take Spark's inferred schema from a footer and start no job") {
    val sc = spark.sparkContext
    def jobs() = { Shim.drainListeners(spark); sc.statusTracker.getJobIdsForGroup(null).toSet }
    def noJob(read: => DataFrame) = {
      val before = jobs()
      val schema = read.schema
      assert(jobs() == before, "the read started a Spark job")
      schema
    }
    val sf = "/root/testdata/sf0.001"
    for (t <- Seq("events", "documents", "embeddings", "lineitem", "orders", "customer",
        "nation", "region", "part", "supplier"))
      assert(noJob(Tables.read(spark, sf, t)) == spark.read.parquet(s"$sf/$t.parquet").schema, t)

    val table = new SnapshotTable(Files.createTempDirectory("graft_schema").toString)
    val actions = SynActions.fromEvents(Tables.events(spark, sf))
    assert(table.commit(actions.filter(col("game_id") % 2 === 0), 0L))
    assert(table.commit(actions.filter(col("game_id") % 2 === 1), 1L))
    val files = table.liveFiles
    assert(files.length >= 2)
    val read = table.read(spark)
    assert(noJob(table.read(spark)) == spark.read.parquet(files: _*).schema)
    assert(read.count() == actions.count())
  }
}
