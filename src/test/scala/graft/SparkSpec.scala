package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The vendored 400-action golden SPADL game (see
    * src/test/resources/spadl/README.md). */
  def goldenSpadl: DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("multiLine", true)
      .json(getClass.getResource("/spadl/spadl.json").toString)
      .withColumn("seq", col("action_id"))
  }

  def collectSorted(df: DataFrame, cols: String*): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    df.orderBy(cols.map(col): _*).collect().toSeq
  }

  /** An order-independent fingerprint of a frame's schema and content:
    * the schema DDL (names, types, nullability), then the SHA-256 of its
    * rows rendered with `to_json(struct(*))`, sorted, one per line. */
  def contentDigest(df: DataFrame): String = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val rows = df.select(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
      .collect().map(_.getString(0)).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"${df.schema.toDDL} sha256:${sha.map("%02x".format(_)).mkString}"
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a kernel whose generated Java does not compile fails its test
      // instead of running interpreted
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
