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
