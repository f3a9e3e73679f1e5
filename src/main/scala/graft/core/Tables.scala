package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Shim

/** Readers for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths)` given the schema Spark would infer: read on
    * the driver from the first data file's footer, by Spark's own footer
    * rule (its row-metadata key, else its Parquet converter under the
    * session conf). Without a schema every read first runs a one-task
    * inference job. With no data file to read (a missing path, an empty
    * directory), Spark's own inference runs and reports the failure. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = Shim.hadoopConf(spark)
    val first = paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
        if (!st.isDirectory) Seq(st.getPath)
        else fs.listStatus(st.getPath).toSeq.filter(f => f.isFile && !f.getPath.getName.matches("[_.].*"))
          .map(_.getPath).sortBy(_.getName)
      }
    }.nextOption()
    first.fold(spark.read.parquet(paths: _*)) { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val footer = try new Footer(f, reader.getFooter) finally reader.close()
      val schema = ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(Shim.sqlConf(spark)))
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
}
