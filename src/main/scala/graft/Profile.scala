package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.core.{SynActions, Tables}

/** The profiling main:
  *
  *   runMain graft.Profile <sfDir> <cores> <rounds> <outDir> [name ...]
  *
  * A name is a `SparkEntry` query, `all` (the default), `valuation`,
  * `valuation_packed` (the frozen bench's headline jobs) or `phases[:k]`
  * (`ScalingBench.valuationPhases` at k× replication, default 20). After a
  * warm-up at the sibling sf0.001, each runs `rounds` times into the noop
  * sink as job `profile:<name>#<round>`; each query or phase writes a JSON
  * line to stdout and `<outDir>/profile.jsonl`, its plans to
  * `<outDir>/plans/`. Shape counts cover the final plans of every SQL
  * execution of the last round, subqueries and each cached frame's plan
  * once. `run` is forked and `SparkConf` loads `spark.*` system properties,
  * so an A/B of a key [[session]] does not set passes `-D<key>=<value>` in
  * `javaOptions`. */
object Profile extends AdaptiveSparkPlanHelper {

  /** One shuffle partition per core; the field cap compiles the 568-column features. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores).config("spark.sql.codegen.maxFields", "1200")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Evaluates every column of `df` into the noop sink (a count() could prune them). */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Writes the formatted plans of `ran` to `file`; returns their shape counts. */
  private def shape(ran: Seq[QueryExecution], file: Path) = {
    Files.write(file, ran.map(_.explainString(FormattedMode)).mkString("\n").getBytes(UTF_8))
    val cached = mutable.Set[SparkPlan]()
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec if cached.add(m.relation.cachedPlan) => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val all = ran.flatMap(qe => nodes(qe.executedPlan))
    def n(c: Class[_]) = all.count(c.isInstance)
    ("exchanges" -> n(classOf[ShuffleExchangeExec])) ~ ("broadcasts" -> n(classOf[BroadcastExchangeExec])) ~
      ("sorts" -> n(classOf[SortExec])) ~ ("windows" -> n(classOf[WindowExec])) ~
      ("wscg" -> n(classOf[WholeStageCodegenExec])) ~ ("scans" -> n(classOf[FileSourceScanExec]))
  }

  /** Profiles one name: the JSON records of its query, job or phases. */
  def profile(spark: SparkSession, sfDir: String, cores: Int, rounds: Int,
              outDir: Path, name: String): Seq[String] = {
    val sf = Paths.get(sfDir).getFileName.toString
    val Phases = "phases(?::(\\d+))?".r
    val (kind, scale, steps): (String, String, () => Seq[(String, () => Any)]) = name match {
      case "valuation" => ("job", sf, () => Seq(name -> (() => Bench.valuationPipeline(spark, sfDir))))
      case "valuation_packed" => ("job", sf, () => Seq(name -> (() =>
        Bench.valuationPipelinePacked(spark, SynActions.fromEvents(Tables.events(spark, sfDir))))))
      case Phases(k) =>
        val n = Option(k).fold(20)(_.toInt)
        ("phase", s"${sf}x$n", () => ScalingBench.valuationPhases(spark, sfDir, n))
      case _ => ("query", sf, () => Seq(name -> (() => noop(SparkEntry.queries(name)(spark, sfDir)))))
    }
    val ran = mutable.Buffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.synchronized(ran += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val runs = mutable.LinkedHashMap[String, mutable.Buffer[Try[(Double, Seq[QueryExecution])]]]()
    spark.listenerManager.register(listener)
    for (r <- 1 to rounds; (step, body) <- steps()) {
      spark.sparkContext.setJobDescription(s"profile:$step#$r")
      Shim.drainListeners(spark) // listeners are called asynchronously
      ran.synchronized(ran.clear())
      val t0 = System.nanoTime()
      val run = Try { body(); (System.nanoTime() - t0) / 1e9 }
      Shim.drainListeners(spark)
      runs.getOrElseUpdate(step, mutable.Buffer()) += run.map(_ -> ran.synchronized(ran.toList))
    }
    spark.listenerManager.unregister(listener)
    spark.sparkContext.setJobDescription(null)
    Files.createDirectories(outDir.resolve("plans"))
    runs.toSeq.map { case (step, rs) =>
      val times = rs.flatMap(_.toOption).map(_._1).toList
      val rec = ("name" -> step) ~ ("kind" -> kind) ~ ("sf" -> scale) ~ ("cores" -> cores) ~
        ("rounds" -> rounds) ~ ("times_s" -> times) ~ ("min_s" -> times.minOption)
      compact(render(rs.collectFirst { case Failure(e) => rec ~ ("error" -> e.toString) }
        .getOrElse(rec ~ shape(rs.last.get._2, outDir.resolve(s"plans/$step.txt")))))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: graft.Profile <sfDir> <cores> <rounds> <outDir> [name ...]")
    val Array(sfDir, cores, rounds, out) = args.take(4)
    val names = args.drop(4).toSeq.padTo(1, "all")
      .flatMap(n => if (n == "all") SparkEntry.queries.keys.toSeq.sorted else Seq(n))
    val spark = session(cores.toInt)
    Bench.valuationPipeline(spark, Paths.get(sfDir).resolveSibling("sf0.001").toString)
    val outDir = Files.createDirectories(Paths.get(out))
    val jsonl = Files.newBufferedWriter(outDir.resolve("profile.jsonl"), UTF_8)
    for (name <- names; rec <- profile(spark, sfDir, cores.toInt, rounds.toInt, outDir, name)) {
      println(rec); jsonl.write(rec + "\n"); jsonl.flush()
    }
    jsonl.close(); spark.stop()
  }
}
