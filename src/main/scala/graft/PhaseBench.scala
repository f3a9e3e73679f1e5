package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TokenCodec
import graft.streaming.SessionEngine
import graft.vaep.{Features, GameStates}
import graft.xt.XThreat

/** Phase-level profiling for the valuation pipeline (scaling diagnosis). */
object PhaseBench {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  def t(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f
    println(f"PHASE $name%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val k = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.codegen.maxFields", sys.env.getOrElse("MAXF", "1200"))
      .config("spark.sql.codegen.methodSplitThreshold", sys.env.getOrElse("SPLITT", "1024"))
      .config("spark.sql.codegen.wholeStage", sys.env.getOrElse("WSCG", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.valuationPipeline(spark, "/root/testdata/sf0.001") // warmup
    val actions = ScalingBench.replicatedActions(spark, "/root/testdata/sf0.1", k)
    println(s"CORES $cores")
    t("actions")(noop(actions))
    val enc = TokenCodec.encode(actions)
    t("encode")(noop(enc))
    val decoded = TokenCodec.decode(enc).withColumn("seq", col("action_id"))
    t("decode")(noop(decoded))
    val valued = SessionEngine.runBatch(decoded).persist()
    t("cep")(valued.count())
    t("xtfit")(XThreat.fit(valued))
    val model = XThreat.fit(valued)
    val states = GameStates.withStates(graft.vaep.Features.withGoalscore(valued), 3)
    t("states")(noop(states))
    val rated = states.select(
      Seq(col("game_id"), col("action_id"), col("scores"), col("concedes"),
        XThreat.rateColumn(model).as("xt_value")) ++ Features.defaultFeaturesPostGoalscore(3): _*)
    t("features")(noop(rated))
    val onehots = states.select((0 until 3).flatMap(i => Features.actiontypeOnehot(i) ++ Features.resultOnehot(i) ++ Features.bodypartOnehot(i)): _*)
    t("onehots")(noop(onehots))
    val atr = states.select((0 until 3).flatMap(i => Features.actiontypeResultOnehot(i)): _*)
    t("atr")(noop(atr))
    val numeric = states.select((0 until 3).flatMap(i => Features.time(i) ++ Features.startlocation(i) ++ Features.endlocation(i) ++ Features.startpolar(i) ++ Features.endpolar(i) ++ Features.movement(i)) ++ (1 until 3).flatMap(i => Features.team(i) ++ Features.timeDelta(i) ++ Features.spaceDelta(i)) ++ Features.goalscore: _*)
    t("numeric")(noop(numeric))
    spark.stop()
  }
}
