package graft.vaep

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M1–M4 — the VAEP model pair: two gradient-boosted binary classifiers
  * P(score in next 10) / P(concede in next 10) over the assembled feature
  * vector (reference `socceraction/vaep/base.py:142-216`).
  *
  * Differences from the reference, by design: `fit` has no early stopping,
  * so trees are fixed at `maxIter` with a fixed seed ([[fitWithValidation]]
  * adds the reference's validation-split early stopping); the
  * reference's own e2e tests don't golden-check learned-model outputs either
  * (`tests/vaep/test_vaep.py` asserts structure + metrics), and neither do
  * ours — the value-exact gates cover features/labels/formula/xT.
  */
object VaepModel {

  final case class Fitted(
      featureCols: Array[String],
      scores: GBTClassificationModel,
      concedes: GBTClassificationModel)

  /** The one GBT training path (M1 and the xG model): cast the features to
    * double, assemble the one vector, and cache ONLY what the fits read —
    * `label_<l>` per label, the optional `is_val` indicator and
    * `features_vec`. The upstream frame is wide (the full feature
    * projection plus every carried action column); caching it whole would
    * burn memory and make each boosting iteration's dataset->RDD
    * conversion scan dead columns. Returns one seeded model per label, in
    * the order of `labels`. */
  private[vaep] def fitGbts(df: DataFrame, featureCols: Array[String], labels: Seq[String],
                            maxIter: Int, maxDepth: Int, seed: Long,
                            validation: Option[Column] = None): Seq[GBTClassificationModel] = {
    val assembled = new VectorAssembler().setInputCols(featureCols).setOutputCol("features_vec")
      .transform(df.select(
        featureCols.map(c => col(c).cast("double").as(c)).toSeq ++
          labels.map(l => col(l).cast("double").as(s"label_$l")) ++
          validation.map(_.as("is_val")): _*))
      .select((labels.map(l => s"label_$l") ++ validation.map(_ => "is_val") :+
        "features_vec").map(col): _*)
      .cache()
    // materialize the cache once before the fits race for it
    val nRows = assembled.count()
    // boosting runs dozens of small jobs (findSplits + one histogram
    // aggregation per tree level per iteration); with partitions far below
    // ~32k rows each, per-task stats-array allocation and scheduling dwarf
    // the real work. Derive the training parallelism from the data size
    // (scale-adaptive: a 100 TB input keeps the session's parallelism, a
    // small one collapses to few partitions) instead of inheriting the
    // session's shuffle-partition count.
    val train = {
      val target = math.max(1L, nRows / 32768L).min(
        assembled.rdd.getNumPartitions.toLong).toInt
      if (target < assembled.rdd.getNumPartitions) assembled.coalesce(target)
      else assembled
    }
    def gbt(label: String) = {
      val g = new GBTClassifier()
        .setLabelCol(s"label_$label").setFeaturesCol("features_vec")
        .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed)
      if (validation.isDefined) g.setValidationIndicatorCol("is_val") else g
    }
    // the per-label fits are INDEPENDENT job sequences over the same cached
    // input; boosting runs many small sequential jobs per model, each
    // leaving most cores idle — submitting the fits from one thread each
    // lets the scheduler back-fill one model's stragglers with another
    // model's tasks. Each fit's lineage is unchanged, so every model is
    // identical to the sequential run.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(labels.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fits = labels.map(l => scala.concurrent.Future(gbt(l).fit(train)))
      fits.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally {
      pool.shutdown()
      assembled.unpersist()
    }
  }

  def fit(train: DataFrame, featureCols: Array[String], maxIter: Int = 20,
          maxDepth: Int = 3, seed: Long = 42L): Fitted = {
    val Seq(scores, concedes) =
      fitGbts(train, featureCols, Seq("scores", "concedes"), maxIter, maxDepth, seed)
    Fitted(featureCols, scores, concedes)
  }

  /** M1 with the reference's validation split (`vaep/base.py:142-216`
    * holds out 25% for xgboost early stopping): a seeded randomSplit, GBTs
    * trained with `validationIndicatorCol` early stopping, and held-out
    * Brier/AUROC per label returned alongside the model. */
  def fitWithValidation(data: DataFrame, featureCols: Array[String],
                        maxIter: Int = 20, maxDepth: Int = 3, seed: Long = 42L,
                        valFraction: Double = 0.25)
      : (Fitted, Map[String, (Double, Double)]) = {
    val Array(tr, va) = data.randomSplit(Array(1 - valFraction, valFraction), seed)
    val both = tr.withColumn("is_val", lit(false))
      .unionByName(va.withColumn("is_val", lit(true)))
    val Seq(scores, concedes) = fitGbts(both, featureCols, Seq("scores", "concedes"),
      maxIter, maxDepth, seed, Some(col("is_val")))
    val fitted = Fitted(featureCols, scores, concedes)
    val vaProbs = estimateProbabilities(fitted, va)
    val metrics = Map(
      "scores" -> score(vaProbs, "scores", "scores_p"),
      "concedes" -> score(vaProbs, "concedes", "concedes_p"))
    (fitted, metrics)
  }

  /** M2 — P̂(positive) per model as columns `scores_p` / `concedes_p`.
    *
    * Scores through the [[FrozenGbt]] literal-tree walker instead of two
    * `GBTClassificationModel.transform` stages: the walker replicates
    * predictRaw's weighted leaf-sum and the log-loss link term for term
    * (FrozenGbtSpec asserts ≤1e-12 parity with spark.ml's own
    * `GBTClassificationModel.transform` probabilities on every row), but runs as ONE whole-stage-codegen projection — no
    * VectorAssembler materialization and no per-row prediction UDF, the
    * guide-§4 "prefer codegen expressions in the hot path" move. The walker
    * reads each feature as `cast("double")`, so the features are not
    * cast first. */
  def estimateProbabilities(model: Fitted, df: DataFrame): DataFrame =
    df
      .withColumn("scores_p",
        FrozenGbt.column(FrozenGbt.fromMl(model.scores, model.featureCols)))
      .withColumn("concedes_p",
        FrozenGbt.column(FrozenGbt.fromMl(model.concedes, model.featureCols)))

  /** M3 — rate: probabilities + the VAEP value formula. */
  def rate(model: Fitted, df: DataFrame): DataFrame =
    Formula.value(estimateProbabilities(model, df))

  /** M4 — Brier score + AUROC per label (reference `vaep/base.py:351-382`). */
  def score(df: DataFrame, labelCol: String, probCol: String): (Double, Double) = {
    val withL = df.withColumn("l", col(labelCol).cast("double"))
    val brier = withL
      .agg(avg(pow(col(probCol) - col("l"), 2))).head.getDouble(0)
    val auroc = new BinaryClassificationEvaluator()
      .setLabelCol("l").setRawPredictionCol(probCol)
      .setMetricName("areaUnderROC")
      .evaluate(withL)
    (brier, auroc)
  }
}
