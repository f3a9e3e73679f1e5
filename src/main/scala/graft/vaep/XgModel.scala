package graft.vaep

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Expected-goals (xG) classifier: a single binary model P(goal | shot)
  * over shot gamestate features — the workflow of the reference's
  * `public-notebooks/EXTRA-build-expected-goals-model.ipynb` (train on the
  * first half of games, score the second half, report Brier / log-loss /
  * AUROC against the class-prior baseline).
  *
  * Reuses the VAEP feature families ([[Features]]); the model itself is a
  * seeded spark.ml GBT (the notebook's XGBClassifier lane — spark.ml has no
  * exact XGBoost twin, and like the VAEP models the notebook never
  * value-checks classifier output). The fixed-coefficient logistic lane is
  * value-golden in `XgQueries.xg_rate_logistic`.
  */
object XgModel {

  /** Fit one binary GBT on `labelCol` (boolean/numeric) over `featureCols`. */
  def fit(train: DataFrame, featureCols: Array[String], labelCol: String,
          maxIter: Int = 10, maxDepth: Int = 3, seed: Long = 42L): GBTClassificationModel = {
    // project to (label, vector) and right-size the training parallelism
    // before boosting: each boosting iteration runs several tiny
    // histogram-aggregation jobs, so partitions far below ~32k rows each
    // cost more in per-task overhead than they buy (same scale-adaptive
    // rule as VaepModel.fit — a large corpus keeps the session parallelism)
    val assembled = assemble(train, featureCols)
      .withColumn("label_xg", col(labelCol).cast("double"))
      .select("label_xg", "features_vec")
      .cache()
    val nRows = assembled.count()
    val target = math.max(1L, nRows / 32768L)
      .min(assembled.rdd.getNumPartitions.toLong).toInt
    val train0 =
      if (target < assembled.rdd.getNumPartitions) assembled.coalesce(target)
      else assembled
    val m = new GBTClassifier()
      .setLabelCol("label_xg").setFeaturesCol("features_vec")
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed)
      .fit(train0)
    assembled.unpersist()
    m
  }

  /** P̂(goal) per shot as column `outCol` — scored through the FrozenGbt
    * literal-tree walker (≤1e-12 parity with the ml transform, see
    * VaepModel.estimateProbabilities): one codegen projection instead of a
    * VectorAssembler + prediction-UDF stage; the walker casts each feature
    * to double itself. */
  def predict(model: GBTClassificationModel, df: DataFrame,
              featureCols: Array[String], outCol: String = "xg"): DataFrame =
    df.withColumn(outCol, FrozenGbt.column(FrozenGbt.fromMl(model, featureCols)))

  private def assemble(df: DataFrame, featureCols: Array[String]): DataFrame =
    new VectorAssembler().setInputCols(featureCols).setOutputCol("features_vec")
      .transform(VaepModel.numericize(df, featureCols.toSeq))
}
