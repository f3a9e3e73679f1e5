package graft.vaep

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.sql.DataFrame

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

  /** Fit one binary GBT on `labelCol` (boolean/numeric) over `featureCols`
    * through the shared training path ([[VaepModel.fitGbts]]). */
  def fit(train: DataFrame, featureCols: Array[String], labelCol: String,
          maxIter: Int = 10, maxDepth: Int = 3, seed: Long = 42L): GBTClassificationModel =
    VaepModel.fitGbts(train, featureCols, Seq(labelCol), maxIter, maxDepth, seed).head

  /** P̂(goal) per shot as column `outCol` — scored through the FrozenGbt
    * literal-tree walker (≤1e-12 parity with the ml transform, see
    * VaepModel.estimateProbabilities): one codegen projection instead of a
    * VectorAssembler + prediction-UDF stage; the walker casts each feature
    * to double itself. */
  def predict(model: GBTClassificationModel, df: DataFrame,
              featureCols: Array[String], outCol: String = "xg"): DataFrame =
    df.withColumn(outCol, FrozenGbt.column(FrozenGbt.fromMl(model, featureCols)))
}
