package graft

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.functions._

import graft.queries.MlQueries
import graft.vaep.{FrozenGbt, VaepModel}

/** Frozen-GBT fidelity: the literal tree walk must reproduce spark.ml's
  * own transform probabilities (same trees, same link), and the
  * serialization must round-trip bit-exactly — that is what makes the
  * vaep_rate_gbt_frozen oracle honest. */
class FrozenGbtSpec extends SparkSpec {

  test("freeze → column walk reproduces spark.ml probabilities; serialize round-trips") {
    val dir = "/root/testdata/sf0.001"
    val data = MlQueries.assembled(spark, dir).cache()
    val fc = FreezeGbt.FeatureCols
    val model = VaepModel.fit(data, fc, maxIter = 3, maxDepth = 3, seed = 7L)

    val frozen = FrozenGbt.fromMl(model.scores, fc)
    // serialization round-trip is bit-exact (shortest-repr doubles);
    // compare re-serialized text (Frozen holds Arrays → reference ==)
    val ser = FrozenGbt.serialize(frozen)
    assert(FrozenGbt.serialize(FrozenGbt.parse(ser)) == ser)

    // spark.ml's own prediction: the model's transform over the assembled
    // vector, P(positive) = probability[1]
    val vectors = new VectorAssembler().setInputCols(fc).setOutputCol("features_vec")
      .transform(data.select(col("seq") +: fc.map(c => col(c).cast("double").as(c)).toSeq: _*))
    val mlP = model.scores.transform(vectors)
      .select(col("seq"), vector_to_array(col("probability"))(1))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val frozenP = data.withColumn("fp", FrozenGbt.column(frozen))
      .select("seq", "fp").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mlP.keySet == frozenP.keySet)
    mlP.foreach { case (k, p) =>
      assert(math.abs(p - frozenP(k)) < 1e-12, s"seq $k: ml $p vs frozen ${frozenP(k)}")
    }
    data.unpersist()
  }

  test("committed resource parses, references valid features, and predicts in (0,1)") {
    val scores = FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "scores")
    val concedes = FrozenGbt.loadResource("/graft/vaep_gbt_frozen.txt", "concedes")
    assert(scores.featureCols.toSeq == FreezeGbt.FeatureCols.toSeq)
    assert(scores.trees.nonEmpty && concedes.trees.nonEmpty)
    def maxFeature(n: FrozenGbt.GNode): Int = n match {
      case FrozenGbt.GLeaf(_) => -1
      case FrozenGbt.GSplit(f, _, l, r) => math.max(f, math.max(maxFeature(l), maxFeature(r)))
    }
    (scores.trees ++ concedes.trees).foreach { t =>
      assert(maxFeature(t.root) < scores.featureCols.length)
    }
  }
}
