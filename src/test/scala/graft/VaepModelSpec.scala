package graft

import graft.queries.MlQueries
import graft.vaep.VaepModel

/** M1–M4 structural + metric gates, mirroring the reference's e2e test
  * shape (`tests/vaep/test_vaep.py` asserts columns/lengths/metrics, not
  * values, because classifier output is model-dependent). */
class VaepModelSpec extends SparkSpec {

  test("fit → probabilities → value chain is complete, deterministic and sane") {
    val dir = "/root/testdata/sf0.001"
    val data = MlQueries.assembled(spark, dir).cache()
    val n = data.count()
    val fc = MlQueries.featureCols(3)
    val model = VaepModel.fit(data, fc, maxIter = 5, maxDepth = 3, seed = 42L)

    val rated = VaepModel.rate(model, data).cache()
    assert(rated.count() == n) // every action rated
    val row = rated.select("scores_p", "concedes_p", "vaep_value").collect()
    row.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(!r.getDouble(2).isNaN)
    }

    // seeded determinism: refit produces identical probabilities
    val model2 = VaepModel.fit(data, fc, maxIter = 5, maxDepth = 3, seed = 42L)
    val p1 = VaepModel.estimateProbabilities(model, data)
      .select("seq", "scores_p").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p2 = VaepModel.estimateProbabilities(model2, data)
      .select("seq", "scores_p").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p1 == p2)

    // metric gates: brier in [0, 0.3], AUROC above chance on train data
    val probs = VaepModel.estimateProbabilities(model, data)
    val (brier, auroc) = VaepModel.score(probs, "scores", "scores_p")
    assert(brier >= 0.0 && brier <= 0.3, s"brier $brier")
    assert(auroc > 0.5, s"auroc $auroc")
    data.unpersist()
  }

  test("atomic GBT chain: fit → probabilities → atomic value formula, metric-gated") {
    // mirrors the reference e2e shape for AtomicVAEP(nb_prev_actions=1)
    // (tests/atomic/test_atomic_vaep.py:24-61): structure + metrics, not
    // values — classifier output is model-dependent
    val dir = "/root/testdata/sf0.001"
    val data = MlQueries.atomicAssembled(spark, dir).cache()
    val n = data.count()
    val model = VaepModel.fit(data, MlQueries.atomicFeatureCols,
      maxIter = 5, maxDepth = 3, seed = 42L)
    val rated = graft.vaep.Formula.value(VaepModel.estimateProbabilities(model, data),
      kind = graft.vaep.ActionKind.Atomic).cache()
    assert(rated.count() == n)
    rated.select("scores_p", "concedes_p", "offensive_value", "defensive_value", "vaep_value")
      .collect().foreach { r =>
        assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
        assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
        assert(math.abs(r.getDouble(2) + r.getDouble(3) - r.getDouble(4)) < 1e-12)
      }
    val probs = VaepModel.estimateProbabilities(model, data)
    val (brier, auroc) = VaepModel.score(probs, "scores", "scores_p")
    assert(brier >= 0.0 && brier <= 0.3, s"atomic brier $brier")
    assert(auroc > 0.5, s"atomic auroc $auroc")
    rated.unpersist()
    data.unpersist()
  }

  test("validation-split fit: early stopping wired, held-out metrics returned") {
    val dir = "/root/testdata/sf0.001"
    val data = MlQueries.assembled(spark, dir).cache()
    val fc = MlQueries.featureCols(3)
    val (model, metrics) = VaepModel.fitWithValidation(
      data, fc, maxIter = 5, maxDepth = 3, seed = 42L)
    val (brier, auroc) = metrics("scores")
    // held-out discrimination must beat chance (a train-degenerate model
    // that memorized nothing scores 0.5 here)
    assert(brier >= 0.0 && brier <= 0.3, s"held-out brier $brier")
    assert(auroc > 0.5, s"held-out auroc $auroc")
    // the validation-trained pair rates the full frame
    assert(VaepModel.rate(model, data).count() == data.count())
    data.unpersist()
  }
}
