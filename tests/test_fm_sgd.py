"""FMRegressorSGD training tests: convergence, determinism, pipeline
compatibility (reference SGD loop SGD.scala:88-216; sample app
Sample.scala:16-73 exercises CrossValidator)."""

import random

import numpy as np
import pytest
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.linalg import Vectors

from fmx.fm import FMModel, FMRegressorSGD


def synthetic_fm_data(spark, n=400, seed=7):
    """y = 0.5 + 0.3*x0 - 0.2*x1 + 0.4*x0*x2 + noise, scaled into [0,1]."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        x = [rng.uniform(0, 1) for _ in range(4)]
        y = 0.2 + 0.3 * x[0] - 0.2 * x[1] + 0.4 * x[0] * x[2] \
            + rng.gauss(0, 0.01)
        rows.append((Vectors.dense(x), min(max(y, 0.0), 1.0)))
    return spark.createDataFrame(rows, ["features", "label"])


def test_sgd_loss_decreases_and_beats_bias(spark):
    df = synthetic_fm_data(spark).cache()
    est = FMRegressorSGD(dimFactorization=4, maxIter=8, miniBatchFraction=0.125,
                         regParam=0.0, stepSize=0.5, initialSd=0.01, seed=42)
    model = est.fit(df)
    losses = est.training_loss_
    assert len(losses) >= 6
    assert losses[-1] < losses[0] * 0.9, losses

    pred = model.transform(df)
    mae = RegressionEvaluator(metricName="mae").evaluate(pred)
    assert mae < 0.12, mae


def test_sgd_deterministic_given_seed(spark):
    df = synthetic_fm_data(spark, n=120).cache()
    kw = dict(dimFactorization=3, maxIter=4, miniBatchFraction=0.25,
              regParam=0.01, stepSize=0.5, seed=99)
    m1 = FMRegressorSGD(**kw).fit(df)
    m2 = FMRegressorSGD(**kw).fit(df)
    # exact: a join strategy picked from run-time sizes would change
    # the gradient's float summation order between the two fits
    for table in ("strength", "factors"):
        assert sorted(getattr(m1, table).collect()) == \
               sorted(getattr(m2, table).collect())


def test_l1_shrinkage_drives_weights_to_zero(spark):
    df = synthetic_fm_data(spark, n=100).cache()
    est = FMRegressorSGD(dimFactorization=3, maxIter=3, miniBatchFraction=0.34,
                         regParam=50.0, stepSize=1.0, seed=5)
    model = est.fit(df)
    rows = model.strength.collect()
    assert all(r.strength == 0.0 for r in rows)
    assert all(all(v == 0.0 for v in r.vec) for r in model.factors.collect())


def test_cross_validator_compat(spark):
    """The reference's only end-to-end app runs under CrossValidator +
    RegressionEvaluator (Sample.scala:41-63, M7)."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    df = synthetic_fm_data(spark, n=160).cache()
    fm = FMRegressorSGD(dimFactorization=2, maxIter=3, miniBatchFraction=0.34,
                        stepSize=0.5, seed=3)
    grid = (ParamGridBuilder()
            .addGrid(fm.regParam, [1e-6, 0.0])
            .build())
    cv = CrossValidator(estimator=fm, estimatorParamMaps=grid,
                        evaluator=RegressionEvaluator(metricName="mae"),
                        numFolds=2, seed=11)
    cv_model = cv.fit(df)
    out = cv_model.transform(df)
    assert out.count() == 160
    assert "prediction" in out.columns


def _cached_relation_rdds(spark) -> int:
    """Persisted RDDs of cached relations, which are named after their
    plan (unnamed localCheckpoints excluded: the context cleaner drops
    those on its own schedule)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if r.name() is not None)


def test_vector_fit_runs_one_action_per_step(spark):
    """A vector fit runs maxIter + 2 SQL executions: the init
    checkpoint, the batch count, and one checkpoint per step, whose job
    also observes the step's loss.  It leaves no cached relation of its
    own behind."""
    from tests.test_fm_model import _sql_plans_of

    df = synthetic_fm_data(spark, n=40, seed=9)
    est = FMRegressorSGD(dimFactorization=2, maxIter=2,
                         miniBatchFraction=0.5, seed=3)
    before = _cached_relation_rdds(spark)
    plans = _sql_plans_of(spark, lambda: est.fit(df))
    assert len(est.training_loss_) == 2
    assert len(plans) == 2 + 2
    assert _cached_relation_rdds(spark) == before


def test_fit_long_format(spark):
    """Long-format training: no feature vectors anywhere; converges and
    is deterministic under the seed."""
    from pyspark.sql import functions as F

    df = synthetic_fm_data(spark, n=200, seed=21)
    from fmx.core.linalg import explode_vector
    long_df = explode_vector(
        df.withColumn("sampleId", F.monotonically_increasing_id()),
        "features", id_cols=["sampleId", "label"]).cache()
    long_df.count()

    est = FMRegressorSGD(dimFactorization=3, maxIter=4,
                         regParam=0.0, stepSize=0.5, seed=77,
                         fitIntercept=True)
    before = _cached_relation_rdds(spark)
    m1 = est.fit_long(long_df)
    # fit_long releases the batch-tagged cache it made itself; the
    # caller's long_df cache stays
    assert _cached_relation_rdds(spark) == before
    losses1 = list(est.training_loss_)
    assert losses1[-1] < losses1[0], losses1

    est2 = FMRegressorSGD(dimFactorization=3, maxIter=4,
                          regParam=0.0, stepSize=0.5, seed=77,
                          fitIntercept=True)
    est2.fit_long(long_df)
    assert [round(x, 9) for x in est2.training_loss_] == \
           [round(x, 9) for x in losses1]

    out = m1.transform(df)
    assert out.count() == df.count()


def test_cross_check_builtin_fmregressor(spark):
    """SURVEY §5 plan item (3): sanity-check our SGD against Spark's
    built-in pyspark.ml.regression.FMRegressor on the same synthetic FM
    data — different optimizers (AdamW vs decayed SGD), so the contract
    is 'both clearly beat the constant-mean baseline', not equality."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.regression import FMRegressor
    from pyspark.sql import functions as F

    df = synthetic_fm_data(spark, n=300, seed=13).cache()
    mean_label = df.agg(F.avg("label")).first()[0]
    baseline_mae = df.agg(
        F.avg(F.abs(F.col("label") - F.lit(mean_label)))).first()[0]
    ev = RegressionEvaluator(metricName="mae")

    builtin = FMRegressor(factorSize=4, maxIter=50, stepSize=0.1, seed=1)
    mae_builtin = ev.evaluate(builtin.fit(df).transform(df))

    ours = FMRegressorSGD(dimFactorization=4, maxIter=8,
                          miniBatchFraction=0.125, regParam=0.0,
                          stepSize=0.5, seed=42, fitIntercept=True)
    mae_ours = ev.evaluate(ours.fit(df).transform(df))

    assert mae_builtin < baseline_mae * 0.8
    assert mae_ours < baseline_mae * 0.8, (mae_ours, baseline_mae)
    # and within a loose band of the heavily-iterated builtin
    assert mae_ours < max(3 * mae_builtin, 0.15), (mae_ours, mae_builtin)


def test_fit_intercept_learns_bias(spark):
    """fitIntercept=True (our opt-in extension: the reference mixes in
    HasFitIntercept but never updates w0) must learn a constant shift
    the weights alone struggle with."""
    import random
    rng = random.Random(3)
    rows = [(Vectors.dense([rng.uniform(0, 0.1) for _ in range(3)]),
             0.7 + rng.gauss(0, 0.01)) for _ in range(200)]
    df = spark.createDataFrame(rows, ["features", "label"]).cache()
    kw = dict(dimFactorization=2, maxIter=5, miniBatchFraction=0.2,
              regParam=0.0, stepSize=1.0, seed=4, minLabel=0.0, maxLabel=1.0)
    with_b = FMRegressorSGD(**kw, fitIntercept=True)
    model_b = with_b.fit(df)
    without = FMRegressorSGD(**kw)
    model_0 = without.fit(df)
    assert model_0.global_bias == 0.0
    assert 0.3 < model_b.global_bias <= 0.9
    assert with_b.training_loss_[-1] < without.training_loss_[-1] * 0.5


def test_model_params_flow_from_estimator(spark):
    df = synthetic_fm_data(spark, n=60).cache()
    est = FMRegressorSGD(dimFactorization=2, maxIter=2, miniBatchFraction=0.5,
                         seed=1, minLabel=0.0, maxLabel=1.0,
                         predictionCol="p2")
    model = est.fit(df)
    assert isinstance(model, FMModel)
    assert model.getPredictionCol() == "p2"
    assert model.getMinLabel() == 0.0 and model.getMaxLabel() == 1.0
    out = model.transform(df)
    stats = out.selectExpr("min(p2) lo", "max(p2) hi").first()
    assert stats.lo >= 0.0 and stats.hi <= 1.0


def _numpy_sgd_step(X, y, w, V, n, lr, shrink):
    """One reference SGD step (SGD.scala:114-181) in NumPy: forward
    pass, error, per-feature gradients summed over the batch and
    divided by the batch's sample count n, then L1 soft-thresholding."""
    s = X @ V
    pred = X @ w + 0.5 * ((s ** 2).sum(1) - ((X ** 2) @ (V ** 2)).sum(1))
    err = pred - y
    gw = X.T @ err
    gv = X.T @ (err[:, None] * s) - V * ((X ** 2).T @ err)[:, None]

    def soft(a):
        return np.sign(a) * np.maximum(0.0, np.abs(a) - shrink)

    return soft(w - lr * gw / n), soft(V - lr * gv / n), err


def test_gradient_divisor_counts_every_batch_sample(spark):
    """The gradient divisor is the batch's SAMPLE count
    (dfMiniBatch.count, SGD.scala:124): a sample with no active feature
    counts on the vector path and on the online path, and fit_long
    divides by distinct sample ids, not by (sample, feature) rows."""
    from pyspark.sql import functions as F

    from fmx.core.linalg import explode_vector
    from fmx.fm.online import OnlineFMTrainer

    X = np.array([[1.0, 0.0, 2.0, 0.5],
                  [0.0, 1.5, 0.0, 0.0],
                  [-1.0, 0.0, 0.5, 0.0],
                  [0.0, 0.0, 0.0, 0.0]])
    y = np.array([1.0, 0.0, 2.0, 3.0])
    vec_rows = [(Vectors.dense(X[0]), 1.0),
                (Vectors.sparse(4, [1, 3], [1.5, 0.0]), 0.0),  # stored 0.0
                (Vectors.sparse(4, [0, 2], [-1.0, 0.5]), 2.0),
                (Vectors.sparse(4, []), 3.0)]                  # zero-active
    df = spark.createDataFrame(vec_rows, ["features", "label"])
    kw = dict(dimFactorization=2, maxIter=1, miniBatchFraction=1.0,
              regParam=0.01, stepSize=0.5, initialSd=0.5, seed=11)
    lr, shrink = 0.5, 0.5 * 0.01

    long_df = explode_vector(
        df.withColumn("sampleId", F.monotonically_increasing_id()),
        "features", id_cols=["sampleId", "label"]).cache()
    est = FMRegressorSGD(**kw)
    init = sorted(est._initial_params(long_df, 2, 0.5, 11).collect())
    w = np.array([r.strength for r in init])
    V = np.array([r.vec for r in init])

    def params(model):
        ws = sorted((r.featureId, r.strength)
                    for r in model.strength.collect())
        vs = sorted((r.featureId, r.vec) for r in model.factors.collect())
        return np.array([s for _, s in ws]), np.array([v for _, v in vs])

    # vector path: the zero-active sample is in n (4, not 3)
    want_w, want_v, err = _numpy_sgd_step(X, y, w, V, 4, lr, shrink)
    got_w, got_v = params(est.fit(df))
    np.testing.assert_allclose(got_w, want_w, rtol=1e-12, atol=1e-15)
    np.testing.assert_allclose(got_v, want_v, rtol=1e-12, atol=1e-15)
    # the loss sums the samples that forward (the zero-active one has
    # no exploded rows, as in the reference)
    assert est.training_loss_ == pytest.approx([err[:3] @ err[:3]],
                                               rel=1e-12)
    assert not np.allclose(
        _numpy_sgd_step(X, y, w, V, 3, lr, shrink)[0], want_w, rtol=1e-6)

    # online path: one micro-batch of the same 4 rows is one step with
    # n = 4 and the same loss
    trainer = OnlineFMTrainer(estimator=FMRegressorSGD(**kw))
    trainer.process_batch(df, 0)
    got_w, got_v = params(trainer.model())
    np.testing.assert_allclose(got_w, want_w, rtol=1e-12, atol=1e-15)
    np.testing.assert_allclose(got_v, want_v, rtol=1e-12, atol=1e-15)
    assert trainer.losses == pytest.approx([err[:3] @ err[:3]], rel=1e-12)

    # long path: 3 distinct samples over 8 (sample, feature) rows
    assert long_df.count() == 8
    est_long = FMRegressorSGD(**kw)
    want_w, want_v, _ = _numpy_sgd_step(X[:3], y[:3], w, V, 3, lr, shrink)
    got_w, got_v = params(est_long.fit_long(long_df))
    np.testing.assert_allclose(got_w, want_w, rtol=1e-12, atol=1e-15)
    np.testing.assert_allclose(got_v, want_v, rtol=1e-12, atol=1e-15)
    long_df.unpersist()

    # without a zero-active sample, the vector path and the long path
    # are the same SGD core on the same rows: identical params and w0
    df3 = spark.createDataFrame(vec_rows[:3], ["features", "label"])
    long3 = explode_vector(
        df3.withColumn("sampleId", F.monotonically_increasing_id()),
        "features", id_cols=["sampleId", "label"])
    kw_b = dict(kw, fitIntercept=True)
    m_vec = FMRegressorSGD(**kw_b).fit(df3)
    m_long = FMRegressorSGD(**kw_b).fit_long(long3)
    for a, b in zip(params(m_vec), params(m_long)):
        np.testing.assert_array_equal(a, b)
    assert m_vec.global_bias == m_long.global_bias != 0.0
