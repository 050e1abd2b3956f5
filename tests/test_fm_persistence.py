"""FMModel save/load round-trip and calc_loss_grad parity surface."""

import pytest
from pyspark.sql import functions as F

from fmx.fm import FMModel
from tests.test_fm_model import GOLDEN, build_golden_model


def test_save_load_roundtrip(spark, tmp_path):
    from pyspark.ml.linalg import Vectors

    model = build_golden_model(spark).setMinLabel(-100.0).setMaxLabel(100.0)
    path = str(tmp_path / "fm_model")
    model.save(path)
    loaded = FMModel.load(spark, path)
    assert loaded.dim_factorization == 3
    assert loaded.global_bias == 5.0
    assert loaded.getMinLabel() == -100.0

    df = spark.createDataFrame(
        [(100, Vectors.dense(1.0, 2.0, 1.5, -1.0)),
         (103, Vectors.sparse(4, []))], ["rowId", "features"])
    got = {r.rowId: r.prediction for r in loaded.transform(df).collect()}
    assert got[100] == pytest.approx(23.77, abs=1e-8)
    assert got[103] == pytest.approx(5.0, abs=1e-8)


def test_mlwritable_pipeline_roundtrip(spark, tmp_path):
    """PipelineModel.save/load with an FMModel stage — the reference's
    M6/M7 contract (FactorizationMachinesSample.scala:50-63) requires
    pyspark.ml-native persistence, not a custom scheme."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.linalg import Vectors

    from fmx.fm import FMRegressorSGD

    df = spark.createDataFrame(
        [(Vectors.dense([1.0, 0.0, 1.0]), 1.0),
         (Vectors.dense([0.0, 1.0, 0.5]), 0.0),
         (Vectors.dense([1.0, 1.0, 0.0]), 1.0)] * 4,
        ["features", "label"])
    est = FMRegressorSGD(dimFactorization=2, maxIter=2,
                         miniBatchFraction=0.5, seed=7)
    pm = Pipeline(stages=[est]).fit(df)
    path = str(tmp_path / "pipe")
    pm.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    want = {tuple(r.features): r.prediction
            for r in pm.transform(df).collect()}
    got = {tuple(r.features): r.prediction
           for r in loaded.transform(df).collect()}
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert loaded.stages[0].getOrDefault(
        loaded.stages[0].sampleIdCol) == "sampleId"


def test_mlwritable_crossvalidator_roundtrip(spark, tmp_path):
    """CrossValidatorModel.save/load with the FM estimator+model —
    'be able to run cross validation' (reference README.md:10) including
    the persistence half."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.linalg import Vectors
    from pyspark.ml.tuning import (
        CrossValidator, CrossValidatorModel, ParamGridBuilder,
    )

    from fmx.fm import FMRegressorSGD

    df = spark.createDataFrame(
        [(Vectors.dense([1.0, 0.0]), 2.0),
         (Vectors.dense([0.0, 1.0]), 1.0),
         (Vectors.dense([1.0, 1.0]), 3.0)] * 6,
        ["features", "label"])
    est = FMRegressorSGD(dimFactorization=2, maxIter=2,
                         miniBatchFraction=0.5, seed=7,
                         minLabel=0.0, maxLabel=5.0)
    grid = (ParamGridBuilder()
            .addGrid(est.regParam, [0.01, 0.1]).build())
    cv = CrossValidator(estimator=est,
                        estimatorParamMaps=grid,
                        evaluator=RegressionEvaluator(),
                        numFolds=2, seed=7)
    cvm = cv.fit(df)
    path = str(tmp_path / "cv")
    cvm.write().overwrite().save(path)
    loaded = CrossValidatorModel.load(path)
    want = {tuple(r.features): r.prediction
            for r in cvm.transform(df).collect()}
    got = {tuple(r.features): r.prediction
           for r in loaded.transform(df).collect()}
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_classifier_model_roundtrip_keeps_threshold(spark, tmp_path):
    from pyspark.ml.linalg import Vectors

    from fmx.fm.classifier import FMClassifierModel, FMClassifierSGD

    df = spark.createDataFrame(
        [(Vectors.dense([1.0, 0.0]), 1.0),
         (Vectors.dense([0.0, 1.0]), 0.0)] * 6,
        ["features", "label"])
    m = FMClassifierSGD(dimFactorization=2, maxIter=2,
                        miniBatchFraction=0.5, seed=7,
                        threshold=0.25).fit(df)
    path = str(tmp_path / "clf")
    m.write().overwrite().save(path)
    loaded = FMClassifierModel.load(path)
    assert isinstance(loaded, FMClassifierModel)
    assert loaded.threshold == 0.25
    want = {tuple(r.features): (r.rawScore, r.probability, r.prediction)
            for r in m.transform(df).collect()}
    got = {tuple(r.features): (r.rawScore, r.probability, r.prediction)
           for r in loaded.transform(df).collect()}
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_repeated_transform_bounds_cached_dataframes(spark):
    """Scoring a dataset without a stable sampleIdCol caches the
    synthetic-id DataFrame; repeated transform() calls must release the
    previous cache (r02 ADVICE #5: one leaked cache per call)."""
    from pyspark.ml.linalg import Vectors

    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(Vectors.dense(1.0, 2.0, 1.5, -1.0),)], ["features"])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(4):
        model.transform(df).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 1


def test_calc_loss_grad_reference_grain(spark):
    """calcLossGrad parity (Model.scala:135-234): per-(sample, feature)
    rows carrying unclamped prediction, squared loss, deltaWi = x, and
    the k-length deltaVi vector."""
    from pyspark.ml.linalg import Vectors

    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(Vectors.dense(1.0, 2.0, 1.5, -1.0), 20.0),
         (Vectors.sparse(4, [(0, 0.5), (2, -1.5)]), 5.0)],
        ["features", "label"])
    out = model.calc_loss_grad(df, initial_sd=0.01, seed=7)
    rows = out.collect()
    assert {c for c in out.columns} == {
        "label", "sampleId", "featureId", "prediction", "loss",
        "deltaWi", "deltaVi"}
    # 4 features + 2 features = 6 rows
    assert len(rows) == 6
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    dense = by_label[20.0]
    # unclamped prediction matches the golden forward value 23.77
    assert dense[0].prediction == pytest.approx(23.77, abs=1e-8)
    assert dense[0].loss == pytest.approx((23.77 - 20.0) ** 2, abs=1e-6)
    # deltaWi is the raw feature value
    got_dw = {r.featureId: r.deltaWi for r in dense}
    assert got_dw == {0: 1.0, 1: 2.0, 2: 1.5, 3: -1.0}
    # deltaVi for feature 0 of the dense row:
    # x*sf - v0*x^2 with sf = [7.35, 5.55, 4.7], v0 = [1,2,3], x = 1
    assert dense and len(dense[0].deltaVi) == 3
    dv0 = {r.featureId: r.deltaVi for r in dense}[0]
    assert dv0 == pytest.approx([6.35, 3.55, 1.7], abs=1e-8)


def test_calc_loss_grad_unseen_feature_seeded(spark):
    """Features absent from the param tables get deterministic seeded
    forward values (reference used unseeded randn — divergence fixed)."""
    from pyspark.ml.linalg import Vectors

    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(Vectors.sparse(10, [(9, 1.0)]), 1.0)], ["features", "label"])
    a = model.calc_loss_grad(df, seed=7).first()
    b = model.calc_loss_grad(df, seed=7).first()
    c = model.calc_loss_grad(df, seed=8).first()
    assert a.prediction == b.prediction
    assert a.prediction != c.prediction


def test_calc_loss_grad_rejects_bad_sd(spark):
    model = build_golden_model(spark)
    with pytest.raises(ValueError):
        model.calc_loss_grad(spark.range(1), initial_sd=0.0)


def test_calc_loss_grad_plan_is_one_forward_pass(spark):
    """calc_loss_grad runs the shared forward kernel once: one
    per-sample aggregate (partial + final), with deltaVi computed
    in-row — no (sample, f) posexplode and no collect_list regroup."""
    from pyspark.ml.linalg import Vectors

    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(Vectors.dense(1.0, 2.0, 1.5, -1.0), 20.0),
         (Vectors.sparse(10, [(0, 0.5), (9, 1.0)]), 5.0)],
        ["features", "label"])
    out = model.calc_loss_grad(df, seed=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2, plan
    assert "posexplode" not in plan and "collect_list" not in plan, plan
