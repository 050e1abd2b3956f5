"""Golden-value tests for FMModel.transform, ported verbatim from the
reference suite (FactorizationMachinesSuite.scala:24-75): 4 input rows
covering dense, sparse, sparse-with-unlearned-dim, and empty vectors;
expected predictions 23.77 / 5.275 / 5.2 / 5.0 at ±1e-8."""

import pytest
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from fmx.fm import FMModel

GOLDEN = {100: 23.77, 101: 5.275, 102: 5.2, 103: 5.0}


def build_golden_model(spark, **kw):
    strength = spark.createDataFrame(
        [(0, 0.1), (1, 0.2), (2, 0.3), (3, 0.4)],
        "featureId bigint, strength double")
    factors = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [3.0, 2.0, 1.0]),
         (2, [-0.1, -0.1, -0.2]), (3, [-0.5, 0.3, 0.0])],
        "featureId bigint, vec array<double>")
    return FMModel(dim_factorization=3, global_bias=5.0,
                   strength=strength, factors=factors, **kw)


@pytest.fixture()
def golden_input(spark):
    return spark.createDataFrame(
        [
            (100, Vectors.dense(1.0, 2.0, 1.5, -1.0)),
            (101, Vectors.sparse(4, [(0, 0.5), (2, -1.5)])),
            (102, Vectors.sparse(5, [(0, 2.0), (4, 1.5)])),  # dim 4 unlearned
            (103, Vectors.sparse(4, [])),                     # empty
        ],
        ["rowId", "features"],
    )


def test_transform_golden(spark, golden_input):
    model = build_golden_model(spark)
    out = model.transform(golden_input).collect()
    assert len(out) == 4
    got = {r.rowId: r.prediction for r in out}
    for row_id, expected in GOLDEN.items():
        assert got[row_id] == pytest.approx(expected, abs=1e-8), row_id
    # schema: original columns preserved + prediction appended
    cols = model.transform(golden_input).columns
    assert cols == ["rowId", "features", "prediction"]


def test_transform_clamped(spark, golden_input):
    model = build_golden_model(spark).setMinLabel(0.0).setMaxLabel(6.0)
    got = {r.rowId: r.prediction
           for r in model.transform(golden_input).collect()}
    assert got[100] == pytest.approx(6.0)      # 23.77 clamped
    assert got[101] == pytest.approx(5.275)
    # bias fallback is NOT clamped (reference Model.scala:86 fills raw bias)
    assert got[103] == pytest.approx(5.0)


def test_transform_broadcast_hint_same_result(spark, golden_input):
    model = build_golden_model(spark, hint_broadcast_params=True)
    got = {r.rowId: r.prediction
           for r in model.transform(golden_input).collect()}
    for row_id, expected in GOLDEN.items():
        assert got[row_id] == pytest.approx(expected, abs=1e-8)


def test_transform_array_features(spark):
    """Engine-native array<double> features (dense semantics)."""
    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(100, [1.0, 2.0, 1.5, -1.0])], "rowId int, features array<double>")
    got = model.transform(df).first()
    assert got.prediction == pytest.approx(23.77, abs=1e-8)


def test_user_supplied_sample_id_preserved(spark):
    """A pre-existing sampleId column is used as the join key (no
    synthetic id, no overwrite) and survives into the output."""
    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(7001, [1.0, 2.0, 1.5, -1.0]), (7002, [0.0, 0.0, 0.0, 0.0])],
        "sampleId bigint, features array<double>")
    out = model.transform(df)
    assert "sampleId" in out.columns
    got = {r.sampleId: r.prediction for r in out.collect()}
    assert got[7001] == pytest.approx(23.77, abs=1e-8)
    # all-zero dense vector explodes to zero-valued rows (not empty) ->
    # prediction = bias + 0 contributions = 5.0
    assert got[7002] == pytest.approx(5.0, abs=1e-8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan


def test_schema_validation_errors(spark):
    """M5 transformSchema parity: missing/ill-typed features column and
    pre-existing output column raise actionable errors."""
    model = build_golden_model(spark)
    with pytest.raises(ValueError, match="features column 'features' not found"):
        model.transform(spark.range(3))
    bad = spark.createDataFrame([(1, "not a vector")], "rowId int, features string")
    with pytest.raises(TypeError, match="must be a ml.linalg Vector"):
        model.transform(bad)
    clash = spark.createDataFrame([(1, [1.0], 0.0)],
                                  "rowId int, features array<double>, prediction double")
    with pytest.raises(ValueError, match="already exists"):
        model.transform(clash)


def _python_eval(plan: str) -> bool:
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan


def test_no_python_udf_in_array_path(spark, golden_input):
    """The predict path must stay fully JVM-side on array<double> AND on
    ml.linalg Vector input, for transform and calc_loss_grad alike."""
    model = build_golden_model(spark)
    df = spark.createDataFrame(
        [(100, [1.0, 2.0, 1.5, -1.0])], "rowId int, features array<double>")
    labelled = golden_input.withColumn("label", F.lit(1.0))
    for out in (model.transform(df), model.transform(golden_input),
                model.calc_loss_grad(labelled)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert not _python_eval(plan), plan


def _sql_plans_of(spark, run) -> list[str]:
    """Physical plans of every SQL execution ``run()`` starts — actions
    and (lazy) localCheckpoints alike — read from the session's SQL
    status store once the listener bus has drained."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last(n):
        seq = store.executionsList(max(0, store.executionsCount() - n), n)
        return [seq.apply(i) for i in range(seq.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in last(1)), default=-1)
    run()
    bus.waitUntilEmpty()
    return [e.physicalPlanDescription() for e in last(200)
            if e.executionId() > before]


def test_no_python_udf_in_vector_sgd_fit(spark, golden_input):
    """Every plan an SGD fit on ml.linalg Vector input executes (count,
    loss actions, parameter checkpoints) runs without a Python worker."""
    from fmx.fm import FMRegressorSGD

    train = golden_input.withColumn("label", F.col("rowId") / 100.0)
    est = FMRegressorSGD(dimFactorization=2, maxIter=2,
                         miniBatchFraction=0.5, seed=3)
    plans = _sql_plans_of(spark, lambda: est.fit(train))
    assert len(plans) >= 4
    assert not any(_python_eval(p) for p in plans)
