"""FMClassifierSGD: logistic-loss training on separable data."""

import random

import pytest
from pyspark.ml.linalg import Vectors

from fmx.fm import FMClassifierModel, FMClassifierSGD


def separable_data(spark, n=300, seed=11):
    """y = 1 iff x0 + x1 > 1 (with a margin), linearly separable-ish."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        x = [rng.uniform(0, 1) for _ in range(3)]
        margin = x[0] + x[1] - 1.0
        if abs(margin) < 0.15:
            continue
        rows.append((Vectors.dense(x), 1.0 if margin > 0 else 0.0))
    return spark.createDataFrame(rows, ["features", "label"])


def test_classifier_learns_separable(spark):
    df = separable_data(spark, n=400).cache()
    est = FMClassifierSGD(dimFactorization=2, maxIter=10,
                          miniBatchFraction=0.1, regParam=0.0,
                          stepSize=6.0, seed=9, fitIntercept=True)
    model = est.fit(df)
    assert isinstance(model, FMClassifierModel)
    # log-loss drops substantially (1/sqrt(iter) decay -> no full conv.)
    assert est.training_loss_[-1] < est.training_loss_[0] * 0.7

    out = model.transform(df).cache()
    assert {"rawScore", "probability", "prediction"} <= set(out.columns)
    row = out.selectExpr(
        "avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END) acc",
        "min(probability) lo", "max(probability) hi").first()
    assert 0.0 <= row.lo and row.hi <= 1.0
    assert row.acc > 0.75, row.acc


def test_classifier_threshold(spark):
    df = separable_data(spark, n=80).cache()
    est = FMClassifierSGD(threshold=0.99, dimFactorization=2, maxIter=2,
                          miniBatchFraction=0.5, seed=1)
    model = est.fit(df)
    out = model.transform(df)
    # near-impossible threshold -> (almost) everything predicted 0
    pos = out.filter("prediction = 1.0").count()
    assert pos <= out.count() * 0.1


def _fixed_classifier(spark, threshold):
    strength = spark.createDataFrame(
        [(0, 0.4), (1, -0.3), (2, 0.2)], "featureId bigint, strength double")
    factors = spark.createDataFrame(
        [(0, [0.5, -0.2]), (1, [0.1, 0.3]), (2, [-0.4, 0.2])],
        "featureId bigint, vec array<double>")
    return FMClassifierModel(threshold=threshold, dim_factorization=2,
                             global_bias=-0.1, strength=strength,
                             factors=factors)


def test_classifier_copy_keeps_subclass(spark):
    """``transform(df, params)`` scores through ``copy()``: the copy must
    stay a classifier with the same threshold, so a param override
    gives the columns and values of a plain transform."""
    df = spark.createDataFrame(
        [(i, Vectors.dense([0.3 * i, 1.0 - 0.2 * i, 0.5]))
         for i in range(6)], ["rowId", "features"])
    model = _fixed_classifier(spark, threshold=0.55)
    copied = model.copy()
    assert type(copied) is FMClassifierModel
    assert copied.threshold == 0.55 and copied.uid == model.uid

    def rows(out):
        return sorted(tuple(r) for r in out.drop("features").collect())

    over = model.transform(df, {model.predictionCol: "p"})
    plain = _fixed_classifier(spark, 0.55).setPredictionCol("p").transform(df)
    assert over.columns == plain.columns
    assert over.columns == ["rowId", "features", "rawScore", "probability",
                            "p"]
    assert rows(over) == rows(plain)
    # the threshold decides the labels (0.55 splits these rows)
    assert {r.p for r in over.collect()} == {0.0, 1.0}
