"""Unit tests for fmx.core.linalg, including the ported VectorSum golden
test (reference FactorizationMachinesSuite.scala:77-102)."""

import math

import pytest
from pyspark.sql import functions as F

from fmx.core import linalg as L


def test_vec_scale_sub_dot(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [0.5, 0.5, 0.5], 2.0)], "a array<double>, b array<double>, s double"
    )
    row = df.select(
        L.vec_scale("a", F.col("s")).alias("scaled"),
        L.vec_sub("a", "b").alias("sub"),
        L.vec_dot("a", "b").alias("dot"),
        L.vec_sq_norm("a").alias("sq"),
    ).first()
    assert row.scaled == [2.0, 4.0, 6.0]
    assert row.sub == [0.5, 1.5, 2.5]
    assert row.dot == pytest.approx(3.0)
    assert row.sq == pytest.approx(14.0)


def test_fm_pairwise_identity(spark):
    # ½((Σv·x)² − Σv²x²) for two features: v0=[1,2], x0=2; v1=[3,1], x1=0.5
    df = spark.createDataFrame([([3.5, 4.5], 20.0 + 2.5)], "s array<double>, q double")
    # direct pairwise interaction: x0*x1*(v0·v1) = 2*0.5*(3+2) = 5
    row = df.select(L.fm_pairwise("s", F.col("q")).alias("p")).first()
    assert row.p == pytest.approx(5.0)


def test_soft_threshold_vec(spark):
    df = spark.createDataFrame([([0.5, -0.5, 0.05, -0.05],)], "v array<double>")
    row = df.select(L.soft_threshold_vec("v", 0.1).alias("r")).first()
    assert row.r == pytest.approx([0.4, -0.4, 0.0, 0.0])


def test_hash_normal_deterministic_and_shaped(spark):
    df = spark.range(20000).select(
        L.hash_normal("id", seed=42, sd=0.5).alias("g"),
        L.hash_uniform("id", seed=7).alias("u"),
    )
    stats = df.agg(
        F.avg("g").alias("mg"), F.stddev("g").alias("sg"),
        F.min("u").alias("minu"), F.max("u").alias("maxu"),
    ).first()
    assert abs(stats.mg) < 0.02
    assert abs(stats.sg - 0.5) < 0.02
    assert 0.0 <= stats.minu and stats.maxu < 1.0
    # deterministic across replans/partitionings
    a = df.orderBy("g").limit(5).collect()
    b = spark.range(20000).repartition(13).select(
        L.hash_normal("id", seed=42, sd=0.5).alias("g"),
        L.hash_uniform("id", seed=7).alias("u"),
    ).orderBy("g").limit(5).collect()
    assert [r.g for r in a] == pytest.approx([r.g for r in b])


def test_vector_sum_golden(spark):
    """Port of the VectorSum UDAF golden test
    (FactorizationMachinesSuite.scala:83-101): mixed dense/sparse inputs,
    expects exact elementwise sums (111.11, 222.22, 333.33)."""
    rows = [
        (1, [0.01, 0.02, 0.03]),
        (1, [0.1, 0.2, 0.3]),
        (1, [1.0, 2.0, 3.0]),
        (1, [10.0, 20.0, 30.0]),
        (1, [100.0, 200.0, 300.0]),
    ]
    df = spark.createDataFrame(rows, "id int, vec array<double>")

    out = L.vec_sum_agg(df, ["id"], "vec").collect()
    assert len(out) == 1
    assert out[0].id == 1
    assert out[0].vec_sum == pytest.approx([111.11, 222.22, 333.33], abs=1e-8)


def test_explode_vector_dense_and_sparse(spark):
    """U1 semantics (FactorizationMachinesModel.scala:244-250), read in
    the JVM from the VectorUDT storage struct: dense vectors emit zeros;
    sparse ones emit exactly their STORED entries (a stored 0.0 too) in
    stored order; null and empty vectors emit nothing; featureId /
    featureValue stay int / double; no Python worker evaluates it."""
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType)

    df = spark.createDataFrame(
        [
            (100, Vectors.dense(1.0, 0.0, 1.5)),
            (101, Vectors.sparse(3, [(0, 0.5)])),
            (102, Vectors.sparse(4, [1, 3], [0.0, -2.5])),  # stored 0.0
            (103, Vectors.sparse(3, [])),
            (104, None),
            (105, Vectors.dense(0.0, 0.0)),
            (106, Vectors.dense([])),
        ],
        StructType([StructField("rowId", IntegerType()),
                    StructField("features", VectorUDT())]),
    )
    out = L.explode_vector(df, "features", id_cols=["rowId"])
    assert out.schema["featureId"].dataType == IntegerType()
    assert out.schema["featureValue"].dataType == DoubleType()
    # stable sort on rowId only: entries keep their order within a vector
    got = sorted(((r.rowId, r.featureId, r.featureValue)
                  for r in out.collect()), key=lambda t: t[0])
    assert got == [
        (100, 0, 1.0),
        (100, 1, 0.0),  # dense zero IS emitted
        (100, 2, 1.5),
        (101, 0, 0.5),  # unstored sparse zeros are NOT
        (102, 1, 0.0),  # a stored sparse zero IS
        (102, 3, -2.5),
        (105, 0, 0.0),
        (105, 1, 0.0),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    arr = spark.createDataFrame([(1, [2.0, 0.0])], "rowId int, features array<double>")
    out2 = L.explode_vector(arr, "features", id_cols=["rowId"])
    got2 = {(r.rowId, r.featureId): r.featureValue for r in out2.collect()}
    assert got2 == {(1, 0): 2.0, (1, 1): 0.0}


def test_cosine_similarity(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    vals = [r.c for r in df.select(L.cosine_similarity("a", "b").alias("c")).collect()]
    assert vals == pytest.approx([1.0, 0.0, 0.0])


def test_zeros_and_hash_normal_vec(spark):
    df = spark.range(3).select(
        L.zeros(4).alias("z"),
        L.hash_normal_vec(2, "id", seed=1, sd=0.01).alias("v"),
    )
    rows = df.collect()
    assert all(r.z == [0.0] * 4 for r in rows)
    assert all(len(r.v) == 2 for r in rows)
    # distinct keys -> distinct vectors
    assert rows[0].v != rows[1].v
    sd = math.sqrt(sum(x * x for r in rows for x in r.v) / 6)
    assert sd < 0.05
