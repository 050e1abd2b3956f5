"""Property-based tests (hypothesis): fmx.core.linalg column expressions
agree with numpy reference semantics on arbitrary inputs."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from fmx.core import linalg as L

finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                   allow_infinity=False, width=64)
vec = st.lists(finite, min_size=1, max_size=8)


@pytest.fixture(scope="module")
def row_runner(spark):
    from pyspark.sql import functions as F

    def run(a, b, s):
        k = len(a)
        df = spark.createDataFrame(
            [(list(a), list(b), float(s))],
            "a array<double>, b array<double>, s double")
        return df.select(
            L.vec_scale("a", F.col("s")).alias("scale"),
            L.vec_add("a", "b").alias("add"),
            L.vec_sub("a", "b").alias("sub"),
            L.vec_dot("a", "b").alias("dot"),
            L.vec_sq_norm("a").alias("sq"),
            L.soft_threshold_vec("a", F.abs(F.col("s"))).alias("soft"),
        ).first()

    return run


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_linalg_matches_numpy(row_runner, data):
    a = data.draw(vec)
    b = data.draw(st.lists(finite, min_size=len(a), max_size=len(a)))
    s = data.draw(finite)
    r = row_runner(a, b, s)
    na, nb = np.array(a), np.array(b)
    tol = dict(rel=1e-9, abs=1e-9)
    assert r.scale == pytest.approx(list(na * s), **tol)
    assert r.add == pytest.approx(list(na + nb), **tol)
    assert r.sub == pytest.approx(list(na - nb), **tol)
    assert r.dot == pytest.approx(float(na @ nb), rel=1e-9, abs=1e-6)
    assert r.sq == pytest.approx(float(na @ na), rel=1e-9, abs=1e-6)
    shrink = abs(s)
    want_soft = [math.copysign(max(0.0, abs(x) - shrink), x) if abs(x) > shrink
                 else 0.0 for x in a]
    assert r.soft == pytest.approx(want_soft, **tol)


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(vec.filter(lambda v: len(v) == 3), min_size=1,
                     max_size=6))
def test_vec_sum_agg_matches_numpy(spark, rows):
    df = spark.createDataFrame([(1, r) for r in rows],
                               "id int, vec array<double>")
    got = L.vec_sum_agg(df, ["id"], "vec").first().vec_sum
    want = list(np.sum(np.array(rows), axis=0))
    assert got == pytest.approx(want, rel=1e-9, abs=1e-6)


def _foreach_active(v):
    """Pure-Python ml.linalg foreachActive: dense emits every position,
    sparse exactly its stored entries."""
    from pyspark.ml.linalg import SparseVector

    if isinstance(v, SparseVector):
        return [(int(i), float(x)) for i, x in zip(v.indices, v.values)]
    return [(i, float(x)) for i, x in enumerate(v.toArray())]


@st.composite
def ml_vectors(draw):
    from pyspark.ml.linalg import Vectors

    size = draw(st.integers(min_value=0, max_value=6))
    if draw(st.booleans()):
        return Vectors.dense(draw(st.lists(finite, min_size=size,
                                           max_size=size)))
    idx = sorted(draw(st.sets(st.integers(0, max(size - 1, 0)),
                              max_size=size)))
    vals = draw(st.lists(finite | st.just(0.0), min_size=len(idx),
                         max_size=len(idx)))
    return Vectors.sparse(size, idx, vals)


@settings(max_examples=15, deadline=None)
@given(vecs=st.lists(ml_vectors(), min_size=1, max_size=5))
def test_explode_vector_matches_foreach_active(spark, vecs):
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType)

    df = spark.createDataFrame(
        list(enumerate(vecs)),
        StructType([StructField("rowId", LongType()),
                    StructField("features", VectorUDT())]))
    out = L.explode_vector(df, "features", id_cols=["rowId"])
    assert out.schema["featureId"].dataType == IntegerType()
    assert out.schema["featureValue"].dataType == DoubleType()
    got = [(r.rowId, r.featureId, r.featureValue) for r in out.collect()]
    want = [(row, i, x) for row, v in enumerate(vecs)
            for i, x in _foreach_active(v)]
    # stable sort on rowId only: entries keep their order within a vector
    assert sorted(got, key=lambda t: t[0]) == want
