"""Native column-expression vector math over ``array<double>`` columns.

Replaces the reference's entire UDF surface with Catalyst higher-order
functions, so vector math stays inside whole-stage codegen — no
Python<->JVM serialization wall, no opaque closures blocking optimizer
rules.  ``ml.linalg`` Vector input is read through its storage struct
(``vector_active_pairs``), so no function here runs a row-at-a-time
Python UDF.  Reference parity map (fm_spark):

==================  =============================================  =========================
fmx expression      reference UDF                                  citation (file:line)
==================  =============================================  =========================
``vec_scale``       udfVecMultipleByScalar                         FactorizationMachinesModel.scala:252-254
``vec_sub``         udfVecMinusVec                                 FactorizationMachinesModel.scala:264-266
``vi2xi2``          vi2xi2                                         FactorizationMachinesModel.scala:256-258
``fm_pairwise``     sumVx                                          FactorizationMachinesModel.scala:260-262
``soft_threshold``  udfL1RegularizationVec                         FactorizationMachinesSGD.scala:101-107
``zeros``           udfZeroVector                                  FactorizationMachinesSGD.scala:109
``hash_normal_vec`` udfInitVec (seeded here; unseeded in ref)      FactorizationMachinesModel.scala:144-146
``vec_sum_agg``     VectorSum UDAF                                 FactorizationMachines.scala:45-81
``explode_vector``  udfVecToMap + explode                          FactorizationMachinesModel.scala:244-250
==================  =============================================  =========================

All randomness is derived from ``xxhash64`` of (key, seed) so results are
deterministic under any partitioning — the reference's unseeded
``Random.nextGaussian``/``randn()`` is a reproducibility bug we fix.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _lit(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# elementwise ops (higher-order functions -> codegen-friendly)
# ---------------------------------------------------------------------------

def vec_scale(v: ColumnOrName, s) -> Column:
    """v * s elementwise (U2)."""
    s = _lit(s)
    return F.transform(_c(v), lambda x: x * s)


def vec_add(a: ColumnOrName, b: ColumnOrName) -> Column:
    """a + b elementwise (U4)."""
    return F.zip_with(_c(a), _c(b), lambda x, y: x + y)


def vec_sub(a: ColumnOrName, b: ColumnOrName) -> Column:
    """a - b elementwise (U5)."""
    return F.zip_with(_c(a), _c(b), lambda x, y: x - y)


def vec_dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Σ_f a_f·b_f as a single codegen'd fold."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_sq_norm(v: ColumnOrName) -> Column:
    """Σ_f v_f²."""
    return F.aggregate(_c(v), F.lit(0.0), lambda acc, x: acc + x * x)


def vec_norm(v: ColumnOrName) -> Column:
    """L2 norm sqrt(Σ v_f²) (U7)."""
    return F.sqrt(vec_sq_norm(v))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """dot(a,b) / (|a||b|); null-safe 0.0 on zero norms."""
    d = vec_dot(a, b)
    na, nb = vec_norm(a), vec_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def vi2xi2(v: ColumnOrName, x) -> Column:
    """Σ_f v_f² · x² — the FM self-interaction correction term (U3)."""
    x = _lit(x)
    return vec_sq_norm(v) * x * x


def fm_pairwise(vfxi_sum: ColumnOrName, vi2xi2_sum) -> Column:
    """½(Σ_f (Σ_i v_if·x_i)² − Σ_i Σ_f v_if²·x_i²) given the per-sample
    summed vector and the summed correction (U4 / sumVx)."""
    return 0.5 * (vec_sq_norm(vfxi_sum) - _lit(vi2xi2_sum))


def soft_threshold(w, shrink) -> Column:
    """sign(w)·max(0, |w| − shrink) — L1 shrinkage for scalars
    (FactorizationMachinesSGD.scala:179)."""
    w, shrink = _c(w) if isinstance(w, (Column, str)) else _lit(w), _lit(shrink)
    return F.signum(w) * F.greatest(F.lit(0.0), F.abs(w) - shrink)


def soft_threshold_vec(v: ColumnOrName, shrink) -> Column:
    """Elementwise L1 shrinkage (U6)."""
    shrink = _lit(shrink)
    return F.transform(
        _c(v),
        lambda w: F.signum(w) * F.greatest(F.lit(0.0), F.abs(w) - shrink),
    )


def zeros(k: int) -> Column:
    """length-k zero vector (U7)."""
    return F.array_repeat(F.lit(0.0), k)


# ---------------------------------------------------------------------------
# deterministic hash-derived randomness
# ---------------------------------------------------------------------------

_TWO63 = float(2**63)


def hash_uniform(*cols: ColumnOrName, seed: int = 0, salt: int = 0) -> Column:
    """U(0,1) derived from xxhash64(cols, seed, salt) — deterministic for a
    given key under ANY partitioning (unlike ``F.rand``)."""
    h = F.xxhash64(*[_c(c) for c in cols], F.lit(int(seed)), F.lit(int(salt)))
    return (h.cast("double") / F.lit(_TWO63) + F.lit(1.0)) / F.lit(2.0)


def _hash_normal_sql(refs: str, seed: int, salt: int,
                     sd: float, mean: float) -> str:
    """The Irwin–Hall expression as ONE SQL string.  Bit-identical to
    the Column-API fold (same literal types: bare ints parse as INT
    exactly like py4j-converted F.lit ints; the D suffix keeps every
    numeric DOUBLE like F.lit(float); left-assoc + matches the fold;
    the fold's leading 0.0 + u1 is a no-op since uniforms are never
    -0.0) — built this way because each Column operation is a py4j
    round-trip: constructing the k=8 init vector cost 6.3 s of a
    12.9 s warm SGD fit (guide §1.2 step 2: per-task work includes
    driver-side plan construction when it is 50% of the wall)."""
    terms = " + ".join(
        f"((cast(xxhash64({refs}, {int(seed)}, {int(salt) * 16 + j + 1})"
        f" as double) / {_TWO63!r}D + 1.0D) / 2.0D)"
        for j in range(12))
    return f"(({terms}) - 6.0D) * ({float(sd)!r}D) + ({float(mean)!r}D)"


def hash_normal(*cols: ColumnOrName, seed: int = 0, salt: int = 0,
                sd: float = 1.0, mean: float = 0.0) -> Column:
    """~N(mean, sd²) via Irwin–Hall (sum of 12 hash-uniforms − 6).

    Deterministic replacement for the reference's unseeded
    ``Random.nextGaussian`` init (FactorizationMachinesSGD.scala:235,240;
    FactorizationMachinesModel.scala:145,170)."""
    if all(isinstance(c, str) for c in cols):
        refs = ", ".join(f"`{c}`" for c in cols)
        return F.expr(_hash_normal_sql(refs, seed, salt, sd, mean))
    # Column-operand fallback: identical arithmetic via the API fold
    acc = F.lit(0.0)
    for j in range(12):
        acc = acc + hash_uniform(*cols, seed=seed, salt=salt * 16 + j + 1)
    return (acc - F.lit(6.0)) * F.lit(float(sd)) + F.lit(float(mean))


def hash_normal_vec(k: int, *cols: ColumnOrName, seed: int = 0,
                    sd: float = 1.0) -> Column:
    """length-k array of independent ~N(0, sd²) entries keyed on cols
    (U8).  One SQL-text expression — one py4j round-trip instead of
    ~100 per entry (see _hash_normal_sql)."""
    if all(isinstance(c, str) for c in cols):
        refs = ", ".join(f"`{c}`" for c in cols)
        entries = ", ".join(
            _hash_normal_sql(refs, seed, 100 + f, sd, 0.0)
            for f in range(k))
        return F.expr(f"array({entries})")
    return F.array(*[hash_normal(*cols, seed=seed, salt=100 + f, sd=sd)
                     for f in range(k)])


# ---------------------------------------------------------------------------
# vector <-> long format
# ---------------------------------------------------------------------------

def _unwrap_udt(df: DataFrame, col: ColumnOrName) -> Column:
    """A UDT column of ``df`` as its storage struct (Catalyst's
    ``UnwrapUDT``).  Neither the Python nor the JVM Column API exposes
    that expression, so it is built on the JVM side through
    ``org.apache.spark.sql.classic.ExpressionUtils``; both classes are
    Spark-internal and pinned by tests/test_linalg.py."""
    jvm = df.sparkSession._jvm
    eu = jvm.org.apache.spark.sql.classic.ExpressionUtils
    unwrapped = jvm.org.apache.spark.sql.catalyst.expressions.UnwrapUDT(
        eu.expression(_c(col)._jc))
    return Column(eu.column(unwrapped))


def vector_active_pairs(df: DataFrame, v: ColumnOrName) -> Column:
    """ml.linalg Vector column of ``df`` -> array<struct<i,x>> of its
    *active* entries, in foreachActive order: a dense vector emits every
    position (zeros too), a sparse one exactly its stored entries
    (explicit zeros too), a null vector nothing
    (udfVecToMap, FactorizationMachinesModel.scala:244-250, U1).

    Reads the VectorUDT storage struct (type, size, indices, values) —
    type 0 is sparse, 1 dense — with native higher-order functions, so
    the boundary runs in the JVM without a Python worker."""
    u = _unwrap_udt(df, v)
    sparse = F.arrays_zip(u["indices"].alias("i"), u["values"].alias("x"))
    dense = F.transform(u["values"],
                        lambda x, i: F.struct(i.alias("i"), x.alias("x")))
    return F.when(u["type"] == 0, sparse).otherwise(dense)


def explode_vector(df: DataFrame, features_col: str, *,
                   id_cols: Sequence[str] = (),
                   feature_id: str = "featureId",
                   feature_value: str = "featureValue",
                   dense_array: bool | None = None) -> DataFrame:
    """Explode a feature column into long format (id_cols..., featureId, x).

    ``features_col`` may be an ``array<double>`` (dense semantics: every
    position emitted, zeros included — matching DenseVector.foreachActive)
    or a ``VectorUDT`` (dense/sparse semantics preserved, see
    ``vector_active_pairs``).  Long format is the relation every FM
    join/agg runs over (SURVEY.md §1.1).
    """
    dtype = dict(df.dtypes).get(features_col)
    keep = [F.col(c) for c in id_cols]
    if dense_array is None:
        dense_array = dtype is not None and dtype.startswith("array<")
    if dense_array:
        ex = F.posexplode(F.col(features_col)).alias(feature_id, feature_value)
        out = df.select(*keep, ex)
        return out.withColumn(feature_id, F.col(feature_id).cast("int"))
    pairs = vector_active_pairs(df, features_col)
    out = df.select(*keep, F.explode(pairs).alias("_p"))
    return out.select(*keep,
                      F.col("_p.i").alias(feature_id),
                      F.col("_p.x").alias(feature_value))


# ---------------------------------------------------------------------------
# elementwise-sum aggregation (the VectorSum UDAF, natively)
# ---------------------------------------------------------------------------

def vec_sum_agg(df: DataFrame, group_cols: Iterable[str], vec_col: str,
                out_col: str = "vec_sum") -> DataFrame:
    """Element-wise vector sum per group — the ``VectorSum`` UDAF
    (FactorizationMachines.scala:45-81) as a pure relational plan.

    posexplode -> partial-aggregating groupBy on (group, pos) -> rebuild the
    array with a k-bounded collect_list.  Scales: the shuffle key is
    (group, pos) so a hot group spreads over k partitions, every stage has
    map-side combine, and the only collected list is length k.

    Note: a group whose vectors are ALL null/empty produces no exploded
    rows and is therefore ABSENT from the output (unlike a plain
    groupBy, which would emit the group).
    """
    group_cols = list(group_cols)
    exploded = df.select(*group_cols,
                         F.posexplode(F.col(vec_col)).alias("_pos", "_val"))
    per_pos = exploded.groupBy(*group_cols, "_pos").agg(
        F.sum("_val").alias("_s"))
    return (
        per_pos.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_s"))).alias("_a"))
        .select(*group_cols,
                F.transform("_a", lambda st: st["_s"]).alias(out_col))
    )

