"""Shared FM forward/gradient dataflow in long format.

One implementation backs both ``FMModel.calc_loss_grad`` (reference
parity API, FactorizationMachinesModel.scala:135-234) and the
``FMRegressorSGD`` training loop.

Grain conventions:
- ``rows``:   (sample_id, label?, featureId, x, w, v)   — joined params
- ``sf``:     (sample_id, f, s)   with s = Σ_i v_if·x_i — per-factor sums
- ``pred``:   (sample_id, label?, pred, err)            — sample grain
- gradients:  (featureId, dw) and (featureId, f, dv) -> array per feature
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fmx.core import linalg as L


def join_params(exploded: DataFrame, strength: DataFrame,
                factors: DataFrame | None = None,
                *, how: str = "left", k: int, sd: float, seed: int,
                sample_id: str = "sampleId") -> DataFrame:
    """Attach (w, v) to exploded rows.  With how='left', unseen features
    get seeded N(0, sd²) forward values (reference J2 semantics,
    Model.scala:154-171 — but deterministic under any partitioning).

    ``factors=None`` means ``strength`` is the MERGED param table
    (featureId, strength, vec) — the training loop's layout, which
    attaches both params in ONE equi-join instead of two (the two
    tables are key-aligned by construction: initialized from the same
    feature set and upserted by the same gradients).  The split-table
    mode remains for FMModel's persisted two-table format."""
    if factors is None:
        rows = exploded.join(strength, "featureId", how)
    else:
        rows = (exploded
                .join(strength, "featureId", how)
                .join(factors, "featureId", how))
    if how == "left":
        rows = rows.withColumn(
            "strength",
            F.coalesce("strength",
                       L.hash_normal("featureId", seed=seed, salt=3, sd=sd))
        ).withColumn(
            "vec",
            F.coalesce("vec", L.hash_normal_vec(k, "featureId", seed=seed, sd=sd)))
    return rows.select(
        *[c for c in exploded.columns if c not in ("featureId", "featureValue")],
        "featureId",
        F.col("featureValue").alias("x"),
        F.col("strength").alias("w"),
        F.col("vec").alias("v"))


def factor_sums(rows: DataFrame, sample_id: str = "sampleId") -> DataFrame:
    """(sample, f) grain: s = Σ_i v_if·x_i — the summed-vector relation
    that replaces the reference's VectorSum-over-window (W2)."""
    return (rows.select(sample_id,
                        F.posexplode(L.vec_scale("v", F.col("x")))
                        .alias("f", "vfx"))
            .groupBy(sample_id, "f").agg(F.sum("vfx").alias("s")))


def forward(rows: DataFrame, sf: DataFrame, w0: float,
            label_col: str | None = None,
            sample_id: str = "sampleId") -> DataFrame:
    """Sample-grain predictions: ŷ = w0 + Σw_i·x_i + ½(Σ_f s_f² − Σv²x²).
    Two scalar hash-aggs + one join, all on the sample_id key."""
    aggs = [F.sum(F.col("w") * F.col("x")).alias("wixiSum"),
            F.sum(L.vi2xi2("v", F.col("x"))).alias("vi2xi2Sum")]
    if label_col:
        aggs.insert(0, F.first(label_col).alias(label_col))
    per_sample = rows.groupBy(sample_id).agg(*aggs)
    sq = sf.groupBy(sample_id).agg(
        F.sum(F.col("s") * F.col("s")).alias("vfxiSumSq"))
    out = (per_sample.join(sq, sample_id)
           .withColumn("pred",
                       F.lit(w0) + F.col("wixiSum")
                       + 0.5 * (F.col("vfxiSumSq") - F.col("vi2xi2Sum"))))
    cols = [sample_id, "pred"]
    if label_col:
        cols.insert(1, label_col)
        out = out.withColumn("err", F.col("pred") - F.col(label_col))
        cols.append("err")
    return out.select(*cols)


def forward_wide(rows: DataFrame, w0: float, k: int,
                 label_col: str | None = None,
                 sample_id: str = "sampleId") -> DataFrame:
    """Sample-grain forward pass in ONE hash-agg: (sample, label?,
    pred, err?, s) where ``s`` is the k-element factor-sum array —
    replaces ``factor_sums`` + ``forward`` (two shuffled aggs + a
    join) for consumers that can take s in-row (the SGD step).  k is
    a model constant, so the per-factor sums ride the same groupBy as
    the linear terms (guide §2.4; the same fusion as
    FMModel.predict_exploded)."""
    aggs = [F.sum(F.col("w") * F.col("x")).alias("wixiSum"),
            F.sum(L.vi2xi2("v", F.col("x"))).alias("vi2xi2Sum"),
            *[F.sum(F.col("v")[f] * F.col("x")).alias(f"_s{f}")
              for f in range(int(k))]]
    if label_col:
        aggs.insert(0, F.first(label_col).alias(label_col))
    per = rows.groupBy(sample_id).agg(*aggs)
    sumsq = None
    for f in range(int(k)):
        term = F.col(f"_s{f}") * F.col(f"_s{f}")
        sumsq = term if sumsq is None else sumsq + term
    out = per.withColumn(
        "pred", F.lit(w0) + F.col("wixiSum")
        + 0.5 * (sumsq - F.col("vi2xi2Sum"))).withColumn(
        "s", F.array(*[F.col(f"_s{f}") for f in range(int(k))]))
    cols = [sample_id, "pred", "s"]
    if label_col:
        cols.insert(1, label_col)
        out = out.withColumn("err", F.col("pred") - F.col(label_col))
        cols.append("err")
    return out.select(*cols)


def per_row_gradients_wide(rows: DataFrame, fwd: DataFrame,
                           label_col: str,
                           sample_id: str = "sampleId") -> DataFrame:
    """(sample, feature, f) grain gradient terms scaled by the error:
      dw contribution = x·err           (reference SGD.scala:145, with the
                                         operator-precedence bug fixed)
      dv_f contribution = (x·s_f − v_f·x²)·err   (Model.scala:201-204)
    ``err`` comes from the estimator's loss model (ŷ−y for squared loss,
    σ(ŷ)−y for logistic).  ONE sample-keyed join against the fused
    ``forward_wide`` output attaches both err and the factor sums (read
    in-row as s[f])."""
    rows_f = rows.select(sample_id, "featureId", "x",
                         F.posexplode("v").alias("f", "vf"))
    return (rows_f
            .join(fwd.select(sample_id, "err", "s"), sample_id)
            .select(sample_id, "featureId", "f", "x",
                    (F.col("x") * F.col("err")).alias("gw"),
                    ((F.col("x") * F.col("s")[F.col("f")]
                      - F.col("vf") * F.col("x") * F.col("x"))
                     * F.col("err")).alias("gv")))


def aggregate_gradients_merged(grads: DataFrame, n: int, lr: float,
                               k: int) -> DataFrame:
    """Mini-batch-averaged, lr-scaled gradients as ONE table
    (featureId, dw, dvec): the (featureId, f) partial carries both the
    dv term and (on the f=0 slice, where gw isn't replicated) the dw
    term, so the whole gradient needs two chained hash-aggs and the
    upsert downstream needs a single outer join instead of two."""
    g1 = (grads.groupBy("featureId", "f")
          .agg((F.sum("gv") / n * lr).alias("dv"),
               (F.sum(F.when(F.col("f") == 0, F.col("gw"))) / n * lr)
               .alias("_dw")))
    return (g1.groupBy("featureId")
            .agg(F.max("_dw").alias("dw"),   # non-null only on the f=0 row
                 F.array_sort(F.collect_list(F.struct("f", "dv"))).alias("a"))
            .select("featureId", "dw",
                    F.transform("a", lambda st: st["dv"]).alias("dvec")))
