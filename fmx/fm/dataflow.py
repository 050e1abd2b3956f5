"""Shared FM forward/gradient dataflow in long format.

One implementation backs ``FMModel.predict_exploded`` (transform),
``FMModel.calc_loss_grad`` (reference parity API,
FactorizationMachinesModel.scala:90-234) and the ``FMRegressorSGD``
training loop; ``serving.fm_score_expr`` is its in-row dual.

Grain conventions:
- ``rows``:   (sample_id, label?, featureId, x, w, v)    — joined params
- ``fwd``:    (sample_id, label?, pred, s, err?)          — sample grain,
              s = [Σ_i v_if·x_i]_f the k per-factor sums
- row gradients: ``rows`` + (pred, err, s, deltaVi)       — (sample,
              feature) grain, unscaled by the error
- gradients:  (featureId, dw, dvec)                       — feature grain
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fmx.core import linalg as L


def join_params(exploded: DataFrame, strength: DataFrame,
                factors: DataFrame | None = None,
                *, how: str = "left", k: int | None = None,
                sd: float | None = None,
                seed: int | None = None) -> DataFrame:
    """Attach (w, v) to exploded rows.  With how='left', unseen features
    get seeded N(0, sd²) forward values (reference J2 semantics,
    Model.scala:154-171 — but deterministic under any partitioning);
    ``k``, ``sd`` and ``seed`` are read only then.  With how='inner',
    unlearned features drop out (Model.scala:103-112).

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


def forward_wide(rows: DataFrame, w0: float, k: int,
                 label_col: str | None = None,
                 sample_id: str = "sampleId") -> DataFrame:
    """Sample-grain forward pass in ONE hash-agg: (sample, label?,
    pred, s, err?) with ŷ = w0 + Σw_i·x_i + ½(Σ_f s_f² − Σv²x²), where
    ``s`` is the k-element factor-sum array.  k is a model constant, so
    the per-factor sums ride the same groupBy as the linear terms —
    k indexed sums instead of a posexplode (k-way row fan-out) plus a
    second (sample, f) shuffle plus a join back (guide §2.4: two
    operations keyed the same way share one exchange; §2.3: the k sums
    leave the map side as one k-wide partial row)."""
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


def row_gradients(rows: DataFrame, fwd: DataFrame, k: int,
                  sample_id: str = "sampleId") -> DataFrame:
    """(sample, feature) grain gradient terms, unscaled by the error:
      deltaWi   = x
      deltaVi_f = x·s_f − v_f·x²             (Model.scala:201-204)
    ONE sample-keyed join attaches ``forward_wide``'s (pred, err, s) to
    every row; deltaVi is computed in-row from the s array, so there is
    no (sample, f) fan-out and no regroup.  As in ``forward_wide``, k
    indexed terms (not a higher-order function) keep it in whole-stage
    codegen.  Adds pred, err, s and deltaVi to ``rows``; deltaWi is
    ``x`` itself."""
    x, v, s = F.col("x"), F.col("v"), F.col("s")
    return (rows.join(fwd.select(sample_id, "pred", "err", "s"), sample_id)
            .withColumn("deltaVi", F.array(*[x * s[f] - v[f] * x * x
                                             for f in range(int(k))])))


def aggregate_gradients_merged(grads: DataFrame, n: int, lr: float,
                               k: int) -> DataFrame:
    """Mini-batch-averaged, lr-scaled gradients as ONE table
    (featureId, dw, dvec) from ``row_gradients`` output, each row
    scaled by its error:
      dw contribution   = x·err          (reference SGD.scala:145, with
                                          the operator-precedence bug fixed)
      dv_f contribution = deltaVi_f·err  (SGD.scala:146)
    ``err`` comes from the estimator's loss model (ŷ−y for squared loss,
    σ(ŷ)−y for logistic).  As in ``forward_wide``, the k per-factor sums
    ride the same per-feature hash-agg as dw, so the whole gradient is
    one aggregate (no (feature, f) fan-out, no collect_list regroup) and
    the upsert downstream needs a single outer join instead of two."""
    err, dvi = F.col("err"), F.col("deltaVi")
    per = grads.groupBy("featureId").agg(
        (F.sum(F.col("x") * err) / n * lr).alias("dw"),
        *[(F.sum(dvi[f] * err) / n * lr).alias(f"_dv{f}")
          for f in range(int(k))])
    return per.select("featureId", "dw",
                      F.array(*[F.col(f"_dv{f}") for f in range(int(k))])
                      .alias("dvec"))
