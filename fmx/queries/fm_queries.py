"""Flagship FM queries: the full Factorization Machines predict dataflow
(explode -> param joins -> two-level aggregation -> scalar combine) run
over the embeddings table with *formula-derived* deterministic parameters,
so the whole model is expressible in ANSI SQL and DuckDB can oracle the
exact predictions.

Model: k = 4, w0 = 0.5,
  w_i    = 0.1 * sin(i + 1)
  v_i[f] = 0.05 * cos(4*i + f)
features: x_i = embedding[i] (64 dims, cast to double).

ŷ = w0 + Σ_i w_i·x_i + ½·Σ_f [(Σ_i v_if·x_i)² − Σ_i v_if²·x_i²]

Reference parity: this is the §3.2 transform lifecycle
(FactorizationMachinesModel.scala:90-133) exercised end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fmx.fm import FMModel
from fmx.queries import query
from fmx.sources import load_table as T

K = 4
W0 = 0.5

FM_PREDICT_ORACLE = """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
fs AS (SELECT unnest([0, 1, 2, 3]) AS f),
lin AS (
  SELECT vec_id,
         sum(0.1 * sin(i + 1) * x) AS wixi_sum,
         sum(0.0025 * (cos(4*i+0)*cos(4*i+0) + cos(4*i+1)*cos(4*i+1)
                     + cos(4*i+2)*cos(4*i+2) + cos(4*i+3)*cos(4*i+3))
             * x * x) AS vi2xi2_sum
  FROM ex GROUP BY vec_id),
sf AS (
  SELECT ex.vec_id, fs.f, sum(0.05 * cos(4*ex.i + fs.f) * ex.x) AS s
  FROM ex CROSS JOIN fs GROUP BY ex.vec_id, fs.f),
sq AS (SELECT vec_id, sum(s * s) AS vfxi_sum_sq FROM sf GROUP BY vec_id)
SELECT CAST(lin.vec_id AS BIGINT) AS vec_id,
       round(0.5 + wixi_sum + 0.5 * (vfxi_sum_sq - vi2xi2_sum), 6)
           AS prediction
FROM lin JOIN sq ON lin.vec_id = sq.vec_id
"""


def _formula_params(spark, n_features: int = 64):
    """Parameter tables whose values are pure functions of featureId —
    reproducible in any engine (replaces random init for the oracle)."""
    ids = spark.range(n_features).select(F.col("id").alias("featureId"))
    strength = ids.select(
        "featureId",
        (0.1 * F.sin(F.col("featureId") + 1)).alias("strength"))
    factors = ids.select(
        "featureId",
        F.array(*[0.05 * F.cos(4 * F.col("featureId") + f) for f in range(K)])
        .alias("vec"))
    return strength, factors


@query("fm_predict", oracle=FM_PREDICT_ORACLE, headline=True)
def fm_predict(spark, sf):
    """Flagship: FM batch inference over embeddings — the reference's
    transform lifecycle (Model.scala:69-133) as one relational plan.

    Uses ``predict_exploded`` with vec_id as the sample key directly:
    when the input already carries a unique key there is no
    monotonically_increasing_id, no input cache, and no join-back —
    three fewer stages than the generic ``transform`` path."""
    from fmx.core import linalg as L

    strength, factors = _formula_params(spark)
    model = FMModel(dim_factorization=K, global_bias=W0,
                    strength=strength, factors=factors)
    emb = T(spark, sf, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("features"))
    exploded = L.explode_vector(emb, "features", id_cols=["vec_id"])
    out = model.predict_exploded(exploded, sample_id="vec_id")
    return out.select("vec_id", F.round("prediction", 6).alias("prediction"))


@query("fm_predict_served", oracle=FM_PREDICT_ORACLE)
def fm_predict_served(spark, sf):
    """The same FM inference through the zero-shuffle serving path
    (fm_score_expr column compilation) — must hash-match the relational
    plan's oracle exactly."""
    from fmx.fm.serving import fm_score_expr

    strength, factors = _formula_params(spark)
    model = FMModel(dim_factorization=K, global_bias=W0,
                    strength=strength, factors=factors)
    emb = T(spark, sf, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("features"))
    return emb.select(
        "vec_id",
        F.round(fm_score_expr(model, "features", n_features=64), 6)
        .alias("prediction"))


@query(
    "fm_loss",
    oracle=f"""
    WITH pred AS ({FM_PREDICT_ORACLE}),
    lbl AS (SELECT vec_id, CAST(label AS DOUBLE) / 10.0 AS y FROM embeddings)
    SELECT round(sum((prediction - y) * (prediction - y)), 6) AS sq_loss,
           CAST(count(*) AS BIGINT) AS n
    FROM pred JOIN lbl ON pred.vec_id = lbl.vec_id
    """)
def fm_loss(spark, sf):
    """Squared-error loss aggregation over the FM predictions
    (ref loss path, Model.scala:230 + SGD.scala:134-138 — via SQL agg,
    no RDD reduce, no first() dedup)."""
    pred = fm_predict(spark, sf)
    lbl = T(spark, sf, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        (F.col("label").cast("double") / 10.0).alias("y"))
    err = (pred.join(lbl, "vec_id")
           .select((F.col("prediction") - F.col("y")).alias("e")))
    return err.agg(
        F.round(F.sum(F.col("e") * F.col("e")), 6).alias("sq_loss"),
        F.count("*").alias("n"))
