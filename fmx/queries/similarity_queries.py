"""Similarity-search queries over the embeddings table.

The exact brute-force top-k and the sign-LSH bucketing both carry full
DuckDB oracles (the hyperplanes are md5-derived, so DuckDB replays
them bit-for-bit).  The Lloyd-trained IVF variant carries an
INVARIANT oracle (ann_ivf_topk — per-query contract flags plus the
SQL-exact global top-1 cosine) since the trained centroid floats are
engine-private; its fixed-centroid twin ann_ivf_topk_fixed is the
bit-exact hash-checked row for the IVF plan shape.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from fmx.operators import similarity as S
from fmx.queries import query
from fmx.sources import load_table as T

K = 5
N_QUERIES = 5          # vec_id < 5 are the query vectors
N_PLANES = 6

_EX = """
ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
              CAST(unnest(embedding) AS DOUBLE) AS x
       FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id)
"""

_PLANE = ("(CAST(concat('0x', substring(md5(concat('plane:', p, ':', pos)), 1, 15))"
          " AS BIGINT) / 576460752303423488.0 - 1.0)")

_BUCKET_SQL = f"""
planes AS (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p),
proj AS (SELECT vec_id, p, sum(x * {_PLANE}) AS d
         FROM ex CROSS JOIN planes GROUP BY vec_id, p),
buckets AS (SELECT vec_id,
                   string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
                              ORDER BY p) AS bucket
            FROM proj GROUP BY vec_id)
"""


@query(
    "ann_cosine_topk",
    headline=True,
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def ann_cosine_topk(spark, sf):
    """Exact cosine top-k: broadcast query set x corpus, JVM dot
    products, ranking window (ties broken on id after rounding)."""
    emb = T(spark, sf, "embeddings")
    out = S.cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                        "vec_id", "embedding", k=K)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "ann_lsh_buckets",
    oracle=f"""
    WITH {_EX}, {_BUCKET_SQL}
    SELECT CAST(vec_id AS BIGINT) AS vec_id, bucket FROM buckets
    """)
def ann_lsh_buckets(spark, sf):
    """Sign-LSH bucket assignment (md5-derived hyperplanes) — the
    bucketing half of the scale path."""
    return S.random_projection_lsh(T(spark, sf, "embeddings"),
                                   "vec_id", "embedding",
                                   num_planes=N_PLANES)


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_EX}, {_BUCKET_SQL},
    q AS (SELECT b.vec_id AS query_id, b.bucket FROM buckets b
          WHERE b.vec_id < {N_QUERIES}),
    cand AS (SELECT q.query_id, b.vec_id
             FROM q JOIN buckets b ON q.bucket = b.bucket
             WHERE b.vec_id <> q.query_id),
    dots AS (SELECT cand.query_id, cand.vec_id, sum(eq.x * ec.x) AS dot
             FROM cand JOIN ex eq ON eq.vec_id = cand.query_id
                       JOIN ex ec ON ec.vec_id = cand.vec_id
                                 AND ec.pos = eq.pos
             GROUP BY cand.query_id, cand.vec_id),
    sims AS (SELECT query_id, dots.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def ann_lsh_topk(spark, sf):
    """ANN top-k via sign-LSH candidate buckets + exact rerank — the
    corpus side is an equi-join on bucket, never a cross join."""
    emb = T(spark, sf, "embeddings")
    out = S.lsh_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                     "vec_id", "embedding", k=K, num_planes=N_PLANES)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "ann_lsh_topk_multiprobe",
    oracle=f"""
    WITH {_EX}, {_BUCKET_SQL},
    q AS (SELECT b.vec_id AS query_id, b.bucket FROM buckets b
          WHERE b.vec_id < {N_QUERIES}),
    probes AS (SELECT query_id, bucket AS probe FROM q
               UNION ALL
               SELECT query_id,
                      substring(bucket, 1, p)
                      || (CASE WHEN substring(bucket, p + 1, 1) = '1'
                               THEN '0' ELSE '1' END)
                      || substring(bucket, p + 2, {N_PLANES}) AS probe
               FROM q CROSS JOIN planes),
    cand AS (SELECT DISTINCT pr.query_id, b.vec_id
             FROM probes pr JOIN buckets b ON pr.probe = b.bucket
             WHERE b.vec_id <> pr.query_id),
    dots AS (SELECT cand.query_id, cand.vec_id, sum(eq.x * ec.x) AS dot
             FROM cand JOIN ex eq ON eq.vec_id = cand.query_id
                       JOIN ex ec ON ec.vec_id = cand.vec_id
                                 AND ec.pos = eq.pos
             GROUP BY cand.query_id, cand.vec_id),
    sims AS (SELECT query_id, dots.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def ann_lsh_topk_multiprobe(spark, sf):
    """Hamming-1 multiprobe sign-LSH ANN: each query probes its own
    bucket plus every one-bit-flip neighbour (probe fan-out on the
    QUERY side only — the corpus is still one equi-join).  Recall at
    sf0.01: 0.28 vs 0.10 single-probe for (num_planes+1)x probes."""
    emb = T(spark, sf, "embeddings")
    out = S.lsh_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                     "vec_id", "embedding", k=K, num_planes=N_PLANES,
                     multiprobe=True)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


N_CELLS = 8
N_PROBE = 2

_IVF_COARSE = f"""
    cents AS (SELECT vec_id AS cell, pos, x AS cx FROM ex
              WHERE vec_id < {N_CELLS}),
    cnorm AS (SELECT cell, sqrt(sum(cx * cx)) AS cn FROM cents
              GROUP BY cell),
    csim AS (SELECT e.vec_id, c.cell, sum(e.x * c.cx) AS dot
             FROM ex e JOIN cents c ON e.pos = c.pos
             GROUP BY e.vec_id, c.cell),
    csim2 AS (SELECT csim.vec_id, csim.cell,
                     round(dot / (norms.nrm * cnorm.cn), 9) AS sim
              FROM csim JOIN norms ON csim.vec_id = norms.vec_id
                        JOIN cnorm ON csim.cell = cnorm.cell),
    cassign AS (SELECT vec_id, cell FROM csim2
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell) <= 1)
"""


@query(
    "ann_ivf_topk_fixed",
    oracle=f"""
    WITH {_EX}, {_IVF_COARSE},
    qassign AS (SELECT vec_id AS query_id, cell FROM csim2
                WHERE vec_id < {N_QUERIES}
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell)
                        <= {N_PROBE}),
    cand AS (SELECT q.query_id, c.vec_id
             FROM qassign q JOIN cassign c ON q.cell = c.cell
             WHERE c.vec_id <> q.query_id),
    dots AS (SELECT cand.query_id, cand.vec_id, sum(eq.x * ec.x) AS dot
             FROM cand JOIN ex eq ON eq.vec_id = cand.query_id
                       JOIN ex ec ON ec.vec_id = cand.vec_id
                                 AND ec.pos = eq.pos
             GROUP BY cand.query_id, cand.vec_id),
    sims AS (SELECT query_id, dots.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def ann_ivf_topk_fixed(spark, sf):
    """IVF-flat ANN with FIXED coarse centroids (lloyd_iters=0: cells =
    the first num_cells corpus vectors by id).  Same assign/probe plan
    as the Lloyd path but fully SQL-replayable, so the driver gets a
    hash-checked row for the IVF plan shape; ann_ivf_topk keeps the
    Lloyd-trained quality path (invariant oracle)."""
    emb = T(spark, sf, "embeddings")
    out = S.ivf_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                     "vec_id", "embedding", k=K, num_cells=N_CELLS,
                     nprobe=N_PROBE, lloyd_iters=0)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id),
    exact AS (SELECT query_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id) AS r
              FROM sims QUALIFY r <= {K})
    SELECT CAST(query_id AS BIGINT) AS query_id,
           round(max(cosine), 6) AS exact_top1,
           CAST({K} AS BIGINT) AS n_results,
           CAST(1 AS BIGINT) AS rank_contract,
           CAST(1 AS BIGINT) AS cosine_exact,
           CAST(1 AS BIGINT) AS within_exact_bound
    FROM exact GROUP BY query_id ORDER BY query_id
    """)
def ann_ivf_topk(spark, sf):
    """Lloyd-trained IVF-flat ANN, checked through PORTABLE INVARIANTS
    (the ann_pq_trained pattern, VERDICT r8 #2): the trained centroid
    floats are engine-private (distributed fp means — not
    bit-portable), so instead of the raw top-k rows this entry emits,
    per query, properties that hold for ANY converged Lloyd run and
    that DuckDB can either replay exactly or expect as constants:

    - ``exact_top1``: the global exact top-1 cosine (value-compared —
      SQL replays it bit-for-bit from the raw embeddings);
    - ``n_results`` = k: the probed cells always hold >= k candidates
      at every tested SF (>= 60 vectors/cell vs k=5);
    - ``rank_contract`` = 1: ranks are exactly 1..n, cosine is
      non-increasing in rank, and the query never returns itself;
    - ``cosine_exact`` = 1: every cosine the IVF path returns equals
      the exact pairwise cosine recomputed from the raw vectors
      (i.e. candidates are scored exactly, only the candidate SET is
      approximate);
    - ``within_exact_bound`` = 1: the IVF top-1 and top-k mean are
      <= the exact-search top-1 / top-k mean (any k-subset of the
      corpus is dominated by the true top-k) — a training regression
      that scored candidates wrongly flips this.

    The Lloyd-trained top-k ROWS themselves stay covered by
    ann_ivf_topk_fixed (identical plan shape, hash-checked) and the
    recall assertions in tests/test_operators.py."""
    emb = T(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERIES)
    ivf = S.ivf_topk(emb, qs, "vec_id", "embedding", k=K, num_cells=8)

    allp = S._cosine_pairs(emb, qs, "vec_id", "embedding", "query_id")
    wex = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                 F.col("vec_id"))
    exact = (allp.withColumn("_r", F.row_number().over(wex))
             .filter(F.col("_r") <= K)
             .groupBy("query_id")
             .agg(F.max("cosine").alias("_etop1"),
                  F.avg("cosine").alias("_emean")))

    wr = Window.partitionBy("query_id").orderBy("rank")
    iv = (ivf.withColumn("_prev", F.lag("cosine").over(wr))
          .join(allp.select("query_id", "vec_id",
                            F.col("cosine").alias("_exact_cos")),
                ["query_id", "vec_id"], "left")
          .groupBy("query_id")
          .agg(F.count(F.lit(1)).alias("_n"),
               F.min("rank").alias("_minr"),
               F.max("rank").alias("_maxr"),
               F.countDistinct("rank").alias("_ndr"),
               F.sum(F.when(F.col("_prev").isNotNull()
                            & (F.col("cosine") > F.col("_prev") + 1e-12),
                            1).otherwise(0)).alias("_monobad"),
               F.sum(F.when(F.col("vec_id") == F.col("query_id"), 1)
                     .otherwise(0)).alias("_selfbad"),
               F.sum(F.when(F.col("_exact_cos").isNull()
                            | (F.abs(F.col("cosine")
                                     - F.col("_exact_cos")) > 1e-9),
                            1).otherwise(0)).alias("_cosbad"),
               F.max("cosine").alias("_itop1"),
               F.avg("cosine").alias("_imean")))

    flag = lambda c: F.when(c, 1).otherwise(0).cast("bigint")
    return (iv.join(exact, "query_id")
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.round("_etop1", 6).alias("exact_top1"),
                    F.col("_n").cast("bigint").alias("n_results"),
                    flag((F.col("_minr") == 1)
                         & (F.col("_maxr") == F.col("_n"))
                         & (F.col("_ndr") == F.col("_n"))
                         & (F.col("_monobad") == 0)
                         & (F.col("_selfbad") == 0)).alias("rank_contract"),
                    flag(F.col("_cosbad") == 0).alias("cosine_exact"),
                    flag((F.col("_itop1") <= F.col("_etop1") + 1e-9)
                         & (F.col("_imean") <= F.col("_emean") + 1e-9))
                    .alias("within_exact_bound")))


DIM = 64                # embeddings.embedding is a fixed 64-dim array
PQ_M = 4                # subspaces
PQ_CODES = 16           # centroids per subspace (first 16 corpus vectors)

_PQ_SQL = f"""
sx AS (SELECT vec_id, CAST(pos // {DIM // PQ_M} AS BIGINT) AS sub,
              pos % {DIM // PQ_M} AS spos, x
       FROM ex),
cb AS (SELECT sub, vec_id AS code, spos, x AS cx
       FROM sx WHERE vec_id < {PQ_CODES}),
pqd AS (SELECT s.vec_id, s.sub, c.code,
               round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS d2
        FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
        GROUP BY s.vec_id, s.sub, c.code),
codes AS (SELECT vec_id, sub, CAST(code AS BIGINT) AS code,
                 round(d2, 6) AS d2
          FROM pqd
          QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d2, code) = 1)
"""


@query(
    "ann_pq_codes",
    oracle=f"""
    WITH {_EX}, {_PQ_SQL}
    SELECT CAST(vec_id AS BIGINT) AS vec_id, sub, code, d2 FROM codes
    """)
def ann_pq_codes(spark, sf):
    """Product-quantization encoding: every corpus vector compressed to
    m=4 subspace codes (nearest of 16 deterministic per-subspace
    centroids) — 64 doubles -> 4 small ints, the 100 TB ANN-index
    memory path.  One posexplode + broadcast codebook join + ONE
    (id, sub) hash-agg with the nearest-code argmin in-row (no window,
    one shuffle — pinned by tests/test_plans.py); the corpus is never
    collected."""
    emb = T(spark, sf, "embeddings")
    out = S.pq_encode(emb, "vec_id", "embedding", m=PQ_M,
                      num_codes=PQ_CODES, dim=DIM)
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("sub").cast("bigint").alias("sub"),
                      F.col("code").cast("bigint").alias("code"),
                      "d2")


@query(
    "ann_pq_topk",
    headline=True,
    oracle=f"""
    WITH {_EX}, {_PQ_SQL},
    dtab AS (SELECT s.vec_id AS query_id, s.sub, CAST(c.code AS BIGINT)
                        AS code,
                    round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS pd
             FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
             WHERE s.vec_id < {N_QUERIES}
             GROUP BY s.vec_id, s.sub, c.code),
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, vec_id) AS BIGINT)
               AS rank
    FROM adist QUALIFY rank <= {K}
    """)
def ann_pq_topk(spark, sf):
    """PQ ANN via asymmetric distance computation: queries stay exact,
    each precomputing a broadcast m x 16 distance table; a candidate's
    approximate squared-L2 is the sum of m table lookups over its PQ
    codes — the scan side reads 4 ints per vector instead of 64
    doubles.  The distance tables broadcast against the code vectors
    and adist is an in-row sum of m lookups — no equi-join fan-out."""
    emb = T(spark, sf, "embeddings")
    out = S.pq_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                    "vec_id", "embedding", k=K, m=PQ_M,
                    num_codes=PQ_CODES, dim=DIM)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "adist",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "emb_normalize",
    oracle="""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                      sqrt(list_aggregate(list_transform(
                          CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'))
                          AS norm
               FROM embeddings)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           round(norm, 6) AS l2_norm,
           CAST(i - 1 AS BIGINT) AS pos,
           round(e[i] / norm, 6) AS u
    FROM n, LATERAL (SELECT unnest(generate_series(1, len(e))) AS i) g
    WHERE norm > 0
    """)
def emb_normalize(spark, sf):
    """L2 normalization of the embedding column (unit vectors + norms,
    map-only higher-order expressions — turns cosine ANN into dot
    products), emitted in long (vec_id, pos, u) format for the
    engine-portable hash compare."""
    out = S.normalize_embeddings(T(spark, sf, "embeddings"),
                                 "vec_id", "embedding")
    return out.select("vec_id", "l2_norm",
                      F.posexplode("unit").alias("pos", "u")) \
              .select("vec_id", "l2_norm",
                      F.col("pos").cast("bigint").alias("pos"), "u")


@query(
    "emb_quantize",
    oracle="""
    WITH m AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                      list_aggregate(list_transform(
                          CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max')
                          AS amax
               FROM embeddings)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           round(amax / 127.0, 9) AS scale,
           CAST(i - 1 AS BIGINT) AS pos,
           CAST(round(e[i] / (amax / 127.0)) AS INTEGER) AS code
    FROM m, LATERAL (SELECT unnest(generate_series(1, len(e))) AS i) g
    WHERE amax > 0
    """)
def emb_quantize(spark, sf):
    """Symmetric int8 quantization of embeddings (scale = max|x|/127 —
    the 4x corpus-memory cut for ANN serving), long-format output."""
    out = S.quantize_embeddings(T(spark, sf, "embeddings"),
                                "vec_id", "embedding")
    return out.select("vec_id", "scale",
                      F.posexplode("codes").alias("pos", "code")) \
              .select("vec_id", "scale",
                      F.col("pos").cast("bigint").alias("pos"), "code")


K_CAND = 25             # PQ shortlist size before exact rerank


@query(
    "ann_pq_rerank",
    headline=True,
    oracle=f"""
    WITH {_EX}, {_PQ_SQL},
    dtab AS (SELECT s.vec_id AS query_id, s.sub, CAST(c.code AS BIGINT)
                        AS code,
                    round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS pd
             FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
             WHERE s.vec_id < {N_QUERIES}
             GROUP BY s.vec_id, s.sub, c.code),
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id),
    cand AS (SELECT query_id, vec_id FROM adist
             QUALIFY row_number() OVER (PARTITION BY query_id
                                        ORDER BY adist, vec_id)
                     <= {K_CAND}),
    dots AS (SELECT c.query_id, c.vec_id, sum(eq.x * ec.x) AS dot
             FROM cand c JOIN ex eq ON eq.vec_id = c.query_id
                         JOIN ex ec ON ec.vec_id = c.vec_id
                                   AND ec.pos = eq.pos
             GROUP BY c.query_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def ann_pq_rerank(spark, sf):
    """Two-stage ANN: PQ ADC shortlist (k_cand=25 from 4-int codes) ->
    exact cosine rerank -> top-5.  The production retrieval pattern:
    compressed scan for recall, candidate-sized exact pass for
    precision."""
    emb = T(spark, sf, "embeddings")
    out = S.pq_rerank_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                           "vec_id", "embedding", k=K, k_cand=K_CAND,
                           m=PQ_M, num_codes=PQ_CODES, dim=DIM)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "ann_pq_trained",
    oracle=f"""
    WITH {_EX}, {_PQ_SQL}
    SELECT sub, round(avg(d2), 4) AS fixed_mse,
           CAST(1 AS BIGINT) AS trained_improves
    FROM codes GROUP BY sub ORDER BY sub
    """)
def ann_pq_trained(spark, sf):
    """Lloyd-trained PQ codebook, checked through a PORTABLE INVARIANT:
    per subspace, emit the FIXED codebook's mean quantization error
    (exactly replayable in SQL — value-compared against DuckDB) and a
    flag asserting the TRAINED codebook's error is <= the fixed one.
    K-means initialized from the fixed codebook is monotone
    non-increasing in within-cluster SSE per subspace, so the oracle
    expects trained_improves = 1 everywhere; a training regression
    flips the flag and hash-mismatches.  The trained floats themselves
    are engine-private (floating means — not bit-portable); the recall
    gain (~30% lower MSE) is asserted in tests/test_operators.py."""
    emb = T(spark, sf, "embeddings")
    cb = S.pq_codebook_trained(emb, "vec_id", "embedding", m=PQ_M,
                               num_codes=PQ_CODES, dim=DIM, lloyd_iters=2)
    enc_fixed = S.pq_encode(emb, "vec_id", "embedding", m=PQ_M,
                            num_codes=PQ_CODES, dim=DIM)
    enc_tr = S.pq_encode(emb, "vec_id", "embedding", m=PQ_M,
                         num_codes=PQ_CODES, dim=DIM, codebook=cb)
    fixed = enc_fixed.groupBy("sub").agg(F.avg("d2").alias("_fmse"))
    trained = enc_tr.groupBy("sub").agg(F.avg("d2").alias("_tmse"))
    return (fixed.join(trained, "sub")
            .select(F.col("sub").cast("bigint").alias("sub"),
                    F.round("_fmse", 4).alias("fixed_mse"),
                    F.when(F.col("_tmse") <= F.col("_fmse") + 1e-9, 1)
                     .otherwise(0).cast("bigint").alias("trained_improves")))


@query(
    "ann_eval_pq_vs_exact",
    oracle=f"""
    WITH {_EX}, {_PQ_SQL},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id),
    truth AS (SELECT query_id, vec_id FROM sims
              QUALIFY row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id)
                      <= {K}),
    dtab AS (SELECT s.vec_id AS query_id, s.sub, CAST(c.code AS BIGINT)
                        AS code,
                    round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS pd
             FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
             WHERE s.vec_id < {N_QUERIES}
             GROUP BY s.vec_id, s.sub, c.code),
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id),
    pred AS (SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist, vec_id) AS rank
             FROM adist
             QUALIFY rank <= {K}),
    tn AS (SELECT query_id, count(*) AS t_n FROM truth GROUP BY query_id),
    hits AS (SELECT p.query_id, count(*) AS h, min(p.rank) AS fr
             FROM pred p JOIN truth t
               ON p.query_id = t.query_id AND p.vec_id = t.vec_id
             GROUP BY p.query_id),
    per AS (SELECT coalesce(h, 0) * 1.0 / t_n AS recall,
                   coalesce(1.0 / fr, 0.0) AS rr
            FROM tn LEFT JOIN hits USING (query_id))
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall), 6) AS recall_at_k,
           round(avg(rr), 6) AS mrr
    FROM per
    """)
def ann_eval_pq_vs_exact(spark, sf):
    """Retrieval-quality report of the PQ path against exact cosine
    (recall@5 + MRR): the ANN evaluation loop as one relational plan —
    a (query, id) equi-join of two k-row-per-query relations, never a
    corpus rescan beyond the two searches themselves."""
    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = S.cosine_topk(emb, q, "vec_id", "embedding", k=K)
    pred = S.pq_topk(emb, q, "vec_id", "embedding", k=K, m=PQ_M,
                     num_codes=PQ_CODES, dim=DIM)
    return S.rank_eval(pred, truth, k=K)


@query(
    "ann_ivf_cell_histogram",
    oracle=f"""
    WITH {_EX},
    cents AS (SELECT vec_id AS cell, pos, x AS cx FROM ex
              WHERE vec_id < {N_CELLS}),
    cnorm AS (SELECT cell, sqrt(sum(cx * cx)) AS cn FROM cents
              GROUP BY cell),
    csim AS (SELECT e.vec_id, c.cell, sum(e.x * c.cx) AS dot
             FROM ex e JOIN cents c ON e.pos = c.pos
             GROUP BY e.vec_id, c.cell),
    csim2 AS (SELECT csim.vec_id, csim.cell,
                     round(dot / (norms.nrm * cnorm.cn), 9) AS sim
              FROM csim JOIN norms ON csim.vec_id = norms.vec_id
                        JOIN cnorm ON csim.cell = cnorm.cell),
    cassign AS (SELECT vec_id, cell FROM csim2
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell) <= 1),
    hist AS (SELECT cell, count(*) AS n FROM cassign GROUP BY cell)
    SELECT CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS n_vectors,
           round(n * 1.0 / sum(n) OVER (), 6) AS share,
           round(max(n) OVER () * count(*) OVER () * 1.0
                 / sum(n) OVER (), 4) AS skew_ratio
    FROM hist
    """)
def ann_ivf_cell_histogram(spark, sf):
    """IVF cell-balance report (fixed coarse centroids): vectors per
    cell, share, and the hot-cell skew ratio (max*cells/total — 1.0 is
    perfectly balanced; a hot cell is the straggler of every probe).
    Assignment = broadcast centroids x corpus argmax (the IVF corpus
    path), then one tiny per-cell agg — the capacity-planning readout
    before sizing nprobe/cell counts."""
    from fmx.core import linalg as L

    emb = T(spark, sf, "embeddings")
    cw = F.broadcast(S._cell_array(
        emb.filter(F.col("vec_id") < N_CELLS)
        .select(F.col("vec_id").cast("int").alias("_cell"),
                F.col("embedding").cast("array<double>").alias("_cv"))))
    assigned = S._nearest_cells(
        emb.select(F.col("embedding").cast("array<double>").alias("_v"))
        .crossJoin(cw),
        lambda c: L.cosine_similarity("_v", c["_cv"]), "cell")
    hist = assigned.groupBy("cell").agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    return hist.select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(F.col("n") / F.sum("n").over(wall), 6).alias("share"),
        F.round(F.max("n").over(wall) * F.count("*").over(wall)
                / F.sum("n").over(wall), 4).alias("skew_ratio"))


_DSUB = DIM // PQ_M

_IVFPQ_COARSE = f"""
cents AS (SELECT vec_id AS cell, pos, x AS cx FROM ex
          WHERE vec_id < {N_CELLS}),
cnorm AS (SELECT cell, sqrt(sum(cx * cx)) AS cn FROM cents GROUP BY cell),
csim AS (SELECT e.vec_id, c.cell, sum(e.x * c.cx) AS dot
         FROM ex e JOIN cents c ON e.pos = c.pos
         GROUP BY e.vec_id, c.cell),
csim2 AS (SELECT csim.vec_id, csim.cell,
                 round(dot / (norms.nrm * cnorm.cn), 9) AS sim
          FROM csim JOIN norms ON csim.vec_id = norms.vec_id
                    JOIN cnorm ON csim.cell = cnorm.cell),
cassign AS (SELECT vec_id, cell FROM csim2
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, cell) <= 1),
qassign AS (SELECT vec_id AS query_id, cell FROM csim2
            WHERE vec_id < {N_QUERIES}
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, cell)
                    <= {N_PROBE})
"""

_IVFPQ_RESIDUAL = f"""
crx AS (SELECT e.vec_id, a.cell,
               CAST(e.pos // {_DSUB} AS BIGINT) AS sub,
               e.pos % {_DSUB} AS spos, e.x - c.cx AS rx
        FROM ex e JOIN cassign a ON e.vec_id = a.vec_id
                  JOIN cents c ON a.cell = c.cell AND e.pos = c.pos),
rcb AS (SELECT sub, vec_id AS code, spos, rx AS cbx
        FROM crx WHERE vec_id < {PQ_CODES}),
rd2 AS (SELECT s.vec_id, s.cell, s.sub, c.code,
               round(sum((s.rx - c.cbx) * (s.rx - c.cbx)), 9) AS d2
        FROM crx s JOIN rcb c ON s.sub = c.sub AND s.spos = c.spos
        GROUP BY s.vec_id, s.cell, s.sub, c.code),
rcodes AS (SELECT vec_id, cell, sub, CAST(code AS BIGINT) AS code FROM rd2
           QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, code) = 1),
qrx AS (SELECT a.query_id, a.cell,
               CAST(q.pos // {_DSUB} AS BIGINT) AS sub,
               q.pos % {_DSUB} AS spos, q.x - c.cx AS rx
        FROM ex q JOIN qassign a ON q.vec_id = a.query_id
                  JOIN cents c ON a.cell = c.cell AND q.pos = c.pos),
dtab AS (SELECT s.query_id, s.cell, s.sub, CAST(c.code AS BIGINT) AS code,
                round(sum((s.rx - c.cbx) * (s.rx - c.cbx)), 9) AS pd
         FROM qrx s JOIN rcb c ON s.sub = c.sub AND s.spos = c.spos
         GROUP BY s.query_id, s.cell, s.sub, c.code)
"""


@query(
    "ann_ivfpq_topk",
    headline=True,
    oracle=f"""
    WITH {_EX}, {_IVFPQ_COARSE}, {_IVFPQ_RESIDUAL},
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM rcodes k JOIN dtab d ON k.cell = d.cell
                                       AND k.sub = d.sub
                                       AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, vec_id) AS BIGINT)
               AS rank
    FROM adist QUALIFY rank <= {K}
    """)
def ann_ivfpq_topk(spark, sf):
    """IVF-PQ ANN (the FAISS ``IVF8,PQ4`` composition): coarse cells
    prune the scan to nprobe=2 cells per query, PQ codes of the
    RESIDUAL (vector minus cell centroid) shrink what the scan reads
    to 4 ints per vector, and ADC sums broadcast distance-table
    lookups.  Coarse centroids and the residual codebook are DERIVED
    relations (first-N-vectors convention) joined executor-side —
    nothing is collected to the driver, so the identical plan holds
    when the centroid table outgrows broadcast
    (fmx.operators.similarity.ivfpq_topk)."""
    emb = T(spark, sf, "embeddings")
    out = S.ivfpq_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                       "vec_id", "embedding", k=K, num_cells=N_CELLS,
                       nprobe=N_PROBE, m=PQ_M, num_codes=PQ_CODES,
                       dim=DIM)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "adist",
                      F.col("rank").cast("bigint").alias("rank"))


RRF_K = 10              # per-path shortlist depth fed into the fusion
RRF_C = 60


@query(
    "ann_hybrid_rrf",
    oracle=f"""
    WITH {_EX}, {_PQ_SQL},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    cosr AS (SELECT query_id, dots.vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(dot / (nq.nrm * nc.nrm), 6)
                                                DESC, dots.vec_id) AS rank
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id
             QUALIFY rank <= {RRF_K}),
    dtab AS (SELECT s.vec_id AS query_id, s.sub, CAST(c.code AS BIGINT)
                        AS code,
                    round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS pd
             FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
             WHERE s.vec_id < {N_QUERIES}
             GROUP BY s.vec_id, s.sub, c.code),
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id),
    pqr AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist, vec_id) AS rank
            FROM adist QUALIFY rank <= {RRF_K}),
    uni AS (SELECT query_id, vec_id, 1.0 / ({RRF_C} + rank) AS w FROM cosr
            UNION ALL
            SELECT query_id, vec_id, 1.0 / ({RRF_C} + rank) AS w FROM pqr),
    fused AS (SELECT query_id, vec_id, round(sum(w), 9) AS rrf
              FROM uni GROUP BY query_id, vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, rrf,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, vec_id) AS BIGINT)
               AS rank
    FROM fused QUALIFY rank <= {K}
    """)
def ann_hybrid_rrf(spark, sf):
    """Reciprocal-rank fusion of two retrieval paths (exact cosine +
    PQ ADC, 10 candidates each): rrf = sum 1/(60 + rank) — the
    score-free hybrid-retrieval combiner.  Fusion touches only the
    top-k' relations (2 x 10 rows per query): a union + one
    (query, id) agg + WindowGroupLimit, corpus-size-independent
    (fmx.operators.similarity.rrf_fuse)."""
    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    cos = S.cosine_topk(emb, q, "vec_id", "embedding", k=RRF_K)
    pq = S.pq_topk(emb, q, "vec_id", "embedding", k=RRF_K, m=PQ_M,
                   num_codes=PQ_CODES, dim=DIM)
    out = S.rrf_fuse([cos, pq], k=K, c=RRF_C)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "rrf",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "emb_centroid_shift",
    oracle="""
    WITH ex AS (SELECT vec_id, label,
                       generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    lc AS (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos),
    gc AS (SELECT pos, avg(x) AS g FROM ex GROUP BY pos),
    nv AS (SELECT label, count(DISTINCT vec_id) AS n FROM ex
           GROUP BY label),
    dot AS (SELECT label, sum(m * g) AS d, sqrt(sum(m * m)) AS nm,
                   (SELECT sqrt(sum(g * g)) FROM gc) AS ng
            FROM lc JOIN gc ON lc.pos = gc.pos GROUP BY label)
    SELECT CAST(dot.label AS BIGINT) AS label,
           CAST(nv.n AS BIGINT) AS n_vectors,
           round(d / (nm * ng), 6) AS cos_to_global
    FROM dot JOIN nv ON dot.label = nv.label
    """)
def emb_centroid_shift(spark, sf):
    """Per-label embedding centroid vs the global centroid (cosine) —
    the drift/cluster-compactness readout that flags a label or source
    whose embedding distribution has moved (encoder change, corpus
    shift) before it poisons ANN recall.  All long-format hash-aggs:
    one (label, pos) mean, one (pos) mean, one label-sized join — no
    vectors ever collected."""
    ex = (T(spark, sf, "embeddings")
          .select("vec_id", "label",
                  F.posexplode(F.col("embedding").cast("array<double>"))
                  .alias("pos", "x")))
    lc = ex.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    gc = ex.groupBy("pos").agg(F.avg("x").alias("g"))
    nv = ex.groupBy("label").agg(F.countDistinct("vec_id").alias("n"))
    ng = gc.agg(F.sqrt(F.sum(F.col("g") ** 2)).alias("_ng"))
    dot = (lc.join(F.broadcast(gc), "pos")
           .groupBy("label")
           .agg(F.sum(F.col("m") * F.col("g")).alias("d"),
                F.sqrt(F.sum(F.col("m") ** 2)).alias("nm"))
           .crossJoin(F.broadcast(ng)))
    return (dot.join(F.broadcast(nv), "label")
            .select(F.col("label").cast("bigint").alias("label"),
                    F.col("n").cast("bigint").alias("n_vectors"),
                    F.round(F.col("d") / (F.col("nm") * F.col("_ng")), 6)
                    .alias("cos_to_global")))


@query(
    "ann_ivfpq_rerank",
    oracle=f"""
    WITH {_EX}, {_IVFPQ_COARSE}, {_IVFPQ_RESIDUAL},
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM rcodes k JOIN dtab d ON k.cell = d.cell
                                       AND k.sub = d.sub
                                       AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id),
    cand AS (SELECT query_id, vec_id FROM adist
             QUALIFY row_number() OVER (PARTITION BY query_id
                                        ORDER BY adist, vec_id) <= 25),
    dots AS (SELECT cand.query_id, cand.vec_id, sum(eq.x * ec.x) AS dot
             FROM cand JOIN ex eq ON eq.vec_id = cand.query_id
                       JOIN ex ec ON ec.vec_id = cand.vec_id
                                 AND ec.pos = eq.pos
             GROUP BY cand.query_id, cand.vec_id),
    sims AS (SELECT query_id, dots.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def ann_ivfpq_rerank(spark, sf):
    """IVF-PQ shortlist (cell-pruned residual ADC, 25 candidates) ->
    exact cosine rerank -> top-5: the full production serving path —
    compressed scan sets recall, the exact pass touches only 25 full
    vectors per query (fmx.operators.similarity.ivfpq_rerank_topk)."""
    emb = T(spark, sf, "embeddings")
    out = S.ivfpq_rerank_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                              "vec_id", "embedding", k=K, k_cand=25,
                              num_cells=N_CELLS, nprobe=N_PROBE,
                              m=PQ_M, num_codes=PQ_CODES, dim=DIM)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "emb_gram_matrix",
    oracle="""
    WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings)
    SELECT CAST(a.pos AS BIGINT) AS i, CAST(b.pos AS BIGINT) AS j,
           round(sum(a.x * b.x), 6) AS gram
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.pos >= a.pos
    GROUP BY a.pos, b.pos
    """)
def emb_gram_matrix(spark, sf):
    """Upper-triangle Gramian X^T X of the embedding corpus — the
    cluster-side reduce of distributed PCA (eigendecompose the d x d
    result anywhere).  mapInPandas emits ONE d x d numpy partial per
    Arrow batch, so shuffle volume is partitions * d(d+1)/2 rows,
    independent of corpus size; the oracle replays it as the
    row-grain self-join DuckDB can afford at sf0.01.  Float32 inputs
    upcast to float64 before the matmul keep both engines within
    1e-12 relative, far inside the 6dp round."""
    g = S.gram_matrix(T(spark, sf, "embeddings"), "embedding")
    return g.select("i", "j", F.round("gram", 6).alias("gram"))


@query(
    "emb_top_eigvec",
    oracle="""
    WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    g AS (SELECT a.pos AS i, b.pos AS j, sum(a.x * b.x) AS gram
          FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.pos >= a.pos
          GROUP BY a.pos, b.pos),
    gf AS (SELECT i, j, gram FROM g
           UNION ALL SELECT j AS i, i AS j, gram FROM g WHERE i <> j),
    v0 AS (SELECT DISTINCT i, 1.0 AS v FROM gf),
    n0 AS (SELECT sqrt(sum(v * v)) AS n FROM v0),
    v0n AS (SELECT i, v / n AS v FROM v0, n0),
    w1 AS (SELECT gf.i AS i, sum(gf.gram * v0n.v) AS w
           FROM gf JOIN v0n ON gf.j = v0n.i GROUP BY gf.i),
    n1 AS (SELECT sqrt(sum(w * w)) AS n FROM w1),
    v1 AS (SELECT i, w / n AS v FROM w1, n1),
    w2 AS (SELECT gf.i AS i, sum(gf.gram * v1.v) AS w
           FROM gf JOIN v1 ON gf.j = v1.i GROUP BY gf.i),
    n2 AS (SELECT sqrt(sum(w * w)) AS n FROM w2)
    SELECT CAST(w2.i AS BIGINT) AS i, round(w2.w / n2.n, 6) AS v,
           round(n2.n, 6) AS eig
    FROM w2, n2
    """)
def emb_top_eigvec(spark, sf):
    """Top principal eigenpair of the embedding corpus, distributed
    end-to-end: one corpus pass reduces to the d x d Gramian (see
    emb_gram_matrix), then two relational power-iteration rounds —
    broadcast joins and aggs over d- and d^2-row relations whose cost
    is independent of corpus size.  This is how PCA actually runs at
    100 TB: the cluster computes G, the eigenproblem is then
    arbitrarily cheap (here the leading pair stays relational so the
    oracle replays it; a full eigh of the 64 x 64 result is a driver
    no-op).  Deterministic: all-ones start, fixed rounds, no RNG."""
    g = S.gram_matrix(T(spark, sf, "embeddings"), "embedding")
    return S.power_iteration_top_eig(g, rounds=2)


@query(
    "emb_dim_variance",
    oracle="""
    WITH ex AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    per_dim AS (SELECT pos, avg(x) AS m, var_samp(x) AS v
                FROM ex GROUP BY pos),
    tot AS (SELECT pos, m, v, sum(v) OVER () AS tv FROM per_dim)
    SELECT CAST(pos AS BIGINT) AS i, round(m, 6) AS mean,
           round(v, 6) AS variance, round(v / tv, 6) AS var_share
    FROM tot
    """)
def emb_dim_variance(spark, sf):
    """Per-dimension mean / variance / share-of-total-variance of the
    embedding corpus — the cheap embedding-health screen (dead or
    dominating dimensions, collapsed encoders) run before any ANN
    index build.  One explode + one (pos) hash-agg with map-side
    combine; the share normalizer is a window over the d-row dim
    relation, never row grain."""
    from pyspark.sql import Window

    ex = (T(spark, sf, "embeddings")
          .select(F.posexplode(F.col("embedding").cast("array<double>"))
                  .alias("pos", "x")))
    per_dim = ex.groupBy("pos").agg(F.avg("x").alias("m"),
                                    F.var_samp("x").alias("v"))
    w = Window.partitionBy()
    return (per_dim.withColumn("tv", F.sum("v").over(w))
            .select(F.col("pos").cast("bigint").alias("i"),
                    F.round("m", 6).alias("mean"),
                    F.round("v", 6).alias("variance"),
                    F.round(F.col("v") / F.col("tv"), 6)
                    .alias("var_share")))


@query(
    "retrieval_hard_negatives",
    oracle=f"""
    WITH {_EX},
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    CAST(lc.label AS BIGINT) AS neg_label,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id
                       JOIN lab lq ON query_id = lq.vec_id
                       JOIN lab lc ON dots.vec_id = lc.vec_id
             WHERE lq.label IS DISTINCT FROM lc.label)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, neg_label, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= {K}
    """)
def retrieval_hard_negatives(spark, sf):
    """Hard-negative mining: per query vector, the top-5 most similar
    corpus vectors of a DIFFERENT label — the contrastive-training
    negatives that are actually hard.  Broadcast-query exact cosine
    with the label inequality pruning pairs before the ranking
    window; at 10^9 vectors the scorer swaps to the IVF-PQ shortlist
    with the same filter and output contract."""
    emb = T(spark, sf, "embeddings")
    out = S.hard_negatives(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                           "vec_id", "embedding", "label", k=K)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("neg_label").cast("bigint").alias("neg_label"),
                      "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "ann_eval_ndcg",
    oracle=f"""
    WITH {_EX}, {_PQ_SQL},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id),
    truthr AS (SELECT query_id, vec_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id)
                          AS trank
               FROM sims
               QUALIFY trank <= {K}),
    dtab AS (SELECT s.vec_id AS query_id, s.sub, CAST(c.code AS BIGINT)
                        AS code,
                    round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS pd
             FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
             WHERE s.vec_id < {N_QUERIES}
             GROUP BY s.vec_id, s.sub, c.code),
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id),
    pred AS (SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist, vec_id) AS rank
             FROM adist
             QUALIFY rank <= {K}),
    idcg AS (SELECT query_id,
                    sum(({K} + 1 - trank)
                        / (ln(1.0 + trank) / ln(2.0))) AS idcg
             FROM truthr GROUP BY query_id),
    dcg AS (SELECT p.query_id,
                   sum(({K} + 1 - t.trank)
                       / (ln(1.0 + p.rank) / ln(2.0))) AS dcg
            FROM pred p JOIN truthr t
              ON p.query_id = t.query_id AND p.vec_id = t.vec_id
            GROUP BY p.query_id),
    per AS (SELECT coalesce(dcg, 0.0) / idcg AS ndcg
            FROM idcg LEFT JOIN dcg USING (query_id))
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(ndcg), 6) AS ndcg_at_k
    FROM per
    """)
def ann_eval_ndcg(spark, sf):
    """NDCG@5 of the PQ/ADC path against exact cosine — the
    position-sensitive companion to ann_eval_pq_vs_exact's recall/MRR
    (an ANN index that returns the right five items in the wrong order
    loses score here and not there).  Linear graded relevance from the
    exact ranking; same two-k-row-relation equi-join shape."""
    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = S.cosine_topk(emb, q, "vec_id", "embedding", k=K)
    pred = S.pq_topk(emb, q, "vec_id", "embedding", k=K, m=PQ_M,
                     num_codes=PQ_CODES, dim=DIM)
    return S.ndcg_eval(pred, truth, k=K)


@query(
    "emb_label_separation",
    oracle="""
    WITH ex AS (SELECT vec_id, label,
                       generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    lm AS (SELECT label, pos, avg(x) AS m, count(*) AS n,
                  sum(x * x) AS sq
           FROM ex GROUP BY label, pos),
    gm AS (SELECT pos, avg(x) AS g FROM ex GROUP BY pos),
    btw AS (SELECT lm.pos, sum(lm.n * (lm.m - gm.g) * (lm.m - gm.g))
                       AS sb
            FROM lm JOIN gm ON lm.pos = gm.pos GROUP BY lm.pos),
    wth AS (SELECT pos, sum(sq - n * m * m) AS sw
            FROM lm GROUP BY pos)
    SELECT CAST(btw.pos AS BIGINT) AS i,
           round(sb, 4) AS between_scatter,
           round(sw, 4) AS within_scatter,
           round(sb / sw, 6) AS fisher_ratio
    FROM btw JOIN wth ON btw.pos = wth.pos
    """)
def emb_label_separation(spark, sf):
    """Per-dimension Fisher criterion of the labeled embedding corpus:
    between-class scatter over within-class scatter — the 'are these
    labels even separable in this space' screen run before training a
    probe or building a classifier index.  Two (label, dim)/(dim)
    hash-aggs + one equi-join back at (label, dim) grain; everything
    after the first agg is labels x dims rows regardless of corpus
    size.  Within-scatter folds out of the SAME first agg
    (sum(x^2) - n*mean^2 per label-dim cell) — one corpus pass total,
    no row-grain join back."""
    ex = (T(spark, sf, "embeddings")
          .select("vec_id", "label",
                  F.posexplode(F.col("embedding").cast("array<double>"))
                  .alias("pos", "x")))
    lm = ex.groupBy("label", "pos").agg(
        F.avg("x").alias("m"), F.count("*").alias("n"),
        F.sum(F.col("x") * F.col("x")).alias("sq"))
    gm = ex.groupBy("pos").agg(F.avg("x").alias("g"))
    btw = (lm.join(gm, "pos")
           .groupBy("pos")
           .agg(F.sum(F.col("n") * (F.col("m") - F.col("g"))
                      * (F.col("m") - F.col("g"))).alias("sb")))
    wth = (lm.groupBy("pos")
           .agg(F.sum(F.col("sq") - F.col("n") * F.col("m")
                      * F.col("m")).alias("sw")))
    return (btw.join(wth, "pos")
            .select(F.col("pos").cast("bigint").alias("i"),
                    F.round("sb", 4).alias("between_scatter"),
                    F.round("sw", 4).alias("within_scatter"),
                    F.round(F.col("sb") / F.col("sw"), 6)
                    .alias("fisher_ratio")))


RANGE_TAU = 0.3


@query(
    "ann_range_search",
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine
    FROM sims WHERE cosine >= {RANGE_TAU}
    """)
def ann_range_search(spark, sf):
    """Cosine RANGE search (radius query, FAISS range_search shape):
    all corpus vectors with cosine >= 0.3 of each query vector —
    threshold retrieval for duplicate sweeps where k is unknown.
    Shares the cosine_topk pair relation (broadcast queries, hoisted
    norms, one 6dp round defining the comparison) and ends in a
    map-side filter: NO ranking window anywhere
    (fmx.operators.similarity.range_search)."""
    emb = T(spark, sf, "embeddings")
    out = S.range_search(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                         "vec_id", "embedding", min_cosine=RANGE_TAU)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "cosine")


@query(
    "emb_pca_project",
    oracle="""
    WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    g AS (SELECT a.pos AS i, b.pos AS j, sum(a.x * b.x) AS gram
          FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.pos >= a.pos
          GROUP BY a.pos, b.pos),
    gf AS (SELECT i, j, gram FROM g
           UNION ALL SELECT j AS i, i AS j, gram FROM g WHERE i <> j),
    v0 AS (SELECT DISTINCT i, 1.0 AS v FROM gf),
    n0 AS (SELECT sqrt(sum(v * v)) AS n FROM v0),
    v0n AS (SELECT i, v / n AS v FROM v0, n0),
    w1 AS (SELECT gf.i AS i, sum(gf.gram * v0n.v) AS w
           FROM gf JOIN v0n ON gf.j = v0n.i GROUP BY gf.i),
    n1 AS (SELECT sqrt(sum(w * w)) AS n FROM w1),
    v1 AS (SELECT i, w / n AS v FROM w1, n1),
    w2 AS (SELECT gf.i AS i, sum(gf.gram * v1.v) AS w
           FROM gf JOIN v1 ON gf.j = v1.i GROUP BY gf.i),
    n2 AS (SELECT sqrt(sum(w * w)) AS n FROM w2),
    -- v is ROUNDED to 6dp before projecting (both engines): the raw
    -- components differ across engines at ~1e-9 (gram summation
    -- order), which a 64-term dot amplifies past the output round's
    -- boundary; rounding first makes the projection input identical
    vf AS (SELECT w2.i AS i, round(w2.w / n2.n, 6) AS v FROM w2, n2)
    SELECT CAST(ex.vec_id AS BIGINT) AS vec_id,
           round(sum(ex.x * vf.v), 6) AS pc1
    FROM ex JOIN vf ON ex.pos = vf.i
    GROUP BY ex.vec_id
    """)
def emb_pca_project(spark, sf):
    """First-principal-component scores for the whole corpus — the
    projection step that completes distributed PCA (emb_gram_matrix →
    emb_top_eigvec → THIS): one corpus pass builds the d x d Gramian,
    two relational power rounds produce the eigenvector, then the
    d-row vector folds to a ONE-ROW broadcast array and the projection
    is a map-only zip_with dot per row
    (fmx.operators.similarity.pca_project — no explode, no join at
    corpus grain).  Sign is deterministic (all-ones start).  The
    oracle replays the identical arithmetic row-grain."""
    emb = T(spark, sf, "embeddings")
    eig = S.power_iteration_top_eig(S.gram_matrix(emb, "embedding"),
                                    rounds=2)
    # 6dp-round v BEFORE projecting (mirrored in the oracle): makes
    # the dot-product input engine-identical — see the oracle comment
    eig = eig.select("i", F.round("v", 6).alias("v"))
    out = S.pca_project(emb, "vec_id", "embedding", eig)
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.round("pc1", 6).alias("pc1"))


@query(
    "emb_outlier_distance",
    oracle=f"""
    WITH {_EX},
    cent AS (SELECT pos, round(avg(x), 6) AS c FROM ex GROUP BY pos),
    d AS (SELECT vec_id,
                 round(sqrt(sum((x - c) * (x - c))), 6) AS dist
          FROM ex JOIN cent ON ex.pos = cent.pos GROUP BY vec_id),
    top AS (SELECT vec_id, dist FROM d
            ORDER BY dist DESC, vec_id LIMIT 20)
    SELECT CAST(vec_id AS BIGINT) AS vec_id, dist,
           CAST(row_number() OVER (ORDER BY dist DESC, vec_id)
                AS BIGINT) AS rank
    FROM top
    """)
def emb_outlier_distance(spark, sf):
    """Embedding-space outlier sweep: the 20 vectors farthest (L2)
    from the corpus centroid (fmx.operators.similarity.
    centroid_distance_topk) — the per-row QA view that surfaces
    corrupt encodes and distribution tails (emb_dim_variance is the
    per-dimension twin).  Centroid = one (pos) avg folded to a 1-row
    broadcast array (6dp-rounded in both engines before the distance
    — the pca_project lesson); distances are map-only; top-20 rides
    TakeOrderedAndProject."""
    emb = T(spark, sf, "embeddings")
    out = S.centroid_distance_topk(emb, "vec_id", "embedding", k=20)
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      "dist", "rank")


# The deterministic mini-Lloyd CTEs (seed = 4 smallest ids, one
# assign-recompute round, means and distances rounded to 6dp before
# every downstream comparison) — the SINGLE source shared by the
# assignment oracle (emb_kmeans_assign) and the purity eval
# (emb_cluster_purity), so the replayed arithmetic cannot drift
# between them.
_KMEANS_CTES = """
ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
              CAST(unnest(embedding) AS DOUBLE) AS x
       FROM embeddings),
seeds AS (SELECT vec_id AS sid,
                 row_number() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
c0 AS (SELECT s.cell, e.pos, e.x AS c
       FROM ex e JOIN seeds s ON e.vec_id = s.sid),
d1 AS (SELECT e.vec_id, c.cell,
              round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
       FROM ex e JOIN c0 c ON e.pos = c.pos
       GROUP BY e.vec_id, c.cell),
a1 AS (SELECT vec_id, cell FROM d1
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) = 1),
c1 AS (SELECT a.cell, e.pos, round(avg(e.x), 6) AS c
       FROM ex e JOIN a1 a ON e.vec_id = a.vec_id
       GROUP BY a.cell, e.pos),
d2 AS (SELECT e.vec_id, c.cell,
              round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
       FROM ex e JOIN c1 c ON e.pos = c.pos
       GROUP BY e.vec_id, c.cell),
a2 AS (SELECT vec_id, cell, dist FROM d2
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) = 1)
"""


@query(
    "emb_kmeans_assign",
    headline=True,
    oracle=f"""
    WITH {_KMEANS_CTES}
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cell AS BIGINT) AS cell,
           round(dist, 4) AS dist
    FROM a2
    """)
def emb_kmeans_assign(spark, sf):
    """Deterministic mini-Lloyd clustering of the embedding corpus
    (fmx.operators.similarity.kmeans_assign, k=4, one
    assign-recompute round): seed centroids = the 4 smallest-id
    vectors, assign by squared L2, recompute means, reassign —
    the replayable semantic-bucketing primitive (corpus partitioning,
    diversity sampling) where MLlib KMeans' random init can't be
    oracle-checked.  Recomputed means round to 6dp before the next
    distance pass and the argmin ranks on round(dist,6) with cell id
    tie-break (emb_pca_project's summation-order lesson); the k x dim
    centroid relation broadcasts, the only windows are k-row
    per-vector argmins, and the oracle unrolls both rounds."""
    from fmx.operators.similarity import kmeans_assign

    emb = T(spark, sf, "embeddings")
    out = kmeans_assign(emb, "vec_id", "embedding", k=4, iters=1)
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("cell").cast("bigint").alias("cell"),
                      F.round("dist", 4).alias("dist"))


HALF_DIM = 32


@query(
    "emb_truncation_fidelity",
    oracle=f"""
    WITH {_EX},
    hnorms AS (SELECT vec_id,
                      sqrt(sum(CASE WHEN pos < {HALF_DIM} THEN x * x
                               ELSE 0.0 END)) AS hn
               FROM ex GROUP BY vec_id),
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot_f,
                    sum(CASE WHEN q.pos < {HALF_DIM} THEN q.x * c.x
                        ELSE 0.0 END) AS dot_h
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, d.vec_id,
                    round(dot_f / nullif(nq.nrm * nc.nrm, 0.0), 6)
                        AS cos_f,
                    round(dot_h / nullif(hq.hn * hc.hn, 0.0), 6) AS cos_h
             FROM dots d JOIN norms nq ON d.query_id = nq.vec_id
                         JOIN norms nc ON d.vec_id = nc.vec_id
                         JOIN hnorms hq ON d.query_id = hq.vec_id
                         JOIN hnorms hc ON d.vec_id = hc.vec_id),
    rk AS (SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_f DESC, vec_id) AS rf,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_h DESC NULLS LAST,
                                              vec_id) AS rh,
                  abs(cos_f - cos_h) AS ad
           FROM sims),
    per AS (SELECT query_id,
                   max(CASE WHEN rf = 1 THEN vec_id END) AS t1f,
                   max(CASE WHEN rh = 1 THEN vec_id END) AS t1h,
                   avg(ad) AS mad
            FROM rk GROUP BY query_id)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CASE WHEN t1f = t1h THEN 1.0 ELSE 0.0 END), 6)
               AS top1_agreement,
           round(avg(mad), 6) AS mean_abs_delta
    FROM per
    """)
def emb_truncation_fidelity(spark, sf):
    """Matryoshka truncation fidelity
    (fmx.operators.similarity.truncation_fidelity): does the FIRST
    HALF of the embedding rank like the full vector?  Top-1 agreement
    + mean |cos_full - cos_half| over every (query, corpus) pair —
    the store-half-the-vector decision input.  One posexplode feeds
    both similarities (full + pos<32-conditional sums in the same
    pair-grain agg); cosines round to 6dp before the argmax and the
    delta (summation-order discipline); query side broadcasts."""
    emb = T(spark, sf, "embeddings")
    return S.truncation_fidelity(
        emb, emb.filter(F.col("vec_id") < N_QUERIES),
        "vec_id", "embedding", half_dim=HALF_DIM)


@query(
    "ann_eval_ivf_vs_exact",
    oracle=f"""
    WITH {_EX},
    cents AS (SELECT vec_id AS cell, pos, x AS cx FROM ex
              WHERE vec_id < {N_CELLS}),
    cnorm AS (SELECT cell, sqrt(sum(cx * cx)) AS cn FROM cents
              GROUP BY cell),
    csim AS (SELECT e.vec_id, c.cell, sum(e.x * c.cx) AS dot
             FROM ex e JOIN cents c ON e.pos = c.pos
             GROUP BY e.vec_id, c.cell),
    csim2 AS (SELECT csim.vec_id, csim.cell,
                     round(dot / (norms.nrm * cnorm.cn), 9) AS sim
              FROM csim JOIN norms ON csim.vec_id = norms.vec_id
                        JOIN cnorm ON csim.cell = cnorm.cell),
    cassign AS (SELECT vec_id, cell FROM csim2
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell) <= 1),
    qassign AS (SELECT vec_id AS query_id, cell FROM csim2
                WHERE vec_id < {N_QUERIES}
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell)
                        <= {N_PROBE}),
    cand AS (SELECT q.query_id, c.vec_id
             FROM qassign q JOIN cassign c ON q.cell = c.cell
             WHERE c.vec_id <> q.query_id),
    pdots AS (SELECT cand.query_id, cand.vec_id, sum(eq.x * ec.x) AS dot
              FROM cand JOIN ex eq ON eq.vec_id = cand.query_id
                        JOIN ex ec ON ec.vec_id = cand.vec_id
                                  AND ec.pos = eq.pos
              GROUP BY cand.query_id, cand.vec_id),
    pred AS (SELECT query_id, pdots.vec_id,
                    row_number() OVER (PARTITION BY query_id
                        ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC,
                                 pdots.vec_id) AS rank
             FROM pdots JOIN norms nq ON query_id = nq.vec_id
                        JOIN norms nc ON pdots.vec_id = nc.vec_id
             QUALIFY rank <= {K}),
    xdots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     sum(q.x * c.x) AS dot
              FROM ex q JOIN ex c ON q.pos = c.pos
              WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
              GROUP BY q.vec_id, c.vec_id),
    truth AS (SELECT query_id, xdots.vec_id FROM xdots
              JOIN norms nq ON query_id = nq.vec_id
              JOIN norms nc ON xdots.vec_id = nc.vec_id
              QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC,
                                   xdots.vec_id) <= {K}),
    tn AS (SELECT query_id, count(*) AS t_n FROM truth GROUP BY query_id),
    hits AS (SELECT p.query_id, count(*) AS h, min(p.rank) AS fr
             FROM pred p JOIN truth t
               ON p.query_id = t.query_id AND p.vec_id = t.vec_id
             GROUP BY p.query_id),
    per AS (SELECT coalesce(h, 0) * 1.0 / t_n AS recall,
                   coalesce(1.0 / fr, 0.0) AS rr
            FROM tn LEFT JOIN hits USING (query_id))
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall), 6) AS recall_at_k,
           round(avg(rr), 6) AS mrr
    FROM per
    """)
def ann_eval_ivf_vs_exact(spark, sf):
    """Retrieval-quality report of the fixed-centroid IVF path
    against exact cosine (recall@5 + MRR via
    fmx.operators.similarity.rank_eval) — completes the ANN eval
    family (PQ already has ann_eval_pq_vs_exact) so the
    recall-vs-probe trade-off is a hash-checked number, not a hope.
    The eval itself is one (query, id) equi-join of two
    k-row-per-query relations; nothing rescans the corpus beyond the
    two searches."""
    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = S.cosine_topk(emb, q, "vec_id", "embedding", k=K)
    pred = S.ivf_topk(emb, q, "vec_id", "embedding", k=K,
                      num_cells=N_CELLS, nprobe=N_PROBE, lloyd_iters=0)
    return S.rank_eval(pred, truth, k=K)


@query(
    "retrieval_triplets",
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS anchor, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT anchor, d.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine,
                    la.label AS al, lc.label AS cl
             FROM dots d JOIN norms nq ON d.anchor = nq.vec_id
                         JOIN norms nc ON d.vec_id = nc.vec_id
                         JOIN embeddings la ON d.anchor = la.vec_id
                         JOIN embeddings lc ON d.vec_id = lc.vec_id),
    pos AS (SELECT anchor, vec_id AS pos_id,
                   round(cosine, 4) AS pos_cos
            FROM sims WHERE al = cl
            QUALIFY row_number() OVER (PARTITION BY anchor
                                       ORDER BY cosine DESC, vec_id) = 1),
    neg AS (SELECT anchor, vec_id AS neg_id,
                   round(cosine, 4) AS neg_cos
            FROM sims WHERE al IS DISTINCT FROM cl
            QUALIFY row_number() OVER (PARTITION BY anchor
                                       ORDER BY cosine DESC, vec_id) = 1)
    SELECT CAST(p.anchor AS BIGINT) AS anchor,
           CAST(pos_id AS BIGINT) AS pos_id, pos_cos,
           CAST(neg_id AS BIGINT) AS neg_id, neg_cos,
           pos_cos - neg_cos AS margin
    FROM pos p JOIN neg n ON p.anchor = n.anchor
    """)
def retrieval_triplets(spark, sf):
    """Contrastive training triplets (anchor, positive, negative) from
    the embedding corpus: per anchor, the highest-cosine SAME-label
    item and the highest-cosine DIFFERENT-label item (the hard
    negative), with the margin the triplet/InfoNCE loss would see —
    the dataset-assembly step of every embedding fine-tune, as one
    relational plan.  Label semantics match retrieval_hard_negatives:
    NULL-label candidates are valid negatives (IS DISTINCT FROM),
    positives require an exact non-null label match.  Cosines rank
    at the shared 6dp convention but EMIT at 4dp (double-rounded):
    the same-label argmax surfaces mid-pack pairs the top-k queries
    never emit, and one such raw cosine at sf0.001 sits exactly ON a
    6dp half boundary (0.2190325) where 1e-9 dot-fold noise flips
    round() across engines — 4dp absorbs it; the margin is a
    difference of the 4dp doubles.  Query side broadcasts; one corpus
    scan feeds both sides."""
    from pyspark.sql import Window

    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    pairs = S._cosine_pairs(emb, q, "vec_id", "embedding", "query_id",
                            q_extra=("label",), c_extra=("label",))
    sims = pairs.select(
        F.col("query_id").alias("anchor"), F.col("vec_id"),
        F.col("cosine"),
        F.col("_q_label").alias("al"), F.col("_c_label").alias("cl"))
    w = Window.partitionBy("anchor").orderBy(F.desc("cosine"), "vec_id")
    pos = (sims.filter(F.col("al") == F.col("cl"))
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("anchor", F.col("vec_id").alias("pos_id"),
                   F.round("cosine", 4).alias("pos_cos")))
    neg = (sims.filter(~F.col("al").eqNullSafe(F.col("cl")))
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("anchor", F.col("vec_id").alias("neg_id"),
                   F.round("cosine", 4).alias("neg_cos")))
    return (pos.join(neg, "anchor")
            .select(F.col("anchor").cast("bigint").alias("anchor"),
                    F.col("pos_id").cast("bigint").alias("pos_id"),
                    "pos_cos",
                    F.col("neg_id").cast("bigint").alias("neg_id"),
                    "neg_cos",
                    (F.col("pos_cos") - F.col("neg_cos")).alias("margin")))


@query(
    "ann_hamming_topk",
    oracle=f"""
    WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1
                           AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    words AS (SELECT vec_id,
                     sum(CASE WHEN pos < 32 AND x >= 0
                              THEN (1::BIGINT << pos) ELSE 0 END) AS lo,
                     sum(CASE WHEN pos >= 32 AND x >= 0
                              THEN (1::BIGINT << (pos - 32))
                              ELSE 0 END) AS hi
              FROM ex GROUP BY vec_id),
    qw AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM words
           WHERE vec_id < {N_QUERIES}),
    ham AS (SELECT query_id, w.vec_id,
                   bit_count(xor(w.lo, qlo))
                       + bit_count(xor(w.hi, qhi)) AS hamming
            FROM words w CROSS JOIN qw
            WHERE w.vec_id <> query_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(hamming AS BIGINT) AS hamming,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY hamming, vec_id) AS BIGINT)
               AS rank
    FROM ham QUALIFY rank <= {K}
    """)
def ann_hamming_topk(spark, sf):
    """Binary sign-sketch ANN (fmx.operators.similarity.
    sign_sketch_topk): embeddings quantize to 64 sign bits packed
    into two BIGINT words, candidates rank by Hamming distance
    (bit_count of xor) — the 64x-compressed retrieval path next to
    PQ/IVF/LSH, entirely INTEGER arithmetic so both engines agree
    bit-for-bit with no rounding anywhere.  The sketch relation is 16
    bytes/vector (the point: it fits serving memory at 10^9 scale);
    one packing agg per side, broadcast query cross, bounded ranking
    window."""
    emb = T(spark, sf, "embeddings")
    out = S.sign_sketch_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                           "vec_id", "embedding", k=K, dim=DIM)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "hamming", "rank")


@query(
    "ann_eval_hamming_vs_exact",
    oracle=f"""
    WITH {_EX},
    words AS (SELECT vec_id,
                     sum(CASE WHEN pos < 32 AND x >= 0
                              THEN (1::BIGINT << pos) ELSE 0 END) AS lo,
                     sum(CASE WHEN pos >= 32 AND x >= 0
                              THEN (1::BIGINT << (pos - 32))
                              ELSE 0 END) AS hi
              FROM ex GROUP BY vec_id),
    qw AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM words
           WHERE vec_id < {N_QUERIES}),
    pred AS (SELECT query_id, w.vec_id,
                    row_number() OVER (PARTITION BY query_id
                        ORDER BY bit_count(xor(w.lo, qlo))
                                 + bit_count(xor(w.hi, qhi)), w.vec_id)
                        AS rank
             FROM words w CROSS JOIN qw
             WHERE w.vec_id <> query_id
             QUALIFY rank <= {K}),
    xdots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     sum(q.x * c.x) AS dot
              FROM ex q JOIN ex c ON q.pos = c.pos
              WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
              GROUP BY q.vec_id, c.vec_id),
    truth AS (SELECT query_id, xdots.vec_id FROM xdots
              JOIN norms nq ON query_id = nq.vec_id
              JOIN norms nc ON xdots.vec_id = nc.vec_id
              QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC,
                                   xdots.vec_id) <= {K}),
    tn AS (SELECT query_id, count(*) AS t_n FROM truth GROUP BY query_id),
    hits AS (SELECT p.query_id, count(*) AS h, min(p.rank) AS fr
             FROM pred p JOIN truth t
               ON p.query_id = t.query_id AND p.vec_id = t.vec_id
             GROUP BY p.query_id),
    per AS (SELECT coalesce(h, 0) * 1.0 / t_n AS recall,
                   coalesce(1.0 / fr, 0.0) AS rr
            FROM tn LEFT JOIN hits USING (query_id))
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall), 6) AS recall_at_k,
           round(avg(rr), 6) AS mrr
    FROM per
    """)
def ann_eval_hamming_vs_exact(spark, sf):
    """Retrieval-quality report of the 1-bit sign-sketch path
    (ann_hamming_topk) against exact cosine: recall@5 + MRR — the
    number that tells you what the 64x compression actually costs,
    closing the eval family (IVF and PQ already have vs-exact rows).
    Integer Hamming ranking on one side, the rounded-cosine exact
    ranking on the other, then rank_eval's (query, id) equi-join of
    two k-row relations — nothing rescans the corpus beyond the two
    searches."""
    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    pred = S.sign_sketch_topk(emb, q, "vec_id", "embedding", k=K, dim=DIM)
    truth = S.cosine_topk(emb, q, "vec_id", "embedding", k=K)
    return S.rank_eval(pred, truth, k=K)


@query(
    "emb_dim_whiten",
    oracle="""
    WITH ex AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    stats AS (SELECT pos, count(*) AS n,
                     round(avg(x), 6) AS m,
                     round(stddev_samp(x), 6) AS s
              FROM ex GROUP BY pos),
    z AS (SELECT ex.pos, n, m, s,
                 CASE WHEN s > 0 AND abs((x - m) / s) > 3.0
                      THEN 1 ELSE 0 END AS clipped
          FROM ex JOIN stats ON ex.pos = stats.pos)
    SELECT CAST(pos AS BIGINT) AS i, CAST(max(n) AS BIGINT) AS n,
           m AS mean, s AS std,
           CAST(sum(clipped) AS BIGINT) AS n_clipped,
           round(sum(clipped) * 1.0 / max(n), 6) AS frac_clipped
    FROM z GROUP BY pos, m, s
    """)
def emb_dim_whiten(spark, sf):
    """Per-dimension whitening audit: mean/std per embedding
    dimension plus how many values a standard z > 3 clip would
    remove — the preprocessing decision (center? scale? clip?) made
    before cosine/PQ indexing, where an unwhitened dominating
    dimension silently owns every distance.  The mean/std are ROUNDED
    to 6 decimals in BOTH engines BEFORE the z comparison
    (derived-from-aggregate discipline: summation-order noise in
    avg/stddev must not flip a threshold), after which x, m, s are
    identical doubles in both engines and the comparison is exact.
    Shapes: one explode + dim-grain agg (d rows) + broadcast join
    back over the explode for the clip count — no row-grain
    shuffle."""
    ex = (T(spark, sf, "embeddings")
          .select(F.posexplode(F.col("embedding").cast("array<double>"))
                  .alias("pos", "x")))
    stats = ex.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.round(F.avg("x"), 6).alias("m"),
        F.round(F.stddev_samp("x"), 6).alias("s"))
    z = ex.join(F.broadcast(stats), "pos")
    clipped = F.when((F.col("s") > 0)
                     & (F.abs((F.col("x") - F.col("m")) / F.col("s"))
                        > 3.0), 1).otherwise(0)
    return (z.groupBy("pos", "m", "s")
            .agg(F.max("n").alias("n"), F.sum(clipped).alias("nc"))
            .select(F.col("pos").cast("bigint").alias("i"),
                    F.col("n").cast("bigint").alias("n"),
                    F.col("m").alias("mean"), F.col("s").alias("std"),
                    F.col("nc").cast("bigint").alias("n_clipped"),
                    F.round(F.col("nc") * 1.0 / F.col("n"), 6)
                    .alias("frac_clipped")))


@query(
    "emb_cluster_purity",
    oracle=f"""
    WITH {_KMEANS_CTES},
    lab AS (SELECT a.cell, e.label
            FROM a2 a JOIN embeddings e USING (vec_id)),
    cl AS (SELECT cell, label, count(*) AS n FROM lab GROUP BY 1, 2),
    tot AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_members
            FROM cl GROUP BY 1),
    maj AS (SELECT cell, label AS majority_label, n AS n_majority
            FROM cl QUALIFY row_number() OVER (PARTITION BY cell
                            ORDER BY n DESC, label) = 1)
    SELECT CAST(cell AS BIGINT) AS cell,
           n_members,
           CAST(majority_label AS BIGINT) AS majority_label,
           CAST(n_majority AS BIGINT) AS n_majority,
           round(n_majority * 1.0 / n_members, 6) AS purity
    FROM maj JOIN tot USING (cell)
    """)
def emb_cluster_purity(spark, sf):
    """Label purity of the deterministic k-means cells: per cell, the
    share of members carrying the majority label — the external-
    validation readout for semantic bucketing (do the geometric cells
    line up with ground truth?) and the collapse alarm (every cell
    majority-same-label = embeddings never separated the classes).
    Reuses kmeans_assign (fmx.operators.similarity) verbatim, so the
    oracle replays the identical rounded-means rounds; after
    assignment everything is (cell, label)-grain — bounded by
    k x #labels — with a per-cell majority window (label id breaks
    count ties) and one integer division at emit."""
    from fmx.operators.similarity import kmeans_assign
    from pyspark.sql import Window

    emb = T(spark, sf, "embeddings")
    assign = kmeans_assign(emb, "vec_id", "embedding", k=4, iters=1)
    lab = assign.select("vec_id", "cell").join(
        emb.select("vec_id", "label"), "vec_id")
    cl = lab.groupBy("cell", "label").agg(F.count("*").alias("n"))
    tot = cl.groupBy("cell").agg(F.sum("n").cast("bigint")
                                 .alias("n_members"))
    w = Window.partitionBy("cell").orderBy(F.col("n").desc(), "label")
    maj = (cl.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("cell", F.col("label").alias("majority_label"),
                   F.col("n").alias("n_majority")))
    return (maj.join(tot, "cell")
            .select(F.col("cell").cast("bigint").alias("cell"),
                    "n_members",
                    F.col("majority_label").cast("bigint")
                    .alias("majority_label"),
                    F.col("n_majority").cast("bigint").alias("n_majority"),
                    F.round(F.col("n_majority") * 1.0
                            / F.col("n_members"), 6).alias("purity")))


N_HIST_SAMPLE = 48     # vec_id < 48: the fixed diagnostic sample
N_HIST_BINS = 16       # over cosine range [-1, 1]; width 0.125 (exact)
_HIST_SCALE = N_HIST_BINS // 2   # bins per unit of cosine (span = 2)


@query(
    "emb_pairwise_cosine_histogram",
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS id_a, c.vec_id AS id_b,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_HIST_SAMPLE}
               AND c.vec_id < {N_HIST_SAMPLE}
               AND q.vec_id < c.vec_id
             GROUP BY 1, 2),
    cosv AS (SELECT round(dot / nullif(na.nrm * nb.nrm, 0.0), 6) AS cos
             FROM dots d JOIN norms na ON d.id_a = na.vec_id
                         JOIN norms nb ON d.id_b = nb.vec_id),
    bins AS (SELECT least({N_HIST_BINS - 1},
                          CAST(floor((cos + 1.0) * {_HIST_SCALE}.0)
                               AS BIGINT)) AS bin
             FROM cosv WHERE cos IS NOT NULL)
    SELECT bin,
           round(bin / {_HIST_SCALE}.0 - 1.0, 6) AS bin_lo,
           round((bin + 1) / {_HIST_SCALE}.0 - 1.0, 6) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM bins GROUP BY 1
    """)
def emb_pairwise_cosine_histogram(spark, sf):
    """Histogram of pairwise cosine similarity over a FIXED diagnostic
    sample (the 48 smallest-id vectors, 1128 pairs) — the embedding-
    collapse / anisotropy alarm: healthy corpora spread across bins,
    collapsed encoders pile every pair near cos = 1.  The sample is
    bounded by CONSTRUCTION (id cutoff, not a rate), so pair volume is
    fixed at any corpus size — the scale path is choosing a bigger
    constant, never an all-pairs join.  Cosines round to 6dp before
    binning (summation-order discipline); bin edges are k/8 offsets —
    exact binary fractions, so floor() sees identical doubles in both
    engines.  Zero-norm guard drops NULL cosines explicitly in both
    plans."""
    emb = T(spark, sf, "embeddings").filter(
        F.col("vec_id") < N_HIST_SAMPLE)
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "x")) \
            .withColumn("x", F.col("x").cast("double"))
    norms = ex.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
    q = ex.select(F.col("vec_id").alias("id_a"), "pos",
                  F.col("x").alias("xa"))
    c = ex.select(F.col("vec_id").alias("id_b"), "pos",
                  F.col("x").alias("xb"))
    dots = (q.join(c, "pos")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot")))
    cosv = (dots
            .join(norms.select(F.col("vec_id").alias("id_a"),
                               F.col("nrm").alias("na")), "id_a")
            .join(norms.select(F.col("vec_id").alias("id_b"),
                               F.col("nrm").alias("nb")), "id_b")
            .select(F.round(F.col("dot")
                            / F.nullif(F.col("na") * F.col("nb"),
                                       F.lit(0.0)), 6).alias("cos"))
            .filter(F.col("cos").isNotNull()))
    bins = cosv.select(
        F.least(F.lit(N_HIST_BINS - 1),
                F.floor((F.col("cos") + 1.0) * float(_HIST_SCALE))
                .cast("bigint"))
        .alias("bin"))
    return (bins.groupBy("bin")
            .agg(F.count("*").cast("bigint").alias("n_pairs"))
            .select("bin",
                    F.round(F.col("bin") / float(_HIST_SCALE) - 1.0, 6)
                    .alias("bin_lo"),
                    F.round((F.col("bin") + 1) / float(_HIST_SCALE)
                            - 1.0, 6).alias("bin_hi"),
                    "n_pairs"))


@query(
    "emb_assignment_margin",
    oracle=f"""
    WITH {_KMEANS_CTES},
    rk AS (SELECT vec_id, cell, dist,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cell) AS rn
           FROM d2),
    two AS (SELECT vec_id,
                   max(CASE WHEN rn = 1 THEN cell END) AS cell,
                   max(CASE WHEN rn = 1 THEN dist END) AS d1,
                   max(CASE WHEN rn = 2 THEN dist END) AS d2
            FROM rk WHERE rn <= 2 GROUP BY vec_id)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cell AS BIGINT) AS cell,
           round(d1, 4) AS dist_best,
           round(d2 - d1, 4) AS margin
    FROM two
    """)
def emb_assignment_margin(spark, sf):
    """Assignment-confidence margin for the deterministic k-means
    cells: per vector, the gap between the best and second-best
    centroid distance — near-zero margin marks boundary vectors whose
    cell flips under tiny perturbations (route those to exact rerank;
    trust the bucket for the rest).  The confidence companion to
    emb_kmeans_assign, sharing the SAME rounded-means rounds (the
    single-source _KMEANS_CTES), so the two oracles cannot drift.
    The only window is the k-row per-vector rank; distances are
    rounded to 6dp upstream and the margin subtracts two already-
    rounded doubles (identical in both engines) before the 4dp emit."""
    from fmx.operators.similarity import kmeans_assign_margin

    emb = T(spark, sf, "embeddings")
    two = kmeans_assign_margin(emb, "vec_id", "embedding", k=4, iters=1)
    return two.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cell").cast("bigint").alias("cell"),
        F.round("d1", 4).alias("dist_best"),
        F.round(F.col("d2") - F.col("d1"), 4).alias("margin"))


def _ivf_fixed_sql_parts() -> str:
    """The shared coarse-quantizer CTEs (_IVF_COARSE — the SAME text
    the hash-checked ann_ivf_topk_fixed oracle uses, so the two can
    never diverge) plus the exact-cosine truth relation."""
    return _IVF_COARSE + f""",
    truth AS (SELECT query_id, vec_id FROM (
                  SELECT d.query_id, d.vec_id,
                         row_number() OVER (
                             PARTITION BY d.query_id
                             ORDER BY round(d.dot / (nq.nrm * nc.nrm), 6)
                                      DESC, d.vec_id) AS r
                  FROM (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                               sum(q.x * c.x) AS dot
                        FROM ex q JOIN ex c ON q.pos = c.pos
                        WHERE q.vec_id < {N_QUERIES}
                          AND c.vec_id <> q.vec_id
                        GROUP BY 1, 2) d
                  JOIN norms nq ON d.query_id = nq.vec_id
                  JOIN norms nc ON d.vec_id = nc.vec_id)
              WHERE r <= {K})
    """


def _nprobe_block(p: int) -> str:
    """One recall readout at nprobe=p against the exact truth CTE."""
    return f"""
    qa{p} AS (SELECT vec_id AS query_id, cell FROM csim2
              WHERE vec_id < {N_QUERIES}
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cell) <= {p}),
    cd{p} AS (SELECT q.query_id, c.vec_id
              FROM qa{p} q JOIN cassign c ON q.cell = c.cell
              WHERE c.vec_id <> q.query_id),
    dt{p} AS (SELECT cd.query_id, cd.vec_id, sum(eq.x * ec.x) AS dot
              FROM cd{p} cd JOIN ex eq ON eq.vec_id = cd.query_id
                            JOIN ex ec ON ec.vec_id = cd.vec_id
                                      AND ec.pos = eq.pos
              GROUP BY cd.query_id, cd.vec_id),
    pr{p} AS (SELECT query_id, dt.vec_id
              FROM (SELECT query_id, dt{p}.vec_id,
                           round(dot / (nq.nrm * nc.nrm), 6) AS cosine
                    FROM dt{p} JOIN norms nq ON query_id = nq.vec_id
                               JOIN norms nc
                                 ON dt{p}.vec_id = nc.vec_id) dt
              QUALIFY row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id)
                      <= {K}),
    rc{p} AS (SELECT CAST({p} AS BIGINT) AS nprobe,
                     round(sum(CASE WHEN t.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END) * 1.0
                           / ({K}.0 * {N_QUERIES}), 6) AS recall_at_k
              FROM pr{p} LEFT JOIN (SELECT DISTINCT query_id, vec_id
                                    FROM truth) t
                ON pr{p}.query_id = t.query_id
               AND pr{p}.vec_id = t.vec_id)
    """


_NPROBES = (1, 2, 4)


@query(
    "ann_nprobe_recall_curve",
    oracle=("WITH " + _EX + ", " + _ivf_fixed_sql_parts() + ","
            + ",".join(_nprobe_block(p) for p in _NPROBES)
            + " SELECT nprobe, recall_at_k FROM ("
            + " UNION ALL ".join(f"SELECT * FROM rc{p}" for p in _NPROBES)
            + ") ORDER BY nprobe"))
def ann_nprobe_recall_curve(spark, sf):
    """Recall@k as a function of nprobe (1, 2, 4) for the
    fixed-centroid IVF path against exact cosine truth — the
    capacity-planning curve that picks the probe budget BEFORE the
    index is deployed at corpus scale (recall buys shuffle volume
    linearly in nprobe; this readout says what each probe is worth).
    One shared exact-truth relation; each probe level reuses the same
    coarse-quantizer CTE shapes the hash-checked ann_ivf_topk_fixed
    row already proves."""
    emb = T(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = S.cosine_topk(emb, qs, "vec_id", "embedding", k=K) \
        .select("query_id", "vec_id")
    out = None
    for p in _NPROBES:
        pred = S.ivf_topk(emb, qs, "vec_id", "embedding", k=K,
                          num_cells=N_CELLS, nprobe=p, lloyd_iters=0) \
            .select("query_id", "vec_id")
        hits = (pred.join(truth, ["query_id", "vec_id"], "left_semi")
                .agg(F.count("*").alias("_h")))
        row = hits.select(
            F.lit(p).cast("bigint").alias("nprobe"),
            F.round(F.col("_h") * 1.0 / (float(K) * N_QUERIES), 6)
            .alias("recall_at_k"))
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "emb_knn_classifier_eval",
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
             GROUP BY 1, 2),
    sims AS (SELECT query_id, dots.vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id),
    nb AS (SELECT query_id, vec_id FROM sims
           QUALIFY row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id)
                   <= {K}),
    votes AS (SELECT nb.query_id, e.label AS nbl,
                     count(*) AS c
              FROM nb JOIN embeddings e ON nb.vec_id = e.vec_id
              GROUP BY 1, 2),
    pred AS (SELECT query_id, nbl AS pred_label FROM votes
             QUALIFY row_number() OVER (PARTITION BY query_id
                                        ORDER BY c DESC, nbl) = 1),
    j AS (SELECT e.label AS true_label, p.pred_label
          FROM pred p JOIN embeddings e ON p.query_id = e.vec_id)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN true_label = pred_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(sum(CASE WHEN true_label = pred_label
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS accuracy
    FROM j GROUP BY 1
    """)
def emb_knn_classifier_eval(spark, sf):
    """k-NN label-consistency eval over the embedding space: every
    10th vector is held out as a query, classified by majority vote
    of its {K} nearest (cosine) corpus neighbours, scored per true
    label — the label-separation readout that tells you whether the
    embedding geometry supports classification BEFORE any model
    trains (the distributed twin of the classic embedding probe).
    Votes break ties to the smallest label; the pair relation is the
    audited broadcast-query exact-cosine path and everything after is
    (query, label)-grain."""
    emb = T(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    top = S.cosine_topk(corpus, qs, "vec_id", "embedding", k=K)
    nb = top.join(emb.select("vec_id", F.col("label").alias("nbl")),
                  "vec_id")
    votes = nb.groupBy("query_id", "nbl").agg(F.count("*").alias("c"))
    wv = Window.partitionBy("query_id").orderBy(F.col("c").desc(), "nbl")
    pred = (votes.withColumn("_rn", F.row_number().over(wv))
            .filter(F.col("_rn") == 1)
            .select("query_id", F.col("nbl").alias("pred_label")))
    j = pred.join(emb.select(F.col("vec_id").alias("query_id"),
                             F.col("label").alias("true_label")),
                  "query_id")
    return (j.groupBy(F.col("true_label").cast("bigint")
                      .alias("true_label"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.when(F.col("true_label") == F.col("pred_label"),
                              1).otherwise(0)).cast("bigint")
                 .alias("n_correct"))
            .withColumn("accuracy",
                        F.round(F.col("n_correct") * 1.0 / F.col("n"),
                                6)))


@query(
    "emb_label_representatives",
    oracle=f"""
    WITH {_EX},
    lbl AS (SELECT vec_id, label FROM embeddings),
    cents AS (SELECT label, pos, round(avg(x), 6) AS c
              FROM ex JOIN lbl USING (vec_id) GROUP BY 1, 2),
    dist AS (SELECT ex.vec_id, lbl.label,
                    round(sqrt(sum((ex.x - cents.c) * (ex.x - cents.c))),
                          6) AS dist
             FROM ex JOIN lbl USING (vec_id)
                     JOIN cents ON cents.label = lbl.label
                                AND cents.pos = ex.pos
             GROUP BY 1, 2)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(vec_id AS BIGINT) AS vec_id, dist,
           CAST(row_number() OVER (PARTITION BY label
                                   ORDER BY dist, vec_id) AS BIGINT)
               AS rank
    FROM dist QUALIFY rank <= 3
    """)
def emb_label_representatives(spark, sf):
    """Per-label representative selection: the 3 vectors closest (L2)
    to their label's centroid — the exemplar-picking step behind
    labelled-corpus browsing, prototype-based few-shot prompts, and
    medoid-free cluster summaries (true medoids are quadratic; the
    closest-to-centroid proxy is one agg + one map-side distance
    pass).  Centroids are 6dp-rounded BEFORE the distance fold (the
    kmeans/pca lesson: cross-engine mean noise must not reach the
    distance), ranking ties break on vec_id."""
    emb = T(spark, sf, "embeddings")
    ex = emb.select("vec_id", "label",
                    F.posexplode(F.col("embedding").cast("array<double>"))
                    .alias("pos", "x"))
    cents = (ex.groupBy("label", "pos")
             .agg(F.round(F.avg("x"), 6).alias("c")))
    dist = (ex.join(cents, ["label", "pos"])
            .groupBy("vec_id", "label")
            .agg(F.round(F.sqrt(F.sum((F.col("x") - F.col("c"))
                                      * (F.col("x") - F.col("c")))), 6)
                 .alias("dist")))
    w = Window.partitionBy("label").orderBy("dist", "vec_id")
    return (dist.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= 3)
            .select(F.col("label").cast("bigint").alias("label"),
                    F.col("vec_id").cast("bigint").alias("vec_id"),
                    "dist", "rank"))


@query(
    "emb_collapse_score",
    oracle=f"""
    WITH {_EX},
    unit AS (SELECT e.vec_id, e.pos, e.x / n.nrm AS u
             FROM ex e JOIN norms n ON e.vec_id = n.vec_id
             WHERE n.nrm > 0),
    s AS (SELECT pos, round(sum(u), 6) AS su,
                 count(DISTINCT vec_id) AS n
          FROM unit GROUP BY pos),
    m AS (SELECT CAST(max(n) AS BIGINT) AS n,
                 sum(su * su) AS rr FROM s)
    SELECT n AS n_vectors,
           round(sqrt(rr) / n, 6) AS mean_resultant_length,
           round(1.0 - sqrt(rr) / n, 6) AS spherical_variance
    FROM m
    """)
def emb_collapse_score(spark, sf):
    """Embedding-collapse diagnostic via directional statistics: the
    mean resultant length R = |sum of unit vectors| / n — R near 1
    means the embeddings have collapsed to a cone (the classic
    anisotropy failure that silently kills cosine retrieval and
    contrastive training), R near 0 means directions spread over the
    sphere; spherical variance 1-R is the one-number health gauge to
    alert on per model push.  ONE pass: normalize map-side, a d-row
    (pos) sum agg, a d-term fold — no pairs, no windows, O(corpus)
    forever.  Per-dimension sums are 6dp-rounded before the square
    fold (the pca/kmeans cross-engine rule)."""
    emb = T(spark, sf, "embeddings")
    ex = emb.select("vec_id",
                    F.posexplode(F.col("embedding").cast("array<double>"))
                    .alias("pos", "x"))
    norms = (ex.groupBy("vec_id")
             .agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
             .filter(F.col("nrm") > 0))
    unit = (ex.join(norms, "vec_id")
            .select("vec_id", "pos", (F.col("x") / F.col("nrm"))
                    .alias("u")))
    s = (unit.groupBy("pos")
         .agg(F.round(F.sum("u"), 6).alias("su"),
              F.countDistinct("vec_id").alias("n")))
    m = s.agg(F.max("n").cast("bigint").alias("n"),
              F.sum(F.col("su") * F.col("su")).alias("rr"))
    return m.select(
        F.col("n").alias("n_vectors"),
        F.round(F.sqrt("rr") / F.col("n"), 6)
        .alias("mean_resultant_length"),
        F.round(1.0 - F.sqrt("rr") / F.col("n"), 6)
        .alias("spherical_variance"))


@query(
    "ann_mips_topk",
    oracle=f"""
    WITH {_EX},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    round(sum(q.x * c.x), 6) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, dot,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot DESC, vec_id) AS BIGINT)
               AS rank
    FROM dots QUALIFY rank <= {K}
    """)
def ann_mips_topk(spark, sf):
    """Exact maximum-inner-product top-k (fmx.operators.similarity
    .mips_topk) — the unnormalized retrieval mode recommendation and
    late-interaction scores need, where cosine's magnitude-blindness
    ranks wrong.  Brute-force baseline form (broadcast queries x
    streamed corpus); the documented scale path is the standard
    MIPS -> cosine augmentation after which the LSH/IVF/PQ buckets in
    this family serve it."""
    emb = T(spark, sf, "embeddings")
    out = S.mips_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                      "vec_id", "embedding", k=K)
    return out.select(F.col("query_id").cast("bigint").alias("query_id"),
                      F.col("vec_id").cast("bigint").alias("vec_id"),
                      "dot",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "emb_jl_projection",
    oracle=f"""
    WITH {_EX},
    planes AS (SELECT unnest(generate_series(0, 7)) AS p),
    proj AS (SELECT vec_id, p, round(sum(x * {_PLANE}), 6) AS projection
             FROM ex CROSS JOIN planes GROUP BY vec_id, p)
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(p AS BIGINT) AS p,
           projection
    FROM proj
    """)
def emb_jl_projection(spark, sf):
    """Johnson-Lindenstrauss projection of every embedding to 8
    md5-derived random directions (fmx.operators.similarity.jl_project)
    — the dimensionality-REDUCTION twin of ann_lsh_buckets (same
    single-sourced hyperplanes, real values kept instead of sign
    bits): the cheap dense feature for downstream distance sketches
    when 64 dims is 8x too many.  Long format, one hash-agg, no
    shuffle beyond it; DuckDB replays the planes bit-for-bit from the
    same md5."""
    out = S.jl_project(T(spark, sf, "embeddings"), "vec_id", "embedding",
                       out_dims=8)
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("p").cast("bigint").alias("p"), "projection")


@query(
    "emb_silhouette_simplified",
    oracle=f"""
    WITH {_KMEANS_CTES},
    rk AS (SELECT vec_id, cell, dist,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cell) AS rn
           FROM d2),
    m AS (SELECT vec_id,
                 max(CASE WHEN rn = 1 THEN cell END) AS cell,
                 round(sqrt(max(CASE WHEN rn = 1 THEN dist END)), 6) AS a,
                 round(sqrt(max(CASE WHEN rn = 2 THEN dist END)), 6) AS b
          FROM rk WHERE rn <= 2 GROUP BY vec_id),
    s AS (SELECT cell,
                 CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                      ELSE round((b - a) / greatest(a, b), 6) END AS s
          FROM m)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(s), 6) AS mean_silhouette
    FROM s GROUP BY cell
    """)
def emb_silhouette_simplified(spark, sf):
    """Simplified (centroid-based) silhouette per mini-Lloyd cluster:
    s_i = (b - a)/max(a, b) with a = distance to the assigned centroid
    and b = distance to the nearest OTHER centroid — the O(n*k)
    clustering-quality readout that replaces the O(n^2) classical
    silhouette's all-pairs distances (the only form that exists at
    100 TB; same simplification scikit-learn documents for large n).
    Composes fmx.operators.similarity.kmeans_assign_margin — the d1/d2
    relation IS (a^2, b^2) — so the replayed Lloyd rounds are shared
    verbatim with emb_kmeans_assign / emb_assignment_margin; sqrt
    outputs round to 6dp in both engines before the ratio (transcend-
    ental rule), and the zero-distance guard pins s = 0 identically.
    One broadcast-centroid distance pass + a k-row ranking window +
    one k-row agg."""
    from fmx.operators.similarity import kmeans_assign_margin

    emb = T(spark, sf, "embeddings")
    m = kmeans_assign_margin(emb, "vec_id", "embedding", k=4, iters=1)
    a = F.round(F.sqrt(F.col("d1")), 6)
    b = F.round(F.sqrt(F.col("d2")), 6)
    s = (m.select("cell",
                  F.when(F.greatest(a, b) == 0.0, 0.0)
                  .otherwise(F.round((b - a) / F.greatest(a, b), 6))
                  .alias("s")))
    return (s.groupBy(F.col("cell").cast("bigint").alias("cell"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.avg("s"), 6).alias("mean_silhouette")))


@query(
    "ann_eval_map",
    oracle=f"""
    WITH {_EX}, {_PQ_SQL},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id),
    truthr AS (SELECT query_id, vec_id
               FROM sims
               QUALIFY row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id)
                       <= {K}),
    tc AS (SELECT query_id, count(*) AS nt FROM truthr GROUP BY query_id),
    dtab AS (SELECT s.vec_id AS query_id, s.sub, CAST(c.code AS BIGINT)
                        AS code,
                    round(sum((s.x - c.cx) * (s.x - c.cx)), 9) AS pd
             FROM sx s JOIN cb c ON s.sub = c.sub AND s.spos = c.spos
             WHERE s.vec_id < {N_QUERIES}
             GROUP BY s.vec_id, s.sub, c.code),
    adist AS (SELECT d.query_id, k.vec_id, round(sum(d.pd), 6) AS adist
              FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
              WHERE k.vec_id <> d.query_id
              GROUP BY d.query_id, k.vec_id),
    pred AS (SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist, vec_id) AS pr
             FROM adist
             QUALIFY pr <= {K}),
    rels AS (SELECT p.query_id, p.pr,
                    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END
                        AS rel
             FROM pred p LEFT JOIN truthr t
               ON p.query_id = t.query_id AND p.vec_id = t.vec_id),
    prec AS (SELECT query_id, rel,
                    sum(rel) OVER (PARTITION BY query_id ORDER BY pr
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) * 1.0 / pr AS prc
             FROM rels),
    ap AS (SELECT query_id, sum(prc * rel) AS hits
           FROM prec GROUP BY query_id),
    per AS (SELECT coalesce(hits, 0.0) / least({K}, nt) AS ap
            FROM tc LEFT JOIN ap USING (query_id))
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(ap), 6) AS map_at_k
    FROM per
    """)
def ann_eval_map(spark, sf):
    """MAP@5 of the PQ/ADC path against exact cosine — completes the
    ranking-evaluation triad next to ann_eval_pq_vs_exact (recall/MRR)
    and ann_eval_ndcg (graded positions): MAP's binary precision mass
    rewards front-loading every relevant item, so an index that
    returns the right five in reversed order scores lowest here
    (fmx.operators.similarity.average_precision_eval)."""
    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = S.cosine_topk(emb, q, "vec_id", "embedding", k=K)
    pred = S.pq_topk(emb, q, "vec_id", "embedding", k=K, m=PQ_M,
                     num_codes=PQ_CODES, dim=DIM)
    return S.average_precision_eval(pred, truth, k=K)


DIV_M = 10      # shortlist depth fed to the diversifier
DIV_K = 5       # diversified results returned
DIV_TAU = 0.30  # redundancy bar: candidates this cosine-close to a
                # higher-ranked candidate are suppressed (the synthetic
                # embeddings' max pairwise cosine is ~0.48, so the bar
                # genuinely fires without emptying shortlists)


@query(
    "ann_diversified_topk",
    oracle=f"""
    WITH {{EX}},
    dots AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    sum(q.x * c.x) AS dot
             FROM ex q JOIN ex c ON q.pos = c.pos
             WHERE q.vec_id < {{NQ}} AND c.vec_id <> q.vec_id
             GROUP BY q.vec_id, c.vec_id),
    sims AS (SELECT query_id, dots.vec_id AS vec_id,
                    round(dot / (nq.nrm * nc.nrm), 6) AS cosine
             FROM dots JOIN norms nq ON query_id = nq.vec_id
                       JOIN norms nc ON dots.vec_id = nc.vec_id),
    short AS (SELECT query_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS BIGINT)
                         AS rank
              FROM sims QUALIFY rank <= {{M}}),
    cc AS (SELECT a.query_id, a.vec_id AS va,
                  round(sum(xa.x * xb.x) / (na.nrm * nb.nrm), 6) AS cc
           FROM short a
                JOIN short b ON a.query_id = b.query_id
                            AND b.rank < a.rank
                JOIN ex xa ON xa.vec_id = a.vec_id
                JOIN ex xb ON xb.vec_id = b.vec_id AND xb.pos = xa.pos
                JOIN norms na ON na.vec_id = a.vec_id
                JOIN norms nb ON nb.vec_id = b.vec_id
           GROUP BY a.query_id, a.vec_id, b.vec_id, na.nrm, nb.nrm),
    conf AS (SELECT DISTINCT query_id, va FROM cc WHERE cc > {{TAU}}),
    kept AS (SELECT s.query_id, s.vec_id, s.cosine, s.rank
             FROM short s LEFT JOIN conf
                  ON s.query_id = conf.query_id AND s.vec_id = conf.va
             WHERE conf.va IS NULL)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rank) AS BIGINT) AS div_rank
    FROM kept QUALIFY div_rank <= {{K}}
    """.replace("{EX}", _EX.strip())
       .replace("{NQ}", str(N_QUERIES)).replace("{M}", str(DIV_M))
       .replace("{TAU}", f"{DIV_TAU}").replace("{K}", str(DIV_K)))
def ann_diversified_topk(spark, sf):
    """Diversified retrieval: exact cosine top-M shortlist, then the
    LEADER RULE — a candidate survives iff NO higher-ranked shortlist
    member is within cosine DIV_TAU of it — re-ranked to top-K.  The
    non-iterative 2-approximation of MMR-style diversification
    (greedy-MMR's select-then-compare loop is sequential; comparing
    against all higher-RANKED rather than all higher-ranked-AND-KEPT
    candidates gives a deterministic closed form that only
    over-suppresses, never under-diversifies), the retrieval-side
    complement of [[dedup_semantic]]'s corpus-side dedup: serve
    results that are relevant AND mutually distinct.

    Scale shape: shortlist via the broadcast-queries cosine stream
    (no corpus shuffle before the per-query top-M); the pairwise
    stage is shortlist x shortlist WITHIN each query — M^2 bounded
    rows per query, never corpus-grain; suppression is one anti-join.
    Cosines are rounded 6dp before every comparison (identical
    doubles -> identical keep sets in both engines)."""
    from fmx.core import linalg as L

    emb = T(spark, sf, "embeddings")
    short = S.cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES),
                          "vec_id", "embedding", k=DIV_M)
    sv = short.join(emb.select("vec_id",
                               F.col("embedding").cast("array<double>")
                               .alias("_v"),
                               L.vec_norm(F.col("embedding")
                                          .cast("array<double>"))
                               .alias("_n")), "vec_id")
    a = sv.select("query_id", F.col("vec_id").alias("va"),
                  F.col("rank").alias("ra"), F.col("cosine"),
                  F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = sv.select(F.col("query_id").alias("_qb"),
                  F.col("rank").alias("rb"),
                  F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    cc = (a.join(b, (F.col("query_id") == F.col("_qb"))
                 & (F.col("rb") < F.col("ra")))
          .select("query_id", "va",
                  F.round(L.vec_dot("_va", "_vb")
                          / (F.col("_na") * F.col("_nb")), 6)
                  .alias("cc")))
    conf = (cc.filter(F.col("cc") > F.lit(DIV_TAU))
            .select("query_id", "va").distinct())
    kept = a.join(conf, ["query_id", "va"], "left_anti")
    wd = Window.partitionBy("query_id").orderBy("ra")
    return (kept
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("va").cast("bigint").alias("vec_id"),
                    "cosine",
                    F.row_number().over(wd).cast("bigint")
                    .alias("div_rank"))
            .filter(F.col("div_rank") <= DIV_K))
