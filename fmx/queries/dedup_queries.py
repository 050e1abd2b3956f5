"""Dedup queries over the documents/embeddings tables, each with a DuckDB
oracle replaying the identical md5-derived hash arithmetic — MinHash and
SimHash are fully deterministic across engines (no engine-private hash
functions in the dataflow).
"""

from __future__ import annotations

from fmx.operators import dedup as D
from fmx.queries import query
from fmx.sources import load_table as T

NUM_HASHES = 8
BANDS = 4
SHINGLE_N = 3
SIMHASH_BITS = 16

# shared SQL fragments ------------------------------------------------------

_SHINGLES = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+{SHINGLE_N - 1}], ' ') AS shingle
       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {SHINGLE_N - 1})) AS i) g
       WHERE len(t) >= {SHINGLE_N})
"""

_HASH64 = "CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"

def _sig_sql() -> str:
    """MinHash CTE mirroring fmx.operators.dedup.minhash_slot: base md5
    hash once per shingle, then affine permutations (a_j*h + b_j) % P."""
    from fmx.operators.dedup import MINHASH_COEFFS, MINHASH_P

    base = _HASH64.format(expr="shingle")
    slots = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS j, "
        f"min(({MINHASH_COEFFS[j][0]} * (h % {MINHASH_P}) + {MINHASH_COEFFS[j][1]})"
        f" % {MINHASH_P}) AS minhash FROM hashed GROUP BY doc_id"
        for j in range(NUM_HASHES))
    return f"""
hashed AS (SELECT doc_id, {base} AS h FROM sh),
sig AS ({slots})
"""


_SIG = _sig_sql()

MAX_DF = 1000  # mirrors ngram_jaccard_pairs' default quadratic guard

_JACCARD_PAIRS = f"""
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {MAX_DF}),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
jac AS (SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               i * 1.0 / (s1.n_sh + s2.n_sh - i) AS jaccard
        FROM inter JOIN sizes s1 ON id_a = s1.doc_id
                   JOIN sizes s2 ON id_b = s2.doc_id)
"""


@query(
    "dedup_exact",
    headline=True,
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY md5(text)
    """)
def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy keeping min doc_id."""
    return D.exact_dedup(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SHINGLES}, {_SIG}
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(j AS BIGINT) AS j, minhash
    FROM sig
    """)
def dedup_minhash_signatures(spark, sf):
    """MinHash signatures (8 md5-derived hash slots over 3-gram word
    shingles), long format."""
    sig = D.minhash_signatures(T(spark, sf, "documents"), "doc_id", "text",
                               num_hashes=NUM_HASHES, shingle_n=SHINGLE_N)
    from pyspark.sql import functions as F
    return sig.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.col("j").cast("bigint").alias("j"), "minhash")


@query(
    "dedup_minhash_lsh_pairs",
    headline=True,
    oracle=f"""
    WITH {_SHINGLES}, {_SIG},
    banded AS (SELECT doc_id, j // {NUM_HASHES // BANDS} AS band,
                      array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY j), ',')
                          AS band_key
               FROM sig GROUP BY doc_id, j // {NUM_HASHES // BANDS})
    SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a,
                    CAST(b.doc_id AS BIGINT) AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """)
def dedup_minhash_lsh_pairs(spark, sf):
    """MinHash-LSH candidate pairs: 4 bands x 2 rows; the O(n²) problem
    becomes an equi-join on (band, band_key)."""
    return D.minhash_lsh_pairs(T(spark, sf, "documents"), "doc_id", "text",
                               num_hashes=NUM_HASHES, bands=BANDS,
                               shingle_n=SHINGLE_N)


APSS_T = 0.4

@query(
    "dedup_allpairs_exact",
    # NOT a headliner since r11: this is the explicitly-labeled
    # research tool (prefix filter on raw rows).  The 10x experiment
    # measured its candidate join growing 574k -> 64.8M (alpha 1.32)
    # under verbatim duplication; dedup_allpairs_canonical is the
    # row-identical pipeline default and carries the bench flag.
    oracle=f"""
    WITH {_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b,
                   i * 1.0 / (s1.n_sh + s2.n_sh - i) AS jaccard
            FROM inter JOIN sizes s1 ON id_a = s1.doc_id
                       JOIN sizes s2 ON id_b = s2.doc_id)
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM jac WHERE jaccard >= {APSS_T}
    """)
def dedup_allpairs_exact(spark, sf):
    """EXACT all-pairs 3-gram Jaccard >= 0.4 via prefix filtering
    (fmx.operators.dedup.allpairs_prefix_jaccard — Bayardo WWW'07 /
    Vernica SIGMOD'10): documents index only their p = s - floor(t*s)
    + 1 RAREST shingles under a global (df, shingle) order, qualifying
    pairs provably collide in that index, and an exact verify removes
    false candidates.  The oracle is the NAIVE unbounded algorithm —
    hash-equality against it is the exactness proof, which is the
    whole point: dedup_ngram_jaccard's max_df guard bounds its join by
    silently dropping hot-shingle pairs, this one bounds the join with
    zero recall loss (and anti-skews it: prefix shingles are the
    corpus's rarest, so no hot keys enter the candidate join)."""
    from pyspark.sql import functions as F
    out = D.allpairs_prefix_jaccard(T(spark, sf, "documents"),
                                    "doc_id", "text",
                                    n=SHINGLE_N, threshold=APSS_T)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query(
    "dedup_allpairs_canonical",
    headline=True,   # r11: the exact-APSS flagship and pipeline
                     # default — canonicalize-then-match (alpha -0.06
                     # at 10x vs 1.32 for the uncanonicalized form)
    oracle=f"""
    WITH {_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b,
                   i * 1.0 / (s1.n_sh + s2.n_sh - i) AS jaccard
            FROM inter JOIN sizes s1 ON id_a = s1.doc_id
                       JOIN sizes s2 ON id_b = s2.doc_id)
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM jac WHERE jaccard >= {APSS_T}
    """)
def dedup_allpairs_canonical(spark, sf):
    """Canonicalize-then-match exact APSS
    (fmx.operators.dedup.allpairs_prefix_jaccard_canonical): collapse
    exact-duplicate texts to one representative (md5 groupBy), run the
    prefix-filtered all-pairs join on representatives only, and fan
    verdicts back to row grain — within-group duplicate pairs re-enter
    at jaccard = 1.0, cross-group pairs lift through member equi-joins.
    The oracle is IDENTICAL to dedup_allpairs_exact's naive unbounded
    SQL: hash-equality proves the rewrite returns the same rows while
    its candidate join scales with DISTINCT texts (this round's 10x
    experiment measured the uncanonicalized candidate volume growing
    574k -> 64.8M, alpha 1.32, under verbatim duplication — and why
    exact dedup runs before near-dup in every production pipeline)."""
    from pyspark.sql import functions as F
    out = D.allpairs_prefix_jaccard_canonical(
        T(spark, sf, "documents"), "doc_id", "text",
        n=SHINGLE_N, threshold=APSS_T)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES}, {_JACCARD_PAIRS}
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM jac WHERE jaccard >= 0.2
    """)
def dedup_ngram_jaccard(spark, sf):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2)."""
    from pyspark.sql import functions as F
    out = D.ngram_jaccard_pairs(T(spark, sf, "documents"), "doc_id", "text",
                                n=SHINGLE_N, threshold=0.2)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_oracle() -> str:
    vote = ", ".join(
        f"sum(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS))
    combine = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS))
    h = _HASH64.format(expr="tok")
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    votes AS (SELECT doc_id, {vote} FROM hashed GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST({combine} AS BIGINT) AS simhash
    FROM votes
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark, sf):
    """16-bit term-frequency-weighted SimHash fingerprints."""
    return D.simhash(T(spark, sf, "documents"), "doc_id", "text",
                     bits=SIMHASH_BITS)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES}, {_SIG},
    banded AS (SELECT doc_id, j // {NUM_HASHES // BANDS} AS band,
                      array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY j), ',')
                          AS band_key
               FROM sig GROUP BY doc_id, j // {NUM_HASHES // BANDS}),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """)
def dedup_clusters(spark, sf):
    """Near-dup cluster resolution: LSH pairs -> connected components ->
    (doc_id, cluster_id).  Spark side is iterative min-label propagation
    (one shuffle per round, lineage-truncated); the oracle reaches the
    same fixpoint via a DuckDB recursive transitive closure + min."""
    docs = T(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text")
    return D.connected_components(pairs, docs.select("doc_id"), "doc_id")


EMB_PLANES = 4
EMB_TABLES = 4
_EMB_PLANE = ("(CAST(concat('0x', substring(md5(concat('plane:', t, ':', p,"
              " ':', pos)), 1, 15)) AS BIGINT)"
              " / 576460752303423488.0 - 1.0)")


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    tp AS (SELECT t.t, p.p
           FROM (SELECT unnest(generate_series(0, {EMB_TABLES - 1})) AS t) t,
                (SELECT unnest(generate_series(0, {EMB_PLANES - 1})) AS p) p),
    proj AS (SELECT vec_id, t, p, sum(x * {_EMB_PLANE}) AS d
             FROM ex CROSS JOIN tp GROUP BY vec_id, t, p),
    buckets AS (SELECT vec_id, t,
                       string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
                                  ORDER BY p) AS bucket
                FROM proj GROUP BY vec_id, t),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM buckets a JOIN buckets b
               ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
    dots AS (SELECT c.id_a, c.id_b, sum(ea.x * eb.x) AS dot
             FROM cand c JOIN ex ea ON ea.vec_id = c.id_a
                         JOIN ex eb ON eb.vec_id = c.id_b AND eb.pos = ea.pos
             GROUP BY c.id_a, c.id_b)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           round(dot / (n1.nrm * n2.nrm), 6) AS cosine
    FROM dots JOIN norms n1 ON id_a = n1.vec_id
              JOIN norms n2 ON id_b = n2.vec_id
    WHERE dot / (n1.nrm * n2.nrm) >= 0.35
    """)
def dedup_embedding_cosine(spark, sf):
    """Embedding-cosine near-dup pairs (threshold 0.35) via the BOUNDED
    default path: 4-table × 4-plane sign-LSH candidate buckets, exact
    cosine verify per candidate — never all-pairs.  The oracle replays
    the identical md5-derived buckets."""
    from pyspark.sql import functions as F
    out = D.embedding_near_dup_pairs(T(spark, sf, "embeddings"),
                                     "vec_id", "embedding", threshold=0.35,
                                     num_planes=EMB_PLANES,
                                     num_tables=EMB_TABLES)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


DEDUP_SPLIT = 250   # store = docs < 250, new batch = docs >= 250


@query(
    "dedup_incremental",
    oracle=f"""
    WITH h AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g'))) AS content_hash
               FROM documents),
    store AS (SELECT DISTINCT content_hash FROM h
              WHERE doc_id < {DEDUP_SPLIT}),
    newb AS (SELECT * FROM h WHERE doc_id >= {DEDUP_SPLIT}),
    fresh AS (SELECT * FROM newb
              WHERE content_hash NOT IN (SELECT content_hash FROM store))
    SELECT CAST(doc_id AS BIGINT) AS doc_id, content_hash
    FROM fresh
    QUALIFY row_number() OVER (PARTITION BY content_hash
                               ORDER BY doc_id) = 1
    """)
def dedup_incremental(spark, sf):
    """Incremental exact dedup: the second half of the corpus arrives as
    a new crawl batch and is anti-joined against the first half's
    fingerprint store, then deduped internally (keep min doc_id).  The
    store side is one md5 column — a daily batch joins years of
    fingerprints without touching stored text."""
    from pyspark.sql import functions as F

    docs = T(spark, sf, "documents")
    store_docs = docs.filter(F.col("doc_id") < DEDUP_SPLIT)
    store = (store_docs.select(
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
        .alias("content_hash")).distinct())
    new_batch = docs.filter(F.col("doc_id") >= DEDUP_SPLIT)
    out = D.incremental_dedup(new_batch, store, "doc_id", "text")
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      "content_hash")


SPAN_N = 8


@query(
    "dedup_span_profile",
    headline=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    spans AS (SELECT doc_id,
                     array_to_string(t[i:i+{SPAN_N - 1}], ' ') AS shingle
              FROM toks, LATERAL (SELECT unnest(generate_series(
                                      1, len(t) - {SPAN_N - 1})) AS i) g
              WHERE len(t) >= {SPAN_N}),
    occ AS (SELECT doc_id, shingle, count(*) AS cnt
            FROM spans GROUP BY doc_id, shingle),
    dfq AS (SELECT shingle, count(*) AS ndocs FROM occ GROUP BY shingle)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_spans,
           round(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) * 1.0
                 / sum(cnt), 6) AS dup_span_ratio
    FROM occ JOIN dfq USING (shingle)
    GROUP BY doc_id
    """)
def dedup_span_profile(spark, sf):
    """Span-level (substring) duplication per document: the fraction of
    each doc's 8-gram windows that also occur in another document —
    catches boilerplate repeated INSIDE otherwise-unique docs, which
    doc-level dedup misses entirely.  Two hash-aggs + one equi-join;
    output is one row per doc (never a span self-join).

    Bench note: this headliner takes duplicate_spans' UNGUARDED
    window-frequency branch (count(*) over (partition by shingle) on
    the aggregate — fastest when no span is hot, as here); the 100
    TB-safe shape with the ``max_df`` skew guard benches and is
    driver-checked as [[dedup_span_profile_capped]]."""
    return D.duplicate_spans(T(spark, sf, "documents"), "doc_id", "text",
                             n=SPAN_N)


SPAN_CAP_DF = 3   # bites at current SFs: max span doc-frequency is 4
                  # at sf0.001/sf0.1 (3 at sf0.01), so ndocs=4 spans
                  # are genuinely excluded, exercising the filter on
                  # both engines — not a vacuous guard


@query(
    "dedup_span_profile_capped",
    headline=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    spans AS (SELECT doc_id,
                     array_to_string(t[i:i+{SPAN_N - 1}], ' ') AS shingle
              FROM toks, LATERAL (SELECT unnest(generate_series(
                                      1, len(t) - {SPAN_N - 1})) AS i) g
              WHERE len(t) >= {SPAN_N}),
    occ AS (SELECT doc_id, shingle, count(*) AS cnt
            FROM spans GROUP BY doc_id, shingle),
    -- the max_df guard: spans in more than {SPAN_CAP_DF} docs leave
    -- the profile entirely (numerator AND denominator, the same
    -- filtered-set convention as ngram_jaccard_pairs); the inner
    -- join both drops hot spans and attaches ndocs
    dfq AS (SELECT shingle, count(*) AS ndocs FROM occ
            GROUP BY shingle HAVING count(*) <= {SPAN_CAP_DF})
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_spans,
           round(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) * 1.0
                 / sum(cnt), 6) AS dup_span_ratio
    FROM occ JOIN dfq USING (shingle)
    GROUP BY doc_id
    """)
def dedup_span_profile_capped(spark, sf):
    """[[dedup_span_profile]] with the ``max_df`` skew guard engaged —
    the shape to run at corpus scale: span document frequency comes
    from a skew-free hash-agg inner-JOINED back on keys that are
    <= max_df docs BY CONSTRUCTION (dedup.py duplicate_spans), so the
    hot-shingle window partition of the unguarded branch never forms
    and pathological boilerplate (one span in most of the corpus)
    cannot create a straggler task.  Spans above the cap leave both
    numerator and denominator; a doc whose every span is excluded
    emits no row.  The 3-doc cap genuinely excludes spans at the test
    SFs (max observed doc frequency 4), so the driver row verifies
    the filter, not just the join topology."""
    return D.duplicate_spans(T(spark, sf, "documents"), "doc_id", "text",
                             n=SPAN_N, max_df=SPAN_CAP_DF)


SEM_CELLS = 8
SEM_TAU = 0.40     # the synthetic embeddings are near-orthogonal (max
                   # pairwise cosine ~0.48); real corpora use ~0.9+


@query(
    "dedup_semantic",
    headline=True,
    oracle=f"""
    WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex
              GROUP BY vec_id),
    -- cell count tracks corpus size exactly as the operator's
    -- cells_per_n=250 default (8 at every current SF); level-1 cell
    -- count = floor(sqrt(n_cells)) (2 at every current SF)
    nc AS (SELECT greatest({SEM_CELLS}, count(*) // 250) AS n_cells,
                  greatest(1, CAST(floor(sqrt(
                      greatest({SEM_CELLS}, count(*) // 250))) AS BIGINT))
                      AS n_l1
           FROM embeddings),
    -- unit components as x * (1/nrm): the operator's exact two-rounding
    -- arithmetic (vec_scale by a precomputed reciprocal)
    u AS (SELECT e.vec_id, e.pos, e.x * (1.0 / n.nrm) AS ux
          FROM ex e JOIN norms n ON e.vec_id = n.vec_id
          WHERE n.nrm > 0),
    l1c AS (SELECT vec_id AS l1, pos, ux AS c1 FROM u, nc
            WHERE vec_id < nc.n_l1),
    l2c AS (SELECT vec_id AS cell, pos, ux AS c2 FROM u, nc
            WHERE vec_id < nc.n_cells),
    -- level-2 centroid -> nearest level-1 cell
    l2map AS (SELECT cell, l1 FROM (
                  SELECT a.cell, b.l1, sum(a.c2 * b.c1) AS s
                  FROM l2c a JOIN l1c b ON a.pos = b.pos
                  GROUP BY a.cell, b.l1)
              QUALIFY row_number() OVER (
                  PARTITION BY cell ORDER BY s DESC, l1) = 1),
    -- vector -> nearest level-1 cell
    v1 AS (SELECT vec_id, l1 FROM (
               SELECT u.vec_id, b.l1, sum(u.ux * b.c1) AS s
               FROM u JOIN l1c b ON u.pos = b.pos
               GROUP BY u.vec_id, b.l1)
           QUALIFY row_number() OVER (
               PARTITION BY vec_id ORDER BY s DESC, l1) = 1),
    -- vector -> nearest level-2 centroid WITHIN its level-1 cell
    assign AS (SELECT vec_id, cell FROM (
                   SELECT u.vec_id, m.cell, sum(u.ux * c.c2) AS s
                   FROM v1 JOIN l2map m ON v1.l1 = m.l1
                          JOIN u ON u.vec_id = v1.vec_id
                          JOIN l2c c ON c.cell = m.cell AND c.pos = u.pos
                   GROUP BY u.vec_id, m.cell)
               QUALIFY row_number() OVER (
                   PARTITION BY vec_id ORDER BY s DESC, cell) = 1),
    pairs AS (SELECT hi.vec_id AS id_hi, lo.vec_id AS id_lo
              FROM assign hi JOIN assign lo ON hi.cell = lo.cell
                                           AND lo.vec_id < hi.vec_id),
    dots AS (SELECT p.id_hi, p.id_lo, sum(a.ux * b.ux) AS dot
             FROM pairs p JOIN u a ON a.vec_id = p.id_hi
                          JOIN u b ON b.vec_id = p.id_lo
                                   AND b.pos = a.pos
             GROUP BY p.id_hi, p.id_lo),
    nn AS (SELECT id_hi, max(round(dot, 6)) AS nn_lower_sim
           FROM dots GROUP BY id_hi)
    SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
           CAST(a.cell AS BIGINT) AS cell,
           nn.nn_lower_sim,
           coalesce(nn.nn_lower_sim >= {SEM_TAU}, false) AS is_dup
    FROM assign a LEFT JOIN nn ON a.vec_id = nn.id_hi
    UNION ALL
    -- zero-norm embeddings: no direction, no defined cosine
    SELECT CAST(vec_id AS BIGINT), CAST(-1 AS BIGINT),
           CAST(NULL AS DOUBLE), false
    FROM norms WHERE nrm <= 0
    """)
def dedup_semantic(spark, sf):
    """SemDeDup-style semantic dedup: fixed-centroid coarse clustering
    of the embedding space (hierarchical two-level assignment — level-1
    cells broadcast, level-2 centroids executor-side), then greedy
    keep-first duplicate marking within each cell (cosine >= tau to any
    lower-id cell-mate).  The quadratic verify is confined within cells
    and no centroid passes through the driver — the 100 TB-safe shape
    of embedding-level dedup."""
    out = D.semantic_dedup(T(spark, sf, "embeddings"), "vec_id",
                           "embedding", num_cells=SEM_CELLS,
                           threshold=SEM_TAU)
    return out


# cross-corpus: 'new batch' = src0/src1, 'base corpus' = the rest.
# Signatures are per-document, so the oracle computes one signature CTE
# over ALL documents and applies the corpus split at pair time —
# identical arithmetic to the Spark side, which signs each side
# separately (same per-doc results either way).
_BATCH_SRCS = "('src0', 'src1')"


@query(
    "dedup_cross_corpus",
    headline=True,
    oracle=f"""
    WITH {_SHINGLES}, {_SIG},
    banded AS (SELECT doc_id, j // {NUM_HASHES // BANDS} AS band,
                      array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY j), ',')
                          AS band_key
               FROM sig GROUP BY doc_id, j // {NUM_HASHES // BANDS}),
    srcs AS (SELECT doc_id, source FROM documents)
    SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS batch_id,
                    CAST(b.doc_id AS BIGINT) AS base_id
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
    JOIN srcs sa ON a.doc_id = sa.doc_id
    JOIN srcs sb ON b.doc_id = sb.doc_id
    WHERE sa.source IN {_BATCH_SRCS}
      AND sb.source NOT IN {_BATCH_SRCS}
    """)
def dedup_cross_corpus(spark, sf):
    """Cross-corpus near-dup (decontamination shape): which new-batch
    docs (src0/src1) share an LSH band with the existing corpus — an
    equi-join between independently-signed corpora, no self-join on
    either side."""
    from pyspark.sql import functions as F
    docs = T(spark, sf, "documents")
    batch = docs.filter(F.col("source").isin("src0", "src1"))
    base = docs.filter(~F.col("source").isin("src0", "src1"))
    return D.minhash_cross_pairs(batch, base, "doc_id", "text",
                                 num_hashes=NUM_HASHES, bands=BANDS,
                                 shingle_n=SHINGLE_N)


@query(
    "dedup_keep_longest",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES}, {_SIG},
    banded AS (SELECT doc_id, j // {NUM_HASHES // BANDS} AS band,
                      array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY j), ',')
                          AS band_key
               FROM sig GROUP BY doc_id, j // {NUM_HASHES // BANDS}),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
    comps AS (SELECT node AS doc_id, min(r) AS cluster_id
              FROM reach GROUP BY node),
    sized AS (SELECT doc_id, cluster_id,
                     count(*) OVER (PARTITION BY cluster_id) AS cluster_size
              FROM comps)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(s.cluster_id AS BIGINT) AS cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d JOIN sized s ON d.doc_id = s.doc_id
    QUALIFY row_number() OVER (PARTITION BY s.cluster_id
                               ORDER BY d.n_chars DESC, d.doc_id) = 1
    """)
def dedup_keep_longest(spark, sf):
    """Quality-aware canonicalization: resolve LSH near-dup clusters
    and keep the LONGEST document per cluster (not min-id — real
    curation keeps the best copy): min-label components + ONE ranking
    window per cluster (WindowGroupLimit heaps)."""
    docs = T(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text")
    from pyspark.sql import functions as F
    out = D.dedup_keep_best(docs, pairs, "doc_id",
                            [F.col("n_chars").desc(), F.col("doc_id")])
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.col("cluster_id").cast("bigint").alias("cluster_id"),
                      "cluster_size",
                      F.col("n_chars").cast("bigint").alias("n_chars"))


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES},
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING count(*) <= {MAX_DF}),
    shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM shf a JOIN shf b ON a.shingle = b.shingle
                                   AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    sc AS (SELECT CASE WHEN s1.n_sh <= s2.n_sh THEN id_a ELSE id_b END
                      AS id_small,
                  CASE WHEN s1.n_sh <= s2.n_sh THEN id_b ELSE id_a END
                      AS id_big,
                  i * 1.0 / least(s1.n_sh, s2.n_sh) AS containment,
                  i * 1.0 / (s1.n_sh + s2.n_sh - i) AS jaccard
           FROM inter JOIN sizes s1 ON id_a = s1.doc_id
                      JOIN sizes s2 ON id_b = s2.doc_id)
    SELECT CAST(id_small AS BIGINT) AS id_small,
           CAST(id_big AS BIGINT) AS id_big,
           round(containment, 6) AS containment,
           round(jaccard, 6) AS jaccard
    FROM sc WHERE containment >= 0.5
    """)
def dedup_containment(spark, sf):
    """Asymmetric containment pairs (|A∩B| / |A| >= 0.5, A = smaller
    doc): the excerpt/quote/boilerplate-reuse detector that symmetric
    Jaccard structurally misses — a short doc fully inside a long one
    has near-zero Jaccard.  Same shingle equi-join + max_df quadratic
    guard as dedup_ngram_jaccard; only the normalization differs
    (fmx.operators.dedup.containment_pairs)."""
    from pyspark.sql import functions as F
    out = D.containment_pairs(T(spark, sf, "documents"), "doc_id",
                              "text", n=SHINGLE_N, threshold=0.5,
                              max_df=MAX_DF)
    return out.select("id_small", "id_big",
                      F.round("containment", 6).alias("containment"),
                      F.round("jaccard", 6).alias("jaccard"))


_SPLIT_U = ("(CAST(concat('0x', substring(md5(concat('split:42:', "
            "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
            " / 1152921504606846976.0)")

_BANDED = f"""
banded AS (SELECT doc_id, j // {NUM_HASHES // BANDS} AS band,
                  array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY j), ',')
                      AS band_key
           FROM sig GROUP BY doc_id, j // {NUM_HASHES // BANDS}),
lsh_pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)
"""


@query(
    "leakage_split_overlap",
    oracle=f"""
    WITH {_SHINGLES}, {_SIG}, {_BANDED},
    sp AS (SELECT doc_id,
                  CASE WHEN {_SPLIT_U} < 0.9 THEN 'train'
                       WHEN {_SPLIT_U} < 0.95 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           sa.split AS split_a, sb.split AS split_b
    FROM lsh_pairs JOIN sp sa ON id_a = sa.doc_id
                   JOIN sp sb ON id_b = sb.doc_id
    WHERE sa.split <> sb.split
    """)
def leakage_split_overlap(spark, sf):
    """Train/eval leakage audit: MinHash-LSH near-duplicate candidate
    pairs that CROSS the production 90/5/5 hash split — the post-split
    check that catches eval contamination (a test doc whose near-dup
    trains silently inflates scores).  Audit cost = dedup cost: the
    banding equi-join, never a train x eval cross product; the split
    labels join in at doc grain."""
    from pyspark.sql import functions as F

    from fmx.operators.dedup import split_leakage
    from fmx.operators.sampling import hash_uniform01

    u = hash_uniform01("doc_id", "split", 42)
    split = (F.when(u < 0.9, F.lit("train"))
             .when(u < 0.95, F.lit("val"))
             .otherwise(F.lit("test")))
    out = split_leakage(T(spark, sf, "documents"), "doc_id", "text",
                        split, num_hashes=NUM_HASHES, bands=BANDS,
                        shingle_n=SHINGLE_N)
    return out.select("id_a", "id_b", "split_a", "split_b")


@query(
    "er_fuzzy_match",
    headline=True,        # r8 verdict #4: tracked wall-time + DuckDB comparator
    oracle="""
    WITH probes AS (
      SELECT p_partkey AS probe_id,
             concat(substring(p_name, 1, 1 + (p_partkey % 4)),
                    substring(p_name, 3 + (p_partkey % 4),
                              length(p_name))) AS probe_name
      FROM part),
    lb AS (SELECT probe_id, probe_name,
                  substring(probe_name, 1, 1) AS bp,
                  length(probe_name) // 4 AS bb
           FROM probes),
    rb AS (SELECT p_partkey AS part_id, p_name,
                  substring(p_name, 1, 1) AS bp,
                  length(p_name) // 4 AS bb
           FROM part),
    cand AS (SELECT lb.probe_id, lb.probe_name, rb.part_id, rb.p_name,
                    levenshtein(lb.probe_name, rb.p_name) AS dist
             FROM lb JOIN rb USING (bp, bb)),
    ranked AS (SELECT *, count(*) OVER (PARTITION BY probe_id) AS n_cands,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY dist, part_id) AS rn
               FROM cand)
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(part_id AS BIGINT) AS part_id,
           probe_name, p_name,
           CAST(dist AS BIGINT) AS dist,
           CAST(n_cands AS BIGINT) AS n_cands
    FROM ranked WHERE rn = 1 AND dist <= 3
    """)
def er_fuzzy_match(spark, sf):
    """Entity resolution by blocked fuzzy join
    (fmx.operators.linkage.blocked_fuzzy_join): probe records are part
    names with one deterministically dropped character (position
    2 + partkey % 4 — in-plan corruption, so both engines derive the
    same dirty corpus), matched back against the clean part table by
    blocking on (first char, length // 4) and ranking in-block
    Levenshtein distance.  One equi-join on the block key — never
    all-pairs — then a per-probe WindowGroupLimit argmin; n_cands
    exposes block fan-out, the knob that keeps 100 TB linkage an
    ordinary shuffle join.  Probes whose corruption escapes the block
    (length crossing a band boundary) are unmatched by design —
    single-pass blocking recall, documented in the operator."""
    from pyspark.sql import functions as F

    from fmx.operators.linkage import blocked_fuzzy_join

    part = T(spark, sf, "part")
    probes = part.select(
        F.col("p_partkey").alias("probe_id"),
        F.concat(
            F.expr("substring(p_name, 1, 1 + (p_partkey % 4))"),
            F.expr("substring(p_name, CAST(3 + (p_partkey % 4) AS INT), "
                   "length(p_name))")).alias("probe_name"))
    out = blocked_fuzzy_join(
        probes, part.select(F.col("p_partkey").alias("part_id"),
                            F.col("p_name")),
        "probe_id", "part_id", "probe_name", "p_name",
        block_prefix=1, length_band=4, max_dist=3)
    return out.select(F.col("probe_id").cast("bigint").alias("probe_id"),
                      F.col("part_id").cast("bigint").alias("part_id"),
                      "probe_name", "p_name", "dist", "n_cands")


@query(
    "er_fuzzy_match_multipass",
    oracle="""
    WITH probes AS (
      SELECT p_partkey AS probe_id,
             concat(substring(p_name, 1, 1 + (p_partkey % 4)),
                    substring(p_name, 3 + (p_partkey % 4),
                              length(p_name))) AS probe_name
      FROM part),
    ld AS (SELECT DISTINCT probe_name FROM probes),
    rd AS (SELECT p_name, min(p_partkey) AS part_id,
                  count(*) AS rcnt
           FROM part GROUP BY p_name),
    p1 AS (SELECT l.probe_name, r.p_name
           FROM ld l JOIN rd r
             ON substring(l.probe_name, 1, 1) = substring(r.p_name, 1, 1)
            AND length(l.probe_name) // 4 = length(r.p_name) // 4),
    p2 AS (SELECT l.probe_name, r.p_name
           FROM ld l JOIN rd r
             ON substring(l.probe_name, length(l.probe_name) - 3, 4)
              = substring(r.p_name, length(r.p_name) - 3, 4)),
    pairs AS (SELECT DISTINCT probe_name, p_name
              FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
    cand AS (SELECT pr.probe_name, pr.p_name, rd.part_id, rd.rcnt,
                    levenshtein(pr.probe_name, pr.p_name) AS dist
             FROM pairs pr JOIN rd USING (p_name)),
    ranked AS (SELECT *,
                      sum(rcnt) OVER (PARTITION BY probe_name) AS n_cands,
                      row_number() OVER (PARTITION BY probe_name
                                         ORDER BY dist, part_id) AS rn
               FROM cand),
    best AS (SELECT * FROM ranked WHERE rn = 1 AND dist <= 3)
    SELECT CAST(p.probe_id AS BIGINT) AS probe_id,
           CAST(b.part_id AS BIGINT) AS part_id,
           p.probe_name, b.p_name,
           CAST(b.dist AS BIGINT) AS dist,
           CAST(b.n_cands AS BIGINT) AS n_cands
    FROM probes p JOIN best b USING (probe_name)
    """)
def er_fuzzy_match_multipass(spark, sf):
    """Multi-pass entity resolution (VERDICT r9 #4 — the recall fix the
    single-pass docstring promises): same corrupted probe corpus as
    ``er_fuzzy_match``, but candidates come from the UNION of two
    independent blocking passes — (first char, length // 4) and the
    last-4-chars suffix — deduplicated before Levenshtein.  The
    corruption drops one character at position 2 + probe_id % 4, so
    the prefix pass loses exactly the probes whose length crosses a
    //4 band boundary (length % 4 == 0); the suffix block is immune
    to a front-of-string drop and recovers them unless the drop also
    lands inside the last-4 window (short names).  Measured recall at
    sf0.01: single-pass matches 1585/2000 probes, multi-pass 1989/2000
    (tests/test_linkage_multipass.py pins the delta).  Still never
    all-pairs: two equi-joins + one distinct at distinct-name grain
    (fmx.operators.linkage.blocked_fuzzy_join_multipass)."""
    from pyspark.sql import functions as F

    from fmx.operators.linkage import blocked_fuzzy_join_multipass

    part = T(spark, sf, "part")
    probes = part.select(
        F.col("p_partkey").alias("probe_id"),
        F.concat(
            F.expr("substring(p_name, 1, 1 + (p_partkey % 4))"),
            F.expr("substring(p_name, CAST(3 + (p_partkey % 4) AS INT), "
                   "length(p_name))")).alias("probe_name"))
    out = blocked_fuzzy_join_multipass(
        probes, part.select(F.col("p_partkey").alias("part_id"),
                            F.col("p_name")),
        "probe_id", "part_id", "probe_name", "p_name", max_dist=3)
    return out.select(F.col("probe_id").cast("bigint").alias("probe_id"),
                      F.col("part_id").cast("bigint").alias("part_id"),
                      "probe_name", "p_name", "dist", "n_cands")


# Fellegi-Sunter shared corpus: probes are customers with deterministic
# key-derived corruption on four fields; `clean` is the original table.
# One definition for both the baseline and the scaled variant — only
# the candidate block-join condition differs.
_FS_CORPUS = """
    probes AS (
      SELECT c_custkey AS probe_id,
             (c_nationkey + CASE WHEN c_custkey % 5 = 0
                                 THEN 1 ELSE 0 END) % 25 AS nation_p,
             CASE WHEN c_custkey % 7 = 0 THEN reverse(c_mktsegment)
                  ELSE c_mktsegment END AS seg_p,
             CAST(floor(c_acctbal / 500.0) AS BIGINT)
               + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS band_p,
             CASE WHEN c_custkey % 11 = 0
                  THEN reverse(substring(c_name, length(c_name) - 1, 2))
                  ELSE substring(c_name, length(c_name) - 1, 2)
             END AS tail_p,
             -- mid: the two digits BEFORE the tail — never corrupted,
             -- the independent second blocking key of the multipass
             -- variant (union-of-passes recall fix)
             substring(c_name, length(c_name) - 3, 2) AS mid_p
      FROM customer),
    clean AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 500.0) AS BIGINT) AS band,
             substring(c_name, length(c_name) - 1, 2) AS tail,
             substring(c_name, length(c_name) - 3, 2) AS mid
      FROM customer)
"""


# agreement flags + label, computed from a (p, c) join row — shared by
# every FS oracle variant so the scoring arithmetic cannot drift
_FS_FLAGS = """
      SELECT CASE WHEN p.seg_p = c.c_mktsegment THEN 1 ELSE 0 END AS a_seg,
             CASE WHEN p.band_p = c.band THEN 1 ELSE 0 END AS a_band,
             CASE WHEN p.tail_p = c.tail THEN 1 ELSE 0 END AS a_tail,
             CASE WHEN p.probe_id = c.c_custkey THEN 1 ELSE 0 END AS lbl
"""


def _fs_oracle(block_cond: str) -> str:
    return _fs_oracle_from_cand(f"""
    cand AS ({_FS_FLAGS}
      FROM probes p JOIN clean c ON {block_cond})""")


def _fs_oracle_from_cand(cand_cte: str) -> str:
    """Full FS oracle from a candidate CTE named ``cand`` producing
    (a_seg, a_band, a_tail, lbl) rows; the m/u estimation, pattern agg
    and log2 weight tail is single-sourced here for every variant."""
    return f"""
    WITH {_FS_CORPUS},
    {cand_cte},
    mu AS (
      SELECT (sum(a_seg * lbl) + 0.5) * 1.0 / (sum(lbl) + 1.0) AS m_seg,
             (sum(a_seg * (1 - lbl)) + 0.5) * 1.0
               / (sum(1 - lbl) + 1.0) AS u_seg,
             (sum(a_band * lbl) + 0.5) * 1.0 / (sum(lbl) + 1.0) AS m_band,
             (sum(a_band * (1 - lbl)) + 0.5) * 1.0
               / (sum(1 - lbl) + 1.0) AS u_band,
             (sum(a_tail * lbl) + 0.5) * 1.0 / (sum(lbl) + 1.0) AS m_tail,
             (sum(a_tail * (1 - lbl)) + 0.5) * 1.0
               / (sum(1 - lbl) + 1.0) AS u_tail
      FROM cand),
    pat AS (
      SELECT a_seg, a_band, a_tail,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(lbl) AS BIGINT) AS n_true
      FROM cand GROUP BY 1, 2, 3)
    SELECT concat(CAST(a_seg AS VARCHAR), CAST(a_band AS VARCHAR),
                  CAST(a_tail AS VARCHAR)) AS pattern,
           CAST(a_seg AS INT) AS a_seg, CAST(a_band AS INT) AS a_band,
           CAST(a_tail AS INT) AS a_tail, n_pairs, n_true,
           round(CASE WHEN a_seg = 1 THEN log2(m_seg / u_seg)
                      ELSE log2((1 - m_seg) / (1 - u_seg)) END
               + CASE WHEN a_band = 1 THEN log2(m_band / u_band)
                      ELSE log2((1 - m_band) / (1 - u_band)) END
               + CASE WHEN a_tail = 1 THEN log2(m_tail / u_tail)
                      ELSE log2((1 - m_tail) / (1 - u_tail)) END,
                 6) AS weight
    FROM pat, mu
    """


def _fs_query(spark, sf, mode: str):
    """Shared Spark builder: corrupted probes + clean side + blocked
    agreement vectors, then fellegi_sunter_weights.  ``mode``:
    "base" blocks on nation only (the measured n^2/25 trap), "scaled"
    adds the name tail to the block key (the n^2-law fix measured in
    SCALE.md round-10 session 2), "multipass" unions two independent
    block passes — (nation, tail) plus (mid, band) — and dedups pairs
    before scoring (the single-pass-recall fix, r10 verdict #4)."""
    from pyspark.sql import functions as F

    from fmx.operators.linkage import fellegi_sunter_weights

    cust = T(spark, sf, "customer")
    tail = F.expr("substring(c_name, length(c_name)-1, 2)")
    mid = F.expr("substring(c_name, length(c_name)-3, 2)")
    probes = cust.select(
        F.col("c_custkey").alias("probe_id"),
        ((F.col("c_nationkey")
          + F.when(F.col("c_custkey") % 5 == 0, 1).otherwise(0)) % 25)
        .alias("nation_p"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse("c_mktsegment"))
        .otherwise(F.col("c_mktsegment")).alias("seg_p"),
        (F.floor(F.col("c_acctbal") / 500.0).cast("bigint")
         + F.when(F.col("c_custkey") % 3 == 0, 1).otherwise(0))
        .alias("band_p"),
        F.when(F.col("c_custkey") % 11 == 0, F.reverse(tail))
        .otherwise(tail).alias("tail_p"),
        mid.alias("mid_p"))
    clean = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500.0).cast("bigint").alias("band"),
        tail.alias("tail"), mid.alias("mid"))
    if mode == "multipass":
        # union of two independent equi-join passes at PAIR grain,
        # dedup, then re-attach both sides to compute agreement flags
        # once per surviving pair — the blocked_fuzzy_join_multipass
        # shape applied to FS candidate generation
        p1 = (probes.join(clean,
                          (probes["nation_p"] == clean["c_nationkey"])
                          & (probes["tail_p"] == clean["tail"]))
              .select("probe_id", "c_custkey"))
        p2 = (probes.join(clean,
                          (probes["mid_p"] == clean["mid"])
                          & (probes["band_p"] == clean["band"]))
              .select("probe_id", "c_custkey"))
        joined = (p1.unionAll(p2).distinct()
                  .join(probes, "probe_id").join(clean, "c_custkey"))
    else:
        cond = probes["nation_p"] == clean["c_nationkey"]
        if mode == "scaled":
            cond = cond & (probes["tail_p"] == clean["tail"])
        joined = probes.join(clean, cond)
    cands = joined.select((F.col("seg_p") == F.col("c_mktsegment"))
                          .cast("int").alias("a_seg"),
                          (F.col("band_p") == F.col("band"))
                          .cast("int").alias("a_band"),
                          (F.col("tail_p") == F.col("tail"))
                          .cast("int").alias("a_tail"),
                          (F.col("probe_id") == F.col("c_custkey"))
                          .cast("int").alias("lbl"))
    out = fellegi_sunter_weights(cands, ["a_seg", "a_band", "a_tail"],
                                 "lbl")
    return out.select("pattern", "a_seg", "a_band", "a_tail",
                      "n_pairs", "n_true",
                      F.round("weight", 6).alias("weight"))


@query(
    "er_fellegi_sunter",
    oracle=_fs_oracle("p.nation_p = c.c_nationkey"))
def er_fellegi_sunter(spark, sf):
    """Fellegi-Sunter probabilistic record linkage
    (fmx.operators.linkage.fellegi_sunter_weights): probe records are
    customers with deterministic key-derived corruption on four fields
    (nation +1 for custkey%5, segment reversed for %7, balance band +1
    for %3, name tail reversed for %11 — in-plan corruption, so both
    engines derive the same dirty corpus), blocked back against the
    clean table on the (noisy) nation key.  Per-field agreement
    probabilities m_k (among true pairs) and u_k (among in-block
    impostors) are Laplace-smoothed and every agreement pattern gets
    its log2 likelihood-ratio weight — the score that turns "3 of 4
    fields agree" into a calibrated match/no-match decision.  Two hash
    aggs + a 1-row broadcast; blocking recall (nation corruption
    escapes the block) is the documented single-pass bound.  Corpus,
    builder, and oracle are single-sourced with the scaled variant
    (_fs_query/_fs_oracle) — only the block key differs."""
    return _fs_query(spark, sf, "base")


@query(
    "er_fellegi_sunter_scaled",
    oracle=_fs_oracle("p.nation_p = c.c_nationkey"
                      " AND p.tail_p = c.tail"))
def er_fellegi_sunter_scaled(spark, sf):
    """The DECLARED scale variant of er_fellegi_sunter (the
    emb_epsilon_components_scaled pattern): this round's 10x
    experiment measured the nation-only block at alpha 1.82 (3.3 s ->
    222 s — nation cardinality is FIXED at 25, so in-block pairs grow
    n^2/25; same sizing law as epsilon-LSH planes: block count must
    track n^2).  The composite block key (nation_p, tail_p) multiplies
    block cardinality by the ~100-value name tail, cutting candidate
    pairs 100x at any n (measured alpha 0.40, 222 s -> 4.1 s).  Two
    declared consequences, both textbook Fellegi-Sunter: recall now
    also loses tail-corrupted probes (custkey%11 — single-pass
    blocking recall, fixable by a second pass on another key), and the
    tail field becomes near-degenerate EVIDENCE (u_tail ~ 1 inside
    tail-blocked candidates; Laplace smoothing keeps its weight finite
    and near zero) — blocking on a field spends its discriminating
    power, which is why production linkage blocks on one key and
    scores on the OTHERS.  Single-sourced with the baseline
    (_fs_query/_fs_oracle).  The declared recall loss (tail-corrupted
    probes escape the composite block) is fixed by
    er_fellegi_sunter_multipass."""
    return _fs_query(spark, sf, "scaled")


@query(
    "er_fellegi_sunter_multipass",
    oracle=_fs_oracle_from_cand(f"""
    pairs AS (
      SELECT p.probe_id, c.c_custkey
      FROM probes p JOIN clean c
        ON p.nation_p = c.c_nationkey AND p.tail_p = c.tail
      UNION
      SELECT p.probe_id, c.c_custkey
      FROM probes p JOIN clean c
        ON p.mid_p = c.mid AND p.band_p = c.band),
    cand AS ({_FS_FLAGS}
      FROM pairs pr JOIN probes p ON pr.probe_id = p.probe_id
                    JOIN clean c ON pr.c_custkey = c.c_custkey)"""))
def er_fellegi_sunter_multipass(spark, sf):
    """Multi-pass Fellegi-Sunter (r10 verdict #4): the scaled variant's
    composite (nation, tail) block loses every tail-corrupted probe
    (custkey%11) AND still loses the nation-corrupted ones (custkey%5)
    — single-pass blocking recall.  The standard fix, mirrored from
    blocked_fuzzy_join_multipass: a UNION of independent blocking
    passes, each an ordinary equi-join, deduplicated at pair grain
    before scoring.  Pass 1 = (nation_p, tail_p); pass 2 = (mid_p,
    band_p), where ``mid`` is the two name digits BEFORE the tail — a
    never-corrupted, ~100-value key independent of pass 1's fields.  A
    true pair is recovered iff it survives EITHER pass, so the
    residual loss is only probes corrupted on a field of BOTH passes:
    (nation %5 or tail %11) AND band %3 — measured in
    tests/test_linkage_multipass.py as the exact recall ledger.  Both
    passes keep the scaled variant's bounded-block property (~2500 and
    ~2400 block values); the union + distinct adds one shuffle at pair
    grain, never a cross product.  m/u estimation and pattern weights
    run over the UNIONED candidate relation (more impostor pairs than
    either single pass — the u_k estimates tighten accordingly);
    flags, corpus, and the weight tail are single-sourced with the
    other two variants (_FS_CORPUS/_FS_FLAGS/_fs_oracle_from_cand)."""
    return _fs_query(spark, sf, "multipass")


@query(
    "dedup_minhash_estimate_error",
    oracle=f"""
    WITH {_SHINGLES}, {_SIG},
    banded AS (SELECT doc_id, j // {NUM_HASHES // BANDS} AS band,
                      array_to_string(list(CAST(minhash AS VARCHAR)
                                           ORDER BY j), ',') AS band_key
               FROM sig GROUP BY doc_id, j // {NUM_HASHES // BANDS}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    est AS (SELECT c.id_a, c.id_b,
                   CAST(sum(CASE WHEN sa.minhash = sb.minhash
                            THEN 1 ELSE 0 END) AS BIGINT) AS m
            FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                        JOIN sig sb ON sb.doc_id = c.id_b
                                   AND sb.j = sa.j
            GROUP BY 1, 2),
    {_JACCARD_PAIRS}
    SELECT CAST(e.id_a AS BIGINT) AS id_a,
           CAST(e.id_b AS BIGINT) AS id_b,
           e.m AS n_matching,
           e.m / {NUM_HASHES}.0 AS est_jaccard,
           round(coalesce(j.jaccard, 0.0), 6) AS exact_jaccard,
           round(abs(e.m / {NUM_HASHES}.0
                     - round(coalesce(j.jaccard, 0.0), 6)), 6)
               AS abs_err
    FROM est e LEFT JOIN jac j ON e.id_a = j.id_a AND e.id_b = j.id_b
    """)
def dedup_minhash_estimate_error(spark, sf):
    """Estimator audit for the MinHash pipeline: for every LSH
    candidate pair, the signature-agreement Jaccard estimate
    (matching slots / {NUM_HASHES}) side by side with the EXACT
    shingle Jaccard and the absolute error — the calibration readout
    that tells you whether 8 hashes are enough before trusting the
    banding at corpus scale.  Candidates come from the banding
    equi-join (never all-pairs); signatures join back per pair on
    (doc, slot); the exact side reuses the max_df-guarded shingle
    pair machinery, LEFT-joined so a false-positive candidate with
    zero shared (kept) shingles reads as exact 0.  est is an exact
    binary fraction (m/8); the exact Jaccard rounds to 6dp before
    the error subtraction in both engines."""
    from pyspark.sql import functions as F

    docs = T(spark, sf, "documents")
    cand = D.minhash_lsh_pairs(docs, "doc_id", "text",
                               num_hashes=NUM_HASHES, bands=BANDS,
                               shingle_n=SHINGLE_N)
    sig = D.minhash_signatures(docs, "doc_id", "text",
                               num_hashes=NUM_HASHES,
                               shingle_n=SHINGLE_N)
    sa = sig.select(F.col("doc_id").alias("id_a"), "j",
                    F.col("minhash").alias("ma"))
    sb = sig.select(F.col("doc_id").alias("id_b"), "j",
                    F.col("minhash").alias("mb"))
    est = (cand.join(sa, "id_a").join(sb, ["id_b", "j"])
           .groupBy("id_a", "id_b")
           .agg(F.sum((F.col("ma") == F.col("mb")).cast("long"))
                .cast("bigint").alias("m")))
    exact = D.ngram_jaccard_pairs(docs, "doc_id", "text",
                                  n=SHINGLE_N, threshold=0.0)
    j = F.round(F.coalesce(F.col("jaccard"), F.lit(0.0)), 6)
    return (est.join(exact, ["id_a", "id_b"], "left")
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    F.col("m").alias("n_matching"),
                    (F.col("m") / float(NUM_HASHES)).alias("est_jaccard"),
                    j.alias("exact_jaccard"),
                    F.round(F.abs(F.col("m") / float(NUM_HASHES) - j), 6)
                    .alias("abs_err")))


def _eps_components_sql(planes: int) -> str:
    """Oracle for the epsilon-components dataflow at a given LSH plane
    count — single-sourced so emb_epsilon_components (4 planes) and
    emb_epsilon_components_scaled (8 planes, the 10x-sized variant)
    replay the identical pipeline."""
    return f"""
    WITH RECURSIVE
    ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
    tp AS (SELECT t.t, p.p
           FROM (SELECT unnest(generate_series(0, {EMB_TABLES - 1})) AS t) t,
                (SELECT unnest(generate_series(0, {planes - 1})) AS p) p),
    proj AS (SELECT vec_id, t, p, sum(x * {_EMB_PLANE}) AS d
             FROM ex CROSS JOIN tp GROUP BY vec_id, t, p),
    buckets AS (SELECT vec_id, t,
                       string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
                                  ORDER BY p) AS bucket
                FROM proj GROUP BY vec_id, t),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM buckets a JOIN buckets b
               ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex
              GROUP BY vec_id),
    dots AS (SELECT c.id_a, c.id_b, sum(ea.x * eb.x) AS dot
             FROM cand c JOIN ex ea ON ea.vec_id = c.id_a
                         JOIN ex eb ON eb.vec_id = c.id_b
                                   AND eb.pos = ea.pos
             GROUP BY c.id_a, c.id_b),
    pairs AS (SELECT id_a, id_b
              FROM dots JOIN norms n1 ON id_a = n1.vec_id
                        JOIN norms n2 ON id_b = n2.vec_id
              WHERE dot / (n1.nrm * n2.nrm) >= 0.35),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
    SELECT CAST(node AS BIGINT) AS vec_id,
           CAST(min(r) AS BIGINT) AS component
    FROM reach GROUP BY node
    """


EMB_EPS_PLANES_SCALED = 8   # 4 + log2(10x): see the query docstring


@query(
    "emb_epsilon_components",
    oracle=_eps_components_sql(EMB_PLANES))
def emb_epsilon_components(spark, sf):
    """Epsilon-similarity components over the embedding corpus: the
    LSH-bucketed near-dup pair generator (sign-LSH 4x4 tables, exact
    cosine >= 0.35 verify — never all-pairs) feeds the CONVERGED
    min-label connected components, labelling every vector with the
    smallest id reachable through the epsilon graph — the semantic
    grouping step between pairwise near-dup detection and keep/drop
    policy (SemDeDup's cluster stage, but threshold-exact).  Composes
    two audited scale paths end to end: banded candidate generation
    (equi-join on (table, bucket)) and O(diameter) label propagation
    with same-job convergence observation; the oracle reaches the
    identical fixpoint via a recursive transitive closure."""
    from pyspark.sql import functions as F

    emb = T(spark, sf, "embeddings")
    pairs = D.embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                       threshold=0.35,
                                       num_planes=EMB_PLANES,
                                       num_tables=EMB_TABLES)
    out = D.connected_components(pairs, emb.select("vec_id"), "vec_id")
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("cluster_id").cast("bigint").alias("component"))


@query(
    "emb_epsilon_components_scaled",
    oracle=_eps_components_sql(EMB_EPS_PLANES_SCALED))
def emb_epsilon_components_scaled(spark, sf):
    """emb_epsilon_components with the LSH tables RE-SIZED FOR SCALE:
    8 planes per table instead of 4 (VERDICT r9 #3 — the
    fix-or-explain for the measured 10x cliff).  Why: with p planes a
    table has 2^p buckets, so bucket-mate candidate pairs grow as
    n^2/2^p when p is FIXED.  Measured on the 10x replica corpus: 4
    planes sends candidates 0.51M -> 53.4M (104x, max occupancy
    184 -> 2299) and the full query from 121 s past 40 MINUTES; at 8
    planes the same corpus costs 1061 s (4.2M candidates) and the
    sizing-rule endpoint p = p0 + 2*log2(n/n0) ~ 11 planes costs
    530 s (0.83M candidates ~ the sf0.1 operating point) — the
    quadratic law needs TWO planes per doubling to hold candidates
    flat.  Every added plane multiplies per-table recall by
    (1-theta/pi) ~ 0.62 at this loose threshold, so sign-LSH
    fundamentally cannot serve dense-radius grouping at scale — the
    documented scale path is the trained-quantizer cell route
    (dedup_semantic, alpha 0.48); 8 planes is the recall-conscious
    middle step this registry ships.  A SEPARATE query, not a silent
    retune: the candidate set, hence the epsilon graph, is a declared
    parameter of the operator.  SCALE.md round-10 carries the full
    measured table."""
    from pyspark.sql import functions as F

    emb = T(spark, sf, "embeddings")
    pairs = D.embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                       threshold=0.35,
                                       num_planes=EMB_EPS_PLANES_SCALED,
                                       num_tables=EMB_TABLES)
    out = D.connected_components(pairs, emb.select("vec_id"), "vec_id")
    return out.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                      F.col("cluster_id").cast("bigint").alias("component"))



@query(
    "dedup_weighted_jaccard",
    oracle=f"""
    WITH {_SHINGLES},
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING count(*) <= {MAX_DF}),
    shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
    nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM shf),
    idf AS (SELECT shingle, round(ln(ndocs * 1.0 / count(*)), 6) AS w
            FROM shf CROSS JOIN nd GROUP BY shingle, ndocs),
    shw AS (SELECT shf.doc_id, shf.shingle, idf.w
            FROM shf JOIN idf USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh, sum(w) AS ws
              FROM shw GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS i, sum(a.w) AS iw
              FROM shw a JOIN shw b ON a.shingle = b.shingle
                                   AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           round(i * 1.0 / (s1.n_sh + s2.n_sh - i), 6) AS jaccard,
           round(iw / (s1.ws + s2.ws - iw), 6) AS weighted_jaccard
    FROM inter JOIN sizes s1 ON id_a = s1.doc_id
               JOIN sizes s2 ON id_b = s2.doc_id
    WHERE i * 1.0 / (s1.n_sh + s2.n_sh - i) >= 0.2
    """)
def dedup_weighted_jaccard(spark, sf):
    """IDF-weighted 3-gram Jaccard beside the plain score for every
    near-dup candidate pair (fmx.operators.dedup
    weighted_jaccard_pairs): rare-content overlap vs template overlap
    — pairs whose weighted score collapses relative to the plain one
    are boilerplate twins, not content twins, and a dedup policy can
    keep them.  Same shingle equi-join + max_df quadratic guard as
    dedup_ngram_jaccard; IDF weights 6dp-rounded before summation so
    both engines fold identical doubles."""
    from pyspark.sql import functions as F
    out = D.weighted_jaccard_pairs(T(spark, sf, "documents"),
                                   "doc_id", "text", n=SHINGLE_N,
                                   threshold=0.2, max_df=MAX_DF)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"),
                      F.round("weighted_jaccard", 6)
                      .alias("weighted_jaccard"))


def _band_block(b: int) -> str:
    """Banding CTEs for a (bands=b, rows=NUM_HASHES//b) config over the
    shared ``sig`` relation, plus its candidate set scored against the
    exact Jaccard relation."""
    r = NUM_HASHES // b
    return f"""
    banded{b} AS (SELECT doc_id, j // {r} AS band,
                         array_to_string(list(CAST(minhash AS VARCHAR)
                                              ORDER BY j), ',')
                             AS band_key
                  FROM sig GROUP BY doc_id, j // {r}),
    cand{b} AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded{b} a JOIN banded{b} b
                  ON a.band = b.band AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id),
    sc{b} AS (SELECT CAST({b} AS BIGINT) AS bands,
                     CAST({r} AS BIGINT) AS rows_per_band,
                     CAST(count(*) AS BIGINT) AS n_candidates,
                     CAST(sum(CASE WHEN coalesce(j.jaccard, 0.0) >= 0.2
                                   THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_true,
                     round(sum(CASE WHEN coalesce(j.jaccard, 0.0) >= 0.2
                                    THEN 1 ELSE 0 END) * 1.0
                           / nullif(count(*), 0), 6) AS precision
              FROM cand{b} c LEFT JOIN jac j
                ON c.id_a = j.id_a AND c.id_b = j.id_b)
    """


_TUNE_BANDS = (2, 4, 8)


@query(
    "dedup_minhash_band_tuning",
    oracle=("WITH " + _SHINGLES + ", " + _SIG + ", " + _JACCARD_PAIRS
            + "," + ",".join(_band_block(b) for b in _TUNE_BANDS)
            + " SELECT * FROM ("
            + " UNION ALL ".join(f"SELECT * FROM sc{b}"
                                 for b in _TUNE_BANDS)
            + ") ORDER BY bands"))
def dedup_minhash_band_tuning(spark, sf):
    """LSH band-tuning curve: candidate volume and precision (share of
    candidates with exact 3-gram Jaccard >= 0.2) for every (bands,
    rows-per-band) factorization of the 8-slot signature — 2x4 / 4x2
    / 8x1.  More bands = higher recall + more candidates; this is the
    capacity-planning readout that picks the banding BEFORE the
    banded equi-join runs at corpus scale (candidate count IS the
    shuffle bill).  One signature relation and one banded self-join
    serve all three configs; the exact-Jaccard scorer reuses the max_df-guarded shingle pair
    machinery; counts are exact integers with one division at emit."""
    from pyspark.sql import functions as F

    docs = T(spark, sf, "documents")
    sig = D.minhash_signatures(docs, "doc_id", "text",
                               num_hashes=NUM_HASHES,
                               shingle_n=SHINGLE_N)
    jac = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=SHINGLE_N,
                                threshold=0.0, max_df=MAX_DF) \
        .select("id_a", "id_b", "jaccard")
    # all three configs in ONE pass: each signature slot is copied
    # in-row once per config, so one banding aggregation, one banded
    # self-join and one left join against the exact scorer serve them
    # all (per-config plans re-derive the scorer: their joins get
    # different AQE strategies, so their exchanges never match)
    cfg = F.explode(F.array(*[
        F.struct(F.lit(b).cast("bigint").alias("bands"),
                 F.lit(NUM_HASHES // b).alias("r"))
        for b in _TUNE_BANDS])).alias("_c")
    banded = (sig.select("doc_id", "j", "minhash", cfg)
              .groupBy(F.col("_c.bands").alias("bands"), "doc_id",
                       (F.col("j") / F.col("_c.r")).cast("int")
                       .alias("band"))
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("j", "minhash"))),
                      lambda s: s["minhash"].cast("string")), ",")
                  .alias("band_key")))
    cands = (banded.alias("a")
             .join(banded.alias("b"), ["bands", "band", "band_key"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select("bands", F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"))
             .distinct())
    scored = (cands.join(jac, ["id_a", "id_b"], "left")
              .groupBy("bands")
              .agg(F.count("*").cast("bigint").alias("n_candidates"),
                   F.sum(F.when(F.coalesce("jaccard", F.lit(0.0))
                                >= 0.2, 1).otherwise(0))
                   .cast("bigint").alias("n_true")))
    # every config reports a row, as the oracle's global aggregates do
    # (no candidates: 0, n_true NULL); scored is <= 3 rows
    configs = spark.createDataFrame(
        [(b, NUM_HASHES // b) for b in _TUNE_BANDS],
        "bands bigint, rows_per_band bigint")
    return (configs.join(F.broadcast(scored), "bands", "left")
            .select("bands", "rows_per_band",
                    F.coalesce("n_candidates", F.lit(0)).cast("bigint")
                    .alias("n_candidates"),
                    "n_true",
                    F.round(F.col("n_true") * 1.0
                            / F.nullif(F.col("n_candidates"), F.lit(0)), 6)
                    .alias("precision")))


def _fs_em_oracle() -> str:
    """Unrolled 2-iteration EM oracle mirroring
    fmx.operators.linkage.fellegi_sunter_em on the scaled-block
    candidate relation: same literal inits (lambda 0.1, m 0.9, u 0.1),
    same left-to-right product parenthesization, same 9dp
    round-before-reuse on every per-round estimate and posterior."""
    fields = ["a_seg", "a_band", "a_tail"]

    def prod(expr0, per_field):
        e = expr0
        for f in fields:
            e = f"({e} * {per_field(f)})"
        return e

    def post(lam, m, u):
        pm = prod(f"({lam})",
                  lambda f: (f"CASE WHEN {f} = 1 THEN {m(f)} "
                             f"ELSE 1.0 - {m(f)} END"))
        pu = prod(f"(1.0 - {lam})",
                  lambda f: (f"CASE WHEN {f} = 1 THEN {u(f)} "
                             f"ELSE 1.0 - {u(f)} END"))
        return f"round({pm} / ({pm} + {pu}), 9)"

    w1 = post("0.1", lambda f: "0.9", lambda f: "0.1")
    w2 = post("lam", lambda f: f"m_{f}", lambda f: f"u_{f}")
    mcols = ",\n             ".join(
        f"round(sum((CAST(n_pairs AS DOUBLE) * w) * {f})"
        f" / sum(CAST(n_pairs AS DOUBLE) * w), 9) AS m_{f},\n"
        f"             round(sum((CAST(n_pairs AS DOUBLE) * (1.0 - w))"
        f" * {f}) / sum(CAST(n_pairs AS DOUBLE) * (1.0 - w)), 9)"
        f" AS u_{f}"
        for f in fields)
    return f"""
    WITH {_FS_CORPUS},
    cand AS ({_FS_FLAGS}
      FROM probes p JOIN clean c
        ON p.nation_p = c.c_nationkey AND p.tail_p = c.tail),
    pat AS (SELECT a_seg, a_band, a_tail,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM cand GROUP BY 1, 2, 3),
    it1 AS (SELECT *, {w1} AS w FROM pat),
    mu AS (SELECT round(sum(CAST(n_pairs AS DOUBLE) * w)
                        / sum(CAST(n_pairs AS DOUBLE)), 9) AS lam,
             {mcols}
           FROM it1),
    it2 AS (SELECT pat.*, {w2} AS w FROM pat, mu),
    lh AS (SELECT round(sum(CAST(n_pairs AS DOUBLE) * w)
                        / sum(CAST(n_pairs AS DOUBLE)), 6)
               AS lambda_hat
           FROM it2)
    SELECT concat(CAST(a_seg AS VARCHAR), CAST(a_band AS VARCHAR),
                  CAST(a_tail AS VARCHAR)) AS pattern,
           CAST(a_seg AS INT) AS a_seg, CAST(a_band AS INT) AS a_band,
           CAST(a_tail AS INT) AS a_tail, n_pairs,
           round(w, 6) AS posterior_match, lambda_hat
    FROM it2, lh
    """


@query("er_fellegi_sunter_em", oracle=_fs_em_oracle())
def er_fellegi_sunter_em(spark, sf):
    """UNSUPERVISED Fellegi-Sunter via EM
    (fmx.operators.linkage.fellegi_sunter_em, 2 unrolled rounds,
    Winkler 1988 — the fit loop behind Splink): estimates the match
    prior lambda and per-field m/u agreement probabilities from the
    agreement-pattern counts ALONE — no labels, which is the normal
    production linkage case (the supervised er_fellegi_sunter keeps
    its labeled m/u as the calibration reference).  Candidates come
    from the same scaled composite block (nation, tail) as
    er_fellegi_sunter_scaled over the shared corrupted-probe corpus;
    EM runs entirely on the <= 8-row pattern relation, so estimation
    costs one pattern-count shuffle at any corpus size.  Every
    per-round estimate and posterior is rounded to 9dp on both sides
    before reuse (the round-before-reuse rule); the output posterior
    and lambda are 6dp."""
    from pyspark.sql import functions as F

    from fmx.operators.linkage import fellegi_sunter_em

    cust = T(spark, sf, "customer")
    tail = F.expr("substring(c_name, length(c_name)-1, 2)")
    probes = cust.select(
        F.col("c_custkey").alias("probe_id"),
        ((F.col("c_nationkey")
          + F.when(F.col("c_custkey") % 5 == 0, 1).otherwise(0)) % 25)
        .alias("nation_p"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse("c_mktsegment"))
        .otherwise(F.col("c_mktsegment")).alias("seg_p"),
        (F.floor(F.col("c_acctbal") / 500.0).cast("bigint")
         + F.when(F.col("c_custkey") % 3 == 0, 1).otherwise(0))
        .alias("band_p"),
        F.when(F.col("c_custkey") % 11 == 0, F.reverse(tail))
        .otherwise(tail).alias("tail_p"))
    clean = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500.0).cast("bigint").alias("band"),
        tail.alias("tail"))
    cands = (probes.join(clean,
                         (probes["nation_p"] == clean["c_nationkey"])
                         & (probes["tail_p"] == clean["tail"]))
             .select((F.col("seg_p") == F.col("c_mktsegment"))
                     .cast("int").alias("a_seg"),
                     (F.col("band_p") == F.col("band"))
                     .cast("int").alias("a_band"),
                     (F.col("tail_p") == F.col("tail"))
                     .cast("int").alias("a_tail")))
    return fellegi_sunter_em(cands, ["a_seg", "a_band", "a_tail"],
                             iters=2)
