"""Deduplication operators for large-scale text corpora.

Everything is a pure DataFrame -> DataFrame function built from shuffles
that scale: shingle joins key on the shingle (hot-key capped via
document-frequency filtering), MinHash banding turns O(n²) similarity
into an equi-join on (band, band-key), and all hashes are md5-derived so
results are deterministic in any engine (the DuckDB oracles replay the
identical arithmetic).

Ops: exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket-join), SimHash, n-gram Jaccard, embedding-cosine near-dup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fmx.core import linalg as L

__all__ = [
    "exact_dedup", "word_shingles", "shingle_array", "hash64",
    "minhash_signatures",
    "minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash",
    "embedding_lsh_buckets", "embedding_near_dup_pairs",
    "incremental_dedup", "duplicate_spans", "semantic_dedup",
    "minhash_cross_pairs", "dedup_keep_best", "containment_pairs",
    "split_leakage", "weighted_jaccard_pairs", "allpairs_prefix_jaccard",
    "allpairs_prefix_jaccard_canonical",
]


def hash64(col, salt: int | None = None):
    """Deterministic 60-bit hash: first 15 hex chars of md5 -> BIGINT.

    Engine-portable (DuckDB: ``CAST(concat('0x', substring(md5(x),1,15))
    AS BIGINT)``) unlike xxhash64/murmur which differ across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(F.lit(f"{salt}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _fanout_narrow(df: DataFrame) -> DataFrame:
    """Repartition a SMALL scan up to the session's parallelism before
    CPU-heavy tokenization — and only then.

    A sub-row-group parquet file scans as ONE partition, so explode +
    per-span aggregation single-thread no matter how many cores the
    session has (measured: dedup_span_profile 2.4 s -> 1.2 s at sf0.1
    on local[32] from this alone).  The gate makes it scale-safe: when
    the scan already yields at least defaultParallelism partitions —
    every real corpus at cluster scale — this is the identity, no
    shuffle is added, and the plan is byte-identical.  The fan-out
    shuffle, when it does fire, moves only the narrow (id, text)
    relation of a corpus small enough to have come from so few
    partitions in the first place."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate removal: group on content hash, keep min id.

    Returns (content_hash, keep_id, dup_count).  Hash-groupBy with
    map-side combine; the only wide exchange keys on md5 — uniform, no
    skew at any scale.
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).cast("bigint").alias("keep_id"),
                 F.count("*").alias("dup_count")))


def shingle_bearing(text_col: str, n: int = 3):
    """Column predicate: True iff ``word_shingles`` emits at least one
    shingle for this text.  This is THE single source of that rule —
    it mirrors word_shingles' tokenization exactly (split on a single
    space; empty tokens count) and its ``size(t) >= n`` guard.  Any
    consumer that needs "does this doc shingle?" (e.g. the canonical
    APSS within-group fan-out) must use this helper, never re-derive
    the predicate inline: a tokenization change here and in
    word_shingles together keeps the row-identical contract; a drifted
    copy would silently emit J=1.0 pairs the plain operator never
    produces."""
    return F.size(F.split(F.col(text_col), " ")) >= n


def _shingle_expr(n: int, tok_col: str = "t"):
    """THE single source of shingle construction over a pre-split token
    array column: word n-gram windows via transform/sequence/slice,
    guarded by ``size(t) >= n`` — Spark's sequence(1, 0) yields a
    DESCENDING [1, 0], not empty, so an unguarded transform would
    fabricate shingles.  Both consumers (word_shingles' exploded long
    form, shingle_array's in-row form) build from this one expression,
    so the tokenization can never drift between them.  Kept as an
    expression constructor rather than a shared DataFrame stage
    because the two forms need different PLACEMENT: exploding the
    expression directly fuses into one Generate, while exploding a
    pre-projected array column measured 4.7x slower at sf0.1 (the
    materialized-array Project blocks the fused generate path)."""
    return F.expr(
        f"CASE WHEN size({tok_col}) >= {n} THEN"
        f" transform(sequence(1, size({tok_col}) - {n - 1}),"
        f"  i -> concat_ws(' ', slice({tok_col}, i, {n})))"
        f" ELSE CAST(array() AS array<string>) END")


def shingle_array(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  distinct: bool = False) -> DataFrame:
    """Per-document shingle ARRAY: (id, _sh array<string>) — the
    in-row form of ``word_shingles``, built from the shared
    ``_shingle_expr`` tokenization.

    ``distinct=True`` applies set semantics IN-ROW (array_distinct) —
    a map-only pass; consumers that need the exploded relation
    globally deduplicated per (id, shingle) get the same rows either
    way.  No explode until the caller asks for long format."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    arr = _shingle_expr(n)
    if distinct:
        arr = F.array_distinct(arr)
    return toks.select(id_col, arr.alias("_sh"))


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  max_df: int | None = None,
                  distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle), distinct by
    default (set semantics for Jaccard).

    ``distinct=False`` skips the dedup shuffle for consumers that are
    duplicate-insensitive (MinHash: min over a multiset equals min over
    its set).  ``max_df`` drops shingles appearing in more than that
    many documents — the standard hot-key guard that keeps the
    downstream shingle self-join skew-free at corpus scale (a shingle
    shared by 1M docs would otherwise produce 10¹² join rows).  With
    ``max_df`` set, documents with a NULL id have no shingles.
    """
    # shingle construction is single-sourced in _shingle_expr (r12
    # advice: an inline copy of the transform/sequence/slice expression
    # here could silently drift from the in-row form).  The expression
    # is exploded DIRECTLY — not via shingle_array's materialized
    # array column — so the Generate stays fused (4.7x, see
    # _shingle_expr)
    if max_df is not None:
        # the id joins downstream would push an inferred IS NOT NULL
        # below the set branch only; filtering here keeps it and the
        # frequency branch one subtree, tokenized by one scan stage
        df = df.filter(F.col(id_col).isNotNull())
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    sh = toks.select(id_col, F.explode(_shingle_expr(n)).alias("shingle"))
    if distinct:
        sh = sh.distinct()
    if max_df is not None:
        # document frequency via groupBy + broadcast-friendly join, NOT
        # count(*) OVER (PARTITION BY shingle): the window would
        # materialize every hot-shingle partition in one task — exactly
        # the skew this guard exists to prevent.  An inner join (keep's
        # shingles are unique, so the rows are a semi-join's): a
        # left-semi join is pushed below the set branch's distinct,
        # and the frequency branch's exchange would no longer match it
        keep = (sh.groupBy("shingle")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("shingle"))
        sh = sh.join(keep, "shingle").select(id_col, "shingle")
    return sh


def duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                    n: int = 8, max_df: int | None = None) -> DataFrame:
    """Span-level (substring) duplication profile per document:
    (id, n_spans, dup_spans, dup_span_ratio).

    Doc-level dedup misses boilerplate REPEATED INSIDE otherwise-unique
    documents (headers, license blocks, templated paragraphs) — the
    single largest contamination source in web-scale training corpora
    (the "deduplicating training data" result).  This op counts, for
    every document, how many of its word n-gram windows (all
    occurrences, not the distinct set) also appear in at least one
    OTHER document; ``dup_span_ratio`` is the filterable signal.

    Distributed shape: one explode -> (id, span) pre-aggregation
    (map-side combine collapses within-doc repeats) -> per-span
    document frequency as ``count(*) over (partition by shingle)`` on
    the SAME aggregate -> per-doc conditional sum.  The window (not a
    second groupBy + join-back) matters: a join formulation makes
    Spark re-scan and re-explode the corpus for the frequency branch —
    measured 1.7x slower at sf0.1 — while the window reuses the one
    shuffled aggregate.  Never a self-join of spans; output is one row
    per document.  Skew bound: a window partition holds one row per
    document containing that shingle, so pathological boilerplate
    (one span in most of the corpus) degrades to a straggler — gate
    such corpora with ``max_df``: spans appearing in more than that
    many documents are excluded from the profile entirely (numerator
    AND denominator, the same filtered-set convention as
    ngram_jaccard_pairs).  With max_df set the frequency comes from a
    skew-free hash-agg joined back on keys that are ≤ max_df docs BY
    CONSTRUCTION — the hot window partition never forms.  A document
    whose every span is excluded emits no row.  Small scans fan out
    to session parallelism first (_fanout_narrow — identity at scale).
    """
    sh = word_shingles(_fanout_narrow(df), id_col, text_col,
                       n=n, distinct=False)
    occ = sh.groupBy(id_col, "shingle").agg(F.count("*").alias("cnt"))
    if max_df is not None:
        dfc = (occ.groupBy("shingle")
               .agg(F.count("*").alias("ndocs"))
               .filter(F.col("ndocs") <= max_df))
        # inner join both drops hot shingles and attaches ndocs; every
        # surviving key joins to <= max_df rows, so no straggler task.
        # shuffled-hash build on the narrow (shingle, ndocs) side
        # skips sort-merge's per-partition sort of the span relation
        # (guide §3.1; same contract as the APSS dfreq join: the build
        # slice is a hash-partitioned vocab fragment, and its keys are
        # <= max_df docs by construction)
        occ = occ.join(dfc.hint("shuffle_hash"), "shingle")
    else:
        occ = occ.withColumn(
            "ndocs", F.count("*").over(Window.partitionBy("shingle")))
    dup = F.when(F.col("ndocs") >= 2, F.col("cnt")).otherwise(F.lit(0))
    return (occ
            .groupBy(id_col)
            .agg(F.sum("cnt").cast("bigint").alias("n_spans"),
                 F.sum(dup).cast("bigint").alias("dup_spans"))
            .select(F.col(id_col).cast("bigint").alias(id_col),
                    "n_spans", "dup_spans",
                    F.round(F.col("dup_spans") / F.col("n_spans"), 6)
                    .alias("dup_span_ratio")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.2,
                        max_df: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Distributed as: shingle equi-join (keys on shingle) -> pair count ->
    join to per-doc sizes.  Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    ``max_df`` (default 1000) drops shingles shared by more than that
    many documents BEFORE the self-join — the quadratic guard is ON by
    default: one stop-shingle in 1M docs would otherwise emit 10¹² join
    rows.  Per-doc sizes are computed on the filtered shingle sets, so
    Jaccard stays internally consistent.  ``max_df=None`` disables
    (exact semantics, test-only).
    """
    return (_shingle_pair_counts(df, id_col, text_col, n, max_df)
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    (F.col("inter")
                     / (F.col("na") + F.col("nb") - F.col("inter")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def _shingle_pair_counts(df: DataFrame, id_col: str, text_col: str,
                         n: int, max_df: int | None) -> DataFrame:
    """Shared pair machinery for the shingle-overlap scorers
    (``ngram_jaccard_pairs``, ``containment_pairs``): shingle
    equi-join -> per-pair intersection count -> per-doc sizes joined
    on.  Returns (id_a, id_b, inter, na, nb) with id_a < id_b; sizes
    are computed on the max_df-filtered shingle sets so every score
    derived from them stays internally consistent."""
    sh = word_shingles(df, id_col, text_col, n=n, max_df=max_df)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# fixed affine permutation coefficients (a_j, b_j); a_j < 2^31 keeps
# a_j * (h % P) < 2^62 — no BIGINT overflow in Spark or DuckDB
MINHASH_COEFFS = [(40503 * (j + 1) + 17, 69621 * (j + 1) + 3) for j in range(64)]


def minhash_slot(h, j: int):
    """j-th MinHash permutation of a base hash column: (a_j*h + b_j) % P.
    One md5 per shingle total — the permutations are integer affine maps
    (Broder's scheme), 8x cheaper than salted re-hashing."""
    a, b = MINHASH_COEFFS[j]
    return (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)


def _minhash_wide(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int, shingle_n: int) -> DataFrame:
    """(id, _h0.._h{n-1}) in ONE shuffle: num_hashes min-aggregates over
    the shingle relation, all map-side combinable.  distinct=False —
    min() is duplicate-insensitive, so the dedup shuffle is pure cost.

    (A zero-shuffle higher-order-function formulation — per-row
    transform + array_min — replays the same arithmetic but measured
    24x SLOWER at sf0.1: lambda expressions evaluate interpreted
    per-element outside whole-stage codegen, and each min slot
    re-evaluates the md5 base array since subexpression elimination
    does not reach into separate lambda trees.  The explode + groupBy
    shape keeps every md5 inside codegen and hashes each shingle
    exactly once; map-side combine already bounds the shuffle at one
    partial row per (task, id).)"""
    sh = word_shingles(df, id_col, text_col, n=shingle_n, distinct=False)
    sh = sh.withColumn("_h", hash64("shingle"))
    aggs = [F.min(minhash_slot(F.col("_h"), j)).alias(f"_h{j}")
            for j in range(num_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """MinHash signatures in long format: (id, j, minhash) for j in
    [0, num_hashes)."""
    wide = _minhash_wide(df, id_col, text_col, num_hashes, shingle_n)
    slots = F.array(*[
        F.struct(F.lit(j).alias("j"), F.col(f"_h{j}").alias("minhash"))
        for j in range(num_hashes)])
    return (wide.select(id_col, F.explode(slots).alias("s"))
            .select(F.col(id_col),
                    F.col("s.j").alias("j"),
                    F.col("s.minhash").alias("minhash")))


def _banded_signature(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int, bands: int,
                      shingle_n: int) -> DataFrame:
    """(id, band, band_key) LSH banding of the wide MinHash signature —
    a narrow projection, so banding adds ZERO shuffles on top of the
    one signature aggregation.  Shared by the self-join
    (minhash_lsh_pairs) and cross-corpus (minhash_cross_pairs) paths.

    ``bands`` must divide ``num_hashes``: a non-divisor would silently
    truncate rows_per_band — and bands > num_hashes would make EVERY
    band_key the empty string, degenerating the banding equi-join into
    a full cross-product.
    """
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must be a positive divisor of "
            f"num_hashes={num_hashes} (rows_per_band = num_hashes/bands)")
    rows_per_band = num_hashes // bands
    wide = _minhash_wide(df, id_col, text_col, num_hashes, shingle_n)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[F.col(f"_h{j}").cast("string")
                               for j in range(b * rows_per_band,
                                              (b + 1) * rows_per_band)])
            .alias("band_key"))
        for b in range(bands)])
    return (wide.select(id_col, F.explode(band_structs).alias("bs"))
            .select(id_col, F.col("bs.band").alias("band"),
                    F.col("bs.band_key").alias("band_key")))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 8, bands: int = 4,
                      shingle_n: int = 3,
                      verify_threshold: float | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of their MinHash
    signature.  O(n²) similarity becomes an equi-join on (band,
    band_key); optionally verified with exact Jaccard >= threshold.

    Returns (id_a, id_b[, jaccard]).
    """
    banded = _banded_signature(df, id_col, text_col, num_hashes, bands,
                               shingle_n)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    pairs = (a.join(b, ["band", "band_key"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select(F.col("id_a").cast("bigint").alias("id_a"),
                     F.col("id_b").cast("bigint").alias("id_b"))
             .distinct())
    if verify_threshold is None:
        return pairs
    exact = ngram_jaccard_pairs(df, id_col, text_col, n=shingle_n,
                                threshold=verify_threshold)
    return pairs.join(exact, ["id_a", "id_b"])


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 16) -> DataFrame:
    """Term-frequency-weighted SimHash fingerprint: (id, simhash).

    Each token votes ±1 per bit of its 60-bit hash; the fingerprint sets
    bit b where the vote sum is positive.  One hash-agg (bits
    conditional sums), fully map-side combinable.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    th = toks.withColumn("h", hash64("tok"))
    votes = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1)
              .otherwise(-1)).alias(f"_b{b}")
        for b in range(bits)]
    wide = th.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return wide.select(F.col(id_col).cast("bigint").alias(id_col),
                       fp.cast("bigint").alias("simhash"))


def connected_components(pairs: DataFrame, ids: DataFrame, id_col: str,
                         max_iter: int = 20) -> DataFrame:
    """Resolve near-dup pairs into clusters: (id, cluster_id) where
    cluster_id is the min id reachable through the pair graph — the
    step that turns pairwise similarity into keep/drop decisions.

    Iterative min-label propagation over the (undirected) edge list
    WITH POINTER JUMPING: each round every node adopts the smallest
    label among itself and its neighbors, then resolves one label
    indirection (label <- label's label — valid because a label is
    always a node id in the same component, and min-monotone).  The
    shortcut halves the remaining label-tree depth per round, so
    convergence is O(log diameter) instead of O(diameter) — on a
    tree-like epsilon graph (the emb_epsilon_components giant
    component at sf0.1 is 1603 nodes on ~2000 edges) this is the
    difference between ~6 rounds and 20+ (the round-9 fix: the plain
    propagation silently hit max_iter there and shipped one
    unconverged label).  Each round is EXACTLY ONE action: the eager
    ``localCheckpoint`` (which also truncates lineage — same medicine
    as the SGD loop) carries an ``observe`` metric counting changed
    labels, so convergence detection rides the same job instead of a
    second count() that would recompute the round's joins.  This is a
    deliberately non-SQL iterative dataflow.
    """
    from pyspark.sql import Observation

    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst"))))
    labels = ids.select(F.col(id_col).alias("node"),
                        F.col(id_col).alias("label"))
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels, edges.dst == labels.node)
                        .groupBy("src").agg(F.min("label").alias("nmin")))
        stepped = (labels.join(neighbor_min,
                               labels.node == neighbor_min.src, "left")
                   .select("node", F.col("label").alias("_l0"),
                           F.least("label", F.coalesce("nmin", "label"))
                           .alias("_l1")))
        # pointer jump: one indirection through the PREVIOUS round's
        # label table (already localCheckpointed, so this side costs a
        # cached scan — jumping through `stepped` itself would plan the
        # expensive neighbor-min join twice per round).  Every label IS
        # a node id, so the inner join is total; prev labels are
        # min-monotone and component-internal, so the shortcut is safe.
        parent = labels.select(F.col("node").alias("_pn"),
                               F.col("label").alias("_pl"))
        new_label = F.least("_l1", "_pl")
        obs = Observation()
        updated = (stepped
                   .join(parent, stepped["_l1"] == parent["_pn"])
                   .select("node", new_label.alias("label"),
                           (new_label != F.col("_l0")).cast("long")
                           .alias("_chg"))
                   .observe(obs, F.sum("_chg").alias("changed"))
                   .select("node", "label"))
        labels = updated.localCheckpoint(eager=True)
        if not (obs.get["changed"] or 0):
            break
    return labels.select(F.col("node").cast("bigint").alias(id_col),
                         F.col("label").cast("bigint").alias("cluster_id"))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str) -> DataFrame:
    """End-to-end near-dup removal: cluster the pair graph, keep the min
    id per cluster.  Returns the surviving rows of ``df``."""
    comps = connected_components(pairs, df.select(id_col), id_col)
    keep = (comps.groupBy("cluster_id")
            .agg(F.min(id_col).alias("_keep"))
            .select(F.col("_keep").alias(id_col)))
    return df.join(keep, id_col, "left_semi")


def embedding_lsh_buckets(df: DataFrame, id_col: str, vec_col: str,
                          num_planes: int = 4,
                          num_tables: int = 4) -> DataFrame:
    """Multi-table sign-LSH buckets: (id, table, bucket) — ``num_tables``
    independent md5-derived plane sets (higher table count = higher
    recall: P(candidate) = 1-(1-p^planes)^tables for per-plane agreement
    p = 1-θ/π).  One hash-agg computes every projection; bucketing is a
    narrow projection on the wide row."""
    from fmx.operators.similarity import _plane_component

    ex = df.select(F.col(id_col),
                   F.posexplode(F.col(vec_col).cast("array<double>"))
                   .alias("pos", "x"))
    projs = [
        F.sum(F.col("x") * _plane_component(p, F.col("pos"), table=t))
        .alias(f"_d{t}_{p}")
        for t in range(num_tables) for p in range(num_planes)]
    wide = ex.groupBy(id_col).agg(*projs)
    tbl_structs = F.array(*[
        F.struct(
            F.lit(t).alias("table"),
            F.concat(*[F.when(F.col(f"_d{t}_{p}") >= 0, F.lit("1"))
                       .otherwise(F.lit("0")) for p in range(num_planes)])
            .alias("bucket"))
        for t in range(num_tables)])
    return (wide.select(id_col, F.explode(tbl_structs).alias("tb"))
            .select(F.col(id_col), F.col("tb.table").alias("table"),
                    F.col("tb.bucket").alias("bucket")))


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.35,
                             num_planes: int = 4, num_tables: int = 4,
                             all_pairs: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs >= threshold.

    Default path (the scale path): multi-table sign-LSH bucketing →
    candidate pairs via equi-join on (table, bucket) → exact cosine
    verify per candidate (one JVM ``zip_with`` fold per pair).  The
    corpus is never all-paired; the price is LSH recall
    (1-(1-p^planes)^tables — ≈0.95 at cosine 0.9 with 4×4, lower near
    the threshold).  All hashes are md5-derived, so the DuckDB oracle
    replays the identical candidate set.

    ``all_pairs=True`` is the exact small-n verifier: long-format dot
    products via pos equi-join — O(n²) pair rows, test-only.
    """
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>")
                     .alias("_v"))
    if all_pairs:
        ex = vecs.select(F.col(id_col), F.posexplode("_v").alias("pos", "x"))
        norms = ex.groupBy(id_col).agg(
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
        a = ex.select(F.col(id_col).alias("id_a"), "pos", F.col("x").alias("xa"))
        b = ex.select(F.col(id_col).alias("id_b"), "pos", F.col("x").alias("xb"))
        dots = (a.join(b, "pos")
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot")))
        na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("na"))
        nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nb"))
        return (dots.join(na, "id_a").join(nb, "id_b")
                .select(F.col("id_a").cast("bigint").alias("id_a"),
                        F.col("id_b").cast("bigint").alias("id_b"),
                        (F.col("dot") / (F.col("na") * F.col("nb")))
                        .alias("cosine"))
                .filter(F.col("cosine") >= threshold))

    buckets = embedding_lsh_buckets(df, id_col, vec_col,
                                    num_planes=num_planes,
                                    num_tables=num_tables)
    ba = buckets.select(F.col(id_col).alias("id_a"), "table", "bucket")
    bb = buckets.select(F.col(id_col).alias("id_b"), "table", "bucket")
    cand = (ba.join(bb, ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    (L.vec_dot("_va", "_vb")
                     / (L.vec_norm("_va") * L.vec_norm("_vb")))
                    .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def incremental_dedup(new_docs: DataFrame, seen_hashes: DataFrame,
                      id_col: str, text_col: str,
                      hash_col: str = "content_hash") -> DataFrame:
    """Incremental exact dedup for a recurring ingest: drop new
    documents whose (normalized) content hash already exists in the
    accumulated fingerprint store, AND dedup the new batch internally
    (keep min id per hash).  Returns the surviving new rows with their
    hash — append it to the store for the next batch.

    The store side is hash-only (one narrow column at any corpus size);
    both the anti-join and the in-batch groupBy key on md5 — uniform,
    skew-free.  This is the steady-state form of exact_dedup: a daily
    crawl joins against years of fingerprints without rescanning old
    text."""
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    hashed = new_docs.withColumn(hash_col, F.md5(norm))
    fresh = hashed.join(seen_hashes.select(hash_col), hash_col, "left_anti")
    # keep-min via ranking window: one shuffle on the hash (executes as
    # WindowGroupLimit per-partition heaps), not groupBy + join-back
    w = Window.partitionBy(hash_col).orderBy(id_col)
    return (fresh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   num_cells: int = 8, cells_per_n: int | None = 250,
                   threshold: float = 0.9,
                   l1_cells: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse
    clustering of the embedding space, then within-cluster near-duplicate
    marking — a vector is a duplicate if its cosine to any LOWER-id
    cell-mate reaches ``threshold`` (greedy keep-first, deterministic).
    Returns (id, cell, nn_lower_sim, is_dup).

    Cells come from FIXED centroids (the vectors with id < num_cells —
    dense-id convention shared with the IVF coarse quantizer in
    fmx.operators.similarity), so any engine replays the identical
    clustering; a trained k-means codebook slots in by replacing the
    centroid relations without touching the plan.

    Assignment is HIERARCHICAL (two-level coarse quantization, the
    IVF-within-IVF standard): ``l1_cells`` level-1 centroids (default
    floor(sqrt(num_cells)); the first l1 centroids double as their own
    level-1 cells) ride ONE broadcast row; each level-2 centroid is
    routed to its nearest level-1 cell, and the level-2 centroids are
    grouped into one row per level-1 cell, reached through an
    equi-join on the level-1 cell key.  AQE broadcasts that grouped
    relation only while it is small; at scale it stays a shuffled,
    executor-side join input.  Per vector the scan cost is
    l1 + num_cells/l1 ~ 2*sqrt(C) dot products instead of the flat C,
    and no centroid ever passes through the driver: at 1B vectors the
    flat path would collect n/250 = 4M centroids to the driver and
    rescan all of them per row.  ``l1_cells=1`` degenerates to the
    exact flat assignment (one level-1 group holding every centroid).
    Both levels take their argmax in-row through the shared coarse
    quantizer (``fmx.operators.similarity._nearest_cells``: highest
    cosine wins, ties to the lowest cell), so the assignment needs no
    per-vector aggregate and no shuffle of the candidate expansion.

    Zero-norm embeddings have no direction, hence no defined cosine:
    they are routed to sentinel cell -1 with NULL nn_lower_sim and
    excluded from pair generation (never compared via raw dot products).

    Scale shape: the quadratic pairwise work is confined WITHIN cells,
    each pair one JVM zip_with fold over unit vectors.  ``cells_per_n``
    grows the cell count with the corpus (num_cells = max(num_cells,
    n // cells_per_n)) so mean cell size stays ~cells_per_n and pair
    volume stays LINEAR in n (sum n_c^2 ~ n * cells_per_n).  The cell
    counts are a 1-row relation derived from count(*) inside the
    query, as the oracle derives them, and reach the centroid filters
    through a broadcast join: building the plan runs no job.  The
    corpus is never globally all-paired.
    """
    from fmx.operators.similarity import _cell_array, _nearest_cells

    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("_v"))
    n2 = F.lit(num_cells)
    if cells_per_n is not None:
        n2 = F.greatest(n2, F.floor(F.count("*") / cells_per_n))
    n1 = (F.lit(l1_cells) if l1_cells is not None
          else F.greatest(F.lit(1), F.floor(F.sqrt(n2))))
    sizes = F.broadcast(vecs.agg(n2.alias("_n2"), n1.alias("_n1")))

    def unit(v: DataFrame) -> DataFrame:
        """(id, _u): unit-normalize ONCE, so every downstream similarity
        is a single dot fold; x * (1.0/nrm) — not x/nrm — so the oracle
        can replay the identical two-rounding arithmetic.  Zero-norm ->
        NULL unit."""
        nrm = L.vec_norm("_v")
        return v.select(
            F.col(id_col),
            F.when(nrm > 0, L.vec_scale("_v", F.lit(1.0) / nrm)).alias("_u"))

    units = unit(vecs)
    live = units.filter(F.col("_u").isNotNull())

    def cents(n: str, payload: str) -> DataFrame:
        """The live vectors with id < the cell count ``n``; the id
        filter runs before the normalization."""
        return (unit(vecs.join(sizes, F.col(id_col) < F.col(n)))
                .filter(F.col("_u").isNotNull())
                .select(F.col(id_col).cast("int").alias("_cell"),
                        F.col("_u").alias(payload)))

    l1w = F.broadcast(_cell_array(cents("_n1", "_c1")))
    # route each level-2 centroid to its nearest level-1 cell (centroid
    # j < l1 maps to itself at cosine 1, so every level-1 group is
    # non-empty)
    l2map = _nearest_cells(cents("_n2", "_c2").crossJoin(l1w),
                           lambda c: L.vec_dot("_c2", c["_c1"]), "_l1")
    v1 = _nearest_cells(live.crossJoin(l1w),
                        lambda c: L.vec_dot("_u", c["_c1"]), "_l1")
    # level 2: each vector meets only its level-1 group's centroids
    assigned = _nearest_cells(v1.join(_cell_array(l2map, "_l1"), "_l1"),
                              lambda c: L.vec_dot("_u", c["_c2"]), "cell")
    # The assignment feeds both join sides.  The left join infers
    # IsNotNull(cell, _id) on its build side only, which alone would keep
    # the two subtrees from canonicalizing equal; filtering the shared
    # projection gives both sides the same filter, so ReuseExchange runs
    # the two-level quantizer once and the second side reads the reused
    # cell exchange (no persist, nothing outlives the query).  Every
    # assigned row has a cell; a NULL-id row, which has no identity to
    # keep or drop, leaves the output.
    pr = (assigned.filter(F.col("cell").isNotNull()
                          & F.col(id_col).isNotNull())
          .select(F.col(id_col).alias("_id"), "cell", "_u"))
    # LEFT self-join with the lower-id check as a RESIDUAL condition
    # keeps every assigned row in the pair relation itself (no third
    # join-back consumer).  shuffle_hash co-partitions both sides like
    # the scale plan without sort-merge's sort of wide vector rows.
    a, b = pr.alias("a"), pr.alias("b")
    nn = (a.join(b.hint("shuffle_hash"),
                 (F.col("a.cell") == F.col("b.cell"))
                 & (F.col("b._id") < F.col("a._id")), "left")
          .groupBy(F.col("a._id").alias("_id"),
                   F.col("a.cell").alias("cell"))
          .agg(F.max(F.round(L.vec_dot(F.col("a._u"), F.col("b._u")), 6))
               .alias("nn_lower_sim")))
    out = (nn.select(F.col("_id").cast("bigint").alias(id_col),
                     F.col("cell").cast("bigint").alias("cell"),
                     "nn_lower_sim",
                     F.coalesce(F.col("nn_lower_sim") >= threshold,
                                F.lit(False)).alias("is_dup")))
    zeros = (units.filter(F.col("_u").isNull())
             .select(F.col(id_col).cast("bigint").alias(id_col),
                     F.lit(-1).cast("bigint").alias("cell"),
                     F.lit(None).cast("double").alias("nn_lower_sim"),
                     F.lit(False).alias("is_dup")))
    return out.unionByName(zeros)


def minhash_cross_pairs(batch: DataFrame, base: DataFrame,
                        id_col: str, text_col: str,
                        num_hashes: int = 8, bands: int = 4,
                        shingle_n: int = 3) -> DataFrame:
    """Cross-corpus near-dup: (batch_id, base_id) pairs where a NEW
    batch document shares any LSH band with an EXISTING corpus document
    — the fuzzy twin of ``incremental_dedup`` (which is exact-hash
    only), and the decontamination shape "which new crawl docs
    near-duplicate the held-out eval set".

    Scale shape: signatures are per-document (one min-agg shuffle per
    side, map-side combinable); banding is a narrow projection; the
    only cross-corpus work is an equi-join on (band, band_key) where
    the batch side is typically a day's crawl against years of base —
    the base corpus is never self-joined and never re-shuffled beyond
    its signature aggregate, which an ingest pipeline would persist
    (store ``_minhash_wide``'s output, not re-derive it).
    """
    a = (_banded_signature(batch, id_col, text_col, num_hashes, bands,
                           shingle_n)
         .withColumnRenamed(id_col, "batch_id"))
    b = (_banded_signature(base, id_col, text_col, num_hashes, bands,
                           shingle_n)
         .withColumnRenamed(id_col, "base_id"))
    return (a.join(b, ["band", "band_key"])
            .select(F.col("batch_id").cast("bigint").alias("batch_id"),
                    F.col("base_id").cast("bigint").alias("base_id"))
            .distinct())


def dedup_keep_best(df: DataFrame, pairs: DataFrame, id_col: str,
                    order_cols: list) -> DataFrame:
    """Quality-aware near-dup removal: cluster the pair graph, keep the
    BEST row per cluster by ``order_cols`` (e.g. longest text, highest
    quality score — real curation rarely wants min-id, which keeps
    whatever crawled first).  Include a unique tiebreaker for
    determinism.  Returns the surviving rows of ``df`` plus their
    ``cluster_id`` and ``cluster_size``.

    Same cluster resolution as dedup_keep_canonical (min-label
    propagation); the keep decision is ONE ranking window per cluster
    (WindowGroupLimit heaps — a mega-cluster never fully sorts).
    """
    comps = connected_components(pairs, df.select(id_col), id_col)
    sized = comps.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("cluster_id")).cast("bigint"))
    w = Window.partitionBy("cluster_id").orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_cols])
    return (df.join(sized, id_col)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, threshold: float = 0.5,
                      max_df: int | None = 1000) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: |A ∩ B| / |A| >= threshold
    with A the SMALLER document — the quote/excerpt/boilerplate-reuse
    detector Jaccard structurally misses (a 50-shingle doc fully
    contained in a 5000-shingle doc has Jaccard ~0.01 but containment
    1.0; symmetric dedup never finds it, and excerpt spam is exactly
    what pollutes a crawl corpus).

    Returns (id_small, id_big, containment, jaccard) — both scores, so
    a caller can see 'contained but not near-identical' directly.
    Same distributed shape and ``max_df`` quadratic guard as
    ``ngram_jaccard_pairs`` (the pair explosion is the same equi-join;
    only the normalization differs), and sizes are computed on the
    filtered shingle sets so both scores stay internally consistent.
    """
    scored = (_shingle_pair_counts(df, id_col, text_col, n, max_df)
              .select(
                  F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
                  .otherwise(F.col("id_b")).cast("bigint")
                  .alias("id_small"),
                  F.when(F.col("na") <= F.col("nb"), F.col("id_b"))
                  .otherwise(F.col("id_a")).cast("bigint")
                  .alias("id_big"),
                  (F.col("inter") / F.least("na", "nb"))
                  .alias("containment"),
                  (F.col("inter")
                   / (F.col("na") + F.col("nb") - F.col("inter")))
                  .alias("jaccard")))
    return scored.filter(F.col("containment") >= threshold)


def split_leakage(df: DataFrame, id_col: str, text_col: str,
                  split_col, num_hashes: int = 8, bands: int = 4,
                  shingle_n: int = 3) -> DataFrame:
    """Train/eval leakage audit: near-duplicate candidate pairs that
    CROSS a split boundary — the check every pretraining pipeline runs
    after splitting, because a test document whose near-dup sits in the
    train set silently inflates eval scores.

    ``split_col`` is a Column assigning each document its split label
    (use fmx.operators.sampling.hash_split's assignment so the audit
    sees exactly the production split).  Candidates come from the same
    MinHash-LSH banding as ``minhash_lsh_pairs`` — the audit cost is
    the dedup cost, an equi-join on (band, band_key), never a
    train x eval cross product.

    Returns (id_a, id_b, split_a, split_b) with split_a <> split_b.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, num_hashes=num_hashes,
                              bands=bands, shingle_n=shingle_n)
    splits = df.select(F.col(id_col).alias("_sid"), split_col.alias("_sp"))
    return (pairs
            .join(splits.select(F.col("_sid").alias("id_a"),
                                F.col("_sp").alias("split_a")), "id_a")
            .join(splits.select(F.col("_sid").alias("id_b"),
                                F.col("_sp").alias("split_b")), "id_b")
            .filter(F.col("split_a") != F.col("split_b")))


def weighted_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                           n: int = 3, threshold: float = 0.2,
                           max_df: int | None = 1000) -> DataFrame:
    """IDF-weighted n-gram Jaccard next to the plain one: every shingle
    carries weight ln(N/df), so boilerplate shingles (high df) barely
    count and rare content dominates — the reweighting that separates
    "two docs share a template" from "two docs share CONTENT" before a
    keep/drop decision.  Returns (id_a, id_b, jaccard,
    weighted_jaccard) for pairs with PLAIN jaccard >= threshold (the
    same candidate set as ngram_jaccard_pairs, so the two scores are
    directly comparable row for row).

    Scale shape: identical to the plain scorer — shingle equi-join
    with the max_df hot-key guard, plus one shingle-grain df agg and a
    broadcast 1-row corpus size.  IDF weights are 6dp-rounded BEFORE
    any summation (the kmeans lesson: both engines must sum identical
    doubles), and every per-doc/per-pair weight sum is a hash agg."""
    sh = word_shingles(df, id_col, text_col, n=n, max_df=max_df)
    nd = sh.agg(F.countDistinct(id_col).alias("_nd"))
    idf = (sh.groupBy("shingle").agg(F.count("*").alias("_df"))
           .crossJoin(F.broadcast(nd))
           .select("shingle",
                   F.round(F.log(F.col("_nd") * 1.0 / F.col("_df")), 6)
                   .alias("w")))
    shw = sh.join(idf, "shingle")
    sizes = shw.groupBy(id_col).agg(F.count("*").alias("n_sh"),
                                    F.sum("w").alias("ws"))
    a = shw.select(F.col(id_col).alias("id_a"), "shingle", "w")
    b = shw.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("i"), F.sum("w").alias("iw")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("na"), F.col("ws").alias("wa"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("nb"), F.col("ws").alias("wb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    (F.col("i")
                     / (F.col("na") + F.col("nb") - F.col("i")))
                    .alias("jaccard"),
                    (F.col("iw")
                     / (F.col("wa") + F.col("wb") - F.col("iw")))
                    .alias("weighted_jaccard"))
            .filter(F.col("jaccard") >= threshold))


def allpairs_prefix_jaccard(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, threshold: float = 0.4) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold via prefix filtering
    (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity Search";
    the MapReduce formulation is Vernica et al., SIGMOD'10).  Returns
    (id_a, id_b, jaccard) with id_a < id_b — the same contract as
    ``ngram_jaccard_pairs``, but with a different scale/recall trade:
    the plain scorer bounds its shingle self-join with the ``max_df``
    hot-key guard, which silently DROPS pairs whose overlap lives in
    hot shingles; prefix filtering bounds the join with zero recall
    loss.

    Why it is exact: order the corpus vocabulary rarest-first by
    (document frequency, shingle) — a total order that needs NO global
    rank materialization, the tuple itself is the sort key — and let
    each document index only its first ``p = s - ceil(t*s) + 1``
    shingles under that order (s = distinct-shingle count).  For any
    pair with Jaccard >= t, the intersection has at least
    ``t/(1+t) * (sa+sb) >= t*sa`` shingles (using the size bound
    ``sb >= t*sa`` implied by J <= min/max), while a document's
    non-prefix suffix holds only ``ceil(t*s) - 1 < t*s`` of them — so
    the pair MUST collide on a prefix shingle of each side and survives
    candidate generation; an exact Jaccard verify then removes false
    candidates.  Skew note: prefix shingles are by construction the
    RAREST in the corpus, so the candidate equi-join is anti-skewed —
    the hot shingles that force ``max_df`` guards elsewhere never enter
    the index.

    Shapes (r13 fused form): map-only in-row shingle dedup, one df agg
    on the shingle grain, ONE doc-grain aggregation building the
    rarest-first ranked shingle array (position = rank; the array
    doubles as the verify set), one candidate equi-join on prefix
    shingle + the PPJoin positional group-filter, and two id-grain
    verify joins counting intersections in-row.  At 100 TB every
    stage is an ordinary shuffle on shingle or doc id.
    """
    # r13 doc-grain fusion (guide §2.3/§2.4 — the round's measured
    # restructure; earlier failed attempts are in SCALE.md "APSS
    # restructure attempts"): the old pipeline materialized the
    # exploded (id, shingle) relation (a global distinct EXCHANGE),
    # ranked it with two windows partitioned by doc (another exchange
    # + per-partition sort, planned TWICE — once per candidate join
    # side), and built the verify arrays with a separate collect_set
    # aggregation (a third corpus-grain exchange).  Three observations
    # collapse all of that into ONE doc-grain aggregation:
    #
    # - (id, shingle) duplicates only exist WITHIN a document, so the
    #   global distinct is equivalent to a map-only in-row
    #   array_distinct over the shingle expression — zero exchanges;
    # - the rarest-first rank is a total order by (df, shingle), so
    #   array_sort over collected (df, shingle) structs replaces the
    #   row_number window, and the array POSITION is the rank;
    # - the ranked array IS the verify array (array_intersect is
    #   hash-based — element order irrelevant), so prefix index and
    #   verify sets are two map-side projections of one relation.
    #
    # Net: tokenize -> one df aggregation -> one doc-grain aggregation;
    # that relation, (id, s, ranked shingle array), is read by
    # candidate generation (both sides) and both verify joins, each
    # through the same doc-grain exchange, which ReuseExchange runs
    # once.
    pairs, _docg = _allpairs_core(df, id_col, text_col, n, threshold)
    return pairs


def _allpairs_core(df: DataFrame, id_col: str, text_col: str,
                   n: int, threshold: float) -> tuple[DataFrame, DataFrame]:
    """Implementation of :func:`allpairs_prefix_jaccard`, additionally
    returning the doc-grain relation (id, _s, _lst) so the canonical
    wrapper can reuse it (its id set IS the shingle-bearing id set —
    the ``shingle_bearing`` predicate made relational — and every
    reader shares its doc-grain exchange, so the reuse is free)."""
    toks = df.select(F.col(id_col),
                     F.split(F.col(text_col), " ").alias("t"))
    sh = toks.select(
        id_col,
        F.explode(F.array_distinct(_shingle_expr(n))).alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    # shuffled-hash join, build side = the (shingle, df) relation
    # (guide §3.1): both sides shuffle on shingle either way, but
    # sort-merge pays a per-partition sort of the full (id, shingle)
    # relation where the hash build touches only the narrow vocab
    # slice — measured 2.9 -> 2.0 s on the sf0.1 headliner (docg
    # subplan alone 1.58 -> 0.98).  Scale contract: the build side is
    # one hash-partitioned slice of the (shingle, count) vocabulary —
    # rows are 16 bytes + string and hash-spread evenly, so the
    # per-task build table stays bounded wherever the vocab slice
    # fits; AQE leaves genuinely oversized partitions on sort-merge.
    docg = (sh.join(dfreq.hint("shuffle_hash"), "shingle")
            .groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("_df").alias("d"),
                             F.col("shingle").alias("sh")))),
                lambda x: x["sh"]).alias("_lst"))
            .select(id_col, F.size("_lst").alias("_s"), "_lst"))
    # p = s - floor(t*s) + 1 rarest shingles form the prefix index.
    # floor (not the canonical ceil) keeps every FP rounding error on
    # the SAFE side: p >= s - ceil(t*s) + 1 always, so a float blip can
    # only lengthen the prefix (more candidates), never break exactness
    # the way an over-ceiled 0.4*25 = 10.000000000000002 would.
    p = (F.col("_s") - F.floor(F.lit(threshold) * F.col("_s")) + 1
         ).cast("int")
    prefix = (docg
              .select(id_col, F.col("_s"),
                      F.posexplode(F.slice("_lst", F.lit(1), p))
                      .alias("_p0", "shingle"))
              .select(id_col, "_s", "shingle",
                      (F.col("_p0") + 1).alias("_rn")))
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle",
                      F.col("_s").alias("sa"), F.col("_rn").alias("pa"))
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle",
                      F.col("_s").alias("sb"), F.col("_rn").alias("pb"))
    # positional filter (Xiao et al., WWW'08 PPJoin), exact: rank every
    # doc's shingles by the global (df, shingle) order (_rn does).  For
    # a candidate pair, its prefix collisions are common shingles, and
    # common shingles rank in the SAME relative order in both docs
    # (both lists are sorted by one total order), so the collision with
    # the minimum rank in A is also the one with the minimum rank in B:
    # (pa0, pb0) = (min pa, min pb) is ONE shingle w0.  No common
    # shingle precedes w0 globally — an earlier common shingle would
    # rank below pa0/pb0 in both docs, hence inside both prefixes
    # (prefix membership is a rank threshold), hence be a collision
    # before w0.  Every other common shingle therefore ranks after w0
    # in both docs:
    #   overlap <= 1 + min(sa - pa0, sb - pb0).
    # J >= t needs overlap >= t/(1+t)*(sa+sb) (i/(sa+sb-i) >= t solved
    # for i), so dropping pairs whose bound misses that is exact — zero
    # recall loss, same -1e-9 FP guard convention as the size filter.
    # The groupBy replaces the former .distinct() (same shuffle, two
    # extra ints) and cuts the verify fan-in 2.2x at sf0.1 (457,277
    # candidate pairs -> 206,264); the verify joins and their per-pair
    # array_intersect were the dominant cost of the canonical APSS
    # headliner (guide §3.2: pre-filter before the expensive join) —
    # canonical headliner best-of-4 7.1 -> 4.0 s.
    alpha = (F.lit(threshold / (1.0 + threshold))
             * (F.col("sa") + F.col("sb")) - 1e-9)
    cands = (a.join(b, "shingle")
             .filter((F.col("id_a") < F.col("id_b"))
                     # -1e-9: J = min/max = t exactly IS attainable
                     # (containment at size ratio t); the epsilon keeps
                     # FP-up products from dropping that legal boundary
                     & (F.least("sa", "sb")
                        >= threshold * F.greatest("sa", "sb") - 1e-9))
             .groupBy("id_a", "id_b", "sa", "sb")
             .agg(F.min("pa").alias("_pa0"), F.min("pb").alias("_pb0"))
             .filter(1 + F.least(F.col("sa") - F.col("_pa0"),
                                 F.col("sb") - F.col("_pb0")) >= alpha)
             .select("id_a", "id_b", "sa", "sb"))
    # exact verify: attach each side's FULL shingle array (the ranked
    # array from the doc-grain relation — array_intersect hashes its
    # inputs, so rarest-first order counts identically to the old
    # lexically sorted set) and count the intersection map-side.
    # This replaced the r10 fan-out verify (explode candidates over
    # id_a's shingles, join on (shingle, id_b)): that shape
    # materialized |cands| x doc-size intermediate rows through two
    # shuffles, measured as the bench headliner's dominant cost at
    # sf0.1; the array verify is two id-equi-joins plus a codegen
    # intersect — same exact counts, no pair fan-out.
    sets = docg.select(id_col, F.col("_lst").alias("_set"))
    inter = (cands
             .join(sets.select(F.col(id_col).alias("id_a"),
                               F.col("_set").alias("_seta")), "id_a")
             .join(sets.select(F.col(id_col).alias("id_b"),
                               F.col("_set").alias("_setb")), "id_b")
             .select("id_a", "id_b", "sa", "sb",
                     F.size(F.array_intersect("_seta", "_setb"))
                     .alias("i")))
    pairs = (inter
             .select(F.col("id_a").cast("bigint").alias("id_a"),
                     F.col("id_b").cast("bigint").alias("id_b"),
                     (F.col("i") / (F.col("sa") + F.col("sb")
                                    - F.col("i"))).alias("jaccard"))
             .filter(F.col("jaccard") >= threshold))
    return pairs, docg


def allpairs_prefix_jaccard_canonical(df: DataFrame, id_col: str,
                                      text_col: str, n: int = 3,
                                      threshold: float = 0.4) -> DataFrame:
    """CANONICALIZE-THEN-MATCH form of ``allpairs_prefix_jaccard`` —
    the round-9 blocked-fuzzy-join rewrite reapplied to exact APSS.
    Jaccard is a function of the shingle SET, so exact-duplicate texts
    are interchangeable: collapse the corpus to one representative per
    distinct text (md5 groupBy — the dedup_exact shuffle), run prefix-
    filtered APSS on representatives only, then fan verdicts back to
    row grain through plain equi-joins: cross-group pairs lift to
    every member combination, and groups of m > 1 duplicates
    contribute their C(m, 2) within-group pairs at jaccard = 1.0.  The
    output is ROW-IDENTICAL to the uncanonicalized operator (same
    (id_a, id_b, jaccard) set — the oracle-hash proves it); the
    candidate join now scales with DISTINCT-text pairs instead of doc
    pairs.  This round's 10x experiment measured why that matters:
    verbatim duplication inflates prefix-candidate volume
    quadratically (574k -> 64.8M candidates, alpha 1.32), which is
    also the standard pipeline argument for running exact dedup BEFORE
    any near-dup pass.

    Exactness guards: a within-group pair exists in the original
    output only if the shared text HAS shingles (< n tokens yields
    none and can never pair), so empty-shingle groups emit nothing;
    cross-group ids re-order through least/greatest to preserve the
    id_a < id_b contract.
    """
    # r14 stage-count diet (r13 verdict #5; guide §2.4 — the cost left
    # after the r13 fusions was ~18 AQE stage-groups x dispatch floor,
    # i.e. exchange COUNT, not bytes).  Three structural cuts:
    #
    # - the representative-text relation fuses into ONE min-struct
    #   aggregation (the pipeline_dataprep r13 pattern): _id — first
    #   struct field, unique — picks exactly the min-id row and
    #   carries its text through the same exchange, replacing the
    #   former groups-agg + corpus-grain semi-join (two exchanges, one
    #   of them shuffling the text column a second time).  Duplicate
    #   texts collapse in the partial agg BEFORE the shuffle;
    # - the member table (rep, id) is ONE window (min over the
    #   fingerprint partition) instead of groups-agg + equi-join —
    #   same exact integer min, one exchange, and the narrow groups
    #   relation disappears entirely;
    # - the within-group shingle-bearing filter reads the APSS core's
    #   doc-grain relation (its id set IS the shingle-bearing
    #   representative set) instead of re-deriving the representative
    #   texts and re-evaluating the predicate.
    #
    # Nothing is checkpointed or pinned: the member table and the APSS
    # core's (id, size, ranked-shingle) relation are each read several
    # times in the one action, always through the same exchange (the
    # fingerprint window's, the doc-grain aggregation's), which
    # ReuseExchange runs once; only the operators above it rerun.
    reps = (df.groupBy(F.md5(F.col(text_col)).alias("_h"))
            .agg(F.min(F.struct(F.col(id_col).alias("_rid"),
                                F.col(text_col).alias("_text")))
                 .alias("_m"))
            .select(F.col("_m._rid").alias("_rid"),
                    F.col("_m._text").alias("_text")))
    rp, docg = _allpairs_core(reps, "_rid", "_text",
                              n=n, threshold=threshold)
    wgrp = Window.partitionBy("_h")
    mem = (df.select(F.col(id_col).alias("_id"),
                     F.md5(F.col(text_col)).alias("_h"))
           .select(F.min("_id").over(wgrp).alias("_rep"), "_id"))
    ma = mem.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_ia"))
    mb = mem.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_ib"))
    cross = (rp.join(ma, "id_a").join(mb, "id_b")
             .select(F.least("_ia", "_ib").cast("bigint").alias("id_a"),
                     F.greatest("_ia", "_ib").cast("bigint").alias("id_b"),
                     "jaccard"))
    # within-group pairs: identical shingle sets, J = 1.0 — but only
    # for texts that HAVE shingles (< n tokens yields none and can
    # never pair).  docg's id set encodes exactly that predicate for
    # the representatives.
    shingled = docg.select(F.col("_rid").alias("_rep"))
    dupm = mem.join(shingled, "_rep")
    within = (dupm.withColumnRenamed("_id", "_ia")
              .join(dupm.withColumnRenamed("_id", "_ib"), "_rep")
              .filter(F.col("_ia") < F.col("_ib"))
              .select(F.col("_ia").cast("bigint").alias("id_a"),
                      F.col("_ib").cast("bigint").alias("id_b"),
                      F.lit(1.0).alias("jaccard")))
    if threshold > 1.0:
        return cross
    return cross.unionAll(within)
