"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk`` / ``mips_topk``: exact brute-force top-k — broadcast
  the (small) query set against the corpus, JVM-native dot products.
  The baseline and the verifier.
- ``random_projection_lsh`` / ``lsh_topk``: sign-LSH bucketing (random
  hyperplanes derived from md5 hashes — engine-portable,
  deterministic).  Candidates share a bucket key, so search is an
  equi-join instead of a cross join; recall tunable via #planes.
- ``ivf_topk``: IVF-style coarse quantization — assign every vector to
  its nearest of C centroids, probe only the query's cells.
- ``pq_encode`` / ``pq_topk`` / ``ivfpq_topk`` (+ the ``*_rerank_topk``
  two-stage forms and the Lloyd-trained ``pq_codebook_trained``):
  product quantization with asymmetric distance computation, over raw
  vectors or over IVF residuals.

Shared cores, so each piece of math has one definition:

- ``_pq_*`` is the one PQ kernel.  ``_pq_dsub`` checks the subspace
  split, ``_pq_argmin`` is the nearest-code rule (round 9, lowest code
  on ties, absent codes skipped), ``_pq_wide`` pivots a codebook to
  one broadcast row per vector position, ``_pq_sums`` is the one
  distance aggregate, ``_pq_codes`` the in-row code vector and
  ``_pq_adc`` the distance-table lookup + ranking.  ``pq_topk`` and
  ``ivfpq_topk`` differ only in the rows they feed it (raw vectors
  vs residuals keyed by cell); ``pq_encode`` and Lloyd training use
  the same argmin at (id, sub) grain.
- ``_top_k`` is every per-query ranking tail (row_number over the
  score, ties to the lower id) and ``_cosine_rerank`` the exact
  rerank of a shortlist.
- ``_nearest_cells`` is the one coarse quantizer: centroids ride one
  broadcast (or joined) ``_cw`` row, which ``_cell_array`` builds from
  a centroid relation, and every nearest-cell assignment — IVF,
  IVF-PQ, SemDeDup's two levels and the cell histogram — ranks the
  cells in-row (highest score first, ties to the lowest cell).  The
  score stays with the caller.

At 100 TB the corpus side never broadcasts; the query side does.  All
plans keep the corpus scan pruned to (id, vector).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fmx.core import linalg as L

__all__ = ["cosine_topk", "mips_topk", "jl_project",
           "random_projection_lsh", "lsh_topk", "ivf_topk",
           "normalize_embeddings", "quantize_embeddings",
           "pq_codebook", "pq_codebook_trained", "pq_encode", "pq_topk",
           "pq_rerank_topk", "rank_eval", "ivfpq_topk", "rrf_fuse",
           "ivfpq_rerank_topk", "gram_matrix", "power_iteration_top_eig",
           "hard_negatives", "ndcg_eval", "range_search", "pca_project",
           "centroid_distance_topk", "kmeans_assign",
           "kmeans_assign_margin", "truncation_fidelity",
           "average_precision_eval",
           "sign_sketch_topk"]


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def _cosine_pairs(corpus: DataFrame, queries: DataFrame, id_col: str,
                  vec_col: str, query_id: str,
                  q_extra: tuple[str, ...] = (),
                  c_extra: tuple[str, ...] = ()) -> DataFrame:
    """Shared broadcast-query exact-cosine pair relation: one row per
    (query, corpus item != query) with the rounded ``cosine`` plus any
    carried columns (``q_extra`` as _q_<name>, ``c_extra`` as
    _c_<name>).  Norms are hoisted out of the pair loop — query norms
    once in the broadcast side, corpus norms once per row; the
    per-pair work is a single dot-product fold.  The zero-norm guard
    and 6dp round live HERE so every consumer (top-k, hard negatives)
    ranks identical values."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias(query_id),
                       F.col(vec_col).alias("_qv"),
                       L.vec_norm(vec_col).alias("_qn"),
                       *[F.col(x).alias(f"_q_{x}") for x in q_extra]))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"),
                      L.vec_norm(vec_col).alias("_cn"),
                      *[F.col(x).alias(f"_c_{x}") for x in c_extra])
    cos = F.round(
        F.when((F.col("_qn") > 0) & (F.col("_cn") > 0),
               L.vec_dot("_qv", "_cv")
               / (F.col("_qn") * F.col("_cn")))
        .otherwise(F.lit(0.0)), 6).alias("cosine")
    return (c.crossJoin(q)
            .filter(F.col(id_col) != F.col(query_id))
            .select(query_id, id_col, cos,
                    *[f"_q_{x}" for x in q_extra],
                    *[f"_c_{x}" for x in c_extra]))


def _top_k(scored: DataFrame, query_id: str, order: F.Column,
           id_col: str, k: int) -> DataFrame:
    """The one per-query ranking tail: ``rank`` = row_number over
    ``order`` with the corpus id as total tie-break, kept while
    <= ``k`` (Spark plans the filter as a per-partition
    WindowGroupLimit, so each partition keeps a k-row heap)."""
    w = Window.partitionBy(query_id).orderBy(order, F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _cell_array(cents: DataFrame, *keys: str) -> DataFrame:
    """Coarse centroids as ``_cw``: a cell-sorted
    ``array<struct<_cell int, ...payload>>``, one row (or one per
    ``keys`` group).  ``cents`` holds ``_cell`` first, then the payload
    the caller's score reads; the caller broadcasts or joins it."""
    fields = [c for c in cents.columns if c not in keys]
    return cents.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("_cw"))


def _nearest_cells(df: DataFrame, score, out: str, n: int = 1) -> DataFrame:
    """The one nearest-cell rule: every ``_cw`` element of a row maps to
    struct(score(element), -cell), so the highest score wins and ties
    go to the lowest cell.  Each row becomes one row per its top ``n``
    cells (score descending, then cell ascending), the cell in ``out``
    and ``_cw`` dropped; a row with no cells drops out.  The ranking is
    in-row: no per-vector aggregate, window or shuffle.  It ends in a
    generator so that the IsNotNull a later join on ``out`` infers is
    evaluated on the generated cell: pushed through a projection it
    would evaluate every score a second time."""
    sims = F.transform("_cw", lambda c: F.struct(
        score(c).alias("s"), (-c["_cell"]).alias("nc")))
    keep = [c for c in df.columns if c != "_cw"]
    top = F.slice(F.reverse(F.array_sort(sims)), 1, n)
    return (df.select(*keep, F.explode(top).alias("_nc"))
            .select(*keep, (-F.col("_nc.nc")).alias(out)))


def _cosine_rerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                   id_col: str, vec_col: str, k: int,
                   query_id: str) -> DataFrame:
    """Exact cosine rerank of a (query_id, id) shortlist: full vectors
    are fetched for the candidate rows only — a candidate-sized
    equi-join, never a corpus-wide one — then the top ``k``."""
    cvec = _as_double(corpus, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("_cv"))
    qvec = _as_double(queries, vec_col).select(
        F.col(id_col).alias(query_id), F.col(vec_col).alias("_qv"))
    sim = (cand.select(query_id, id_col)
           .join(cvec, id_col)
           .join(F.broadcast(qvec), query_id)
           .select(query_id, id_col,
                   F.round(L.cosine_similarity("_qv", "_cv"), 6)
                   .alias("cosine")))
    return _top_k(sim, query_id, F.col("cosine").desc(), id_col, k)


def cosine_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 5,
                query_id: str = "query_id") -> DataFrame:
    """Exact cosine top-k: (query_id, id, cosine, rank).

    ``queries`` is broadcast (ANN queries are few); the corpus streams
    through one narrow stage — no shuffle of the corpus until the final
    per-query top-k (a k-row heap per partition via window + filter).
    Rank is deterministic: ties broken on corpus id after rounding.
    """
    sim = _cosine_pairs(corpus, queries, id_col, vec_col, query_id)
    return _top_k(sim, query_id, F.col("cosine").desc(), id_col, k)


def mips_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
              vec_col: str, k: int = 5,
              query_id: str = "query_id") -> DataFrame:
    """Exact maximum-inner-product top-k: (query_id, id, dot, rank).

    The UNNORMALIZED retrieval mode (recommendation scores, learned
    late-interaction scores) — cosine's ranking is wrong when vector
    magnitude carries signal.  Same broadcast-queries/stream-corpus
    shape as cosine_topk; dot is rounded 6dp before ranking so ties
    resolve identically in any engine.  Scale path: MIPS reduces to
    cosine ANN by the standard augmentation x -> [x, sqrt(M^2-|x|^2)],
    q -> [q, 0] (M = max corpus norm), after which every bucketed
    index in this module (LSH / IVF / PQ) serves it — the brute-force
    form here is the rerank/oracle baseline."""
    q = F.broadcast(queries.select(F.col(id_col).alias(query_id),
                                   F.col(vec_col).alias("_qv")))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    pairs = (c.crossJoin(q)
             .filter(F.col(id_col) != F.col(query_id))
             .select(query_id, id_col,
                     F.round(L.vec_dot("_qv", "_cv"), 6).alias("dot")))
    return _top_k(pairs, query_id, F.col("dot").desc(), id_col, k)


def jl_project(df: DataFrame, id_col: str, vec_col: str,
               out_dims: int = 8) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dims``
    dimensions using the SAME md5-derived hyperplanes as the sign-LSH
    bucketer (single-sourced via _plane_component) — but emitting the
    REAL-VALUED projections as features (long format: id, p,
    projection) instead of thresholding to bits.  Same long-format
    shape as random_projection_lsh: explode to (id, pos, x), one
    hash-agg per vector; the plane component is a pure function of
    (p, pos) so nothing joins in."""
    ex = _as_double(df, vec_col).select(
        F.col(id_col), F.posexplode(vec_col).alias("pos", "x"))
    projs = [
        F.round(F.sum(F.col("x") * _plane_component(p, F.col("pos"))), 6)
        .alias(f"_d{p}") for p in range(out_dims)]
    wide = ex.groupBy(id_col).agg(*projs)
    pairs = F.array(*[
        F.struct(F.lit(p).cast("bigint").alias("p"),
                 F.col(f"_d{p}").alias("projection"))
        for p in range(out_dims)])
    return (wide.select(id_col, F.explode(pairs).alias("_e"))
            .select(id_col, F.col("_e.p").alias("p"),
                    F.col("_e.projection").alias("projection")))


def _plane_component(p: int, i, table: int | None = None) -> F.Column:
    """Deterministic hyperplane component in [-1, 1): md5-derived so any
    engine can replay it (DuckDB oracle does).  ``table`` salts the
    plane set, giving independent hash tables for multi-probe LSH."""
    tag = f"plane:{p}:" if table is None else f"plane:{table}:{p}:"
    h = F.conv(F.substring(F.md5(F.concat(F.lit(tag),
                                          i.cast("string"))), 1, 15),
               16, 10).cast("double")
    return h / F.lit(float(2 ** 59)) - F.lit(1.0)


def random_projection_lsh(df: DataFrame, id_col: str, vec_col: str,
                          num_planes: int = 8) -> DataFrame:
    """Sign-LSH bucket per vector: (id, bucket) where bucket is the
    bit-string of sign(v·h_p) for md5-derived hyperplanes h_p.

    Computed in long format: explode to (id, pos, x), join nothing —
    the plane component is a *function* of (p, pos), so each projection
    is one hash-agg over k·P rows per vector.
    """
    ex = _as_double(df, vec_col).select(
        F.col(id_col), F.posexplode(vec_col).alias("pos", "x"))
    projs = [
        F.sum(F.col("x") * _plane_component(p, F.col("pos"))).alias(f"_d{p}")
        for p in range(num_planes)]
    wide = ex.groupBy(id_col).agg(*projs)
    bucket = F.concat(*[
        F.when(F.col(f"_d{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(num_planes)])
    return wide.select(F.col(id_col), bucket.alias("bucket"))


def lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 5, num_planes: int = 6,
             multiprobe: bool = False,
             query_id: str = "query_id") -> DataFrame:
    """ANN top-k: candidates = same sign-LSH bucket; exact cosine rerank
    within the bucket.  The corpus-side work is an equi-join on bucket —
    at 10⁹ vectors this is the difference between feasible and not.

    ``multiprobe=True`` additionally probes every bucket at Hamming
    distance 1 from the query's bucket (flip each plane bit): recall
    rises steeply for (num_planes+1)x the probe volume, and the probe
    expansion happens on the QUERY side only — the corpus is still
    touched through the same equi-join, so the 100 TB side never
    fans out."""
    cb = random_projection_lsh(corpus, id_col, vec_col, num_planes)
    qb = random_projection_lsh(queries, id_col, vec_col, num_planes)
    c = corpus.join(cb, id_col)
    q = (queries.join(qb, id_col)
         .select(F.col(id_col).alias(query_id), F.col(vec_col).alias("_qv"),
                 "bucket"))
    if multiprobe:
        # the bucket is a BIT-STRING ("0110"), so Hamming-1 neighbours
        # come from flipping one character — never integer XOR, which
        # would implicitly cast the string to a decimal number and probe
        # buckets that cannot exist
        b = F.col("bucket")

        def flip(p: int) -> F.Column:
            ch = F.substring(b, p + 1, 1)
            return F.concat(
                F.substring(b, 1, p),
                F.when(ch == "1", F.lit("0")).otherwise(F.lit("1")),
                F.substring(b, p + 2, num_planes))

        probes = F.array(b, *[flip(p) for p in range(num_planes)])
        q = q.withColumn("bucket", F.explode(probes))
    cand = (c.join(F.broadcast(q), "bucket")
            .filter(F.col(id_col) != F.col(query_id)))
    if multiprobe:
        # a (query, corpus) pair can meet in several probed buckets
        cand = cand.dropDuplicates([query_id, id_col])
    sim = cand.select(
        query_id, id_col,
        F.round(L.cosine_similarity("_qv", F.col(vec_col)), 6).alias("cosine"))
    return _top_k(sim, query_id, F.col("cosine").desc(), id_col, k)


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 5, num_cells: int = 8,
             nprobe: int = 2, lloyd_iters: int = 1,
             query_id: str = "query_id") -> DataFrame:
    """IVF-flat ANN: coarse cells seeded from the first ``num_cells``
    corpus vectors (by id), refined by ``lloyd_iters`` rounds of Lloyd's
    algorithm (assign → elementwise mean); every vector is assigned to
    its max-cosine cell; queries probe their ``nprobe`` nearest cells.

    The centroid table lives on the DRIVER as literals (num_cells × dim
    doubles — the standard IVF training budget, same as FAISS coarse
    quantizers): the corpus-assignment and query-assignment branches
    share the *identical* literal table, so cell ids cannot diverge
    between independently-evaluated branches (the previous
    monotonically_increasing_id derivation was partition-layout-
    dependent).  The table reaches the executors as ONE broadcast row of
    cell structs, built on the driver, and both assignments are in-row
    (``_nearest_cells``): a vector meets every centroid map-side, the
    corpus keeps its argmax cell and each query its top ``nprobe``
    cells, with no per-vector aggregate, ranking window or shuffle.
    Probing stays an equi-join on cell; corpus rows belong
    to exactly one cell, so (query, candidate) pairs are unique and the
    corpus is never cross-joined.
    """
    spark = corpus.sparkSession
    corpus = _as_double(corpus, vec_col)
    queries = _as_double(queries, vec_col)

    seed_rows = (corpus.orderBy(id_col).limit(num_cells)
                 .select(vec_col).collect())
    cents_local = [(i, [float(x) for x in r[vec_col]])
                   for i, r in enumerate(seed_rows)]

    def cells(local):
        """The driver-side table as the one broadcast ``_cw`` row."""
        return F.broadcast(spark.createDataFrame(
            [(sorted(local),)],
            "_cw array<struct<_cell int, _centroid array<double>>>"))

    def assign(df: DataFrame, cw, n: int = 1) -> DataFrame:
        return _nearest_cells(
            df.crossJoin(cw),
            lambda c: L.cosine_similarity(vec_col, c["_centroid"]), "cell", n)

    for _ in range(max(0, lloyd_iters)):
        assigned = assign(corpus, cells(cents_local))
        # elementwise mean per cell in long format (one hash-agg), then
        # the num_cells × dim result comes back to the driver
        means = (assigned
                 .select("cell", F.posexplode(vec_col).alias("pos", "x"))
                 .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("pm"))
                 .select("cell",
                         F.transform("pm", lambda s: s["m"]).alias("v"))
                 .collect())
        if means:  # empty cells drop out; ids of surviving cells keep
            cents_local = [(int(r["cell"]), [float(x) for x in r["v"]])
                           for r in means]

    cw = cells(cents_local)
    c = assign(corpus, cw)
    q = (assign(queries, cw, max(1, nprobe))
         .select(F.col(id_col).alias(query_id), F.col(vec_col).alias("_qv"),
                 "cell"))
    sim = (c.join(F.broadcast(q), "cell")
           .filter(F.col(id_col) != F.col(query_id))
           .select(query_id, id_col,
                   F.round(L.cosine_similarity("_qv", F.col(vec_col)), 6)
                   .alias("cosine")))
    return _top_k(sim, query_id, F.col("cosine").desc(), id_col, k)


def _subspace_explode(df: DataFrame, id_col: str, vec_col: str,
                      m: int, dsub: int, out_id: str) -> DataFrame:
    """Long-format subvector view: (out_id, sub, spos, x) where
    ``sub`` = subspace index in [0, m) and ``spos`` = position within
    the subspace.  One posexplode — no per-row slicing materialized."""
    return (_as_double(df, vec_col)
            .select(F.col(id_col).alias(out_id),
                    F.posexplode(vec_col).alias("pos", "x"))
            .select(out_id,
                    (F.col("pos") / dsub).cast("int").alias("sub"),
                    (F.col("pos") % dsub).alias("spos"),
                    "x"))


# --- the PQ kernel ---------------------------------------------------
# Every PQ path (encode, Lloyd assignment, ADC search, IVF-PQ residual
# search) goes through these helpers, so the subspace split, the
# nearest-code rule and the distance fold have one definition each.
# Wide expression lists are built as SQL text: one py4j round-trip per
# aggregate instead of ~8 Column-API calls, and plan construction is
# inside every query's wall.

def _pq_dsub(corpus: DataFrame, vec_col: str, m: int,
             dim: int | None) -> int:
    """Subspace width ``dim / m`` (``dim`` read off the first vector
    when not given); raises unless ``m`` divides ``dim``."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    return dim // m


def _pq_argmin(dist_cols: list[str]) -> str:
    """SQL for the nearest code: ``dist_cols[c]`` holds the squared
    distance to code ``c``.  Lexicographic array_min over
    (round(d2, 9), code) structs — ties go to the lower code, and the
    9dp round makes the choice engine-portable.  A code id absent from
    the codebook (sparse-id corpus) sums to NULL and is filtered out."""
    cand = ", ".join(f"struct(round({d}, 9) AS d2, CAST({c} AS BIGINT)"
                     f" AS code)" for c, d in enumerate(dist_cols))
    return f"array_min(filter(array({cand}), x -> x.d2 IS NOT NULL))"


def _pq_wide(codebook: DataFrame, num_codes: int) -> DataFrame:
    """Pivot a long (code, pos, cx) codebook to one row per vector
    position carrying every code's component as ``_cb<c>`` (dim rows x
    num_codes doubles — broadcast-bounded for any codebook source)."""
    return (codebook.groupBy("pos")
            .agg(*[F.expr(f"max(CASE WHEN code = {c} THEN cx END)"
                          f" AS _cb{c}") for c in range(num_codes)]))


def _pq_sums(rows: DataFrame, keys: list[str], cbw: DataFrame, m: int,
             num_codes: int, dsub: int) -> DataFrame:
    """The one PQ distance aggregate: (keys..., pos, x) rows meet the
    pos-pivoted codebook through a broadcast join, then ONE hash-agg
    at ``keys`` grain emits m x num_codes conditional sums
    ``_d<s>_<c>`` = squared distance of subvector s to code c.  All
    rows of a group come from one source row in ascending pos order,
    so the partial agg completes map-side and every sum folds in
    ascending position order (the order the oracle SQL replays)."""
    return (rows.join(F.broadcast(cbw), "pos")
            .groupBy(*keys)
            .agg(*[F.expr(
                f"sum(CASE WHEN CAST(pos / {dsub} AS INT) = {s} THEN"
                f" (x - _cb{c}) * (x - _cb{c}) END) AS _d{s}_{c}")
                for s in range(m) for c in range(num_codes)]))


def _pq_codes(sums: DataFrame, keys: list[str], m: int,
              num_codes: int) -> DataFrame:
    """(keys..., _codes): the m-entry code vector, one in-row argmin
    per subspace over ``_pq_sums`` output."""
    codes = ", ".join(
        _pq_argmin([f"_d{s}_{c}" for c in range(num_codes)]) + ".code"
        for s in range(m))
    return sums.select(*keys, F.expr(f"array({codes}) AS _codes"))


def _pq_adc(codes: DataFrame, qsums: DataFrame, id_col: str,
            query_id: str, on: list[str], m: int, num_codes: int,
            k: int) -> DataFrame:
    """Asymmetric distance computation + top-k.  Each query's
    ``_pq_sums`` row becomes one m x num_codes distance matrix (9dp
    per entry); candidates meet the broadcast matrices through a cross
    join (``on`` empty) or an equi-join on ``on`` (IVF cell), and
    adist = round(sum of m matrix lookups in ascending sub, 6)."""
    pdm = "array(" + ", ".join(
        "array(" + ", ".join(f"round(_d{s}_{c}, 9)"
                             for c in range(num_codes)) + ")"
        for s in range(m)) + ")"
    dtab = F.broadcast(qsums.select(query_id, *on,
                                    F.expr(f"{pdm} AS _pdm")))
    pairs = codes.join(dtab, on) if on else codes.crossJoin(dtab)
    adist = " + ".join(f"_pdm[{s}][_codes[{s}]]" for s in range(m))
    scored = (pairs.filter(F.col(id_col) != F.col(query_id))
              .select(query_id, F.col(id_col),
                      F.expr(f"round({adist}, 6)").alias("adist")))
    return _top_k(scored, query_id, F.col("adist"), id_col, k)


def pq_codebook(corpus: DataFrame, id_col: str, vec_col: str,
                m: int = 4, num_codes: int = 16,
                dim: int | None = None) -> DataFrame:
    """Product-quantization codebook: (sub, code, spos, cx).

    The vector space is split into ``m`` contiguous subspaces of
    ``dim/m`` components; each subspace gets ``num_codes`` centroids
    taken from the subvectors of the first ``num_codes`` corpus vectors
    (by id).  Deterministic and engine-replayable — the same convention
    as the fixed-centroid IVF path (a k-means-trained codebook slots in
    by replacing this one table; the encode/search plans are
    unchanged).  The codebook is m * num_codes * dim/m doubles — always
    broadcastable, regardless of corpus size."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    cents = _subspace_explode(
        corpus.filter(F.col(id_col) < num_codes), id_col, vec_col,
        m, dsub, "code")
    return cents.select("sub", "code", "spos", F.col("x").alias("cx"))


def pq_codebook_trained(corpus: DataFrame, id_col: str, vec_col: str,
                        m: int = 4, num_codes: int = 16,
                        dim: int | None = None,
                        lloyd_iters: int = 2) -> DataFrame:
    """Lloyd-refined PQ codebook: (sub, code, spos, cx).

    Starts from the fixed seed codebook (``pq_codebook``) and runs
    ``lloyd_iters`` k-means rounds PER SUBSPACE: assign every corpus
    subvector to its nearest (L2) code, then recompute each code as the
    elementwise mean of its assigned subvectors — the same long-format
    elementwise-mean machinery as the IVF coarse refinement.

    One Lloyd round costs: a ``pq_encode`` against the current
    codebook (the assignment — the same argmin as search, so training
    and serving cannot disagree on the nearest code), an equi-join of
    the assignment back onto the exploded corpus, and a
    (sub, code, spos) mean — all shuffles key on uniform hash keys.
    Codes that capture no subvectors keep their previous centroid, so
    the codebook never shrinks.

    Training uses floating means, so exact results are not portable
    across engines — the FIXED codebook stays the oracle twin
    (``ann_pq_topk``); this variant trades that for measurably higher
    ADC recall (asserted in tests against brute-force cosine)."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    cb = pq_codebook(corpus, id_col, vec_col, m, num_codes, dsub * m)
    ex = _subspace_explode(corpus, id_col, vec_col, m, dsub, id_col)
    for _ in range(max(0, lloyd_iters)):
        best = pq_encode(corpus, id_col, vec_col, m, num_codes, dsub * m,
                         codebook=cb)
        means = (ex.join(best.select(id_col, "sub", "code"), [id_col, "sub"])
                 .groupBy("sub", "code", "spos")
                 .agg(F.avg("x").alias("_new")))
        # per-round driver pull (the ivf_topk pattern): the refreshed
        # codebook is m x num_codes x dim/m rows by construction, so
        # it comes back as literals and the next round broadcasts a
        # LocalTableScan — no lineage growth, no executor-pinned
        # blocks, no blocking checkpoint job in the query path
        cb_rows = (cb.join(means, ["sub", "code", "spos"], "left")
                   .select("sub", "code", "spos",
                           F.coalesce("_new", "cx").alias("cx"))
                   .collect())
        cb = corpus.sparkSession.createDataFrame(
            [(int(r["sub"]), int(r["code"]), int(r["spos"]),
              float(r["cx"])) for r in cb_rows],
            "sub int, code int, spos int, cx double")
    return cb


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str,
              m: int = 4, num_codes: int = 16,
              dim: int | None = None,
              codebook: DataFrame | None = None) -> DataFrame:
    """PQ-encode every corpus vector: (id, sub, code, d2).

    Each subvector maps to its nearest (L2) codebook centroid — the
    corpus compresses from ``dim`` floats to ``m`` small ints per
    vector (64 doubles -> 4 bytes at m=4/K=16: a 128x cut for the
    resident ANN index).  The plan is one posexplode + broadcast
    codebook join + ONE hash-agg at (id, sub) grain with the
    ``_pq_argmin`` nearest-code rule in-row — no ranking window, no
    cross join, corpus side never collected.  The candidate expansion
    stays long-format deliberately: the expanded relation lives inside
    one whole-stage-codegen stage and is never shuffled, which beats an
    in-row array fold (higher-order functions are interpreted, not
    codegen'd)."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    if codebook is None:
        codebook = pq_codebook(corpus, id_col, vec_col, m, num_codes,
                               dsub * m)
    ex = _subspace_explode(corpus, id_col, vec_col, m, dsub, id_col)
    # the per-code distances pivot into ``num_codes`` conditional sums
    # (every (sub, spos) row matches every code through the broadcast
    # join, so each sum sees exactly dsub terms): the shuffle moves one
    # num_codes-wide row per (id, sub), and since all rows of a group
    # come from one corpus row the partial agg completes map-side.
    # This grain (not _pq_sums' id grain) needs no codebook pivot.
    agg = (ex.join(F.broadcast(codebook), ["sub", "spos"])
           .groupBy(id_col, "sub")
           .agg(*[F.expr(f"sum(CASE WHEN code = {c} THEN"
                         f" (x - cx) * (x - cx) END) AS _d{c}")
                  for c in range(num_codes)]))
    best = F.expr(_pq_argmin([f"_d{c}" for c in range(num_codes)]))
    return (agg.withColumn("_best", best)
            .select(id_col, "sub", F.col("_best.code").alias("code"),
                    F.round(F.col("_best.d2"), 6).alias("d2")))


def pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
            vec_col: str, k: int = 5, m: int = 4, num_codes: int = 16,
            dim: int | None = None,
            codebook: DataFrame | None = None,
            query_id: str = "query_id") -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC):
    (query_id, id, adist, rank), adist = approximate squared L2.

    Queries stay exact; the corpus is represented only by its PQ codes.
    At 10^9 vectors the scan side carries 4 small ints per row instead
    of 64 doubles — memory-bandwidth-bound ANN becomes cache-resident.
    Exactness is traded per-subspace; rerank the top-k' with
    ``cosine_topk`` when recall matters.

    Plan shape: the codebook pivots wide on vector position
    (``_pq_wide``), so corpus encode is ONE hash-agg at id grain whose
    in-row argmins give the full m-entry code vector, and the queries'
    distance tables come out of the same aggregate; ADC is an in-row
    sum of m matrix lookups over the broadcast query-set cross — no
    (sub, code) equi-join fan-out through a shuffle.  The query side is
    broadcast-bounded (queries x m x K doubles); batch very large query
    sets exactly as ``cosine_topk`` documents.  Per-(sub, code) sums
    fold in ascending position order, pd rounds to 9dp and adist to
    6dp, which the oracle SQL replays byte-exactly."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    if codebook is None:
        codebook = pq_codebook(corpus, id_col, vec_col, m, num_codes,
                               dsub * m)
    cbw = _pq_wide(codebook.select(
        "code", (F.col("sub") * dsub + F.col("spos")).alias("pos"), "cx"),
        num_codes)

    def sums(vdf: DataFrame, out_id: str) -> DataFrame:
        rows = _as_double(vdf, vec_col).select(
            F.col(id_col).alias(out_id),
            F.posexplode(vec_col).alias("pos", "x"))
        return _pq_sums(rows, [out_id], cbw, m, num_codes, dsub)

    codes = _pq_codes(sums(corpus, id_col), [id_col], m, num_codes)
    return _pq_adc(codes, sums(queries, query_id), id_col, query_id, [],
                   m, num_codes, k)


def normalize_embeddings(df: DataFrame, id_col: str,
                         vec_col: str = "embedding") -> DataFrame:
    """L2-normalize an embedding column (the prep step that turns
    cosine top-k into a plain dot-product top-k): unit vector + the
    original norm.  Zero vectors normalize to null (no direction).

    Pure higher-order-function expression — map-only, codegen,
    replayable in DuckDB list functions."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.round(norm, 6).alias("l2_norm"),
        F.when(norm > 0,
               F.transform(v, lambda x: F.round(x / norm, 6)))
        .alias("unit"))


def quantize_embeddings(df: DataFrame, id_col: str,
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max(|x|)/127,
    q_i = round(x_i/scale) in [-127, 127] — 4x memory cut for the ANN
    corpus side at a known recall cost.  Zero vectors emit scale 0 and
    a null code array.  Map-only column expressions."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0),
                       lambda a, x: F.greatest(a, F.abs(x)))
    scale = amax / F.lit(127.0)
    return df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.round(scale, 9).alias("scale"),
        F.when(amax > 0,
               F.transform(v, lambda x: F.round(x / scale)
                           .cast("int")))
        .alias("codes"))


def pq_rerank_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 5, k_cand: int = 25,
                   m: int = 4, num_codes: int = 16,
                   dim: int | None = None,
                   codebook: DataFrame | None = None,
                   query_id: str = "query_id") -> DataFrame:
    """Two-stage retrieval: PQ ADC shortlist (``k_cand`` candidates per
    query from compressed codes) -> exact cosine rerank -> top ``k``.
    The production ANN pattern: the scan side touches only 4-int codes;
    full vectors are fetched for k_cand rows per query — a
    candidate-sized equi-join, never a corpus-wide one — so recall is
    set by the shortlist and precision by the exact rerank."""
    cand = pq_topk(corpus, queries, id_col, vec_col, k=k_cand, m=m,
                   num_codes=num_codes, dim=dim, codebook=codebook,
                   query_id=query_id)
    return _cosine_rerank(cand, corpus, queries, id_col, vec_col, k,
                          query_id)


def rank_eval(pred: DataFrame, truth: DataFrame,
              query_col: str = "query_id", id_col: str = "vec_id",
              k: int = 5, rank_col: str = "rank") -> DataFrame:
    """Retrieval metrics of a candidate ranking against an exact
    baseline: one row (n_queries, recall_at_k, mrr) — the evaluation
    loop every ANN deployment runs before trading recall for speed,
    as a relational plan instead of a driver-side script.

    recall@k = |pred∩truth| / |truth| per query, averaged; MRR uses the
    best predicted rank among true items (0 when none hit).  Shapes:
    one (query, id) equi-join of two k-row-per-query relations + two
    tiny aggs — evaluating 10^6 queries is one shuffle of 2*k*|Q| rows,
    never a corpus scan.
    """
    t = truth.filter(F.col(rank_col) <= k).select(query_col, id_col)
    p = pred.filter(F.col(rank_col) <= k).select(query_col, id_col,
                                                 rank_col)
    tn = t.groupBy(query_col).agg(F.count("*").alias("_tn"))
    hits = (p.join(t, [query_col, id_col])
            .groupBy(query_col)
            .agg(F.count("*").alias("_h"), F.min(rank_col).alias("_fr")))
    per = (tn.join(hits, query_col, "left")
           .select((F.coalesce(F.col("_h"), F.lit(0)) / F.col("_tn"))
                   .alias("_recall"),
                   F.coalesce(F.lit(1.0) / F.col("_fr"), F.lit(0.0))
                   .alias("_rr")))
    return per.agg(F.count("*").cast("bigint").alias("n_queries"),
                   F.round(F.avg("_recall"), 6).alias("recall_at_k"),
                   F.round(F.avg("_rr"), 6).alias("mrr"))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
               vec_col: str, k: int = 5, num_cells: int = 8,
               nprobe: int = 2, m: int = 4, num_codes: int = 16,
               dim: int | None = None,
               query_id: str = "query_id") -> DataFrame:
    """IVF-PQ ANN: coarse cells + product quantization of the RESIDUAL
    (vector minus its cell centroid) — the production composition
    (FAISS ``IVFx,PQy``): the coarse index prunes the scan to nprobe
    cells, the PQ codes shrink what the scan reads to m small ints per
    vector, and quantizing residuals (smaller-magnitude, centered)
    instead of raw vectors is what keeps ADC error low.

    (query_id, id, adist, rank); adist = approximate squared L2 of the
    residual pair, comparable within a (query, cell) probe.

    Everything is relational, lazy, and engine-replayable: coarse
    centroids are the first ``num_cells`` corpus vectors and the
    shared residual codebook the residuals of the first ``num_codes``
    corpus vectors — both DERIVED relations (a filter of the corpus),
    broadcast on every use; identical broadcast subplans canonicalize
    so Spark's ReuseExchange rule materializes each ONCE per
    execution (an eager ``localCheckpoint`` here measured slower).

    Plan shape:

    - **cell assignment is IN-ROW, zero shuffles**: the num_cells
      centroids pivot into ONE broadcast row of (cell, vec, norm)
      structs (``_cell_array``); the corpus argmax and the query
      top-nprobe are ``_nearest_cells`` over them — no per-vector
      hash-agg, no per-query ranking window;
    - **residual + encode is one codegen pass**: posexplode AFTER the
      in-row assignment (no corpus-grain assignment join), one
      broadcast join for the centroid component, then the PQ kernel
      (``_pq_sums`` keyed by (id, cell) against the ``_pq_wide``
      residual codebook, ``_pq_codes`` in-row);
    - **ADC is a broadcast lookup, not an equi-join fan-out**
      (``_pq_adc``): queries x nprobe distance matrices meet the
      candidates through a (cell) broadcast join — the only exchanges
      are the two tiny pivots, the encode agg, and the rank window.

    Cosines round to 9dp before the argmax, per-(sub, code) sums fold
    in ascending position order, pd rounds to 9dp and adist to 6dp,
    which the oracle SQL replays byte-exactly."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)

    # ONE-row coarse-centroid relation: num_cells (cell, vec, norm)
    # structs, broadcast to both assignments
    cw = F.broadcast(_cell_array(
        _as_double(corpus, vec_col)
        .filter(F.col(id_col) < num_cells)
        .select(F.col(id_col).cast("int").alias("_cell"),
                F.col(vec_col).alias("_cv"),
                L.vec_norm(vec_col).alias("_cn"))))

    def assign(vdf: DataFrame, out_id: str, n: int = 1) -> DataFrame:
        """(out_id, _vv, _vn, _cell): the nearest ``n`` cells by
        cosine rounded to 9dp."""
        v = (_as_double(vdf, vec_col)
             .select(F.col(id_col).alias(out_id),
                     F.col(vec_col).alias("_vv"),
                     L.vec_norm(vec_col).alias("_vn")))
        return _nearest_cells(
            v.crossJoin(cw),
            lambda c: F.round(L.vec_dot("_vv", c["_cv"])
                              / (F.col("_vn") * c["_cn"]), 9),
            "_cell", n)

    asg = assign(corpus, id_col)

    # long-format centroid components for the residual join (a codegen
    # broadcast hash join beats an in-row interpreted lookup at
    # dim grain)
    cents = (_as_double(corpus, vec_col)
             .filter(F.col(id_col) < num_cells)
             .select(F.col(id_col).cast("int").alias("_cell"),
                     F.posexplode(vec_col).alias("pos", "cx")))

    def residual_pos(adf: DataFrame, out_id: str) -> DataFrame:
        """(out_id, _cell, pos, x) with x the residual component:
        posexplode after the in-row assignment, one broadcast join for
        the centroid component."""
        vex = adf.select(out_id, "_cell",
                         F.posexplode("_vv").alias("pos", "x"))
        return (vex.join(F.broadcast(cents), ["_cell", "pos"])
                .select(out_id, "_cell", "pos",
                        (F.col("x") - F.col("cx")).alias("x")))

    # shared residual codebook: residuals of the first num_codes corpus
    # vectors w.r.t. their own cells (code = vector id)
    cbw = _pq_wide(
        residual_pos(asg.filter(F.col(id_col) < num_codes), id_col)
        .select(F.col(id_col).alias("code"), "pos",
                F.col("x").alias("cx")), num_codes)
    codes = _pq_codes(
        _pq_sums(residual_pos(asg, id_col), [id_col, "_cell"], cbw, m,
                 num_codes, dsub), [id_col, "_cell"], m, num_codes)

    # query probing: the top-nprobe cells, then the same residual +
    # distance pass as the corpus
    qa = assign(queries, query_id, max(1, nprobe))
    qsums = _pq_sums(residual_pos(qa, query_id), [query_id, "_cell"], cbw,
                     m, num_codes, dsub)
    return _pq_adc(codes, qsums, id_col, query_id, ["_cell"], m,
                   num_codes, k)


def rrf_fuse(rankings: list[DataFrame], k: int = 5, c: int = 60,
             query_id: str = "query_id", id_col: str = "vec_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion of N candidate rankings:
    rrf(q, d) = sum over rankings of 1 / (c + rank) — the standard
    score-free way to combine retrieval paths (lexical + vector,
    or several ANN indexes) without calibrating their scores.

    Input rankings are already top-k' relations (k' rows per query
    each), so fusion is a union of tiny relations + one (query, id)
    hash-agg + a per-query WindowGroupLimit — cost is rankings x k'
    rows per query, independent of corpus size."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [r.select(F.col(query_id), F.col(id_col),
                      (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col)))
                      .alias("_w"))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (u.groupBy(query_id, id_col)
             .agg(F.round(F.sum("_w"), 9).alias("rrf")))
    return _top_k(fused, query_id, F.desc("rrf"), id_col, k)


def ivfpq_rerank_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, k: int = 5, k_cand: int = 25,
                      num_cells: int = 8, nprobe: int = 2, m: int = 4,
                      num_codes: int = 16, dim: int | None = None,
                      query_id: str = "query_id") -> DataFrame:
    """The full serving-path composition: IVF-PQ shortlist (cell-pruned
    residual-ADC over compressed codes, ``k_cand`` candidates/query) ->
    exact cosine rerank of just the shortlist -> top ``k``.  Recall is
    set by (nprobe, k_cand) on the compressed scan; precision by an
    exact pass touching only k_cand full vectors per query."""
    cand = ivfpq_topk(corpus, queries, id_col, vec_col, k=k_cand,
                      num_cells=num_cells, nprobe=nprobe, m=m,
                      num_codes=num_codes, dim=dim, query_id=query_id)
    return _cosine_rerank(cand, corpus, queries, id_col, vec_col, k,
                          query_id)


def gram_matrix(df: DataFrame, vec_col: str = "embedding",
                upper_only: bool = True) -> DataFrame:
    """Distributed Gramian ``G = X^T X`` of an embedding column — the
    reduce step of distributed PCA/SVD (compute the d x d Gramian on
    the cluster, eigendecompose the tiny result wherever you like).

    Scale shape: each Arrow batch contributes one d x d partial via a
    single numpy matmul (``mapInPandas``), so the shuffle carries
    ``partitions * d(d+1)/2`` rows regardless of corpus size; the
    final (i, j) hash-agg is map-side combinable.  The declarative
    alternative — double posexplode to (i, j, xi*xj) rows — ships
    d^2 rows per VECTOR through the shuffle (4096x more at d=64) and
    was measured strictly worse; this is the canonical case where
    Arrow-batched Python beats built-ins.  Elements are upcast to
    float64 before the matmul so partial sums match an
    all-double-arithmetic engine to ~1e-12 relative.

    Returns (i, j, gram) with 0-based indices, upper triangle only
    (i <= j) unless ``upper_only=False``.  NULL vectors are excluded
    (a single null row must not abort a corpus-scale job; SQL aggs
    skip NULLs the same way).
    """
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("partial", DoubleType()),
    ])

    def _partial_gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            g = x.T @ x
            d = g.shape[0]
            if upper_only:
                ii, jj = np.triu_indices(d)
            else:
                ii, jj = np.indices((d, d)).reshape(2, -1)
            yield pd.DataFrame({"i": ii.astype("int32"),
                                "j": jj.astype("int32"),
                                "partial": g[ii, jj]})

    partials = (df.select(vec_col)
                .filter(F.col(vec_col).isNotNull())
                .mapInPandas(_partial_gram, schema=out_schema))
    return (partials.groupBy("i", "j")
            .agg(F.sum("partial").alias("gram"))
            .select(F.col("i").cast("bigint").alias("i"),
                    F.col("j").cast("bigint").alias("j"),
                    "gram"))


def power_iteration_top_eig(gram: DataFrame, rounds: int = 2,
                            upper_only: bool = True) -> DataFrame:
    """Leading eigenpair of a Gramian relation (the output of
    :func:`gram_matrix`; pass ``upper_only=False`` if it was built
    with the full matrix — mirroring a full matrix would double every
    off-diagonal) via fixed-round power iteration,
    written entirely as joins + aggregations so any engine replays it:
    v <- normalize(G v) per round from the all-ones start; the
    returned ``eig`` is the final pre-normalization L2 norm, which for
    a PSD Gramian converges to the top eigenvalue.

    Everything after the Gramian is d- or d^2-sized: the G relation is
    d(d+1)/2 rows, v is d rows (always broadcast), each round is one
    broadcast equi-join + one map-side-combinable agg + a 1-row norm
    cross — iteration cost is independent of corpus size, which is the
    point of reducing to the Gramian first.  Rounds are fixed and the
    start vector deterministic (no RNG), so the result — sign included
    — is a pure function of G.
    """
    full = gram
    if upper_only:
        full = gram.unionByName(
            gram.filter(F.col("i") != F.col("j"))
            .select(F.col("j").alias("i"), F.col("i").alias("j"), "gram"))
    v = full.select("i").distinct().select("i", F.lit(1.0).alias("v"))
    eig = None
    for _ in range(rounds + 1):
        n = v.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("_n"))
        v = (v.crossJoin(F.broadcast(n))
             .select("i", (F.col("v") / F.col("_n")).alias("v")))
        eig = n
        if _ == rounds:
            break
        v = (full.join(F.broadcast(v.withColumnRenamed("i", "j")), "j")
             .groupBy("i").agg(F.sum(F.col("gram") * F.col("v"))
                               .alias("v")))
    return (v.crossJoin(F.broadcast(eig))
            .select(F.col("i").cast("bigint").alias("i"),
                    F.round("v", 6).alias("v"),
                    F.round("_n", 6).alias("eig")))


def hard_negatives(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, label_col: str, k: int = 5,
                   query_id: str = "query_id") -> DataFrame:
    """Hard-negative mining for retrieval / contrastive training: per
    query, the top-``k`` most-similar corpus items with a DIFFERENT
    label — maximally confusable negatives, the ones that actually
    move an embedding model (random negatives are trivially separable
    after the first epochs).

    Built on the same :func:`_cosine_pairs` relation as
    ``cosine_topk`` (one definition of the zero-norm guard, rounding,
    and tie order) with the label inequality pruning pairs BEFORE the
    ranking window.  The label compare is null-safe: a NULL label is
    its own class — NULL-vs-labeled pairs count as different (valid
    negatives), NULL-vs-NULL as same (excluded) — so partially
    labeled corpora neither crash nor silently vanish.  At corpus
    scale swap the exact scorer for an ANN shortlist
    (``ivfpq_rerank_topk``) and keep the same filter + window; the
    output contract is identical."""
    sim = (_cosine_pairs(corpus, queries, id_col, vec_col, query_id,
                         q_extra=(label_col,), c_extra=(label_col,))
           .filter(~F.col(f"_c_{label_col}")
                   .eqNullSafe(F.col(f"_q_{label_col}")))
           .select(query_id, id_col,
                   F.col(f"_c_{label_col}").alias("neg_label"),
                   "cosine"))
    return _top_k(sim, query_id, F.col("cosine").desc(), id_col, k)


def ndcg_eval(pred: DataFrame, truth: DataFrame,
              query_col: str = "query_id", id_col: str = "vec_id",
              k: int = 5, rank_col: str = "rank") -> DataFrame:
    """NDCG@k of a candidate ranking against an exact baseline, with
    linear graded relevance from the baseline's own order (rel =
    k+1-rank_truth): position-sensitive where recall@k is not — an
    ANN path that finds the right items in the wrong order scores
    below one.  One (query, id) equi-join of two k-row-per-query
    relations + two tiny aggs, same scale shape as :func:`rank_eval`;
    log2 is written ln(x)/ln(2) so any engine replays it exactly."""
    ln2 = F.log(F.lit(2.0))
    t = (truth.filter(F.col(rank_col) <= k)
         .select(query_col, id_col, F.col(rank_col).alias("_tr")))
    p = (pred.filter(F.col(rank_col) <= k)
         .select(query_col, id_col, F.col(rank_col).alias("_pr")))
    rel = F.lit(k + 1) - F.col("_tr")
    idcg = t.groupBy(query_col).agg(
        F.sum(rel / (F.log(F.lit(1.0) + F.col("_tr")) / ln2))
        .alias("_idcg"))
    dcg = (p.join(t, [query_col, id_col])
           .groupBy(query_col)
           .agg(F.sum(rel / (F.log(F.lit(1.0) + F.col("_pr")) / ln2))
                .alias("_dcg")))
    per = (idcg.join(dcg, query_col, "left")
           .select((F.coalesce(F.col("_dcg"), F.lit(0.0))
                    / F.col("_idcg")).alias("_ndcg")))
    return per.agg(F.count("*").cast("bigint").alias("n_queries"),
                   F.round(F.avg("_ndcg"), 6).alias("ndcg_at_k"))


def average_precision_eval(pred: DataFrame, truth: DataFrame,
                            query_col: str = "query_id",
                            id_col: str = "vec_id", k: int = 5,
                            rank_col: str = "rank") -> DataFrame:
    """MAP@k of a candidate ranking against an exact baseline:
    AP_q = (1/min(k, |truth_q|)) * sum over predicted ranks i of
    precision@i * rel_i — the order-sensitive retrieval score that,
    unlike NDCG's graded form, rewards FRONT-LOADING all the relevant
    items (the ranking-evaluation triad: recall@k = set overlap,
    NDCG = graded positions, MAP = binary precision mass).  Relevance
    is membership in the exact top-k.

    Shape: one (query, id) equi-join of two k-row-per-query
    relations, a per-query cumulative count over <= k rows (bounded
    window), two tiny aggs.  Precision terms are exact small-integer
    ratios computed identically in both engines."""
    t = (truth.filter(F.col(rank_col) <= k)
         .select(query_col, id_col, F.lit(1).alias("_rel")))
    tc = t.groupBy(query_col).agg(F.count("*").alias("_nt"))
    p = (pred.filter(F.col(rank_col) <= k)
         .select(query_col, id_col, F.col(rank_col).alias("_pr")))
    j = (p.join(t, [query_col, id_col], "left")
         .select(query_col, "_pr",
                 F.coalesce(F.col("_rel"), F.lit(0)).alias("_rel")))
    w = (Window.partitionBy(query_col).orderBy("_pr")
         .rowsBetween(Window.unboundedPreceding, 0))
    scored = j.select(query_col, "_rel",
                      (F.sum("_rel").over(w) / F.col("_pr")).alias("_prec"))
    ap = (scored.groupBy(query_col)
          .agg(F.sum(F.col("_prec") * F.col("_rel")).alias("_hits")))
    per = (tc.join(ap, query_col, "left")
           .select((F.coalesce(F.col("_hits"), F.lit(0.0))
                    / F.least(F.lit(k), F.col("_nt"))).alias("_ap")))
    return per.agg(F.count("*").cast("bigint").alias("n_queries"),
                   F.round(F.avg("_ap"), 6).alias("map_at_k"))


def range_search(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, min_cosine: float,
                 query_id: str = "query_id") -> DataFrame:
    """Cosine RANGE search: every corpus item with cosine >=
    ``min_cosine`` of each query — the radius-query companion to
    :func:`cosine_topk` (FAISS range_search): duplicate sweeps and
    "all sufficiently similar" retrieval want a threshold, not a k.

    Shares ``_cosine_pairs`` (broadcast query side, hoisted norms,
    one 6dp round defining the threshold comparison), then a map-side
    filter — no window at all, so output size is data-determined and
    the plan is scan + filter.  At 10^9 vectors swap the exact pair
    source for the IVF-PQ shortlist with the same threshold contract.
    """
    sim = _cosine_pairs(corpus, queries, id_col, vec_col, query_id)
    return sim.filter(F.col("cosine") >= float(min_cosine))


def pca_project(df: DataFrame, id_col: str, vec_col: str,
                eig_vec: DataFrame) -> DataFrame:
    """Project every vector onto a principal direction: (id, pc1) with
    pc1 = <x, v> for the (i, v) eigenvector relation produced by
    :func:`power_iteration_top_eig` — the dimensionality-reduction /
    corpus-drift score that completes the distributed-PCA story
    (gram_matrix -> power iteration -> THIS projection).

    Scale shape: the d-row eigenvector folds to a ONE-ROW ordered
    array (collect_list over the bounded relation, sorted by i) that
    broadcasts; the projection is then a map-only zip_with dot fold
    over the corpus — no explode, no shuffle, no per-row join.  Sign
    is deterministic (all-ones power-iteration start)."""
    varr = eig_vec.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "v"))),
                    lambda s: s["v"]).alias("_v"))
    dot = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), F.col("_v"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, t: acc + t)
    return (df.crossJoin(F.broadcast(varr))
            .select(F.col(id_col), dot.alias("pc1")))


def centroid_distance_topk(df: DataFrame, id_col: str, vec_col: str,
                           k: int = 20) -> DataFrame:
    """Embedding-space outliers: the ``k`` vectors farthest (L2) from
    the corpus centroid — the quick QA sweep that surfaces corrupt
    encodes, wrong-modality rows, and distribution tails before they
    poison training (complements emb_dim_variance's per-dimension
    view with a per-ROW view).

    Scale shape: one explode + (pos) avg builds the d-row centroid
    (map-side combinable, same pass shape as emb_dim_variance), which
    folds to a ONE-ROW ordered array and broadcasts; the distance is
    a map-only zip_with fold per row; top-k executes as
    TakeOrderedAndProject.  The centroid is 6dp-rounded BEFORE the
    distance so cross-engine summation noise cannot reach the output
    round (the pca_project lesson).  Returns (id, dist, rank)."""
    ex = df.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                   .alias("pos", "x"))
    cent = (ex.groupBy("pos").agg(F.round(F.avg("x"), 6).alias("c"))
            .groupBy()
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"]).alias("_cent")))
    dist = F.round(F.sqrt(F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), F.col("_cent"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, t: acc + t)), 6)
    scored = (df.crossJoin(F.broadcast(cent))
              .select(F.col(id_col), dist.alias("dist")))
    top = scored.orderBy(F.desc("dist"), id_col).limit(int(k))
    w = Window.orderBy(F.desc("dist"), id_col)
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def kmeans_assign(df: DataFrame, id_col: str, vec_col: str,
                  k: int = 4, iters: int = 1) -> DataFrame:
    """Deterministic mini-Lloyd clustering: seed centroids from the
    ``k`` smallest-id vectors, run ``iters`` assign-recompute rounds,
    return the final assignment (id, cell, dist) — the semantic-
    bucketing primitive behind corpus partitioning / diversity
    sampling when the full MLlib KMeans (random init, driver-side
    state) is overkill or must be replayable across engines.

    Everything is relational: vectors posexplode to (id, pos, x);
    assignment joins the (k x dim)-row centroid relation on pos
    (broadcast — it is tiny by construction) and takes the argmin of
    squared L2 per id via a k-row ranking window; recompute is one
    (cell, pos) mean-agg.  Recomputed centroid means are ROUNDED to
    6dp before the next distance pass — engine summation order
    perturbs means at ~1e-12 and a dim-term dot amplifies that past
    any output round (the emb_pca_project lesson); the argmin
    likewise ranks on round(dist, 6) with the cell id as total
    tie-break, so the oracle replays every round exactly.  Seeding
    from ordered ids (not hashes) keeps init portable; at 100TB the
    take-k init is a TakeOrdered, never a full sort."""
    d = _kmeans_final_cells(df, id_col, vec_col, k, iters)
    best = F.array_min(F.filter(F.col("_arr"),
                                lambda s: s["dist"].isNotNull()))
    return d.select(F.col(id_col), best["cell"].alias("cell"),
                    best["dist"].alias("dist"))


def _kmeans_final_cells(df: DataFrame, id_col: str, vec_col: str,
                        k: int, iters: int) -> DataFrame:
    """(id, _arr) of the FINAL mini-Lloyd round, where ``_arr`` is the
    k-element array<struct<dist, cell>> of rounded squared distances —
    the single source behind kmeans_assign (in-row array_min) and
    kmeans_assign_margin (in-row array_sort top-2), so the replayed
    rounds cannot drift between the two readouts.  The struct field
    order (dist, cell) IS the one assignment tie-break rule (dist asc,
    cell asc); cells whose centroid vanished (no members after a
    reassignment round) carry NULL dist and are filtered before any
    readout, matching the old inner-join semantics.

    r13 plan shape (guide §2.4): the k centroids pivot WIDE on pos
    (one tiny k x dim -> dim-row agg), the per-vector distance pass is
    ONE broadcast join + ONE per-id hash-agg with k sums, and both the
    per-round argmin and the final readouts are in-row expressions —
    where the long-format shape needed a (id, cell) agg plus a per-id
    ranking window per round (2 exchanges + a k-way row fan per round,
    11 AQE jobs -> 5 at sf0.1)."""
    ex = (df.select(F.col(id_col), F.posexplode(vec_col).alias("pos", "x"))
          .withColumn("x", F.col("x").cast("double")))
    seeds = (df.select(id_col).orderBy(id_col).limit(int(k))
             .select(F.col(id_col).alias("_sid"),
                     (F.row_number().over(Window.orderBy(id_col)) - 1)
                     .alias("cell")))
    cents = (ex.join(F.broadcast(seeds), ex[id_col] == seeds["_sid"])
             .select("cell", "pos", F.col("x").alias("c")))

    def _dists(cents_df: DataFrame) -> DataFrame:
        # pivot the k x dim centroid relation wide on pos (tiny agg),
        # broadcast it, and fold the k squared-distance sums into ONE
        # per-id aggregation; round(..., 6) per cell as before
        cw = cents_df.groupBy("pos").agg(
            *[F.max(F.when(F.col("cell") == c, F.col("c"))).alias(f"_c{c}")
              for c in range(int(k))])
        agg = (ex.join(F.broadcast(cw), "pos")
               .groupBy(id_col)
               .agg(*[F.round(F.sum((F.col("x") - F.col(f"_c{c}"))
                                    * (F.col("x") - F.col(f"_c{c}"))), 6)
                      .alias(f"_d{c}") for c in range(int(k))]))
        arr = F.array(*[F.struct(F.col(f"_d{c}").alias("dist"),
                                 F.lit(c).alias("cell"))
                        for c in range(int(k))])
        return agg.select(F.col(id_col), arr.alias("_arr"))

    d = _dists(cents)
    for _ in range(int(iters)):
        # stays lazy: the recomputed k x dim centroid relation is
        # broadcast on its single consumer (_dists), and the per-round
        # chains canonicalize to reused exchanges — r11's eager
        # localCheckpoint here scheduled a blocking job per round and
        # benched SLOWER than the uncut r10 plan at every measured SF
        # (as did a driver-pull variant); with the query-registry
        # iters <= 2 the lineage stays shallow
        best = F.array_min(F.filter(F.col("_arr"),
                                    lambda s: s["dist"].isNotNull()))
        assign = d.select(F.col(id_col), best["cell"].alias("cell"))
        cents = (ex.join(assign, id_col)
                 .groupBy("cell", "pos")
                 .agg(F.round(F.avg("x"), 6).alias("c")))
        d = _dists(cents)
    return d


def kmeans_assign_margin(df: DataFrame, id_col: str, vec_col: str,
                         k: int = 4, iters: int = 1) -> DataFrame:
    """Assignment-confidence margin for the deterministic mini-Lloyd
    cells: per id, the winning cell, its distance, and the gap to the
    SECOND-best centroid — near-zero margin marks boundary vectors
    whose cell flips under tiny perturbations (route those to exact
    rerank; trust the bucket for the rest).  Returns (id, cell, d1,
    d2) from the same final-round distance relation as
    ``kmeans_assign``; the top-2 is an in-row array_sort over the k
    (dist, cell) structs — no window, no extra shuffle."""
    d = _kmeans_final_cells(df, id_col, vec_col, k, iters)
    ranked = F.array_sort(F.filter(F.col("_arr"),
                                   lambda s: s["dist"].isNotNull()))
    return d.select(
        F.col(id_col),
        ranked[0]["cell"].alias("cell"),
        ranked[0]["dist"].alias("d1"),
        # F.get: NULL (not an ANSI error) when only one live cell
        # remains, matching the old rank-2 max(when) semantics
        F.get(ranked, 1)["dist"].alias("d2"))


def truncation_fidelity(corpus: DataFrame, queries: DataFrame,
                        id_col: str, vec_col: str, half_dim: int,
                        query_id: str = "query_id") -> DataFrame:
    """Matryoshka-style truncation fidelity: how much retrieval
    quality survives keeping only the first ``half_dim`` embedding
    components — one row (n_queries, top1_agreement, mean_abs_delta)
    comparing full-dimension cosine against truncated cosine over
    every (query, corpus) pair.  The decision input for "can we store
    half the vector?" (2x memory/IO at serving time) that a 100TB
    embedding store wants answered BEFORE re-encoding the corpus.

    One posexplode feeds BOTH similarities: the pair-grain agg sums
    full and truncated dot products (the truncated one via a
    pos < half_dim conditional) in the same pass, norms likewise —
    the corpus is scanned once, the query side broadcasts, and the
    per-query argmaxes rank on round(cos, 6) with id tie-break (the
    engine-portability discipline of every topk here)."""
    h = int(half_dim)
    qex = (queries.select(F.col(id_col).alias(query_id),
                          F.posexplode(vec_col).alias("pos", "qx"))
           .withColumn("qx", F.col("qx").cast("double")))
    cex = (corpus.select(F.col(id_col),
                         F.posexplode(vec_col).alias("pos", "cx"))
           .withColumn("cx", F.col("cx").cast("double")))
    half = F.col("pos") < h

    def _norms(ex: DataFrame, xcol: str, out: str) -> DataFrame:
        return ex.groupBy(ex.columns[0]).agg(
            F.sqrt(F.sum(F.col(xcol) * F.col(xcol))).alias(f"{out}_f"),
            F.sqrt(F.sum(F.when(half, F.col(xcol) * F.col(xcol))
                         .otherwise(0.0))).alias(f"{out}_h"))

    qn = _norms(qex, "qx", "qn")
    cn = _norms(cex, "cx", "cn")
    dots = (cex.join(F.broadcast(qex), "pos")
            .filter(F.col(query_id) != F.col(id_col))
            .groupBy(query_id, id_col)
            .agg(F.sum(F.col("qx") * F.col("cx")).alias("dot_f"),
                 F.sum(F.when(half, F.col("qx") * F.col("cx"))
                       .otherwise(0.0)).alias("dot_h")))
    sims = (dots.join(F.broadcast(qn), query_id)
            .join(cn, id_col)
            .select(query_id, id_col,
                    # zero-norm vectors (corrupt encodes) yield NULL
                    # cosines, never an ANSI DIVIDE_BY_ZERO
                    F.round(F.col("dot_f")
                            / F.nullif(F.col("qn_f") * F.col("cn_f"),
                                       F.lit(0.0)), 6)
                    .alias("cos_f"),
                    F.round(F.col("dot_h")
                            / F.nullif(F.col("qn_h") * F.col("cn_h"),
                                       F.lit(0.0)), 6).alias("cos_h")))
    wf = Window.partitionBy(query_id).orderBy(F.desc("cos_f"), id_col)
    wh = Window.partitionBy(query_id).orderBy(F.desc("cos_h"), id_col)
    top = (sims.select(query_id, id_col,
                       F.row_number().over(wf).alias("_rf"),
                       F.row_number().over(wh).alias("_rh"),
                       F.abs(F.col("cos_f") - F.col("cos_h"))
                       .alias("_ad"))
           .groupBy(query_id)
           .agg(F.max(F.when(F.col("_rf") == 1, F.col(id_col)))
                .alias("_t1f"),
                F.max(F.when(F.col("_rh") == 1, F.col(id_col)))
                .alias("_t1h"),
                F.avg("_ad").alias("_mad")))
    return top.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(F.avg((F.col("_t1f") == F.col("_t1h")).cast("double")),
                6).alias("top1_agreement"),
        F.round(F.avg("_mad"), 6).alias("mean_abs_delta"))


def sign_sketch_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5, dim: int = 64,
                     query_id: str = "query_id") -> DataFrame:
    """Binary sign-sketch retrieval: quantize each embedding to its
    sign bits packed into two BIGINT words (dims 0-31 / 32-63), rank
    candidates per query by Hamming distance
    bit_count(xor(lo)) + bit_count(xor(hi)) — the 64x-compression ANN
    path (1-bit/dim) production stores use when the full vectors
    don't fit serving memory; ~96% top-1 agreement with cosine on
    normalized embeddings is the classic trade.

    The packing is ONE integer aggregate per vector ((x>=0) << pos —
    engine-exact, no floats anywhere downstream); the sketch relation
    is 2 BIGINTs per id, so the broadcast-query cross scans 16 bytes
    per candidate instead of 8*dim, and the per-query top-k is the
    usual bounded ranking window over (hamming, id).  Two words keep
    every shift < 32 (bit 63 would overflow signed BIGINT).  At 10^9
    vectors the sketch table IS the index — rebuild is one scan.

    Only the first ``dim`` dimensions are sketched: the posexplode is
    filtered to ``pos < dim`` so longer vectors have their tail dims
    EXPLICITLY ignored (truncation sketch) rather than silently
    wrapping shifts into the wrong word."""
    if dim > 64:
        raise ValueError("sign_sketch_topk packs at most 64 dims")

    def _words(df: DataFrame, out_id: str) -> DataFrame:
        ex = (df.select(F.col(id_col).alias(out_id),
                        F.posexplode(vec_col).alias("pos", "x"))
              .filter(F.col("pos") < int(dim)))
        bit = (F.col("x") >= 0).cast("long")
        # F.shiftleft takes a python-int bit count; the SQL form takes
        # a column
        lo = F.when(F.col("pos") < 32,
                    bit * F.expr("shiftleft(CAST(1 AS BIGINT), "
                                 "CAST(pos AS INT))")
                    ).otherwise(F.lit(0))
        hi = F.when(F.col("pos") >= 32,
                    bit * F.expr("shiftleft(CAST(1 AS BIGINT), "
                                 "CAST(pos - 32 AS INT))")
                    ).otherwise(F.lit(0))
        return ex.groupBy(out_id).agg(F.sum(lo).alias(f"_lo_{out_id}"),
                                      F.sum(hi).alias(f"_hi_{out_id}"))

    cw = _words(corpus, id_col)
    qw = _words(queries, query_id)
    ham = (F.bit_count(F.col(f"_lo_{id_col}")
                       .bitwiseXOR(F.col(f"_lo_{query_id}")))
           + F.bit_count(F.col(f"_hi_{id_col}")
                         .bitwiseXOR(F.col(f"_hi_{query_id}"))))
    w = Window.partitionBy(query_id).orderBy("hamming", id_col)
    return (cw.crossJoin(F.broadcast(qw))
            .filter(F.col(id_col) != F.col(query_id))
            .select(query_id, id_col, ham.cast("bigint").alias("hamming"))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= int(k)))
