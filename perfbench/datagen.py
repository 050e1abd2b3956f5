"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives the
same tables, byte for byte.

- ``write_tables`` writes the ten analytics tables (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  column names, types and value ranges the registered queries read.
- ``ratings`` builds a MovieLens-shaped FM training set, shaped like the
  reference sample app's features: each sample is a one-hot user, a
  one-hot movie and a co-rated block holding every other movie the user
  rated at weight 1/(n-1).  Movie popularity is Zipf.  Labels come from
  a planted FM plus Gaussian noise, so the planted model's MAE on any
  split is the noise MAE, ``NOISE_MAE``.
- ``fm_params`` draws the parameters of a planted FM and ``fm_predict``
  scores with them in NumPy, the reference the benchmark checks Spark's
  scores against.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# row counts of the analytics tables: the shape of the repository's
# smallest test scale (sf0.001), not sf0.1, where one cold pass over the
# headline queries alone takes about 61 s on a 4-core host and a run
# would last about two minutes
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 500,
         "embeddings": 500}
EMB_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
_WORDS = ("a the data query row column table key value part line order "
          "customer join hash sort merge scan filter group agg window "
          "stream batch spark vector small big fast slow").split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days(start: dt.datetime, n: np.ndarray) -> np.ndarray:
    """Day offsets from ``start`` as naive microsecond timestamps."""
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + n.astype(np.int64) * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    ts_us = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        # nation n is in region n % 5: every region gets its share of
        # the few suppliers, so the per-region queries never come back
        # empty
        "s_nationkey": pa.array(np.arange(n["supplier"]) % 5
                                + 5 * rng.integers(0, 5, n["supplier"]),
                                pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, np_),
                                              rng.choice(_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PTYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": [900.0 + (k % 1000) / 10 for k in range(np_)]})
    no = n["orders"]
    order_day = rng.integers(0, 2404, no)       # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(dt.datetime(1995, 1, 1), order_day),
                                ts_us),
        "o_orderpriority": rng.choice(_PRIORITIES, no)})
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            _days(dt.datetime(1995, 1, 1),
                  order_day[l_order] + rng.integers(1, 122, nl)), ts_us)})
    ne = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(_days(dt.datetime(2024, 1, 1), np.zeros(ne)) + ev_us,
                       ts_us),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            # near duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS,
                                             int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    emb = embedding_vectors(rng, labels)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def embedding_vectors(rng: np.random.Generator,
                      labels: np.ndarray) -> np.ndarray:
    """Unit-norm float32 vectors clustered around one centroid per label."""
    centroids = rng.normal(0.0, 1.0, (int(labels.max()) + 1, EMB_DIM))
    x = centroids[labels] + rng.normal(0.0, 1.5, (len(labels), EMB_DIM))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- FM inputs -----------------------------------------------------------

@dataclass
class FMParams:
    """A second-order FM: w0 + sum_i w_i x_i + pairwise <v_i, v_j> x_i x_j."""
    w0: float
    w: np.ndarray          # (d,)
    v: np.ndarray          # (d, k)


def fm_params(rng: np.random.Generator, d: int, k: int, w0: float,
              w_sd: float, v_sd: float) -> FMParams:
    return FMParams(w0, rng.normal(0.0, w_sd, d), rng.normal(0.0, v_sd, (d, k)))


def fm_predict(p: FMParams, idx: list[np.ndarray],
               val: list[np.ndarray]) -> np.ndarray:
    """Score sparse samples given as per-sample index and value arrays."""
    out = np.empty(len(idx))
    for s, (i, x) in enumerate(zip(idx, val)):
        vx = p.v[i] * x[:, None]
        out[s] = (p.w0 + p.w[i] @ x
                  + 0.5 * float((vx.sum(0) ** 2).sum() - (vx ** 2).sum()))
    return out


@dataclass
class Ratings:
    """Sparse FM samples: per-sample feature indices and values, labels."""
    dim: int
    idx: list[np.ndarray]
    val: list[np.ndarray]
    label: np.ndarray
    planted: FMParams


# the sample app's shape: about 13.7k samples of about 78 active features
# each, in a 6300-dimension space
USERS, MOVIES = 180, 3060
MIN_RATED, MAX_RATED = 61, 91       # movies each user rated
RANK = 4                            # planted factor dimension
NOISE_SD = 0.25
# the planted model's expected MAE: E|e| for e ~ N(0, NOISE_SD^2)
NOISE_MAE = NOISE_SD * math.sqrt(2.0 / math.pi)


def ratings(seed: int) -> Ratings:
    """MovieLens-shaped samples with planted-FM labels (see module doc).

    Feature offsets follow the reference sample app: user ``u`` at ``u``,
    movie ``m`` at ``USERS + m``, co-rated movie ``m'`` at
    ``USERS + MOVIES + m'``.  The planted FM has no bias term, so labels
    centre on zero."""
    rng = np.random.default_rng(seed)
    dim = USERS + 2 * MOVIES
    planted = fm_params(rng, dim, RANK, w0=0.0, w_sd=0.3, v_sd=0.25)
    popularity = 1.0 / np.arange(1, MOVIES + 1) ** 0.8
    popularity = rng.permutation(popularity / popularity.sum())
    idx: list[np.ndarray] = []
    val: list[np.ndarray] = []
    for u in range(USERS):
        rated = rng.choice(MOVIES, int(rng.integers(MIN_RATED, MAX_RATED + 1)),
                           replace=False, p=popularity)
        weight = 1.0 / (len(rated) - 1)
        for m in rated:
            others = np.sort(rated[rated != m])
            idx.append(np.concatenate(
                [[u, USERS + m], USERS + MOVIES + others]).astype(np.int64))
            val.append(np.concatenate([[1.0, 1.0],
                                       np.full(len(others), weight)]))
    clean = fm_predict(planted, idx, val)
    return Ratings(dim, idx, val, clean + rng.normal(0.0, NOISE_SD, len(clean)),
                   planted)


def write_samples(r: Ratings, path: str) -> None:
    """Write the samples as ``(rid, label, features)`` parquet that Spark
    reads with ``features`` as an ``ml.linalg`` sparse vector: the column
    holds VectorUDT's storage struct, and the footer carries the Spark
    schema that names the UDT."""
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([StructField("rid", LongType()),
                         StructField("label", DoubleType()),
                         StructField("features", VectorUDT())])
    storage = pa.struct([
        pa.field("type", pa.int8(), nullable=False),
        pa.field("size", pa.int32()),
        pa.field("indices", pa.list_(pa.field("element", pa.int32(),
                                              nullable=False))),
        pa.field("values", pa.list_(pa.field("element", pa.float64(),
                                             nullable=False)))])
    features = pa.array(
        [{"type": 0, "size": r.dim, "indices": i.tolist(),
          "values": v.tolist()} for i, v in zip(r.idx, r.val)], storage)
    table = pa.table({"rid": pa.array(range(len(r.label)), pa.int64()),
                      "label": pa.array(r.label, pa.float64()),
                      "features": features})
    table = table.replace_schema_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": schema.json()})
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
