"""The benchmark's workloads.

Each workload function takes the harness and the run length and returns
a ``Result``.  Inputs are generated before anything is timed.  Set-up is
repeated three times, each time on a fresh SparkContext, and ``setup_s``
is the median.  Then the workload repeats its unit of work until
``seconds`` have been measured (at least one unit).  Between operations,
outside the timed region, the workload counts and clears persisted RDDs
and cached relations; output checks also run outside the timed region.

- ``analytics``: one unit is a pass over the headline queries in
  ``ANALYTICS_QUERIES``, in name order, each built and collected to the
  driver, after one untimed run of each of ``WARMUP_QUERIES``.  Each
  result is compared with the query's DuckDB oracle over the same
  generated tables.
- ``fm``: one unit is ``FMRegressorSGD.fit`` with the reference sample
  app's hyper-parameters but ``FIT_ITERATIONS`` iterations on
  MovieLens-shaped data, a holdout evaluation, and then SERVE_ROUNDS
  rounds of one closed-loop client.  Each round sends a sparse request
  (``FMModel.transform`` on a loaded model) and a dense request (a
  compiled ``fm_score_expr``); each scores a seeded sample of rows and
  collects the scores, which are checked against NumPy.  Before the
  units, untimed, the dense model's scores from ``fm_score_expr`` and
  from ``FMModel.transform`` are checked against each other.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import CORES, Harness, median
from sparkstats import GroupStats
from tracing import Tracer

# five set-ups steadied setup_s no more than three did (the host's speed
# moved it more than the JVM's warm-up) and made each run ~5 s longer
SETUP_REPS = 3
ROADMAP_TARGETS = ["graph_connected_components", "dedup_allpairs_canonical",
                   "ann_ivfpq_topk", "ann_pq_rerank", "ann_pq_topk",
                   "dedup_semantic"]
# A cold pass over all 30 headline queries takes 53-58 s on a 4-core
# host, more than a whole run may last; the pass holds the optimisation
# targets, which take about 40% of that pass, and fm_predict, the one
# headline query that reaches fmx.fm
ANALYTICS_QUERIES = sorted(ROADMAP_TARGETS + ["fm_predict"])
WARMUP_QUERIES = ["ann_cosine_topk", "dedup_minhash_lsh_pairs"]
# reference sample app (FactorizationMachinesSample.scala)
FM_ESTIMATOR = dict(dimFactorization=8, maxIter=5, miniBatchFraction=0.2,
                    stepSize=1.0, initialSd=0.01, regParam=0.0, seed=1234)
# A fit costs about 12 s warm whether it runs one iteration or two,
# and 25-35 s cold at the sample app's five, more than a run can hold.
# For the same reason there is no CrossValidator: a 2-fold one over a
# 1-point grid makes three fits, about 34 s even with two in parallel
FIT_ITERATIONS = 2
FIT_ESTIMATOR = dict(FM_ESTIMATOR, maxIter=FIT_ITERATIONS)
SERVE_ROUNDS = 4
# holdout MAE bound, as a multiple of the MAE of predicting the mean label.
# Two mini-batch SGD steps at the sample app's settings barely move the
# model from its near-zero start (holdout MAE about 0.99 of that MAE), so
# a model that never learns passes too: the check catches divergence,
# NaN and broken scoring, not under-fitting
MAE_SLACK = 1.25
SERVE_ROWS = 56
SERVE_RANK = 4
SCORE_TOL = 1e-9


@dataclass
class Result:
    """``setup_s`` and ``pass_cpu_s`` are CPU seconds; ``setup_wall_s``
    and ``pass_s`` the same medians in wall seconds."""
    setup_s: float
    setup_wall_s: float
    pass_cpu_s: float
    pass_s: float
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)


class Ops:
    """Counts operations and their failures.  An output check counts as
    an operation of its own, so ``failed`` never exceeds ``attempted``.
    A failure is reported on stderr and the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self._fail(what)
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self._fail(what)

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what} failed", file=sys.stderr)


def _setup(h: Harness, prepare) -> tuple[float, float, list]:
    """Run ``prepare`` on a fresh SparkContext SETUP_REPS times; return
    the median CPU seconds and the median wall (session start included)
    and each rep's output."""
    cpus, walls, outs = [], [], []
    for _ in range(SETUP_REPS):
        c0, t0 = h.cpu_s(), time.perf_counter()
        h.restart()
        outs.append(prepare())
        walls.append(time.perf_counter() - t0)
        cpus.append(h.cpu_s() - c0)
    print(f"perfbench: inputs ready {h.since_start():.1f} s after session "
          f"start; set-ups took {sum(walls):.1f} s", file=sys.stderr)
    return median(cpus), median(walls), outs


def _stage_layers(prefix: str, st: GroupStats) -> dict[str, float]:
    return {f"{prefix}.jobs": st.jobs, f"{prefix}.stages": st.stages,
            f"{prefix}.tasks": st.tasks,
            f"{prefix}.executor_cpu_s": st.executor_cpu_s,
            f"{prefix}.shuffle_read_bytes": st.shuffle_read_bytes,
            f"{prefix}.shuffle_write_bytes": st.shuffle_write_bytes,
            f"{prefix}.spill_bytes": st.spill_bytes}


# -- analytics ------------------------------------------------------------

def analytics(h: Harness, seconds: float) -> Result:
    import duckdb

    from checks import query_matches
    from fmx.queries import all_queries
    from fmx.sources import load_tables

    tables = datagen.analytics_tables(h.seed)
    dirs = [h.path(f"tables{i}") for i in range(SETUP_REPS)]
    for d in dirs:     # one copy per set-up: each pays schema inference
        datagen.write_tables(tables, d)
    it = iter(dirs)
    setup_s, setup_wall_s, _ = _setup(
        h, lambda: load_tables(h.spark, next(it)))
    data = dirs[-1]

    # headline queries outside the pass, run once untimed, take the JVM's
    # warm-up, which otherwise lands on the first query and moves it by
    # half its wall from run to run; the fixed order does the rest
    specs = all_queries()
    for name in WARMUP_QUERIES:
        specs[name].fn(h.spark, data).toPandas()
        h.clear()
    order = ANALYTICS_QUERIES
    tr = Tracer(h.spark.sparkContext, h.trace)
    ops = Ops()
    walls: list[float] = []
    pass_walls: list[float] = []
    pass_cpus: list[float] = []
    results = {}
    measured = 0.0
    while not pass_walls or measured < seconds:
        # per-layer figures describe the last pass
        layers = {"queries.construct_s": 0.0, "queries.execute_s": 0.0,
                  "queries.persisted_left": 0, "queries.driver_errors": 0}
        stats = GroupStats()
        pass_wall = 0.0
        cpu0 = h.cpu_s()
        for i, name in enumerate(order):
            def query(name=name, i=i):
                with tr.span(f"queries.{name}", request=i) as q:
                    with tr.span("construct") as c:
                        df = specs[name].fn(h.spark, data)
                    with tr.span("execute") as e:
                        out = df.toPandas()
                return q, c, e, out
            got = ops.run(f"query {name}", query)
            layers["queries.persisted_left"] += h.clear()
            layers["queries.driver_errors"] += h.errors.new_errors()
            if got is None:
                continue
            q, c, e, results[name] = got
            walls.append(q.wall)
            pass_wall += q.wall
            layers["queries.construct_s"] += c.wall
            layers["queries.execute_s"] += e.wall
            if h.trace:
                st = tr.stats(q)
                stats += st
                if name in ROADMAP_TARGETS:
                    layers[f"queries.{name}.construct_s"] = c.wall
                    layers[f"queries.{name}.execute_s"] = e.wall
                    layers[f"queries.{name}.jobs"] = st.jobs
        pass_cpus.append(h.cpu_s() - cpu0)
        pass_walls.append(pass_wall)
        measured += pass_wall

    # output check: every result against its DuckDB oracle
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle_s = 0.0
    for name in order:
        if name not in results:
            continue
        t0 = time.perf_counter()
        expected = con.sql(specs[name].oracle).df()
        oracle_s += time.perf_counter() - t0
        ops.check(f"query {name} output check",
                  query_matches(name, results[name], expected,
                                specs[name].oracle))
    con.close()

    if h.trace:
        floor = h.dispatch_floor()
        layers.update(_stage_layers("queries", stats))
        layers.update({
            "queries.executor_run_s": stats.executor_run_s,
            "queries.dispatch_s": stats.jobs * floor,
            "session.dispatch_floor_s": floor,
            "duckdb.oracle_s": oracle_s,
            "analytics.query_p50_s": median(walls),
        })
        tr.dump(h.trace_path())
    return Result(setup_s, setup_wall_s, median(pass_cpus),
                  median(pass_walls), ops.attempted, ops.failed, layers)


# -- FM inputs --------------------------------------------------------------

def _save_model(spark, p: datagen.FMParams, path: str) -> None:
    """Write ``p`` in ``FMModel.save``'s layout (the params' metadata as
    text, ``strength`` and ``factors`` as parquet) with pyarrow: saving
    through Spark would run a dozen cold jobs before set-up starts."""
    from pyspark.ml.util import DefaultParamsWriter

    from fmx.fm import FMModel

    model = FMModel(dim_factorization=p.v.shape[1], global_bias=p.w0)
    meta = DefaultParamsWriter._get_metadata_to_save(model, spark, {
        "dim_factorization": model.dim_factorization,
        "global_bias": model.global_bias, **model._extra_metadata()})
    ids = pa.array(range(len(p.w)), pa.int64())
    for sub, table in (
            ("strength", pa.table({"featureId": ids,
                                   "strength": pa.array(p.w)})),
            ("factors", pa.table({"featureId": ids,
                                  "vec": pa.array(list(p.v),
                                                  pa.list_(pa.float64()))}))):
        os.makedirs(os.path.join(path, sub))
        pq.write_table(table, os.path.join(path, sub, "part-0.parquet"))
    os.makedirs(os.path.join(path, "metadata"))
    with open(os.path.join(path, "metadata", "part-00000"), "w") as f:
        f.write(meta + "\n")


# -- fm -------------------------------------------------------------------

@dataclass
class _FMSetup:
    train: object
    test: object
    sparse_model: object
    dense_model: object
    dense_expr: object
    samples: object
    embeddings: object


def fm(h: Harness, seconds: float) -> Result:
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.sql import functions as F

    from fmx.fm import FMModel, FMRegressorSGD
    from fmx.fm.serving import fm_score_expr

    # inputs: the samples serve both training and sparse requests; the
    # sparse model is the planted FM, so every score has an exact reference
    r = datagen.ratings(h.seed)
    rng = np.random.default_rng(h.seed)
    emb = datagen.embedding_vectors(
        rng, rng.integers(0, 10, datagen.SIZES["embeddings"])).astype(float)
    dense = datagen.fm_params(rng, datagen.EMB_DIM, SERVE_RANK, w0=0.5,
                              w_sd=0.5, v_sd=0.3)
    paths = {k: h.path(k) for k in ("samples", "embeddings", "sparse_model",
                                    "dense_model")}
    datagen.write_samples(r, paths["samples"])
    os.makedirs(paths["embeddings"])
    pq.write_table(pa.table({
        "rid": pa.array(range(len(emb)), pa.int64()),
        "features": pa.array(list(emb), pa.list_(pa.float64()))}),
        os.path.join(paths["embeddings"], "part-0.parquet"))
    _save_model(h.spark, r.planted, paths["sparse_model"])
    _save_model(h.spark, dense, paths["dense_model"])
    dense_idx = np.arange(datagen.EMB_DIM)
    # the sample app clips predictions to the training labels' range; the
    # range of all labels spares each set-up a Spark job
    lo, hi = float(r.label.min()), float(r.label.max())
    load_walls, compile_walls = [], []

    def prepare() -> _FMSetup:
        samples = h.spark.read.parquet(paths["samples"])
        train, test = samples.randomSplit([0.9, 0.1], seed=42)
        t0 = time.perf_counter()
        sparse_model = FMModel.load(paths["sparse_model"])
        dense_model = FMModel.load(paths["dense_model"])
        t1 = time.perf_counter()
        expr = fm_score_expr(dense_model, "features",
                             n_features=datagen.EMB_DIM)
        load_walls.append(t1 - t0)
        compile_walls.append(time.perf_counter() - t1)
        return _FMSetup(train, test, sparse_model, dense_model, expr,
                        samples, h.spark.read.parquet(paths["embeddings"]))

    setup_s, setup_wall_s, outs = _setup(h, prepare)
    st = outs[-1]
    evaluator = RegressionEvaluator(metricName="mae")
    tr = Tracer(h.spark.sparkContext, h.trace)
    ops = Ops()
    layers: dict[str, float] = {"sgd.persisted_left": 0,
                                "model.persisted_left": 0}
    fit_spans, eval_spans, losses, maes = [], [], [], []
    walls = {"sparse": [], "dense": []}
    spans = {"sparse": [], "dense": []}
    construct: list[float] = []
    draw = random.Random(h.seed)

    def fit(est):
        with tr.span("sgd.fit") as s:
            model = est.fit(st.train)
        with tr.span("model.eval") as e:
            mae = evaluator.evaluate(model.transform(st.test))
        return s, e, mae

    def sparse_request(i: int):
        rows = draw.sample(range(len(r.label)), SERVE_ROWS)
        with tr.span("serve.sparse", request=i) as s:
            with tr.span("model.transform") as c:
                out = st.sparse_model.transform(
                    st.samples.where(F.col("rid").isin(rows)))
            got = out.select("rid", "prediction").collect()
        construct.append(c.wall)
        want = datagen.fm_predict(r.planted, [r.idx[k] for k in rows],
                                  [r.val[k] for k in rows])
        return s, got, dict(zip(rows, want))

    def dense_request(i: int):
        rows = draw.sample(range(len(emb)), SERVE_ROWS)
        with tr.span("serve.dense", request=i) as s:
            got = (st.embeddings.where(F.col("rid").isin(rows))
                   .select("rid", st.dense_expr.alias("prediction"))
                   .collect())
        want = datagen.fm_predict(dense, [dense_idx] * len(rows),
                                  [emb[k] for k in rows])
        return s, got, dict(zip(rows, want))

    def serve_round() -> float:
        wall = 0.0
        for kind, request in (("sparse", sparse_request),
                              ("dense", dense_request)):
            i = len(walls["sparse"]) + len(walls["dense"])
            got = ops.run(f"{kind} request", request, i)
            layers["model.persisted_left"] += h.clear()
            if got is None:
                continue
            s, rows, want = got
            walls[kind].append(s.wall)
            spans[kind].append(s)
            wall += s.wall
            ops.check(f"{kind} request {i} score check",
                      len(rows) == len(want) and all(
                          abs(row["prediction"] - want[row["rid"]])
                          <= SCORE_TOL for row in rows))
        return wall

    # output check, untimed and first, so that it also takes part of the
    # JVM's warm-up off the timed units: dense and relational scoring
    # agree on the same rows
    def agree():
        df = st.embeddings.where(F.col("rid") < SERVE_ROWS)
        a = dict(df.select("rid", st.dense_expr.alias("p")).collect())
        b = dict(st.dense_model.transform(df).select("rid", "prediction")
                 .collect())
        if a.keys() != b.keys() or any(abs(a[k] - b[k]) > SCORE_TOL
                                       for k in a):
            raise ValueError("dense and relational scores differ")
    ops.run("dense versus relational score check", agree)
    h.clear()

    unit_walls: list[float] = []
    unit_cpus: list[float] = []
    measured = 0.0
    while not unit_walls or measured < seconds:
        unit = 0.0
        cpu0 = h.cpu_s()
        est = FMRegressorSGD(**FIT_ESTIMATOR).setMinLabel(
            lo).setMaxLabel(hi)
        got = ops.run("fit", fit, est)
        layers["sgd.persisted_left"] += h.clear()
        if got is not None:
            s, e, mae = got
            fit_spans.append(s)
            eval_spans.append(e)
            unit += s.wall + e.wall
            losses.append(list(est.training_loss_))
            maes.append(mae)

        for _ in range(SERVE_ROUNDS):
            unit += serve_round()
        unit_cpus.append(h.cpu_s() - cpu0)
        unit_walls.append(unit)
        measured += unit

    # output checks: finite losses; holdout MAE under its bound
    bound = MAE_SLACK * float(np.mean(np.abs(r.label - r.label.mean())))
    for loss, mae in zip(losses, maes):
        ops.check("training loss check",
                  bool(loss) and all(math.isfinite(x) for x in loss))
        ops.check(f"holdout MAE check ({mae:.4f} against {bound:.4f})",
                  mae <= bound)


    if h.trace:
        layers.update(_fm_layers(tr, fit_spans, eval_spans, losses, maes))

        def per_request_jobs(kind):
            return (tr.stats(*spans[kind]).jobs / len(spans[kind])
                    if spans[kind] else 0.0)
        layers.update({
            "model.load_s": median(load_walls),
            "serving.compile_s": median(compile_walls),
            "model.transform_construct_s": median(construct),
            "model.request_jobs": per_request_jobs("sparse"),
            "serving.request_jobs": per_request_jobs("dense"),
            "serve.sparse_p50_s": median(walls["sparse"]),
            "serve.dense_p50_s": median(walls["dense"]),
            "serve.requests": len(walls["sparse"]) + len(walls["dense"]),
            "session.dispatch_floor_s": h.dispatch_floor(),
        })
        tr.dump(h.trace_path())
    return Result(setup_s, setup_wall_s, median(unit_cpus),
                  median(unit_walls), ops.attempted, ops.failed, layers)


def _fm_layers(tr: Tracer, fit_spans, eval_spans, losses,
               maes) -> dict[str, float]:
    out: dict[str, float] = {}
    if fit_spans:
        st = tr.stats(fit_spans[-1])
        out.update(_stage_layers("sgd", st))
        out.update({
            "sgd.driver_gap_s": fit_spans[-1].wall - st.covered_s(),
            "sgd.loss_first": losses[-1][0],
            "sgd.loss_last": losses[-1][-1],
            "model.eval_s": median([e.wall for e in eval_spans]),
            "train.fit_s": median([s.wall for s in fit_spans]),
            "train.holdout_mae": median(maes),
        })
    return out


WORKLOADS = {"analytics": analytics, "fm": fm}
