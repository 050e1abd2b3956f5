"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd
import pytest

import checks
import datagen
from sparkstats import cpu_seconds

# fmx is imported from the repository root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_analytics_tables_repeat_for_a_seed():
    a, b = datagen.analytics_tables(7), datagen.analytics_tables(7)
    assert sorted(a) == sorted(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(datagen.analytics_tables(8)["lineitem"])


def test_ratings_repeat_for_a_seed():
    a, b = datagen.ratings(3), datagen.ratings(3)
    assert np.array_equal(a.label, b.label)
    assert all(np.array_equal(x, y) for x, y in zip(a.idx, b.idx))
    assert all(np.array_equal(x, y) for x, y in zip(a.val, b.val))
    assert not np.array_equal(a.label, datagen.ratings(4).label)


def test_ratings_have_the_sample_app_shape():
    r = datagen.ratings(3)
    users, movies = datagen.USERS, datagen.MOVIES
    assert r.dim == users + 2 * movies == 6300
    assert 13_000 < len(r.label) < 14_500
    assert 75 < np.mean([len(i) for i in r.idx]) < 81
    for idx, val in zip(r.idx[:50], r.val[:50]):
        assert idx[0] < users <= idx[1] < users + movies <= idx[2]
        assert val[0] == val[1] == 1.0
        assert np.allclose(val[2:], 1.0 / len(val[2:]))


@pytest.mark.parametrize("seed", [1, 2])
def test_planted_model_mae_is_the_noise_mae(seed):
    r = datagen.ratings(seed)
    holdout = np.random.default_rng(0).random(len(r.label)) < 0.3
    idx = [i for i, h in zip(r.idx, holdout) if h]
    val = [v for v, h in zip(r.val, holdout) if h]
    mae = np.mean(np.abs(datagen.fm_predict(r.planted, idx, val)
                         - r.label[holdout]))
    assert mae == pytest.approx(datagen.NOISE_MAE, rel=0.15)


def test_rounded_places_reads_each_round_precision():
    sql = ("SELECT round(sum(x * (1 - d)), 2) AS a, ROUND(avg(y), 6) AS b, "
           "substr(s, 1, 15) AS c, round(z) AS e FROM t")
    assert checks.rounded_places(sql) == {2, 6}


def test_query_check_rejects_an_empty_result():
    empty = pd.DataFrame({"k": pd.Series([], dtype="int64")})
    assert not checks.query_matches("tpch_q6_forecast_revenue", empty, empty,
                                    "SELECT 1 AS k")
    assert checks.query_matches("text_redaction", empty, empty,
                                "SELECT 1 AS k")


def test_floats_compare_at_nine_places_without_a_round():
    a = pd.DataFrame({"k": [1], "x": [0.5]})
    assert checks.frames_match(a, pd.DataFrame({"k": [1], "x": [0.5 + 1e-11]}))
    assert not checks.frames_match(a, pd.DataFrame({"k": [1], "x": [0.6]}))
    assert not checks.frames_match(a, pd.DataFrame({"k": [1], "x": [0.5001]}))


def test_one_unit_of_slack_only_on_the_oracles_round_grid():
    a = pd.DataFrame({"x": [0.522805]})
    b = pd.DataFrame({"x": [0.522806]})
    assert checks.frames_match(a, b, "SELECT round(s, 6) AS x FROM t")
    assert not checks.frames_match(a, b, "SELECT round(s, 4) AS x FROM t")
    assert not checks.frames_match(a, b, "SELECT s AS x FROM t")
    c = pd.DataFrame({"x": [0.522808]})
    assert not checks.frames_match(a, c, "SELECT round(s, 6) AS x FROM t")


def test_stage_counters_repeat_across_runs_of_one_plan(tmp_path,
                                                      monkeypatch):
    pytest.importorskip("pyspark")
    from harness import Harness
    from sparkstats import group_stats

    # the harness points the JVM's and Python's temporary files at its
    # work directory; restore them afterwards
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    h = Harness(str(tmp_path), "test", 0, trace=True)
    try:
        h.start()
        sc = h.spark.sparkContext
        df = h.spark.range(20_000).selectExpr("id % 13 AS k", "id") \
            .groupBy("k").count()
        runs = []
        for i in range(2):
            sc.setJobGroup(f"plan#{i}", "plan")
            df.write.mode("overwrite").format("noop").save()
            runs.append(group_stats(sc, f"plan#{i}"))
        sc.setJobGroup("idle", "")
    finally:
        h.close()
    a, b = runs
    assert a.jobs >= 1 and a.stages >= 2 and a.tasks >= 2
    assert a.shuffle_write_bytes > 0
    assert (a.jobs, a.stages, a.tasks, a.shuffle_read_bytes,
            a.shuffle_write_bytes) == (b.jobs, b.stages, b.tasks,
                                       b.shuffle_read_bytes,
                                       b.shuffle_write_bytes)
    assert 0 < a.covered_s() < 60


def test_cpu_seconds_count_a_child_process_tree():
    # a child that burns about half a CPU second in a grandchild, then
    # waits until its input closes
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys\n"
         f"subprocess.run([sys.executable, '-c', {burn!r}])\n"
         "print('done', flush=True)\nsys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        own = cpu_seconds(None)
        assert cpu_seconds(child.pid) - own >= 0.45
    finally:
        child.stdin.close()
        child.wait(timeout=30)

