"""A long session stays clean: a cold pass then a warm pass over the 30
headliners at sf0.1, in ONE fresh Spark session, logs no driver ERROR
line and schedules the same jobs on both passes.

The pass runs in a child process because the driver log has to be
routed to a file when the JVM starts (``perfbench/sparkstats.py``'s
``log4j_config``, counted by its ``ErrorLog``), and the test session's
JVM is already running.  Full tier only (FMX_FULL_SUITE=1): the two
passes take minutes.

Run the child directly to see the record:
``python tests/test_session_passes.py <sf0.1 dir> <work dir>``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _passes(sf_dir: str, work: str) -> dict:
    """Cold then warm pass over the headliners; per query the jobs each
    pass scheduled, less the parquet schema-inference job a table's
    first read runs (named ``parquet at ...``)."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from sparkstats import ErrorLog, log4j_config

    import fmx
    import fmx.queries as Q

    log_path = os.path.join(work, "driver.log")
    conf_path = os.path.join(work, "log4j2.properties")
    with open(conf_path, "w") as f:
        f.write(log4j_config(log_path))
    errors = ErrorLog(log_path)
    spark = fmx.get_spark(
        app_name="fmx-session-passes", master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions":
                f"-Dlog4j2.configurationFile=file:{conf_path}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
        })
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    ALL = Q.all_queries()
    names = sorted(n for n, s in ALL.items() if s.headline)
    jobs: dict[str, list[int]] = {n: [] for n in names}
    for run in ("cold", "warm"):
        for name in names:
            group = f"{run}-{name}"
            sc.setJobGroup(group, name)
            try:
                df = ALL[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            finally:
                sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            jobs[name].append(sum(
                1 for j in sc.statusTracker().getJobIdsForGroup(group)
                if not store.job(j).name().startswith("parquet at ")))
    out = {"jobs": jobs, "errors": errors.new_errors(),
           "persisted": sc._jsc.getPersistentRDDs().size()}
    spark.stop()
    return out


@pytest.mark.skipif(os.environ.get("FMX_FULL_SUITE") != "1",
                    reason="two sf0.1 headliner passes: FMX_FULL_SUITE=1")
def test_cold_then_warm_headliner_passes(sf_dir, tmp_path):
    # sf0.1 sits next to the default tier's sf0.001 directory
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip(f"no sf0.1 data at {sf01}")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf01, str(tmp_path)],
        capture_output=True, text=True, timeout=1800)
    assert proc.returncode == 0, proc.stderr[-4000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["errors"] == 0, open(tmp_path / "driver.log").read()[-4000:]
    changed = {n: j for n, j in rec["jobs"].items() if j[0] != j[1]}
    assert not changed, changed
    assert rec["persisted"] == 0


if __name__ == "__main__":
    print(json.dumps(_passes(sys.argv[1], sys.argv[2])))
