"""Interleaved per-query bench: run the named headline/registered
queries round-robin into the noop sink for N passes in ONE session,
with the DuckDB comparator timed in-session — the adjudication
protocol from SCALE.md's r12 noise addendum (interleaving controls
host drift; the comparator anchors the ratio).

Usage: python tools/abbench.py [--passes N] [--sf DIR] query [query ...]
Prints per-query wall list, min/median, jobs and executor CPU per
pass (read through perfbench/sparkstats.py's ``group_stats``), DuckDB
best-of-2 and the floor-adjusted view using the same empty-plan
dispatch floor as bench.py.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def main() -> None:
    args = sys.argv[1:]
    passes = 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--passes":
            passes = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from sparkstats import group_stats

    import fmx
    import fmx.queries as Q

    specs = Q.all_queries()
    spark = fmx.get_spark(app_name="fmx-abbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .selectExpr("sum(l_quantity)").collect()

    floor_runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).write.mode("overwrite").format("noop").save()
        floor_runs.append(time.perf_counter() - t0)
    floor = min(floor_runs)

    walls: dict[str, list[float]] = {n: [] for n in names}
    for p in range(passes):
        for n in names:
            sc.setJobGroup(f"{n}#{p}", n)
            t0 = time.perf_counter()
            specs[n].fn(spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
            walls[n].append(time.perf_counter() - t0)
        sc.setJobGroup("idle", "")
    stats = {n: [group_stats(sc, f"{n}#{p}") for p in range(passes)]
             for n in names}
    jobs = {n: min(s.jobs for s in stats[n]) for n in names}
    cpu = {n: statistics.median(s.executor_cpu_s for s in stats[n])
           for n in names}

    duck: dict[str, float] = {}
    try:
        import duckdb

        from fmx.sources import TABLES
        con = duckdb.connect()
        con.execute(f"SET threads TO {cpus}")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{sf_dir}/{t}.parquet'")
        for n in names:
            if not specs[n].oracle:
                continue
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(specs[n].oracle).fetchall()
                best = min(best, time.perf_counter() - t0)
            duck[n] = best
    except Exception as exc:  # comparator is best-effort
        print(f"duckdb comparator failed: {exc}", file=sys.stderr)

    print(f"\nfloor={floor:.3f}s  sf={sf_dir}  passes={passes}")
    for n in names:
        w = walls[n]
        adj = max(min(w) - floor * jobs[n], 0.0)
        d = duck.get(n)
        ratio = f"{adj / d:6.2f}" if d else "   n/a"
        print(f"{n:38s} min={min(w):6.3f} med={statistics.median(w):6.3f} "
              f"jobs={jobs[n]:3d} cpu={cpu[n]:6.3f} adj={adj:6.3f} "
              f"duck={d if d else float('nan'):6.3f} adj_ratio={ratio} "
              f"runs={[round(x, 2) for x in w]}")
    spark.stop()


if __name__ == "__main__":
    main()
