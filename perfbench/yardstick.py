#!/usr/bin/env python3
"""DuckDB yardstick for suite_sf01 (informational; not a gated metric).

    python3 perfbench/yardstick.py --seed 1 --seconds 5

Runs the DuckDB oracle SQL of the suite's queries over the same sf0.1
tables with the same pass structure as the benchmark: one untimed pass
that checks row counts against the recorded expected values, then
seed-shuffled timed passes until `--seconds` have passed (at least
one). Prints suite_s, query_p50_s and query_p90_s with median,
p25, p75 and sample count. The oracle SQL comes from the engine's own
registry (`SparkEntry.oracleSqlFor`), so the build must exist or is made.
"""
import argparse
import json
import os
import random
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def oracle_sql():
    cp = run.build()
    tmp = os.path.join(run.BUILD, "runs", "oracle-" + uuid.uuid4().hex[:8])
    os.makedirs(tmp)
    try:
        return run.launch(cp, tmp,
                          ["--oracle", "1", "--queries", ",".join(run.SUITE_QUERIES)],
                          run.DEADLINE_S, os.path.join(tmp, "oracle.log"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=run.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    import duckdb

    sql = oracle_sql()
    missing = [q for q in run.SUITE_QUERIES if q not in sql]
    if missing:
        run.fail(f"no oracle SQL for {missing}")
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.DATA, f)}')")
    expected = run.load_expected("suite_sf01.json") or {}

    failed = 0
    for q in run.SUITE_QUERIES:
        rows = len(con.sql(sql[q]).fetchall())
        if rows != expected.get(q, {}).get("rows"):
            failed += 1
            print(f"check failed: {q}: {rows} rows, expected {expected.get(q)}")

    passes, walls = [], []
    t0 = time.perf_counter()
    p = 0
    while p < 1 or time.perf_counter() - t0 < args.seconds:
        order = list(run.SUITE_QUERIES)
        random.Random(args.seed * 1000003 + p).shuffle(order)
        total = 0.0
        for q in order:
            s = time.perf_counter()
            con.sql(sql[q]).fetchall()
            dt = time.perf_counter() - s
            walls.append(dt)
            total += dt
        passes.append(total)
        p += 1

    threads = con.execute("SELECT current_setting('threads')").fetchone()[0]
    print(f"duckdb {duckdb.__version__} threads={threads}")
    print(f"{'metric':<24}{'unit':>7}{'median':>12}{'p25':>12}{'p75':>12}{'n':>6}")
    for name, vals in (("suite_s", passes), ("query_p50_s", walls)):
        s = stats.summary(vals)
        print(f"{name:<24}{'s':>7}{s['median']:>12.5f}{s['p25']:>12.5f}{s['p75']:>12.5f}{s['n']:>6}")
    rule = ("" if stats.tail_ok(walls, 0.9) else
            f"  (tail rule not met: {stats.tail_count(walls, 0.9)} < 10 samples above)")
    print(f"{'query_p90_s':<24}{'s':>7}{stats.percentile(walls, 0.9):>12.5f}"
          f"{'':>24}{len(walls):>6}{rule}")
    print(json.dumps({"engine": "duckdb", "failed": failed,
                      "suite_s": stats.summary(passes), "query_p50_s": stats.summary(walls),
                      "query_p90_s": stats.percentile(walls, 0.9)}))


if __name__ == "__main__":
    main()
