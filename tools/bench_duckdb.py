#!/usr/bin/env python3
"""DuckDB side-by-side for the bench artifact (driver-side dev tooling,
not library code — graft.Bench shells out to this and embeds the result
as "duckdb_seconds" so every round's BENCH json carries both engines on
the same data at the same scale).

Usage: bench_duckdb.py <sfDir> <sql_json> [mode]
  <sql_json>: path to a JSON object {query_name: oracle_sql}
  [mode]: "median3" = warmup + median of 3 timed runs (the envelope_x10
          protocol, r11 verdict item 1b); default = warmup + best-of-2
          with an adaptive third rep for >=1.5s oracles (the raw sf0.1
          envelope protocol, kept for cross-round continuity).
Prints ONE JSON line {query_name: seconds} (null for queries that
error). DuckDB runs under a memory limit of half the memory available to
this process and spills to a per-run temp directory, so an oracle that
outgrows memory raises (and nulls only its own entry) instead of getting
the whole process killed. <sfDir> tables may be single parquet files (driver testdata) or
Spark-written directories (the x10 scratch corpus) — directories are
read via a glob view.
"""
import json
import os
import resource
import shutil
import sys
import tempfile
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def memory_limit_bytes():
    """Half of what this process may use: the machine's MemAvailable,
    capped by the address-space limit (`ulimit -v`) when one is set."""
    avail = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) * 1024
                    break
    except OSError:
        pass
    cap = resource.getrlimit(resource.RLIMIT_AS)[0]
    if cap != resource.RLIM_INFINITY:
        avail = cap if avail is None else min(avail, cap)
    return None if avail is None else avail // 2


def main():
    sf_dir, sql_path = sys.argv[1], sys.argv[2]
    median3 = len(sys.argv) > 3 and sys.argv[3] == "median3"
    with open(sql_path) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    threads = os.environ.get("SPARK_GRAFT_CPUS", "32")
    con.execute(f"SET threads TO {int(threads)}")
    limit = memory_limit_bytes()
    if limit is not None:
        con.execute(f"SET memory_limit = '{limit // (1 << 20)}MB'")
    spill = tempfile.mkdtemp(prefix="bench_duckdb_")
    try:
        con.execute(f"SET temp_directory = '{spill}'")
        run(con, sf_dir, sqls, median3)
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


def run(con, sf_dir, sqls, median3):
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    # denominator canary: a FIXED synthetic aggregate-join, independent of
    # the testdata files — r10->r11 showed the element-explode oracles
    # drifting ~30% across rounds with unchanged SQL, and without this key
    # a reader cannot tell engine/environment drift from data drift. Rides
    # the duckdb_seconds map under a name no Spark entry uses, so it never
    # joins the overlap ratio.
    canary_sql = """
        SELECT COUNT(*), SUM(a.v * b.v) FROM
          (SELECT range AS i, CAST(range % 97 AS DOUBLE) AS v
             FROM range(2000000)) a
          JOIN (SELECT range AS i, CAST(range % 89 AS DOUBLE) AS v
             FROM range(2000000)) b ON a.i % 1000 = b.i % 1000 AND a.i = b.i
    """
    con.execute(canary_sql).fetchall()  # warmup
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        con.execute(canary_sql).fetchall()
        times.append(time.perf_counter() - t0)
    out["_duckdb_canary"] = round(min(times), 3)
    for name in sorted(sqls):
        try:
            con.execute(sqls[name]).fetchall()  # warmup
            if median3:
                # envelope_x10 protocol: median of 3 — matches the Spark
                # side's med3 estimator so the summary ratio compares the
                # same statistic on both engines
                times = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    con.execute(sqls[name]).fetchall()
                    times.append(time.perf_counter() - t0)
                out[name] = round(sorted(times)[1], 2)
                continue
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(sqls[name]).fetchall()
                times.append(time.perf_counter() - t0)
            # adaptive third rep for the EXPENSIVE oracles (mirror of the
            # Spark side's sub-1.5s rule, inverted: here the heavy entries
            # dominate the denominator total, and r10->r11 healthy-VM runs
            # showed a single >2s oracle swinging best-of-2 by ~30%, which
            # moved the round ratio more than any code change)
            if min(times) >= 1.5:
                t0 = time.perf_counter()
                con.execute(sqls[name]).fetchall()
                times.append(time.perf_counter() - t0)
            # 10ms precision (round 8: was 3dp) — the bench protocol's own
            # noise floor is ~0.3 s, and every saved char keeps the growing
            # JSON line inside the driver's 2000-char tail capture
            out[name] = round(min(times), 2)
        except Exception:
            out[name] = None
    # compact separators: the blob embeds into Bench's single output line,
    # which must stay inside the driver's 2000-char tail capture
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
