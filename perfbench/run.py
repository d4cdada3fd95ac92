"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

`--workload all` runs every workload in turn and prints each one's report
and result.

Run from the root of a checkout. Builds the program and the harness (see
build.py) and, once per build, a class-data archive of what they load
(class_archive), runs one workload in a fresh JVM on Spark local[2], prints the
harness's report lines and, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 measures the workload
twice on identical set-ups in one JVM, untraced and then traced, and
reports the per-layer metrics of the traced measurement plus the tracing
overhead (its op_ms_p50 against the untraced one's). Metric names and
units come from BENCHMARK.json: the harness reports values by name, and a
run whose names do not match the file's produces no result. Results the
harness leaves for an oracle (text_index) are replayed in DuckDB here.
The exit code is non-zero when the build fails, a correctness check
fails, or no result is produced.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "scan", "text_index")
HEAP = "2g"
SPEC = os.path.join(build.ROOT, "BENCHMARK.json")
RUN_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 400

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def harness(classpath, main_args, deadline, jvm_opts=(), replay=True):
    """Run the harness JVM once; returns (exit code, stdout lines, oracle
    failures). Its standard error is echoed when it produced no result."""
    work = os.path.join(build.BUILD_DIR, "run-%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(os.path.join(work, "tmp"))
    # JVM log lines go to standard error, so the result stays the last line.
    # C1 only (TieredStopAtLevel=1): with C2 on, a run's JVM was still
    # compiling Spark and the program through every measured window (15-28 s
    # of compile time in a 12 s window, i.e. two vCPUs busy), so how far the
    # compiler had got set the numbers. C1 compiles a fifth of that. C1 alone
    # gets a 48 MB code cache, which the workloads fill; a full cache stops
    # compilation, so it gets the tiered default's 240 MB.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work] + list(jvm_opts)
    for o in OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + main_args + ["--work", work]
    log = os.path.join(work, "stderr.log")
    try:
        with open(log, "w") as err:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
            # scratch inside the run's directory either way
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                 text=True, cwd=work, env=env)
            try:
                out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                print("harness timed out", file=sys.stderr)
                return 124, [], []
        lines = out.splitlines()
        if replay and result_of(lines) is None:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
        return p.returncode, lines, oracle_failures(work) if replay else []
    finally:
        shutil.rmtree(work, ignore_errors=True)


def class_archive(classpath):
    """A class-data archive of what the workloads load, taken once per build
    from a JVM that runs each workload's warm-up (`--workload train`). With
    it a run's JVM maps those classes instead of loading and verifying them
    again, which halves the time to Spark's first job; the measured paths
    run after a warm-up either way. None when the archive cannot be made:
    runs then load classes the usual way."""
    path = classpath[0][:-len(".jar")] + ".jsa"
    if not os.path.isfile(path):
        tmp = path + ".tmp"
        code, _, _ = harness(classpath, ["--workload", "train", "--seed", "0"],
                             time.time() + TRAIN_TIMEOUT_S,
                             ["-XX:ArchiveClassesAtExit=" + tmp], replay=False)
        if code != 0 or not os.path.isfile(tmp):
            print("no class-data archive (exit %d): classes load uncached" % code,
                  file=sys.stderr)
            return None
        os.replace(tmp, path)
    return path


def result_of(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    return r if isinstance(r, dict) and "values" in r else None


def oracle_failures(work):
    """Replay each result the harness left in `work` (oracle-*.json: an
    entry's oracle SQL, the documents table it ran on and its rows) in
    DuckDB; returns one message per result that differs. Scores are
    micro-unit quantised by both engines, so numbers compare at 1e-6."""
    cases = sorted(glob.glob(os.path.join(work, "oracle-*.json")))
    if not cases:
        return []
    import duckdb

    def norm(row):
        return tuple(round(v * 1e6) if isinstance(v, (int, float)) and
                     not isinstance(v, bool) else v for v in row)

    bad = []
    for path in cases:
        with open(path) as f:
            c = json.load(f)
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(c["documents"], "*.parquet"))
            want = con.execute(c["sql"]).fetchall()
            cols = [d[0] for d in con.description]
        finally:
            con.close()
        if cols != c["columns"]:
            bad.append("%s: columns %s, oracle %s" % (c["entry"], c["columns"], cols))
        elif sorted(map(norm, c["rows"])) != sorted(map(norm, want)):
            bad.append("%s: %d rows differ from the oracle's %d"
                       % (c["entry"], len(c["rows"]), len(want)))
    return bad


def final_result(r, trace, oracle_bad):
    """The contract's result from the harness's: units from BENCHMARK.json.
    None when the reported names do not match the file's."""
    with open(SPEC) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    values = r["values"]
    names = [m["name"] for m in spec]
    extra = sorted(set(values) - set(names))
    missing = [] if trace else sorted(set(names) - set(values))
    if extra or missing:
        print("metric names differ from BENCHMARK.json: reported but not listed %s, "
              "listed but not reported %s" % (extra, missing), file=sys.stderr)
        return None
    return {
        "correct": r["correct"] and not oracle_bad,
        "attempted": r["attempted"],
        "failed": r["failed"] + len(oracle_bad),
        # a layer the workload does not call reads 0
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in spec},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(str(e), file=sys.stderr)
        return 2
    archive = class_archive(classpath)
    jvm_opts = ["-XX:SharedArchiveFile=" + archive] if archive else []
    # a first run also builds; each measured run gets its own time budget
    worst = 0
    for wl in WORKLOADS if args.workload == "all" else (args.workload,):
        main_args = ["--workload", wl, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", args.trace]
        code, lines, oracle_bad = harness(classpath, main_args,
                                          time.time() + RUN_TIMEOUT_S, jvm_opts)
        r = result_of(lines)
        res = r and final_result(r, args.trace == "1", oracle_bad)
        if res is None:
            print("no result from the harness for " + wl, file=sys.stderr)
            worst = max(worst, code or 3)
            continue
        print("\n".join(lines[:-1]))
        for m in oracle_bad:
            print("CHECK FAILED: " + m)
        print(json.dumps(res))
        worst = max(worst, code, 0 if res["correct"] else 1)
    return worst


if __name__ == "__main__":
    sys.exit(main())
