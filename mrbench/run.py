#!/usr/bin/env python3
"""Benchmark of the MapReduce and query engine (see README.md).

    python3 mrbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

    python3 mrbench/run.py --self-check

Run from the root of a checkout. The first run builds the program and
the benchmark's JVM client from source with sbt into the build directory
(``$CARGO_TARGET_DIR``, else ``.bench_build``) and writes the fixed
parquet fixture there; later runs reuse both. Each run then generates
its seeded Search tree, starts one JVM (``mrbench.Main``) over an empty
index store, checks every result it returns, prints a report and, as
its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a run with the benchmark's listeners attached.
``--self-check`` runs every workload once, traced, over an sf0.001
fixture with one timed pass and no warm-up, and exits non-zero unless
every check passes.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's directory as committed
import gen  # noqa: E402

WORKLOADS = {
    # Fixed per-request floor: schema-inference reads, planning and
    # scheduling dominate; the index layer stays idle. The Search client
    # runs through MapReduce.run and through the DataFrame form.
    "mapreduce_mix": {
        "pass_s": 4.0,
        "queries": ["q_search", "q_wordcount", "q1_agg", "q_join_q3",
                    "q_window_rank", "q_json"],
        "search_forms": ["mr", "df"],
    },
    # Search-only traffic against indexes trained during set-up.
    "ann_serving": {
        "pass_s": 6.0,
        "queries": ["q_knn_brute", "q_knn_ivf", "q_knn_ivf_pq", "q_knn_sq8",
                    "q_knn_hnsw", "q_nb_classify"],
        "search_forms": [],
    },
}

# Every run does the same work: one untimed warm-up pass, then one timed
# pass per `pass_s` seconds of --seconds (a pass's length on a 4-vCPU
# host). A pass count that followed the clock instead would differ
# between runs, and with it the JIT state the timed passes see.
WARMUP_PASSES = 1
HEAP = "4g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def spark_home():
    """SPARK_HOME, else the first `spark-submit` on PATH that sits in a
    Spark installation (a `jars` directory beside its `bin`)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found (set SPARK_HOME)")


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "jvm/**/*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(classes, main, *args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes, os.path.join(spark_home(), "jars", "*")])
    return cmd + ["-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC"] + list(args) + \
        ["-cp", cp, main]


def build(build_dir):
    """Compile the program and the JVM client, and dump the program's DuckDB
    twins; skipped when no source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found in the checkout")
    sbt_dir = os.path.join(build_dir, "sbt")
    classes = os.path.join(sbt_dir, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(sbt_dir, "stamp")
    stamp = sources_stamp()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(os.path.join(sbt_dir, "project"), exist_ok=True)
    shutil.copy(os.path.join(HERE, "jvm", "build.sbt"), sbt_dir)
    shutil.copy(os.path.join(HERE, "jvm", "build.properties"),
                os.path.join(sbt_dir, "project"))
    env = dict(os.environ, MRBENCH_CHECKOUT=ROOT, SPARK_HOME=spark_home())
    t0 = time.time()
    log("building with sbt")
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false",
                        "compile"], sbt_dir, env, out, BUILD_TIMEOUT_S)
        if rc == 0:
            rc = run_child(java_cmd(classes, "mrbench.Oracles") +
                           [os.path.join(build_dir, "oracle_sql.json")],
                           build_dir, env, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isdir(os.path.join(classes, "mrbench")):
        with open(os.path.join(build_dir, "build.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_child(cmd, cwd, env, out, timeout):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def fixture(build_dir, sf):
    d = os.path.join(build_dir, "data", gen.fixture_version(sf))
    if not os.path.isfile(os.path.join(d, "DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen.fixture(tmp, sf)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# --- checks made apart from the program -----------------------------------

def bitdiff(x, y):
    # As the oracle gate: NaN equals NaN, but -0.0 differs from +0.0.
    if x != x and y != y:
        return False
    if x != y:
        return True
    if isinstance(x, float) and x == 0.0 and y == 0.0:
        return math.copysign(1, x) != math.copysign(1, y)
    return False


def check_duckdb(data, out, build_dir, queries):
    """Compare each registered query's first result with its DuckDB twin
    over the same parquet files: schema, row count and every value, bit
    for bit, columns sorted by name. Returns a list of problems.

    A twin's result depends only on its SQL text and the fixed fixture,
    so it is computed once per build directory and kept."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(build_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    cache = os.path.join(build_dir, "oracle_results")
    os.makedirs(cache, exist_ok=True)

    def twin(sql):
        key = hashlib.sha256("\0".join(
            [data, duckdb.__version__, sql]).encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.isfile(path):
            return pd.read_pickle(path)
        df = con.execute(sql).fetchdf()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    problems = []
    for q in queries:
        qdir = os.path.join(out, "check", q)
        if not os.path.isdir(qdir):
            continue  # the query failed every time; counted as failed
        if q not in oracle:
            problems.append(f"{q}: no DuckDB twin registered")
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf()
        exp = twin(oracle[q])
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            problems.append(f"{q}: columns {list(got.columns)} vs {list(exp.columns)}")
        elif [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
            problems.append(f"{q}: dtypes {list(map(str, got.dtypes))} vs "
                            f"{list(map(str, exp.dtypes))}")
        elif len(got) != len(exp):
            problems.append(f"{q}: rows {len(got)} vs {len(exp)}")
        else:
            for c in got.columns:
                bad = [(i, x, y) for i, (x, y) in
                       enumerate(zip(got[c].tolist(), exp[c].tolist()))
                       if bitdiff(x, y)]
                if bad:
                    problems.append(f"{q}: column {c} differs first at {bad[0]}")
                    break
    return problems


def check_search(out, names_by_dir, needles):
    """Each Search result must equal the sorted, duplicate-keeping,
    case-sensitive substring filter over the generated names."""
    every = [n for ns in names_by_dir for n in ns]
    problems = []
    with open(os.path.join(out, "search.tsv"), encoding="utf-8") as fh:
        for line in fh:
            kind, _, joined = line.rstrip("\n").partition("\t")
            got = joined.split("\x1f") if joined else []
            needle = needles[kind.split(".", 1)[1]]
            want = sorted(n for n in every if needle in n)
            if got != want:
                problems.append(f"{kind}: {len(got)} names, expected {len(want)}")
    return problems


# --- one run ----------------------------------------------------------------

def run_once(build_dir, classes, workload, seed, passes, warmup, trace, sf):
    """One JVM run plus the outside checks; returns (result, problems)."""
    wl = WORKLOADS[workload]
    data = fixture(build_dir, sf)
    run_dir = os.path.join(build_dir, "runs",
                           f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    for d in ("out", "index", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        dirs, names_by_dir, needles = gen.tree(os.path.join(run_dir, "tree"),
                                               seed)
        plan = {
            "workload": workload, "data": data, "seed": seed,
            "warmup": warmup, "passes": passes, "trace": trace,
            "cpus": slots(), "out": out,
            "queries": ",".join(wl["queries"]),
            "search.dirs": ",".join(dirs),
            "search.forms": ",".join(wl["search_forms"]),
            "search.needles": ",".join(f"{k}:{v}" for k, v in
                                       sorted(needles.items())),
        }
        plan_file = os.path.join(run_dir, "plan.properties")
        with open(plan_file, "w") as fh:
            for k, v in plan.items():
                fh.write(f"{k}={v}\n".replace("\\", "\\\\"))
        cmd = java_cmd(classes, "mrbench.Main",
                       f"-Djava.io.tmpdir={run_dir}/tmp",
                       f"-Dspark.local.dir={run_dir}/local",
                       f"-Dspark.sql.warehouse.dir={run_dir}/warehouse") + \
            [plan_file]
        env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as fh:
            rc = run_child(cmd, run_dir, env, fh, JVM_TIMEOUT_S)
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            jvm_log = fh.read().splitlines()
        result_file = os.path.join(out, "jvm_result.json")
        if rc != 0 or not os.path.isfile(result_file):
            sys.stderr.write("\n".join(jvm_log[-40:]) + "\n")
            fail(f"benchmark JVM exited with {rc}")
        for line in jvm_log:
            if line.startswith("[mrbench]"):
                print(line)
        with open(result_file) as fh:
            res = json.load(fh)

        problems = [f"{res['digest_mismatches']} timed results differ from "
                    "their type's first result"] \
            if res["digest_mismatches"] else []
        problems += check_duckdb(data, out, build_dir, wl["queries"])
        if wl["search_forms"]:
            problems += check_search(out, names_by_dir, needles)
        for p in problems:
            print(f"[check] FAIL {p}")
        for f in res["failures"]:
            print(f"[fail] {f}")
        if trace:
            results_dir = os.path.join(build_dir, "results")
            os.makedirs(results_dir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(
                results_dir, f"{workload}-spans.jsonl"))
        print(f"[run] workload {workload} seed {seed}: attempted "
              f"{res['attempted']}, failed {res['failed']} "
              f"(untimed failures {res['untimed_failed']}), timed passes "
              f"{passes}")
        return res, problems
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report_overhead(build_dir, workload, trace, e2e):
    """Untraced runs keep their end-to-end figures; a traced run prints
    its own minus the last untraced run's, the tracing overhead."""
    results_dir = os.path.join(build_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    last = os.path.join(results_dir, f"{workload}.json")
    if not trace:
        with open(last, "w") as fh:
            json.dump(e2e, fh)
        return
    if not os.path.isfile(last):
        return
    with open(last) as fh:
        base = json.load(fh)
    print("[trace] tracing overhead, traced minus the last untraced run of "
          "this workload in this build directory:")
    for k, v in e2e.items():
        if base.get(k):
            print(f"[trace]   {k:18s} {v - base[k]:+10.3f} "
                  f"({100 * (v - base[k]) / base[k]:+.1f} %)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not a.self_check and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    load_start = os.getloadavg()[0]

    os.chdir(ROOT)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    if a.self_check:
        bad = 0
        for w in sorted(WORKLOADS):
            res, problems = run_once(build_dir, classes, w, 1, 1, 0, 1, 0.001)
            ok = not problems and not res["failures"]
            bad += not ok
            print(f"[self-check] {w}: {'ok' if ok else 'FAILED'}")
        sys.exit(1 if bad else 0)

    passes = max(1, math.ceil(a.seconds / WORKLOADS[a.workload]["pass_s"]))
    res, problems = run_once(build_dir, classes, a.workload, a.seed, passes,
                             WARMUP_PASSES, a.trace, 0.01)
    report_overhead(build_dir, a.workload, a.trace,
                    res["e2e"])
    print(f"[run] load average 1 min: {load_start:.2f} at start, "
          f"{os.getloadavg()[0]:.2f} at end; slots {slots()}")
    metrics = res["metrics"]
    for k, v in metrics.items():
        print(f"[metric] {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not problems,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
