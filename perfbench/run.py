#!/usr/bin/env python3
"""graft benchmark: run one workload of graft's declared queries.

    python3 perfbench/run.py --workload etl_sql --seed 1 --seconds 12 --trace 0

Builds the harness together with the checkout's graft sources (once per
source change), times `SETUP_JVMS` session set-ups in JVMs of their own,
runs the workload in one JVM on local[N], checks every query's output
against its DuckDB oracle (`SparkEntry.oracleSql`), and prints each metric
by name and unit. The last line of stdout is one JSON object: the
end-to-end metrics with `--trace 0`, the per-layer metrics of a traced run
with `--trace 1`.

The inputs are the pinned sf0.01 tables in `perfbench/data/`; `--seed`
only draws the order of the queries in every pass. Build output, oracle
answers and run artifacts go under `.bench_build/` in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_sql", "llm_dedup")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATA = os.path.join(HERE, "data")
WORK = os.path.join(ROOT, ".bench_build")
# JVMs that only set the session up, besides the one that runs the
# workload; setup_s is the median over all of them.
SETUP_JVMS = 2
LOCAL_N = min(2, os.cpu_count() or 1)
XMX = "3g"
HARNESS_TIMEOUT_S = 160
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, log_path, cwd=None, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group if it outlives `timeout`. Returns the exit code."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} exceeded {timeout}s; see {log_path}")


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        raise BenchError("no Spark install found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build(graft_root):
    """Compile harness + graft sources; skipped when nothing changed."""
    sources = [p for d in (os.path.join(graft_root, "src", "main"), os.path.join(HERE, "harness", "src"))
               for p in glob.glob(os.path.join(d, "**", "*.*"), recursive=True) if os.path.isfile(p)]
    sources += [os.path.join(HERE, "harness", "build.sbt"),
                os.path.join(HERE, "harness", "project", "build.properties")]
    out = os.path.join(WORK, "build", hashlib.sha1(graft_root.encode()).hexdigest()[:10])
    classes = os.path.join(out, "scala-2.13", "classes")
    stamp = os.path.join(out, "stamp")
    key = digest(sources)
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.isdir(classes):
        return classes
    if not shutil.which("sbt"):
        raise BenchError("sbt not found on PATH")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local repositories, as the repo's tests do
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   f"-Dgraft.root={graft_root}", f"-Dbench.target={out}", "compile"],
                  600, os.path.join(out, "sbt.log"), cwd=os.path.join(HERE, "harness"), env=env)
    if rc != 0 or not os.path.isdir(classes):
        raise BenchError("build failed:\n" + tail(os.path.join(out, "sbt.log")))
    with open(stamp, "w") as f:
        f.write(key)
    log(f"built {graft_root} in {time.time() - t0:.0f}s")
    return classes


def data_key():
    paths = [os.path.join(DATA, f"{t}.parquet") for t in TABLES]
    if not all(os.path.isfile(p) for p in paths):
        raise BenchError(f"pinned inputs missing under {DATA}")
    return digest(paths)


def run_harness(classes, jars, args, run_dir, graft_root, setup_only=False):
    """Run the harness JVM; with `setup_only` it only sets the session up.
    Returns the harness's JSON output."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "setup.json" if setup_only else "harness.json")
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A run lasts about a minute; lower JIT thresholds let the warm-up
    # passes reach compiled steady state sooner. A fixed-size heap under
    # the parallel collector gave pass walls that level off sooner and
    # vary less than G1 with a growing heap.
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Harness",
            "--data", DATA, "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(LOCAL_N), "--setup-only", str(int(setup_only)),
            "--out", out,
            "--check-dir", os.path.join(run_dir, "check"),
            "--oracles", os.path.join(run_dir, "oracle_sql.json"),
            "--trace-out", os.path.join(run_dir, "trace.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "setup.log" if setup_only else "harness.log")
    # the harness times its set-up from this launch, on the same wall clock
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    rc = run_proc(cmd, HARNESS_TIMEOUT_S, log_path, cwd=graft_root, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise BenchError(f"harness exited {rc}:\n" + tail(log_path))
    with open(out) as f:
        return json.load(f)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, duck_df):
    """None if the frames hold the same rows, else what differs. Column
    order and row order are ignored; values, floats included, must match
    exactly (graft's queries round so both engines agree bit for bit)."""
    import numpy as np
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duckdb={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duckdb={len(d)}"
    for c in s.columns:
        if s[c].dtype.kind == "f" or d[c].dtype.kind == "f":
            sa, da = s[c].astype(float).to_numpy(), d[c].astype(float).to_numpy()
            bad = ~((sa == da) | (np.isnan(sa) & np.isnan(da)))
        else:
            bad = (s[c].astype(str) != d[c].astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return (f"column {c}: {int(bad.sum())} values differ, first at row {i}: "
                    f"spark={s[c].iloc[i]!r} duckdb={d[c].iloc[i]!r}")
    return None


def check_outputs(queries, run_dir, key):
    """Compare each query's checked output with its oracle's answer on the
    same inputs. Oracle answers depend only on the SQL and the inputs, so
    they are computed once and kept. Returns {query: error}."""
    import duckdb
    import pandas as pd
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache = os.path.join(WORK, "expected")
    os.makedirs(cache, exist_ok=True)
    con = None
    errors = {}
    for q in queries:
        out = os.path.join(run_dir, "check", q)
        if q not in oracles:
            # no oracle: the output must at least exist and be non-empty
            if not os.path.isdir(out) or len(pd.read_parquet(out)) == 0:
                errors[q] = "no rows"
            continue
        qkey = hashlib.sha256((oracles[q] + key).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{q}-{qkey}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.sql(f"SET threads={os.cpu_count() or 1}")
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            con.sql(oracles[q]).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        if not os.path.isdir(out):
            errors[q] = "no output written"
            continue
        diff = compare(pd.read_parquet(out), pd.read_pickle(path))
        if diff:
            errors[q] = "mismatch with DuckDB oracle: " + diff
    return errors


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def end_to_end(h, setup_s):
    # A query that throws ends early; its pass and its wall are left out so
    # that a failure cannot pass for a fast query. A run where every pass
    # failed keeps them all, and is reported as not correct anyway.
    timed = [p for p in h["passes"] if not p["traced"]]
    timed = [p for p in timed if not any(q["error"] for q in p["queries"])] or timed
    walls = [p["wall_s"] for p in timed]
    qwalls = sorted(q["wall_s"] for p in timed for q in p["queries"])
    # the highest percentile with at least ten samples beyond it
    top = max((k for k in (50, 75, 90, 95, 99) if len(qwalls) * (100 - k) / 100 >= 10), default=None)
    detail = {
        "pass_s": {"median": statistics.median(walls), "quartiles": quartiles(walls), "n": len(walls)},
        "query_s": {"median": statistics.median(qwalls), "quartiles": quartiles(qwalls),
                    "n": len(qwalls),
                    **({f"p{top}": qwalls[min(len(qwalls) - 1, int(len(qwalls) * top / 100))]}
                       if top else {})},
        "setup_s": {"samples": setup_s},
        # warm-up is a fixed number of passes; the first timed pass shows
        # whether that was enough
        "warmup_s": {"passes": h["warmup_s"],
                     "settled": abs(walls[0] - statistics.median(walls)) <= 0.1 * statistics.median(walls)},
    }
    metrics = {
        "setup_s": (statistics.median(setup_s), "s"),
        "warmup_s": (sum(h["warmup_s"]), "s"),
        "pass_s": (statistics.median(walls), "s"),
        "query_p50_s": (statistics.median(qwalls), "s"),
    }
    # old-generation peak after GC: reported, but GC timing spreads it too
    # widely across runs to hold a regression bound
    detail["heap_live_peak_mb"] = h["heap_live_peak_mb"]
    return metrics, detail


# Per-layer metrics are summed over a pass's queries, except the cache peak
# (a maximum) and the two ratios, which are recomputed from the sums.
PASS_MAX = {"cache.peak_mb"}
UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_util": "ratio"}


def per_layer(h, run_dir):
    recs = [json.loads(line) for line in open(os.path.join(run_dir, "trace.jsonl"))]
    walls = {p["pass"]: p["wall_s"] for p in h["passes"]}
    sums = {}
    for r in recs:
        per = sums.setdefault(r["pass"], {})
        for k, v in r["metrics"].items():
            name = f"{r['layer']}.{k}"
            per[name] = max(per.get(name, 0.0), v) if name in PASS_MAX else per.get(name, 0.0) + v
    for p, per in sums.items():
        per["scheduler.nonwork_frac"] = per["scheduler.idle_s"] / walls[p]
        per["executor.core_util"] = per["executor.task_run_s"] / (LOCAL_N * walls[p])
    traced = [p["wall_s"] for p in h["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in h["passes"] if not p["traced"]]
    overhead = statistics.median(traced) / statistics.median(plain) - 1
    with open(os.path.join(run_dir, "trace.jsonl"), "a") as f:
        f.write(json.dumps({"workload": h["workload"], "seed": h["seed"], "query": "*",
                            "layer": "tracing", "metrics": {"overhead_frac": overhead}}) + "\n")
    metrics = {}
    for name in sorted(next(iter(sums.values()))):
        unit = next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")
        metrics[name] = (statistics.median(s[name] for s in sums.values()), unit)
    metrics["tracing.overhead_frac"] = (overhead, "ratio")
    metrics["jvm.heap_live_peak_mb"] = (h["heap_live_peak_mb"], "MB")
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--graft-root", default=ROOT,
                    help="checkout whose graft sources are benchmarked (A/B runs)")
    args = ap.parse_args()
    graft_root = os.path.realpath(args.graft_root)
    try:
        if not os.path.exists(os.path.join(graft_root, "src", "main", "scala", "graft", "SparkEntry.scala")):
            raise BenchError(f"no graft sources under {graft_root}")
        if not shutil.which("java"):
            raise BenchError("java not found on PATH")
        jars = spark_jars()
        key = data_key()
        classes = build(graft_root)
        run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        setup_s = [run_harness(classes, jars, args, run_dir, graft_root, setup_only=True)["setup_s"]
                   for _ in range(SETUP_JVMS)]
        h = run_harness(classes, jars, args, run_dir, graft_root)
        setup_s.append(h["setup_s"])
        queries = h["queries"]
        check = check_outputs(queries, run_dir, key)
    except BenchError as e:
        log(str(e))
        sys.exit(2)

    errors = dict(h["check_errors"])
    for q, e in check.items():
        errors.setdefault(q, e)
    execs = [q for p in h["passes"] for q in p["queries"]]
    for q in execs:
        if q["error"]:
            errors.setdefault(q["query"], q["error"])
    failed = sum(1 for q in execs if q["error"] or q["query"] in errors)
    if args.trace:
        metrics = per_layer(h, run_dir)
    else:
        metrics, detail = end_to_end(h, setup_s)
    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "context": h["context"], "attempted": len(execs), "failed": failed,
              "failed_frac": failed / len(execs), "errors": errors,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if not args.trace:
        result["detail"] = detail
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)

    c = h["context"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"queries {len(queries)}  local[{c['local_n']}] of nproc {c['nproc']}  "
          f"-Xmx {c['xmx_mb']} MB  loadavg {c['loadavg_start']} -> {c['loadavg_end']}")
    for name, (v, unit) in metrics.items():
        print(f"  {name:32s} {v:12.4f} {unit}")
    print(f"  {'failed_frac':32s} {failed / len(execs):12.4f} ratio ({failed} of {len(execs)})")
    if not args.trace:
        print(f"  pass_s quartiles {detail['pass_s']['quartiles']} n={detail['pass_s']['n']}; "
              f"query_s {detail['query_s']}")
        print(f"  {'heap_live_peak_mb':32s} {detail['heap_live_peak_mb']:12.4f} MB")
    for q, e in sorted(errors.items()):
        print(f"  FAILED {q}: {e}")
    print(f"  artifacts: {run_dir}")
    print(json.dumps({"correct": not errors, "attempted": len(execs), "failed": failed,
                      "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
