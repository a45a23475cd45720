#!/usr/bin/env python3
"""Lakehouse benchmark for graft: one workload per run.

    python3 perfbench/run.py --workload lake_backfill --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark harness from source (first run only),
generates the workload's inputs from the seed, runs one JVM at
local[<cores>] (set-up, an untimed warm-up pass, then a closed loop of
timed passes for --seconds), checks every output in DuckDB and prints
each metric by name and unit. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones of a traced run, and the span trace is written next to the run record.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "sbt", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
JVM_HEAP = "2g"

sys.path.insert(0, HERE)
import gen  # noqa: E402
try:
    import check  # noqa: E402  (uses the repository's tools/oracle_check.py)
except ImportError as e:
    sys.exit(f"[perfbench] {e}: run from a checkout of the repository")

# Input sizes and operation mixes. BENCHMARK.json lists lake_backfill and
# corpus_curate; graph_iter and lake_daily run on demand (a warm graph_iter
# pass alone takes over a minute at local[4]).
WORKLOADS = {
    "lake_backfill": {
        "feed": {"n_vessels": 500, "n_days": 3, "points_per_vessel_day": 100},
    },
    "corpus_curate": {
        "sf": {"n_events": 1000, "n_users": 300, "n_docs": 1000, "n_vecs": 300,
               "n_groups": 20, "group_size": 3, "n_exact": 10},
    },
    "lake_daily": {
        "feed": {"n_vessels": 100, "n_days": 4, "points_per_vessel_day": 50},
        "op_mix": {"reland": 1, "validation": 4, "lookup_read": 3, "lookup_pruned": 4},
    },
    "graph_iter": {
        "sf": {"n_events": 5000, "n_users": 1500, "n_docs": 200, "n_vecs": 300},
    },
}

# End-to-end metrics (--trace 0) with units.
END_TO_END = [("wall_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
              ("lake_bytes_per_row", "B/row"), ("setup_s", "s")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_killable(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness with sbt, offline, once per
    source state. Returns whether it compiled."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_JARS_DIR" not in env and "SPARK_HOME" not in env and shutil.which("spark-submit"):
        # the Spark install that puts spark-submit on the PATH
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        env["SPARK_JARS_DIR"] = os.path.join(home, "jars")
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's global state and ivy home live in the build directory too
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Dsbt.ivy.home={BUILD}/ivy2"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            rc = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "writeClasspath"], 780, cwd=HERE, env=env, stdout=out,
                              stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(CLASSPATH):
        tail = open(os.path.join(BUILD, "build.log")).read()[-3000:]
        sys.exit(f"[perfbench] build failed (exit {rc}):\n{tail}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return True


def generate(workload, seed, work):
    """Make the workload's inputs from the seed; return the manifest."""
    cfg = WORKLOADS[workload]
    params = {k: v for k, v in cfg.items() if k not in ("feed", "sf")}
    m = {"workload": workload, "seed": seed, "params": params}
    if "feed" in cfg:
        f = cfg["feed"]
        m["feed"] = gen.lake_feed(os.path.join(work, "feed"), seed, f["n_vessels"],
                                  f["n_days"], f["points_per_vessel_day"])
    if "sf" in cfg:
        m["sf"] = gen.sf_dir(os.path.join(work, "sf"), seed, **cfg["sf"])
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(m, f)
    return m


def listed_workloads():
    """Workloads BENCHMARK.json lists, the ones a regression check runs."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {w["name"] for w in json.load(f)["workloads"]}


def git_commit():
    """Commit of the checkout when it is a git repository, else a hash of
    the sources the benchmark built."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        top, _, head = out.stdout.strip().partition("\n")
        # a checkout inside some other repository is not that repository
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + open(STAMP).read()[:16]


def percentile_tail(xs):
    """Latency at the highest percentile that has at least ten samples
    beyond it. Below 21 samples that percentile would lie under the median;
    the maximum is reported instead."""
    s = sorted(xs)
    i = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[i], (100.0 * i / (len(s) - 1) if len(s) > 1 else 100.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit(f"[perfbench] library sources not found at {LIB_SRC}: run from a "
                 "checkout of the repository")

    # a workload BENCHMARK.json lists must end its run within 180 s, or
    # 900 s when it builds first; the others run on demand and get 900 s
    built = build()
    deadline = T0 + (880 if built or a.workload not in listed_workloads() else 170)
    t_setup0 = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    manifest = generate(a.workload, a.seed, work)

    cp = open(CLASSPATH).read().strip()
    out_json = os.path.join(work, "result.json")
    # a fixed heap (-Xms = -Xmx) keeps GC sizing, and so peak RSS, steady
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--data", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out_json])
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        try:
            # leave time for the checks
            rc = run_killable(cmd, deadline - 15 - time.time(), stdout=jl,
                              stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_json):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.exit(f"[perfbench] benchmark JVM failed (exit {rc}):\n{tail}")
    res = json.load(open(out_json))
    setup_s = res["setup_done_ms"] / 1000.0 - t_setup0

    # failure accounting: thrown operations, then operations whose output
    # a check found wrong (a check names an operation key or name prefix)
    passes = res["passes"]
    ops = [o for p in passes for o in p["ops"]]
    rep = res["workload_report"]
    if a.workload.startswith("lake"):
        fails = check.check_lake(rep, manifest["feed"])
    else:
        fails = check.check_queries(rep, manifest["sf"]["sf_dir"])
        if a.workload == "corpus_curate":
            fails += check.check_corpus(rep, manifest["sf"])
    wrong = set()
    for target, why in fails:
        log(f"check failed: {target}: {why}")
        wrong |= {i for i, o in enumerate(ops)
                  if o["key"] == target or o["name"].startswith(target)}
    thrown = {i for i, o in enumerate(ops) if not o["ok"]}
    failed = len(thrown | wrong)
    attempted = len(ops)
    correct = failed == 0 and not fails

    untraced = [p for p in passes if not p["traced"]]
    if a.workload.startswith("lake"):
        in_rows = manifest["feed"]["counts"]["raw_rows"]
        landed = rep["lake_bytes"]
    else:
        in_rows = sum(manifest["sf"]["rows"].values())
        landed = rep["out_bytes"]
    e2e = {
        "wall_s": statistics.median(p["wall_s"] for p in untraced),
        "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        "peak_rss_mb": res["peak_rss_mb"],
        "lake_bytes_per_row": landed / in_rows,
        "setup_s": setup_s,
    }
    units = dict(END_TO_END)
    if a.workload == "lake_daily":
        # the daily mix is many small operations: report their latency
        lat = [o["ms"] for p in passes for o in p["ops"]]
        e2e["op_p50_ms"] = statistics.median(lat)
        e2e["op_tail_ms"], tail_pct = percentile_tail(lat)
        units.update(op_p50_ms="ms", op_tail_ms="ms")
        log(f"op_tail_ms is the p{tail_pct:.1f} latency of {len(lat)} operations")

    rows = dict(manifest.get("sf", {}).get("rows", {}))
    if "feed" in manifest:
        rows.update(feed_raw_rows=manifest["feed"]["counts"]["raw_rows"],
                    feed_raw_bytes=manifest["feed"]["raw_bytes"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": res["cores"], "jvm_heap": JVM_HEAP, **res["run_record"],
        "python": platform.python_version(), "git_commit": git_commit(),
        "input_sizes": {k: v for k, v in WORKLOADS[a.workload].items() if k in ("feed", "sf")},
        "input_rows": rows, "params": manifest["params"],
        "dirt_shares": manifest.get("feed", {}).get("dirt_shares"),
        "duplicate_share": manifest.get("feed", {}).get("duplicate_share"),
        "planted_near_dup_groups": manifest.get("sf", {}).get("near_dup_groups"),
        "passes": len(passes),
        "pass_wall_s": [p["wall_s"] for p in passes], "pass_cpu_s": [p["cpu_s"] for p in passes],
        "warmup_wall_s": [sum(o["ms"] for o in w["ops"]) / 1000.0 for w in res["warmups"]],
        "attempted": attempted, "failed": failed, "failed_ratio": failed / attempted,
        "check_failures": [f"{t}: {w}" for t, w in fails],
        "end_to_end": e2e,
    }
    out_dir = os.path.join(BUILD, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")

    print(f"workload {a.workload} seed {a.seed}: {len(passes)} passes, "
          f"{attempted} operations, {failed} failed")
    if a.trace:
        tr = res["trace"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(tr["per_layer"].items())}
        record["per_layer"] = tr["per_layer"]
        with open(stem + ".trace.json", "w") as f:
            json.dump({"run_record": {k: v for k, v in record.items() if k != "per_layer"},
                       "spans": tr["spans"]}, f)
        print(f"tracing overhead: {tr['per_layer']['trace.overhead_s']:+.3f} s per pass "
              f"({tr['traced_passes']} traced, {tr['untraced_passes']} untraced passes); "
              f"spans in {stem}.trace.json")
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(f"failed_ratio = {failed}/{attempted}")
    for k, m in metrics.items():
        print(f"  {k:42s} {m['value']:.6g} {m['unit']}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
