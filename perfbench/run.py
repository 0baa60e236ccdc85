#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (perfbench/build.sbt); later runs reuse the build. Each
run then starts one JVM (perfbench.Harness), which sets up three times,
runs a pass whose outputs are checked (query results here against their
DuckDB oracles, tools/check.py; MapleJuice sinks in the harness against
declarative twins), runs a warm-up pass, and measures passes for S seconds
and at least the harness's minimum. The last stdout line is the result
JSON; the lines before it are a human-readable table of every metric. A
run in which any operation fails or gives a wrong output prints no
metrics and exits with 1. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

# Each workload: its operations and the scale factor of the tables it reads
# (perfbench/data/sf<sf>). Query names are graft's SparkEntry.queries names;
# the MapleJuice steps are perfbench.Workloads'.
WORKLOADS = {
    # the reference's two applications through graft's engine and storage
    # verbs: engine, sources and shuffle do most of the work
    "maplejuice": (["sdfs_put_text", "sdfs_put_links", "wc_maple", "wc_juice",
                    "rwlg_maple", "rwlg_juice", "wc_aggregated", "wc_pipe",
                    "sdfs_get"], "0.001"),
    # one query of each family whose layer a ROADMAP direction targets: an
    # RDD fixpoint loop (compute, shuffle, cache), a join-and-aggregate and
    # the TopKPerKey Catalyst extension (catalyst, scan), and a streaming
    # query (streaming)
    "analytics": (["graph_pagerank", "q03_revenue_by_nation", "q07b_topk_custom",
                   "stream_event_windows"], "0.001"),
}
CORPUS_MB = (0.75, 0.75)  # MapleJuice text and links
HEAP = "2g"  # fixed (-Xms = -Xmx): with a growing heap peak RSS spread 12-43%
# Metric names and units: BENCHMARK.json is the one list of them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(*dirs):
    return max((os.path.getmtime(os.path.join(d, f))
                for top in dirs for d, _, fs in os.walk(top) for f in fs),
               default=0.0)


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Runs `cmd` in its own process group with output to `log_path`; on a
    timeout or any interruption kills the whole group and waits for it.
    Returns the exit code."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        try:
            return proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compiles graft and the harness unless the classpath file is newer
    than every source; returns the runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
               os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    build_files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    if (os.path.exists(cp_file) and os.path.getmtime(cp_file) >
            max(newest_mtime(*sources), *map(os.path.getmtime, build_files))):
        return open(cp_file).read().strip()
    log("building graft and the harness (sbt)")
    os.makedirs(STATE, exist_ok=True)
    log_path = os.path.join(STATE, "build.log")
    rc = run_child(["sbt", "-batch", "writeClasspath"], BENCH, log_path, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"[perfbench] build failed (exit {rc}); see {log_path}")
    return open(cp_file).read().strip()


def check_queries(result, data, results):
    """Compares each query's output from the check's pass with its DuckDB
    oracle, using the gate's canonical form (tools/check.py). Returns
    mismatch lines."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check import canon, make_views
    con = duckdb.connect(config={"threads": result["nproc"]})
    make_views(con, data)
    bad = []
    for name in result["op_order"]:
        out = os.path.join(results, name)
        if not os.path.isdir(out):
            continue  # the op failed; already counted
        got_rel = con.sql(f"SELECT * FROM '{out}/*.parquet'")
        got = canon(got_rel.fetchall(), got_rel.columns)
        sql = result["oracles"].get(name)
        if sql is None:
            bad.append(f"{name}: no oracle")
            continue
        want_rel = con.sql(sql)
        want = canon(want_rel.fetchall(), want_rel.columns)
        if sorted(got_rel.columns) != sorted(want_rel.columns) or got != want:
            bad.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result):
    passes = [p for p in result["passes"] if not p["traced"]]
    per_op = {n: median([p["ops"][n] for p in passes if n in p["ops"]])
              for n in result["op_order"]}
    lat = [v for v in per_op.values() if v > 0]
    return {
        "setup_s": result["boot_s"] + median(result["session_setup_s"]) + result["warmup_s"],
        "wall_s": median([p["wall_s"] for p in passes]),
        "op_geomean_s": math.exp(sum(map(math.log, lat)) / len(lat)) if lat else 0.0,
        "op_max_s": max(lat, default=0.0),
        "peak_rss_mb": result["peak_rss_mb"],
        "peak_live_mb": result["peak_live_mb"],
    }


def per_layer(result):
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    stream_ops = [n for n in result["op_order"] if n.startswith("stream_")]

    def derive(p):
        m = dict(p["layers"])
        m["compute.busy_frac"] = m.get("compute.task_s", 0.0) / (result["nproc"] * p["wall_s"])
        op_s, batches = m.get("streaming.op_s", 0.0), m.get("streaming.batches", 0.0)
        if stream_ops:
            m["streaming.harness_s"] = sum(p["ops"].get(n, 0.0) for n in stream_ops) - op_s
        m["streaming.s_per_batch"] = op_s / batches if batches else 0.0
        return m

    rows = [derive(p) for p in traced]
    out = {name: median([r.get(name, 0.0) for r in rows]) for name in PER_LAYER}
    out["tracing.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                                 median([p["wall_s"] for p in untraced]))
    return out


def self_times(spans, n_passes):
    """Per layer, seconds per traced pass during which that layer's span was
    the innermost one running. Concurrent spans at the same depth (stages)
    count once, so the layers add up to the traced wall time."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d

    depths = {s["id"]: depth(s) for s in spans}
    cuts = sorted({t for s in spans for t in (s["start_ns"], s["end_ns"])})
    out = {}
    for lo, hi in zip(cuts, cuts[1:]):
        live = [s for s in spans if s["start_ns"] <= lo and hi <= s["end_ns"]]
        if live:
            layer = max(live, key=lambda s: depths[s["id"]])["layer"]
            out[layer] = out.get(layer, 0.0) + (hi - lo) / 1e9 / max(1, n_passes)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its children (run_child's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] graft sources not found next to perfbench/; "
                 "run from the root of a graft checkout")

    classpath = build()
    ops, sf = WORKLOADS[a.workload]
    data = os.path.join(BENCH, "data", f"sf{sf}")
    work = os.path.join(STATE, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.monotonic()
    try:
        corpus = os.path.join(work, "corpus")
        if a.workload == "maplejuice":
            gen.corpus(corpus, a.seed, *CORPUS_MB)
        nproc = len(os.sched_getaffinity(0))
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
               # -XX:-UsePerfData: the JVM writes no hsperfdata file outside the checkout
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                "-cp", classpath, "perfbench.Harness",
                "--workload", a.workload, "--ops", ",".join(ops), "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--nproc", str(nproc),
                "--data", data, "--corpus", corpus, "--work", work, "--scripts", BENCH])
        log_path = os.path.join(work, "harness.log")
        # Spark's scratch space stays inside the checkout (the variable
        # overrides spark.local.dir)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        rc = run_child(cmd, work, log_path, RUN_TIMEOUT_S - (time.monotonic() - t0), env)
        if rc != 0:
            sys.stderr.write(open(log_path).read()[-4000:])
            sys.exit(f"[perfbench] harness exited with {rc}")
        result = json.load(open(os.path.join(work, "result.json")))
        failures = result["failures"]
        if a.workload != "maplejuice":
            failures += check_queries(result, data, os.path.join(work, "results"))
        print(f"{a.workload} seed={a.seed}: {len(result['passes'])} passes, "
              f"{result['attempted']} ops attempted, {len(failures)} failed, "
              f"error_rate {len(failures) / result['attempted']:.4f} ratio")
        if failures:
            # a failed op drops out of the timings, which would then read
            # as a speed-up: report the failure and no metrics
            for f in failures:
                log(f"FAILED {f}")
            print(json.dumps({"correct": False, "attempted": result["attempted"],
                              "failed": len(failures), "metrics": {}}))
            sys.exit(1)
        if a.trace:
            metrics = per_layer(result)
            spans = json.load(open(os.path.join(work, "spans.json")))
            n_traced = sum(p["traced"] for p in result["passes"])
            spans_out = os.path.join(STATE, f"spans-{a.workload}-{a.seed}.json")
            shutil.copy(os.path.join(work, "spans.json"), spans_out)
            wall = median([p["wall_s"] for p in result["passes"] if p["traced"]])
            print(f"self time per traced pass ({len(spans)} spans in {spans_out}):")
            for layer, s in sorted(self_times(spans, n_traced).items(), key=lambda kv: -kv[1]):
                print(f"  {layer:<12} {s:9.3f} s  {100 * s / wall:5.1f}% of traced wall")
            print(f"tracing overhead: {metrics['tracing.overhead_s']:+.3f} s per pass "
                  f"on {median([p['wall_s'] for p in result['passes'] if not p['traced']]):.3f} s "
                  "untraced wall")
            units = PER_LAYER
        else:
            metrics = end_to_end(result)
            units = END_TO_END
        print(f"  set-up: JVM {result['boot_s']:.2f} s, session "
              f"{' / '.join(f'{x:.2f}' for x in result['session_setup_s'])} s, "
              f"warm-up pass {result['warmup_s']:.2f} s")
        for name, unit in units.items():
            print(f"  {name:<26} {metrics[name]:>16.6f} {unit}")
        print(json.dumps({
            "correct": True, "attempted": result["attempted"], "failed": 0,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
