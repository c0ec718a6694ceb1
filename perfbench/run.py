#!/usr/bin/env python3
"""The graft benchmark: one command that builds the program, generates
seeded inputs, runs one workload in a fresh JVM, checks every output and
prints every metric by name with its unit.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Progress goes to stderr; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
Each run is appended, with its failures and host-noise record, to
<build dir>/ledger.jsonl, which perfbench/compare.py reads; its raw
record is kept as <build dir>/results/<workload>-trace<t>-seed<n>.json.
See perfbench/README.md.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Keys run in SparkEntry.gateOrder order; `tables` are read through a
# noop sink during set-up. Sizes and reasons: perfbench/README.md.
WORKLOADS = {
    "analytics": {
        "keys": ["t5_stratified_sample", "t15_shuffle_shard", "t18_postings", "q3_join_agg",
                 "q21_sessionize", "q28_window_range_frame", "m5_phash_neardup"],
        "tables": ["orders", "lineitem", "events", "documents"],
    },
    "ingest": {
        "keys": ["st3_stream_static_join", "st4_stream_dedup", "st8_stream_ordinal"],
        "tables": ["events", "customer"],
        # traced runs only, once each after the warm passes: the st9 MinHash
        # drain (guard, probe and absorb on the landed Dedup index; run twice,
        # the second run is the warm one) and batch dedup keys whose
        # graft.Metrics counters (candidate pairs, pairs out, fold rounds)
        # the streams do not emit
        "probe": ["st9_stream_incremental_dedup", "st9_stream_incremental_dedup",
                  "d3_dedup_minhash_lsh", "d5_dedup_embedding", "d6_dedup_cluster"],
    },
}
SCALE = 0.01         # sf0.01-sized inputs (lineitem 60k rows, 500 documents)
SETUPS = 3           # set-ups per run; setup_s takes their median
# A fixed heap and young generation: G1's own sizing decisions spread the
# peak RSS of runs of the same code by 20-30% (1.3-1.9 GB).
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
DEADLINE_S = 170     # the JVM is stopped after this long, build time not counted
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_snapshot():
    """Host-wide CPU ticks from /proc/stat, as tools/bench_clean.sh reads them."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[i] for i in (0, 1, 2, 5, 6)), "steal": v[7] if len(v) > 7 else 0,
            "total": sum(v[:8]), "t": time.time()}


def host_noise(h0, h1, own_cpu_s):
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    total = h1["total"] - h0["total"]
    return {"steal_share": (h1["steal"] - h0["steal"]) / total if total else 0.0,
            "other_cpu_s": (h1["busy"] - h0["busy"]) / hz - own_cpu_s,
            "own_cpu_s": own_cpu_s, "wall_s": h1["t"] - h0["t"], "loadavg": load}


def unit_of(name):
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("core_busy", "pair_yield")):
        return "ratio"
    if name.endswith("jobs_per_batch"):
        return "jobs/batch"
    return "count"


def run_jvm(classes_cp, run_dir, args, keys, tables, probe, data, deadline):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classes_cp, "graftbench.Main", "--workload", args.workload,
              "--data", data, "--out", out, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--keys", ",".join(keys),
              "--tables", ",".join(tables), "--setups", str(SETUPS),
              "--probe-keys", ",".join(probe) or ","])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpu_count()), SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("benchmark stopped by SIGTERM"))
    try:
        rc = proc.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark JVM ran past the deadline")
    finally:
        if proc.poll() is None:
            proc.terminate()  # lets the program's shutdown hooks delete its temp dirs
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with {rc}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    for need in ("src/main/scala", "tools/canoncmp.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing under {ROOT}")

    import build
    import gen
    import oracle
    import stats

    t_build = time.time()
    build.build(ROOT)
    bdir = build.build_dir(ROOT)
    deadline = t_start + DEADLINE_S + (time.time() - t_build)  # the first run may build
    w = WORKLOADS[args.workload]

    tag = f"sf{SCALE}-seed{args.seed}"
    data = os.path.join(bdir, "data", tag)
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, args.seed, SCALE)
        open(os.path.join(data, ".done"), "w").close()

    run_dir = os.path.join(bdir, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log(f"inputs ready at {time.time() - t_start:.1f}s")
    h0, ru0 = host_snapshot(), resource.getrusage(resource.RUSAGE_CHILDREN)
    out = run_jvm(build.classpath(ROOT), run_dir, args, w["keys"], w["tables"],
                  w.get("probe", []), data, deadline)
    ru1, h1 = resource.getrusage(resource.RUSAGE_CHILDREN), host_snapshot()
    own = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    noise = host_noise(h0, h1, own)
    log(f"JVM done at {time.time() - t_start:.1f}s")

    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    cold = next(p for p in res["passes"] if p["label"] == "cold")
    bad = {k["key"]: f"rows not written: {k['write_error']}"
           for k in cold["keys"] if k.get("write_error")}
    bad.update(oracle.check(ROOT, data, os.path.join(out, "rows"),
                            {k: v for k, v in sql.items() if k not in bad},
                            os.path.join(bdir, "oracle", tag)))
    attempted, failures = stats.ledger(res, bad)
    log(f"rows checked at {time.time() - t_start:.1f}s")

    if args.trace:
        raw = stats.per_layer(res)
        extra = {}
        trace_file = os.path.join(bdir, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump(res["spans"], f)
        log(f"spans: {trace_file} ({len(res['spans'])} spans)")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(raw.items())}
    else:
        raw, extra = stats.end_to_end(res, attempted, len(failures))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in raw.items()}

    for fl in failures:
        log(f"FAILED {fl['pass']} {fl['key']} after {fl['seconds']:.2f}s: {fl['why']}")
    log(f"host: steal {noise['steal_share']:.1%}, other processes {noise['other_cpu_s']:.1f} "
        f"cpu-s, loadavg {noise['loadavg']}")
    entry = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "seconds": args.seconds, "time": time.time(), "attempted": attempted,
             "failures": failures, "host": noise, "extra": extra,
             "metrics": {k: v["value"] for k, v in metrics.items()}}
    with open(os.path.join(bdir, "ledger.jsonl"), "a") as f:
        f.write(json.dumps(entry) + "\n")
    raw_dir = os.path.join(bdir, "results")
    os.makedirs(raw_dir, exist_ok=True)
    shutil.copy(os.path.join(out, "result.json"),
                os.path.join(raw_dir, f"{args.workload}-trace{args.trace}-seed{args.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.time() - t_start:.1f}s")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
