"""Arithmetic of the benchmark: percentiles, spreads, span self times and
the end-to-end and per-layer metrics derived from one run's raw record
(`result.json`, written by perfbench/scala/GraftBench.scala).
"""
import math
import statistics

TAIL_GRID = (99.9, 99.0, 95.0, 90.0)
FAMILY = {"q": "relational", "t": "text", "m": "multimodal", "d": "dedup", "a": "similarity"}
# the drains' index code: st9/st11/st13 run Dedup's MinHash and segment-df
# indexes, st10/st12/st14 Similarity's vector indexes
DRAIN_FAMILY = {"st9": "dedup", "st11": "dedup", "st13": "dedup",
                "st10": "similarity", "st12": "similarity", "st14": "similarity"}
PHASES = ("guard", "probe", "spool", "absorb")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def div(a, b):
    """a / b, or 0 when the base is 0 (a ratio with no base is no signal)."""
    return a / b if b else 0.0


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles(n=4), the exclusive method)."""
    xs = list(xs)
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return div(q3 - q1, abs(statistics.median(xs)))


def nearest_rank(sorted_xs, p):
    """Nearest-rank p-th percentile of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail(xs, min_beyond=10):
    """The highest of p99.9/p99/p95/p90 with at least `min_beyond`
    samples above its rank. Returns (value, percentile, n); with too few
    samples for p90 (fewer than 100) it is the maximum, reported as p100,
    so the figure does not jump to a lower percentile as n changes."""
    s = sorted(xs)
    n = len(s)
    if not n:
        return 0.0, 100.0, 0
    for p in TAIL_GRID:
        if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond:
            return nearest_rank(s, p), p, n
    return s[-1], 100.0, n


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time (ms) per span id: its duration minus the part of its
    interval that its children cover (children clipped to the parent)."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        covered = union_ms([(max(c["start_ms"], s), min(c["end_ms"], e))
                            for c in kids.get(sp["id"], []) if c["end_ms"] > s and c["start_ms"] < e])
        out[sp["id"]] = max(0.0, (e - s) - covered)
    return out


def family(key):
    prefix = key.split("_")[0]
    if prefix.startswith("st"):
        return DRAIN_FAMILY.get(prefix)
    return FAMILY.get(prefix[0])


def setup_s(res):
    """JVM start to main, plus the median in-process set-up (session,
    warm-up job, noop read of every input)."""
    return res["boot_s"] + median(s["session_s"] + s["warmup_s"] + s["reads_s"]
                                  for s in res["setups"])


def warm(res, traced):
    """The timed warm passes (warm1, warm2, …; not the warm-up pass)."""
    return [p for p in res["passes"]
            if p["label"][4:].isdigit() and p["label"].startswith("warm")
            and p["traced"] == traced]


def ledger(res, bad_keys):
    """Attempted and failed key executions. An execution fails if it raised,
    if its key's rows did not match the oracle (or could not be written),
    or if its row count differs from the count its key had when checked."""
    cold = next(p for p in res["passes"] if p["label"] == "cold")
    checked = {k["key"]: k["rows"] for k in cold["keys"]}
    attempted, failures = 0, []
    for p in res["passes"]:
        if p["label"] == "probe":  # counter probes, outside the workload
            continue
        for k in p["keys"]:
            attempted += 1
            why = k["error"] or bad_keys.get(k["key"])
            if not why and k["rows"] != checked.get(k["key"]):
                why = f"row count {k['rows']} != {checked.get(k['key'])}"
            if why:
                failures.append({"pass": p["label"], "key": k["key"], "why": why,
                                 "seconds": k["total_s"]})
    return attempted, failures


def key_medians(passes, field="total_s"):
    """Each key's median `field` over the passes, in first-run order. A
    burst of host noise that slows one pass is its keys' maximum and
    drops out, where a median of whole-pass times would take it in."""
    by_key = {}
    for p in passes:
        for k in p["keys"]:
            by_key.setdefault(k["key"], []).append(k[field])
    return {k: median(v) for k, v in by_key.items()}


def typical_pass_s(passes):
    """A typical warm pass: the sum of every key's median latency."""
    return sum(key_medians(passes).values())


def end_to_end(res, attempted, failed):
    ws = warm(res, traced=False)
    lat = key_medians(ws)
    pass_s = sum(lat.values())
    slowest = max(lat, key=lat.get) if lat else None
    stream_rows = median(sum(b["input_rows"] for b in p["streams"]) for p in ws)
    if stream_rows:
        stream_keys = {b["key"] for p in ws for b in p["streams"]}
        rows_per_s = div(stream_rows, sum(v for k, v in lat.items() if k in stream_keys))
    else:
        rows_per_s = div(median(p["counters"]["records_read"] for p in ws), pass_s)
    metrics = {
        "setup_s": (setup_s(res), "s"),
        "cold_pass_s": (next(p["wall_s"] for p in res["passes"] if p["label"] == "cold"), "s"),
        "warm_pass_s": (pass_s, "s"),
        "query_p50_s": (median(lat.values()), "s"),
        "query_tail_s": (lat.get(slowest, 0.0), "s"),
        "cpu_s": (sum(key_medians(ws, "cpu_s").values()), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ok_ratio": (div(attempted - failed, attempted), "ratio"),
        "ingest_rows_per_s": (rows_per_s, "rows/s"),
    }
    pooled, pooled_p, n = tail([k["total_s"] for p in ws for k in p["keys"]])
    extra = {"query_tail_key": slowest, "query_samples": n, "warm_passes": len(ws),
             "pooled_tail_s": pooled, "pooled_tail_p": pooled_p,
             "pass_wall_s": [p["wall_s"] for p in ws], "key_median_s": lat}
    return metrics, extra


def _pass_layers(p, cores, spans_by_pass):
    c = p["counters"]
    mb = 1.0 / (1024 * 1024)
    m = {
        "engine.jobs": c["jobs"], "engine.stages": c["stages"], "engine.tasks": c["tasks"],
        "engine.task_s": c["task_ms"] / 1e3,
        "engine.core_busy": div(c["task_ms"] / 1e3, p["wall_s"] * cores),
        "engine.gc_s": p["gc_s"],
        "engine.codegen_compiles": p["codegen_compiles"], "engine.codegen_s": p["codegen_s"],
        "engine.driver_gap_s": max(0.0, p["wall_s"] - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in p["jobs"]]) / 1e3),
        "queries.build_s": sum(k["build_s"] for k in p["keys"]),
        "queries.plan_s": sum(k["plan_s"] for k in p["keys"]),
        "queries.exec_s": sum(k["exec_s"] for k in p["keys"]),
        "queries.actions": p["actions"],
        "operators.shuffle_read_mb": c["shuffle_read_b"] * mb,
        "operators.shuffle_write_mb": c["shuffle_write_b"] * mb,
        "operators.spill_mb": c["spill_b"] * mb, "operators.result_mb": c["result_b"] * mb,
        "sources.input_mb": p["files"]["bytes_read"] * mb,
        "sources.files_read": p["files"]["files_read"],
        "sources.output_mb": p["files"]["bytes_written"] * mb,
        "sources.files_written": p["files"]["files_written"],
    }
    for fam in ("relational", "text", "multimodal", "dedup", "similarity"):
        m[f"operators.{fam}.exec_s"] = sum(k["total_s"] for k in p["keys"]
                                           if family(k["key"]) == fam)
    obs = {}
    for k in p["keys"]:
        for name, v in (k.get("observed") or {}).items():
            obs[name] = obs.get(name, 0.0) + v
    cand = sum(v for n, v in obs.items() if n.endswith(".n_candidates"))
    pairs = sum(v for n, v in obs.items() if n.endswith(".n_pairs"))
    m.update({"operators.dedup.candidates": cand, "operators.dedup.pairs_out": pairs,
              "operators.dedup.pair_yield": div(pairs, cand),
              "operators.fold_rounds": sum(v for n, v in obs.items() if n.endswith(".rounds"))})
    b = p["streams"]
    durs = [x["durations"] for x in b]
    last = {}
    for x in b:
        last[(x["key"], x["query"])] = x
    batch_jobs = [j for j in p["jobs"] if any(x["start_ms"] - 1 <= j["start_ms"] <= x["end_ms"] + 1
                                              for x in b)]
    m.update({
        "streaming.batches": len(b),
        "streaming.batch_p50_s": median(d.get("triggerExecution", 0) for d in durs) / 1e3,
        "streaming.batch_max_s": max([d.get("triggerExecution", 0) for d in durs] or [0]) / 1e3,
        "streaming.jobs_per_batch": div(len(batch_jobs), len(b)),
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in durs) / 1e3,
        "streaming.plan_s": sum(d.get("queryPlanning", 0) for d in durs) / 1e3,
        "streaming.commit_s": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                  for d in durs) / 1e3,
        "streaming.list_s": sum(d.get("latestOffset", 0) + d.get("getBatch", 0)
                                for d in durs) / 1e3,
        "streaming.state_rows": sum(x["state_rows"] for x in last.values()),
        "streaming.state_mb": sum(x["state_bytes"] for x in last.values()) * mb,
    })
    m.update(_phases(p["jobs"]))
    own = spans_by_pass.get(p["label"], [])
    st = self_times(own)
    for kind in ("pass", "key", "build", "plan", "exec", "batch", "phase", "job"):
        m[f"trace.self.{kind}_s"] = sum(st[s["id"]] for s in own if s["kind"] == kind) / 1e3
    return m


def _phases(jobs):
    m = {}
    for ph in PHASES:
        js = [j for j in jobs if j["phase"] == ph]
        m[f"streaming.phase.{ph}_s"] = sum(j["end_ms"] - j["start_ms"] for j in js) / 1e3
        m[f"streaming.phase.{ph}_jobs"] = len(js)
    return m


def _drain(p):
    """Figures of the last drain execution (st9–st14) in a pass: its
    time, micro-batches, jobs per micro-batch and drain phases."""
    drains = [k for k in p["keys"] if family(k["key"]) and k["key"].startswith("st")]
    if not drains:
        return {}
    k = drains[-1]

    def inside(t):
        return k["start_ms"] - 1 <= t <= k["end_ms"] + 1
    jobs = [j for j in p["jobs"] if inside(j["start_ms"])]
    batches = [b for b in p["streams"] if inside(b["start_ms"])]
    m = {"streaming.drain_s": k["total_s"], "streaming.drain_batches": len(batches),
         "streaming.drain_jobs_per_batch": div(len(jobs), len(batches))}
    m.update(_phases(jobs))
    return m


def spans_by_pass(spans):
    """Group spans under the pass span they descend from (by label)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        top = s
        while top["parent"] in by_id:
            top = by_id[top["parent"]]
        if top["kind"] == "pass":
            out.setdefault(top["name"], []).append(s)
    return out


def per_layer(res):
    """Per-layer metrics of a traced run: the median over its traced warm
    passes of each per-pass figure, plus set-up, kernel and overhead
    figures."""
    tw, uw = warm(res, traced=True), warm(res, traced=False)
    grouped = spans_by_pass(res["spans"])
    rows = [_pass_layers(p, res["cores"], grouped) for p in tw]
    m = {k: median(r[k] for r in rows) for k in rows[0]} if rows else {}
    m.update({"streaming.drain_s": 0.0, "streaming.drain_batches": 0,
              "streaming.drain_jobs_per_batch": 0.0})
    probe = [p for p in res["passes"] if p["label"] == "probe"]
    if probe:  # operator counters and the warm drain, from the probe keys
        pl = _pass_layers(probe[0], res["cores"], grouped)
        m.update({k: v for k, v in pl.items()
                  if k.startswith("operators.dedup.") and not k.endswith("exec_s")
                  or k == "operators.fold_rounds"})
        m.update(_drain(probe[0]))
    cold = next(p for p in res["passes"] if p["label"] == "cold")
    m["engine.codegen_compiles_cold"] = cold["codegen_compiles"]
    m["engine.session_s"] = median(s["session_s"] for s in res["setups"])
    m["engine.warmup_s"] = median(s["warmup_s"] + s["reads_s"] for s in res["setups"])
    for name, k in res["kernels"].items():
        m[f"functions.{name}.ns_per_row"] = max(0.0, k["seconds"] - k["base_seconds"]) \
            * 1e9 / max(k["rows"], 1)
    traced, plain = typical_pass_s(tw), typical_pass_s(uw)
    m["trace.warm_pass_s"] = traced
    m["trace.untraced_warm_pass_s"] = plain
    m["trace.overhead_pct"] = 100.0 * div(traced - plain, plain)
    m["trace.spans"] = len(res["spans"])
    return m
