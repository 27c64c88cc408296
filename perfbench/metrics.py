"""Metric arithmetic over a harness record (pure functions, unit-tested).

Times in the record are epoch milliseconds. An op is one measured
schedule token; a job belongs to the op whose job group it carries, or
else to the op whose window contains its submit time (pool threads that
the engine starts inherit no group).
"""

TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, pct):
    """Linear-interpolated percentile of `values` (0 < pct < 100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """(pct, value): the highest percentile with at least 10 samples
    beyond it; with fewer than 20 samples, the 90th percentile (a single
    slow op, such as the first one in a cold JVM, does not set it)."""
    n = len(values)
    for pct in TAIL_PCTS:
        if n * (100.0 - pct) / 100.0 >= 10:
            return pct, percentile(values, pct)
    return 90.0, percentile(values, 90.0)


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (t0, t1) intervals, clipped to [lo, hi]."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part its children cover} — children
    may nest or overlap each other (parDrive threads)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["t1"] - s["t0"]) -
            union_ms([(c["t0"], c["t1"]) for c in kids.get(s["id"], [])], s["t0"], s["t1"])
            for s in spans}


def attribute_jobs(ops, jobs, window=None):
    """{op id: [jobs]} plus the groupless jobs inside the measured
    `window` that no op claims. Group first (`op-<id>`), then the op
    window that contains the job's submit time."""
    by_id = {o["id"]: o for o in ops}
    windows = sorted((o["t0"], o["t1"], o["id"]) for o in ops)
    out = {o["id"]: [] for o in ops}
    orphans = []
    for j in jobs:
        g = j.get("group") or ""
        if g.startswith("op-") and int(g[3:]) in by_id:
            out[int(g[3:])].append(j)
            continue
        if g:                      # set-up, check or probe jobs
            continue
        hit = next((i for a, b, i in windows if a <= j["t0"] <= b), None)
        if hit is None:
            if window and window[0] <= j["t0"] <= window[1]:
                orphans.append(j)
        else:
            out[hit].append(j)
    return out, orphans


def in_window(items, key, o):
    return [x for x in items if o["t0"] <= x[key] <= o["t1"]]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec, t0_ms, read_cls):
    """The user-visible metrics of one untraced run."""
    ops = rec["ops"]
    reads = [(o["t1"] - o["t0"]) / 1000 for o in ops if o["ok"] and o["cls"] in read_cls]
    wall = (rec["measure_end_ms"] - rec["measure_start_ms"]) / 1000
    pct, tail_v = tail(reads)
    m = {
        "setup_s": (rec["setup_done_ms"] - t0_ms) / 1000,
        "op_p50_s": percentile(reads, 50),
        "op_tail_s": tail_v,
        "ops_per_s": sum(1 for o in ops if o["ok"]) / wall,
    }
    extra = {"op_tail_pct": pct, "op_samples": len(reads), "measured_s": wall,
             "peak_rss_mb": rec["vm_hwm_mb"], "live_heap_mb": rec["live_heap_mb"]}
    waves = [o for o in ops if o["cls"] == "w" and o["ok"]]
    if waves:
        wl = [(o["t1"] - o["t0"]) / 1000 for o in waves]
        wpct, wtail = tail(wl)
        comp = [(o["t1"] - o["t0"]) / 1000 for o in ops if o["cls"] == "c" and o["ok"]]
        extra.update({
            "wave_p50_s": percentile(wl, 50), "wave_tail_s": wtail, "wave_tail_pct": wpct,
            "wave_samples": len(wl),
            "wave_rows_per_s": sum(o["rows"] for o in waves) / sum(wl),
            "compact_p50_s": percentile(comp, 50) if comp else None,
            "compact_samples": len(comp),
            "store_amp": rec["store_bytes"] / max(1, rec["fresh_store_bytes"]),
        })
    return m, extra


def per_layer(rec, binaries, slots):
    """The per-layer metrics of one traced run: per-op means over the
    measured ops, plus set-up, probe and store figures."""
    ops = [o for o in rec["ops"] if o["ok"]]
    spans = rec["spans"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    jobs_of, orphans = attribute_jobs(ops, rec["jobs"],
                                      (rec["measure_start_ms"], rec["measure_end_ms"]))
    queries = [o for o in ops if o["cls"] == "r"]
    m = {}

    def span_ms(o, name):
        return sum(s["t1"] - s["t0"] for s in by_op.get(o["id"], []) if s["name"] == name)

    def build_jobs(o):
        b = [s for s in by_op.get(o["id"], []) if s["name"] == "queries.build"]
        return sum(1 for j in jobs_of[o["id"]] for s in b if s["t0"] <= j["t0"] <= s["t1"])

    m["queries.build_ms"] = mean(span_ms(o, "queries.build") for o in queries)
    m["queries.build_jobs"] = mean(build_jobs(o) for o in queries)
    m["queries.action_ms"] = mean(span_ms(o, "queries.action") for o in queries)
    m["queries.result_rows"] = mean(o["rows"] for o in queries)

    qes_of = {o["id"]: in_window(rec["qes"], "t0", o) for o in ops}
    for k, f in (("catalyst.analysis_ms", "analysis"),
                 ("catalyst.optimization_ms", "optimization"),
                 ("catalyst.planning_ms", "planning"),
                 ("plans.graft_rule_effective", "graft_eff")):
        m[k] = mean(sum(q[f] for q in qes_of[o["id"]]) for o in ops)
    m["plans.graft_rule_ms"] = mean(sum(q["graft_ns"] for q in qes_of[o["id"]]) / 1e6
                                    for o in ops)

    def jsum(o, f):
        return sum(j[f] for j in jobs_of[o["id"]])

    all_jobs = [j for o in ops for j in jobs_of[o["id"]]]
    stages = sum(j["stages"] for j in all_jobs)
    m["scheduler.jobs_per_op"] = mean(len(jobs_of[o["id"]]) for o in ops)
    m["scheduler.stages_per_op"] = mean(jsum(o, "stages") for o in ops)
    m["scheduler.tasks_per_op"] = mean(jsum(o, "tasks") for o in ops)
    m["scheduler.tasks_per_stage"] = sum(j["tasks"] for j in all_jobs) / max(1, stages)
    driver_only = {o["id"]: (o["t1"] - o["t0"]) - union_ms(
        [(j["t0"], j["t1"]) for j in jobs_of[o["id"]] if j["t1"] > 0], o["t0"], o["t1"])
        for o in ops}
    m["scheduler.driver_only_ms"] = mean(driver_only.values())
    waits = [j["first_launch"] - j["t0"] for j in all_jobs if j["first_launch"] > 0]
    m["scheduler.job_wait_ms"] = mean(waits)
    bins = [[mb for t, mb in binaries if o["t0"] <= t <= o["t1"]] for o in ops]
    m["scheduler.large_binary_count"] = mean(len(b) for b in bins)
    m["scheduler.large_binary_mb"] = mean(sum(b) for b in bins)
    m["scheduler.unattributed_jobs"] = len(orphans)

    for k, f, scale in (("executor.run_ms", "run_ms", 1), ("executor.cpu_ms", "cpu_ms", 1),
                        ("executor.deser_ms", "deser_ms", 1), ("executor.gc_ms", "gc_ms", 1),
                        ("shuffle.write_mb", "sw_bytes", 1 / 1048576),
                        ("shuffle.read_mb", "sr_bytes", 1 / 1048576),
                        ("shuffle.fetch_wait_ms", "fetch_ms", 1),
                        ("shuffle.spill_mb", "spill_bytes", 1 / 1048576),
                        ("sources.input_rows", "in_rows", 1),
                        ("sources.input_mb", "in_bytes", 1 / 1048576)):
        m[k] = mean(jsum(o, f) * scale for o in ops)
    m["executor.busy_frac"] = mean(jsum(o, "run_ms") / max(1e-9, (o["t1"] - o["t0"]) * slots)
                                   for o in ops)
    rows = [(jsum(o, "in_rows"), o["rows"]) for o in queries if o["rows"] > 0]
    m["sources.rows_per_result"] = mean(a / b for a, b in rows)

    memo = [s for s in spans if s["name"].startswith("ops.memo.")]
    for s in memo:
        m[s["name"] + "_s"] = (s["t1"] - s["t0"]) / 1000
    m["ops.memo.jobs"] = sum(1 for j in rec["jobs"] if (j.get("group") or "").startswith("memo:"))
    m["ops.memo.held_mb"] = rec.get("memo_held_mb", 0.0)

    for name, v in (rec.get("kernel_rows_per_s") or {}).items():
        m[f"functions.{name}_rows_per_s"] = v

    stream = {}
    for s in spans:   # calls after set-up: the window's, and a traced run's extra waves
        if s["name"].startswith("streaming.") and s["op"] >= 0:
            stream.setdefault(s["name"], []).append(s["t1"] - s["t0"])
    for name, v in stream.items():
        m[name + "_ms"] = mean(v)
    m.update(store_metrics(rec, ops + [o for o in rec["trace_ops"] if o["ok"]]))

    m["jvm.gc_ms"] = rec["jvm_gc_ms"]
    m["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    extra = {
        "driver_bound_share": mean(
            1.0 if driver_only[o["id"]] > 0.5 * (o["t1"] - o["t0"]) else 0.0 for o in queries),
        "held_read_share": mean(1.0 if any(q["held"] for q in qes_of[o["id"]]) else 0.0
                                for o in queries),
    }
    return m, extra


def store_metrics(rec, ops):
    """Store state from the before/after listings around each call."""
    ls = rec["listings"]
    if not ls:
        return {}
    waves = {o["id"] for o in ops if o["cls"] == "w"}
    comps = {o["id"] for o in ops if o["cls"] == "c"}
    pairs = []          # (op, store, before, after)
    pending = {}
    for x in ls:
        key = (x["op"], x["store"])
        if x["label"] == "before":
            pending[key] = x
        elif key in pending:
            pairs.append((x["op"], x["store"], pending.pop(key), x))
    wave_pairs = [p for p in pairs if p[0] in waves]
    comp_pairs = [p for p in pairs if p[0] in comps and p[1] != "pipe"]
    written = sum(max(0, a["bytes"] - b["bytes"]) for _, _, b, a in pairs)
    last = {}
    for x in ls:
        last[x["store"]] = x
    final_bytes = sum(x["bytes"] for s, x in last.items() if s != "pipe")
    n_waves = max(1, len(waves))
    return {
        "streaming.live_gens": rec.get("live_gens", 0),
        "streaming.tomb_ratio": sum(x["tomb_bytes"] for x in last.values()) / max(1, final_bytes),
        "streaming.files_per_wave": sum(a["files"] - b["files"] for _, _, b, a in wave_pairs
                                        if a["files"] > b["files"]) / n_waves,
        "streaming.mb_written_per_wave": sum(max(0, a["bytes"] - b["bytes"])
                                             for _, _, b, a in wave_pairs) / n_waves / 1048576,
        "streaming.write_amp": written / max(1, final_bytes),
        "streaming.compact_mb_rewritten": mean(a["bytes"] for _, _, _, a in comp_pairs) / 1048576
        if comp_pairs else 0.0,
    }
