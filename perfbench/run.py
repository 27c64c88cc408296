#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload etl_scan --seed 1 --seconds 20 --trace 0

Builds the engine (`src/main/scala`) and the harness from source with the
Scala compiler that ships in the Spark jars, generates the seeded input
tables and wave inputs, runs the harness JVM on `local[nproc]`, checks
the outputs, prints a readable report and, as the last stdout line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics (and
writes the spans to `.bench_build/traces/`). Everything the run writes
stays under `.bench_build/` in the checkout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# the Spark install: $SPARK_HOME, else the one whose spark-submit is on PATH
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    shutil.which("spark-submit") or "spark-submit")), "jars")
# oracle-checked measured query kinds per run: a seeded 4 of the 13 etl
# queries (re-running all 13 adds about 10 s to a run), all 5 readers
# (they read held artifacts; the five dumps and their DuckDB twins take
# about 4 s)
CHECKS = {"etl_scan": 4, "serve_maintain": 5}
HARNESS_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
BINARY_RE = re.compile(r"^(\d+) WARN \S+: Broadcasting large task binary with size "
                       r"([\d.]+) (B|KiB|MiB|GiB)")
UNIT_MB = {"B": 1 / 1048576, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(srcs, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.listdir(tmp):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile of {len(srcs)} sources failed")
    os.rename(tmp, out)


def build():
    """Compile the engine and the harness (cached by source hash).
    Returns the class path and the build hash."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine = sorted(glob.glob(os.path.join(engine_src, "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars in {SPARK_JARS}")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    eh = tree_hash(engine)
    hh = tree_hash(harness, eh)
    eng_out = os.path.join(BUILD, f"engine-{eh}")
    har_out = os.path.join(BUILD, f"harness-{hh}")
    jars = os.path.join(SPARK_JARS, "*")
    if not os.path.isdir(eng_out):
        for old in glob.glob(os.path.join(BUILD, "engine-*")):
            shutil.rmtree(old, ignore_errors=True)
        log(f"compiling {len(engine)} engine sources")
        scalac(engine, eng_out, jars)
    if not os.path.isdir(har_out):
        for old in glob.glob(os.path.join(BUILD, "harness-*")):
            shutil.rmtree(old, ignore_errors=True)
        log("compiling the harness")
        scalac(harness, har_out, f"{eng_out}:{jars}")
    return f"{har_out}:{eng_out}:{jars}", hh


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def table_counts(data_dir, scale):
    """Row counts of the generated tables and whether they match the
    engine corpus shape (TESTDATA_SHAPE.json) of the same scale."""
    import pyarrow.parquet as pq
    counts = {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
              for t in oracle.TABLES}
    shape_file = os.path.join(ROOT, "TESTDATA_SHAPE.json")
    sf = {1.0: "sf0.01", 0.1: "sf0.001"}.get(scale)
    match = None
    if sf and os.path.exists(shape_file):
        with open(shape_file) as f:
            want = {k: v for k, v in json.load(f)[sf].items() if not k.startswith("_")}
        match = all(counts.get(k) == v for k, v in want.items())
    return counts, match


def large_binaries(log_path):
    out = []
    if os.path.exists(log_path):
        with open(log_path, errors="replace") as f:
            for line in f:
                m = BINARY_RE.match(line)
                if m:
                    out.append((float(m.group(1)), float(m.group(2)) * UNIT_MB[m.group(3)]))
    return out


def run_harness(args, cp, data, work, cpus, checks):
    rec_path = os.path.join(work, "record.json")
    sched = {}
    for name, rounds in (("schedule", workloads.schedule(args.workload)),
                         ("trace_schedule", workloads.trace_schedule(args.workload))):
        sched[name] = os.path.join(work, f"{name}.txt")
        with open(sched[name], "w") as f:
            f.write("".join(" ".join(r) + "\n" for r in rounds))
    os.makedirs(os.path.join(work, "tmp"))
    # the throughput collector: on 4 cores G1's concurrent threads cost
    # about 15% of op time and 12 s of a serve_maintain run
    jvm = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           f"-Dperfbench.log={work}/spark.log", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    kv = {"workload": args.workload, "data": data, "work": work, **sched,
          "seconds": args.seconds, "trace": args.trace, "out": rec_path, "cpus": cpus,
          "check": ",".join(checks)}
    cmd = jvm + ["-cp", cp, "graft.perfbench.Harness"] + [f"{k}={v}" for k, v in kv.items()]
    t0_ms = time.time() * 1000
    with open(os.path.join(work, "harness.out"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:       # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(rec_path):
        with open(os.path.join(work, "harness.out"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed ({rc})")
    with open(rec_path) as f:
        return json.load(f), t0_ms


def correctness(rec, work, data):
    """[(check, ok, detail)]: oracle compares of the dumped queries, the
    harness's own laws, row counts that must not vary between repeats
    of one op kind, and reads around each compaction (in the window and
    in a traced run's extra ops) that must agree."""
    out = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]
           if not c["name"].startswith("query:") or not c["ok"]]
    dumped = [c["name"][6:] for c in rec["checks"] if c["name"].startswith("query:") and c["ok"]]
    rows = {}
    for k, ok, detail, n in oracle.compare(os.path.join(work, "check"), data,
                                           os.path.join(BUILD, "oracle-cache"), dumped):
        out.append((f"oracle:{k}", ok, detail))
        rows[k] = n
    for o in rec["ops"]:
        if o["ok"] and o["cls"] == "r":
            want = rows.setdefault(o["kind"], o["rows"])
            if o["rows"] != want:
                out.append((f"rows:{o['kind']}#{o['id']}", False, f"{o['rows']} vs {want}"))
    ops = rec["ops"] + rec["trace_ops"]
    for i, o in enumerate(ops):
        if o["cls"] != "c":
            continue
        before = next((p for p in reversed(ops[:i]) if p["cls"] in "pw"), None)
        after = next((p for p in ops[i + 1:] if p["cls"] in "pw"), None)
        if before and after and before["cls"] == after["cls"] == "p":
            out.append((f"compaction:{o['id']}", before["digest"] == after["digest"],
                        f"{before['digest']} vs {after['digest']}"))
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="relational table scale: 1 = sf0.01 shape, 0.1 = sf0.001 shape")
    args = ap.parse_args()

    cp, build_hash = build()
    cpus = len(os.sched_getaffinity(0))
    gen = tree_hash([os.path.join(HERE, "gen_data.py")])[:8]
    data = gen_data.write(os.path.join(BUILD, "data", f"s{args.seed}-x{args.scale}-{gen}"),
                          args.seed, args.scale)
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "serve_maintain":
            workloads.write_waves(data, os.path.join(work, "waves"), args.seed)
        checks = workloads.check_kinds(args.workload, args.seed, CHECKS[args.workload])
        load0 = loadavg()
        rec, t0_ms = run_harness(args, cp, data, work, cpus, checks)
        load1 = loadavg()
        verdicts = correctness(rec, work, data)
        binaries = large_binaries(os.path.join(work, "spark.log"))
        if args.trace:
            write_trace(args, rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    read_cls = "r" if args.workload == "etl_scan" else "rp"
    e2e, e2e_extra = metrics.end_to_end(rec, t0_ms, read_cls)
    all_ops = rec["ops"] + rec["trace_ops"]
    attempted = len(all_ops)
    mismatches = [v for v in verdicts if not v[1]]
    failed = sum(1 for o in all_ops if not o["ok"]) + len(mismatches)
    counts, shape_ok = table_counts(data, args.scale)
    env = {"nproc": cpus, "spark_width": rec["spark_width"], "loadavg_before": load0,
           "loadavg_after": load1, "seed": args.seed, "java": rec["java_version"],
           "spark": rec["spark_version"], "job_overhead_us": rec.get("job_overhead_us"),
           "tables": counts, "tables_match_shape": shape_ok,
           "update_gate_pass_share": rec.get("update_gate_pass_share"),
           "waves_applied": rec.get("waves_applied"),
           "index_compactions": sum(1 for o in all_ops if o["cls"] == "c" and o["ok"]
                                    and o["digest"] == "index")}

    print(f"== perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"measured={e2e_extra['measured_s']:.1f}s ops={attempted}")
    print("env " + json.dumps(env, sort_keys=True))
    for name, ok, detail in verdicts:
        if not ok:
            print(f"MISMATCH {name}: {detail}")
    print(f"checks {len(verdicts) - len(mismatches)}/{len(verdicts)} pass; "
          f"failed_frac {failed / attempted:.4f} (ratio)")
    # exactly the metrics BENCHMARK.json declares for this mode; a layer
    # this workload never exercises reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        layer, layer_extra = metrics.per_layer(rec, binaries, cpus)
        overhead = trace_overhead(untraced_key(args, data, build_hash), e2e)
        for k in sorted(layer):
            print(f"layer {k} = {layer[k]:.6g}")
        print("props " + json.dumps({**layer_extra, "trace_overhead": overhead}, sort_keys=True))
        out = layer
    else:
        for m in declared:
            print(f"metric {m['name']} = {e2e[m['name']]:.6g} {m['unit']} "
                  f"(n={e2e_extra['op_samples']})")
        for k, v in e2e_extra.items():
            print(f"report {k} = {v}")
        save_untraced(untraced_key(args, data, build_hash), e2e)
        out = e2e
    print(json.dumps({"correct": not mismatches and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {m["name"]: {"value": out.get(m["name"], 0.0),
                                              "unit": m["unit"]} for m in declared}}))


def untraced_key(args, data, build_hash):
    """Untraced and traced runs compare only on the same workload, inputs
    (seed, scale, generator) and build."""
    return f"{args.workload}-{os.path.basename(data)}-{build_hash}"


def save_untraced(key, e2e):
    os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
    with open(os.path.join(BUILD, "last", f"{key}.json"), "w") as f:
        json.dump(e2e, f)


def trace_overhead(key, e2e):
    """Traced minus untraced, as a share of the untraced value, against
    an untraced run of the same key (None when there is none). One pair
    of runs: indicative only, as noisy as a single run."""
    path = os.path.join(BUILD, "last", f"{key}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    return {k: (e2e[k] - base[k]) / base[k] for k in ("op_p50_s", "ops_per_s") if base.get(k)}


def write_trace(args, rec):
    """Spans (harness spans plus one span per Spark job, parented to its
    op span) with self times, written when the run ends."""
    spans = list(rec["spans"])
    op_span = {s["op"]: s["id"] for s in spans if s["name"].startswith("op:")}
    ops = rec["ops"] + rec["trace_ops"]
    jobs_of, orphans = metrics.attribute_jobs(ops, rec["jobs"],
                                              (rec["measure_start_ms"], rec["measure_end_ms"]))
    next_id = max([s["id"] for s in spans] + [0]) + 1
    for op, js in jobs_of.items():
        for j in js:
            if j["t1"] > 0:
                spans.append({"id": next_id, "name": "spark.job", "t0": j["t0"], "t1": j["t1"],
                              "parent": op_span.get(op, 0), "op": op})
                next_id += 1
    selfs = metrics.self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    by_kind = {}      # per op kind: wall, jobs, stages, tasks, executor run time,
    for o in ops:     # driver-only time, self time per span name
        k = by_kind.setdefault(f"{o['cls']}:{o['kind']}", {
            "ops": 0, "wall_ms": 0.0, "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0,
            "driver_only_ms": 0.0, "self_ms": {}})
        js = [j for j in jobs_of[o["id"]] if j["t1"] > 0]
        k["ops"] += 1
        k["wall_ms"] += o["t1"] - o["t0"]
        k["jobs"] += len(js)
        for f in ("stages", "tasks", "run_ms"):
            k[f] += sum(j[f] for j in js)
        k["driver_only_ms"] += (o["t1"] - o["t0"]) - metrics.union_ms(
            [(j["t0"], j["t1"]) for j in js], o["t0"], o["t1"])
        for s in spans:
            if s["op"] == o["id"]:
                k["self_ms"][s["name"]] = k["self_ms"].get(s["name"], 0.0) + s["self_ms"]
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    path = os.path.join(BUILD, "traces", f"{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"ops": ops, "by_kind": by_kind, "spans": spans,
                   "unattributed_jobs": len(orphans)}, f)
    log(f"trace: {len(spans)} spans -> {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
