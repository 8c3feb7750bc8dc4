#!/usr/bin/env python3
"""CDC replication benchmark.

    python3 cdcbench/run.py --workload backlog_drain --seed 1 --seconds 20 --trace 0

Runs the repository's CDC pipeline (CdcPipeline.start into FileDestination,
or into ReplicaTable.applyBatch) on seeded, generated change-event files,
checks the output against the generator's model, and prints one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A traced run also writes its spans to .bench_build/traces/. The first run
in a checkout builds the program from source with sbt.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import analyze
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PIPELINE = os.path.join(ROOT, "src", "main", "scala", "graft", "streaming", "CdcPipeline.scala")

# Each workload re-drains its backlog with a fresh checkpoint and sink
# until --seconds have passed (at least min_reps times) and reports the
# median; freshness samples of all reps are pooled. The tail percentile is
# fixed from the guaranteed sample count so every run reports the same one.
# backlog_drain warms up with two untimed drains of its backlog: after one,
# the first measured rep still ran 10-25% slower than the later ones.
# replica_upsert drains `base_events` of the same keyed stream once as its
# warm-up; every rep resumes a copy of that state and applies the rest.
WORKLOADS = {
    "backlog_drain": dict(events=120_000, per_file=500, max_files=30,
                          warm_drains=2, min_reps=2),
    "replica_upsert": dict(events=40_000, per_file=250, max_files=20, keys=5000,
                           base_events=10_000, warm_drains=1, min_reps=1),
}
SETUP_REPEATS = 7
SPARK_CORES = max(1, min(3, (os.cpu_count() or 2) - 1))
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(1)


def fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state; return the
    runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export cdcbench/Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(PIPELINE):
        fail(f"pipeline sources not found next to the benchmark ({PIPELINE})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    w = WORKLOADS[a.workload]
    classpath = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        result, inputs = run(a, w, classpath, run_dir)
        metrics, trace = score(a, w, result, inputs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = sum(r["attempts"] for l in result["legs"] for r in l["reps"])
    failed = sum(r["failures"] for l in result["legs"] for r in l["reps"])
    if trace is not None:
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump(trace, f)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def run(a, w, classpath, run_dir):
    """Generate inputs, run the harness JVM, and return its raw result plus
    the generated stream and the files of it the reps measure."""
    backlog, staging = os.path.join(run_dir, "backlog"), os.path.join(run_dir, "staging")
    cfg = {"workload": a.workload, "run_dir": run_dir, "cores": SPARK_CORES,
           "seconds": a.seconds, "trace": bool(a.trace), "schema_ddl": gen.SCHEMA_DDL,
           "min_reps": w["min_reps"], "warm_drains": w["warm_drains"],
           "setup_repeats": SETUP_REPEATS,
           "backlog_dir": backlog, "max_files_per_trigger": w["max_files"]}
    if a.workload == "replica_upsert":
        stream = gen.generate(a.seed, a.workload, w["base_events"] + w["events"],
                              w["per_file"], keys=w["keys"])
        n_base = w["base_events"] // w["per_file"]
        base, measured = stream.files[:n_base], stream.files[n_base:]
        gen.stage(base, backlog, staging)
        gen.stage(measured, os.path.join(run_dir, "pending"), staging)
        cfg["pending_dir"] = os.path.join(run_dir, "pending")
    else:
        stream = gen.generate(a.seed, a.workload, w["events"], w["per_file"])
        measured = stream.files
        gen.stage(measured, backlog, staging)
    with open(os.path.join(run_dir, "config.json"), "w") as f:
        json.dump(cfg, f)

    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "cdcbench.Harness", os.path.join(run_dir, "config.json")])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            proc.wait(timeout=100 + 3 * a.seconds)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    res_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {proc.returncode}")
    with open(res_path) as f:
        result = json.load(f)
    return result, {"stream": stream, "measured": measured,
                    "events": sum(d.count(b"\n") for _, d in measured)}


def verify(a, result, stream):
    """The output check: every measured query's output equals the
    generator's model."""
    pairs = [(rep, chk) for leg in result["legs"]
             for rep, chk in zip(leg["reps"], result["checks"][leg["name"]])]
    if result["one_core"]:
        pairs.append((result["one_core"], result["one_core_check"]))
    for rep, chk in pairs:
        ckpt = os.path.join(rep["dir"], "ckpt")
        batches, commits = analyze.source_batches(ckpt), analyze.commit_times(ckpt)
        lost = [n for n, _ in stream.files if batches.get(n) not in commits]
        if lost:
            fail(f"{rep['name']}: {len(lost)} input files never committed")
        if a.workload == "replica_upsert":
            with open(chk["replica_rows_file"]) as f:
                rows = f.read().split("\n") if os.path.getsize(chk["replica_rows_file"]) else []
            want = list(stream.replica.values())
            if len(rows) != len(want) or gen.set_hash(rows) != gen.set_hash(want):
                fail(f"{rep['name']}: replica differs from the last-writer-wins model "
                     f"({len(rows)} rows, expected {len(want)})")
        else:
            got = {c: n for c, n in chk["per_collection"].items() if n}
            want = {c: n for c, n in stream.tallies.items() if n}
            if got != want or chk["distinct_event_ids"] != stream.events:
                fail(f"{rep['name']}: read-back {got} / {chk['distinct_event_ids']} distinct "
                     f"event ids, expected {want} / {stream.events}")


def leg_numbers(leg, inputs):
    """End-to-end numbers of one leg: per-rep throughput and the pooled
    freshness samples (a backlog is due when its query starts)."""
    eps, fresh = [], []
    for rep in leg["reps"]:
        wall = (rep["end_us"] - rep["start_us"]) / 1e6
        eps.append(inputs["events"] / wall)
        due = {n: rep["start_us"] / 1e6 for n, _ in inputs["measured"]}
        fresh += analyze.freshness(os.path.join(rep["dir"], "ckpt"), due)
    return eps, fresh


def spec_units(kind):
    """Metric name -> unit for one metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {x["name"]: x["unit"] for x in json.load(f)[kind]}


def output_bytes(a, rep):
    out = os.path.join(rep["dir"], "out")
    if a.workload == "replica_upsert":
        return analyze.walk(os.path.join(out, "state"), analyze.visible)[1]
    return analyze.walk(out, analyze.visible)[1]


def score(a, w, result, inputs):
    stream = inputs["stream"]
    verify(a, result, stream)
    untraced = [l for l in result["legs"] if not l["traced"]]
    eps, fresh = [], []
    for leg in untraced:
        e, f = leg_numbers(leg, inputs)
        eps, fresh = eps + e, fresh + f
    p_tail = analyze.tail_percentile(w["min_reps"] * len(inputs["measured"]))
    attempts = sum(r["attempts"] for l in untraced for r in l["reps"])
    failures = sum(r["failures"] for l in untraced for r in l["reps"])
    e2e = {
        "setup_s": analyze.median(result["setup_s"]),
        "events_per_s": analyze.median(eps),
        "freshness_p50_s": analyze.median(fresh),
        "freshness_tail_s": analyze.percentile(fresh, p_tail),
        "output_bytes_per_event": output_bytes(a, untraced[0]["reps"][-1]) / stream.events,
        "peak_rss_mb": result["peak_rss_mb"],
        "batch_success_ratio": (attempts - failures) / attempts,
    }
    if not a.trace:
        units = spec_units("end_to_end")
        return {k: {"value": e2e[k], "unit": units[k]} for k in units}, None
    return trace_report(a, result, inputs, e2e, p_tail)


def trace_report(a, result, inputs, e2e, p_tail):
    """Per-layer metrics of the traced leg, the spans behind them, and the
    tracing overhead against the untraced leg of the same process."""
    stream = inputs["stream"]
    leg = next(l for l in result["legs"] if l["traced"])
    t = result["trace"]
    qids = {r["query_id"] for r in leg["reps"]}
    prog = [p for p in t["progress"] if p["query_id"] in qids]
    deco = [s for s in t["spans"] if s["query_id"] in qids]
    jobs = [j for j in t["jobs"] if j["query_id"] in qids]
    # events per trigger from the source log, not from the engine's input
    # row count, which counts a batch once per read of it
    sizes = {name: data.count(b"\n") for name, data in stream.files}
    rows = {}
    for r in leg["reps"]:
        for name, b in analyze.source_batches(os.path.join(r["dir"], "ckpt")).items():
            key = f"{r['query_id']}:{b}"
            rows[key] = rows.get(key, 0) + sizes[name]
    m, spans, layers = analyze.trace_metrics(prog, deco, jobs, SPARK_CORES, rows)
    last = leg["reps"][-1]
    out = os.path.join(last["dir"], "out")
    m["checkpoint.files"], m["checkpoint.bytes"] = analyze.walk(os.path.join(last["dir"], "ckpt"))
    m["destination.attempts"] = sum(r["attempts"] for r in leg["reps"])
    m["destination.failures"] = sum(r["failures"] for r in leg["reps"])
    if a.workload == "replica_upsert":
        files_per_batch, data_bytes = [], 0
        m["replica.state_bytes"] = output_bytes(a, last)
    else:
        files_per_batch = analyze.data_files_per_batch(out)
        data_bytes = analyze.walk(out, analyze.visible)[1]
        m["replica.state_bytes"] = 0
    m["writers.files_per_batch"] = analyze.median(files_per_batch)
    m["writers.events_per_file"] = (stream.events / sum(files_per_batch)
                                    if files_per_batch else 0.0)
    m["writers.output_bytes"] = data_bytes
    for k, v in leg["counters"].items():
        m[f"metrics.{k}"] = v
    m["loadgen.files"] = len(inputs["measured"])
    m["loadgen.events"] = inputs["events"]
    m["setup.cold_s"] = result["setup_s"][0]
    one = result.get("one_core")
    t_eps, t_fresh = leg_numbers(leg, inputs)
    m["scaling.speedup_vs_1core"] = (
        e2e["events_per_s"] / (inputs["events"] / ((one["end_us"] - one["start_us"]) / 1e6))
        if one else 0.0)
    traced, plain = analyze.median(t_eps), e2e["events_per_s"]
    m["trace.overhead_pct"] = (plain - traced) / plain * 100.0
    units = spec_units("per_layer")
    missing = set(units) - set(m)
    if missing:
        fail(f"traced run did not produce {sorted(missing)}")
    metrics = {k: {"value": m[k], "unit": units[k]} for k in units}
    trace = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "spark_cores": SPARK_CORES, "freshness_tail_percentile": p_tail,
             "e2e_untraced": e2e, "e2e_traced": {"events_per_s": analyze.median(t_eps),
                                                 "freshness_p50_s": analyze.median(t_fresh)},
             "layers": layers, "metrics": m, "spans": spans}
    return metrics, trace


if __name__ == "__main__":
    main()
