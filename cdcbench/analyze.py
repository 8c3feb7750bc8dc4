"""Scoring helpers for the CDC benchmark: checkpoint parsing, freshness,
percentiles, span self times and the per-layer metrics of a traced leg.

Everything here reads what a run left behind (the checkpoint, the output
tree and the harness's raw trace); nothing reaches into the pipeline."""
import json
import math
import os
import statistics

# Spark's micro-batch phases in execution order: offsets are read and
# written to the WAL, the batch is planned and run, then the commit log.
PRE_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning")
POST_PHASES = ("commitOffsets",)
LADDER = (99.9, 99.5, 99.0, 98.0, 97.5, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n):
    """Highest percentile on LADDER with at least ten of n samples above
    its nearest rank."""
    for p in LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p
    raise ValueError(f"{n} samples cannot support a tail percentile")


def median(values):
    return statistics.median(values) if values else 0.0


def visible(name):
    """Spark's rule for data files: names starting with '.' or '_' are
    checksums, markers and metadata."""
    return not name.startswith(".") and not name.startswith("_")


def parse_log_file(path):
    """Entries of one file-source metadata log file (first line is the
    version header)."""
    with open(path) as f:
        return [json.loads(ln) for ln in f.read().splitlines()[1:] if ln.startswith("{")]


def attribute_batches(logs):
    """Map each admitted source path to the batch that admitted it.

    `logs` is [(log_id, is_compact, entries)]. A delta log `<id>` holds the
    files of batch id. A compact log `<id>.compact` holds every entry through
    id, so its own batch is what the earlier logs do not already account
    for; an entry's own `batchId` field, when present, wins."""
    out = {}
    for log_id, compact, entries in sorted(logs, key=lambda e: (e[0], e[1])):
        for e in entries:
            if "batchId" in e:
                out[e["path"]] = e["batchId"]
            elif not compact or e["path"] not in out:
                out[e["path"]] = log_id
    return out


def source_batches(ckpt):
    d = os.path.join(ckpt, "sources", "0")
    logs = []
    for name in os.listdir(d):
        base = name[:-len(".compact")] if name.endswith(".compact") else name
        if base.isdigit():
            logs.append((int(base), name.endswith(".compact"),
                         parse_log_file(os.path.join(d, name))))
    return {os.path.basename(p): b for p, b in attribute_batches(logs).items()}


def commit_times(ckpt):
    """Batch id -> commit time (epoch seconds) from the commit log."""
    d = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
            for n in os.listdir(d) if n.isdigit()}


def freshness(ckpt, due):
    """Seconds from each file's due time to the commit of its batch.
    `due` maps file name -> due epoch seconds; files absent from it (the
    replica base, drained before timing) are skipped."""
    batches = source_batches(ckpt)
    commits = commit_times(ckpt)
    return [commits[batches[name]] - t for name, t in due.items()]


def walk(root, pred=lambda name: True):
    """(file count, bytes) of regular files under root accepted by pred."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if pred(f):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def data_files_per_batch(out):
    """Visible data files under each `batch_id=` directory of a file sink."""
    return [walk(os.path.join(out, d), visible)[0]
            for d in sorted(os.listdir(out)) if d.startswith("batch_id=")]


def union_length(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children. Spans are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        cover = [(a, b) for a, b in cover if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(cover)
    return out


def tid(x):
    """Trace id of a trigger: its query and batch id."""
    return f"{x['query_id']}:{x['batch_id']}"


def build_spans(progress, deco, jobs):
    """One trace per trigger (trace id = query and batch id): the trigger span, its
    phase spans, the decorator spans and the Spark jobs, in ms.

    Phase durations come from the query listener without start times; the
    addBatch span is anchored at the first sink call of the batch, the
    phases before it are laid out backwards from there and the ones after
    it forwards, so the remainder of the trigger is its self time."""
    spans = []
    for p in progress:
        b, d = tid(p), p["duration_ms"]
        t0 = p["timestamp_ms"]
        trig = {"id": f"{b}", "parent": None, "name": "trigger", "trace": b,
                "start": t0, "end": t0 + d["triggerExecution"]}
        spans.append(trig)
        mine = sorted((s for s in deco if tid(s) == b),
                      key=lambda s: (s["start_us"], s["start_us"] - s["end_us"]))
        writes = [s for s in mine if s["name"] == "destination.writeBatch"]
        pre = [k for k in PRE_PHASES if k in d]
        anchor = (writes[0]["start_us"] / 1000.0 if writes
                  else t0 + sum(d[k] for k in pre))
        add = {"id": f"{b}/addBatch", "parent": trig["id"], "name": "addBatch",
               "trace": b, "start": anchor, "end": anchor + d.get("addBatch", 0)}
        t = anchor
        for k in reversed(pre):
            spans.append({"id": f"{b}/{k}", "parent": trig["id"], "name": k,
                          "trace": b, "start": t - d[k], "end": t})
            t -= d[k]
        spans.append(add)
        t = add["end"]
        for k in POST_PHASES:
            if k in d:
                spans.append({"id": f"{b}/{k}", "parent": trig["id"], "name": k,
                              "trace": b, "start": t, "end": t + d[k]})
                t += d[k]
        outer = []
        for i, s in enumerate(mine):
            sp = {"id": f"{b}/{s['name']}#{i}", "name": s["name"], "trace": b,
                  "start": s["start_us"] / 1000.0, "end": s["end_us"] / 1000.0}
            host = [o for o in outer if o["start"] <= sp["start"] and sp["end"] <= o["end"]]
            sp["parent"] = host[-1]["id"] if host else add["id"]
            outer.append(sp)
            spans.append(sp)
        for j in jobs:
            if tid(j) != b or "end_ms" not in j:
                continue
            host = [o for o in outer if o["start"] <= j["start_ms"] <= o["end"]]
            parent = (host[-1]["id"] if host else
                      add["id"] if add["start"] <= j["start_ms"] <= add["end"]
                      else trig["id"])
            spans.append({"id": f"{b}/job{j['job_id']}", "parent": parent,
                          "name": "spark.job", "trace": b, "job": j,
                          "start": j["start_ms"], "end": j["end_ms"]})
    return spans


def layer_self_times(spans):
    """Per span name: count, total duration and total self time (ms)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += s["end"] - s["start"]
        e["self_ms"] += st[s["id"]]
    return out


def trace_metrics(progress, deco, jobs, cores, rows):
    """Per-layer metrics of the traced queries, from their listener progress,
    decorator spans and Spark jobs; `rows` maps a trace id to the events its
    trigger admitted."""
    progress = sorted((p for p in progress if "addBatch" in p["duration_ms"]),
                      key=lambda p: p["timestamp_ms"])
    spans = build_spans(progress, deco, jobs)
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def phase(k):
        return median([p["duration_ms"].get(k, 0) for p in progress])

    totals = [p["duration_ms"]["triggerExecution"] for p in progress]
    dur = {}
    for s in deco:
        key = (s["name"], tid(s))
        dur[key] = dur.get(key, 0.0) + (s["end_us"] - s["start_us"]) / 1000.0
    writes = [dur.get(("destination.writeBatch", tid(p)), 0.0) for p in progress]
    flushes = [dur.get(("destination.flush", tid(p)), 0.0) for p in progress]
    bookkeeping = [p["duration_ms"]["addBatch"] - w - f
                   for p, w, f in zip(progress, writes, flushes)]
    q = max(1, len(bookkeeping) // 4)
    first, last = statistics.mean(bookkeeping[:q]), statistics.mean(bookkeeping[-q:])

    def jobs_under(name, b):
        out = []
        for s in spans:
            if s["name"] == "spark.job" and s["trace"] == b:
                anc = by_id.get(s["parent"])
                while anc is not None and anc["name"] != name:
                    anc = by_id.get(anc["parent"])
                if anc is not None:
                    out.append(s["job"])
        return out

    per_trigger = []
    for p in progress:
        b = tid(p)
        js = [j for j in jobs if tid(j) == b]
        run_ms = sum(j["run_ms"] for j in js)
        a = jobs_under("replica.applyBatch", b)
        replica = any(s["name"] == "replica.applyBatch" and tid(s) == b for s in deco)
        w = [] if replica else jobs_under("destination.writeBatch", b)
        per_trigger.append({
            "jobs": len(js), "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js), "run_ms": run_ms,
            "cpu_ms": sum(j["cpu_ms"] for j in js),
            "gc_ms": sum(j["gc_ms"] for j in js),
            "shuffle_read": sum(j["shuffle_read_bytes"] for j in js),
            "shuffle_write": sum(j["shuffle_write_bytes"] for j in js),
            "spill": sum(j["spill_bytes"] for j in js),
            "sched": p["duration_ms"]["triggerExecution"] - run_ms / cores,
            "w_jobs": len(w), "w_shuffle": sum(j["shuffle_write_bytes"] for j in w),
            "a_jobs": len(a), "a_tasks": sum(j["tasks"] for j in a),
            "a_rows": sum(j["records_written"] for j in a),
            "rows": rows.get(b, 0)})

    def med(k):
        return median([t[k] for t in per_trigger])

    applies = [(s["end_us"] - s["start_us"]) / 1000.0 for s in deco
               if s["name"] == "replica.applyBatch"]
    events = sum(t["rows"] for t in per_trigger)
    m = {
        "trigger.count": len(progress),
        "trigger.events_p50": med("rows"),
        "trigger.latest_offset_ms": phase("latestOffset"),
        "trigger.get_batch_ms": phase("getBatch"),
        "trigger.query_planning_ms": phase("queryPlanning"),
        "trigger.add_batch_ms": phase("addBatch"),
        "trigger.wal_commit_ms": phase("walCommit"),
        "trigger.commit_offsets_ms": phase("commitOffsets"),
        "trigger.total_ms_p50": median(totals),
        "trigger.total_ms_p99": percentile(totals, 99.0),
        "trigger.self_ms": median([st[tid(p)] for p in progress]),
        "pipeline.bookkeeping_ms": median(bookkeeping),
        "pipeline.bookkeeping_growth": last / first if first > 0 else 0.0,
        "destination.write_ms_p50": median(writes),
        "destination.write_ms_p99": percentile(writes, 99.0),
        "destination.flush_ms": median(flushes),
        "writers.jobs_per_batch": med("w_jobs"),
        "writers.shuffle_write_bytes": med("w_shuffle"),
        "replica.apply_ms_p50": median(applies),
        "replica.jobs_per_batch": med("a_jobs"),
        "replica.tasks_per_batch": med("a_tasks"),
        "replica.write_amplification":
            sum(t["a_rows"] for t in per_trigger) / events if applies and events else 0.0,
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.executor_run_ms": med("run_ms"),
        "spark.executor_cpu_ms": med("cpu_ms"),
        "spark.gc_ms": med("gc_ms"),
        "spark.shuffle_read_bytes": med("shuffle_read"),
        "spark.shuffle_write_bytes": med("shuffle_write"),
        "spark.spill_bytes": med("spill"),
        "spark.scheduling_overhead_ms": med("sched"),
    }
    return m, spans, layer_self_times(spans)
