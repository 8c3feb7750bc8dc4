#!/usr/bin/env python3
"""Per-batch job and task timeline of a Spark event log.

    python3 tools/sparktimeline.py EVENTLOG

EVENTLOG is a Spark event log: one JSON event per line, as written with
`spark.eventLog.enabled=true`. It is a file, or a rolling log's directory
(`eventlog_v2_<app id>`, Spark 4's default) whose `events_<n>_<app id>`
parts are read in order of n. A compressed part or file (Spark 4
compresses by default: `events_<n>_<app id>.zstd`, `.lz4`, ...) is read
through the `zstd` or `lz4` command. When that command is not on PATH, or
cannot read the part (Spark's lz4 codec writes lz4-java's block stream,
which is not the `lz4` command's frame format), the tool exits 2 naming
the part; write the log with `spark.eventLog.compress=false` instead. A
cdcbench run writes one log per SparkSession without any code change:

    JAVA_TOOL_OPTIONS='-Dspark.eventLog.enabled=true
      -Dspark.eventLog.dir=file:///some/dir -Dspark.eventLog.compress=false'
      python3 cdcbench/run.py --workload replica_upsert --seed 1 ...

Jobs are grouped by the streaming query and micro-batch that started them
(the `sql.streaming.queryId` and `streaming.sql.batchId` job properties);
jobs started outside any query are listed under `query -`. Batches are
listed in the order their first jobs were submitted. For each batch it
prints the batch's span (first job submitted to last job done), then per
job, in submission order:

  - the job's wall time (submission to completion);
  - the driver gap before it: its submission minus the completion of the
    batch's previous job (`-` for the batch's first job);
  - its stages and their task counts,

and per finished task, its stage, deserialize time, run time, records
read (input plus shuffle) and records written (output plus shuffle).

Last, one `median` line per query and stage: the median deserialize and
run time of that stage's tasks over all the query's batches. A stage is
known by its name, the call site of the job that created it: graft names
each destination step's stages (`FileDestination.writeBatch`,
`BucketedStateTable.append`, `BucketedStateTable.compact`), and the
stream's other jobs keep the query's own (`start at CdcPipeline.scala:N`).
Stages of one name in one batch (a shuffle's map and result stages) are
told apart as `k/n`, the k-th of that batch's n stages of the name that
ran tasks, by stage id. So a write stage pools over plain and compacting
triggers alike. Times are milliseconds. Exits 2 on a usage error or a
log it cannot read.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys

QUERY_KEY = "sql.streaming.queryId"
BATCH_KEY = "streaming.sql.batchId"
QUERY_STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
# Spark's event-log codecs, by file suffix, and the command that reads each
CODECS = {".zstd": "zstd", ".lz4": "lz4", ".lzf": None, ".snappy": None}


class LogError(Exception):
    """An event log part the tool cannot read."""


def parse(lines):
    """Jobs (by id, in submission order) with their tasks, and the query
    names the log records, from the event log's lines."""
    jobs, stage_job, names = {}, {}, {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {"id": e["Job ID"], "submitted": e["Submission Time"],
                   "done": None, "query": props.get(QUERY_KEY, "-"),
                   "batch": props.get(BATCH_KEY, "-"),
                   "stages": {s["Stage ID"]: s.get("Number of Tasks", 0)
                              for s in e.get("Stage Infos", [])},
                   "stage_names": {s["Stage ID"]: s.get("Stage Name", "-")
                                   for s in e.get("Stage Infos", [])},
                   "tasks": []}
            jobs[job["id"]] = job
            for s in e.get("Stage IDs", []):
                # a stage shared with a later job (a reused shuffle) ran
                # its tasks in the first job that listed it
                stage_job.setdefault(s, job["id"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["done"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is not None:
                job["tasks"].append(task(e))
        elif kind == QUERY_STARTED:
            names[e.get("id")] = e.get("name")
    ordered = sorted(jobs.values(), key=lambda j: (j["submitted"], j["id"]))
    return ordered, names


def event_lines(path):
    """The lines of the event log at `path`, a file or a rolling log's
    directory."""
    if os.path.isdir(path):
        parts = sorted((int(n.split("_")[1]), n) for n in os.listdir(path)
                       if n.startswith("events_"))
        files = [os.path.join(path, n) for _, n in parts]
    else:
        files = [path]
    for name in files:
        yield from part_lines(name)


def part_lines(name):
    """The lines of one event log file, decompressed by its suffix."""
    suffix = os.path.splitext(name)[1]
    if suffix not in CODECS:
        with open(name, encoding="utf-8") as f:
            yield from f
        return
    cmd = CODECS[suffix]
    if cmd is None or shutil.which(cmd) is None:
        raise LogError(f"{name} is {suffix[1:]}-compressed and no "
                       f"{cmd or suffix[1:]} command is on PATH; write the log "
                       "with spark.eventLog.compress=false")
    r = subprocess.run([cmd, "-dc", name], capture_output=True)
    if r.returncode != 0:
        err = r.stderr.decode("utf-8", "replace").strip().splitlines()
        raise LogError(f"{name}: `{cmd} -dc` failed ({err[-1] if err else r.returncode}); "
                       "write the log with spark.eventLog.compress=false")
    yield from r.stdout.decode("utf-8").splitlines(keepends=True)


def task(e):
    info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
    read = (m.get("Input Metrics", {}).get("Records Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0))
    wrote = (m.get("Output Metrics", {}).get("Records Written", 0)
             + m.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0))
    return {"stage": e["Stage ID"], "index": info.get("Index", 0),
            "deser": m.get("Executor Deserialize Time", 0),
            "run": m.get("Executor Run Time", 0), "read": read, "wrote": wrote}


def render(jobs, names):
    # (query, batch) groups in the order their first jobs were submitted
    groups = {}
    for job in jobs:
        groups.setdefault((job["query"], job["batch"]), []).append(job)
    out = []
    for group in groups.values():
        query, batch = group[0]["query"], group[0]["batch"]
        label = query_label(query, names)
        ends = [j["done"] for j in group if j["done"] is not None]
        span = (f"{max(ends) - group[0]['submitted']} ms" if ends else "-")
        out.append(f"{label} batch {batch}: {len(group)} jobs, span {span}")
        prev_done = None
        for job in group:
            wall = (job["done"] - job["submitted"]) if job["done"] is not None else None
            gap = (job["submitted"] - prev_done) if prev_done is not None else None
            stages = " ".join(f"{s}:{n}" for s, n in sorted(job["stages"].items()))
            out.append(f"  job {job['id']}: wall {fmt(wall)} ms, gap {fmt(gap)} ms, "
                       f"stages [{stages}]")
            for t in sorted(job["tasks"], key=lambda t: (t["stage"], t["index"])):
                out.append(f"    stage {t['stage']} task {t['index']}: "
                           f"deser {t['deser']} ms, run {t['run']} ms, "
                           f"read {t['read']}, wrote {t['wrote']}")
            if job["done"] is not None:
                prev_done = job["done"] if prev_done is None else max(prev_done, job["done"])
    return "\n".join(out + medians(groups, names))


def medians(groups, names):
    """One line per (query, stage name, place among the batch's stages of
    that name): the median deserialize and run time of its tasks over all
    the query's batches."""
    stages = {}
    for (query, _), group in groups.items():
        tasks = [t for job in group for t in job["tasks"]]
        stage_names = {}
        for job in group:
            stage_names.update(job["stage_names"])
        by_name = {}
        for sid in sorted({t["stage"] for t in tasks}):
            by_name.setdefault(stage_names.get(sid, "-"), []).append(sid)
        for name, sids in by_name.items():
            for k, sid in enumerate(sids, 1):
                key = (query, name, f"{k}/{len(sids)}")
                stages.setdefault(key, []).extend(t for t in tasks if t["stage"] == sid)
    out = []
    for (query, name, k), tasks in stages.items():
        label = query_label(query, names)
        deser = statistics.median(t["deser"] for t in tasks)
        run = statistics.median(t["run"] for t in tasks)
        out.append(f"median {label} {name} stage {k}: {len(tasks)} tasks, "
                   f"deser {deser:g} ms, run {run:g} ms")
    return out


def query_label(query, names):
    name = names.get(query)
    return f"query {query}" + (f" ({name})" if name else "")


def fmt(v):
    return "-" if v is None else str(v)


def main(argv):
    if len(argv) != 2:
        print("usage: sparktimeline.py EVENTLOG", file=sys.stderr)
        return 2
    try:
        print(render(*parse(event_lines(argv[1]))))
    except LogError as e:
        print(f"sparktimeline: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
