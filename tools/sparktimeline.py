#!/usr/bin/env python3
"""Per-batch job and task timeline of a Spark event log.

    python3 tools/sparktimeline.py EVENTLOG

EVENTLOG is an uncompressed Spark event log: one JSON event per line, as
written with `spark.eventLog.enabled=true` and
`spark.eventLog.compress=false`. It is a file, or a rolling log's
directory (`eventlog_v2_<app id>`, Spark 4's default) whose
`events_<n>_<app id>` files are read in order of n. A cdcbench run writes
one log per SparkSession without any code change:

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
Times are milliseconds. Exits 2 on a usage error.
"""
import json
import os
import sys

QUERY_KEY = "sql.streaming.queryId"
BATCH_KEY = "streaming.sql.batchId"
QUERY_STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"


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
        with open(name, encoding="utf-8") as f:
            yield from f


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
        name = names.get(query)
        label = f"query {query}" + (f" ({name})" if name else "")
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
    return "\n".join(out)


def fmt(v):
    return "-" if v is None else str(v)


def main(argv):
    if len(argv) != 2:
        print("usage: sparktimeline.py EVENTLOG", file=sys.stderr)
        return 2
    print(render(*parse(event_lines(argv[1]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
