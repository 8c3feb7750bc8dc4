#!/usr/bin/env python3
"""What a bucketed state table (a replica or an incremental aggregate)
holds on disk, measured against its commit record.

    python3 tools/statetable.py PATH

PATH is the table dir: `PATH/_snapshot` (JSON) is its only commit record.
It names the base's live files (`state/__bucket=<b>/…`, relative to PATH)
and the ids of the pending generations (`gens/gen=<id>/`). Prints one
JSON line:

  - `batch_id`, `n_buckets`: the snapshot's;
  - `base_files`, `base_bytes`: the named base files and their bytes;
  - `generations`: each named generation's id and bytes, and
    `generation_bytes`, their sum;
  - `orphans`: each entry under `state/` and `gens/` the snapshot does not
    name (a base file, or a generation dir), with its bytes, and
    `orphan_bytes`, their sum;
  - `missing`: the named files and generation dirs that do not exist.

Bytes count data files only, by Spark's rule: names starting with `.` or
`_` (checksums, `_SUCCESS`) are not data. Exits 1 when anything named is
missing, 2 on a usage error or an unreadable snapshot.
"""
import json
import os
import sys

FIELDS = ("batchId", "nBuckets", "files", "generations")


def visible(name):
    return not name.startswith(".") and not name.startswith("_")


def data_bytes(root):
    """Bytes of the data files under root (a file or a dir)."""
    if os.path.isfile(root):
        return os.path.getsize(root)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files if visible(f))


def load(path):
    """The snapshot's JSON document; ValueError naming a missing field."""
    snap_file = os.path.join(path, "_snapshot")
    with open(snap_file, encoding="utf-8") as f:
        doc = json.load(f)
    for field in FIELDS:
        if field not in doc:
            raise ValueError(f"{snap_file} has no `{field}` field")
    return doc


def inspect(path):
    """The report dict for the table at path."""
    doc = load(path)
    named = {f for files in doc["files"].values() for f in files}
    gens = sorted(doc["generations"])
    missing = sorted(f for f in named
                     if not os.path.isfile(os.path.join(path, f)))
    missing += [f"gens/gen={g}" for g in gens
                if not os.path.isdir(os.path.join(path, "gens", f"gen={g}"))]
    orphans = []
    state = os.path.join(path, "state")
    for d, _, files in os.walk(state):
        for f in files:
            rel = os.path.relpath(os.path.join(d, f), path)
            if visible(f) and rel not in named:
                orphans.append(rel)
    gens_dir = os.path.join(path, "gens")
    if os.path.isdir(gens_dir):
        live = {f"gen={g}" for g in gens}
        orphans += [os.path.join("gens", e) for e in os.listdir(gens_dir)
                    if visible(e) and e not in live]
    orphans = [{"path": o, "bytes": data_bytes(os.path.join(path, o))}
               for o in sorted(orphans)]
    generations = [{"id": g,
                    "bytes": data_bytes(os.path.join(gens_dir, f"gen={g}"))}
                   for g in gens]
    return {
        "path": path,
        "batch_id": doc["batchId"],
        "n_buckets": doc["nBuckets"],
        "base_files": len(named),
        "base_bytes": sum(data_bytes(os.path.join(path, f))
                          for f in named if f not in missing),
        "generations": generations,
        "generation_bytes": sum(g["bytes"] for g in generations),
        "orphans": orphans,
        "orphan_bytes": sum(o["bytes"] for o in orphans),
        "missing": missing,
    }


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    try:
        report = inspect(argv[1])
    except (OSError, ValueError) as e:
        print(f"statetable: {e}", file=sys.stderr)
        return 2
    print(json.dumps(report))
    return 1 if report["missing"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
