#!/usr/bin/env python3
"""Diff two graft.PlanDump output directories.

    python3 tools/plandiff.py DIR_A DIR_B

PlanDump writes one `<query>_<tag>.txt` per catalog entry; files pair up
by query name (the tag, the text after the last underscore, may differ
between the two directories). Before comparing, each plan is normalised
so that run-to-run noise does not count as a difference:

  - expression ids  `#123`            -> `#N`
  - RDD ids         `MapPartitionsRDD[878]` -> `MapPartitionsRDD[N]`
  - plan ids        `plan_id=42`      -> `plan_id=N`
  - call sites      `at CdcPipeline.scala:325` -> `at CdcPipeline.scala:N`
  - temp paths      `/tmp/...`, `/var/folders/...` -> `<tmp>`
  - UUIDs           -> `<uuid>`
  - runtime stage statistics `Statistics(sizeInBytes=..., rowCount=...)`
                    -> `Statistics(N)` (AQE measures them as it runs)
  - observation ids `CollectMetrics <uuid>, [...], 3845` -> `..., N`
  - compaction scratch dirs `.compact-tmp/1f2be7` -> `.compact-tmp/<tmp>`
  - object identity hashes `[[[F@55326912`, `Foo$$Lambda$97/0x7fc1@43ab7ca`
                    -> `[[[F@<obj>`, `Foo$$Lambda@<obj>`
  - the dumping checkout's output root, named on the dump's first line
    (`OutRoot: <dir>`)  -> `<outRoot>`, so dumps from two checkouts
    compare

Prints a unified diff per differing query. Exits 1 when any plan
differs or a query is dumped in one directory only, 0 otherwise.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"(file:)?/(tmp|var/folders)/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"Statistics\(sizeInBytes=[^)]*\)"), "Statistics(N)"),
    (re.compile(r"(CollectMetrics .*), \d+$", re.M), r"\1, N"),
    (re.compile(r"\.compact-tmp/[0-9a-f]+"), ".compact-tmp/<tmp>"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"(?<=[\w;$])@[0-9a-f]+\b"), "@<obj>"),
]


def normalise(text):
    first = text.split("\n", 1)[0]
    if first.startswith("OutRoot: "):
        text = text.replace(first[len("OutRoot: "):], "<outRoot>")
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def plans(directory):
    out = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt") and "_" in name:
            query = name[:-len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(directory, name), encoding="utf-8") as f:
                out[query] = normalise(f.read())
    return out


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/plandiff.py DIR_A DIR_B", file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    unpaired = sorted(set(a) ^ set(b))
    for query in unpaired:
        print(f"only in {argv[1] if query in a else argv[2]}: {query}")
    common = sorted(set(a) & set(b))
    differing = [q for q in common if a[q] != b[q]]
    for query in differing:
        sys.stdout.writelines(difflib.unified_diff(
            a[query].splitlines(keepends=True),
            b[query].splitlines(keepends=True),
            fromfile=f"{argv[1]}/{query}", tofile=f"{argv[2]}/{query}"))
    print(f"plandiff: {len(common) - len(differing)} identical, "
          f"{len(differing)} differing, {len(unpaired)} unpaired")
    return 1 if differing or unpaired else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
