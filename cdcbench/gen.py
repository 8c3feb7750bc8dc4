"""Deterministic change-event generator for the CDC benchmark.

Every stream is a pure function of (seed, stream name): the same seed gives
byte-identical files.  Events follow the reference bench payload shape
(a ChangeEvent of roughly 200-500 bytes as JSON) with a monotonically
increasing `cluster_time`; all timestamps fall inside one hour so the
DateHour partition layout has the same shape for every seed.

Files are written under a temporary name and renamed into place, so a file
source listing the directory never admits a torn file.
"""
import bisect
import hashlib
import os
import random

COLLECTIONS = ("users", "orders", "products", "payments",
               "sessions", "reviews", "inventory", "shipments")
DATABASE = "bench"
# 2024-03-01T05:00:00Z; every stream stays well inside this hour
BASE_US = 1709269200 * 1_000_000
SCHEMA_DDL = ("event_id BIGINT, operation STRING, database STRING, "
              "collection STRING, cluster_time TIMESTAMP, document_key STRING, "
              "full_document STRING, update_description STRUCT<updatedFields: "
              "STRING, removedFields: ARRAY<STRING>>, resume_token STRING")
CITIES = ("lisbon", "porto", "milan", "rome", "turin", "naples", "oslo",
          "bergen", "lyon", "lille", "ghent", "leeds")
TAGS = ("new", "vip", "promo", "beta", "churn", "mobile", "web", "eu", "us")


def _rng(seed, stream):
    return random.Random(f"cdcbench:{seed}:{stream}")


def _ts(us):
    secs, frac = divmod(us, 1_000_000)
    m, s = divmod(secs % 86400, 60)
    h, m = divmod(m, 60)
    return f"2024-03-01T{h:02d}:{m:02d}:{s:02d}.{frac:06d}Z"


def _document(rng, key, ts):
    tags = ",".join(f'\\"{t}\\"' for t in rng.sample(TAGS, rng.randint(1, 4)))
    return (f'{{\\"_id\\":\\"{key}\\",\\"name\\":\\"user_{rng.randrange(10**6)}\\",'
            f'\\"email\\":\\"u{rng.randrange(10**7)}@example.com\\",'
            f'\\"age\\":{rng.randint(18, 90)},\\"active\\":{"true" if rng.random() < 0.7 else "false"},'
            f'\\"score\\":{rng.randrange(100000) / 100},\\"tags\\":[{tags}],'
            f'\\"address\\":{{\\"city\\":\\"{rng.choice(CITIES)}\\",\\"zip\\":\\"{rng.randrange(10**5):05d}\\"}},'
            f'\\"updated_at\\":\\"{ts}\\"}}')


def _line(event_id, op, coll, us, key, doc, rng):
    ts = _ts(us)
    full = "null" if doc is None else f'"{doc}"'
    if op == "update":
        upd = (f'{{"updatedFields":"{{\\"age\\":{rng.randint(18, 90)}}}",'
               f'"removedFields":[]}}')
    else:
        upd = "null"
    return (f'{{"event_id":{event_id},"operation":"{op}","database":"{DATABASE}",'
            f'"collection":"{coll}","cluster_time":"{ts}",'
            f'"document_key":"{{\\"_id\\":\\"{key}\\"}}","full_document":{full},'
            f'"update_description":{upd},"resume_token":"82{us:016x}{event_id:08x}"}}')


class Stream:
    """A generated event stream, split into files of `per_file` events.

    `files` holds (name, bytes) in publication order; `tallies` maps each
    collection to its event count; `replica` (key streams only) is the
    last-writer-wins model: collection|document_key -> winning row line."""

    def __init__(self, files, tallies, events, replica=None, deletes=0):
        self.files = files
        self.tallies = tallies
        self.events = events
        self.replica = replica
        self.deletes = deletes


def generate(seed, stream, n_events, per_file, keys=None, first_event_id=0):
    """Events for one stream. `keys=None` draws fresh document keys (append
    workloads); `keys=K` draws from K Zipf-hot keys and tracks the
    last-writer-wins replica, with inserts for absent keys and roughly one
    delete in six."""
    rng = _rng(seed, stream)
    tallies = {c: 0 for c in COLLECTIONS}
    us = BASE_US + rng.randrange(1_000_000)
    cum = None
    if keys is not None:
        acc, cum = 0.0, []
        for r in range(1, keys + 1):
            acc += 1.0 / r
            cum.append(acc)
    live = {}
    replica = {} if keys is not None else None
    deletes = 0
    files, lines = [], []
    for i in range(n_events):
        eid = first_event_id + i
        us += rng.randint(500, 15000)
        if cum is None:
            coll = COLLECTIONS[rng.randrange(len(COLLECTIONS))]
            key = f"{coll}-{rng.randrange(10**9):09d}"
            r = rng.random()
            op = ("insert" if r < 0.40 else "update" if r < 0.75
                  else "replace" if r < 0.85 else "delete")
        else:
            rank = bisect.bisect_left(cum, rng.random() * cum[-1])
            coll = COLLECTIONS[rank % len(COLLECTIONS)]
            key = f"{coll}-{rank:06d}"
            if not live.get(key):
                op = "insert"
            else:
                r = rng.random()
                op = ("delete" if r < 0.22 else "update" if r < 0.85
                      else "replace")
        doc = None if op == "delete" else _document(rng, key, _ts(us))
        lines.append(_line(eid, op, coll, us, key, doc, rng))
        tallies[coll] += 1
        if replica is not None:
            live[key] = op != "delete"
            mk = f"{coll}|{key}"
            if op == "delete":
                deletes += 1
                replica.pop(mk, None)
            else:
                replica[mk] = replica_line(coll, key, eid, op, doc)
        if len(lines) == per_file or i == n_events - 1:
            data = ("\n".join(lines) + "\n").encode()
            files.append((f"part-{len(files):06d}.jsonl", data))
            lines = []
    return Stream(files, tallies, n_events, replica, deletes)


def replica_line(coll, key, event_id, op, doc):
    """Canonical replica row: the same text the benchmark derives from
    `ReplicaTable.read` (JSON string escapes undone)."""
    full = "" if doc is None else doc.replace('\\"', '"')
    return f'{coll}|{{"_id":"{key}"}}|{event_id}|{op}|{full}'


def set_hash(lines):
    """Order-independent 64-bit hash of a multiset of lines."""
    h = 0
    for ln in lines:
        h = (h + int.from_bytes(
            hashlib.blake2b(ln.encode(), digest_size=8).digest(), "big")) % (1 << 64)
    return h


def publish(directory, staging, name, data):
    """Write to a temporary name beside the source, then rename into place."""
    tmp = os.path.join(staging, name + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(directory, name))


def stage(files, directory, staging):
    """Publish (name, bytes) files into directory."""
    os.makedirs(directory, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    for name, data in files:
        publish(directory, staging, name, data)
