"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s cdcbench -p 'test_*.py'
"""
import json
import os
import random
import tempfile
import unittest

import analyze
import gen


class PercentileRule(unittest.TestCase):
    def test_ladder_picks_highest_with_ten_beyond(self):
        self.assertEqual(analyze.tail_percentile(100), 90.0)
        self.assertEqual(analyze.tail_percentile(1000), 99.0)
        self.assertEqual(analyze.tail_percentile(480), 97.5)
        self.assertEqual(analyze.tail_percentile(20), 50.0)
        with self.assertRaises(ValueError):
            analyze.tail_percentile(19)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        rng = random.Random(7)
        for n in (20, 57, 100, 150, 480, 1000, 2500):
            xs = [rng.random() for _ in range(n)]
            v = analyze.percentile(xs, analyze.tail_percentile(n))
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)

    def test_nearest_rank(self):
        self.assertEqual(analyze.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(analyze.percentile(range(1, 101), 99), 99)
        self.assertEqual(analyze.percentile([7], 99.9), 7)


class CompactLogAttribution(unittest.TestCase):
    def test_compact_log_counts_only_what_earlier_logs_lack(self):
        logs = [(0, False, [{"path": "a"}]),
                (1, False, [{"path": "b"}, {"path": "c"}]),
                (2, True, [{"path": "a"}, {"path": "b"}, {"path": "c"}, {"path": "d"}]),
                (3, False, [{"path": "e"}])]
        self.assertEqual(analyze.attribute_batches(logs),
                         {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3})

    def test_entry_batch_id_wins_over_log_position(self):
        logs = [(9, True, [{"path": "a", "batchId": 0}, {"path": "b", "batchId": 7},
                           {"path": "c", "batchId": 9}])]
        self.assertEqual(analyze.attribute_batches(logs), {"a": 0, "b": 7, "c": 9})

    def test_reads_a_checkpoint_source_log(self):
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "sources", "0")
            os.makedirs(src)
            com = os.path.join(d, "commits")
            os.makedirs(com)

            def log(name, paths):
                with open(os.path.join(src, name), "w") as f:
                    f.write("v1\n" + "\n".join(json.dumps({"path": f"file:///in/{p}"})
                                               for p in paths))
            log("0", ["f0"])
            log("1", ["f1", "f2"])
            log("2.compact", ["f0", "f1", "f2", "f3"])
            for b in (0, 1, 2):
                open(os.path.join(com, str(b)), "w").close()
                os.utime(os.path.join(com, str(b)), ns=(0, (100 + b) * 10**9))
            open(os.path.join(com, ".2.crc"), "w").close()
            self.assertEqual(analyze.source_batches(d),
                             {"f0": 0, "f1": 1, "f2": 1, "f3": 2})
            fresh = analyze.freshness(d, {"f1": 95.0, "f3": 100.5})
            self.assertEqual(sorted(fresh), [1.5, 6.0])


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        a = gen.generate(3, "backlog", 2000, 100)
        b = gen.generate(3, "backlog", 2000, 100)
        c = gen.generate(4, "backlog", 2000, 100)
        self.assertEqual(a.files, b.files)
        self.assertNotEqual(a.files, c.files)
        self.assertEqual(sum(a.tallies.values()), 2000)
        self.assertEqual(len(a.files), 20)

    def test_events_parse_and_time_increases(self):
        s = gen.generate(5, "drain", 1000, 100)
        rows = [json.loads(ln) for _, d in s.files for ln in d.decode().splitlines()]
        self.assertEqual([r["event_id"] for r in rows], list(range(1000)))
        ts = [r["cluster_time"] for r in rows]
        self.assertEqual(ts, sorted(ts))
        self.assertEqual(len(set(ts)), len(ts))
        for r in rows:
            if r["full_document"] is not None:
                json.loads(r["full_document"])

    def test_replica_model_is_last_writer_wins(self):
        s = gen.generate(6, "replica", 5000, 100, keys=300)
        last = {}
        for _, d in s.files:
            for ln in d.decode().splitlines():
                r = json.loads(ln)
                k = f'{r["collection"]}|{r["document_key"]}'
                if k not in last or (r["cluster_time"], r["event_id"]) > last[k][0]:
                    last[k] = ((r["cluster_time"], r["event_id"]), r)
        want = sorted(f'{r["collection"]}|{r["document_key"]}|{r["event_id"]}|'
                      f'{r["operation"]}|{r["full_document"] or ""}'
                      for _, r in last.values() if r["operation"] != "delete")
        self.assertEqual(sorted(s.replica.values()), want)
        self.assertTrue(0.1 < s.deletes / s.events < 0.25)
        self.assertEqual(gen.set_hash(want), gen.set_hash(list(reversed(want))))

    def test_publish_leaves_no_partial_file(self):
        with tempfile.TemporaryDirectory() as d:
            src, staging = os.path.join(d, "src"), os.path.join(d, "staging")
            gen.stage(gen.generate(1, "x", 300, 100).files, src, staging)
            self.assertEqual(sorted(os.listdir(src)),
                             ["part-000000.jsonl", "part-000001.jsonl", "part-000002.jsonl"])
            self.assertEqual(os.listdir(staging), [])


class SpecConsistency(unittest.TestCase):
    def test_layer_map_covers_every_per_layer_metric(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(here, "layers.json")) as f:
            layers = json.load(f)
        mapped = {m for l in layers["layers"] for mv in l["moves"] for m in mv["metrics"]}
        self.assertEqual(mapped, {m["name"] for m in spec["per_layer"]})
        self.assertEqual(set(layers["end_to_end"]), {m["name"] for m in spec["end_to_end"]})
        for name, t in layers["freshness_tail"].items():
            self.assertEqual(analyze.tail_percentile(t["min_samples"]), t["percentile"], name)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [{"id": "r", "parent": None, "start": 0, "end": 100},
                 {"id": "a", "parent": "r", "start": 10, "end": 30},
                 {"id": "b", "parent": "r", "start": 20, "end": 50},
                 {"id": "c", "parent": "r", "start": 90, "end": 120},
                 {"id": "g", "parent": "a", "start": 12, "end": 18}]
        st = analyze.self_times(spans)
        self.assertEqual(st["r"], 100 - 40 - 10)
        self.assertEqual(st["a"], 14)
        self.assertEqual(st["b"], 30)
        self.assertEqual(st["g"], 6)

    def test_trigger_phases_account_for_the_trigger(self):
        progress = [{"query_id": "q", "batch_id": 4, "timestamp_ms": 1000,
                     "duration_ms": {"triggerExecution": 500, "latestOffset": 20,
                                     "walCommit": 30, "getBatch": 10,
                                     "queryPlanning": 40, "addBatch": 300,
                                     "commitOffsets": 50}}]
        deco = [{"name": "destination.writeBatch", "query_id": "q", "batch_id": 4,
                 "start_us": 1_110_000, "end_us": 1_300_000},
                {"name": "destination.flush", "query_id": "q", "batch_id": 4,
                 "start_us": 1_300_000, "end_us": 1_310_000}]
        jobs = [{"job_id": 1, "query_id": "q", "batch_id": 4, "start_ms": 1150,
                 "end_ms": 1250}]
        spans = analyze.build_spans(progress, deco, jobs)
        st = analyze.self_times(spans)
        self.assertEqual(st["q:4"], 500 - (20 + 30 + 10 + 40 + 300 + 50))
        self.assertAlmostEqual(st["q:4/addBatch"], 300 - 200)
        self.assertAlmostEqual(st["q:4/destination.writeBatch#0"], 190 - 100)
        job = next(s for s in spans if s["name"] == "spark.job")
        self.assertEqual(job["parent"], "q:4/destination.writeBatch#0")


if __name__ == "__main__":
    unittest.main()
