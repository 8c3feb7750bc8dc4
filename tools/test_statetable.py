#!/usr/bin/env python3
"""Unit tests for tools/statetable.py on synthetic state-table trees built
in a temp dir (no Spark needed).

    python3 -m unittest tools/test_statetable.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import statetable  # noqa: E402

BASE = ["state/__bucket=0/part-a.parquet", "state/__bucket=1/part-b.parquet"]


def run_main(*argv):
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        code = statetable.main(["statetable.py", *argv])
    return code, out.getvalue(), err.getvalue()


class StateTableTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.path = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, rel, size):
        p = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"x" * size)

    def snapshot(self, **drop):
        doc = {"batchId": 9, "nBuckets": 4, "keyCols": ["k"],
               "versionCols": ["v"], "schema": "k BIGINT, v BIGINT",
               "files": {"0": BASE[:1], "1": BASE[1:]},
               "generations": [8, 9]}
        for k in drop:
            del doc[k]
        with open(os.path.join(self.path, "_snapshot"), "w") as f:
            json.dump(doc, f)

    def clean_table(self):
        """Two named base files, two named generations, and the markers
        and checksums a Hadoop write leaves, which are not data."""
        self.snapshot()
        self.write(BASE[0], 100)
        self.write(BASE[1], 200)
        self.write("state/__bucket=0/.part-a.parquet.crc", 12)
        self.write("state/_SUCCESS", 0)
        self.write("gens/gen=8/part-g8.parquet", 30)
        self.write("gens/gen=9/part-g9a.parquet", 40)
        self.write("gens/gen=9/part-g9b.parquet", 5)
        self.write("gens/_SUCCESS", 0)

    def test_clean_table(self):
        self.clean_table()
        code, out, _ = run_main(self.path)
        self.assertEqual(code, 0)
        r = json.loads(out)
        self.assertEqual((r["batch_id"], r["n_buckets"]), (9, 4))
        self.assertEqual((r["base_files"], r["base_bytes"]), (2, 300))
        self.assertEqual(r["generations"],
                         [{"id": 8, "bytes": 30}, {"id": 9, "bytes": 45}])
        self.assertEqual(r["generation_bytes"], 75)
        self.assertEqual((r["orphans"], r["orphan_bytes"], r["missing"]),
                         ([], 0, []))
        self.assertEqual(out.count("\n"), 1)

    def test_orphans_are_listed_with_their_bytes(self):
        self.clean_table()
        # a superseded base file and two absorbed generations
        self.write("state/__bucket=1/part-old.parquet", 70)
        self.write("gens/gen=3/part-g3.parquet", 11)
        self.write("gens/gen=7/part-g7.parquet", 13)
        code, out, _ = run_main(self.path)
        self.assertEqual(code, 0)
        r = json.loads(out)
        self.assertEqual(r["orphans"], [
            {"path": "gens/gen=3", "bytes": 11},
            {"path": "gens/gen=7", "bytes": 13},
            {"path": "state/__bucket=1/part-old.parquet", "bytes": 70}])
        self.assertEqual(r["orphan_bytes"], 94)
        self.assertEqual((r["base_bytes"], r["generation_bytes"]), (300, 75))

    def test_missing_named_file_exits_1(self):
        self.clean_table()
        os.remove(os.path.join(self.path, BASE[1]))
        code, out, _ = run_main(self.path)
        self.assertEqual(code, 1)
        r = json.loads(out)
        self.assertEqual(r["missing"], [BASE[1]])
        self.assertEqual(r["base_bytes"], 100)

    def test_missing_named_generation_exits_1(self):
        self.clean_table()
        os.remove(os.path.join(self.path, "gens/gen=8/part-g8.parquet"))
        os.rmdir(os.path.join(self.path, "gens/gen=8"))
        code, out, _ = run_main(self.path)
        self.assertEqual(code, 1)
        self.assertEqual(json.loads(out)["missing"], ["gens/gen=8"])

    def test_no_generations_dir(self):
        self.snapshot()
        with open(os.path.join(self.path, "_snapshot")) as f:
            doc = json.load(f)
        doc["generations"] = []
        with open(os.path.join(self.path, "_snapshot"), "w") as f:
            json.dump(doc, f)
        self.write(BASE[0], 1)
        self.write(BASE[1], 2)
        code, out, _ = run_main(self.path)
        self.assertEqual(code, 0)
        r = json.loads(out)
        self.assertEqual((r["generations"], r["orphans"]), ([], []))

    def test_snapshot_without_a_field_is_refused_by_name(self):
        for field in ("generations", "files"):
            self.snapshot(**{field: True})
            code, out, err = run_main(self.path)
            self.assertEqual(code, 2)
            self.assertEqual(out, "")
            self.assertIn(f"`{field}`", err)

    def test_usage_errors(self):
        self.assertEqual(run_main()[0], 2)
        code, _, err = run_main(self.path)  # no _snapshot
        self.assertEqual(code, 2)
        self.assertIn("_snapshot", err)


if __name__ == "__main__":
    unittest.main()
