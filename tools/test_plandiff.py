#!/usr/bin/env python3
"""Unit tests for tools/plandiff.py: each normalisation rule, the pairing
of dump files by query name, and the exit codes.

    python3 -m unittest tools/test_plandiff.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plandiff  # noqa: E402


class NormaliseTest(unittest.TestCase):

    def assertNormal(self, raw, want):
        self.assertEqual(plandiff.normalise(raw), want)

    def test_uuid(self):
        self.assertNormal("id 123e4567-e89b-12d3-a456-426614174000 end",
                          "id <uuid> end")

    def test_temp_paths(self):
        self.assertNormal("Location: file:/tmp/spark-1/x.parquet, next",
                          "Location: <tmp>, next")
        self.assertNormal("at /var/folders/ab/cd]", "at <tmp>]")

    def test_expression_ids(self):
        self.assertNormal("Project [k#123L, p#7]", "Project [k#NL, p#N]")

    def test_rdd_ids(self):
        self.assertNormal("MapPartitionsRDD[878] at", "MapPartitionsRDD[N] at")

    def test_plan_ids(self):
        self.assertNormal("plan_id=42", "plan_id=N")

    def test_call_sites(self):
        self.assertNormal("at CdcPipeline.scala:325", "at CdcPipeline.scala:N")

    def test_runtime_statistics(self):
        self.assertNormal("Statistics(sizeInBytes=1.2 KiB, rowCount=5)",
                          "Statistics(N)")

    def test_collect_metrics_id(self):
        self.assertNormal("CollectMetrics abc, [count(1) AS n#1L], 3845\nnext",
                          "CollectMetrics abc, [count(1) AS n#NL], N\nnext")

    def test_compaction_scratch_dirs(self):
        self.assertNormal("x/.compact-tmp/1f2be7/y", "x/.compact-tmp/<tmp>/y")

    def test_identity_hashes(self):
        self.assertNormal("[[[F@55326912", "[[[F@<obj>")
        self.assertNormal("Foo$$Lambda$97/0x7fc1@43ab7ca",
                          "Foo$$Lambda@<obj>")

    def test_output_root_from_first_line(self):
        self.assertNormal("OutRoot: /data/a/target\nscan /data/a/target/x",
                          "OutRoot: <outRoot>\nscan <outRoot>/x")

    def test_no_output_root_line_leaves_paths(self):
        self.assertNormal("scan /data/a/target/x", "scan /data/a/target/x")

    def test_two_checkouts_compare_equal(self):
        a = "OutRoot: /x/parent/target\nProject [k#1L] /x/parent/target/f"
        b = "OutRoot: /x/change/target\nProject [k#9L] /x/change/target/f"
        self.assertEqual(plandiff.normalise(a), plandiff.normalise(b))


class MainTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.mkdir(self.a)
        os.mkdir(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def dump(self, directory, name, text):
        with open(os.path.join(directory, name), "w", encoding="utf-8") as f:
            f.write(text)

    def run_main(self, *argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            code = plandiff.main(["plandiff.py", *argv])
        return code, out.getvalue()

    def test_identical_after_normalisation_exits_0(self):
        # pairs by query name: the tag after the last underscore differs
        self.dump(self.a, "agg_meta_profile_parent.txt", "Project [k#1L]\n")
        self.dump(self.b, "agg_meta_profile_change.txt", "Project [k#2L]\n")
        code, out = self.run_main(self.a, self.b)
        self.assertEqual(code, 0)
        self.assertIn("1 identical, 0 differing, 0 unpaired", out)

    def test_difference_exits_1_with_a_diff(self):
        self.dump(self.a, "q1_a.txt", "Filter (k#1L >= 30)\n")
        self.dump(self.b, "q1_b.txt", "Filter (k#1L > 30)\n")
        code, out = self.run_main(self.a, self.b)
        self.assertEqual(code, 1)
        self.assertIn("-Filter (k#NL >= 30)", out)
        self.assertIn("+Filter (k#NL > 30)", out)
        self.assertIn("0 identical, 1 differing, 0 unpaired", out)

    def test_unpaired_query_exits_1(self):
        self.dump(self.a, "q1_a.txt", "x\n")
        self.dump(self.a, "q2_a.txt", "y\n")
        self.dump(self.b, "q1_b.txt", "x\n")
        code, out = self.run_main(self.a, self.b)
        self.assertEqual(code, 1)
        self.assertIn(f"only in {self.a}: q2", out)
        self.assertIn("1 identical, 0 differing, 1 unpaired", out)

    def test_non_dump_files_are_ignored(self):
        self.dump(self.a, "q1_a.txt", "x\n")
        self.dump(self.b, "q1_b.txt", "x\n")
        self.dump(self.b, "notes.md", "anything")
        self.dump(self.b, "nounderscore.txt", "anything")
        code, _ = self.run_main(self.a, self.b)
        self.assertEqual(code, 0)

    def test_wrong_arity_exits_2(self):
        code, _ = self.run_main(self.a)
        self.assertEqual(code, 2)


if __name__ == "__main__":
    unittest.main()
