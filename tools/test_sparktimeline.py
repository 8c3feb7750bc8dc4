#!/usr/bin/env python3
"""Unit tests for tools/sparktimeline.py on the checked-in event log
tools/testdata/sparktimeline-eventlog.json (one job outside any query,
then a streaming query's batches 3, 4 and 10).

    python3 -m unittest tools/test_sparktimeline.py
"""
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import sparktimeline  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "sparktimeline-eventlog.json")
QUERY = "5f1c2e3a-0b4d-4c6e-8f10-2a3b4c5d6e7f"


def run_main(*argv):
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        code = sparktimeline.main(["sparktimeline.py", *argv])
    return code, out.getvalue(), err.getvalue()


class ParseTest(unittest.TestCase):

    def setUp(self):
        with open(FIXTURE, encoding="utf-8") as f:
            self.jobs, self.names = sparktimeline.parse(f)
        self.by_id = {j["id"]: j for j in self.jobs}

    def test_jobs_carry_query_and_batch(self):
        self.assertEqual([(j["id"], j["query"], j["batch"]) for j in self.jobs],
                         [(0, "-", "-"), (1, QUERY, "3"), (2, QUERY, "3"),
                          (3, QUERY, "4"), (4, QUERY, "10")])

    def test_query_name_from_started_event(self):
        self.assertEqual(self.names, {QUERY: "replica"})

    def test_skipped_stage_tasks_stay_with_the_job_that_ran_them(self):
        # job 2 lists the shuffle-map stage 1 of job 1 as skipped
        self.assertEqual([t["stage"] for t in self.by_id[1]["tasks"]], [1, 1])
        self.assertEqual([t["stage"] for t in self.by_id[2]["tasks"]], [2])

    def test_task_records_sum_input_and_shuffle(self):
        t = self.by_id[2]["tasks"][0]
        self.assertEqual((t["deser"], t["run"], t["read"], t["wrote"]),
                         (18, 25, 220, 200))
        t = self.by_id[1]["tasks"][1]
        self.assertEqual((t["read"], t["wrote"]), (120, 120))


class RenderTest(unittest.TestCase):

    def setUp(self):
        code, self.out, _ = run_main(FIXTURE)
        self.assertEqual(code, 0)
        self.lines = self.out.splitlines()

    def test_batches_in_submission_order(self):
        heads = [ln for ln in self.lines if ln.startswith("query ")]
        self.assertEqual(heads, [
            "query - batch -: 1 jobs, span 50 ms",
            f"query {QUERY} (replica) batch 3: 2 jobs, span 95 ms",
            f"query {QUERY} (replica) batch 4: 1 jobs, span 52 ms",
            f"query {QUERY} (replica) batch 10: 1 jobs, span 10 ms"])

    def test_wall_time_and_driver_gap(self):
        self.assertIn("  job 1: wall 30 ms, gap - ms, stages [1:2]", self.lines)
        # submitted at 2045, 15 ms after job 1 completed
        self.assertIn("  job 2: wall 50 ms, gap 15 ms, stages [1:2 2:1]",
                      self.lines)
        # the first job of a batch has no gap
        self.assertIn("  job 3: wall 52 ms, gap - ms, stages [3:3]", self.lines)

    def test_one_line_per_task(self):
        i = self.lines.index("  job 3: wall 52 ms, gap - ms, stages [3:3]")
        self.assertEqual(self.lines[i + 1:i + 4], [
            "    stage 3 task 0: deser 15 ms, run 24 ms, read 1666, wrote 1666",
            "    stage 3 task 1: deser 16 ms, run 21 ms, read 1700, wrote 1700",
            "    stage 3 task 2: deser 17 ms, run 29 ms, read 1634, wrote 1634"])


class MedianTest(unittest.TestCase):

    @staticmethod
    def renamed(stages):
        """The fixture's lines with the stages `stages` maps renamed."""
        lines = []
        with open(FIXTURE, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                for info in e.get("Stage Infos", []):
                    info["Stage Name"] = stages.get(info["Stage ID"], info["Stage Name"])
                lines.append(json.dumps(e))
        return sparktimeline.render(*sparktimeline.parse(lines)).splitlines()

    def test_one_median_line_per_query_and_stage(self):
        _, out, _ = run_main(FIXTURE)
        self.assertEqual([ln for ln in out.splitlines() if ln.startswith("median")], [
            "median query - run at Fixture.scala:1 stage 1/1: 1 tasks, "
            "deser 30 ms, run 12 ms",
            # batch 3 ran two stages of one name, batches 4 and 10 one each
            f"median query {QUERY} (replica) run at Fixture.scala:1 stage 1/2: "
            "2 tasks, deser 3.5 ms, run 21 ms",
            f"median query {QUERY} (replica) run at Fixture.scala:1 stage 2/2: "
            "1 tasks, deser 18 ms, run 25 ms",
            f"median query {QUERY} (replica) run at Fixture.scala:1 stage 1/1: "
            "4 tasks, deser 15.5 ms, run 22.5 ms"])

    def test_a_stage_with_another_call_site_is_listed_apart(self):
        lines = self.renamed({4: "BucketedStateTable.compact"})
        self.assertIn(f"median query {QUERY} (replica) BucketedStateTable.compact "
                      "stage 1/1: 1 tasks, deser 2 ms, run 5 ms", lines)
        self.assertIn(f"median query {QUERY} (replica) run at Fixture.scala:1 "
                      "stage 1/1: 3 tasks, deser 16 ms, run 24 ms", lines)

    def test_a_named_stage_pools_over_batches_of_other_shapes(self):
        # the write is the second stage of batch 3 and the only one of
        # batch 4: its name, not its position, makes it one stage
        lines = self.renamed({2: "FileDestination.writeBatch",
                              3: "FileDestination.writeBatch"})
        self.assertEqual([ln for ln in lines if ln.startswith(f"median query {QUERY}")], [
            f"median query {QUERY} (replica) run at Fixture.scala:1 stage 1/1: "
            "3 tasks, deser 3 ms, run 20 ms",
            f"median query {QUERY} (replica) FileDestination.writeBatch stage 1/1: "
            "4 tasks, deser 16.5 ms, run 24.5 ms"])


class CompressedTest(unittest.TestCase):

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.rolling = os.path.join(tmp.name, "eventlog_v2_local-1")
        os.mkdir(self.rolling)

    def part(self, suffix, data):
        name = os.path.join(self.rolling, f"events_1_local-1{suffix}")
        with open(name, "wb") as f:
            f.write(data)
        return name

    @unittest.skipUnless(shutil.which("zstd"), "needs the zstd command")
    def test_zstd_part_reads_like_the_plain_log(self):
        with open(FIXTURE, "rb") as f:
            packed = subprocess.run(["zstd", "-c"], input=f.read(),
                                    capture_output=True, check=True).stdout
        self.part(".zstd", packed)
        self.assertEqual(run_main(self.rolling)[:2], run_main(FIXTURE)[:2])

    def test_missing_command_exits_2_naming_the_part(self):
        name = self.part(".zstd", b"\x28\xb5\x2f\xfd")
        with mock.patch.object(sparktimeline.shutil, "which", return_value=None):
            code, out, err = run_main(self.rolling)
        self.assertEqual((code, out), (2, ""))
        self.assertIn(name, err)
        self.assertIn("spark.eventLog.compress=false", err)

    def test_codec_without_a_command_exits_2(self):
        name = self.part(".snappy", b"\x00")
        code, out, err = run_main(self.rolling)
        self.assertEqual((code, out), (2, ""))
        self.assertIn(name, err)

    @unittest.skipUnless(shutil.which("zstd"), "needs the zstd command")
    def test_unreadable_part_exits_2_naming_the_part(self):
        name = self.part(".zstd", b"not a zstd frame")
        code, out, err = run_main(self.rolling)
        self.assertEqual((code, out), (2, ""))
        self.assertIn(name, err)
        self.assertIn("spark.eventLog.compress=false", err)


class MainTest(unittest.TestCase):

    def test_rolling_log_directory_reads_its_parts_in_order(self):
        with open(FIXTURE, encoding="utf-8") as f:
            lines = f.readlines()
        with tempfile.TemporaryDirectory() as d:
            rolling = os.path.join(d, "eventlog_v2_local-1")
            os.mkdir(rolling)
            # part 10 sorts before part 2 as text
            for n, part in ((2, lines[:5]), (10, lines[5:])):
                name = os.path.join(rolling, f"events_{n}_local-1")
                with open(name, "w", encoding="utf-8") as f:
                    f.writelines(part)
            with open(os.path.join(rolling, "appstatus_local-1"), "w"):
                pass
            self.assertEqual(run_main(rolling)[:2], run_main(FIXTURE)[:2])

    def test_wrong_arity_exits_2(self):
        code, out, err = run_main()
        self.assertEqual(code, 2)
        self.assertEqual(out, "")
        self.assertIn("usage", err)


if __name__ == "__main__":
    unittest.main()
