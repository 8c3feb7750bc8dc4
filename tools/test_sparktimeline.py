#!/usr/bin/env python3
"""Unit tests for tools/sparktimeline.py on the checked-in event log
tools/testdata/sparktimeline-eventlog.json (one job outside any query,
then a streaming query's batches 3, 4 and 10).

    python3 -m unittest tools/test_sparktimeline.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

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
        heads = [ln for ln in self.lines if not ln.startswith(" ")]
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
