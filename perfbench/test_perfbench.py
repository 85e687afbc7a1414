"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py            # all tests
    python3 perfbench/test_perfbench.py -k Inputs  # the fast ones only

`TraceTest` builds the engine and starts one JVM (about a minute).
"""
import os
import shutil
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import f1gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class InputsTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_csv(self):
        a, _ = f1gen.generate(11)
        b, _ = f1gen.generate(11)
        c, _ = f1gen.generate(12)
        self.assertEqual(a.encode(), b.encode())
        self.assertNotEqual(a, c)
        self.assertEqual(a.splitlines()[0].split(","), f1gen.COLUMNS)

    def test_same_seed_gives_same_query_orders(self):
        a, b = workloads.orders(11), workloads.orders(11)
        self.assertEqual(a, b)
        self.assertNotEqual(a, workloads.orders(12))
        for order in a:
            self.assertEqual(sorted(order), sorted(workloads.QUERY_MIX))

    def test_generator_plants_what_the_checks_test(self):
        _, e = f1gen.generate(11)
        planted = e["planted"]
        self.assertGreater(planted["renamed_rows"], 0)
        self.assertGreater(planted["drivers_dropped_for_dob"], 0)
        self.assertGreater(planted["sprints_dropped"], 0)
        self.assertEqual(e["counts"]["Laps"], 1000)
        self.assertLess(e["counts"]["Laps"], planted["rows"])


class TraceTest(unittest.TestCase):
    """Spans see work done on `newSession()` clones and inside streams."""

    CLONE = "q262_aqe_skew_join"   # plans on a `Tuned.session` clone
    STREAM = "q33_stream_hourly"   # a streaming spec

    def test_clone_query_and_streaming_spec_appear_in_the_trace(self):
        _, cp = build.build()
        cfg, work, _, _ = run.prepare("query_mix", 1, 0, True, 2,
                                      orders=[[self.CLONE, self.STREAM]])
        cfg["warmup_passes"] = 0
        try:
            res = run.run_jvm(cp, cfg, work, time.time() + 600)
            self.assertIsNotNone(res, "harness failed")
            self.assertTrue(all(o["ok"] for o in res["ops"]), res["ops"])
            spans = res["spans"]
            kids = {}
            for s in spans:
                kids.setdefault(s["parent"], []).append(s)

            def total(s, k):
                return s["counts"].get(k, 0) + sum(total(c, k)
                                                   for c in kids.get(s["id"], []))
            traced = [s for s in spans if s["parent"] == -1 and s["pass"] == 1]
            by_name = {s["name"]: s for s in traced}
            clone, stream = by_name[self.CLONE], by_name[self.STREAM]
            self.assertGreater(total(clone, "spark.jobs"), 0)
            self.assertGreater(total(clone, "plans.joins.smj"), 0)
            self.assertGreater(total(stream, "streaming.batches"), 0)
            self.assertGreater(total(stream, "spark.jobs"), 0)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
