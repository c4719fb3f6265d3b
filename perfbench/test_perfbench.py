"""Tests of the benchmark's own code: input determinism and summary parsing.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import re
import tempfile
import unittest

import gen
import run


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    QUERIES = ["ft_dist", "rel_q1", "pipe_pack", "sim_knn_graph"]

    def gen(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return digest(gen.generate(workload, seed, d, self.QUERIES))

    def test_same_seed_gives_identical_bytes(self):
        for w in ("forget_table", "suite"):
            with self.subTest(workload=w):
                self.assertEqual(self.gen(w, 7), self.gen(w, 7))

    def test_other_seed_gives_other_bytes(self):
        for w in ("forget_table", "suite"):
            with self.subTest(workload=w):
                self.assertNotEqual(self.gen(w, 7), self.gen(w, 8))

    def test_reads_and_increments_never_share_a_tick(self):
        seen = set()
        for b, tick, op, d, _, _, _ in gen.ingest_rows(3):
            self.assertEqual(tick % 2 == 1, op != "incr", (b, tick, op))
            if op != "incr":
                self.assertNotIn((d, tick), seen, "two reads of one dist on one tick")
                seen.add((d, tick))


class SummaryParses(unittest.TestCase):
    """The summary survives the three ways a reader may pull it from stdout."""

    SUMMARY = {"correct": True, "attempted": 12, "failed": 0,
               "metrics": {"op_p50_s": {"value": 0.123456789, "unit": "s"}}}
    LINES = ["workload forget_table seed 1 trace 0: 12 ops",
             "[info] check: store rows {dist: 3} and a stray }",
             "detail: {'a': 1}"]

    def text(self):
        return run.render(self.LINES, self.SUMMARY)

    def test_last_line(self):
        self.assertEqual(json.loads(self.text().strip().splitlines()[-1]), self.SUMMARY)

    def test_line_scan(self):
        found = [json.loads(ln) for ln in self.text().splitlines() if ln.startswith("{")]
        self.assertEqual(found, [self.SUMMARY])

    def test_brace_slice(self):
        t = self.text()
        self.assertEqual(json.loads(t[t.index("{"):t.rindex("}") + 1]), self.SUMMARY)

    def test_no_sbt_prefix(self):
        self.assertFalse(re.search(r"^\[\w+\] \{", self.text(), re.M))

    def test_summarize_keeps_every_metric_with_its_unit(self):
        spec = {"end_to_end": [{"name": "setup_s", "unit": "s"},
                               {"name": "op_p50_s", "unit": "s"}],
                "per_layer": [{"name": "engine.jobs", "unit": "count"}]}
        result = {"correct": True, "attempted": 5, "failed": 0,
                  "end_to_end": {"setup_s": 1.5, "op_p50_s": 0.25},
                  "per_layer": {"engine.jobs": 7}}
        s = run.summarize(result, spec, trace=0)
        self.assertEqual(s["metrics"], {"setup_s": {"value": 1.5, "unit": "s"},
                                        "op_p50_s": {"value": 0.25, "unit": "s"}})
        self.assertEqual(run.summarize(result, spec, trace=1)["metrics"],
                         {"engine.jobs": {"value": 7.0, "unit": "count"}})
        with self.assertRaises(run.BenchError):
            run.summarize(dict(result, end_to_end={"setup_s": 1.0}), spec, trace=0)

    def test_spec_names_every_metric_once(self):
        with open(run.SPEC) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)


if __name__ == "__main__":
    unittest.main()
