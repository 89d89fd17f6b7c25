"""BENCHMARK.json names exactly the workloads and metrics run.py reports.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class Contract(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)

    def test_end_to_end_metrics(self):
        got = [(m["name"], m["unit"], m["better"]) for m in self.bench["end_to_end"]]
        self.assertEqual(got, run.END_TO_END)
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_per_layer_metrics(self):
        got = [(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]]
        self.assertEqual(got, layers.per_layer_specs())
        self.assertLessEqual(len(got), 128)

    def test_names_are_valid_and_unique(self):
        names = ([w["name"] for w in self.bench["workloads"]]
                 + [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)


if __name__ == "__main__":
    unittest.main()
