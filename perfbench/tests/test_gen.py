"""The seeded generator: the same seed gives byte-identical inputs, another
seed gives other inputs, and the inputs have the shape the workloads need.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def tree(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")
        cls.a, cls.b, cls.c = (os.path.join(cls.tmp, x) for x in "abc")
        gen.generate(11, cls.a)
        gen.generate(11, cls.b)
        gen.generate(12, cls.c)
        with open(os.path.join(cls.a, "plan.json"), encoding="utf-8") as f:
            cls.plan = json.load(f)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_same_seed_gives_byte_identical_inputs(self):
        files = tree(self.a)
        self.assertEqual(files, tree(self.b))
        match, mismatch, errors = filecmp.cmpfiles(self.a, self.b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(len(match), len(files))

    def test_other_seed_gives_other_inputs(self):
        _, mismatch, _ = filecmp.cmpfiles(self.a, self.c, ["plan.json",
                                          "tables/lineitem.parquet"], shallow=False)
        self.assertEqual(len(mismatch), 2)

    def test_olap_order_permutes_every_entry(self):
        self.assertEqual(sorted(self.plan["olap_order"]), sorted(gen.OLAP_ENTRIES))

    def test_rounds_keep_the_corpus_stationary(self):
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(self.a, "stream_docs.parquet")).to_pylist()
        live = set(self.plan["initial_doc_ids"])
        for r, rnd in enumerate(self.plan["rounds"]):
            batch = [d for d in docs if d["round"] == r]
            self.assertEqual(len(batch), gen.BATCH_DOCS)
            versions = [d["of"] for d in batch if d["kind"] == "version"]
            plants = [d["of"] for d in batch if d["kind"] == "plant"]
            gone = set(versions) | set(rnd["forget_docs"])
            # every request addresses a live id, and a plant's source stays
            self.assertTrue(gone <= live and set(plants) <= live - gone)
            live = (live - gone) | {d["doc_id"] for d in batch if d["kind"] != "plant"}
            self.assertEqual(len(live), gen.INITIAL_DOCS)

    def test_listings_cover_every_variant_family(self):
        lines = []
        for r in range(len(self.plan["rounds"])):
            with open(os.path.join(self.a, "listings", f"r={r:05d}.jsonl"),
                      encoding="utf-8") as f:
                lines += f.read().splitlines()
        recs = []
        for line in lines:
            try:
                recs.append(json.loads(line))
            except ValueError:
                pass
        self.assertLess(len(recs), len(lines), "malformed lines present")
        prices = {r.get("price") for r in recs}
        self.assertTrue({"Thỏa thuận", "Không rõ", None, "giá rẻ"} <= prices)
        dates = {r.get("post_date") for r in recs}
        self.assertTrue({None, "not a date", "31/02/2025"} <= dates)
        self.assertIn(None, {r.get("area") for r in recs})
        wanted = sum(rnd["listing_rows"] for rnd in self.plan["rounds"])
        self.assertEqual(wanted, len(recs))


if __name__ == "__main__":
    unittest.main()
