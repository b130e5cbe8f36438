"""The seed alone decides the inputs: same seed, same bytes; other seed,
other data."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402

FILES = ["events.parquet", "documents.parquet", "embeddings.parquet", "queries.parquet",
         "msgs.jsonl"]


class Seeds(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.generate(seed, os.path.join(cls.tmp.name, name))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def path(self, run, f):
        return os.path.join(self.tmp.name, run, f)

    def test_same_seed_same_inputs(self):
        for f in FILES:
            self.assertTrue(filecmp.cmp(self.path("a", f), self.path("b", f), shallow=False), f)

    def test_other_seed_other_inputs(self):
        for f in FILES:
            self.assertFalse(filecmp.cmp(self.path("a", f), self.path("c", f), shallow=False), f)

    def test_feed_matches_stream_ticks(self):
        import json
        import pyarrow.parquet as pq
        ev = pq.read_table(self.path("a", "events.parquet"))
        with open(self.path("a", "msgs.jsonl")) as f:
            first = json.loads(f.readline())
        row = ev.slice(0, 1).to_pylist()[0]
        self.assertEqual(first["event_id"], row["event_id"])
        self.assertEqual(first["value"], row["value"])
        self.assertEqual(first["ts"], row["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"))


if __name__ == "__main__":
    unittest.main()
