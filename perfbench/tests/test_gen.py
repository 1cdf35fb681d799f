import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import tailgen  # noqa: E402


def digest(tables):
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(repr(tables[name].to_pydict()).encode())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(digest(gen.query_tables(7, n_orders=200, n_events=300)),
                         digest(gen.query_tables(7, n_orders=200, n_events=300)))
        self.assertEqual(gen.oplog(7, 500, 50), gen.oplog(7, 500, 50))
        self.assertEqual(digest(gen.snapshot_tables(7, 10, 20, 30, 40)),
                         digest(gen.snapshot_tables(7, 10, 20, 30, 40)))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(gen.oplog(7, 500, 50), gen.oplog(8, 500, 50))

    def test_oplog_mix(self):
        lines, n_ops = gen.oplog(3, 2000, 100)
        entries = [json.loads(line) for line in lines]
        ops = {op: sum(1 for e in entries if e["op"] == op) for op in "iudc"}
        self.assertTrue(all(ops[op] > 0 for op in "iudc"), ops)
        self.assertEqual([e["ts"] for e in entries], list(range(gen.TS0, gen.TS0 + 2000)))
        unsets = sum(1 for e in entries if e["op"] == "u" and "$unset" in e["o"])
        self.assertGreater(unsets, 0)
        self.assertEqual(n_ops, len(entries) + ops["c"])
        inserts = [e for e in entries if e["op"] == "i"]
        self.assertIn("k", inserts[0]["o"]["props"])

    def test_segment_appears_whole(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_segment(os.path.join(d, "seg-1.json"), ["a", "b"])
            self.assertEqual(os.listdir(d), ["seg-1.json"])
            with open(os.path.join(d, "seg-1.json")) as f:
                self.assertEqual(f.read(), "a\nb\n")

    def test_tail_schedule(self):
        plan = tailgen.schedule([("low", 25, 0.2, 0.8), ("high", 100, 0.1, 0.2)], 0.1)
        self.assertEqual(len(plan), 13)
        self.assertEqual(sum(n for p, _, n in plan if p == "low"), 25)
        self.assertEqual(sum(n for p, _, n in plan if p == "high"), 30)
        self.assertEqual([m for p, m, _ in plan if p == "low"], [False] * 2 + [True] * 8)


if __name__ == "__main__":
    unittest.main()
