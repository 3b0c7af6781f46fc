"""Tests of the benchmark's input generator and ground truth.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import shutil
import tempfile
import unittest

import gen


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, workload, seed, epochs=3):
        return gen.generate(os.path.join(self.tmp, name), workload, seed, epochs)

    def test_same_seed_gives_byte_identical_files(self):
        for w in gen.WORKLOADS:
            self.gen(f"{w}-a", w, 7)
            self.gen(f"{w}-b", w, 7)
            self.assertEqual(digest(os.path.join(self.tmp, f"{w}-a")),
                             digest(os.path.join(self.tmp, f"{w}-b")), w)

    def test_other_seed_gives_other_files(self):
        self.gen("a", "trickle_cow", 1)
        self.gen("b", "trickle_cow", 2)
        self.assertNotEqual(digest(os.path.join(self.tmp, "a")), digest(os.path.join(self.tmp, "b")))

    def test_trickle_shares(self):
        m, _ = self.gen("t", "trickle_cow", 3, epochs=20)
        ep = m["epochs"]
        self.assertTrue(all(e["docs"] == 500 for e in ep))
        self.assertTrue(all(e["changed_country"] == 2 / 25 for e in ep))
        mean = {k: sum(e[k] for e in ep) / len(ep) for k in ("insert", "update", "bad")}
        self.assertAlmostEqual(mean["update"], 0.04, delta=0.01)
        self.assertAlmostEqual(mean["bad"], 0.005, delta=0.003)
        self.assertAlmostEqual(mean["insert"], 0.955, delta=0.012)

    def test_ground_truth_keeps_latest_and_drops_bad(self):
        m, g = self.gen("g", "trickle_cow", 5, epochs=5)
        fact = gen.expected_fact(g)
        seen, bad = {}, set()
        for d in sorted(os.listdir(os.path.join(self.tmp, "g"))):
            feed = os.path.join(self.tmp, "g", d, "feed.json")
            if not os.path.exists(feed):
                continue
            with open(feed) as f:
                for line in f:
                    doc = json.loads(line)
                    if doc["checkout_date"] < doc["checkin_date"]:
                        bad.add(doc["booking_id"])
                    elif doc["updated_at"] > seen.get(doc["booking_id"], {}).get("updated_at", ""):
                        seen[doc["booking_id"]] = doc
        self.assertEqual(set(fact), set(seen))
        self.assertFalse(bad & set(fact))
        self.assertTrue(all(fact[b][3] == seen[b]["status"] for b in seen))
        agg = gen.expected_agg(g)
        self.assertEqual(sum(r[1] for r in agg.values()), len(fact))


if __name__ == "__main__":
    unittest.main()
