"""Tests of tools/gate.py's pure logic: folding, key selection, shard split.

Run from the root of the checkout:  python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gate  # noqa: E402

HASH_OK = {"hash_match": True, "err": None}
HASH_BAD = {"hash_match": False, "err": "rows spark=1 duck=2"}


def fold(parts, keys):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        art = gate.fold(parts, keys, "test")
    return art, out.getvalue()


def finish(art):
    out = io.StringIO()
    with tempfile.TemporaryDirectory() as d, contextlib.redirect_stdout(out):
        status = gate.finish("t", art, f"{d}/a.json")
        with open(f"{d}/a.json") as f:
            written = json.load(f)
    return status, out.getvalue(), written


class Fold(unittest.TestCase):
    def test_later_shard_overrides_and_says_so(self):
        art, log = fold([("base.json", {"_meta": {"round": 13}, "a": HASH_BAD, "b": HASH_OK}),
                         ("rerun.json", {"a": HASH_OK})], ["a"])
        self.assertIs(art["a"], HASH_OK)
        self.assertIn("override a: pass=False -> pass=True (from rerun.json)", log)
        self.assertEqual(art["_meta"], {"what": "test", "keys": 2, "hash_pass": 2,
                                        "band_pass": 0, "stability_pass": 0, "fail": 0})

    def test_theta_and_stability_rows_pass_on_their_own_flags(self):
        art, _ = fold([("s", {"a": HASH_OK}),
                       ("theta band", {"t": {"hash_match": False, "estimate_band_match": True}}),
                       ("stability", {"p": {"stability_match": True, "except_all_diff": 0}})],
                      ["a", "t", "p"])
        self.assertEqual(gate.failures(art), [])
        m = art["_meta"]
        self.assertEqual((m["hash_pass"], m["band_pass"], m["stability_pass"], m["fail"]),
                         (1, 1, 1, 0))

    def test_failing_or_missing_key_exits_nonzero_naming_it(self):
        art, _ = fold([("s", {"a": HASH_OK, "b": HASH_BAD}),
                       ("stability", {"p": {"stability_match": False, "except_all_diff": 3}})],
                      ["a", "b", "p", "gone"])
        status, log, written = finish(art)
        self.assertEqual(status, 1)
        for k in ("b", "p", "gone"):
            self.assertIn(f"FAIL {k}:", log)
        self.assertNotIn("FAIL a:", log)
        self.assertEqual(written["_meta"]["fail"], 3)
        self.assertEqual(written["_meta"]["keys"], 4)
        self.assertIn("gone", written)

    def test_all_passing_exits_zero(self):
        art, _ = fold([("s", {"a": HASH_OK})], ["a"])
        self.assertEqual(finish(art)[0], 0)


class KeySelection(unittest.TestCase):
    def test_p256_splits_oracled_keys_into_compared_and_stability(self):
        with open(f"{gate.ROOT}/CORRECTNESS_p256_r17.json") as f:
            compared = [k for k in json.load(f) if not k.startswith("_")]
        with tempfile.TemporaryDirectory() as d:
            with open(f"{d}/oracle_sql.json", "w") as f:
                json.dump({k: "SELECT 1" for k in compared + gate.STAB21}, f)
            g = gate.GATES["p256"]
            keys = g.keys(d)
        self.assertEqual(len(compared) + len(gate.STAB21), 213)
        self.assertEqual(len(keys), 192)
        self.assertEqual(len(g.twin.keys), 21)
        self.assertEqual(sorted(gate.selected(g, keys)), sorted(compared + gate.STAB21))

    def test_x970_is_the_x10_surface_minus_the_embedding_keys(self):
        keys = gate.GATES["x970"].keys(None)
        self.assertEqual(len(keys), 157)
        self.assertFalse(set(keys) & set(gate.GATES["x970e"].keys(None)))
        self.assertIn("q_anomaly_days", keys)

    def test_regrade_requires_its_env(self):
        env = {k: os.environ.pop(k) for k in ("REGRADE_KEYS", "REGRADE_BASE") if k in os.environ}
        try:
            with self.assertRaises(SystemExit):
                gate.GATES["x97-regrade"].keys(None)
            with self.assertRaises(SystemExit):
                gate.GATES["x97-regrade"].base()
        finally:
            os.environ.update(env)


class ShardSplit(unittest.TestCase):
    def test_every_key_lands_in_exactly_one_job(self):
        for name in ("x97", "x970", "x970e"):
            g = gate.GATES[name]
            keys = g.keys(None)
            shards, solos = gate.compare_jobs(g, keys)
            graded = [k for _, ks, _ in shards + solos for k in ks]
            if g.theta_threads and gate.THETA in keys:
                graded.append(gate.THETA)  # the band check grades it
            self.assertEqual(sorted(graded), sorted(keys), name)
            self.assertEqual(len(shards), g.shards, name)

    def test_solo_keys_run_alone_with_their_own_env(self):
        g = gate.GATES["x97"]
        shards, solos = gate.compare_jobs(g, g.keys(None))
        self.assertEqual([ks for _, ks, _ in solos], [["q5_5way_join"], ["q_cbo_join_reorder"]])
        self.assertTrue(all(env["COMPARE_DISABLED_OPT"] == "join_order" for _, _, env in solos))
        self.assertTrue(all("COMPARE_DISABLED_OPT" not in env for _, _, env in shards))

    def test_small_key_sets_leave_no_empty_shard(self):
        self.assertEqual(gate.shard_split(["a", "b"], 4), [["a"], ["b"]])


if __name__ == "__main__":
    unittest.main()


class Heap(unittest.TestCase):
    def heap(self, xmx, total_kb):
        with tempfile.NamedTemporaryFile("w", suffix="meminfo") as f:
            f.write(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
            f.flush()
            return gate.heap(xmx, f.name)

    def test_a_heap_over_half_of_memtotal_is_capped_there(self):
        self.assertEqual(self.heap("48g", 16 * 1024 * 1024), "8192m")

    def test_a_heap_that_fits_is_kept_as_declared(self):
        self.assertEqual(self.heap("6g", 16 * 1024 * 1024), "6g")
        self.assertEqual(self.heap("512m", 2 * 1024 * 1024), "512m")
