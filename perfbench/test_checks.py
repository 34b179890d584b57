#!/usr/bin/env python3
"""Self-tests of the benchmark's own checkers, on hand-built inputs.

    python3 perfbench/test_checks.py
"""
import argparse
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import kes  # noqa: E402
import kube_fake  # noqa: E402


def write_ledger(path, items, marks=()):
    with open(path, "w") as f:
        for m in marks:
            f.write(json.dumps(m) + "\n")
        for it in items:
            f.write(json.dumps(it) + "\n")


def line(uid, rv):
    return json.dumps({"time": "2026-01-01T00:00:00.000Z", "kubernetes_event": {
        "metadata": {"uid": uid, "resourceVersion": rv}}}) + "\n"


def sink_tree(out, batches):
    """batches: [(commit time, {file name: [lines]})] → a file-sink tree."""
    os.makedirs(os.path.join(out, "_spark_metadata"))
    listed = []
    for b, (t, files) in enumerate(batches):
        for name, lines in files.items():
            with open(os.path.join(out, name), "w") as f:
                f.writelines(lines)
            listed.append(name)
        # every 10th log is a compaction that lists all files so far
        log = os.path.join(out, "_spark_metadata", f"{b}.compact" if b % 10 == 9 else str(b))
        names = listed if b % 10 == 9 else list(files)
        with open(log, "w") as f:
            f.write("v1\n" + "".join(json.dumps({"path": f"file:{out}/{n}"}) + "\n" for n in names))
        os.utime(log, ns=(int(t * 1e9), int(t * 1e9)))


class EmissionOracle(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def ledger(self):
        items = [
            {"phase": "watch", "kind": "first", "key": "u1:1", "due": 100.0},
            {"phase": "watch", "kind": "dup", "key": "u1:1", "due": 101.0},   # re-delivery
            {"phase": "watch", "kind": "bump", "key": "u1:2", "due": 102.0},  # same uid, new rv
            {"phase": "watch", "kind": "missing", "key": "u2:3", "due": 103.0},
        ]
        write_ledger(os.path.join(self.dir, "l.jsonl"), items,
                     [{"phase": "list_served", "at": 99.0}])
        return checks.read_ledger(os.path.join(self.dir, "l.jsonl"))

    def test_dup_suppressed_bump_emitted_timeless_dropped_and_counted(self):
        led = self.ledger()
        self.assertEqual(set(led["expected"]), {"u1:1", "u1:2"})
        good = {"u1:1": [100.5], "u1:2": [102.5]}
        counters = {"graft_cache_hits_total": 1, "graft_cache_misses_total": 2,
                    "graft_time_missing_total": 1}
        self.assertEqual(checks.kes_verdict(led, good, counters), [])
        self.assertEqual(checks.kes_failed(led, good), 0)

    def test_emitted_duplicate_fails(self):
        led = self.ledger()
        bad = {"u1:1": [100.5, 101.5], "u1:2": [102.5]}
        counters = {"graft_cache_hits_total": 0, "graft_cache_misses_total": 3,
                    "graft_time_missing_total": 1}
        problems = checks.kes_verdict(led, bad, counters)
        self.assertTrue(any("more than once" in p for p in problems))
        self.assertTrue(any("graft_cache_hits_total" in p for p in problems))
        self.assertEqual(checks.kes_failed(led, bad), 1)

    def test_missing_emission_and_timeless_emission_fail(self):
        led = self.ledger()
        bad = {"u1:1": [100.5], "u2:3": [103.5]}
        counters = {"graft_cache_hits_total": 1, "graft_cache_misses_total": 2,
                    "graft_time_missing_total": 0}
        problems = checks.kes_verdict(led, bad, counters)
        self.assertTrue(any("never emitted" in p for p in problems))
        self.assertTrue(any("suppressed or unknown" in p for p in problems))
        self.assertTrue(any("graft_time_missing_total" in p for p in problems))
        self.assertEqual(checks.kes_failed(led, bad), 2)

    def test_generator_plants_dups_within_half_ttl(self):
        plan = kube_fake.Plan(seed=7, ttl=4.0)
        seen, kinds = {}, set()
        for i in range(5000):
            t = 1000 + i / 200.0
            kind, ev = plan.event(t)
            kinds.add(kind)
            k = kube_fake.key(ev)
            if kind == "dup":
                self.assertIn(k, seen)
                self.assertLessEqual(t - seen[k], 2.0)
            elif kind != "missing":
                self.assertNotIn(k, seen)
                seen[k] = t
            else:
                self.assertNotIn("lastTimestamp", ev)
        self.assertEqual(kinds, {"first", "dup", "bump", "missing"})

    def test_daemon_that_emits_nothing_is_reported_not_raised(self):
        # stand-ins for KesMain that never connect: one hangs (the run
        # times out), one exits; both runs stop every process and report
        # the problem
        old, kes.TIMEOUT_S = kes.TIMEOUT_S, 2.0
        try:
            for cmd, why in ((["sleep", "30"], "did not emit every expected key"),
                             (["false"], "KesMain exited 1")):
                named, _, _, _, failed, problems, _ = kes.run(
                    argparse.Namespace(seed=1, seconds=1, trace=0), "",
                    os.path.join(self.dir, cmd[0]), 0.0, lambda *a, **k: cmd)
                self.assertIn(why, problems[0])
                self.assertGreater(failed, 0)
                self.assertEqual(named["kes_list_eps"][0], 0.0)
        finally:
            kes.TIMEOUT_S = old


class Latency(unittest.TestCase):
    def test_commit_time_of_first_listing_batch(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "out")
            batches = [(110.0 + b, {f"part-{b}.txt": [line("u", str(b))]}) for b in range(12)]
            sink_tree(out, batches)
            got = checks.kes_emitted(out)
            # batch 9 is a compaction listing files 0..9; each keeps its own batch's time
            self.assertEqual({k: v[0] for k, v in got.items()},
                             {f"u:{b}": 110.0 + b for b in range(12)})
            items = [{"phase": "watch", "kind": "first", "key": f"u:{b}", "due": 100.0 + b}
                     for b in range(12)]
            write_ledger(os.path.join(d, "l.jsonl"), items)
            lat = checks.kes_latencies(checks.read_ledger(os.path.join(d, "l.jsonl")), got)
            for v in lat.values():
                self.assertAlmostEqual(v, 10_000.0, places=3)

    def test_list_eps_of_a_daemon_that_emitted_nothing_is_zero(self):
        with tempfile.TemporaryDirectory() as d:
            got = checks.kes_emitted(os.path.join(d, "out"))  # no sink log written
            self.assertEqual(got, {})
        led = {"expected": {"a:1": {"phase": "relist"}, "b:1": {"phase": "list"}},
               "marks": {"relist_served": {"at": 1.0, "n": 1}}}
        self.assertEqual(checks.kes_list_eps(led, got, "relist"), 0.0)
        self.assertEqual(checks.kes_list_eps(led, {"a:1": [3.0]}, "relist"), 0.5)
        self.assertEqual(checks.kes_list_eps(led, {"a:1": [3.0], "b:1": [2.0]}, "list"), 0.0)

    def test_never_emitted_is_none(self):
        led = {"expected": {"a:1": {"phase": "watch", "due": 1.0}}}
        self.assertEqual(checks.kes_latencies(led, {}), {"a:1": None})

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(checks.pct(xs, 50), 50)
        self.assertEqual(checks.pct(xs, 99), 99)
        self.assertEqual(checks.pct([5.0], 90), 5.0)


class Recall(unittest.TestCase):
    def test_toy_exact_case(self):
        ids = np.array([0, 1, 2, 3, 4, 5])
        x = np.array([[1, 0], [0.9, 0.1], [0.8, 0.2], [0, 1], [-1, 0], [0.7, 0.3]])
        exact = checks.exact_topk_of(ids, x, 2, 1)
        self.assertEqual(exact, {0: [1, 2]})
        self.assertEqual(checks.recall_at_k([[0, 0], [0, 1], [0, 2]], exact, 2), 1.0)
        self.assertEqual(checks.recall_at_k([[0, 1], [0, 3]], exact, 2), 0.5)
        self.assertEqual(checks.recall_at_k([], exact, 2), 0.0)


class AnnHits(unittest.TestCase):
    def call(self, hits, kind="ivfpq"):
        return {"kind": kind, "hits": hits}

    def test_well_formed_repeated_calls_pass(self):
        hits = [[0, 1], [0, 2], [1, 0]]
        self.assertEqual(checks.ann_problems([self.call(hits), self.call(hits[::-1])],
                                             [0, 1, 2], 2, n_queries=2), [])

    def test_bad_hits_are_named(self):
        ids = [0, 1, 2]
        cases = [([[0, 1]], "answered queries"),
                 ([[0, 1], [0, 2], [1, 0]], "more than 1 hits"),
                 ([[0, 1], [0, 1], [1, 0]], "repeated hits"),
                 ([[0, 9], [1, 0]], "outside the corpus")]
        for hits, why in cases:
            k = 1 if why.startswith("more") else 2
            got = checks.ann_problems([self.call(hits)], ids, k, n_queries=2)
            self.assertEqual(len(got), 1)
            self.assertIn(why, got[0])

    def test_calls_of_a_kind_must_agree(self):
        got = checks.ann_problems([self.call([[0, 1], [1, 0]]), self.call([[0, 2], [1, 0]])],
                                  [0, 1, 2], 2, n_queries=2)
        self.assertEqual(len(got), 1)
        self.assertIn("differ from the first", got[0])


if __name__ == "__main__":
    unittest.main()
