"""Tests for the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import compare
import metrics
import run

BENCH = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class DrawTest(unittest.TestCase):
    POOL = [f"q_{fam}_{i}" for fam in ("agg", "ts", "llm", "join")
            for i in range(10 * (1 + len(fam)))]

    def test_same_seed_same_sample_and_order(self):
        a = metrics.order(metrics.draw(self.POOL, 20, 7), 3, "interactive", 2)
        b = metrics.order(metrics.draw(list(reversed(self.POOL)), 20, 7), 3,
                          "interactive", 2)
        self.assertEqual(a, b)
        self.assertEqual(len(set(a[0])), 20)

    def test_other_seed_other_sample_or_order(self):
        self.assertNotEqual(metrics.draw(self.POOL, 20, 7),
                            metrics.draw(self.POOL, 20, 8))
        keys = metrics.draw(self.POOL, 20, 7)
        one, two = metrics.order(keys, 1, "w", 2)
        self.assertNotEqual(one, two)
        self.assertNotEqual(one, metrics.order(keys, 2, "w", 1)[0])
        self.assertEqual(sorted(one), keys)

    def test_family_shares(self):
        def mix(keys):
            return sorted(metrics.family(k) for k in keys)
        mixes = {tuple(mix(metrics.draw(self.POOL, 20, s))) for s in range(20)}
        self.assertEqual(len(mixes), 1)
        # agg, llm, ts, join hold 40, 40, 30, 50 of the 160 keys: 5, 5,
        # 3.75 and 6.25 of 20, so ts gets the one key left by rounding down.
        self.assertEqual(mix(metrics.draw(self.POOL, 20, 0)),
                         sorted(["agg"] * 5 + ["llm"] * 5 + ["ts"] * 4 +
                                ["join"] * 6))


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(90, 90), 9)
        self.assertIsNone(metrics.percentile(list(range(90)), 90))
        self.assertEqual(metrics.beyond(91, 90), 10)
        self.assertEqual(metrics.percentile(list(range(91)), 90), 81)
        self.assertAlmostEqual(metrics.percentile(list(range(100)), 90), 89.1)

    def test_median_always(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([4, 1, 2, 3], 50), 2.5)

    def test_key_medians(self):
        samples = [dict(key=k, s=s) for k, s in
                   (("a", 1), ("a", 9), ("a", 2), ("b", 5))]
        self.assertEqual(sorted(metrics.key_medians(samples)), [2, 5])


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        # key [0, 100] holds two overlapping children and one that runs
        # past its end: covered = [10, 40] + [90, 100] = 40.
        self.assertEqual(
            metrics.self_ms((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms((5, 7.5), []), 2.5)

    def test_children_outside(self):
        self.assertEqual(metrics.self_ms((10, 20), [(0, 5), (25, 30)]), 10)

    def test_owner(self):
        windows = [(0, 10), (11, 20), (30, 40)]
        self.assertEqual([metrics.owner(t, windows) for t in (5, 11, 25, 40)],
                         [0, 1, None, 2])


def fake_result(traced):
    """A harness result with two keys, each with one job and one batch."""
    samples, jobs, stages, execs, phases, batches = [], [], [], [], [], []
    t = 1000.0
    for i in range(120):
        tr = traced and i % 2 == 1
        samples.append(dict(id=i, key=f"q_agg_{i % 2}", traced=tr, ok=True,
                            start_ms=t, built_ms=t + 10, end_ms=t + 50,
                            s=0.05))
        if tr:
            jobs.append(dict(job=i, start_ms=t + 5, end_ms=t + 40, exec=i,
                             site="count at Tables.scala:30", stages=[i]))
            stages.append(dict(stage=i, name=f"count at X.scala:{i}",
                               start_ms=t + 6, end_ms=t + 39,
                               task_count=2, run_ms=50,
                               cpu_ns=4e7, gc_ms=1, input_bytes=10,
                               shuffle_read_bytes=5, shuffle_write_bytes=5,
                               spill_bytes=0))
            execs.append(dict(exec=i, root=i, start_ms=t + 4, end_ms=t + 45,
                              site="count at Tables.scala:30"))
            # An adaptive stage's job, submitted from Spark's pool thread
            # inside an execution that a checkpoint in package.scala began.
            jobs.append(dict(job=-i, start_ms=t + 41, end_ms=t + 43, exec=-i,
                             site="run at CompletableFuture.java:1768",
                             stages=[]))
            execs.append(dict(exec=-i, root=-i, start_ms=t + 41, end_ms=t + 44,
                              site="localCheckpoint at package.scala:23"))
            phases.append({"analysis_start_ms": t + 1, "analysis_end_ms": t + 3,
                           "planning_start_ms": t + 12,
                           "planning_end_ms": t + 14})
            batches.append(dict(start_ms=t + 15, batch=0, trigger_ms=20,
                                planning_ms=2, addbatch_ms=10,
                                log_commit_ms=3, state_commit_ms=1,
                                state_rows=7, state_bytes=900))
        t += 60
    return dict(samples=samples, setup_s=3.2, peak_rss_kb=900000,
                wchar_bytes=123456, calib_s=[0.1, 0.12, 0.11], steal_frac=0.01,
                setup_parts=dict(check_s=1.5), fixture_bytes=4096,
                check=[dict(key="q_agg_0", input_rows=100),
                       dict(key="q_agg_1", input_rows=100)],
                trace=dict(jobs=jobs, stages=stages, executions=execs,
                           phases=phases, batches=batches))


class MetricNamesTest(unittest.TestCase):
    def spec_names(self, section):
        return {m["name"]: m["unit"] for m in SPEC[section]}

    def test_workloads_match_runner(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]},
                         set(run.WORKLOADS))

    def test_end_to_end_names_and_units(self):
        want = self.spec_names("end_to_end")
        got = metrics.end_to_end(fake_result(False))
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)
        self.assertTrue(all(v for v, _ in got.values()))

    def test_per_layer_names_and_units(self):
        got = metrics.per_layer(fake_result(True), 4)
        self.assertEqual({k: u for k, (_, u) in got.items()},
                         self.spec_names("per_layer"))
        self.assertAlmostEqual(got["entry.build_self_s"][0], 0.005)
        self.assertAlmostEqual(got["tables.open_s"][0], 0.035)
        # job wall: the union of [5, 40] and [41, 43] in each sample.
        self.assertAlmostEqual(got["sched.slot_util"][0], 50 / (37 * 4))
        self.assertEqual(got["sched.jobs"][0], 2)
        self.assertEqual(got["tables.open_jobs"][0], 1)
        self.assertEqual(got["operators.ckpt_jobs"][0], 1)

    def test_spans_nest(self):
        sp = metrics.spans(fake_result(True))
        kinds = {}
        for s in sp:
            kinds[s["kind"]] = kinds.get(s["kind"], 0) + 1
            if s["parent"] is not None:
                p = sp[s["parent"]]
                self.assertEqual(p["sample"], s["sample"])
                self.assertLessEqual(p["start_ms"], s["start_ms"])
        self.assertEqual(kinds, dict(key=60, execution=120, job=120,
                                     stage=60, batch=60))
        job = next(s for s in sp if s["kind"] == "job")
        self.assertEqual(sp[job["parent"]]["kind"], "execution")

    def test_names_follow_the_contract(self):
        names = [m["name"] for s in ("end_to_end", "per_layer") for m in SPEC[s]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", self.spec_names("end_to_end"))
        for m in SPEC["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


class KeyListTest(unittest.TestCase):
    def test_lists_are_sets(self):
        for f, size, _, _ in run.WORKLOADS.values():
            keys = run.read_keys(f)
            self.assertEqual(len(keys), len(set(keys)), f)
            self.assertGreaterEqual(len(keys), size or 1, f)


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        parent = {s: 1.0 + 0.01 * (s % 3) for s in range(10)}
        faster = {s: v * 0.8 for s, v in parent.items()}
        self.assertEqual(compare.verdict(parent, faster, True, 0.1)[0],
                         "improved")
        self.assertEqual(compare.verdict(faster, parent, True, 0.1)[0], "worse")
        self.assertEqual(compare.verdict(parent, dict(parent), True, 0.1)[0],
                         "unchanged")
        noisy = {s: 1.0 + (0.5 if s % 2 else 0) for s in range(10)}
        self.assertEqual(compare.verdict(noisy, dict(noisy), True, 0.1)[0],
                         "unresolved")
        # Every run of the change better than every parent run: resolved,
        # though the medians are closer than the parent's own spread.
        self.assertEqual(compare.verdict(
            noisy, {s: 0.9 for s in range(10)}, True, 0.1)[0], "unchanged")
        # Slower in every pair, but by less than the bound: no regression.
        slower = {s: v * 1.05 for s, v in parent.items()}
        self.assertEqual(compare.verdict(parent, slower, True, 0.1)[0],
                         "unchanged")
        self.assertEqual(compare.verdict(parent, slower, True, None)[0],
                         "worse")


if __name__ == "__main__":
    unittest.main()
