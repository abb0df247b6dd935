"""Self-tests of the benchmark itself (generators, metric assembly, failure
accounting). Run from the repository root:

  python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {"warehouse": 0.001, "star": 2, "corpus": 1}


def scratch():
    os.makedirs(run.build.BUILD, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=run.build.BUILD)


class Inputs(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch()

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def staged(self, kind, seed, tag):
        out = os.path.join(self.tmp, f"{kind}-{seed}-{tag}")
        getattr(gen, kind)(out, seed, SMALL[kind])
        return gen.digest(out), check.input_stats(out)

    def test_same_seed_same_digest(self):
        for kind in SMALL:
            with self.subTest(kind=kind):
                self.assertEqual(self.staged(kind, 7, "a")[0], self.staged(kind, 7, "b")[0])

    def test_other_seed_other_digest_same_rows(self):
        for kind in SMALL:
            with self.subTest(kind=kind):
                d1, s1 = self.staged(kind, 7, "a")
                d2, s2 = self.staged(kind, 8, "a")
                self.assertNotEqual(d1, d2)
                self.assertEqual({t: rows for t, (rows, _) in s1.items()},
                                 {t: rows for t, (rows, _) in s2.items()})

    def test_star_replicas_grow_users_and_time(self):
        import duckdb
        out = os.path.join(self.tmp, "star")
        gen.star(out, 3, 3)
        users, secs = duckdb.sql(
            f"SELECT count(DISTINCT user_id), count(DISTINCT epoch(ts)::BIGINT) "
            f"FROM read_parquet('{out}/events.parquet/*.parquet')").fetchone()
        self.assertEqual(users, 3 * gen.STAR_BASE_USERS)
        self.assertGreater(secs, 2 * gen.STAR_BASE_EVENTS)

    def test_corpus_replicas_share_no_token(self):
        import duckdb
        out = os.path.join(self.tmp, "corpus")
        gen.corpus(out, 3, 2, base_docs=300)
        rows, tokens, shared = duckdb.sql(
            f"WITH t AS (SELECT doc_id // {gen.ID_STRIDE} AS r, unnest(string_split(text, ' ')) AS w "
            f"FROM '{out}/documents.parquet') "
            f"SELECT (SELECT count(*) FROM '{out}/documents.parquet'), count(DISTINCT w), "
            f"count(DISTINCT w) FILTER (WHERE w IN (SELECT w FROM t WHERE r = 0)) FROM t "
            f"WHERE r = 1").fetchone()
        self.assertEqual(rows, 600)
        self.assertGreater(tokens, 0)
        self.assertEqual(shared, 0)


def fake_result():
    sample = {"name": "q", "ms": 12.5, "ok": True, "error": "", "cpu_ms": 20.0, "steal_ms": 0.0,
              "traced": False, "retained_mb": 8.0}
    layers = {k: 1.0 for k in run.PER_LAYER_UNITS
              if k not in ("sessions.start_s", "trace_overhead")}
    return {"warmup": [], "samples": [sample] * 3, "window_s": 1.0,
            "setup_jvm_s": 2.0, "setup_cpu_s": 4.0, "setup_steal_s": 0.0,
            "session_start_s": 1.0, "layers": layers,
            "heap_probe": [sample], "peak_heap_mb": 10.0}


class Metrics(unittest.TestCase):
    def test_every_named_metric_has_a_unit(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        res = fake_result()
        e2e = run.end_to_end(res, 0.5, 1000)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], [k for k, _ in run.END_TO_END])
        for m in spec["end_to_end"]:
            self.assertIn(m["name"], e2e)
            self.assertEqual(dict(run.END_TO_END)[m["name"]], m["unit"])
        layers = run.per_layer(res)
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(layers))
        for m in spec["per_layer"]:
            self.assertEqual(layers[m["name"]]["unit"], m["unit"])

    def test_failed_query_is_failed_not_fast(self):
        samples = [{"name": "fast_but_broken", "ms": 0.1, "ok": False, "error": "boom",
                    "cpu_ms": 0.1, "steal_ms": 0.0, "retained_mb": 1.0}] + \
                  [{"name": "q", "ms": 100.0, "ok": True, "error": "",
                    "cpu_ms": 150.0, "steal_ms": 0.0, "retained_mb": 1.0}] * 2
        res = fake_result()
        res["samples"] = samples
        e2e = run.end_to_end(res, 0.0, 1000)
        self.assertEqual(e2e["op_median_s"], 0.1)
        self.assertEqual(run.percentile(run.latencies(samples), 0.9), float("inf"))
        self.assertEqual(e2e["rows_per_s"], 10000.0)
        self.assertEqual(run.tally(res, {"failed": 0}), (4, 1))

    def test_trace_overhead_pairs_adjacent_operations(self):
        def op(ms, traced, ok=True):
            return {"name": "q", "ms": ms, "ok": ok, "traced": traced}
        samples = [op(100.0, False), op(110.0, True),   # +10%
                   op(220.0, True), op(200.0, False),   # +10%, traced first
                   op(50.0, True, ok=False), op(400.0, False),  # failed: left out
                   op(300.0, False), op(330.0, True)]   # +10%
        self.assertAlmostEqual(run.trace_overhead(samples), 0.1)
        self.assertEqual(run.trace_overhead([op(1.0, False)]), 0.0)

    def test_steal_is_factored_out(self):
        # runnable for cpu + steal = 4 s, ran for 2 s: half the wall was stolen
        self.assertEqual(run.unstolen(10.0, 2.0, 2.0), 5.0)
        self.assertEqual(run.unstolen(10.0, 2.0, 0.0), 10.0)

    def test_harness_reports_a_throwing_query_as_failed(self):
        classes = run.build.build()
        work = scratch()
        try:
            res = run.run_jvm(classes, {
                "workload": "probe_failure", "data": work, "warm-data": work,
                "work": os.path.join(work, "work"), "seconds": 0.5,
                "trace": 0, "seed": 1, "cpus": 1, "result": os.path.join(work, "work", "r.json")})
        finally:
            shutil.rmtree(work, ignore_errors=True)
        by_name = {s["name"]: s for s in res["samples"]}
        self.assertFalse(by_name["fails"]["ok"])
        self.assertIn("probe", by_name["fails"]["error"])
        self.assertTrue(by_name["sleeps"]["ok"])


if __name__ == "__main__":
    unittest.main()
