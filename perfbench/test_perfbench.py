"""Tests of the benchmark's own arithmetic and of its seeding.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import run
import stats

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
CATALOGUE = {"modules": {"a": ["q1_a", "q5_a", "q2_a"], "b": ["q3_b"]},
             "expected": {"q1_a": 3, "q2_b": 5, "q3_c": 7, "q4_d": 1}}


def op(s, ok=True, **info):
    return dict({"kind": "read", "name": "search", "s": s, "ok": ok}, **info)


def span(id, name, start_s, end_s, parent=0, **attrs):
    return {"id": id, "name": name, "parent": parent, "req": "", "start_ns": int(start_s * 1e9),
            "end_ns": int(end_s * 1e9), "attrs": attrs}


def job(id, group, start_ms, end_ms, **m):
    return dict({"id": id, "group": group, "start_ms": start_ms, "end_ms": end_ms, "cpu_ns": 0,
                 "input_bytes": 0, "input_records": 0, "shuffle_bytes": 0, "spill_bytes": 0}, **m)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(stats.tail(xs), (89.0, 90.0, 100))
        self.assertEqual(stats.tail(xs[:20]), (9.0, 50.0, 20))

    def test_reports_n_and_no_value_when_too_few(self):
        v, pct, n = stats.tail([1.0] * 10)
        self.assertTrue(math.isinf(v))
        self.assertEqual((pct, n), (0.0, 10))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(30, 0, -1))), stats.tail(list(range(1, 31))))


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        parent = span(1, "serve.tick", 0, 10)
        kids = [span(2, "a", 1, 3, 1), span(3, "b", 2, 5, 1), span(4, "c", 8, 12, 1)]
        # children cover [1, 5] and [8, 10] of the parent: 6 s
        self.assertAlmostEqual(stats.self_time(parent, kids), 4.0)
        self.assertAlmostEqual(stats.self_time(parent, []), 10.0)

    def test_gap_from_synthetic_listener_events(self):
        s = span(1, "engine.update", 0, 10)
        jobs = [job(1, "pb-1", 1000, 2000), job(2, "pb-1", 1500, 3000), job(3, "pb-1", 9000, 11000)]
        # jobs run over [1, 3] and [9, 10] s: 3 s of the 10 s span
        self.assertAlmostEqual(stats.gap_s(s, jobs), 7.0)
        self.assertAlmostEqual(stats.gap_s(s, []), 10.0)

    def test_attribution_by_group_and_time(self):
        spans = [span(1, "engine.search", 10, 20), span(2, "engine.scalar", 30, 40)]
        jobs = [job(1, "pb-1", 12000, 13000), job(2, "pb-2", 35000, 36000),
                job(3, "", 15000, 16000),          # no group: a job started off-thread
                job(4, "pb-1", 25000, 26000),      # stale group: span 1 had ended
                job(5, "", 50000, 51000)]          # in the untraced window
        own, unattributed = stats.attribute(spans, jobs, [(1000, 2000), (45000, 60000)])
        self.assertEqual([j["id"] for j in own[1]], [1])
        self.assertEqual([j["id"] for j in own[2]], [2])
        self.assertEqual(unattributed, 2)

    def test_span_fields_are_per_call_means(self):
        spans = [span(1, "engine.search", 0, 2, hits=4), span(2, "engine.search", 10, 14, hits=4)]
        jobs = [job(1, "pb-1", 0, 1000, cpu_ns=2e9, input_bytes=4e6),
                job(2, "pb-2", 10000, 12000, cpu_ns=4e9, input_bytes=2e6)]
        own, _ = stats.attribute(spans, jobs)
        f = stats.span_fields(spans, {}, own, {"pb-1": 3, "pb-2": 5})
        self.assertEqual((f["s"], f["jobs"], f["gap_s"]), (3.0, 1.0, 1.5))
        self.assertEqual((f["cpu_s"], f["scan_mb"], f["fs_list_ops"]), (3.0, 3.0, 4.0))


class FailureCounting(unittest.TestCase):
    def test_error_frac_has_its_base(self):
        ops = [op(1.0), op(2.0, ok=False), op(3.0), op(0.5, ok=False)]
        self.assertEqual(stats.error_frac(ops), 0.5)
        self.assertEqual(stats.error_frac([]), 0.0)

    def test_a_failure_misses_every_latency_bound(self):
        ops = [op(1.0), op(0.1, ok=False), op(3.0)]
        lat = stats.latencies(ops)
        self.assertTrue(math.isinf(max(lat)))
        # the fast failure does not pull the median down: it sorts last
        self.assertEqual(stats.median(lat), 3.0)
        self.assertTrue(math.isinf(stats.tail(lat * 12)[0]))

    def test_failed_stage_makes_its_setup_infinite(self):
        setup = [dict(op(1.0, kind="stage"), kind="stage", name="ingest"),
                 dict(op(2.0), kind="stage", name="update", ok=False),
                 dict(op(1.0), kind="stage", name="ingest"),
                 dict(op(2.0), kind="stage", name="update")]
        sums = stats.stage_sums(setup, ("ingest", "update"))
        self.assertTrue(math.isinf(sums[0]))
        self.assertEqual(sums[1], 3.0)


def fake_raw(workload, inputs, trace):
    """A raw run shaped like the JVM's, driven by the seeded inputs."""
    if workload == "catalogue":
        ops = [dict(op(1.0 + i), kind="query", name=n, rows=inputs["catalogue"]["expected"][n],
                    expected=inputs["catalogue"]["expected"][n])
               for i, n in enumerate(inputs["catalogue"]["order"])]
        figures = {}
    else:
        ops = [dict(op(0.5 + i % 3, wait_s=0.1, end_s=1.0 + i), name=r["verb"])
               for i, r in enumerate(r for lane in inputs["serve_rw"]["lanes"] for r in lane[:4])]
        ops.append(dict(op(5.0, ann_hit=True, end_s=9.0), kind="tick", name="writer"))
        figures = {"docs": 5000, "space_amp": 2.0, "layout_files": 100}
    stages = [dict(op(1.0), kind="stage", name=n)
              for n in ("ingest", "update", "lex_build")]
    raw = {"meta": {"workload": workload}, "setup_s": [3.0, 2.0, 2.5], "setup_ops": stages,
           "warm_ops": [], "ops": ops, "measure_s": 20.0, "figures": figures, "peak_rss_mb": 900.0}
    if trace:
        raw.update({"plain": [{"ops": ops, "measure_s": 19.0}] * 2, "probe_ops": [],
                    "spans": [span(1, "engine.search", 0, 1, hits=4), span(2, "queries.text", 2, 3)],
                    "jobs": [job(1, "pb-1", 0, 500), job(2, "", 2500, 2600)], "fs_lists": {"pb-1": 2},
                    "untraced_ms": [[5000, 6000], [7000, 8000]],
                    "layer": {k: 1.0 for k in (
                        "functions.chunk_text_us_per_doc", "functions.hash_embed_us_per_chunk",
                        "functions.porter2_ns_per_token", "functions.shingle_set_us_per_doc",
                        "sources.corpus_rows_per_s", "jvm.gc_s", "jvm.heap_peak_mb")}})
    return raw


class ServeLatency(unittest.TestCase):
    def test_a_slower_writer_moves_latency(self):
        reads = [dict(op(1.0), name=v) for v in ("search", "hybrid", "query")]
        tick = lambda s: dict(op(s), kind="tick", name="writer")
        self.assertAlmostEqual(stats.latency("serve_rw", reads + [tick(1.0)]), 1.0)
        # one of four verb classes: 16 times slower ticks double the metric
        self.assertAlmostEqual(stats.latency("serve_rw", reads + [tick(16.0)]), 2.0)
        self.assertTrue(math.isinf(stats.latency("serve_rw", reads + [dict(tick(1.0), ok=False)])))

    def test_recall_reports_its_base_over_every_pass(self):
        raw = fake_raw("serve_rw", run.make_inputs("serve_rw", 3), 1)
        raw["plain"] = [dict(p, ops=[dict(o, ann_hit=False) for o in p["ops"]]) for p in raw["plain"]]
        out = stats.per_layer(raw)
        self.assertEqual(out["ann.ticks"], 3.0)
        self.assertAlmostEqual(out["ann.hit_frac"], 1 / 3)


class Seeding(unittest.TestCase):
    def test_two_seeds_differ_in_inputs_and_agree_on_metric_names(self):
        for w in run.WORKLOADS:
            a, b = run.make_inputs(w, 1, CATALOGUE), run.make_inputs(w, 2, CATALOGUE)
            self.assertNotEqual(a, b, w)
            self.assertEqual(a, run.make_inputs(w, 1, CATALOGUE), w)
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                names = {m["name"] for m in SPEC[key]}
                got = [set(stats.per_layer(fake_raw(w, i, trace)) if trace
                           else stats.end_to_end(fake_raw(w, i, trace))[0]) for i in (a, b)]
                self.assertEqual(got[0], got[1], (w, key))
                self.assertEqual(got[0], names, (w, key))

    def test_one_verb_class_per_reader_lane(self):
        search, hybrid, scalar = run.make_inputs("serve_rw", 7)["serve_rw"]["lanes"]
        self.assertEqual({r["verb"] for r in search}, {"search"})
        self.assertEqual({r["verb"] for r in hybrid}, {"hybrid"})
        # every pair of scalar reads holds one query and one retrieve
        for i in range(0, len(scalar), 2):
            self.assertEqual(sorted(r["verb"] for r in scalar[i:i + 2]), ["query", "retrieve"])

    def test_catalogue_subset_covers_every_module(self):
        modules = {m: [f"q{m_i * 100 + i}_{m}" for i in range(n)]
                   for m_i, (m, n) in enumerate([("a", 3), ("b", 40), ("c", 111)])}
        picked = run.catalogue_subset(modules)
        self.assertEqual(sorted({n.split("_")[1] for n in picked}), ["a", "b", "c"])
        self.assertEqual(len(picked), 1 + 1 + 3)
        self.assertFalse(set(picked) & set(run.catalogue_warm(modules)))


if __name__ == "__main__":
    unittest.main()
