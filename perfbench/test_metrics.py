"""Tests for the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def q(name, p, start, end, error="", memo=0, fp=""):
    return {"name": name, "pass": p, "start": start, "end": end, "error": error, "memo_builds": memo, "fp": fp}


def raw_run(queries, spans=(), jobs=(), triggers=()):
    """A minimal raw record: passes span their queries' stamps."""
    by_pass = {}
    for x in queries:
        s, e = by_pass.get(x["pass"], (x["start"], x["end"]))
        by_pass[x["pass"]] = (min(s, x["start"]), max(e, x["end"]))
    return {
        "passes": [[p, s, e] for p, (s, e) in sorted(by_pass.items())],
        "queries": list(queries), "rss_hwm_kb": 2048,
        "main_ms": 500.0, "session_ms": 3000.0, "ready_ms": 5000.0,
        "families": {x["name"]: "dedup" for x in queries},
        "artifact": {"names": 1, "bytes": 3000000, "tables": 0,
                     "table_bytes": 0, "memo_entries": 4},
        "spans": list(spans), "jobs": list(jobs), "aggs": {},
        "catalyst": [], "triggers": list(triggers), "layer_values": {},
    }


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(40), (75.0, 10))
        self.assertEqual(metrics.tail_percentile(39), (74.3, 10))
        self.assertEqual(metrics.tail_percentile(22), (54.5, 10))
        self.assertEqual(metrics.tail_percentile(100), (90.0, 10))
        self.assertEqual(metrics.tail_percentile(1000), (99.0, 10))
        self.assertEqual(metrics.tail_percentile(20), (50.0, 10))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail_percentile(19), (None, 0))

    def test_tail_value_and_count_recorded(self):
        # 14 queries x 3 warm passes = 42 samples -> p76.1, 10 beyond
        qs = [q(f"q{i}", 0, 0, 1) for i in range(14)]
        t = 10.0
        for p in (1, 2, 3):
            for i in range(14):
                qs.append(q(f"q{i}", p, t, t + (i + 1) * 1000.0))
                t += (i + 1) * 1000.0
        vals, info = metrics.end_to_end(raw_run(qs), 0.0, 3)
        self.assertEqual(info["tail_percentile"], 76.1)
        self.assertEqual(info["warm_samples"], 42)
        # nearest rank 32 of the sorted latencies 1,1,1,2,2,2,...,14 s
        self.assertEqual(vals["query_tail_s"][0], 11.0)
        self.assertEqual(info["tail_beyond"], 10)

    def test_p50_is_median_of_per_query_medians(self):
        # b's samples straddle a's and c's; its own median (2 s) is the
        # workload's typical query whatever the pooled order
        qs = [q(n, 0, 0, 1) for n in "abc"]
        lat = {"a": (1.0, 1.1, 1.2), "b": (0.9, 2.0, 3.1), "c": (3.0, 3.2, 3.3)}
        t = 10.0
        for p in (1, 2, 3):
            for n in "abc":
                qs.append(q(n, p, t, t + lat[n][p - 1] * 1000))
                t += 5000
        vals, _ = metrics.end_to_end(raw_run(qs), 0.0, 3)
        self.assertAlmostEqual(vals["query_p50_s"][0], 2.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # [1,4] and [3,6] overlap: covered 1..6; [8,12] clipped to 8..10
        self.assertEqual(
            metrics.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]), 3)

    def test_nested_and_outside_children(self):
        self.assertEqual(metrics.self_time(0, 10, [(2, 8), (3, 4)]), 4)
        self.assertEqual(metrics.self_time(0, 10, [(11, 15)]), 10)
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_overlap_peak_and_busy(self):
        self.assertEqual(metrics.overlap([(0, 4), (2, 6), (3, 5)]),
                         (3, 3))  # >=2 open from 2 to 5
        self.assertEqual(metrics.overlap([(0, 1), (1, 2)]), (1, 0.0))


class MemoAttribution(unittest.TestCase):
    def test_build_charged_to_its_pass(self):
        qs = [q("a", 0, 0, 5000, memo=2), q("b", 0, 5000, 6000),
              q("a", 1, 6000, 7000), q("b", 1, 7000, 8000, memo=1),
              q("a", 2, 8000, 9000), q("b", 2, 9000, 10000)]
        cold, warm, built = metrics.memo_by_pass(qs)
        self.assertEqual((cold, warm, built), (2, 1, ["a"]))

    def test_cold_excess_only_over_cold_builders(self):
        qs = [q("a", 0, 0, 5000, memo=2), q("b", 0, 5000, 9000),
              q("a", 1, 9000, 10000), q("b", 1, 10000, 11000, memo=1),
              q("a", 2, 11000, 12000), q("b", 2, 12000, 13000)]
        out = metrics.per_layer(raw_run(qs), 4, 0.0)
        self.assertEqual(out["memo.builds_cold"][0], 2)
        self.assertEqual(out["memo.builds_warm"][0], 1)
        self.assertAlmostEqual(out["memo.waste_ratio"][0], 0.25)
        # a: cold 5 s - warm 1 s; b built only in a warm pass: excluded
        self.assertAlmostEqual(out["memo.cold_excess_s"][0], 4.0)


class Failures(unittest.TestCase):
    def test_failed_query_time_charged_and_counted(self):
        qs = [q("a", 0, 0, 1000), q("bad", 0, 1000, 9000, error="boom"),
              q("a", 1, 9000, 10000), q("bad", 1, 10000, 13000,
                                           error="boom")]
        res = metrics.compute(raw_run(qs), {"a": "ok"}, 0.0, 4, 1, False)
        self.assertEqual(res["metrics"]["setup_s"]["value"], 5.0)
        self.assertEqual(res["detail"]["setup_parts_s"], [0.5, 2.5, 2.0])
        self.assertEqual(res["metrics"]["cold_s"]["value"], 9.0)
        self.assertEqual(res["metrics"]["warm_s"]["value"], 4.0)
        self.assertEqual((res["attempted"], res["failed"]), (4, 2))
        self.assertEqual(res["detail"]["failed_ratio"], 0.5)
        self.assertIn("bad", res["failures"])

    def test_oracle_mismatch_fails_every_execution(self):
        qs = [q("a", 0, 0, 1000), q("b", 0, 1000, 2000),
              q("a", 1, 2000, 3000), q("b", 1, 3000, 4000)]
        res = metrics.compute(raw_run(qs),
                              {"a": "ok", "b": "rows 3 != 4"},
                              0.0, 4, 1, False)
        self.assertEqual((res["attempted"], res["failed"]), (4, 2))
        self.assertEqual(res["failures"], {"b": "oracle: rows 3 != 4"})

    def test_unchecked_query_is_not_a_failure(self):
        qs = [q("a", 0, 0, 1000), q("a", 1, 1000, 2000)]
        res = metrics.compute(raw_run(qs), {"a": "unchecked"}, 0.0, 4, 1,
                              False)
        self.assertEqual(res["failed"], 0)


class Layers(unittest.TestCase):
    def test_kernel_cost_per_evaluation_from_median_sweep(self):
        qs = [q("a", 0, 0, 1000), q("a", 1, 1000, 2000)]
        spans = [[i, -1, "kernel.dot_product", "layer#kernel.dot_product",
                  3000 + 100 * i, 3000 + 100 * i + ms]
                 for i, ms in enumerate((20.0, 10.0, 12.0))]
        raw = raw_run(qs, spans=spans)
        raw["layer_values"] = {"kernel.dot_product.evals": 200000}
        out = metrics.per_layer(raw, 4, 0.0)
        self.assertAlmostEqual(out["kernel.dot_product_ns"][0], 60.0)
        self.assertEqual(out["kernel.topk_ns"][0], 0.0)  # not probed


class Streaming(unittest.TestCase):
    def test_triggers_charged_to_owning_warm_query(self):
        qs = [q("w", 0, 0, 1000), q("w", 1, 1000, 3000)]
        trig = [[500, {"triggerExecution": 100}, 0, 0],
                [1100, {"triggerExecution": 300, "addBatch": 200}, 5, 64],
                [1500, {"triggerExecution": 500, "addBatch": 400}, 7, 32]]
        out = metrics.per_layer(raw_run(qs, triggers=trig), 4, 0.0)
        self.assertEqual(out["stream.triggers"][0], 2)
        self.assertEqual(out["stream.trigger_p50_ms"][0], 400)
        self.assertEqual(out["stream.add_batch_ms"][0], 600)
        self.assertEqual(out["stream.harness_ms"][0], 2000 - 800)
        self.assertEqual(out["stream.state_rows"][0], 7)


if __name__ == "__main__":
    unittest.main()
