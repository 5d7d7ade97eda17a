"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
with open(os.path.join(BENCH, "config.json")) as fh:
    CONFIG = json.load(fh)


def span(id, parent, start, end, level=3, trace="t", kind="build"):
    return {"id": id, "parent": parent, "start_ms": start, "end_ms": end,
            "level": level, "trace": trace, "kind": kind, "name": kind}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span("a", None, 0, 100, 2), span("b", "a", 10, 40), span("c", "a", 30, 60),
                 span("d", "a", 80, 90), span("e", "b", 10, 20, 4)]
        own = metrics.self_times(spans)
        # a: 100 - |[10,60) ∪ [80,90)| = 100 - 60
        self.assertEqual(own, {"a": 40, "b": 20, "c": 30, "d": 10, "e": 10})

    def test_children_are_clipped_to_their_parent(self):
        own = metrics.self_times([span("a", None, 0, 50, 2), span("b", "a", 40, 70)])
        self.assertEqual(own["a"], 40)

    def test_tree_from_raw_records(self):
        # item h1 with a build h2 that runs a micro-batch; one job inside
        # the batch, one in the build outside it, one stage under each job
        trace = {
            "spans": [
                {"id": 1, "parent": 0, "name": "q", "level": 2, "kind": "item",
                 "start_ms": 0, "end_ms": 1000, "trace": "q#0"},
                {"id": 2, "parent": 1, "name": "build", "level": 3,
                 "start_ms": 0, "end_ms": 900, "trace": "q#0"}],
            "batches": [{"query": "r", "batch": 0, "trace": "q#0", "parent": 2,
                         "start_ms": 100, "rows": 5,
                         "duration_ms": {"triggerExecution": 300, "addBatch": 200,
                                         "walCommit": 50}}],
            "jobs": [{"job": 7, "start_ms": 160, "end_ms": 260, "trace": "q#0", "parent": 2,
                      "call_site": "parquet at SwapStore.scala:292"},
                     {"job": 8, "start_ms": 500, "end_ms": 600, "trace": "q#0", "parent": 2,
                      "call_site": "count at Windows.scala:10"}],
            "stages": [{"stage": 1, "attempt": 0, "job": 7, "name": "s", "start_ms": 170,
                        "end_ms": 250, "tasks": 4},
                       {"stage": 2, "attempt": 0, "job": 8, "name": "s", "start_ms": 500,
                        "end_ms": 600, "tasks": 4}]}
        by = {s["id"]: s for s in metrics.build_spans(trace)}
        batch = "br:0"
        self.assertEqual(by[batch]["parent"], "h2")
        self.assertEqual(by["j7"]["parent"], batch)
        self.assertEqual(by["j8"]["parent"], "h2")
        self.assertEqual(by["j7"]["module"], "SwapStore")
        self.assertEqual(by[f"{batch}:walCommit"]["start_ms"], 100)
        self.assertEqual(by[f"{batch}:addBatch"]["start_ms"], 150)
        # batch: 300 - walCommit 50 - addBatch 200 (the job lies inside it)
        self.assertEqual(by[batch]["self_ms"], 50)
        # build: 900 - batch [100,400) - job [500,600)
        self.assertEqual(by["h2"]["self_ms"], 500)
        self.assertEqual(by["j7"]["self_ms"], 20)
        self.assertEqual(by["h1"]["self_ms"], 100)
        self.assertEqual(by["w"]["level"], 1)


class Layers(unittest.TestCase):
    def test_fold_attribution_and_spark_counts(self):
        def stage(sid, job, start, end, out_rows, tasks=4, busy=100):
            return {"stage": sid, "attempt": 0, "job": job, "name": "s", "start_ms": start,
                    "end_ms": end, "tasks": tasks, "task_max_ms": 30, "task_median_ms": 10,
                    "busy_ms": busy, "failed_tasks": 0, "input_bytes": 10, "input_rows": 1,
                    "output_bytes": 7 * out_rows, "output_rows": out_rows,
                    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        trace = {
            "spans": [{"id": 1, "parent": 0, "name": "q", "level": 2, "kind": "item",
                       "start_ms": 0, "end_ms": 1000, "trace": "q#warm"}],
            "batches": [{"query": "r", "batch": 0, "trace": "q#warm", "parent": 1,
                         "start_ms": 100, "rows": 50, "duration_ms": {"triggerExecution": 300},
                         "state_rows_total": 0, "state_rows_updated": 0,
                         "state_rows_removed": 0, "state_commit_ms": 0,
                         "state_memory_bytes": 0, "state_instances": 0}],
            # job 1 writes inside the batch under the stream's start() call
            # site; job 2 writes in the item outside any batch; job 3 reads
            "jobs": [{"job": 1, "start_ms": 150, "end_ms": 250, "trace": "q#warm", "parent": 1,
                      "call_site": "start at Sketches.scala:161"},
                     {"job": 2, "start_ms": 500, "end_ms": 600, "trace": "q#warm", "parent": 1,
                      "call_site": "parquet at Replay.scala:94"},
                     {"job": 3, "start_ms": 700, "end_ms": 800, "trace": "q#warm", "parent": 1,
                      "call_site": "parquet at SwapStore.scala:292"}],
            "stages": [stage(1, 1, 150, 250, 5), stage(2, 2, 500, 600, 9, tasks=1),
                       stage(3, 3, 700, 800, 0)]}
        res = {"trace": trace, "scan_s": {}, "jvm_before": {"gc_ms": 0, "heap_after_gc_bytes": 0},
               "jvm_after": {"gc_ms": 500, "heap_after_gc_bytes": 2 ** 21}}
        layer, _ = metrics.layer_profile(res, 4)
        self.assertEqual(layer["swapstore.folds"], 1)
        self.assertEqual(layer["swapstore.rows_written"], 5)
        self.assertEqual(layer["swapstore.job_s"], 0.2)
        self.assertEqual(layer["swapstore.rows_written_per_input_row"], 0.1)
        self.assertEqual((layer["spark.jobs"], layer["spark.tasks"]), (3, 9))
        self.assertEqual(layer["spark.narrow_stages"], 1)
        self.assertEqual(layer["spark.stage_skew"], 3.0)
        # item wall 1000 ms minus 300 ms inside jobs
        self.assertEqual(layer["spark.gap_s"], 0.7)
        self.assertAlmostEqual(layer["spark.parallel_eff"], 300 / (4 * 300))
        self.assertEqual((layer["jvm.gc_s"], layer["jvm.heap_after_gc_mb"]), (0.5, 2.0))


class Percentiles(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        v, pct, n = metrics.hist_tail(Counter(range(1, 101)))
        self.assertEqual((v, n), (90, 100))
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(metrics.hist_tail(Counter([3, 1, 2]))[0], 3)

    def test_tail_and_median_of_a_histogram(self):
        hist = Counter([5, 5, 7, 9, 9, 9, 12, 20, 20, 31, 40, 41, 50])
        self.assertEqual(metrics.hist_tail(hist)[:2], (7, 300 / 13))
        self.assertEqual(metrics.hist_median(hist), 12)


def fake_result(tmp, trace):
    """A JVM result for the stream workload with one passing query item
    and both open-loop scenarios, as run.report consumes it."""
    data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
    os.makedirs(os.path.join(out, "results", "q1"))
    os.makedirs(data)
    pq.write_table(pa.table({"x": [1, 2]}), os.path.join(data, "t.parquet"))
    pq.write_table(pa.table({"x": [2, 1]}), os.path.join(out, "results", "q1", "p.parquet"))
    ol = CONFIG["workloads"]["stream"]["openloop"]

    def rung(s, rate, traced=False, single=False):
        r = {"scenario": s, "rate": rate, "traced": traced, "start_ms": 0,
             "batches": [{"batch": 0, "start_ms": 1000, "end_offset": 1, "rows": rate,
                          "duration_ms": {"triggerExecution": 200}}],
             "latency_hist_ms": {str(300 + i): 1 for i in range(40)}, "latency_batches": 1,
             "check": {"ok": True, "expected": 9, "got": 9}, "sink_s": 0.1, "rows_out": 9}
        if single:
            r["single_thread"] = True
        return r

    rungs = [rung(s, ol["base_rate"]) for s in ("s1", "s2")]
    if trace:
        rungs += [rung(s, r, traced=True) for s in ("s1", "s2") for r in ol["ladder"][s]]
        rungs.append(rung("s1", min(ol["ladder"]["s1"]), single=True))
    res = {"items": ["q1"], "errors": {}, "warm_s": {"q1": 1.0},
           "oracle": {"q1": "SELECT x FROM t"}, "scan_s": {"t": 0.1},
           "repeats": [{"item": "q1", "pass": p, "traced": trace and p == 0, "s": 1.0 + p / 10}
                       for p in range(3)],
           "rungs": rungs, "setup_s": 12.5, "session_s": 3.0, "rss_hwm_kb": 2048000,
           "jvm_before": {"gc_ms": 0, "heap_after_gc_bytes": 0},
           "jvm_after": {"gc_ms": 10, "heap_after_gc_bytes": 2 ** 20}}
    if trace:
        res["trace"] = {"spans": [], "jobs": [], "stages": [], "batches": []}
    return res, data, out


class Output(unittest.TestCase):
    def check_output(self, trace, group):
        with tempfile.TemporaryDirectory() as tmp:
            res, data, out = fake_result(tmp, trace)
            old = run.WORK
            run.WORK = tmp
            try:
                lines, attempted, failed, figures = run.report(
                    CONFIG, SPEC, "stream", 1, trace, res, 4, data, out)
            finally:
                run.WORK = old
        self.assertEqual((attempted, failed), (len(res["rungs"]) + 1, 0))
        names = [m["name"] for m in SPEC[group]]
        self.assertEqual(sorted(figures), sorted(names))
        for m in SPEC[group]:
            line = [x for x in lines if x.startswith(f"metric {m['name']} ")]
            self.assertEqual(len(line), 1, m["name"])
            self.assertIn(f" {m['unit']}", line[0])
            if not trace and m["unit"] in ("s", "ms"):
                self.assertRegex(line[0], r" n=\d+")
        self.assertTrue(any(x.startswith("metric error_rate 0 ") for x in lines))
        return lines

    def test_untraced_output_names_every_end_to_end_metric(self):
        lines = self.check_output(0, "end_to_end")
        for s in ("s1", "s2"):
            for k in ("p50", "tail"):
                self.assertTrue(any(x.startswith(f"metric {s}.latency_{k}_ms ") and " n=" in x
                                    for x in lines))

    def test_traced_output_names_every_per_layer_metric(self):
        self.check_output(1, "per_layer")


class Spec(unittest.TestCase):
    def test_workloads_match_the_config(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], run.WORKLOADS)
        self.assertEqual(sorted(run.WORKLOADS), sorted(CONFIG["workloads"]))


if __name__ == "__main__":
    unittest.main()
