"""Unit tests of the benchmark's metric arithmetic on synthetic records.

Run: python3 -m unittest discover -s perfbench -p 'test_metrics.py'
"""
import json
import unittest
from pathlib import Path

import metrics


class Arithmetic(unittest.TestCase):
    def test_percentile_interpolates_like_numpy(self):
        xs = list(range(1, 41))  # 1..40
        self.assertEqual(metrics.percentile(xs, 50), 20.5)
        self.assertAlmostEqual(metrics.percentile(xs, 75), 30.25)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 0), 1)
        self.assertEqual(metrics.percentile([3, 1, 2], 100), 3)

    def test_p75_needs_forty_samples_for_ten_beyond(self):
        self.assertEqual(metrics.beyond(list(range(40)), 75), 10)
        self.assertLess(metrics.beyond(list(range(30)), 75), 10)
        self.assertEqual(metrics.beyond(list(range(100)), 90), 10)

    def test_union_length_counts_overlap_once_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 5), (5, 9)]), 9)

    def test_job_gap_is_window_time_without_any_task(self):
        # window 0..100; tasks cover 10..30 and 20..50 (overlap) and 90..120
        gap = metrics.job_gap_ms((0, 100), [(10, 30), (20, 50), (90, 120)])
        self.assertEqual(gap, 100 - 40 - 10)
        self.assertEqual(metrics.job_gap_ms((0, 10), []), 10)

    def test_slot_util(self):
        self.assertEqual(metrics.slot_util(400, 100, 4), 1.0)
        self.assertEqual(metrics.slot_util(100, 100, 4), 0.25)
        self.assertEqual(metrics.slot_util(100, 0, 4), 0.0)

    def test_self_time_subtracts_child_coverage(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 40), (30, 60), (90, 110)]), 40)
        self.assertEqual(metrics.self_time((0, 100), []), 100)


def job(j, t0, t1, stages, span, stream=None):
    return [{"k": "job_start", "job": j, "t": t0, "stages": stages, "span": span,
             "stream_query": stream},
            {"k": "job_end", "job": j, "t": t1, "ok": True}]


def task(stage, t0, t1, **kw):
    base = {"k": "task", "stage": stage, "launch": t0, "finish": t1, "ok": True,
            "cpu_ms": 0, "gc_ms": 0, "in_bytes": 0, "in_rec": 0, "sw_bytes": 0,
            "sr_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0}
    base.update(kw)
    return base


def sample(p, q, fam, marks, traced, **kw):
    r = {"k": "sample", "pass": p, "traced": traced, "q": q, "family": fam, "ok": True,
         "err": None, "isolate": [marks[0] - 5, marks[0]], "marks": marks, "cpu_ms": 10.0}
    r.update(kw)
    return r


class BatchRecords(unittest.TestCase):
    def records(self):
        recs = [{"k": "setup", "round": r, "total_ms": t, "schema_ms": 10.0 * (r + 1)}
                for r, t in enumerate([5000.0, 2000.0, 3000.0])]
        recs += [{"k": "op", "phase": "timed", "q": "q", "ok": True, "err": None}] * 4
        # untraced pass 0: q_a 100 ms, q_b 300 ms
        recs.append(sample(0, "q_a", "scan", [0, 40, 50, 100], False))
        recs.append(sample(0, "q_b", "join", [100, 150, 160, 400], False))
        # traced pass 1: q_a build 1000..1040, plan ..1050, exec ..1100
        recs.append(sample(1, "q_a", "scan", [1000, 1040, 1050, 1100], True,
                           exchanges=1, broadcasts=0, reused_exchanges=0, scan_nodes=2,
                           pinned_rdds=1, pinned_bytes=64))
        recs.append(sample(1, "q_b", "join", [1100, 1150, 1160, 1460], True,
                           exchanges=2, broadcasts=1, reused_exchanges=1, scan_nodes=3,
                           pinned_rdds=0, pinned_bytes=0))
        recs += [{"k": "pass", "pass": 0, "traced": False, "start": 0, "end": 400},
                 {"k": "pass", "pass": 1, "traced": True, "start": 1000, "end": 1460}]
        recs += job(0, 1010, 1030, [0], "1/q_a/build")
        recs += job(1, 1055, 1095, [1, 2], "1/q_a/exec")
        recs += job(2, 1170, 1450, [3], "1/q_b/exec")
        recs += job(3, 1200, 1210, [4], None)  # submitted from an unlabelled thread
        recs += [{"k": "stage", "stage": s, "attempt": 0, "submit": a, "complete": b,
                  "tasks": n}
                 for s, a, b, n in [(0, 1010, 1030, 1), (1, 1055, 1075, 4), (3, 1170, 1450, 2),
                                    (4, 1200, 1210, 1)]]
        # stage 2 was skipped: listed by its job, never submitted
        recs += [task(0, 1012, 1028, in_bytes=100, in_rec=10),
                 task(1, 1056, 1070, sw_bytes=50), task(1, 1056, 1074, sw_bytes=50),
                 task(3, 1170, 1300, sr_bytes=100, cpu_ms=120), task(3, 1170, 1440),
                 task(4, 1200, 1210)]
        recs += [{"k": "scaling", "q": "q_a", "cores": 1, "ms": 250.0, "ok": True},
                 {"k": "end", "rss_hwm_kb": 2048}]
        return recs

    def test_end_to_end_uses_untraced_samples_only(self):
        e2e, info = metrics.batch_end_to_end(self.records())
        self.assertEqual(e2e["wall_s"], 0.4)
        self.assertEqual(e2e["query_ms_p50"], 200.0)
        self.assertEqual(e2e["setup_s"], 3.0)
        self.assertEqual(e2e["peak_rss_mb"], 2.0)
        self.assertEqual(e2e["cpu_s"], 0.02)
        self.assertEqual(info["query_samples"], 2)

    def test_per_layer_attributes_jobs_by_span(self):
        total, detail = metrics.batch_per_layer(self.records(), cores=4)
        self.assertEqual(set(total), set(metrics.PER_LAYER))
        self.assertEqual(total["exec.jobs"], 3)
        self.assertEqual(total["exec.unattributed_jobs"], 1)
        self.assertEqual(total["api.build_jobs"], 1)
        self.assertEqual(total["exec.stages"], 3)
        self.assertEqual(total["exec.tasks"], 5)
        self.assertEqual(total["api.build_ms"], 40 + 50)
        self.assertEqual(total["plans.plan_ms"], 10 + 10)
        self.assertEqual(total["exec.wall_ms"], 50 + 300)
        self.assertEqual(total["plans.broadcasts"], 1)
        self.assertEqual(total["plans.reused_exchanges"], 1)
        self.assertEqual(total["sources.scan_nodes"], 5)
        self.assertEqual(total["sources.input_records"], 10)
        self.assertEqual(total["exec.shuffle_write_bytes"], 100)
        busy = 16 + 14 + 18 + 130 + 270
        self.assertEqual(total["exec.task_busy_ms"], busy)
        self.assertAlmostEqual(total["exec.slot_util"], busy / (460 * 4))
        # q_a exec window 1050..1100, tasks cover 1056..1074 -> 32 idle;
        # q_b exec window 1160..1460, tasks cover 1170..1440 -> 30 idle
        self.assertEqual(total["exec.job_gap_ms"], 32 + 30)
        self.assertEqual(total["exec.narrow_stage_ms"], 20 + 280)
        self.assertAlmostEqual(total["exec.max_task_share"], 270 / 360)
        self.assertEqual(total["operators.scan_ms"], 100)
        self.assertEqual(total["operators.join_ms"], 360)
        self.assertEqual(total["harness.isolate_ms"], 10)
        self.assertEqual(total["sources.schema_ms"], 20.0)
        self.assertAlmostEqual(total["exec.core_scaling"], 2.5)
        self.assertAlmostEqual(total["trace.overhead_pct"], (460 - 400) / 400 * 100)
        self.assertEqual(set(detail["per_family"]), {"scan", "join"})
        # the build phase of q_a (1000..1040) holds job 0 (1010..1030);
        # q_b's (1100..1150) runs no job
        self.assertEqual(detail["self_ms"]["build"], (40 - 20) + 50)

    def test_failures_count_against_attempts(self):
        recs = self.records() + [{"k": "op", "phase": "timed", "q": "q_c", "ok": False,
                                  "err": "boom"}]
        self.assertEqual(metrics.ops(recs), (5, 1))


def progress(query, batch, ts, rows, trigger, **kw):
    p = {"batchId": batch, "timestamp": ts, "numInputRows": rows,
         "durationMs": {"triggerExecution": trigger, "addBatch": trigger - 20,
                        "walCommit": 5, "commitOffsets": 7, "queryPlanning": 3,
                        "latestOffset": 1, "getBatch": 0},
         "eventTime": {"max": "2024-01-01T00:00:12.000Z",
                       "watermark": "2024-01-01T00:00:02.000Z"},
         "stateOperators": [{"numRowsTotal": 100 + batch, "numRowsUpdated": 10,
                             "allUpdatesTimeMs": 4, "commitTimeMs": 6,
                             "numRowsDroppedByWatermark": 0, "memoryUsedBytes": 1000}],
         "sink": {"numOutputRows": rows}}
    p.update(kw)
    return {"k": "progress", "query": query, "json": json.dumps(p)}


def idle(query, batch, ts):
    """An idle trigger's progress: no micro-batch ran."""
    p = {"batchId": batch, "timestamp": ts, "numInputRows": 0,
         "durationMs": {"triggerExecution": 1, "latestOffset": 1}, "stateOperators": [],
         "sink": {"numOutputRows": -1}}
    return {"k": "progress", "query": query, "json": json.dumps(p)}


class StreamRecords(unittest.TestCase):
    T0 = metrics.iso_ms("2024-06-01T00:00:00.000Z")

    def records(self):
        t = self.T0
        recs = [{"k": "setup", "round": r, "total_ms": 1000.0 * (r + 1), "schema_ms": 0.0}
                for r in range(3)]
        recs += [{"k": "pass", "pass": 0, "traced": False, "start": t, "end": t + 2000,
                  "cpu_ms": 3000.0},
                 {"k": "pass", "pass": 1, "traced": True, "start": t + 2000,
                  "end": t + 4200, "cpu_ms": 3300.0}]
        recs += [{"k": "step", "pass": 0, "step": i, "create": t + 1000 * i,
                  "commit": t + 1000 * i + 900, "events": 1000, "ok": True} for i in range(2)]
        recs += [{"k": "step", "pass": -1, "step": 1, "create": t - 5000, "commit": t - 4000,
                  "events": 1000, "ok": True}]
        recs += [progress("a", 5, "2024-06-01T00:00:00.100Z", 1000, 400),
                 progress("a", 6, "2024-06-01T00:00:01.100Z", 1000, 600),
                 progress("a", 7, "2024-06-01T00:00:01.500Z", 0, 50),
                 idle("a", 8, "2024-06-01T00:00:01.800Z"),
                 progress("a", 8, "2024-06-01T00:00:02.100Z", 1000, 700),
                 progress("a", 9, "2024-06-01T00:00:03.000Z", 0, 300,
                          sink={"numOutputRows": 5}),
                 idle("a", 10, "2024-06-01T00:00:04.000Z")]
        recs += job(0, t + 2100, t + 2300, [0], None, stream="qid")
        recs += [{"k": "stage", "stage": 0, "attempt": 0, "submit": t + 2100,
                  "complete": t + 2300, "tasks": 1},
                 task(0, t + 2100, t + 2300),
                 {"k": "scaling", "q": "pass", "cores": 1, "ms": 5000.0, "ok": True},
                 {"k": "end", "rss_hwm_kb": 1024}]
        return recs

    def test_end_to_end(self):
        e2e, info = metrics.stream_end_to_end(self.records())
        self.assertEqual(e2e["wall_s"], 1.9)
        self.assertEqual(e2e["batch_ms_p50"], 900)
        # batches 5, 6 and the no-data batch 7; the idle trigger is no batch
        self.assertEqual(e2e["query_ms_p50"], 400)
        self.assertAlmostEqual(e2e["events_per_s"], 2000 / 1.9)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["cpu_s"], 3.0)
        self.assertEqual(info["batches"], 2)

    def test_per_layer_reads_progress_of_traced_passes(self):
        total, detail = metrics.stream_per_layer(self.records(), cores=4)
        self.assertEqual(set(total), set(metrics.PER_LAYER))
        # the data batch 8 and the no-data batch 9 that emits and evicts
        self.assertEqual(len(detail["per_batch"]), 2)
        self.assertEqual(total["streaming.wal_ms"], 24)
        self.assertEqual(total["streaming.input_rows"], 1000)
        self.assertEqual(total["streaming.output_rows"], 1005)
        self.assertEqual(total["state.commit_ms"], 12)
        self.assertEqual(total["state.rows_updated"], 20)
        self.assertEqual(total["state.rows_total"], 109)
        self.assertEqual(total["streaming.watermark_lag_ms"], 10000)
        self.assertEqual(total["exec.jobs"], 1)
        self.assertEqual(total["exec.unattributed_jobs"], 0)
        self.assertEqual(total["exec.job_gap_ms"], 2200 - 200)
        self.assertAlmostEqual(total["exec.core_scaling"], 2.5)
        self.assertAlmostEqual(total["trace.overhead_pct"], 10.0)


class BenchmarkJson(unittest.TestCase):
    def test_benchmark_json_lists_what_the_runs_emit(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(metrics.END_TO_END))
        self.assertEqual([m["unit"] for m in spec["end_to_end"]],
                         list(metrics.END_TO_END.values()))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(metrics.PER_LAYER))
        self.assertEqual([m["unit"] for m in spec["per_layer"]],
                         list(metrics.PER_LAYER.values()))


if __name__ == "__main__":
    unittest.main()
