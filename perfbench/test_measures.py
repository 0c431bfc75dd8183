"""Tests of the metric reduction on a small synthetic run.

Run with: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import measures

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")
US = 1_000_000  # the driver writes times in epoch microseconds


def span(sid, parent, op, name, start, end, cpu=0.0, gc=0.0):
    return {"id": sid, "parent": parent, "op": op, "name": name, "start": start * US,
            "end": end * US, "attrs": {"process_cpu_s": cpu, "gc_s": gc}}


def job(jid, op, desc, start, end, cpu, tasks=(100, 100)):
    return {"id": jid, "op": op, "desc": desc, "start": start * US, "end": end * US,
            "tasks": len(tasks), "cpu_s": cpu, "shuffle_write": 2_000_000, "spill": 0,
            "input_bytes": 1_000_000, "input_records": 10, "stage_task_ms": [list(tasks)]}


def usage(prefix, n, **given):
    """The driver's per-interval clocks: `n` samples of every field, each
    0.0 unless given."""
    fields = ("wall_s", "process_cpu_s", "engine_cpu_s", "client_cpu_s", "executor_cpu_s",
              "other_java_cpu_s", "jit_s", "gc_s", "steal_share")
    return {f"{prefix}.{f}": list(given.get(f, [0.0] * n)) for f in fields}


def traced_run():
    """Four days in the order untraced, traced, traced, untraced. The two
    traced days last 10 s; the first has a validation job and two merge
    jobs, the second one rewrite job."""
    return {
        "workload": "scd2_daily",
        "samples": {**usage("setup", 1, wall_s=[6.0], steal_share=[0.5]),
                    **usage("op", 4, wall_s=[12.0, 10.0, 10.0, 8.0],
                            steal_share=[0.5, 0.0, 0.0, 0.0],
                            engine_cpu_s=[7.0, 6.0, 5.0, 4.0],
                            process_cpu_s=[30.0, 12.0, 10.0, 20.0],
                            client_cpu_s=[3.0, 2.0, 1.0, 1.0],
                            jit_s=[20.0, 4.0, 2.0, 10.0]),
                    "op.traced": [0.0, 1.0, 1.0, 0.0]},
        "values": {"retained_heap_mb": 80.0},
        "spans": [span(1, 0, 1, "day", 0, 10, cpu=12.0, gc=0.5),
                  span(2, 1, 1, "HeaderEtlJob.run", 0, 6, cpu=7.0, gc=0.3),
                  span(3, 1, 1, "ItemsEtlJob.runWithMetrics", 6, 10, cpu=5.0, gc=0.2),
                  span(4, 0, 4, "day", 20, 30, cpu=10.0, gc=0.1),
                  span(5, 4, 4, "HeaderEtlJob.run", 20, 25, cpu=5.0, gc=0.1),
                  span(6, 4, 4, "ItemsEtlJob.runWithMetrics", 25, 30, cpu=5.0, gc=0.0)],
        "jobs": [job(1, 1, "", 1, 2, 1.0),
                 job(2, 1, "graft.merge: source stats/cardinality agg", 3, 5, 2.0),
                 job(3, 1, "graft.merge: rewrite + write", 4, 8, 3.0, tasks=(100, 100, 400)),
                 job(4, 4, "graft.merge: rewrite + write", 21, 23, 1.0)],
    }


class PerLayerTest(unittest.TestCase):
    def setUp(self):
        self.metrics, self.detail = measures.per_layer(traced_run())

    def test_every_listed_metric_is_reported(self):
        with open(SPEC) as f:
            listed = [m["name"] for m in json.load(f)["per_layer"]]
        self.assertEqual(sorted(listed), sorted(self.metrics))

    def test_op_layers_are_means_over_traced_days(self):
        m = self.metrics
        self.assertEqual(m["spark.jobs"], 2.0)            # (3 + 1) / 2
        self.assertEqual(m["spark.job_wall_s"], 4.0)      # (1-2 ∪ 3-8 = 6, 2) / 2
        self.assertEqual(m["driver.gap_s"], 6.0)          # (10 - 6, 10 - 2) / 2
        self.assertEqual(m["driver.cpu_s"], 7.5)          # (12 - 6, 10 - 1) / 2
        self.assertAlmostEqual(m["driver.gc_s"], 0.3)
        self.assertEqual(m["driver.client_cpu_s"], 1.5)   # ops 1 and 2: (2 + 1) / 2
        self.assertEqual(m["driver.jit_s"], 3.0)          # (4 + 2) / 2

    def test_trace_overhead_over_blocks_of_four(self):
        # traced (10 + 10) / 2 minus untraced (12 + 8) / 2: the warm-up
        # trend of 12 -> 8 cancels
        self.assertEqual(self.metrics["trace.overhead_s"], 0.0)
        self.assertEqual(self.detail["trace.overhead_cpu_s"], -14.0)  # 11 - 25
        # a fifth, unpaired operation is left out
        self.assertEqual(measures.trace_overhead([4, 5, 5, 4, 9], [0, 1, 1, 0, 0]), 1.0)

    def test_merge_steps_by_job_description(self):
        m, d = self.metrics, self.detail
        self.assertEqual(m["merge.jobs"], 1.5)            # (2 + 1) / 2
        self.assertEqual(m["merge.job_wall_s"], 3.5)      # (3-8 = 5, 2) / 2
        self.assertEqual(d["merge.rewrite.jobs"], 1.0)
        self.assertEqual(d["merge.stats_agg.wall_s"], 1.0)  # (2, 0) / 2
        self.assertEqual(d["header.rewrite.cpu_s"], 2.0)    # (3, 1) / 2
        self.assertEqual(d["items.rewrite.cpu_s"], 0.0)
        self.assertEqual(d["merge.rewrite.task_skew"], 2.5)  # (400 / 100, 100 / 100) / 2

    def test_skew_is_per_stage_weighted_by_tasks(self):
        jobs = [job(1, 1, "", 0, 1, 1.0, tasks=(100, 100, 400)), job(2, 1, "", 0, 1, 1.0)]
        self.assertEqual(measures.task_skew(jobs), (3 * 4 + 2 * 1) / 5)

    def test_skew_leaves_out_single_task_stages(self):
        jobs = [job(1, 1, "", 0, 1, 1.0, tasks=(900,)), job(2, 1, "", 0, 1, 1.0)]
        self.assertEqual(measures.task_skew(jobs), 1.0)


class EndToEndTest(unittest.TestCase):
    def test_every_listed_metric_is_reported(self):
        with open(SPEC) as f:
            listed = [m["name"] for m in json.load(f)["end_to_end"]]
        got = measures.end_to_end(traced_run())
        self.assertEqual(sorted(listed), sorted(got))
        self.assertEqual(got["setup_s"], (1.5, "s"))              # 6 * (1 - 0.5) ** 2
        self.assertEqual(got["op_wall_adj_s"], (9.0, "s"))        # median of 3, 10, 10, 8
        # median of 7 * 0.5 ** 0.5 = 4.95, 6, 5, 4
        self.assertAlmostEqual(got["op_engine_cpu_adj_s"][0], 4.975, places=3)

    def test_raw_wall_time_is_printed_not_gated(self):
        r = traced_run()
        r["samples"].update(header_batch_s=[6.0] * 4, items_batch_s=[4.0] * 4)
        r["values"].update(timed_rows=4000.0, write_amp=3.0, space_amp=0.3)
        r["peak_rss_mb"] = 1500.0
        detail = measures.workload_detail(r)
        self.assertEqual(detail["op.wall_s.p50"], (10.0, "s", 4))
        self.assertEqual(detail["setup.wall_s"], (6.0, "s", None))
        self.assertEqual(detail["ingest_rows_per_s"], (100.0, "rows/s", 4))


if __name__ == "__main__":
    unittest.main()
