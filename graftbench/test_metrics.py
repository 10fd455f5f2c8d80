"""Tests of the benchmark's trace arithmetic on synthetic spans and jobs.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import unittest

import metrics


def span(id, parent, layer, start_ms, end_ms, failed=False):
    return {"id": id, "parent": parent, "name": f"{layer}.X.f{id}", "layer": layer,
            "pass": 1, "start_ms": start_ms, "end_ms": end_ms,
            "start_ns": start_ms * 1_000_000, "end_ns": end_ms * 1_000_000,
            "wall_s": (end_ms - start_ms) / 1000.0, "failed": failed,
            "tag": f"graftbench-span-{id}"}


def job(id, start_ms, end_ms, tags=(), run_ms=0, stages=1, stages_run=1, tasks=1, **kw):
    j = {"id": id, "start_ms": start_ms, "end_ms": end_ms, "tags": list(tags),
         "stages": stages, "stages_run": stages_run, "tasks": tasks, "run_ms": run_ms,
         "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
         "result": 0, "read": 0, "written": 0}
    j.update(kw)
    return j


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        parent = span(1, 0, "harness", 0, 1000)
        children = [span(2, 1, "operators", 100, 400), span(3, 1, "operators", 300, 600),
                    span(4, 1, "sources", 900, 1200)]  # clipped at the parent's end
        # covered: [100, 600) and [900, 1000) -> 0.6 s of 1.0 s
        self.assertAlmostEqual(metrics.self_time(parent, children), 0.4)


class DriverTimeTest(unittest.TestCase):
    def test_driver_is_wall_minus_job_union(self):
        s = span(1, 0, "operators", 1000, 3000)
        jobs = [job(1, 1200, 1700), job(2, 1500, 2000), job(3, 2500, 2600)]
        # job union [1200, 2000) + [2500, 2600) = 0.9 s of 2.0 s
        self.assertAlmostEqual(metrics.driver_time(s, jobs), 1.1)

    def test_jobs_outside_the_span_are_clipped(self):
        s = span(1, 0, "operators", 1000, 2000)
        self.assertAlmostEqual(metrics.driver_time(s, [job(1, 500, 1500), job(2, 1900, 2500)]), 0.4)


class CoreUtilTest(unittest.TestCase):
    def test_core_util(self):
        self.assertAlmostEqual(metrics.core_util(task_run_s=6.0, wall_s=3.0, cores=4), 0.5)
        self.assertEqual(metrics.core_util(1.0, 0.0, 4), 0.0)


class AttributionTest(unittest.TestCase):
    def test_tag_beats_time_and_innermost_wins(self):
        spans = [span(1, 0, "harness", 0, 10_000), span(2, 1, "functions", 100, 5000),
                 span(3, 1, "streaming", 5000, 9000)]
        jobs = [job(1, 200, 300, tags=["graftbench-span-1", "graftbench-span-2"]),
                job(2, 6000, 7000),  # untagged: the innermost span open at its start
                job(3, 6000, 7000, tags=["graftbench-span-2"])]
        owned = metrics.attribute_jobs(spans, jobs)
        self.assertEqual([j["id"] for j in owned[2]], [1, 3])
        self.assertEqual([j["id"] for j in owned[3]], [2])
        self.assertEqual(owned[1], [])


class EndToEndTest(unittest.TestCase):
    def test_pass_medians_and_setup(self):
        def p(wall, cpu, driver, heap):
            return {"wall_s": wall, "cpu_s": cpu, "driver_cpu_s": driver, "peak_heap_mib": heap}
        res = {"setup_end_ms": 25_500,
               "passes": [p(7.0, 2.5, 1.2, 250.0), p(5.0, 1.9, 0.9, 200.0), p(5.5, 1.8, 0.8, 210.0)]}
        m = metrics.end_to_end(res, launched_ms=1_500)
        self.assertAlmostEqual(m["setup_s"], 24.0)
        self.assertAlmostEqual(m["total_s"], 5.5)
        self.assertAlmostEqual(m["cpu_s"], 1.9)
        self.assertAlmostEqual(m["driver_cpu_s"], 0.9)
        self.assertAlmostEqual(m["peak_heap_mib"], 210.0)


class PerLayerTest(unittest.TestCase):
    def trace(self):
        spans = [span(1, 0, "harness", 0, 4000),
                 span(2, 1, "operators", 0, 2000),
                 span(3, 1, "operators", 2000, 3000, failed=True),
                 span(4, 1, "sources", 3000, 3900),
                 span(5, 0, "harness", 4000, 8000),
                 span(6, 5, "operators", 4000, 6000),
                 span(7, 5, "operators", 6000, 7000),
                 span(8, 5, "sources", 7000, 7900)]
        jobs = [job(1, 500, 1500, tags=["graftbench-span-2"], run_ms=4000, stages=3,
                    stages_run=2, tasks=4, written=1048576),
                job(2, 3100, 3600, tags=["graftbench-span-4"], run_ms=1000, read=2 * 1048576),
                job(3, 4500, 5500, tags=["graftbench-span-6"], run_ms=4000, stages=3,
                    stages_run=2, tasks=4),
                job(4, 7100, 7600, tags=["graftbench-span-8"], run_ms=1000, read=2 * 1048576)]
        stream = [{"query": "q_p1", "batch": 0, "end_ms": 3000, "duration_ms": 400,
                   "input_rows": 100, "state_rows": 10},
                  {"query": "q_p1", "batch": 1, "end_ms": 3500, "duration_ms": 600,
                   "input_rows": 100, "state_rows": 30}]
        return {"cores": 4, "spans": spans, "jobs": jobs, "stream": stream}

    def test_per_pass_means(self):
        m = metrics.per_layer(self.trace())
        self.assertEqual(m["operators.calls"], 2)
        self.assertAlmostEqual(m["operators.wall_s"], 3.0)
        self.assertAlmostEqual(m["operators.driver_s"], 2.0)
        self.assertEqual(m["operators.jobs"], 1)
        self.assertEqual(m["operators.stages"], 2)
        self.assertEqual(m["operators.stages_skipped"], 1)
        self.assertAlmostEqual(m["operators.task_run_s"], 4.0)
        self.assertAlmostEqual(m["operators.core_util"], 4.0 / (3.0 * 4))
        self.assertAlmostEqual(m["sources.read_mib"], 2.0)
        self.assertAlmostEqual(m["sources.written_mib"], 0.5)
        self.assertEqual(m["functions.calls"], 0)

    def test_streaming_and_coverage(self):
        m = metrics.per_layer(self.trace())
        self.assertEqual(m["streaming.batches"], 1)
        self.assertAlmostEqual(m["streaming.batch_p50_s"], 0.5)
        self.assertEqual(m["streaming.state_rows"], 15)
        self.assertAlmostEqual(m["streaming.input_rows_per_s"], 200.0)
        self.assertAlmostEqual(m["trace.total_s"], 4.0)
        self.assertAlmostEqual(m["trace.span_coverage"], 7.8 / 8.0)
        self.assertAlmostEqual(m["harness.self_s"], 0.1)

    def test_every_named_metric_is_reported(self):
        m = metrics.per_layer(self.trace())
        self.assertEqual(sorted(m), sorted(n for n, _ in metrics.per_layer_names()))


if __name__ == "__main__":
    unittest.main()
