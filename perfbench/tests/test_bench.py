"""Tests of the benchmark's own logic.

  python3 -m unittest discover -s perfbench/tests -v

The last two classes build graft and start a JVM (about two minutes);
set PERFBENCH_FAST=1 to skip them.
"""
import os
import statistics
import subprocess
import sys
import tempfile
import types
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import analysis  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402

SLOW = os.environ.get("PERFBENCH_FAST") != "1" and os.path.isdir(run.SRC)


class PercentileRule(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        xs = list(range(1, 101))          # p90 = 90, ten samples beyond
        self.assertEqual(analysis.percentile(xs, 90), 90)
        self.assertIsNone(analysis.percentile(xs[:99], 90))  # nine beyond
        self.assertIsNone(analysis.percentile(xs, 99))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 50 + [2.0] * 9
        self.assertIsNone(analysis.percentile(xs, 50))

    def test_highest_percentile_picks_the_largest_supported(self):
        self.assertEqual(analysis.highest_percentile(list(range(1000))), (99, 989))
        self.assertEqual(analysis.highest_percentile(list(range(100)), (99, 90, 50)), (90, 89))
        self.assertIsNone(analysis.highest_percentile(list(range(15)), (90,)))


class HarrellDavis(unittest.TestCase):
    def test_betainc(self):
        self.assertAlmostEqual(analysis.betainc(1.5, 1.5, 0.5), 0.5)
        self.assertAlmostEqual(analysis.betainc(1, 1, 0.3), 0.3)
        self.assertAlmostEqual(analysis.betainc(2, 1, 0.5), 0.25)

    def test_symmetric_sample_gives_its_centre(self):
        self.assertAlmostEqual(analysis.hd_quantile([1, 2, 3]), 2)
        self.assertAlmostEqual(analysis.hd_quantile([0, 1]), 0.5)
        self.assertAlmostEqual(analysis.hd_quantile([5.0] * 7), 5.0)

    def test_smoother_than_the_sample_median_across_a_gap(self):
        a = [1, 2, 3, 10, 11, 12, 13]
        b = [1, 2, 3, 4, 11, 12, 13]          # one value crosses the gap
        self.assertEqual(statistics.median(b) - statistics.median(a), -6)
        self.assertLess(abs(analysis.hd_quantile(b) - analysis.hd_quantile(a)), 3)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "name": f"s{i}", "layer": layer,
            "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 2, 2, 3), span(4, 1, 5, 9)]
        st = analysis.self_times(spans)
        self.assertEqual(st, {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})
        self.assertEqual(sum(st.values()), 10)

    def test_overlapping_siblings_are_counted_once(self):
        # two concurrent jobs under one execute span
        spans = [span(1, 0, 0, 10), span(2, 1, 2, 6), span(3, 1, 4, 8)]
        st = analysis.self_times(spans)
        self.assertEqual(st, {1: 4.0, 2: 2.0, 3: 4.0})
        self.assertEqual(sum(st.values()), 10)

    def test_child_overhanging_its_parent_is_clipped(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 5, 12)]
        self.assertEqual(analysis.self_times(spans), {1: 5.0, 2: 5.0})

    def test_union_length(self):
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(analysis.union_length([(0, 2), (8, 12)], 1, 10), 3)


class Attribution(unittest.TestCase):
    layers = {"Tables": "sources", "Dedup": "operators", "EventStream": "streaming"}

    def test_loader_jobs_are_sources_anywhere(self):
        self.assertEqual(analysis.job_layer("parquet at Tables.scala:25", "build", self.layers), "sources")
        self.assertEqual(analysis.job_layer("parquet at Tables.scala:25", "pipeline.run", self.layers), "sources")

    def test_other_construction_jobs_are_operators(self):
        self.assertEqual(analysis.job_layer("localCheckpoint at Dedup.scala:99", "build", self.layers), "operators")
        self.assertEqual(analysis.job_layer("count at Unknown.scala:1", "build", self.layers), "operators")

    def test_jobs_outside_construction_are_exec(self):
        self.assertEqual(analysis.job_layer("save at GraftBench.scala:230", "execute", self.layers), "exec")
        self.assertEqual(analysis.job_layer("", "streaming.ingest", self.layers), "exec")


class IngestBatches(unittest.TestCase):
    def test_same_seed_same_batch(self):
        self.assertTrue(gen_data.batch_table(7, 2, 500).equals(gen_data.batch_table(7, 2, 500)))

    def test_seed_and_index_change_the_batch(self):
        a = gen_data.batch_table(7, 2, 500)
        self.assertFalse(a.equals(gen_data.batch_table(8, 2, 500)))
        self.assertFalse(a.equals(gen_data.batch_table(7, 3, 500)))

    def test_batches_arrive_in_event_time_order(self):
        a, b = gen_data.batch_table(1, 0, 500), gen_data.batch_table(1, 1, 500)
        self.assertLess(max(a.column("ts").to_pylist()), min(b.column("ts").to_pylist()))
        self.assertEqual(b.column("event_id").to_pylist()[0], 500)

    def test_staged_files_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            m1 = gen_data.gen_batches(os.path.join(d, "a"), 3, 2, 300)
            m2 = gen_data.gen_batches(os.path.join(d, "b"), 3, 2, 300)
            for x, y in zip(m1, m2):
                self.assertEqual(x["rows"], y["rows"])
                self.assertEqual(x["stage_rows"], y["stage_rows"])
                with open(os.path.join(x["dir"], "events.parquet"), "rb") as f1, \
                        open(os.path.join(y["dir"], "events.parquet"), "rb") as f2:
                    self.assertEqual(f1.read(), f2.read())

    def test_expected_stage_rows(self):
        t = gen_data.batch_table(5, 0, 1000)
        self.assertEqual(gen_data.expected_stage_rows(t),
                         {"logParse": 1000, "jsonExtract": 10, "normalize": 1000,
                          "kafkaRoundTrip": 1000})


@unittest.skipUnless(SLOW, "needs graft sources and a JVM")
class FingerprintSelfTest(unittest.TestCase):
    def test_order_insensitive_and_value_sensitive(self):
        b = run.build()
        cp = os.pathsep.join([os.path.join(run.SPARK_JARS, "*"), os.path.join(b, "main"),
                              os.path.join(b, "bench")])
        opens = [a for p in run.JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        with tempfile.TemporaryDirectory() as d:
            cmd = (["java", "-XX:-UsePerfData"] + opens +
                   [f"-Djava.io.tmpdir={d}", "-cp", cp, "graftbench.Main", "selftest"])
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=d, timeout=300)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertIn("ok   fingerprint one_value_changed", p.stdout)


@unittest.skipUnless(SLOW, "needs graft sources and a JVM")
class KnownQueryAttribution(unittest.TestCase):
    """Call-site attribution on queries whose construction is known at
    the commit the benchmark was defined on."""

    def traced_ops(self, workload, queries):
        args = types.SimpleNamespace(workload=workload, queries=queries, seed=1,
                                     seconds=1, trace=1)
        _, report = run.layer_metrics(run.measure(args), args)
        return report["passes"][0]["ops"]

    def test_construction_jobs(self):
        ops = self.traced_ops("dashboard", ["q02_filter_pushdown"])
        self.assertEqual(ops["q02_filter_pushdown"]["sources_jobs"], 1)
        self.assertEqual(ops["q02_filter_pushdown"]["operators_jobs"], 0)
        ops = self.traced_ops("curation", ["q117_quality_classifier", "q100_bpe_train"])
        self.assertGreaterEqual(ops["q117_quality_classifier"]["operators_jobs"], 12)
        self.assertGreaterEqual(ops["q100_bpe_train"]["persisted_left"], 1)


if __name__ == "__main__":
    unittest.main()
