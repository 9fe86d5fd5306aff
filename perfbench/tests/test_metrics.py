"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_value_has_ten_samples_beyond_it(self):
        samples = list(range(1, 41))  # 1..40
        value, pct, n = metrics.tail(samples)
        self.assertEqual(n, 40)
        self.assertEqual(value, 30)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 4)[0],
                         metrics.tail(sorted([5, 1, 4, 2, 3] * 4))[0])

    def test_too_few_samples_has_no_percentile(self):
        value, pct, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertIsNone(pct)
        self.assertEqual((value, n), (3.0, 3))

    def test_eleven_samples_is_the_smallest(self):
        value, pct, _ = metrics.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100.0 / 11)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9), (8.5, 8.7)]), 7)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_driver_only_is_wall_minus_union_of_jobs(self):
        entries = [(0, 10), (20, 30)]
        # overlapping jobs in the first entry cover 2..7; one job spills
        # past the second entry's end and one lies outside every entry
        jobs = [(2, 5), (4, 7), (25, 40), (12, 15)]
        self.assertEqual(metrics.driver_only(entries, jobs), (10 - 5) + (10 - 5))

    def test_self_time_with_overlapping_children(self):
        span = (100, 200)
        children = [(110, 150), (140, 160), (190, 250), (50, 105)]
        # covered: 100..105, 110..160, 190..200 = 5 + 50 + 10
        self.assertEqual(metrics.self_time(span, children), 100 - 65)

    def test_self_time_without_children(self):
        self.assertEqual(metrics.self_time((1.5, 4.0), []), 2.5)


class AmplificationTest(unittest.TestCase):
    def test_write_amp_from_before_after_sizes(self):
        # 1 MB of delta input grew the written bytes from 10 MB to 13 MB
        self.assertEqual(metrics.amp(10 << 20, 13 << 20, 1 << 20), 3.0)

    def test_space_amp_from_layouts_and_checkpoint_growth(self):
        # 400 bytes of layouts at the end, the checkpoint root grew 100 -> 300
        self.assertEqual(metrics.space_amp(400, 100, 300, 200), 3.0)

    def test_zero_base(self):
        self.assertEqual(metrics.amp(0, 5, 0), 0.0)


class SetupTest(unittest.TestCase):
    def test_setup_is_the_cold_first_set_up(self):
        rec = {"setups": [{"total_s": 6.0}, {"total_s": 1.0}, {"total_s": 1.4}],
               "runs": [{"name": "a", "start": 0, "end": 2000, "ok": True}],
               "peak_rss_kb": 1024}
        e2e, extra = metrics.end_to_end(rec)
        self.assertEqual(e2e["setup_s"], 6.0)
        self.assertEqual(extra["setup_warm_s"], 1.2)
        self.assertEqual(e2e["makespan_s"], 2.0)


class CallSiteTest(unittest.TestCase):
    SITE = ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n"
            "{frame}\n"
            "graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:16)\n"
            "perfbench.Harness$.main(Harness.scala:99)")

    def test_first_graft_frame_names_the_package(self):
        for frame, module in [
                ("graft.operators.Dedup$.minhash(Dedup.scala:10)", "operators"),
                ("graft.sources.Catalog.buildTextIndex(Catalog.scala:1460)", "sources"),
                ("graft.streaming.Replay$.run(Replay.scala:200)", "streaming"),
                ("graft.functions.KmvSketch$Kmv.merge(KmvSketch.scala:3)", "functions"),
                ("graft.Tables$.load(Tables.scala:21)", "Tables")]:
            self.assertEqual(metrics.module_of(self.SITE.format(frame=frame)), module)

    def test_no_graft_frame(self):
        self.assertIsNone(metrics.module_of(
            "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:1)\n"
            "perfbench.Harness$.main(Harness.scala:110)"))
        self.assertIsNone(metrics.module_of(None))

    def test_pool_thread_job_takes_its_execution_module(self):
        pool = "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$1"
        jobs = [{"call_site": pool, "execution": "7"},
                {"call_site": self.SITE.format(
                    frame="graft.sources.Catalog.mvState(Catalog.scala:2027)"),
                 "execution": "7"},
                {"call_site": pool, "execution": "8"},
                {"call_site": pool, "execution": None}]
        self.assertEqual(metrics.job_modules(jobs), ["sources", "sources", None, None])

    def test_prefix_is_a_package_not_a_word(self):
        self.assertIsNone(metrics.module_of("graftbench.Main$.main(Main.scala:1)"))


if __name__ == "__main__":
    unittest.main()
