"""Tests of the benchmark's metric math: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class Tail(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(M.tail(list(range(10))))

    def test_eleven_samples_give_the_lowest(self):
        # 1..11: the sample 1 has ten samples beyond it
        self.assertEqual(M.tail(list(range(11, 0, -1))), (1, 100.0 / 11, 11))

    def test_two_hundred_samples_give_p95(self):
        value, pct, n = M.tail(list(range(1, 201)))
        self.assertEqual((value, pct, n), (190, 95.0, 200))
        self.assertEqual(sum(1 for x in range(1, 201) if x > value), 10)

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(M.median([]), 0.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(M.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(M.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(M.self_time((0, 10), [(-5, 2), (8, 20)]), 6)

    def test_union_of_disjoint_and_empty_intervals(self):
        self.assertEqual(M.union_length([(0, 1), (2, 4), (5, 5)]), 3)


class Attribution(unittest.TestCase):
    def spans(self):
        return M.depths([
            {"id": 1, "parent": 0, "t0": 0, "t1": 100, "seq": True},
            {"id": 2, "parent": 1, "t0": 10, "t1": 40, "seq": True},
            {"id": 3, "parent": 1, "t0": 20, "t1": 60, "seq": False}])

    def test_deepest_sequential_span_owns_an_event(self):
        s = self.spans()
        self.assertEqual(M.owner(s, 15), 1)
        # span 3 overlaps its siblings, so it never owns events
        self.assertEqual(M.owner(s, 50), 0)
        self.assertIsNone(M.owner(s, 150))

    def test_jobs_inside_their_spans_pass(self):
        failing, unowned = M.parts_check(self.spans(), [(1, 12, 30), (2, 45, 90)])
        self.assertEqual((failing, unowned), ([], []))

    def test_a_job_leaking_past_its_span_fails_it_and_its_ancestors_keep(self):
        # job 1 starts in span 2 (10..40) and runs 20 ms past its end;
        # span 1 (0..100) still holds the whole job
        failing, unowned = M.parts_check(self.spans(), [(1, 30, 60)])
        self.assertEqual((failing, unowned), ([1], []))

    def test_a_small_leak_is_within_the_tolerance(self):
        failing, _ = M.parts_check(self.spans(), [(1, 30, 41)])
        self.assertEqual(failing, [])

    def test_a_parent_job_running_into_a_child_fails_the_parent(self):
        # job 1 starts in span 1's own time and overlaps child span 2
        failing, _ = M.parts_check(self.spans(), [(1, 2, 25)])
        self.assertEqual(failing, [0])

    def test_a_job_outside_every_span_is_unowned(self):
        failing, unowned = M.parts_check(self.spans(), [(7, 120, 130), (8, 5, 8)])
        self.assertEqual((failing, unowned), ([], [7]))

    def test_depths(self):
        self.assertEqual([s["depth"] for s in self.spans()], [0, 1, 1])


class ListenerOverhead(unittest.TestCase):
    def test_only_callbacks_inside_rounds_count(self):
        # 100 ms of rounds; 5 ms of callbacks inside them, 50 ms outside
        got = M.listener_overhead([(0, 40), (100, 160)],
                                  [(10, 2e6), (150, 3e6), (80, 50e6)])
        self.assertAlmostEqual(got["value"], 100 / 95)
        self.assertEqual((got["num"], got["base"], got["callback_ms"]), (100, 95, 5))


class Ratio(unittest.TestCase):
    def test_ratio_keeps_its_base(self):
        self.assertEqual(M.ratio(3, 12), {"value": 0.25, "num": 3, "base": 12})

    def test_zero_base(self):
        self.assertEqual(M.ratio(3, 0)["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
