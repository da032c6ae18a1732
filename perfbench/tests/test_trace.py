"""Self-time arithmetic of trace.py on synthetic span trees."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import trace  # noqa: E402


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "name": i,
            "start_ms": start, "end_ms": end, "counts": {}}


class SelfTimeTest(unittest.TestCase):
    def test_nested_tree_sums_to_root(self):
        spans = [span("w", "", "workload", 0, 100),
                 span("p0", "w", "pass", 0, 40), span("p1", "w", "pass", 50, 90),
                 span("q0", "p0", "query", 5, 35), span("j0", "q0", "job", 10, 20),
                 span("s0", "j0", "stage", 12, 18)]
        st = trace.self_times(spans)
        self.assertEqual(st, {"workload": 20, "pass": 10 + 40, "query": 20, "job": 4, "stage": 6})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_use_their_union(self):
        spans = [span("t", "", "trigger", 0, 100),
                 span("a", "t", "job", 10, 60), span("b", "t", "job", 40, 80)]
        st = trace.self_times(spans)
        self.assertEqual(st["trigger"], 100 - 70)
        self.assertEqual(st["job"], 50 + 40)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span("p", "", "pass", 10, 20), span("c", "p", "query", 0, 15)]
        self.assertEqual(trace.self_times(spans)["pass"], 5)

    def test_orphans_are_reported_and_skipped(self):
        spans = [span("w", "", "workload", 0, 10), span("x", "gone", "job", 0, 5)]
        self.assertEqual(trace.orphans(spans), ["x"])
        self.assertEqual(trace.self_times(spans), {"workload": 10})

    def test_covered(self):
        self.assertEqual(trace.covered([(0, 5), (3, 8), (10, 12)], 1, 11), 7 + 1)
        self.assertEqual(trace.covered([], 0, 10), 0)


if __name__ == "__main__":
    unittest.main()
