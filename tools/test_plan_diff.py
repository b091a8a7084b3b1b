"""Unit tests for plan_diff.py: python3 -m unittest tools/test_plan_diff.py"""

import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

BEFORE = """
===== knn_graph =====
== Physical Plan ==
AdaptiveSparkPlan (4)
+- Exchange (3)
   +- Generate (2)
      +- Scan parquet  (1)

(2) Generate
Arguments: explode(slice(transform(array_sort(x#12), lambdafunction(lambda s_590#12171, lambda s_590#12171, false)), 1, 3)), [list_id#12241]

(3) Exchange
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=30221]

===== Subqueries =====

(5) Window

===== knn_lsh =====
(1) Scan ExistingRDD
Arguments: MapPartitionsRDD[210] at localCheckpoint at Bpe.scala:156, UnsafeArrayData@16fe8b5f
(2) Window
(3) BroadcastHashJoin
Arguments: graft.ext.Multimodal$$$Lambda$7144/0x00007fda19b4a010@5d1e0e8f

[success] Total time: 169 s (02:49), completed Oct 19, 2026, 8:29:13 AM
"""

AFTER = """
===== knn_graph =====
== Physical Plan ==
AdaptiveSparkPlan (4)
+- Exchange (3)
   +- Generate (2)
      +- Scan parquet  (1)

(2) Generate
Arguments: explode(transform(slice(array_sort(x#77), 1, 3), lambdafunction(lambda s_12#80, lambda s_12#80, false))), [list_id#81]

(3) Exchange
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=9]

===== Subqueries =====

(5) Window

===== knn_lsh =====
(1) Scan ExistingRDD
Arguments: MapPartitionsRDD[3] at localCheckpoint at Bpe.scala:160, UnsafeArrayData@2999cc6a
(2) Window
(3) BroadcastHashJoin
Arguments: graft.ext.Multimodal$$$Lambda$6834/0x00007fbd2180a9e8@1c2b3a4d

[success] Total time: 129 s (02:09), completed Oct 19, 2026, 8:49:52 AM
"""


class PlanDiffTest(unittest.TestCase):

    def test_run_local_ids_are_normalized_away(self):
        out = io.StringIO()
        differ = plan_diff.compare(BEFORE, AFTER, out=out)
        self.assertEqual(differ, 1)
        text = out.getvalue()
        self.assertIn("ROW knn_graph: plan differs", text)
        self.assertNotIn("ROW knn_lsh", text)

    def test_counts_per_row(self):
        rows = plan_diff.split_rows(BEFORE)
        self.assertEqual(list(rows), ["knn_graph", "knn_lsh"])
        # the Subqueries section counts toward its row
        self.assertEqual(plan_diff.node_counts(rows["knn_graph"]),
                         {"Exchange": 1, "BroadcastExchange": 0,
                          "Generate": 1, "Window": 1, "Join": 0})
        self.assertEqual(plan_diff.node_counts(rows["knn_lsh"]),
                         {"Exchange": 0, "BroadcastExchange": 0,
                          "Generate": 0, "Window": 1, "Join": 1})

    def test_identical_dumps_and_changed_counts(self):
        self.assertEqual(plan_diff.compare(BEFORE, BEFORE, out=io.StringIO()), 0)
        out = io.StringIO()
        plan_diff.compare(BEFORE, BEFORE.replace("(2) Window", "(2) Sort"),
                          out=out)
        self.assertIn("node counts changed in 1: knn_lsh", out.getvalue())

    def test_normalize(self):
        self.assertEqual(
            plan_diff.normalize("a#12L, plan_id=5, RDD[7] x@1a2b3c4d "
                                "lambda x_590#1 localCheckpoint at K.scala:4 "
                                "part-00000-0123abcd-0123-4567-89ab-0123456789ab-c000"),
            "a#NL, plan_id=N, RDD[N] x@H lambda x_N#N "
            "localCheckpoint at K.scala:N part-N-UUID")


if __name__ == "__main__":
    unittest.main()
