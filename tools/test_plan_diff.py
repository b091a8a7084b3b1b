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

# hourly_kpis_hod's distinct-aggregate Expand as one run plans it (from a
# `graft.Probe explain` dump), and as another run of the same commit
# plans it: the two distinct groups, the columns that carry them and the
# gid literals that select them in the other order
HOD_V_FIRST = """
===== hourly_kpis_hod =====
(4) Expand
Input [3]: [hour#4822, __u#4823L, __v#4824]
Arguments: [[hour#4822, null, null, 0], [hour#4822, __v#4824, null, 1], [hour#4822, null, __u#4823L, 2]], [hour#4822, __v#4853, __u#4854L, gid#4852]

(6) Exchange
Input [5]: [hour#4822, __v#4853, __u#4854L, gid#4852, count#4866L]
Arguments: hashpartitioning(hour#4822, __v#4853, __u#4854L, gid#4852, 4), ENSURE_REQUIREMENTS, [plan_id=13736]

(8) HashAggregate
Input [5]: [hour#4822, __v#4853, __u#4854L, gid#4852, count(1)#4855L]
Keys [1]: [hour#4822]
Functions [3]: [partial_count(__u#4854L) FILTER (WHERE (gid#4852 = 2)), partial_count(__v#4853) FILTER (WHERE (gid#4852 = 1)), partial_first(count(1)#4855L, true) FILTER (WHERE (gid#4852 = 0))]
"""

HOD_U_FIRST = """
===== hourly_kpis_hod =====
(4) Expand
Input [3]: [hour#91, __u#92L, __v#93]
Arguments: [[hour#91, null, null, 0], [hour#91, __u#92L, null, 1], [hour#91, null, __v#93, 2]], [hour#91, __u#95L, __v#96, gid#94]

(6) Exchange
Input [5]: [hour#91, __u#95L, __v#96, gid#94, count#97L]
Arguments: hashpartitioning(hour#91, __u#95L, __v#96, gid#94, 4), ENSURE_REQUIREMENTS, [plan_id=120]

(8) HashAggregate
Input [5]: [hour#91, __u#95L, __v#96, gid#94, count(1)#98L]
Keys [1]: [hour#91]
Functions [3]: [partial_count(__u#95L) FILTER (WHERE (gid#94 = 1)), partial_count(__v#96) FILTER (WHERE (gid#94 = 2)), partial_first(count(1)#98L, true) FILTER (WHERE (gid#94 = 0))]
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

    def test_distinct_group_order_is_canonical(self):
        self.assertEqual(
            plan_diff.compare(HOD_V_FIRST, HOD_U_FIRST, out=io.StringIO()), 0)
        rows = plan_diff.split_rows(HOD_U_FIRST)["hourly_kpis_hod"]
        self.assertIn("Arguments: [[hour#N, __u#NL, null, 0], "
                      "[hour#N, null, __v#N, 1], [hour#N, null, null, 2]], "
                      "[hour#N, __u#NL, __v#N, gid#N]", rows)

    def test_a_changed_distinct_column_still_differs(self):
        # the second distinct group counts another column (__w, not __v)
        changed = HOD_U_FIRST.replace("__v#", "__w#")
        out = io.StringIO()
        self.assertEqual(plan_diff.compare(HOD_V_FIRST, changed, out=out), 1)
        self.assertIn("ROW hourly_kpis_hod: plan differs", out.getvalue())
        # and so does a swap of the gid that selects each group
        swapped = HOD_U_FIRST.replace("(gid#94 = 1)", "(gid#94 = X)") \
            .replace("(gid#94 = 2)", "(gid#94 = 1)") \
            .replace("(gid#94 = X)", "(gid#94 = 2)")
        self.assertEqual(
            plan_diff.compare(HOD_V_FIRST, swapped, out=io.StringIO()), 1)

    def test_normalize(self):
        self.assertEqual(
            plan_diff.normalize("a#12L, plan_id=5, RDD[7] x@1a2b3c4d "
                                "lambda x_590#1 localCheckpoint at K.scala:4 "
                                "part-00000-0123abcd-0123-4567-89ab-0123456789ab-c000"),
            "a#NL, plan_id=N, RDD[N] x@H lambda x_N#N "
            "localCheckpoint at K.scala:N part-N-UUID")


if __name__ == "__main__":
    unittest.main()
