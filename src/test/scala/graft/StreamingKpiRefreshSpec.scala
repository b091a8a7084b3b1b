package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.IncrementalKpis
import graft.sources.VersionedTable

/** The reference's whole pipeline in streaming form: facts stream in,
  * each micro-batch appends to a versioned fact table AND refreshes the
  * versioned KPI table incrementally (only the batch's groups
  * recompute). Every batch boundary must equal the full recompute over
  * facts-so-far, and both tables keep per-batch time-travel lineage. */
class StreamingKpiRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def kpiOf(f: DataFrame): DataFrame =
    f.groupBy(col("cat")).agg(count(lit(1)).as("cnt"),
      sum(col("cents")).as("sum_cents"))

  private def collectKpis(df: DataFrame): Seq[(String, Long, Long)] =
    df.select("cat", "cnt", "sum_cents")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq

  test("per-batch incremental KPI refresh == full recompute at every boundary") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_skpi")
    val factsRoot = base.resolve("facts").toString
    val kpiRoot = base.resolve("kpis").toString
    val ckpt = base.resolve("ckpt").toString
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDF().toDF("fid", "cat", "cents").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val first = VersionedTable.versions(spark, factsRoot).isEmpty
          VersionedTable.commit(batch, factsRoot, append = !first)
          val facts = VersionedTable.read(spark, factsRoot)
          if (VersionedTable.versions(spark, kpiRoot).isEmpty) {
            VersionedTable.commit(kpiOf(batch), kpiRoot)
          } else {
            val affected = IncrementalKpis.affectedGroups(
              IncrementalKpis.appendOnlyDiff(batch, Seq("fid")), Seq("cat"))
            val recomputed = kpiOf(
              facts.join(broadcast(affected), Seq("cat"), "left_semi"))
            VersionedTable.commit(IncrementalKpis.refresh(
              VersionedTable.read(spark, kpiRoot), recomputed, affected,
              Seq("cat")), kpiRoot)
          }
          ()
        }
      }.start()
    try {
      input.addData((1L, "a", 100L), (2L, "a", 200L), (3L, "b", 300L))
      q.processAllAvailable()
      input.addData((4L, "a", 50L), (5L, "c", 700L)) // touches a, c; not b
      q.processAllAvailable()
      input.addData((6L, "b", 1L))
      q.processAllAvailable()
      // every KPI version equals the full recompute over facts-so-far
      val expected = Seq(
        Seq(("a", 2L, 300L), ("b", 1L, 300L)),
        Seq(("a", 3L, 350L), ("b", 1L, 300L), ("c", 1L, 700L)),
        Seq(("a", 3L, 350L), ("b", 2L, 301L), ("c", 1L, 700L)))
      assert(VersionedTable.versions(spark, kpiRoot) === Seq(1L, 2L, 3L))
      expected.zipWithIndex.foreach { case (want, i) =>
        assert(collectKpis(VersionedTable.read(spark, kpiRoot,
          Some(i + 1L))) === want, s"KPI version ${i + 1}")
        // the fact table's matching boundary recomputes to the same KPIs
        assert(collectKpis(kpiOf(VersionedTable.read(spark, factsRoot,
          Some(i + 1L)))) === want, s"fact boundary ${i + 1}")
      }
    } finally q.stop()
  }
}
