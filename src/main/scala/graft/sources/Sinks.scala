package graft.sources

import org.apache.spark.sql.DataFrame

/** File sinks (SURVEY.md §2.1 S4-S5).
  *
  * The reference serializes every staging/output dataset to a SINGLE CSV
  * object per write (reference: dags/etl/extract_stream_data.py:79-100,
  * kpi_processor.py:27-37) — an anti-pattern for data-volume paths. Here
  * staging/data paths use partitioned parquet — columnar, splittable,
  * predicate-pushdown-able on re-read; `partitionBy` gives real partition
  * pruning downstream (SURVEY.md §4 "partition pruning" row) — and the
  * KPI frames go straight to the warehouse upsert.
  */
object Sinks {

  /** Staging sink: partitioned parquet (replaces the reference's CSV
    * staging round-trips). */
  def parquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** S5: JSON report sink (validation reports are single-row frames). */
  def json(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)
}
