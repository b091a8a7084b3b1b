package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming hourly KPIs (SURVEY.md §2.7). The reference's
  * "streaming" is an hourly-cron batch over recently-modified S3 CSVs
  * (reference: dags/etl_streaming_pipeline.py:42); a stream instead
  * aggregates as events arrive.
  *
  * Same KPI functions as batch would be ideal, but streaming aggregations
  * need event-time windows for state eviction — so the windowed KPI here is
  * the calendar-hour variant (the batch twin is Kpis.hourlyKpisWindow), with
  * approx_count_distinct standing in for exact distincts (exact distinct
  * over unbounded keys is unbounded state at 100 TB — SURVEY.md §2.4 A3).
  * State is bounded by (watermark horizon × key cardinality per hour).
  */
object StreamingKpis {

  /** Calendar-hour tumbling-window KPIs on the stream (batch twin:
    * Kpis.hourlyKpisWindow), with a 2-hour event-time watermark. */
  def hourlyWindowedKpis(events: DataFrame, tsCol: String,
                         userCol: String): DataFrame =
    events.withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour").as("hour_window"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col(userCol)).as("approx_unique_users"))
      .select(col("hour_window.start").as("hour_start"),
        col("n_events"), col("approx_unique_users"))
}
