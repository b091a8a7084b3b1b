package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Kpis, Validation}

/** The reference's five-task Airflow DAG collapsed into one lazy Spark plan
  * (SURVEY.md §3.1): extract → clean → validate → KPIs, with the S3-CSV
  * staging round-trips between tasks replaced by plan composition. The
  * warehouse load (task 5) is [[graft.sources.JdbcUpsertSink]].
  *
  * Each stage is a pure DataFrame => DataFrame function; "orchestration" is
  * function application, and Catalyst sees the whole computation at once —
  * filters/projections push into the scans and the ingest never
  * materializes (contrast: reference materializes 4 CSV round-trips,
  * dags/etl_streaming_pipeline.py:152).
  */
object Pipeline {

  final case class KpiOutputs(genreKpis: DataFrame, hourlyKpis: DataFrame,
                              validationReport: DataFrame)

  /** Ingest cleaning, reference semantics (SURVEY.md §2.5): union of
    * per-source frames, event-identity dedup, null-key drop. */
  def cleanEvents(batches: Seq[DataFrame], idCols: Seq[String],
                  requiredKeys: Seq[String]): DataFrame =
    Cleaning.dedupByKey(
      Cleaning.dropNullKeys(Cleaning.unionAll(batches), requiredKeys), idCols)

  // the events-shaped columns [[run]] reads
  private val TsCol = "ts"
  private val UserCol = "user_id"
  private val TypeCol = "event_type"

  /** The analytical core over an events-shaped table: validation gate +
    * both KPI families from one cleaned frame (reference:
    * dags/etl/kpi_processor.py:40-101 + schema_check.py:258-329). */
  def run(spark: SparkSession, events: DataFrame): KpiOutputs = {
    val cleaned = Validation.requireColumns(events, Seq(TsCol, UserCol, TypeCol))
      .fold(
        missing => throw new IllegalArgumentException(
          s"missing required columns: ${missing.mkString(", ")}"),
        identity)
    val report = Validation.report(cleaned, Seq(
      Validation.rowCount,
      Validation.nullCount(UserCol),
      Validation.dupCount(Seq(UserCol, TsCol)),
      Validation.violations("null_ts", col(TsCol).isNull)))
    val hourly = Kpis.hourlyKpisHod(cleaned, TsCol, UserCol, TypeCol)
    val genre = cleaned.groupBy(col(TypeCol))
      .agg(count(lit(1)).as("listen_count"),
        round(avg(col("value")), 6).as("avg_duration"))
      .orderBy(col(TypeCol))
    KpiOutputs(genre, hourly, report)
  }
}
