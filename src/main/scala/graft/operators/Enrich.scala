package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived-column operators of the reference's load step (SURVEY.md
  * P10/P11): defaults for missing columns (P10) and the hour-of-day →
  * timestamp derivation (P11) that `load_to_redshift.py` applies before
  * the warehouse write. Both are projections; neither shuffles.
  */
object Enrich {

  /** P10: fill expected-but-missing columns with defaults
    * (reference: dags/etl/load_to_redshift.py:246-251). */
  def fillMissing(df: DataFrame, defaults: Map[String, Any]): DataFrame =
    defaults.foldLeft(df) { case (acc, (c, d)) =>
      if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(d))
    }

  /** P11: int hour-of-day → timestamp on a PARAMETERIZED anchor day — the
    * reference anchors on wall-clock utcnow() which is nondeterministic
    * (reference: dags/etl/load_to_redshift.py:253-261; SURVEY.md §7.5.1b). */
  def hourToTimestamp(df: DataFrame, hourCol: String, anchorDate: String,
                      out: String): DataFrame =
    df.withColumn(out, expr(
      s"to_timestamp('$anchorDate') + make_interval(0, 0, 0, 0, $hourCol, 0, 0)"))
}
