package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type 2 merge — versioned dimension history.
  *
  * The reference's warehouse load replaces dimension rows destructively
  * (delete+insert keyed on business key + load date,
  * `dags/etl/load_to_redshift.py:186-203`), losing attribute history. SCD2
  * is the standard warehouse answer: each key carries versioned rows with
  * `[effective_from, effective_to)` validity, the open version has
  * `effective_to = NULL`; an incoming snapshot closes changed versions and
  * appends new ones.
  *
  * Scale shape: ONE full-outer join of the open slice against the update
  * snapshot on the business key, then each joined row emits its 1-2 result
  * rows through a generated array + explode — NOT three filtered branches
  * off the join (Spark would recompute the join per branch; same
  * exchange-reuse pitfall as the dedup self-joins, see
  * `ext/Dedup.jaccardPairs`). Closed historical rows pass through
  * untouched (at warehouse scale: partition the dimension by open/closed
  * so the closed majority is never read).
  */
object Scd {

  /** Merge an update snapshot into a type-2 dimension.
    *
    * @param dim     current dimension: key cols + attr cols + `fromCol` +
    *                `toCol` (NULL = open version)
    * @param updates snapshot: key cols + attr cols (one row per key)
    * @param keys    business key columns
    * @param attrs   tracked attribute columns — a change in ANY (null-safe
    *                compare) closes the open version
    * @param asOf    effective date of the snapshot
    * @return the merged dimension (same schema as `dim`): unchanged rows,
    *         closed-out old versions (`toCol = asOf`), new open versions
    */
  def scd2Merge(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                attrs: Seq[String], asOf: Column,
                fromCol: String = "effective_from",
                toCol: String = "effective_to"): DataFrame = {
    // explicit presence markers on BOTH sides: inferring dim-side presence
    // from fromCol nullability would misclassify an open row whose
    // effective_from is legitimately NULL as absent (dropping its history).
    val open = dim.where(col(toCol).isNull)
      .withColumn("__d_present", lit(true))
    val closed = dim.where(col(toCol).isNotNull)
    val u = updates.select(
      keys.map(col) ++ attrs.map(c => col(c).as(s"__u_$c")) :+
        lit(true).as("__u_present"): _*)
    val j = open.join(u, keys, "full_outer")
    val dPresent = col("__d_present") <=> lit(true)
    val uPresent = col("__u_present") <=> lit(true)
    val differs = attrs.map(c => !(col(c) <=> col(s"__u_$c"))).reduce(_ || _)
    def emit(attrCols: Seq[Column], from: Column, to: Column) =
      struct(attrCols ++ Seq(from.as(fromCol), to.as(toCol)): _*)
    val nullTo = lit(null).cast(dim.schema(toCol).dataType)
    // each joined row contributes 0-2 versions; when() leaves nulls for
    // the cases that don't apply and the post-explode filter drops them.
    val versions = array(
      // unchanged open version (update absent or attrs identical)
      when(dPresent && (!uPresent || !differs),
        emit(attrs.map(col), col(fromCol), nullTo)),
      // changed: close the old version at asOf
      when(dPresent && uPresent && differs,
        emit(attrs.map(col), col(fromCol), asOf)),
      // changed or brand-new key: open a new version at asOf
      when(uPresent && (!dPresent || differs),
        emit(attrs.map(c => col(s"__u_$c").as(c)), asOf, nullTo)))
    // explode_outer: see Dedup.shingleRows — inner explode of a COMPUTED
    // array invites InferFiltersFromGenerate to re-evaluate it in a filter
    // below the Generate; the null filter on the output is needed anyway.
    val merged = j.select(keys.map(col) :+ explode_outer(versions).as("__v"): _*)
      .where(col("__v").isNotNull)
      .select(keys.map(col) ++ (attrs :+ fromCol :+ toCol)
        .map(c => col(s"__v.$c").as(c)): _*)
    closed.select(merged.columns.map(col).toIndexedSeq: _*).union(merged)
  }

}
