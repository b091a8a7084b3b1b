package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC-style snapshot diff: given two versions of a keyed table, classify
  * every key as added / removed / changed / unchanged — the primitive
  * behind incremental warehouse loads (what changed since the last run?)
  * and dataset-version audits (what did the cleaning pass touch?). The
  * reference re-loads whole KPI tables per run; a diff is how that load
  * shrinks to the delta at warehouse scale.
  *
  * Column comparison uses null-safe inequality (`IS DISTINCT FROM`
  * semantics), so null→value and value→null transitions count as changes
  * and null==null does not.
  *
  * Scale posture: one full-outer shuffle join on the key — both sides
  * stream; no hashing trick can avoid reading both snapshots, but emitting
  * `changed`/`added`/`removed` only keeps the output
  * delta-sized. At 100 TB the snapshots would be bucketed on the key so
  * this join is co-located and shuffle-free — WITH ONE CAVEAT: the
  * null-safe (`<=>`) key equality the default uses is planned as joins on
  * `(coalesce(key, 0), isnull(key))`, expressions the bucket columns can
  * never satisfy, so bucketing is ignored. Real CDC keys are primary keys
  * and non-nullable: pass `nullSafeKeys = false` to join on plain
  * equality and let the bucketed layout carry the join (CdcSpec witnesses
  * the zero-Exchange plan).
  */
object SnapshotDiff {

  /** Row-level diff of `oldDf` → `newDf` keyed on `keyCols`.
    *
    * Output: key columns, `diff_status` ∈ added|removed|changed
    * (unchanged rows are dropped), then for every compared column
    * `old_<col>` / `new_<col>`.
    *
    * @param compareCols columns whose changes matter; defaults to every
    *                    shared non-key column. Columns present in only
    *                    one snapshot are ignored (schema evolution must
    *                    not flag every row as changed).
    * @param nullSafeKeys true (default) matches null keys to null keys
    *                     (`<=>`); false joins on plain equality — rows
    *                     with a null key never match (they classify as
    *                     one removed + one added) but the join keys stay
    *                     bare columns, so a bucketed-on-key layout runs
    *                     it SHUFFLE-FREE. Use false when keys are
    *                     primary-key-like (non-null).
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
           compareCols: Seq[String] = Nil,
           nullSafeKeys: Boolean = true): DataFrame = {
    val shared = oldDf.columns.toSet.intersect(newDf.columns.toSet)
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else oldDf.columns.toSeq.filter(c => shared(c) && !keyCols.contains(c))
    require(cmp.nonEmpty, "snapshot diff needs at least one compared column")
    val o = oldDf.select((keyCols ++ cmp).map(col): _*).alias("o")
    val n = newDf.select((keyCols ++ cmp).map(col): _*).alias("n")
    // Presence markers, not key-null checks: a legitimately-null key
    // column must not masquerade as row absence (same pitfall the SCD2
    // merge fixed with __d_present).
    val oM = o.withColumn("__o_present", lit(true))
    val nM = n.withColumn("__n_present", lit(true))
    val keyEq: (Column, Column) => Column =
      if (nullSafeKeys) _ <=> _ else _ === _
    val joined = oM.join(nM,
      keyCols.map(k => keyEq(oM(k), nM(k))).reduce(_ && _), "full_outer")
    val anyChanged: Column = cmp
      .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduce(_ || _)
    val status = when(col("__o_present").isNull, lit("added"))
      .when(col("__n_present").isNull, lit("removed"))
      .when(anyChanged, lit("changed"))
      .otherwise(lit("unchanged"))
    val keyOut = keyCols.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k))
    val valOut = cmp.flatMap(c =>
      Seq(col(s"o.$c").as(s"old_$c"), col(s"n.$c").as(s"new_$c")))
    joined.select(keyOut ++ (status.as("diff_status") +: valOut): _*)
      .where(col("diff_status") =!= "unchanged")
  }
}
