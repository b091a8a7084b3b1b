package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sharding for training: the shard assignment AND
  * the order that cuts it are pure functions of each row's key (md5), so
  * the "random" training order is exactly reproducible across runs,
  * engines and cluster layouts — the property `df.repartition(N)` +
  * `.sample`-style shuffles cannot give (round-robin and RNG both move
  * with partition layout).
  */
object TrainingShards {

  /** TOKEN-balanced deterministic shard assignment: adds `shard` (long in
    * [0, nShards)) and `weight` (the evaluated weight, long) to `df` so
    * that every shard carries ~total/nShards weight (± one max-weight
    * row), not ~equal ROW counts. Docs vary 100× in length; a training
    * loader that steps shards in lockstep wants equal token budgets per
    * shard, which hash sharding only gives in expectation.
    *
    * Construction: rows take the md5(key) order (a deterministic shuffle
    * order — balance does NOT cost the reproducible-random order), and
    * the shard is cut from the running weight total: shard =
    * floor(prefix_weight * nShards / total). All integer arithmetic —
    * bit-stable across engines, so the assignment is oracle-checkable.
    *
    * Scale posture: the prefix sum is NOT one global-order window (a
    * single-partition scan-stopper at corpus scale). Rows bucket by the
    * first `hexChars` md5 chars — bucket order IS md5 order, so a
    * per-bucket cumsum (bounded partitions, one exchange) plus each
    * bucket's starting offset reconstructs the global prefix sum exactly.
    * Offsets come from a per-bucket total aggregate (map-side partial,
    * 16^hexChars rows) run through the only unpartitioned window —
    * bounded by construction at 16^hexChars rows — and broadcast back.
    * The weight expression is evaluated in both the offsets pass and the
    * assignment pass (two pruned scans); at corpus scale that is cheaper
    * than caching or re-joining the corpus, and the optimizer prunes both
    * scans to (key, weight-input) columns. Weights are assumed
    * non-negative (token/byte counts); a negative weight makes the
    * prefix sum non-monotonic and the shard cut meaningless. */
  def tokenBalancedAssign(df: DataFrame, key: Column, weight: Column,
                          nShards: Int, hexChars: Int = 3): DataFrame = {
    require(nShards > 0, s"need positive shard count: $nShards")
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1, 8]: $hexChars")
    val main = df
      .withColumn("weight", weight.cast("long"))
      .withColumn("__ord", md5(key.cast("string")))
      .withColumn("__b",
        conv(substring(col("__ord"), 1, hexChars), 16, 10).cast("long"))
    val totals = main.select(col("__b"), col("weight"))
      .groupBy(col("__b")).agg(sum(col("weight")).as("__bt"))
    val wAll = Window.orderBy(col("__b"))
    val offsets = totals
      .withColumn("__off", coalesce(sum(col("__bt"))
        .over(wAll.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total", sum(col("__bt")).over(
        wAll.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("__b"), col("__off"), col("__total"))
    val inB = Window.partitionBy(col("__b")).orderBy(col("__ord"), key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    main
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("__cum", col("__off") + sum(col("weight")).over(inB))
      // start-of-row prefix cut; `least` clamps the degenerate zero-weight
      // final row (start == total); zero-total corpora all land in shard 0
      .withColumn("shard", least(lit(nShards - 1L),
        when(col("__total") > 0L,
          expr(s"((__cum - weight) * $nShards) div __total"))
          .otherwise(lit(0L))))
      .drop("__ord", "__b", "__off", "__total", "__cum")
  }
}
