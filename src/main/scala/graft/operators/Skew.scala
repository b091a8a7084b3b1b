package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot group keys (SURVEY.md §7.5.6).
  *
  * The reference folds all history into 24 hour-of-day buckets
  * (dags/etl/kpi_processor.py:61) — at 100 TB that is 24 reduce keys, i.e.
  * a guaranteed straggler per hot hour. AQE's skew-join handling covers
  * joins; for AGGREGATIONS over decomposable functions (count/sum/min/max)
  * the standard fix is two-phase salted aggregation: shard each key across
  * `salts` deterministic sub-keys, partially aggregate, then combine.
  *
  * The salt must be deterministic (repartition-safe, retry-safe): derived
  * by hashing salt-source columns, NOT rand() — a rand() salt changes on
  * task retry and can double-count under speculative execution.
  *
  * MEASURED, not argued (skew fixture twins, BENCH_FULL at sf0.1): on a
  * hot-key-30% input, [[saltedJoin]] beats the plain sort-merge join
  * 2.5× (AQE's skew split declines when a downstream agg pins the join's
  * partitioning), while [[saltedAgg]] sits at PARITY with a plain
  * groupBy — map-side partial aggregation already neutralizes hot keys
  * for decomposable aggs, so reach for the salted agg only when partial
  * aggregation is ineffective (high-cardinality composite keys,
  * collect-style buffers).
  */
object Skew {

  /** Two-phase salted aggregation. `partials` are the phase-1 aggregates
    * per (keys, salt); `finals` combine them per keys. Example — a salted
    * count: partials = count(*) as c, finals = sum(c) as n. */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFrom: Seq[String],
                salts: Int, partials: Seq[Column], finals: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(saltFrom.map(col): _*), lit(salts)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head, partials.tail: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(finals.head, finals.tail: _*)
  }

  /** Salted count(*) per key — result identical to a direct groupBy count,
    * shape immune to hot keys. */
  def saltedCount(df: DataFrame, keys: Seq[String], saltFrom: Seq[String],
                  salts: Int = 64, out: String = "n"): DataFrame =
    saltedAgg(df, keys, saltFrom, salts,
      Seq(count(lit(1)).as("__c")),
      Seq(sum(col("__c")).as(out)))

  /** Salted inner equi-join — the JOIN-side skew fix for when AQE's
    * skew-join split cannot apply (e.g. the skewed side feeds a bucketed
    * or already-exchanged plan, or the engine predates runtime re-plan):
    * the big side salts each key into `salts` deterministic sub-keys; the
    * small side replicates each row to ALL salt values (explode of a
    * `salts`-element array — bounded, data-independent fan-out). Joining
    * on (key, salt) spreads a hot key over `salts` reducers. Result is
    * row-identical to `big.join(small, key)` — every (big-row, small-row)
    * key match meets on exactly one salt value.
    *
    * Use for genuinely hot keys with a small dimension side; prefer plain
    * broadcast when the small side fits the broadcast threshold (no
    * shuffle at all beats a salted shuffle). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int = 16): DataFrame = {
    require(salts > 0, s"need positive salts: $salts")
    val bigS = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val smallS = small
      .withColumn("__salt",
        explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** [[saltedJoin]] for sides whose key columns have DIFFERENT names,
    * keeping BOTH key columns — the column shape of a plain
    * `big.join(small, big(bigKey) === small(smallKey))`, which is what
    * the stats-driven planners emit for their other arms
    * ([[EstimatedJoin.applyStrategy]]): the salted arm must be a
    * drop-in, so it must not collapse the keys the way the
    * shared-name form does. Same salting scheme and row-identity
    * argument as [[saltedJoin]]. */
  def saltedJoinCond(big: DataFrame, bigKey: String,
                     small: DataFrame, smallKey: String,
                     salts: Int = 16): DataFrame = {
    require(salts > 0, s"need positive salts: $salts")
    val bigS = big.withColumn("__salt_b",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val smallS = small
      .withColumn("__salt_s", explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS,
        bigS(bigKey) === smallS(smallKey) &&
          bigS("__salt_b") === smallS("__salt_s"))
      .drop("__salt_b", "__salt_s")
  }

  /** The diagnostic that decides whether salting is needed at all: the k
    * heaviest keys with their share and cumulative share of all rows.
    *
    * Shape: one key-partial-aggregated shuffle for the counts, a
    * distributed TakeOrdered for the top k, and the grand total as a
    * 1-row broadcast. The only unpartitioned window runs over the k
    * surviving rows — bounded by construction, never by the data (a
    * global `Window.orderBy` over the counts table would serialize the
    * whole key space onto one reducer). */
  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    require(k > 0, s"need positive k: $k")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("__total"))
    // Unpartitioned window is safe HERE ONLY: it runs after `.limit(k)`,
    // over exactly k rows by construction, never over the key space
    // (source of the benign WindowExec warning in logs).
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_rows").desc, col(keyCol))
      .rowsBetween(Long.MinValue, 0)
    counts.orderBy(col("n_rows").desc, col(keyCol)).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("share", round(col("n_rows") / col("__total"), 6))
      .withColumn("cum_share",
        round(sum(col("n_rows")).over(w) / col("__total"), 6))
      .drop("__total")
      .orderBy(col("n_rows").desc, col(keyCol))
  }
}
