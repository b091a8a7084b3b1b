package graft.ext

import org.apache.spark.sql.DataFrame

/** The partition-spread policy of the `ext` operators: a round-robin
  * shuffle into exactly `defaultParallelism` partitions, so per-row work
  * (pair scoring, hashing, tokenizing) engages every core even when the
  * input is one small file. Every such site calls this, so a policy
  * sized from the data instead of the core count changes here only. */
object Spread {
  def apply(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
