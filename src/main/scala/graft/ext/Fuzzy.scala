package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching (entity resolution) — near-identical NAMES, not
  * near-identical documents: catalog/vendor/author strings that differ by
  * a typo or a token. Complements [[Dedup]] (content near-dup) with the
  * string-edit-distance family.
  *
  * Scale shape — the standard ER pipeline: a cheap BLOCKING key bounds the
  * quadratic comparison to block-local pairs (never all-pairs), and the
  * pair join shuffles once on the block. `maxBucket` guards degenerate
  * blocks (a blocking key shared by everything is a key-design bug, not a
  * reason to go quadratic). Good blocking keys at 100 TB: first token,
  * phonetic code, length bucket, or a MinHash band for token-set blocking.
  */
object Fuzzy {

  /** Multiplicity-weighted distinct-name pairing — the form that
    * survives heavy exact duplication: collapse identical names to
    * (block, name, count) FIRST, run the quadratic comparison over
    * DISTINCT names only, and recover the RAW-row-pair statistics by
    * weighting each name pair by `cnt_a × cnt_b` (plus `C(cnt, 2)`
    * dist-0/sim-1 self-pairs per duplicated name). Numbers are
    * IDENTICAL to rolling up every raw same-block row pair —
    * spec-pinned — at distinct-names² cost instead of rows²: the sf0.1
    * catalog has 20 000 rows but 64 names, which put every raw block
    * over `maxBucket` (rollup silently emptied — the sf0.1 sweep's
    * catch) while the collapsed blocks hold 8 names each. At 100 TB
    * name-duplication is the NORM (catalog feeds repeat entries), so
    * the collapse is the scale path, not a trick; `maxBucket` now
    * bounds distinct names per block, the meaningful knob.
    *
    * Output: (block, n_pairs, avg_dist) per block — raw pairs at
    * levenshtein ≤ `maxDist`. */
  def blockedPairStatsWeighted(df: DataFrame, nameCol: String,
                               block: Column, maxDist: Int,
                               maxBucket: Int = 1000): DataFrame =
    weightedStats(df, nameCol, block, maxBucket,
      levenshtein(col("name_a"), col("name_b")).cast("double"),
      dist => dist <= maxDist, selfScore = 0.0, "avg_dist")

  /** Jaro-Winkler twin of [[blockedPairStatsWeighted]]: raw pairs at
    * `jw_sim ≥ minSim`, identical self-pairs scoring 1.0. Output:
    * (block, n_pairs, avg_sim). */
  def blockedPairStatsWeightedJw(df: DataFrame, nameCol: String,
                                 block: Column, minSim: Double,
                                 maxBucket: Int = 1000): DataFrame =
    weightedStats(df, nameCol, block, maxBucket,
      graft.functions.StringFunctions
        .jaroWinkler(col("name_a"), col("name_b")),
      sim => sim >= minSim, selfScore = 1.0, "avg_sim")

  private def weightedStats(df: DataFrame, nameCol: String, block: Column,
                            maxBucket: Int, score: Column,
                            keep: Column => Column, selfScore: Double,
                            avgName: String): DataFrame = {
    // one aggregate collapses exact duplicates; everything after runs on
    // the distinct-name frame (block keys ride along, so the pair join
    // still shuffles once on the block)
    val names = df.select(block.as("block"), col(nameCol).as("name"))
      .groupBy(col("block"), col("name"))
      .agg(count(lit(1)).as("cnt"))
    val a = names.select(col("block"), col("name").as("name_a"),
      col("cnt").as("cnt_a"))
    val b = names.select(col("block"), col("name").as("name_b"),
      col("cnt").as("cnt_b"))
    // distinct-name blocks are bounded by maxBucket (a block with more
    // distinct names than that is a blocking-key design bug) — enforced
    // via the per-block name count
    val sizes = names.groupBy(col("block"))
      .agg(count(lit(1)).as("__names"))
      .where(col("__names") <= maxBucket)
      .select(col("block"))
    val cross = a.join(b, Seq("block")).where(col("name_a") < col("name_b"))
      .withColumn("__s", score)
      .where(keep(col("__s")))
      .select(col("block"), (col("cnt_a") * col("cnt_b")).as("w"),
        (col("__s") * col("cnt_a") * col("cnt_b")).as("ws"))
    val selfPairs = names
      .select(col("block"), expr("cnt * (cnt - 1) div 2").as("w"),
        (lit(selfScore) * expr("cnt * (cnt - 1) div 2")).as("ws"))
      .where(col("w") > 0)
    cross.unionByName(selfPairs)
      .join(sizes, Seq("block"), "left_semi")
      .groupBy(col("block"))
      .agg(sum(col("w")).as("n_pairs"),
        round(sum(col("ws")) / sum(col("w")), 6).as(avgName))
      .orderBy(col("block"))
  }
}
