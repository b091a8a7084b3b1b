package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / dataset-split operators for training-data
  * pipelines.
  *
  * A training corpus needs train/validation/test splits that are (a) STABLE
  * across runs, engines and cluster layouts — re-running the pipeline must
  * not migrate documents between splits, or eval sets silently leak into
  * training; (b) assigned from the row's own identity, never from
  * row position, partition id or an RNG (all three change under
  * repartitioning/AQE). `df.sample()`/TABLESAMPLE fail (a) and (b).
  *
  * The standard construction: hash a stable key, bucket the hash, map bucket
  * ranges to splits. Implemented with `md5` (engine-portable, so the DuckDB
  * oracle reproduces assignments exactly); a production deployment can swap
  * `xxhash64` for speed — same shapes. Pure projection: no shuffle, no RNG,
  * embarrassingly parallel at any scale.
  */
object Sampling {

  /** Hash bucket in [0, buckets) from the key's md5 — the first 8 hex chars
    * parsed as a 32-bit int. Uniform for any key type (cast to string). */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Assign each row to a named split by hash-bucket ranges. `weights` are
    * integer percents summing to <= 100 (any remainder joins the LAST
    * split), e.g. Seq("train" -> 80, "val" -> 10, "test" -> 10). */
  def deterministicSplit(df: DataFrame, key: Column,
                         weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum <= 100,
      s"split weights must sum to <= 100: $weights")
    val bucket = hashBucket(key, 100)
    val bounds = weights.scanLeft(0)(_ + _._2).tail
    val expr = weights.zip(bounds).init.foldRight(
      lit(weights.last._1): Column) { case (((name, _), hi), rest) =>
      when(bucket < hi, lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** Source-mixture sampling: per-stratum keep rates (integer percents) —
    * the mixture-weighting pass that up/down-samples sources or languages
    * into a training mix (e.g. keep all of en, half of de, a tenth of the
    * long tail). Same determinism contract as [[deterministicSplit]]:
    * assignment is a pure function of the row's key, so re-runs, engine
    * changes and repartitioning never migrate rows in or out of the mix.
    * Strata absent from `rates` fall back to `defaultPercent`. Pure
    * filter — no shuffle, pushes below downstream aggregates. */
  def mixtureSample(df: DataFrame, key: Column, stratum: Column,
                    rates: Seq[(String, Int)],
                    defaultPercent: Int = 100): DataFrame = {
    require((defaultPercent +: rates.map(_._2)).forall(p => p >= 0 && p <= 100),
      s"rates must be percents in [0, 100]: $rates default $defaultPercent")
    val rateExpr = rates.foldRight(lit(defaultPercent): Column) {
      case ((s, p), rest) => when(stratum === lit(s), lit(p)).otherwise(rest)
    }
    df.where(hashBucket(key, 100) < rateExpr)
  }

  /** Temperature-scaled mixture sampling — the α-sampling pass that
    * flattens a source/language mixture toward its tail for training:
    * target proportions p_i ∝ n_i^(1/T), realized as the LARGEST
    * downsample achieving them (no upsampling): keep rate
    * r_i = (n_min/n_i)^(1-1/T), so the smallest stratum keeps everything
    * and a stratum 100× larger keeps √(1/100) = 10% at T=2.
    *
    * Keep decisions are [[hashBucket]]-deterministic (parts-per-million
    * thresholds), so re-runs never migrate rows. At the default T=2 the
    * rate is a `sqrt` — correctly rounded by IEEE 754 on every engine, so
    * thresholds are BIT-IDENTICAL to the DuckDB oracle; other T values
    * go through `pow`, which may differ in final ulps across libm
    * implementations (keep-count oracle checks then need a ±1 tolerance
    * or rows-only verification).
    *
    * Shape: one stratum-cardinality aggregate + a broadcast join-back +
    * a pure filter — no data-sized shuffle. */
  def temperatureSample(df: DataFrame, key: Column, stratum: Column,
                        temperature: Double = 2.0): DataFrame = {
    require(temperature >= 1.0, s"temperature must be >= 1: $temperature")
    val counts = df.groupBy(stratum.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__nmin"))
    val ratio = col("__nmin").cast("double") / col("__n")
    val rate =
      if (temperature == 2.0) sqrt(ratio)
      else pow(ratio, lit(1.0 - 1.0 / temperature))
    val thresholds = counts.crossJoin(broadcast(minN))
      .select(col("__stratum"),
        floor(rate * 1000000.0).cast("long").as("keep_ppm"))
    df.join(broadcast(thresholds), stratum === col("__stratum"))
      .where(hashBucket(key, 1000000) < col("keep_ppm"))
      .drop("__stratum")
  }

  /** Deterministic k-per-stratum sample — the distributed stand-in for
    * "reservoir sample k per group": rank rows inside each stratum by the
    * md5 of their key (uniform, engine-portable) with the key itself as
    * the total-order tie-break, keep the first k. Re-runs, engine swaps
    * and repartitioning select the SAME rows (df.sample/TABLESAMPLE
    * cannot promise any of that).
    *
    * Scale note: the per-stratum window sends each stratum to ONE
    * reducer — with few large strata (languages over a 100 TB corpus)
    * that is a single-reducer sort of most of the data. `hexPrefixBelow`
    * is the fix: pre-filter to rows whose md5 sorts below the given hex
    * prefix (e.g. "1" keeps ~1/16) BEFORE the shuffle. Because the
    * pre-filter predicate is a prefix of the rank order itself, ranking
    * the survivors gives exactly the global ranks as long as every
    * stratum keeps >= k survivors — size the prefix so the expected
    * survivor count is >> k (binomial concentration makes a miss
    * astronomically unlikely, and the miss mode is a visibly short
    * group, not a wrong row). */
  def samplePerStratum(df: DataFrame, key: Column, stratum: Column,
                       k: Int, hexPrefixBelow: Option[String] = None): DataFrame = {
    require(k > 0, s"need positive k: $k")
    val h = md5(key.cast("string"))
    val candidates = hexPrefixBelow match {
      case Some(p) =>
        require(p.nonEmpty && p.forall(c => "0123456789abcdef".contains(c)),
          s"hexPrefixBelow must be lowercase hex: '$p'")
        df.where(h < lit(p))
      case None => df
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum)
      .orderBy(h, key)
    candidates.withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= k)
  }

  /** Deterministic weighted sample WITHOUT replacement — Efraimidis &
    * Spirakis A-ES: each row draws a uniform u from the md5 of its key
    * and scores `-ln(u) / w`; the k smallest scores are the sample, and
    * inclusion probability is proportional to weight (exactly the
    * sequential weighted draw, proven in the A-ES paper). Use for
    * quality-weighted corpus subsampling: w = quality score → good
    * documents oversampled, long tail still represented.
    *
    * Determinism contract as everywhere in this module: u is a pure
    * function of the key (48 md5 bits → (0,1), never exactly 0), so
    * re-runs/engines/layouts select the same rows. NOTE `ln` is not
    * bit-standardized across libm implementations, so unlike the
    * sqrt/bit-shift operators this one verifies rows-only against an
    * external engine; within Spark it is exactly reproducible.
    *
    * Shape: one scan + a distributed TakeOrdered(k) — no full sort, no
    * shuffle of the data (same shape as top_orders). Rows with w <= 0 are
    * excluded (zero weight = never sampled; negative is a data error). */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     k: Int): DataFrame = {
    require(k > 0, s"need positive k: $k")
    // (x+1)/(2^48+1) ∈ (0,1) exclusive at both ends
    val u = (conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("double") + 1.0) / 281474976710657.0
    df.where(weight > 0)
      .withColumn("__es_score", -log(u) / weight)
      .orderBy(col("__es_score"), key)
      .limit(k)
      .drop("__es_score")
  }

  /** Context-window packing: assign documents, in the deterministic
    * per-stream order `orderCol`, to consecutive fixed-token-budget bins —
    * the sequence-packing pass that turns a shuffled corpus into training
    * windows. `bin = floor(tokens_before_this_doc / budget)`: bins are
    * contiguous token ranges of the stream and a document belongs to the
    * bin where its first token lands (position packing — the streaming-
    * concatenation semantics most training loaders use, not bin-closing
    * greedy packing, and exactly reproducible in any engine with window
    * sums).
    *
    * Scale: one window aggregate per stream partition. Streams
    * (`partitionCols`) must be finer than "the whole corpus" at real scale
    * — shard keys like (source, shard) keep each sequential scan bounded;
    * packing is inherently sequential *within* a stream by definition. */
  def packByTokenBudget(df: DataFrame, orderCol: Column, tokensCol: Column,
                        budget: Long,
                        partitionCols: Seq[Column] = Nil): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols: _*).orderBy(orderCol)
    df.withColumn("__cum", sum(tokensCol).over(w))
      .withColumn("bin",
        floor((col("__cum") - tokensCol).cast("double") / budget).cast("long"))
      .drop("__cum")
  }

  /** Deterministic negative sampling for contrastive training pairs:
    * each anchor doc gets up to `k` hash-picked negatives from the
    * corpus — the in-batch/random-negative mining step of embedding
    * training, done without randomness (same [[hashBucket]] family as
    * the split/sample ops, so reruns, retries and engines agree on
    * every pair).
    *
    * Construction: docs hash into `buckets` groups; each bucket's
    * representative is its min key (deterministic survivor); the
    * anchor's i-th negative is the representative of bucket
    * `hash(anchor # i)`, skipping draws that land in the anchor's own
    * bucket (which also makes self-pairs impossible — the anchor can
    * only represent its own bucket). Draws landing in an empty bucket
    * produce no pair; with docs >> buckets that is vanishingly rare,
    * and both skip rules are deterministic so the output is exactly
    * reproducible.
    *
    * Scale shape: one pass builds the `buckets`-row representative
    * table (broadcast); anchors explode ×k and map-side join it — no
    * all-pairs, no shuffle beyond the one aggregate. */
  def contrastiveNegatives(docs: DataFrame, key: Column, k: Int,
                           buckets: Int = 64): DataFrame = {
    require(k > 0 && buckets > 1, s"need k > 0, buckets > 1: $k, $buckets")
    // integral keys only: the output carries them as long ids, and a
    // silent cast-to-null would fabricate pairs for a string key
    val keyType = docs.select(key).schema.head.dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(keyType),
      s"contrastiveNegatives needs an integral doc key, got " +
        keyType.simpleString)
    val reps = docs
      .select(hashBucket(key, buckets).as("__nb"),
        key.cast("long").as("neg_doc_id"))
      .groupBy(col("__nb")).agg(min(col("neg_doc_id")).as("neg_doc_id"))
    docs
      .select(key.cast("long").as("anchor_doc_id"),
        hashBucket(key, buckets).as("__ab"))
      .withColumn("neg_rank",
        explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("__nb",
        hashBucket(concat(col("anchor_doc_id"), lit("#"),
          col("neg_rank")), buckets))
      .where(col("__nb") =!= col("__ab"))
      .join(broadcast(reps), Seq("__nb"))
      .select(col("anchor_doc_id"), col("neg_rank"), col("neg_doc_id"))
  }
}
