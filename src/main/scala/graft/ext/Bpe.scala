package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary learning (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units")
  * — the subword tokenizer a training pipeline learns from its own
  * corpus before tokenizing 100 TB for real.
  *
  * Scale shape (the paper's own): ONE corpus scan reduces the corpus to
  * its WORD-TYPE table (word, frequency) — vocabulary-sized, not
  * corpus-sized — and every merge round operates on that table:
  * adjacent-symbol pair counts weighted by word frequency (one hash
  * aggregate over the symbol fan-out), a 1-row argmax to the driver
  * (the only driver state: K merge rules), and a literal `replace` over
  * the sequence column. The corpus text is never touched again.
  *
  * Symbol sequences ride as separator-prefixed strings ("_a_b_c" for
  * cat(a,b,c); '_' cannot occur inside a symbol — tokens are [a-z0-9]+)
  * so applying merge (a,b) is the LITERAL string replace of "_a_b" with
  * "_ab". Literal replace scans left-to-right and continues AFTER each
  * replacement in both the JVM and DuckDB — exactly BPE's
  * non-overlapping merge semantics ("xxx" + (x,x) → "xx x", and
  * "abab" + (a,b) → "ab ab" since each match consumes its leading
  * separator but not the next one's). That makes the whole learner —
  * merge rules AND segmentation — bit-reproducible in plain SQL, no
  * regex dialects involved (lookbehind would be the alternative, and
  * RE2 engines don't have it).
  *
  * Pair counting counts every adjacent occurrence (zip(s, s.tail), the
  * reference get_stats), ties break (count desc, left asc, right asc).
  */
object Bpe {

  /** One learned merge rule. */
  final case class Merge(round: Int, lhs: String, rhs: String, count: Long)

  /** The (word, n) type table of a document corpus — the one
    * corpus-sized aggregation everything else works from. */
  def wordTypes(docs: DataFrame): DataFrame = {
    Spread(docs)
      .select(explode_outer(TextAnalysis.tokens(col("text"))).as("word"))
      .where(col("word").isNotNull)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
  }

  /** Char-split seed sequence: "abc" → "_a_b_c". */
  private[ext] def seed(word: Column): Column =
    regexp_replace(word, "(.)", "_$1")

  /** Adjacent-symbol pair counts of a (seq, n) frame: split produces
    * ["", s₁, …, s_m], pairs are (sᵢ, sᵢ₊₁) for i in 2..m. The split
    * array is MATERIALIZED per row before element reads (the HOF
    * re-evaluation trap). */
  private def pairCounts(wt: DataFrame): DataFrame =
    wt.withColumn("__s", split(col("seq"), "_"))
      // single-symbol words have no pairs — and sequence(2, 1) would run
      // BACKWARDS (Spark sequences step −1 when start > stop), indexing
      // out of bounds
      .where(size(col("__s")) >= 3)
      .select(col("n"), explode_outer(
        transform(sequence(lit(2), size(col("__s")) - 1), i =>
          struct(element_at(col("__s"), i).as("lhs"),
            element_at(col("__s"), i + 1).as("rhs")))).as("p"))
      .where(col("p").isNotNull)
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("n")).as("pc"))

  /** Learn `rounds` merges from the corpus. Each round is one
    * vocabulary-scale aggregation + a single-row collect; stops early
    * if no pair is left (all words fully merged).
    *
    * One cache, ever: the seed word-type table. Each round's frame is
    * the seed plus the merge rules so far as CHAINED literal replaces
    * (exactly [[segmented]]'s shape) — re-running ≤r cheap string
    * replaces over a vocabulary-sized cached table beats the round-10
    * scheme of re-caching every round, which cost an extra
    * materialization JOB (`wt.count()`) per merge on top of K cache
    * copies of the same-sized table. */
  def learnMerges(docs: DataFrame, rounds: Int): Seq[Merge] = {
    val base = wordTypes(docs).select(seed(col("word")).as("seq"), col("n"))
      .cache()
    try learnOn(base, rounds) finally base.unpersist()
  }

  /** Learner core over an already-persisted seeded (seq, n) table —
    * shared by [[learnMerges]] and [[learnAndSegmentationStats]] (which
    * feeds learner AND segmentation from ONE word-type scan). */
  private def learnOn(base: DataFrame, rounds: Int): Seq[Merge] = {
    require(rounds >= 1 && rounds <= 64, s"unreasonable BPE rounds: $rounds")
    val out = Seq.newBuilder[Merge]
    var learned = List.empty[(String, String)] // reversed rule chain
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val seq = learned.reverse.foldLeft(col("seq"))((s, m) =>
        replace(s, lit(s"_${m._1}_${m._2}"), lit(s"_${m._1}${m._2}")))
      val wt = base.select(seq.as("seq"), col("n"))
      val best = pairCounts(wt)
        .orderBy(col("pc").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        out += Merge(r, a, b, c)
        learned ::= (a, b)
      }
      r += 1
    }
    out.result()
  }

  /** Apply learned merges in order to a word column → symbol-count and
    * segmented form. Pure projection (K chained literal replaces). */
  def segmented(word: Column, merges: Seq[Merge]): Column = {
    val seq = merges.foldLeft(seed(word))((s, m) =>
      replace(s, lit(s"_${m.lhs}_${m.rhs}"), lit(s"_${m.lhs}${m.rhs}")))
    // "_ab_c" → ["ab", "c"]
    val arr = split(seq, "_")
    slice(arr, lit(2), greatest(size(arr) - 1, lit(0)))
  }

  /** The learned rules as a DataFrame (round, lhs, rhs, pair_count). */
  def mergesFrame(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, rounds)
      .map(m => (m.round.toLong, m.lhs, m.rhs, m.count))
      .toDF("round", "lhs", "rhs", "pair_count")
  }

  /** Learn the vocabulary AND report corpus segmentation stats under it:
    * per language, token count, total symbols, and mean symbols/token —
    * the fertility number a tokenizer is judged by. One word-type scan:
    * the (word, n) table materializes once (eager executor-local
    * checkpoint, vocabulary-sized) and feeds the learner's cached seed
    * table and the stats' segmentation leg; only the per-(lang, token)
    * occurrence scan still reads the corpus (the word-type join is
    * vocabulary-sized and broadcastable). */
  def learnAndSegmentationStats(docs: DataFrame, rounds: Int): DataFrame = {
    // validate BEFORE the eager checkpoint: an invalid rounds argument
    // must not pay a corpus scan before throwing (ADVICE r16)
    require(rounds >= 1 && rounds <= 64, s"unreasonable BPE rounds: $rounds")
    val wt = wordTypes(docs).localCheckpoint(true)
    val base = wt.select(seed(col("word")).as("seq"), col("n")).cache()
    val merges = try learnOn(base, rounds) finally base.unpersist()
    statsOverTypes(docs, wt, merges)
  }

  /** Stats core: segment each word TYPE once (from `wt` = (word, n)),
    * broadcast-join occurrences against it — K replaces run
    * vocabulary-many times, not corpus-many. */
  private def statsOverTypes(docs: DataFrame, wt: DataFrame,
                             merges: Seq[Merge]): DataFrame = {
    val types = wt
      .select(col("word"),
        size(segmented(col("word"), merges)).cast("long").as("n_sym"))
    Spread(docs)
      .select(col("lang"),
        explode_outer(TextAnalysis.tokens(col("text"))).as("word"))
      .where(col("word").isNotNull)
      .join(broadcast(types), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_sym")).as("total_symbols"),
        round(sum(col("n_sym")).cast("double") / count(lit(1)), 6)
          .as("symbols_per_token"))
      .orderBy(col("lang"))
  }
}
