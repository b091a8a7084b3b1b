package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Phrase-blocklist screening — the content-policy stage of a training
  * corpus pipeline (banned phrases, compliance terms, known-bad
  * boilerplate), and the scaled-up sibling of the reference's whitelist
  * membership check (reference: dags/etl/schema_check.py:176-181 validates
  * single VALUES against a set; production corpora screen PHRASES against
  * documents).
  *
  * Semantics: a phrase matches wherever its token sequence appears
  * consecutively in the document's token sequence (the library tokenizer,
  * [[TextAnalysis.tokens]] — case/punctuation-insensitive by
  * construction). Exact, overlap-counting, no regex dialects anywhere.
  *
  * Scale shape — never scan × |blocklist|:
  *  - ONE pass over the corpus materializes per-position n-gram windows
  *    of BOUNDED width (the longest phrase), so a row never carries the
  *    whole document twice;
  *  - the blocklist broadcasts (small by definition) and candidates are
  *    generated by an equi-join on the phrase's ANCHOR (first) token —
  *    only positions whose token opens some phrase reach verification;
  *  - verification is one `startswith` on the bounded window with a
  *    token-boundary guard. Zero-hit phrases surface with 0 counts (the
  *    report is total over the blocklist).
  */
object Blocklist {

  /** Per-phrase report: (phrase_id, phrase, n_docs, n_occurrences).
    * `phrases` must have (phrase_id: long, phrase: string); it is
    * driver-inspected for the window width (a blocklist is small by
    * contract — it rides a broadcast anyway). */
  def screenReport(docs: DataFrame, phrases: DataFrame): DataFrame = {
    val ph = phrases.select(col("phrase_id"),
      array_join(TextAnalysis.tokens(col("phrase")), " ").as("phrase"))
      .where(length(col("phrase")) > 0)
    val maxLen = ph
      .select(max(size(split(col("phrase"), " "))).as("m"))
      .collect().headOption.map(_.getInt(0)).getOrElse(1)
    require(maxLen >= 1 && maxLen <= 32,
      s"unreasonable longest phrase: $maxLen tokens")
    val anchored = ph.withColumn("anchor",
      element_at(split(col("phrase"), " "), 1))
    val grams = Spread(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__w"))
      .select(col("doc_id"), explode_outer(
        transform(sequence(lit(1), greatest(size(col("__w")), lit(1))),
          p => array_join(slice(col("__w"), p, lit(maxLen)), " ")))
        .as("gram"))
      .where(col("gram").isNotNull && length(col("gram")) > 0)
      .withColumn("anchor", substring_index(col("gram"), " ", 1))
    val hits = grams.join(broadcast(anchored), "anchor")
      .where(col("gram") === col("phrase") ||
        col("gram").startsWith(concat(col("phrase"), lit(" "))))
      .groupBy(col("phrase_id"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
    ph.join(hits, Seq("phrase_id"), "left")
      .select(col("phrase_id"), col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy(col("phrase_id"))
  }
}
