package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{DedupIndex, TextAnalysis}
import graft.sources.VersionedTable

/** The persisted dedup index: batch ingests match against the INDEX
  * READ, not a corpus rescan — same report as the recompute path, plan
  * pinned to never touch corpus text, index versions append per batch. */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = tempDir(prefix).toString

  private val corpusRows = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog"),
    (2L, "en", "pack my box with five dozen liquor jugs"),
    (3L, "de", "franz jagt im komplett verwahrlosten taxi quer durch bayern"),
    (4L, "de", "zwei boxkaempfer jagen viktor quer durch das grosse sylt"))
  private val batchRows = Seq(
    (10L, "en", "the quick brown fox jumps over the lazy dog"), // dup of 1
    (11L, "en", "a genuinely new english document about spark"),
    (12L, "de", "franz jagt im komplett verwahrlosten taxi quer durch bayern"), // dup of 3
    (13L, "de", "ein neues deutsches dokument"))

  private def corpusDf = corpusRows.toDF("doc_id", "lang", "text")
  private def batchDf = batchRows.toDF("doc_id", "lang", "text")
  private def ingest(root: String) = DedupIndex.ingestSpansOn(root, spark,
    DedupIndex.spanHashFrame(batchDf, 3), () => DedupIndex.spanCount(batchDf, 3))

  private def collectReport(df: DataFrame): Seq[(String, Long, Long)] =
    df.as[(String, Long, Long)].collect().sortBy(_._1).toSeq

  test("indexed report equals the recompute-the-corpus report") {
    val root = tmp("graft_fpidx") + "/fp"
    val index = DedupIndex.readOrBuild(spark, root,
      DedupIndex.fingerprintIndex(corpusDf))
    val indexed = collectReport(
      DedupIndex.incrementalNewDocs(index, batchDf, Seq("lang")))
    val recomputed = collectReport(
      TextAnalysis.incrementalDedupReport(corpusDf, batchDf, Seq("lang")))
    assert(indexed === recomputed)
    assert(indexed === Seq(("de", 2L, 1L), ("en", 2L, 1L)))
  }

  test("the report plan reads the index, NEVER the corpus text") {
    // corpus text lives in its own parquet; the index is built from it
    // once. The report's physical plan must scan the index root and the
    // batch — the corpus location must not appear.
    val corpusDir = tmp("graft_corpus")
    val batchDir = tmp("graft_batch")
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    batchDf.write.mode("overwrite").parquet(batchDir)
    val root = tmp("graft_fpidx2") + "/fp"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.fingerprintIndex(spark.read.parquet(corpusDir)))
    // a fresh ingest session: index read + batch read only
    val report = DedupIndex.incrementalNewDocs(
      VersionedTable.read(spark, root),
      spark.read.parquet(batchDir), Seq("lang"))
    val plan = report.queryExecution.executedPlan.toString
    assert(!plan.contains(corpusDir), "corpus text rescanned by the report")
    assert(plan.contains(batchDir))
    assert(collectReport(report) === Seq(("de", 2L, 1L), ("en", 2L, 1L)))
  }

  test("span index: contamination vs index == recompute; corpus text unread") {
    val corpusDir = tmp("graft_span_corpus")
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    val root = tmp("graft_spanidx") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(spark.read.parquet(corpusDir), k = 3))
    val report = DedupIndex.spanContamination(
      VersionedTable.read(spark, root), batchDf, k = 3)
    val got = report.select("doc_id", "n_spans", "n_seen")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // docs 10/12 are exact dups of corpus docs: every span seen;
    // 11 and 13 share no 3-gram with the corpus: nothing seen
    assert(got === Seq((10L, 7L, 7L), (11L, 5L, 0L), (12L, 7L, 7L),
      (13L, 2L, 0L)))
    assert(!report.queryExecution.executedPlan.toString.contains(corpusDir),
      "corpus text rescanned by the span report")
  }

  test("cutSeenSpans: batch cut against the index, corpus owns its text") {
    val root = tmp("graft_spanidx3") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(corpusDf, k = 3))
    val cut = DedupIndex.cutSeenSpans(
      VersionedTable.read(spark, root), batchDf, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    def h(s: String) =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    // exact dups of corpus docs (10, 12) are cut to nothing; genuinely
    // new docs (11, 13) pass through byte-identical
    assert(cut === Seq(
      (10L, 9L, 0L, h("")),
      (11L, 7L, 7L, h("a genuinely new english document about spark")),
      (12L, 9L, 0L, h("")),
      (13L, 4L, 4L, h("ein neues deutsches dokument"))))
  }

  test("bloom probe: no false negatives, FP rate within the configured bound") {
    val root = tmp("graft_spanidx5") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(corpusDf, k = 3))
    val index = VersionedTable.read(spark, root)
    val n = math.max(1L, index.count())
    val bloomed = DedupIndex.spanContaminationBloom(index, batchDf, k = 3,
        expectedItems = n)
      .select("doc_id", "n_spans", "n_seen")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val exact = Map(10L -> 7L, 11L -> 0L, 12L -> 7L, 13L -> 0L)
    bloomed.foreach { case (d, spans, seen) =>
      // superset verdicts only: a truly-seen span can never read unseen
      assert(seen >= exact(d) && seen <= spans, s"doc $d: $seen")
    }
    // the contaminated docs read fully seen through the bloom too
    assert(bloomed.collect { case (d, s, n2) if exact(d) > 0 => n2 == s }
      .forall(identity))
    // FP rate, measured on a large DISJOINT probe set (every span brand
    // new): flagged share must stay within 3× the configured 3% fpp
    val fresh = (1 to 2000).map(i =>
      (i.toLong, "en", s"u${i}aa u${i}bb u${i}cc u${i}dd"))
      .toDF("doc_id", "lang", "text")
    val fp = DedupIndex.spanContaminationBloom(index, fresh, k = 3,
        expectedItems = n)
      .agg(sum(col("n_seen")).cast("long"), sum(col("n_spans")).cast("long"))
      .as[(Long, Long)].head()
    assert(fp._2 === 4000L)
    assert(fp._1 <= (fp._2 * 0.09).toLong, s"FP rate ${fp._1}/${fp._2}")
    // deterministic probe: the same build flags the same spans
    val again = DedupIndex.spanContaminationBloom(index, batchDf, k = 3,
        expectedItems = n)
      .select("doc_id", "n_spans", "n_seen")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again === bloomed)
  }

  test("prune gate: engaged only when the catalog stat says the index " +
      "outweighs the batch; results identical either way") {
    val root = tmp("graft_spanidx_gate") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(corpusDf, k = 3), statsKeys = Seq("sh"))
    val index = VersionedTable.read(spark, root)
    val stat = graft.sources.VersionedStats.statsFor(spark, root).map(_._1)
    assert(stat.isDefined && stat.get > 0L, "readOrBuild wrote no sidecar")
    // the real stat here (small index, comparable batch) is UNDER the
    // 4x gate: the plan must keep the plain shape — no bloom probe
    val plain = DedupIndex.cutSeenSpans(index, batchDf, k = 3,
      indexRows = stat)
    assert(!plain.queryExecution.executedPlan.toString
      .toLowerCase.contains("might_contain"),
      "bloom prune engaged below the index/batch gate")
    // injected big-index stat: gate engages, bloom probe in the plan
    val pruned = DedupIndex.cutSeenSpans(index, batchDf, k = 3,
      indexRows = Some(1000000L))
    assert(pruned.queryExecution.executedPlan.toString
      .toLowerCase.contains("might_contain"),
      "bloom prune NOT engaged above the gate")
    // no catalog stat at all -> plain shape (the gate never guesses)
    val unknowable = DedupIndex.cutSeenSpans(index, batchDf, k = 3)
    assert(!unknowable.queryExecution.executedPlan.toString
      .toLowerCase.contains("might_contain"))
    // the gate chooses plans, never answers
    val a = plain.collect().map(_.toSeq).toSeq
    assert(pruned.collect().map(_.toSeq).toSeq === a)
    assert(unknowable.collect().map(_.toSeq).toSeq === a)
    // same contract on the contamination report
    val ca = DedupIndex.spanContamination(index, batchDf, k = 3,
      indexRows = stat).collect().map(_.toSeq).toSeq
    val cb = DedupIndex.spanContamination(index, batchDf, k = 3,
      indexRows = Some(1000000L)).collect().map(_.toSeq).toSeq
    assert(ca === cb)
  }

  test("ingestSpans maintains the stats sidecar: rows match the table, " +
      "delta-merged on append") {
    val root = tmp("graft_spanidx_stats") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(corpusDf, k = 3), statsKeys = Seq("sh"))
    val v1Rows = graft.sources.VersionedStats.statsFor(spark, root).get._1
    assert(v1Rows === VersionedTable.read(spark, root).count())
    ingest(root)
    val v2Rows = graft.sources.VersionedStats.statsFor(spark, root).get._1
    assert(v2Rows === VersionedTable.read(spark, root).count())
    assert(v2Rows > v1Rows) // the batch's novel spans landed in the stat
    // re-ingest: nothing appends, the stat stays exact
    ingest(root)
    assert(graft.sources.VersionedStats.statsFor(spark, root).get._1
      === v2Rows)
  }

  test("file-skip lookup: pruned read touches fewer files, verdicts exact") {
    // a corpus big enough to range-cluster into several files
    val corpus = (0L until 400L).map(i =>
        (i, "en", (0 until 12).map(t => s"c${i}t$t").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val root = tmp("graft_spanfr") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(corpus, k = 3), statsKeys = Seq("sh"))
    DedupIndex.ensureFileRanges(spark, root, targetRowsPerFile = 256)
    // second call is a no-op: the compacted version carries its sidecar
    val vAfter = VersionedTable.versions(spark, root)
    DedupIndex.ensureFileRanges(spark, root, targetRowsPerFile = 256)
    assert(VersionedTable.versions(spark, root) === vAfter)
    // probes: one span known present (doc 7's first 3-gram), one absent
    val probes = Seq((7L, "c7t0 c7t1 c7t2"), (99L, "zz90 zz91 zz92"))
      .toDF("probe_id", "span")
    val (out, read, total) = DedupIndex.spanProbeLookup(spark, root, probes)
    assert(total > 1, s"fixture produced a single file ($total)")
    assert(read < total, s"no files skipped: $read of $total")
    assert(out.as[(Long, Boolean, Boolean)].collect().sortBy(_._1).toSeq
      === Seq((7L, true, true), (99L, false, true)))
    // no false skips: every indexed span still reads seen through the
    // pruned path (spot-check a spread of docs)
    val spread = Seq(0L, 123L, 256L, 399L).map(i =>
      (i, s"c${i}t3 c${i}t4 c${i}t5")).toDF("probe_id", "span")
    val (out2, _, _) = DedupIndex.spanProbeLookup(spark, root, spread)
    assert(out2.where(!col("seen")).count() === 0L)
  }

  test("span index ingest is idempotent: re-ingest appends nothing") {
    val root = tmp("graft_spanidx2") + "/span"
    DedupIndex.readOrBuild(spark, root,
      DedupIndex.spanIndex(corpusDf, k = 3))
    val before = VersionedTable.read(spark, root).count()
    ingest(root)
    val afterFirst = VersionedTable.read(spark, root).count()
    // only the genuinely new docs' spans land (11: 5 spans, 13: 2)
    assert(afterFirst === before + 7)
    ingest(root)
    assert(VersionedTable.read(spark, root).count() === afterFirst)
    // and the absorbed batch now reads as fully seen
    val post = DedupIndex.spanContamination(
      VersionedTable.read(spark, root), batchDf, k = 3)
    assert(post.where(col("n_seen") =!= col("n_spans")).count() === 0L)
  }
}
