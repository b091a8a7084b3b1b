package graft

import org.apache.spark.sql.functions._

import graft.ext.LexicalIndex
import graft.sources.VersionedTable

/** Persisted lexical (BM25) decontamination screen: discrimination on
  * disjoint-vocabulary docs, self-retrieval of re-sent eval docs,
  * probe-term capping, OOV semantics, create idempotence. */
class LexicalIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    tempDir("lexidx").toString + "/idx"

  // eval docs with DISTINCT vocabularies (unlike the shared-vocab
  // synthetic corpus — here lexical similarity can actually separate)
  private def evalDocs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta"),
    (1L, "one two three four five six seven"),
    (2L, "red green blue yellow purple orange"))
    .toDF("doc_id", "text")

  test("exact duplicate flags against its source; disjoint doc is absent") {
    val root = tmpRoot()
    LexicalIndex.create(evalDocs, root)
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // exact dup of 0
      (101L, "alpha beta unrelated stuff here"),     // partial overlap
      (102L, "totally disjoint vocabulary words"))   // no index terms
      .toDF("doc_id", "text")
    val r = LexicalIndex.screen(spark, batch, root, threshold = 4.0)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(r.map(_._1).toSeq === Seq(100L, 101L)) // 102 matches nothing
    val dup = r(0); val part = r(1)
    assert(dup._2 === 0L && dup._5, s"dup row $dup must flag vs doc 0")
    assert(part._2 === 0L && part._4 < dup._4,
      s"partial ${part._4} must score below dup ${dup._4}")
    assert(!part._5, s"partial overlap must stay under threshold: $part")
  }

  test("re-sent eval docs retrieve THEMSELVES as best match") {
    val root = tmpRoot()
    LexicalIndex.create(evalDocs, root)
    val r = LexicalIndex.screen(spark, evalDocs, root, threshold = 4.0)
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect()
    assert(r.length === 3)
    r.foreach(row => assert(row._2 === row._1 && row._5,
      s"self-retrieval failed: $row"))
  }

  test("probeTerms caps the probe set at the RAREST terms") {
    val root = tmpRoot()
    // 'rare' appears in one eval doc, 'common' in all three
    val ev = Seq((0L, "rare common"), (1L, "common filler"),
      (2L, "common other")).toDF("doc_id", "text")
    LexicalIndex.create(ev, root)
    val batch = Seq((50L, "rare common")).toDF("doc_id", "text")
    val one = LexicalIndex.screen(spark, batch, root,
      threshold = 0.1, probeTerms = 1)
    // with one probe slot the df=1 term 'rare' wins → only doc 0 matches
    val rows = one.as[(Long, Long, Long, Double, Boolean)].collect()
    assert(rows.length === 1 && rows(0)._2 === 0L && rows(0)._3 === 1L)
  }

  test("create is idempotent; screen reads the committed version") {
    val root = tmpRoot()
    LexicalIndex.create(evalDocs, root)
    val v1 = VersionedTable.versions(spark, root)
    LexicalIndex.create(evalDocs.limit(1), root) // must NOT rebuild
    assert(VersionedTable.versions(spark, root) === v1)
    val r = LexicalIndex.screen(spark,
      Seq((7L, "one two three")).toDF("doc_id", "text"), root, 1.0)
    assert(r.count() === 1) // still sees all three eval docs
  }
}
