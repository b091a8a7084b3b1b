package graft

import org.apache.spark.sql.functions._

import graft.ext.Bpe
import graft.ext.Bpe.Merge

/** Distributed BPE learning: hand-computed merge sequences, the
  * non-overlap and adjacent-re-merge semantics the literal-replace
  * encoding must reproduce, tie-breaks, segmentation round-trip. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("learnMerges: hand-computed two-round sequence") {
    // words: ab x3, abc x2 → pairs (a,b)=5, (b,c)=2
    val d = docs("ab ab abc", "ab abc")
    val m = Bpe.learnMerges(d, rounds = 2)
    assert(m === Seq(Merge(1, "a", "b", 5L), Merge(2, "ab", "c", 2L)))
  }

  test("overlapping pairs merge non-overlapping left-to-right") {
    // "xxx" type with n=2 occurrences: 2 adjacent (x,x) pairs per
    // occurrence → weighted count 4; the merge applies left-to-right
    val d = docs("xxx xxx")
    val m = Bpe.learnMerges(d, rounds = 2)
    assert(m.head === Merge(1, "x", "x", 4L))
    // round 2: seq "_xx_x" → one (xx, x) pair × n=2
    assert(m(1) === Merge(2, "xx", "x", 2L))
    val seg = docs("xxx").select(
      Bpe.segmented(lit("xxx"), m.take(1)).as("s"))
      .as[Seq[String]].collect()(0)
    assert(seg === Seq("xx", "x"))
  }

  test("adjacent occurrences both merge (abab)") {
    val d = docs("abab abab abab zq") // (a,b)=6 beats (b,a)=3
    val m = Bpe.learnMerges(d, rounds = 1)
    assert(m.head === Merge(1, "a", "b", 6L))
    val seg = docs("abab").select(
      Bpe.segmented(lit("abab"), m).as("s")).as[Seq[String]].collect()(0)
    assert(seg === Seq("ab", "ab"))
  }

  test("tie-break: equal counts resolve (lhs, rhs) ascending") {
    // "cd" and "ab" both appear twice; (a,b) must win over (c,d)
    val d = docs("ab cd", "ab cd")
    val m = Bpe.learnMerges(d, rounds = 1)
    assert(m.head === Merge(1, "a", "b", 2L))
  }

  test("learning stops early when nothing is left to merge") {
    val d = docs("ab ab")
    val m = Bpe.learnMerges(d, rounds = 10)
    assert(m === Seq(Merge(1, "a", "b", 2L))) // then all words are 1 symbol
  }

  test("segmented round-trips: concatenation restores the word") {
    val d = docs("low lower lowest newest new")
    val merges = Bpe.learnMerges(d, rounds = 6)
    val words = Seq("low", "lower", "lowest", "newest", "new", "unseen")
    val segs = words.toDF("w")
      .select(col("w"), Bpe.segmented(col("w"), merges).as("s"))
      .as[(String, Seq[String])].collect()
    segs.foreach { case (w, s) =>
      assert(s.mkString("") === w, s"segmentation of '$w' lost content: $s")
      assert(s.forall(_.nonEmpty))
    }
  }

  test("segmentationStats: exact counts on a hand corpus") {
    val d = Seq((0L, "ab ab x", "en"), (1L, "ab", "de"))
      .toDF("doc_id", "text", "lang")
    // one round learns the only pair, a+b (3 occurrences)
    val r = Bpe.learnAndSegmentationStats(d, rounds = 1).orderBy("lang")
      .as[(String, Long, Long, Double)].collect()
    // de: 1 token "ab" → 1 symbol; en: tokens ab,ab,x → 1+1+1 symbols
    assert(r.toSeq === Seq(("de", 1L, 1L, 1.0), ("en", 3L, 3L, 1.0)))
  }
}
