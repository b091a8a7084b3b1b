package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis
import graft.operators.Skew
import graft.sources.Archive

class ArchiveSpec extends SparkSpec {
  test("S10 moveMatching relocates matching files, tolerates missing dirs") {
    val src = tempDir("arch-src")
    val dst = tempDir("arch-dst").resolve("archive")
    Files.writeString(src.resolve("a.csv"), "x")
    Files.writeString(src.resolve("b.csv"), "y")
    Files.writeString(src.resolve("keep.txt"), "z")
    val moved = Archive.moveMatching(spark, src.toString, dst.toString, "*.csv")
    assert(moved.size === 2)
    assert(!Files.exists(src.resolve("a.csv")))
    assert(Files.exists(dst.resolve("a.csv")) && Files.exists(dst.resolve("b.csv")))
    assert(Files.exists(src.resolve("keep.txt"))) // non-matching untouched
    // idempotent second run: nothing left to move
    assert(Archive.moveMatching(spark, src.toString, dst.toString, "*.csv").isEmpty)
    // missing source dir: empty result, no throw
    assert(Archive.moveMatching(spark, src.toString + "-nope", dst.toString).isEmpty)
  }

  test("moveMatching propagates a malformed glob instead of moving nothing") {
    val src = tempDir("arch-bad-glob")
    Files.writeString(src.resolve("a.csv"), "x")
    assertThrows[java.io.IOException] {
      Archive.moveMatching(spark, src.toString,
        tempDir("arch-dst").resolve("archive").toString, "[")
    }
    assert(Files.exists(src.resolve("a.csv")))
  }

  test("moveMatching goes through the session's Hadoop conf") {
    val src = tempDir("arch-session-conf")
    Files.writeString(src.resolve("a.csv"), "x")
    val before = CountingLocalFs.renames.get
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      val moved = Archive.moveMatching(spark, src.toString,
        tempDir("arch-dst").resolve("archive").toString)
      assert(moved.size === 1)
      assert(CountingLocalFs.renames.get - before === 1)
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}

/** A local file system that counts renames: set as `fs.file.impl`, it
  * shows which Hadoop conf a caller's file system was built from. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingLocalFs {
  val renames = new java.util.concurrent.atomic.AtomicInteger
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted count/sum match direct aggregation exactly") {
    // hot key: 900 of 1000 rows share key 0
    val df = (0 until 1000).map(i => (if (i < 900) 0 else i % 7, i.toLong, i * 1.5))
      .toDF("k", "id", "v")
    val direct = df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("total"))
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val saltedN = Skew.saltedCount(df, Seq("k"), Seq("id"), salts = 8)
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getLong(1)))
    val saltedS = Skew.saltedAgg(df, Seq("k"), Seq("id"), salts = 8,
        Seq(sum($"v").as("__s")), Seq(sum($"__s").as("total")))
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(saltedN.toSeq === direct.map(t => (t._1, t._2)).toSeq)
    assert(saltedS.map(_._1).toSeq === direct.map(_._1).toSeq)
    saltedS.map(_._2).zip(direct.map(_._3)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9) // double sum order differs across shapes
    }
  }
}

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  test("tf-idf: corpus-unique tokens outrank ubiquitous ones") {
    val docs = Seq(
      (0L, "common common rare0"),
      (1L, "common rare1 rare1"),
      (2L, "common somethingelse")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(docs, topK = 1)
    val top = out.select("doc_id", "token").as[(Long, String)].collect().toMap
    assert(top(0L) === "rare0")
    assert(top(1L) === "rare1")
    // 'common' appears in every doc -> idf = ln(1) = 0 -> never top
    assert(!top.values.toSet.contains("common"))
  }
}
