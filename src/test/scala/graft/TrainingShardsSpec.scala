package graft

import org.apache.spark.sql.functions._

import graft.sources.TrainingShards

/** The reproducible-training-order contract: shard assignment and
  * within-shard order are pure functions of the key. */
class TrainingShardsSpec extends SparkSpec {
  import spark.implicits._

  test("shuffledShardWrite: one file per shard, lossless, md5-ordered, stable") {
    val df = (0L until 2000L).map(i => (i, s"doc_$i")).toDF("id", "text")
    val dir = tempDir("graft_shards")
      .resolve("out").toString
    TrainingShards.shuffledShardWrite(df, col("id"), nShards = 8, dir)

    val back = spark.read.parquet(dir)
    // lossless: every row lands in exactly one shard
    assert(back.count() === 2000L)
    assert(back.select("id").distinct().count() === 2000L)
    // one data file per shard directory
    val root = new java.io.File(dir)
    val shardDirs = root.listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length === 8)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName} has ${files.length} files")
    }
    // within-shard file order IS md5(key) order (read one shard's single
    // file as a single partition: row order = file order)
    val shard0 = spark.read
      .parquet(shardDirs.minBy(_.getName).getPath)
      .select(col("id")).as[Long].collect().toSeq
    val sorted = spark.createDataset(shard0).toDF("id")
      .orderBy(md5(col("id").cast("string")), col("id"))
      .as[Long].collect().toSeq
    assert(shard0 === sorted, "file order must equal md5 order")
    // the order is a real shuffle, not the input order
    assert(shard0 !== shard0.sorted)
    // bit-stable: a second write from a different layout is identical
    val dir2 = tempDir("graft_shards2")
      .resolve("out").toString
    TrainingShards.shuffledShardWrite(df.repartition(13), col("id"), 8, dir2)
    val back2 = spark.read.parquet(new java.io.File(dir2).listFiles()
      .filter(_.getName.startsWith("shard=")).minBy(_.getName).getPath)
      .select(col("id")).as[Long].collect().toSeq
    assert(back2 === shard0)
  }

  test("tokenBalancedAssign: shard weight balanced to ± one max row") {
    // heavily varied weights: w(i) = 1 + (i % 97)^2 — row-count sharding
    // would be far off; token sharding must land within one max weight
    val df = (0L until 1000L).map(i => (i, 1L + (i % 97) * (i % 97)))
      .toDF("id", "w")
    val n = 8
    val out = TrainingShards.tokenBalancedAssign(df, col("id"), col("w"), n)
    val sums = out.groupBy("shard").agg(sum("weight").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums.keySet === (0L until n.toLong).toSet)
    val total = sums.values.sum
    val maxW = 96L * 96L + 1L
    val ideal = total.toDouble / n
    sums.values.foreach(s =>
      assert(math.abs(s - ideal) <= maxW,
        s"shard weight $s off ideal $ideal by more than one max row"))
    // lossless and deterministic across input layouts
    assert(out.count() === 1000L)
    val out2 = TrainingShards.tokenBalancedAssign(
      df.repartition(13), col("id"), col("w"), n)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out2.toMap === out.select("id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("tokenBalancedAssign: bucket decomposition == global prefix sum") {
    // reference: single global cumsum, shard = floor(start * n / total)
    val rows = (0L until 500L).map(i => (i, 1L + i % 37))
    val n = 5
    val ordered = rows.sortBy { case (i, _) =>
      (org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString), i)
    }
    val total = rows.map(_._2).sum
    var cum = 0L
    val expect = ordered.map { case (i, w) =>
      val start = cum; cum += w
      i -> math.min(n - 1L, start * n / total)
    }.toMap
    val got = TrainingShards.tokenBalancedAssign(
        rows.toDF("id", "w"), col("id"), col("w"), n)
      .select("id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("tokenBalancedAssign: degenerate corpora") {
    // all-zero weights: everything in shard 0, no division error (ANSI)
    val zeros = (0L until 10L).map((_, 0L)).toDF("id", "w")
    val z = TrainingShards.tokenBalancedAssign(zeros, col("id"), col("w"), 4)
      .select("shard").distinct().collect().map(_.getLong(0)).toSeq
    assert(z === Seq(0L))
    // empty input: empty output, same schema
    val e = TrainingShards.tokenBalancedAssign(
      zeros.where(lit(false)), col("id"), col("w"), 4)
    assert(e.count() === 0L)
    assert(e.columns.toSeq === Seq("id", "w", "weight", "shard"))
  }

  test("tokenBalancedAssign plan: the only unpartitioned window is bucket-sized") {
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("id", "w")
    val p = TrainingShards.tokenBalancedAssign(df, col("id"), col("w"), 4)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // the corpus-sized window partitions by __b; SinglePartition feeds only
    // the 16^hexChars-row offsets aggregate
    assert("hashpartitioning\\(__b".r.findAllIn(p).nonEmpty,
      s"per-bucket cumsum must partition by __b:\n$p")
    assert(!p.contains("NestedLoop"), s"no nested loop expected:\n$p")
  }
}
