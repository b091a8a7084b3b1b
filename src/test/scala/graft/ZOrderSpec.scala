package graft

import org.apache.spark.sql.functions._

import graft.operators.ZOrder

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("morton code interleaves bits (known values)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("a", "b")
    val out = df.select(ZOrder.zorderCode2($"a", $"b", 4).as("z"))
      .as[Long].collect()
    // z(a,b): a bits at even positions, b bits at odd.
    // z(3,5) = a=0011 -> 0b00000101, b=0101 -> 0b00100010 shifted odd:
    //   a: 1*1 + 1*4 = 5; b: 1*2 + 1*32 = 34; total 39
    assert(out.toSeq === Seq(0L, 1L, 2L, 3L, 39L))
  }

  test("z-order curve bounds BOTH dims per range-chunk; 1-D sort does not") {
    // 32x32 grid of points; cut the sorted order into 16 equal chunks and
    // measure each chunk's span in dim B. Z-order keeps both dims locally
    // bounded; sorting by A alone leaves B spanning the full range in
    // every chunk.
    val grid = for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong)
    val df = grid.toDF("a", "b")
    def avgChunkSpanB(sortCol: org.apache.spark.sql.Column): Double = {
      val chunked = df.orderBy(sortCol)
        .withColumn("rn", monotonically_increasing_id())
        .withColumn("chunk", (col("rn") / 64).cast("long")) // 1024/16
      val spans = chunked.groupBy("chunk")
        .agg((max("b") - min("b")).as("span"))
        .select(avg("span")).as[Double].head()
      spans
    }
    val zSpan = avgChunkSpanB(ZOrder.zorderCode2($"a", $"b", 5))
    val aSpan = avgChunkSpanB($"a")
    // sort-by-A chunks: every chunk spans b fully (31); z-order chunks
    // stay locally bounded (8x8 quadrants -> span ~7).
    assert(aSpan >= 30.0, s"1-D sort should not bound b: $aSpan")
    assert(zSpan <= 8.0, s"z-order should bound b per chunk: $zSpan")
  }

  test("z-order layout SKIPS files a 1-D clustered layout must read") {
    // The payoff, measured: write the same 64x64 grid twice — z-ordered
    // on (a,b) vs range-clustered on a alone — and count the files a
    // min/max-stats pruner must touch for each predicate (the same
    // file-level pruning parquet row-group skipping and lakehouse file
    // skipping perform). 16 files per layout.
    val grid = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val df = grid.toDF("a", "b")
    val zDir = tempDir("z2d").toString
    val aDir = tempDir("a1d").toString
    df.withColumn("z", ZOrder.zorderCode2($"a", $"b", bits = 6))
      .repartitionByRange(16, $"z").sortWithinPartitions($"z").drop("z")
      .write.mode("overwrite").parquet(zDir)
    df.repartitionByRange(16, $"a").sortWithinPartitions($"a")
      .write.mode("overwrite").parquet(aDir)

    // per-file stats, exactly what the reader's footer gives it
    def stats(dir: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(dir).groupBy(input_file_name())
        .agg(min("a"), max("a"), min("b"), max("b"))
        .select("min(a)", "max(a)", "min(b)", "max(b)")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val (zStats, aStats) = (stats(zDir), stats(aDir))
    assert(zStats.size === 16 && aStats.size === 16)
    def touched(st: Seq[(Long, Long, Long, Long)],
                aLo: Long, aHi: Long, bLo: Long, bHi: Long): Int =
      st.count { case (amin, amax, bmin, bmax) =>
        amax >= aLo && amin <= aHi && bmax >= bLo && bmin <= bHi }

    // 2-D selective box (a in [0,31], b in [0,7] — 6% of the grid): the
    // 1-D layout prunes on a only and reads half its files; z-order
    // bounds BOTH dims per file and reads a quarter of that
    val z2d = touched(zStats, 0, 31, 0, 7)
    val a2d = touched(aStats, 0, 31, 0, 7)
    assert(a2d >= 8, s"1-D layout should touch >= 8 files: $a2d")
    assert(z2d <= 4, s"z-order should touch <= 4 files: $z2d")
    assert(z2d < a2d, s"z-order must beat 1-D on the 2-D box: $z2d vs $a2d")

    // secondary-dimension filter (b in [8,15] alone): the 1-D layout has
    // NO pruning power (every file spans all of b); z-order still skips
    val zB = touched(zStats, 0, 63, 8, 15)
    val aB = touched(aStats, 0, 63, 8, 15)
    assert(aB === 16, s"1-D layout must read everything on b: $aB")
    assert(zB <= 8, s"z-order should skip on b alone: $zB")

    // both layouts return identical query results, of course
    val zc = spark.read.parquet(zDir)
      .where($"a".between(0, 31) && $"b".between(0, 7)).count()
    val ac = spark.read.parquet(aDir)
      .where($"a".between(0, 31) && $"b".between(0, 7)).count()
    assert(zc === ac && zc === 32L * 8)
  }
}
