package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.TopKAggregate.topKBy

class TopKSpec extends SparkSpec {
  import spark.implicits._

  // raw ScalaCheck: the scalatest bridge is not in the offline cache
  // (same pattern as PropertiesSpec)
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy($"g")
      .agg(topKBy($"v", $"id", k).as("top"))
      .select($"g", posexplode_outer($"top").as(Seq("pos", "e")))
      .where($"e".isNotNull)
      .select($"g", ($"pos" + 1).as("rank"), $"e.id".as("id"), $"e.v".as("v"))

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id".asc)
    df.withColumn("rank", row_number().over(w).cast("int"))
      .where($"rank" <= k).select($"g", $"rank", $"id", $"v")
  }

  test("aggregate top-k equals the window form for arbitrary data and ties") {
    val rowsGen = Gen.listOfN(80, Gen.zip(
      Gen.choose(0, 3), Gen.choose(0L, 40L), Gen.choose(0, 5).map(_.toDouble)))
    check(Prop.forAll(rowsGen) { rows =>
      rows.isEmpty || {
        // dedup ids within a group (row identity); heavy value ties remain
        val df = rows.distinct.toDF("g", "id", "v")
        val a = viaAgg(df, 3).orderBy($"g", $"rank")
          .as[(Int, Int, Long, Double)].collect().toSeq
        val w = viaWindow(df, 3).orderBy($"g", $"rank")
          .as[(Int, Int, Long, Double)].collect().toSeq
        a == w
      }
    })
  }

  test("result is exact under any partitioning (mergeable, deterministic)") {
    val df = (1L to 500L).map(i => (i % 5, i, (i % 17).toDouble))
      .toDF("g", "id", "v")
    def run(parts: Int) = viaAgg(df.repartition(parts), 4)
      .orderBy($"g", $"rank").collect().toSeq
    assert(run(1) === run(32))
  }

  test("NaN sorts greatest, matching Spark's window ordering") {
    val df = Seq((0, 1L, 5.0), (0, 2L, Double.NaN), (0, 3L, 9.0))
      .toDF("g", "id", "v")
    val a = viaAgg(df, 2).orderBy($"rank")
      .select($"id").as[Long].collect().toSeq
    val w = viaWindow(df, 2).orderBy($"rank")
      .select($"id").as[Long].collect().toSeq
    assert(a === w && a === Seq(2L, 3L)) // NaN first, then 9.0
  }

  test("composes with Structured Streaming windowed aggregation") {
    // TypedImperativeAggregate buffers serialize through streaming state:
    // the same top-k surface works in a watermarked windowed groupBy
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = input.toDF().toDF("ts", "id", "v")
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 hour"))
      .agg(topKBy($"v", $"id", 2).as("top"))
      .select($"window.start".as("ws"), $"top")
      .writeStream.format("memory").queryName("topk_stream")
      .option("checkpointLocation",
        tempDir("ckpt-topk").toString)
      .outputMode("update").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (t("2024-01-01 10:00:00"), 1L, 5.0),
      (t("2024-01-01 10:10:00"), 2L, 9.0),
      (t("2024-01-01 10:20:00"), 3L, 7.0),
      (t("2024-01-01 11:05:00"), 4L, 1.0))
    q.processAllAvailable()
    val rows = spark.sql(
      """SELECT ws, e.id FROM (
           SELECT ws, explode(top) AS e FROM topk_stream) ORDER BY ws, e.v DESC""")
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(rows === Seq(
      (t("2024-01-01 10:00:00"), 2L), (t("2024-01-01 10:00:00"), 3L),
      (t("2024-01-01 11:00:00"), 4L)))
    q.stop()
  }

  test("groups smaller than k return all rows; SQL surface registered") {
    val df = Seq((0, 1L, 9.0), (0, 2L, 8.0), (1, 3L, 7.0)).toDF("g", "id", "v")
    assert(viaAgg(df, 5).count() === 3)
    df.createOrReplaceTempView("topk_in")
    val sql = spark.sql(
      """SELECT g, e.id FROM (
           SELECT g, explode(top_k_by(v, id, 1)) AS e
           FROM topk_in GROUP BY g) ORDER BY g""").as[(Int, Long)].collect()
    assert(sql.toSeq === Seq((0, 1L), (1, 3L)))
  }

  test("both top-k forms ship answer-sized shuffles (WindowGroupLimit pin)") {
    // MEASURED finding, pinned so it stays true: the aggregate's partial
    // phase collapses each map partition to ≤ groups buffers before the
    // exchange — and since Spark 3.5, WindowGroupLimit pushes a
    // rank-filter group limit below the WINDOW form's exchange too
    // (partitions × groups × k rows), so BOTH forms shuffle
    // answer-sized, never data-sized. The aggregate's remaining edge is
    // composition: it runs inside any groupBy/streaming aggregation
    // (tested above), where a window+filter cannot.
    val df = (0L until 20000L)
      .map(i => (i % 20, i, (i * 7 % 9973).toDouble))
      .toDF("g", "id", "v")
    def shuffledRecords(q: org.apache.spark.sql.DataFrame): Long = {
      q.queryExecution.toRdd.count() // materialize so metrics populate
      q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }.sum
    }
    val aggQ = df.groupBy($"g")
      .agg(graft.functions.TopKAggregate.topKBy($"v", $"id", 3).as("top"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    val winQ = df.withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
    // plain (non-adaptive) plans so the exchanges sit directly in the
    // executed plan with their metrics readable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val agg = shuffledRecords(aggQ)
      val win = shuffledRecords(winQ)
      assert(agg > 0 && win > 0, s"metrics missing: agg=$agg win=$win")
      // answer-sized: a few hundred records, never the 20k input rows
      assert(agg < 200, s"aggregate exchange should be ≤ parts×groups: $agg")
      assert(win < 1000,
        s"WindowGroupLimit should keep the window exchange answer-sized " +
          s"(a regression here means rank-filter pushdown stopped): $win")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("topKByDistinct equals dropDuplicates-then-topKBy on duplicate sightings") {
    import graft.functions.TopKAggregate.topKByDistinct
    def viaDistinctAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.groupBy($"g")
        .agg(topKByDistinct($"v", $"id", k).as("top"))
        .select($"g", posexplode_outer($"top").as(Seq("pos", "e")))
        .where($"e".isNotNull)
        .select($"g", ($"pos" + 1).as("rank"), $"e.id".as("id"),
          $"e.v".as("v"))
    // duplicate sightings carry the SAME value per (g, id) — the kNN
    // graph's contract (deterministic rounded cosines) — generated by
    // duplicating rows with multiplicity 1..4
    val rowsGen = Gen.listOfN(40, Gen.zip(
      Gen.choose(0, 3), Gen.choose(0L, 15L), Gen.choose(0, 5).map(_.toDouble),
      Gen.choose(1, 4)))
    check(Prop.forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val base = rows.map { case (g, id, v, _) => (g, id, v) }.distinct
        val dup = rows.flatMap { case (g, id, v, m) =>
          base.find(r => r._1 == g && r._2 == id).toSeq
            .flatMap(r => Seq.fill(m)(r))
        }
        val df = dup.toDF("g", "id", "v")
        val got = viaDistinctAgg(df, 3).orderBy($"g", $"rank")
          .collect().map(_.toSeq).toSeq
        val want = viaAgg(df.dropDuplicates("g", "id"), 3)
          .orderBy($"g", $"rank").collect().map(_.toSeq).toSeq
        got == want
      }
    })
  }

  test("topKByDistinct dedups even when a group holds <= k entries") {
    // eval()-path pin: compact() is a no-op at <= k entries, so the
    // dedup must also run at emit time
    val df = Seq((0, 7L, 1.0), (0, 7L, 1.0), (0, 8L, 0.5))
      .toDF("g", "id", "v")
    val got = df.groupBy($"g")
      .agg(graft.functions.TopKAggregate.topKByDistinct($"v", $"id", 5)
        .as("top"))
      .select(explode($"top").as("e"))
      .select($"e.id", $"e.v").as[(Long, Double)].collect().toSeq
    assert(got === Seq((7L, 1.0), (8L, 0.5)))
  }

  test("topKByDistinct debug check rejects an id sighted with differing " +
      "values (contract violation)") {
    // the harness arms -Dgraft.topk.checkDistinctContract (SparkSpec):
    // distinctIds is dedup-equivalent ONLY when all sightings of an id
    // agree; a violating caller must fail loudly, not silently get
    // best-value-per-id
    val df = Seq((0, 7L, 1.0), (0, 7L, 0.9), (0, 8L, 0.5))
      .toDF("g", "id", "v")
    val e = intercept[org.apache.spark.SparkException] {
      df.groupBy($"g")
        .agg(graft.functions.TopKAggregate.topKByDistinct($"v", $"id", 5)
          .as("top"))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("contract violation")))
  }

  test("threshold rejection is exact: late winners enter, late losers " +
      "don't evict established entries") {
    // one group in ONE partition: strong entries first lock the
    // rejection threshold at the 2k compaction, then a loser flood
    // (every row O(1)-rejected), then late winners that beat the
    // threshold and must still displace — exact vs the window form
    val rows = (1L to 6L).map(i => (0, i, 100.0 + i)) ++
      (100L to 600L).map(i => (0, i, 1.0)) ++
      Seq((0, 700L, 150.0), (0, 701L, 104.5))
    val df = rows.toDF("g", "id", "v").coalesce(1)
    val a = viaAgg(df, 3).orderBy($"rank")
      .as[(Int, Int, Long, Double)].collect().toSeq
    val w = viaWindow(df, 3).orderBy($"rank")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(a === w)
  }

  test("deserialize never restores a rejection threshold (buffers " +
      "serialized at len == k are insertion-ordered)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = graft.functions.TopKByDouble(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), k = 2,
      distinctIds = true)
    // two sightings of ONE id: len == k with no compaction — the bytes
    // are insertion-ordered and dup-carrying, so entry k-1 is NOT the
    // k-th distinct best and no threshold may be inferred from them
    val src = agg.createAggregationBuffer()
    agg.update(src, InternalRow(5.0, 7L))
    agg.update(src, InternalRow(5.0, 7L))
    val back = agg.deserialize(agg.serialize(src))
    assert(!back.hasThreshold)
    // a later, worse-valued id must still reach the final top-2 after
    // the round-trip (a bogus restored threshold would reject it)
    val tgt = agg.createAggregationBuffer()
    agg.merge(tgt, back)
    agg.update(tgt, InternalRow(3.0, 9L))
    val out = agg.eval(tgt).asInstanceOf[GenericArrayData]
    assert(out.numElements() === 2)
    assert(out.getStruct(1, 2).getLong(1) === 9L)
  }
}
