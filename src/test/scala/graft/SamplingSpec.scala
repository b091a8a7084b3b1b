package graft

import org.apache.spark.sql.functions._

import graft.ext.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("deterministicSplit is stable, exhaustive, and roughly proportional") {
    val df = (0L until 2000L).toDF("id")
    val split = Sampling.deterministicSplit(df, col("id"),
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts.values.sum === 2000L)
    // hash buckets are uniform-ish; generous bounds so the test is not flaky
    assert(counts("train") > 1400 && counts("train") < 1800, counts)
    assert(counts("val") > 100 && counts("val") < 320, counts)
    // identical assignment on a re-run and under a different layout
    val again = Sampling.deterministicSplit(df.repartition(7), col("id"),
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    assert(split.orderBy("id").as[(Long, String)].collect().toSeq
      === again.orderBy("id").as[(Long, String)].collect().toSeq)
  }

  test("split boundaries follow cumulative weights; remainder joins last split") {
    val df = (0L until 500L).toDF("id")
    // weights summing under 100: the uncovered tail must land in "b"
    val split = Sampling.deterministicSplit(df, col("id"),
      Seq("a" -> 50, "b" -> 10))
    val withBucket = split.withColumn("bucket", Sampling.hashBucket(col("id"), 100))
      .as[(Long, String, Long)].collect()
    withBucket.foreach { case (_, s, b) =>
      assert(if (b < 50) s == "a" else s == "b", s"bucket=$b split=$s")
    }
  }

  test("rejects weights summing over 100") {
    val df = Seq(1L).toDF("id")
    intercept[IllegalArgumentException] {
      Sampling.deterministicSplit(df, col("id"), Seq("a" -> 90, "b" -> 20))
    }
  }

  test("mixtureSample applies per-stratum rates with a default fallback") {
    val df = (0L until 900L).map(i =>
      (i, Seq("en", "de", "xx")((i % 3).toInt))).toDF("id", "src")
    val kept = Sampling.mixtureSample(df, col("id"), col("src"),
        Seq("en" -> 100, "de" -> 50), defaultPercent = 0)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(kept("en") === 300L)                    // 100% stratum keeps all
    assert(kept("de") > 100L && kept("de") < 200L) // ~50% of 300
    assert(!kept.contains("xx"))                   // 0% default drops stratum
    // stable under repartitioning (hash of key, not position)
    val again = Sampling.mixtureSample(df.repartition(7), col("id"),
        col("src"), Seq("en" -> 100, "de" -> 50), defaultPercent = 0)
      .select("id").as[Long].collect().toSet
    val first = Sampling.mixtureSample(df, col("id"), col("src"),
        Seq("en" -> 100, "de" -> 50), defaultPercent = 0)
      .select("id").as[Long].collect().toSet
    assert(first === again)
  }

  test("temperatureSample flattens the mixture toward the smallest stratum") {
    // strata 1600 : 400 : 100 — at T=2 the keep rates are sqrt(100/n):
    // 25% : 50% : 100%, so kept counts target 400 : 200 : 100 (a flatter
    // mix than 16:4:1), subject to hash-bucket binomial noise
    val df = ((0L until 1600L).map((_, "big")) ++
      (2000L until 2400L).map((_, "mid")) ++
      (3000L until 3100L).map((_, "tiny"))).toDF("id", "src")
    val kept = Sampling.temperatureSample(df, col("id"), col("src"))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(kept("tiny") === 100L) // smallest stratum keeps everything
    assert(kept("mid") > 150L && kept("mid") < 250L)
    assert(kept("big") > 320L && kept("big") < 480L)
    // stable under repartitioning (identity hash, not position/RNG)
    val a = Sampling.temperatureSample(df, col("id"), col("src"))
      .select("id").as[Long].collect().toSet
    val b = Sampling.temperatureSample(df.repartition(7), col("id"),
      col("src")).select("id").as[Long].collect().toSet
    assert(a === b)
    // T=1 is a no-op mixture (every rate 1.0)
    val all = Sampling.temperatureSample(df, col("id"), col("src"),
      temperature = 1.0)
    assert(all.count() === df.count())
  }

  test("weightedSample: inclusion tracks weight, deterministic, exact k") {
    // group a: 9000 rows at weight 1; group b: 1000 rows at weight 9 —
    // equal TOTAL weight, so a k=500 sample should split roughly evenly
    // between the groups even though b has 9x fewer rows
    val df = ((0L until 9000L).map((_, "a", 1.0)) ++
      (10000L until 11000L).map((_, "b", 9.0))).toDF("id", "grp", "w")
    val sample = Sampling.weightedSample(df, col("id"), col("w"), k = 500)
    val byGrp = sample.groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    assert(byGrp.values.sum === 500L)
    assert(byGrp("b") > 150L && byGrp("b") < 350L,
      s"weight-9 group got ${byGrp("b")} of 500")
    // deterministic under repartitioning
    val a = sample.select("id").as[Long].collect().toSet
    val b = Sampling.weightedSample(df.repartition(13), col("id"),
      col("w"), k = 500).select("id").as[Long].collect().toSet
    assert(a === b)
    // zero/negative weights are never sampled
    val z = Sampling.weightedSample(
      ((0L to 10L).map((_, 0.0)) ++ Seq((99L, 1.0))).toDF("id", "w"),
      col("id"), col("w"), k = 5)
    assert(z.select("id").as[Long].collect().toSeq === Seq(99L))
  }

  test("samplePerStratum takes exactly min(k, |group|), stable under layout") {
    val df = (1L to 97L).map(i => (i, s"g${i % 4}")).toDF("id", "g")
      .union(Seq((1000L, "tiny")).toDF("id", "g")) // group smaller than k
    def pick(parts: Int) = graft.ext.Sampling.samplePerStratum(
        df.repartition(parts), col("id"), col("g"), k = 5)
      .select("g", "id").as[(String, Long)].collect().toSet
    val a = pick(1)
    assert(a === pick(17)) // identical selection under any partitioning
    val perGroup = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup("tiny") === 1)
    assert(Seq("g0", "g1", "g2", "g3").forall(perGroup(_) === 5))
  }

  test("hex-prefix candidate pre-filter preserves the exact global sample") {
    // the pre-filter predicate is a prefix of the rank order, so ranking
    // survivors = global ranks whenever >= k rows survive per stratum
    val df = (1L to 400L).map(i => (i, s"g${i % 2}")).toDF("id", "g")
    val full = graft.ext.Sampling.samplePerStratum(
        df, col("id"), col("g"), k = 4)
      .select("g", "id", "sample_rank").as[(String, Long, Long)]
      .collect().toSet
    val pre = graft.ext.Sampling.samplePerStratum(
        df, col("id"), col("g"), k = 4, hexPrefixBelow = Some("8"))
      .select("g", "id", "sample_rank").as[(String, Long, Long)]
      .collect().toSet
    assert(pre === full)
  }

  test("int8 quantization: codes bounded, error small, zero vector safe") {
    import graft.ext.Similarity
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df).orderBy("vec_id")
      .select("qcode", "scale", "quant_mae")
      .as[(Seq[Int], Double, Double)].collect()
    assert(out(0)._1 === Seq(127, -63, 32, 0)) // floor(x/scale + 0.5)
    assert(out(0)._1.forall(c => c >= -127 && c <= 127))
    assert(out(0)._3 < out(0)._2) // mean error under one quantization step
    assert(out(1)._1 === Seq(0, 0, 0, 0) && out(1)._3 === 0.0)
  }

  test("contrastiveNegatives: deterministic, never self, ranks bounded") {
    val docs = (1L to 300L).map(d => (d, s"doc $d")).toDF("doc_id", "text")
    def run() = Sampling.contrastiveNegatives(docs, col("doc_id"),
        k = 4, buckets = 8)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val pairs = run()
    assert(pairs === run()) // bit-stable across runs
    assert(pairs.forall { case (a, r, n) => a != n && r >= 1 && r <= 4 })
    // each anchor draws at most k, and most draws land (300 docs over 8
    // buckets: no empty buckets, only own-bucket skips)
    val perAnchor = pairs.groupBy(_._1).view.mapValues(_.size)
    assert(perAnchor.values.forall(_ <= 4))
    assert(pairs.size > 300 * 4 * 3 / 4, s"too many skipped: ${pairs.size}")
    // negatives are bucket representatives: the negative set is small
    assert(pairs.map(_._3).distinct.size <= 8)
  }
}
