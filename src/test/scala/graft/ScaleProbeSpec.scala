package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** The scale probe is measurement infrastructure: if its blowup is not a
  * true per-replica isometry, its exponents measure the generator, not
  * the engine (the round-10 underscore-salt incident, BASELINE.md). These
  * pins make the three isometry claims mechanical.
  */
class ScaleProbeSpec extends SparkSpec {
  import spark.implicits._

  private val base = "/root/testdata/sf0.001"
  private lazy val out: String = {
    val dir = tempDir("scaleprobe-spec").toString
    ScaleProbe.generate(spark, base, dir, k = 2)
    dir
  }

  test("facts replicate k-fold with disjoint keys; dims stay fixed") {
    for (t <- Seq("lineitem", "orders", "customer", "documents",
        "embeddings", "events")) {
      val n0 = graft.sources.Tables.table(spark, base, t).count()
      val df = graft.sources.Tables.table(spark, out, t)
      assert(df.count() === 2 * n0, s"$t should double")
    }
    for (t <- Seq("region", "nation")) {
      assert(graft.sources.Tables.table(spark, out, t).count() ===
        graft.sources.Tables.table(spark, base, t).count(), s"$t is a dim")
    }
    // key disjointness: doc_id cardinality = row count (no collisions)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.select("doc_id").distinct().count() === docs.count())
  }

  test("FK integrity holds within replicas (no orphans, no cross-matches)") {
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$out/orders.parquet")
    val orphans = li.join(ord, col("l_orderkey") === col("o_orderkey"),
      "left_anti").count()
    assert(orphans === 0L, "every replicated lineitem must find its order")
    // join cardinality is exactly 2x the base join (no cross-replica hits)
    val baseJoin = graft.sources.Tables.table(spark, base, "lineitem")
      .join(graft.sources.Tables.table(spark, base, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      === 2 * baseJoin)
  }

  test("word salt is tokenizer-transparent: shingle pairs replicate, never mix") {
    // Within-replica near-dup structure must be EXACTLY the base
    // structure (pair count doubles); cross-replica token spaces are
    // disjoint so no pair spans replicas. This is the pin that would have
    // caught the underscore salt (token split -> bucket collapse).
    val baseDocs = graft.sources.Tables.table(spark, base, "documents")
    val blown = spark.read.parquet(s"$out/documents.parquet")
    val basePairs = Dedup.jaccardPairs(baseDocs, 5, 0.8).count()
    val pairs = Dedup.jaccardPairs(blown, 5, 0.8)
    assert(pairs.count() === 2 * basePairs,
      "per-replica jaccard pair structure must replicate exactly")
    val maxId = baseDocs.agg(max(col("doc_id"))).head.getLong(0)
    val cross = pairs.where(
      (col("doc_a") <= maxId) =!= (col("doc_b") <= maxId)).count()
    assert(cross === 0L, "no near-dup pair may span replicas")
  }

  test("embedding sign-flip preserves intra-replica dots, kills cross cosine") {
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val baseEmb = graft.sources.Tables.table(spark, base, "embeddings")
    val n0 = baseEmb.count()
    def dot(a: String, b: String) =
      aggregate(zip_with(col(a), col(b), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v)
    // replica 1's pairwise dot of (vec i, vec j) equals the base replica's
    val pick = Seq(0L, 1L, 2L, 3L)
    def dots(ids: Seq[Long], off: Long) = emb
      .where(col("vec_id").isin(ids.map(_ + off): _*))
      .select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.where(col("vec_id").isin(ids.map(_ + off): _*))
        .select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .where(col("ia") < col("ib"))
      .select(((col("ia") - off) * 10000 + (col("ib") - off)).as("k"),
        round(dot("ea", "eb"), 4).as("d"))
      .as[(Long, Double)].collect().toMap
    val d0 = dots(pick, 0L)
    val d1 = dots(pick, n0)
    assert(d0 === d1, "sign flip must preserve intra-replica dot products")
    // cross-replica cosine of the SAME base vector is far from 1
    // (sign pattern decorrelates); compare vec 0 with its replica copy
    val v = emb.where(col("vec_id") === 0L).select(col("embedding").as("ea"))
      .crossJoin(emb.where(col("vec_id") === n0)
        .select(col("embedding").as("eb")))
      .select(dot("ea", "eb").as("d"),
        sqrt(dot("ea", "ea")).as("na"), sqrt(dot("eb", "eb")).as("nb"))
      .select((col("d") / (col("na") * col("nb"))).as("cos"))
      .as[Double].head()
    assert(math.abs(v) < 0.5,
      s"replica copy of a vector must not stay cosine-similar (got $v)")
  }
}
