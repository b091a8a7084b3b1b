package graft

import org.apache.spark.sql.functions._

import graft.ext.DimReduce
import graft.functions.VectorMoments

/** VectorMoments one-pass sufficient statistics, the driver-side Jacobi
  * eigensolver, PCA fit/projection semantics, and the deterministic
  * random projection (sign portability + JL distance preservation). */
class DimReduceSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: Seq[Seq[Float]]) =
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")

  test("vec_moments: n, sums, and gram triangle match hand computation") {
    val df = vecs(Seq(Seq(1f, 2f), Seq(3f, 4f), Seq(5f, 6f)))
    val m = DimReduce.moments(df)
    // layout: [n, s0, s1, g00, g01, g11]
    assert(m.toSeq === Seq(3.0, 9.0, 12.0,
      1.0 + 9 + 25, 2.0 + 12 + 30, 4.0 + 16 + 36))
    assert(VectorMoments.triIndex(2, 0, 0) === 3)
    assert(VectorMoments.triIndex(2, 0, 1) === 4)
    assert(VectorMoments.triIndex(2, 1, 1) === 5)
  }

  test("vec_moments: null rows ignored; ragged dimensions throw") {
    val df = Seq((0L, Some(Seq(1f, 2f))), (1L, None), (2L, Some(Seq(3f, 4f))))
      .toDF("vec_id", "embedding")
    val m = df.agg(VectorMoments.vecMoments(col("embedding"))).collect()(0)
      .getSeq[Double](0)
    assert(m.head === 2.0)
    val ragged = Seq((0L, Seq(1f, 2f)), (1L, Seq(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      ragged.coalesce(1).agg(VectorMoments.vecMoments(col("embedding"))).collect()
    }
    assert(e.getMessage.contains("ragged") ||
      e.getCause != null && e.getCause.getMessage.contains("ragged"))
    // each partition consistent (dim 2 in one, 3 in the other): only the
    // merge of the two partial buffers sees the mismatch
    val split = spark.sparkContext.parallelize(Seq((0L, Seq(1f, 2f)),
      (1L, Seq(3f, 4f)), (2L, Seq(1f, 2f, 3f)), (3L, Seq(4f, 5f, 6f))), 2)
      .toDF("vec_id", "embedding")
    val m2 = intercept[Exception] {
      split.agg(VectorMoments.vecMoments(col("embedding"))).collect()
    }
    assert(m2.getMessage.contains("merging ragged") ||
      m2.getCause != null && m2.getCause.getMessage.contains("merging ragged"))
  }

  test("jacobiEigen recovers a known symmetric spectrum") {
    // A = [[2,1],[1,2]] → eigenvalues 3 (v=[1,1]/√2) and 1 (v=[1,-1]/√2)
    val (eigs, v) = DimReduce.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = eigs.sorted
    assert(math.abs(sorted(0) - 1.0) < 1e-12 && math.abs(sorted(1) - 3.0) < 1e-12)
    // A·v_i = λ_i·v_i for both columns
    for (ix <- 0 until 2) {
      val av0 = 2.0 * v(0)(ix) + 1.0 * v(1)(ix)
      assert(math.abs(av0 - eigs(ix) * v(0)(ix)) < 1e-10)
    }
  }

  test("pcaFit: dominant direction, orthonormal components, variance ratio") {
    // points stretched along (1,1): top component must align with it
    val df = vecs(Seq(Seq(10f, 10f), Seq(-10f, -10f), Seq(9f, 11f),
      Seq(-11f, -9f), Seq(1f, -1f), Seq(-1f, 1f)))
    val m = DimReduce.pcaFit(df, k = 2)
    assert(m.n === 6 && m.dim === 2)
    assert(m.eigenvalues(0) >= m.eigenvalues(1))
    val c0 = m.components(0)
    assert(math.abs(math.abs(c0(0)) - math.abs(c0(1))) < 1e-9) // ∝ (1,1)
    assert(math.abs(c0(0) * c0(0) + c0(1) * c0(1) - 1.0) < 1e-12)
    val dot01 = c0(0) * m.components(1)(0) + c0(1) * m.components(1)(1)
    assert(math.abs(dot01) < 1e-10)
    // k = d keeps everything: the kept eigenvalues are the total variance
    assert(math.abs(m.eigenvalues.take(m.k).sum / m.eigenvalues.sum - 1.0) < 1e-12)
  }

  test("projectPca: per-component variance equals the eigenvalue") {
    val rnd = new scala.util.Random(7)
    val df = vecs(Seq.fill(200)(Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val model = DimReduce.pcaFit(df, k = 3)
    val proj = DimReduce.projectPca(df, model)
    val vars = proj.select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("j").agg(var_pop(col("x")).as("v"))
      .orderBy("j").select("v").as[Double].collect()
    vars.zip(model.eigenvalues.take(3)).foreach { case (v, e) =>
      assert(math.abs(v - e) < 1e-3 * math.max(e, 1e-9))
    }
  }

  test("projectPcaWhitened: unit variance per kept component; " +
    "near-zero eigenvalues dropped, not amplified") {
    val rnd = new scala.util.Random(13)
    // 3rd coordinate is CONSTANT → eigenvalue 0 → must be dropped at k=3
    val df = vecs(Seq.fill(100)(
      Seq(rnd.nextGaussian().toFloat * 3f, rnd.nextGaussian().toFloat, 0.5f)))
    val model = DimReduce.pcaFit(df, k = 3)
    val proj = DimReduce.projectPcaWhitened(df, model)
    val rows = proj.select(posexplode_outer(col("embedding")).as(Seq("j", "x")))
      .where(col("x").isNotNull)
      .groupBy("j").agg(var_pop(col("x")).as("v"))
      .orderBy("j").select("v").as[Double].collect()
    assert(rows.length === 2) // the zero-variance direction is gone
    rows.foreach(v => assert(math.abs(v - 1.0) < 1e-3, s"var $v != 1"))
  }

  test("mahalanobisScores: trace identity and covariance-aware outliers") {
    val rnd = new scala.util.Random(17)
    // anisotropic: dim0 has 10x the std of dim1
    val rows = Seq.fill(300)(Seq(rnd.nextGaussian().toFloat * 10f,
      rnd.nextGaussian().toFloat))
    val df = vecs(rows)
    val model = DimReduce.pcaFit(df, k = 2)
    val scores = DimReduce.mahalanobisScores(df, model)
    val avgD2 = scores.agg(avg(col("d2"))).as[Double].collect()(0)
    assert(math.abs(avgD2 - 2.0) < 1e-6, s"trace identity broke: $avgD2 != 2")
    // a point at (0, 5): tiny L2 norm vs the 10-sigma axis, but ~5 sigma
    // along the low-variance direction — Mahalanobis must flag it above
    // a (20, 0) point (2 sigma along the high-variance axis)
    val probe = vecs(rows ++ Seq(Seq(0f, 5f), Seq(20f, 0f)))
      .where(col("vec_id") >= 300)
    val d2 = DimReduce.mahalanobisScores(probe, model)
      .orderBy("vec_id").select("d2").as[Double].collect()
    assert(d2(0) > d2(1),
      s"low-variance-axis outlier ${d2(0)} not above norm-heavy ${d2(1)}")
  }

  test("groupMomentStats: hand-computed per-group mean/trace") {
    val df = Seq(
      (0L, Seq(1f, 3f), "a"), (1L, Seq(3f, 5f), "a"), // μ=(2,4), var=(1,1)
      (2L, Seq(10f, 0f), "b"))                        // μ=(10,0), var=(0,0)
      .toDF("vec_id", "embedding", "label")
    val got = DimReduce.groupMomentStats(df, "label", dim = 2)
      .orderBy("label").as[(String, Long, Double, Double)].collect()
    assert(got(0) === (("a", 2L, 20.0, 2.0)))  // ‖μ‖²=4+16, trace=1+1
    assert(got(1) === (("b", 1L, 100.0, 0.0)))
  }

  test("rpSign is the portable md5 family (spot pins)") {
    // recompute two cells by hand through MessageDigest to pin the key
    // format "rp_i_j" — any change breaks the DuckDB oracle silently
    import java.security.MessageDigest
    def sign(i: Int, j: Int): Int = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"rp_${i}_$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
    for (i <- 0 until 4; j <- 0 until 4)
      assert(DimReduce.rpSign(i, j) === sign(i, j))
  }

  test("randomProjection: exact micros arithmetic, shape, determinism") {
    val df = vecs(Seq(Seq(0.5f, -0.25f), Seq(1.0f, 2.0f)))
    val out = DimReduce.randomProjection(df, k = 4, dim = 2)
      .orderBy("vec_id", "out_dim")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length === 8)
    val expMicros = (0 until 4).map { j =>
      DimReduce.rpSign(0, j) * 500000L + DimReduce.rpSign(1, j) * -250000L
    }
    assert(out.take(4).map(_._3).toSeq === expMicros)
    out.foreach { case (_, _, pm, p) =>
      assert(math.abs(p - BigDecimal(pm.toDouble / 2e6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    // determinism: a second run is bit-identical
    val again = DimReduce.randomProjection(df, k = 4, dim = 2)
      .orderBy("vec_id", "out_dim").as[(Long, Long, Long, Double)].collect()
    assert(again.toSeq === out.toSeq)
  }

  test("rpVectorizer preserves pairwise distances within JL tolerance") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(30)(Seq.fill(64)(rnd.nextGaussian().toFloat))
    val df = vecs(rows)
    val proj = DimReduce.rpVectorizer(df, k = 32, dim = 64)
      .orderBy("vec_id")
      .select("embedding").as[Seq[Float]].collect()
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    var within = 0; var total = 0
    for (a <- 0 until 10; b <- (a + 1) until 10) {
      val orig = d2(rows(a), rows(b))
      val red = d2(proj(a), proj(b))
      total += 1
      if (red > 0.4 * orig && red < 1.6 * orig) within += 1
    }
    assert(within >= (total * 0.8).toInt,
      s"JL distortion out of band for ${total - within}/$total pairs")
  }
}
