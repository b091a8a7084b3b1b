package graft

import org.apache.spark.sql.functions._

import graft.ext.{ProductQuant, Similarity}

/** Product quantization (ext/ProductQuant): fit determinism, code
  * range, ADC recall vs brute force, and the reconstruction-error
  * quality ladder that justifies the m/ksub knobs. */
class ProductQuantSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("pqFit: deterministic, right shape, centroids on the unit-sphere patch") {
    val cb = ProductQuant.pqFit(emb)
    assert(cb.length === 16 && cb.forall(_.length === 16)
      && cb.forall(_.forall(_.length === 4)))
    val again = ProductQuant.pqFit(emb)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq
      === again.map(_.map(_.toSeq).toSeq).toSeq)
    // codebooks are fit on normalized vectors: every centroid's norm is
    // <= 1 (a mean of unit-sphere subvectors lies inside the ball)
    cb.foreach(_.foreach { c =>
      val n2 = c.map(x => x * x).sum
      assert(n2 <= 1.0 + 1e-9, s"sub-centroid norm2 $n2 > 1")
    })
  }

  test("encode: m codes per vector, each in [0, ksub)") {
    val cb = ProductQuant.pqFit(emb)
    val codes = ProductQuant.encode(emb, cb)
      .select(col("pq_code")).as[Seq[Int]].collect()
    assert(codes.nonEmpty)
    assert(codes.forall(c => c.length == 16 && c.forall(j => j >= 0 && j < 16)))
  }

  test("ADC + exact re-rank: recall >= 0.7 vs brute force at refine=10k") {
    val queries = emb.where(col("vec_id") < 10)
    val cb = ProductQuant.pqFit(emb)
    val pq = ProductQuant.knnPq(emb, queries, k = 5, cb)
    // output contract matches knnBruteForce: dense ranks, cosine desc
    val rows = pq.select("query_id", "cand_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4) === (1L to sorted.size).toSeq)
      assert(sorted.map(_._3) === sorted.map(_._3).sorted.reverse)
    }
    val bf = Similarity.knnBruteForce(emb, queries, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val got = rows.map(r => (r._1, r._2)).toSet
    val recall = (got & bf).size.toDouble / bf.size
    // measured 0.92 (sf0.001) / 0.94 (sf0.01) at m=16 ksub=16 refine=50
    assert(recall >= 0.7, s"PQ recall $recall < 0.7 at refine=50")
    info(f"recall=$recall%.2f at m=16 ksub=16 refine=50")
  }

  test("packed codes round-trip the array codes bit-exactly") {
    val cb = ProductQuant.pqFit(emb)
    val arr = ProductQuant.encode(emb, cb)
      .select(col("vec_id"), col("pq_code")).as[(Long, Seq[Int])].collect().toMap
    val packed = ProductQuant.encodePacked(emb, cb)
      .select(col("vec_id"), col("pq_packed")).as[(Long, Long)].collect()
    assert(packed.nonEmpty)
    packed.foreach { case (id, p) =>
      val codes = arr(id)
      codes.indices.foreach { s =>
        assert(((p >> (s * 4)) & 15L).toInt === codes(s),
          s"vec $id subspace $s: packed ${(p >> (s * 4)) & 15L} != ${codes(s)}")
      }
    }
  }

  test("IVF-PQ: recall floor at the witness params; candidates stay in probed lists") {
    val queries = emb.where(col("vec_id") < 10)
    val coarse = ProductQuant.coarseFit(emb, nlist = 8)
    assert(coarse.length === 8 && coarse.head.length === 64)
    val cb = ProductQuant.pqFitIvf(emb, coarse)
    val got = ProductQuant.knnIvfPq(emb, queries, k = 5, coarse, cb,
        nprobe = 4, refine = 200)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.knnBruteForce(emb, queries, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (got & bf).size.toDouble / bf.size
    // measured 0.80/0.86/0.70 at sf0.001/0.01/0.1 with these params
    assert(recall >= 0.6, s"IVF-PQ recall $recall < 0.6 at 4/8 probes")
    info(f"recall=$recall%.2f at nlist=8 nprobe=4 refine=200 m=16 ksub=16")

    // Probe honesty: with k = corpus, every returned candidate must lie
    // in one of the query's 4 probed cells (computed independently here
    // from the same coarse centroids).
    val n = emb.count().toInt
    val all = ProductQuant.knnIvfPq(emb, queries, k = n, coarse, cb,
        nprobe = 4, refine = n)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    def cellOf(id: Long): Int = {
      val raw = vecs(id).map(_.toDouble).toArray
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      val v = if (nrm == 0.0) raw else raw.map(_ / nrm)
      (0 until 8).minBy(c => v.indices.map(j => {
        val d = v(j) - coarse(c)(j); d * d
      }).sum)
    }
    val probedCells = queries.select("vec_id").as[Long].collect().map { qid =>
      val raw = vecs(qid).map(_.toDouble).toArray
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      val v = if (nrm == 0.0) raw else raw.map(_ / nrm)
      qid -> (0 until 8).sortBy(c => v.indices.map(j => {
        val d = v(j) - coarse(c)(j); d * d
      }).sum).take(4).toSet
    }.toMap
    all.foreach { case (qid, cid) =>
      assert(probedCells(qid).contains(cellOf(cid)),
        s"candidate $cid of query $qid outside its probed cells")
    }
  }

  test("reconstruction error: bounded by the sphere, improves with ksub") {
    val cb16 = ProductQuant.pqFit(emb, ksub = 16)
    val cb4 = ProductQuant.pqFit(emb, ksub = 4)
    val e16 = ProductQuant.reconstructionError(emb, cb16)
      .agg(avg(col("pq_err2")), max(col("pq_err2"))).as[(Double, Double)].head()
    val e4 = ProductQuant.reconstructionError(emb, cb4)
      .agg(avg(col("pq_err2"))).as[Double].head()
    // unit-sphere distance² is <= (1+1)² = 4 per vector but <= 2·(1+|c|²)
    // summed over subspaces stays <= 4; the practical ceiling asserted by
    // the registered witness is far tighter
    assert(e16._2 <= 4.0 && e16._1 >= 0.0)
    assert(e16._1 < 0.5, s"mean err2 ${e16._1} >= 0.5 — witness bound broken")
    assert(e16._1 <= e4, s"ksub=16 err ${e16._1} worse than ksub=4 $e4")
    info(f"mean_err2: ksub16=${e16._1}%.4f ksub4=$e4%.4f")
  }

  test("Lloyd fits: centroids bit-identical on a fixed sample") {
    // 240 seeded dim-8 vectors; the pin is the SHA-256 of every fitted
    // double's bits, so any change to init, tie-break, empty-cell or
    // stopping rule (or to the summation order) shows
    val rnd = new java.util.Random(7L)
    val corpus = (0L until 240L).map(id =>
      (id, Seq.fill(8)((rnd.nextGaussian() + id % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val coarse = ProductQuant.coarseFit(corpus, nlist = 3, dim = 8)
    val fits = Seq(
      Similarity.ivfFit(corpus, nlist = 4),
      coarse,
      ProductQuant.pqFit(corpus, m = 2, ksub = 4, dim = 8).flatten,
      ProductQuant.pqFitIvf(corpus, coarse, m = 2, ksub = 4, dim = 8).flatten)
    val bb = java.nio.ByteBuffer.allocate(fits.map(_.map(_.length).sum).sum * 8)
    fits.foreach(_.foreach(_.foreach(bb.putDouble)))
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bb.array())
    assert(sha.map(b => f"${b & 0xff}%02x").mkString ===
      "2386a451db61f2d602983ae0c59e905b8dfeb6330711e7921115a95c78f33ff6")
  }
}
