package graft

import org.apache.spark.sql.Row

import graft.ext.{IndexHealth, KnnGraphIndex, SplitIndex}
import graft.sources.VersionedTable

/** The catalog health report (ext/IndexHealth): metadata-only
  * inventory, cold-catalog zeros, and — the r15 verdict's witness —
  * the frozen-fit staleness ratio CROSSING the decade boundary
  * surfacing as stale=true in the report. */
class IndexHealthSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    tempDir(s"graft-health-$tag")
      .resolve("root").toString

  // the KnnGraphIndexSpec mixture fixture: 4 loose clusters in dim 8
  private val dim = 8
  private def vec(i: Long): Array[Float] = {
    val c = (i % 4).toInt
    Array.tabulate(dim) { d =>
      val base = if (d % 4 == c) 4.0f else 0.5f
      base + ((i * 31 + d * 7) % 11).toFloat / 10f
    }
  }
  private def corpusDf(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def kgRow(root: String): Row =
    IndexHealth.report(spark, Seq("knn_graph" -> root)).head()

  test("cold catalog reports zeros; growth past the decade boundary " +
      "surfaces as stale=true in the report") {
    val root = tmp("kg")
    // cold: nothing committed — versions 0, staleness degrades open
    val cold = kgRow(root)
    assert(cold.getAs[Long]("versions") === 0L)
    assert(cold.getAs[Int]("files") === 0)
    assert(!cold.getAs[Boolean]("has_row_stats"))
    assert(cold.getAs[Double]("staleness_ratio") === 0.0)
    assert(!cold.getAs[Boolean]("stale"))
    // healthy: built on 12 vectors — ratio in (0, 1], stale=false
    KnnGraphIndex.create(corpusDf(0L until 12L), root)
    val fresh = kgRow(root)
    assert(fresh.getAs[Long]("versions") === 1L)
    assert(fresh.getAs[Boolean]("has_row_stats"))
    val r0 = fresh.getAs[Double]("staleness_ratio")
    assert(r0 > 0.0 && r0 <= 1.0, s"ratio $r0")
    assert(!fresh.getAs[Boolean]("stale"))
    // grown 26x past the build count in one in-bounds ingest: the
    // report must show the ratio PAST the decade and flag stale —
    // the signal KnnGraphIndex.ingest would refuse on next trigger
    val grown = (0L until 12L) ++ (100L until 400L)
    KnnGraphIndex.ingest(root, corpusDf(grown),
      corpusDf(100L until 400L))
    val stale = kgRow(root)
    assert(stale.getAs[Long]("versions") === 2L)
    val r1 = stale.getAs[Double]("staleness_ratio")
    assert(r1 >= KnnGraphIndex.StaleDecade, s"ratio $r1")
    assert(stale.getAs[Boolean]("stale"))
  }

  test("inventory is regime-declared and run-stable: split_semantic " +
      "lists 5 sub-tables even on a cold root; split lists 3; rows " +
      "match the sidecars after a build") {
    val coldSem = IndexHealth.report(spark,
      Seq("split_semantic" -> tmp("sem")))
    assert(coldSem.count() === 5L)
    assert(coldSem.where($"versions" =!= 0L).count() === 0L)
    val root = tmp("split")
    val text = (0 until 60).map(t => s"a$t").mkString(" ")
    SplitIndex.create(Seq((0L, text), (1L, text), (2L, "b " * 60))
      .toDF("doc_id", "text"), root)
    val rep = IndexHealth.report(spark, Seq("split" -> root))
    assert(rep.count() === 3L)
    val labels = rep.where($"table" === "labels").head()
    assert(labels.getAs[Long]("versions") === 1L)
    // the labels rows stat is the PHYSICAL sidecar value (3 docs)
    assert(labels.getAs[Long]("rows") === 3L)
    assert(labels.getAs[Boolean]("has_row_stats"))
    // edges table commits without a rows sidecar — presence reported
    assert(!rep.where($"table" === "edges").head()
      .getAs[Boolean]("has_row_stats"))
    // staleness is null for families that freeze no fit
    assert(rep.where($"staleness_ratio".isNotNull).count() === 0L)
    // files matches the manifest, metadata-only
    assert(labels.getAs[Int]("files")
      === VersionedTable.fileCount(spark, root + "/labels"))
  }
}
