package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}

import graft.registry.IndexCatalog

/** Guards the single owner of the index catalog's layout: no other main
  * source spells a catalog root, the roots stay byte-identical to the
  * layout earlier builds warmed, and `index_health` builds nothing its
  * authoritative queries did not already build. */
class IndexCatalogSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every path under `root`, relative, sorted (empty if absent). */
  private def tree(root: Path): Seq[String] =
    if (!Files.exists(root)) Nil
    else {
      val stream = Files.walk(root)
      try stream.iterator().asScala.map(root.relativize(_: Path).toString)
        .toSeq.sorted
      finally stream.close()
    }

  /** The fingerprint suffix as the catalog has always computed it: md5
    * of "name:len:mtime" over the source's files sorted by name, joined
    * by "|", first 12 hex chars. */
  private def fingerprint(base: String, source: String): String = {
    val p = new HPath(source)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(p).sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
    val h = MessageDigest.getInstance("MD5")
      .digest(parts.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"${base}_$h"
  }

  test("no main source other than IndexCatalog spells a catalog root") {
    val root = Paths.get("src/main/scala")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "IndexCatalog.scala")
        .filter(p => Files.readString(p).contains("/tmp/graft_"))
        .map(root.relativize(_: Path).toString).toList
      finally stream.close()
    assert(offenders.isEmpty)
  }

  test("the root layout is pinned") {
    assert(IndexCatalog.root(sf, "span") ===
      "/tmp/graft_dedup_index/_root_testdata_sf0_001/span")
    assert(IndexCatalog.statsRoot(sf) ===
      "/tmp/graft_catalog/_root_testdata_sf0_001")
    val docs = s"$sf/documents.parquet"
    val emb = s"$sf/embeddings.parquet"
    val base = IndexCatalog.root(sf, "splitsem")
    assert(IndexCatalog.fingerprinted(spark, sf, "splitsem",
      "documents.parquet", "embeddings.parquet") ===
      fingerprint(fingerprint(base, docs), emb))
    assert(IndexCatalog.fingerprinted(spark, sf, "pq",
      "embeddings.parquet") ===
      fingerprint(IndexCatalog.root(sf, "pq"), emb))
  }

  test("index_health adds no root and no version to a catalog its " +
      "creators built") {
    val dir = tempDir("graft-catalog")
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    val d = dir.toAbsolutePath.toString
    val catalog = Paths.get(IndexCatalog.dirRoot(d))
    try {
      assert(tree(catalog).isEmpty, "catalog root not cold")
      for (q <- Seq("span_contamination_indexed", "knn_pq_indexed",
          "lexical_contamination", "knn_graph_indexed",
          "leakage_safe_split_indexed",
          "leakage_safe_split_semantic_indexed"))
        SparkEntry.queries(q)(spark, d)
      val built = tree(catalog)
      assert(built.nonEmpty)
      val health = SparkEntry.queries("index_health")(spark, d).collect()
      assert(health.nonEmpty &&
        health.forall(_.getAs[Long]("versions") >= 1L))
      assert(tree(catalog) === built)
    } finally TempDirs.deleteTree(catalog)
  }
}
