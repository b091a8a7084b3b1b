package graft.registry

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{DedupIndex, KnnGraphIndex, LexicalIndex, PqIndex, Sampling, SplitIndex}

/** The one owner of the persisted index catalog's layout: every root a
  * registered query builds or reads is derived here from the tables dir
  * it was built from, and every index family more than one query shares
  * is built by exactly one `ensure*` here — same inputs, same
  * parameters — so the authoritative queries and `index_health` cannot
  * drift into racing two different builds into one root.
  *
  * Layout (kept byte-identical across changes: a warm catalog keeps
  * serving):
  *  - `/tmp/graft_dedup_index/<dir key>/<family>` — the index roots;
  *    the dir key is `dir` with every non-alphanumeric char as `_`
  *  - `..._<md5-12>` suffixes — one per source file set the family is
  *    built from ([[fingerprinted]]), so a regenerated source builds at
  *    a fresh root instead of serving a stale index
  *  - `/tmp/graft_catalog/<dir key>` — the stats-carrying table copies
  *    `catalog_join_segments` plans from
  *
  * Every `ensure*` is a no-op on a warm root (each creator checks the
  * committed versions under its per-root lock) and returns the root. */
private[graft] object IndexCatalog {

  private def key(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The directory holding every index family built from `dir` — delete
    * it to cold-start that dir's catalog. */
  def dirRoot(dir: String): String = s"/tmp/graft_dedup_index/${key(dir)}"

  def root(dir: String, family: String): String = s"${dirRoot(dir)}/$family"

  def statsRoot(dir: String): String = s"/tmp/graft_catalog/${key(dir)}"

  /** [[root]] keyed by a fingerprint of each source under `dir`
    * (e.g. `"documents.parquet"`), applied in the order given. */
  def fingerprinted(s: SparkSession, dir: String, family: String,
                    sources: String*): String =
    sources.foldLeft(root(dir, family))((base, src) =>
      fingerprintedRoot(s, base, s"$dir/$src"))

  /** A root under `base` keyed by a cheap fingerprint (name, length,
    * mtime of every file) of the SOURCE the index is built from — the
    * [[graft.sources.BucketedTable]] lesson: a cached physical asset
    * keyed by path alone silently serves stale data when the source is
    * regenerated in place. With the fingerprint in the key, a
    * regenerated source simply builds a fresh index at a fresh root. */
  private def fingerprintedRoot(spark: SparkSession, base: String,
                                sourcePath: String): String = {
    val p = new Path(sourcePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(p).sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"${base}_$h"
  }

  /** The 80/20 corpus/batch split of `dir`'s documents: the span
    * families index the corpus side, the span queries probe the batch
    * side. */
  def spanSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicSplit(t(s, dir, "documents"), col("doc_id"),
      Seq("corpus" -> 80, "batch" -> 20))

  /** The span index (5-gram span hashes of the split's corpus side,
    * committed with its `sh` stats): (root, latest version). */
  def ensureSpan(s: SparkSession, dir: String,
                 family: String = "span"): (String, DataFrame) = {
    val r = root(dir, family)
    r -> DedupIndex.readOrBuild(s, r,
      DedupIndex.spanIndex(
        spanSplit(s, dir).where(col("split") === "corpus"), k = 5),
      statsKeys = Seq("sh"))
  }

  /** The IVF-PQ index over every embedding. */
  def ensurePq(s: SparkSession, dir: String): String = {
    val r = fingerprinted(s, dir, "pq", "embeddings.parquet")
    PqIndex.create(t(s, dir, "embeddings"), r)
    r
  }

  /** The lexical screen's eval set: docs 0-9. */
  def ensureLex(s: SparkSession, dir: String): String = {
    val r = fingerprinted(s, dir, "lex", "documents.parquet")
    LexicalIndex.create(t(s, dir, "documents").where(col("doc_id") < 10), r)
    r
  }

  /** The descent kNN graph over every embedding. */
  def ensureKnnGraph(s: SparkSession, dir: String): String = {
    val r = fingerprinted(s, dir, "kg3", "embeddings.parquet")
    KnnGraphIndex.create(t(s, dir, "embeddings"), r)
    r
  }

  /** The lexical leakage-safe split over every document. */
  def ensureSplit(s: SparkSession, dir: String): String = {
    val r = fingerprinted(s, dir, "split2", "documents.parquet")
    SplitIndex.create(t(s, dir, "documents"), r)
    r
  }

  /** The semantic (lexical ∪ embedding) leakage-safe split. */
  def ensureSplitSemantic(s: SparkSession, dir: String): String = {
    val r = fingerprinted(s, dir, "splitsem", "documents.parquet",
      "embeddings.parquet")
    SplitIndex.createSemantic(t(s, dir, "documents"),
      t(s, dir, "embeddings"), r)
    r
  }
}
