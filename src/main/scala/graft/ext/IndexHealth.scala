package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{VersionedStats, VersionedTable}

/** Catalog-level HEALTH REPORT over the persisted index families — the
  * operator's one-stop view of state that was previously only consulted
  * inside each family's own `ingest` (VERDICT r15 #4): per
  * (family, table) the committed version count, latest version,
  * manifest file count, the rows-stats sidecar (presence + value), and
  * — for the two fit-carrying families ([[KnnGraphIndex]],
  * [[PqIndex]]) — the frozen model's staleness ratio with its decade
  * refusal boundary evaluated. Everything here is METADATA-ONLY: the
  * manifest listing, the stats sidecar, and the model row — no data
  * file is scanned, so the report costs the same at 100 TB as at a
  * gate SF.
  *
  * The report READS state, never creates it: a root with no committed
  * versions reports zeros (versions = 0), which is itself the health
  * signal an operator wants from a cold catalog. Layout-dependent
  * columns (files, rows) make those row VALUES machine-specific, so
  * the registered `index_health` query first ENSURES every reported
  * family exists (through the same `registry.IndexCatalog` ensure*
  * each family's authoritative query calls) and projects only the
  * deterministic columns — which holds it to the DuckDB oracle like
  * every other query. The cold-catalog (versions = 0) signal is
  * therefore reachable only by calling this report directly: the
  * registered query never sees a cold family. The layout-dependent
  * columns stay here for operators and are pinned by IndexHealthSpec,
  * including the decade-boundary staleness crossing.
  *
  * Reference scope: the reference pipeline has no persisted index
  * machinery; this extends the LLM-data-pipeline surface (SURVEY §6).
  */
object IndexHealth {

  /** The refusal boundary both fit-carrying families enforce. */
  private val Decade = KnnGraphIndex.StaleDecade

  private val Schema = StructType(Seq(
    StructField("family", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("versions", LongType, nullable = false),
    StructField("latest_version", LongType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("has_row_stats", BooleanType, nullable = false),
    StructField("staleness_ratio", DoubleType, nullable = true),
    StructField("stale", BooleanType, nullable = true)))

  /** One report row for a single versioned table. `staleness` is
    * Some(ratio) only for families that freeze a fit. */
  private def tableRow(spark: SparkSession, family: String,
                       table: String, root: String,
                       staleness: Option[Double]): Row = {
    val vs = VersionedTable.versions(spark, root)
    val files =
      if (vs.isEmpty) 0 else VersionedTable.fileCount(spark, root)
    val stats = VersionedStats.statsFor(spark, root)
    Row(family, table, vs.size.toLong, vs.lastOption.getOrElse(0L),
      files,
      stats.map(s => java.lang.Long.valueOf(s._1)).orNull,
      stats.isDefined,
      staleness.map(java.lang.Double.valueOf).orNull,
      staleness.map(s => java.lang.Boolean.valueOf(s >= Decade)).orNull)
  }

  private def exists(spark: SparkSession, root: String): Boolean =
    VersionedTable.versions(spark, root).nonEmpty

  /** The report for `entries` = (family, root) pairs. Families:
    *
    *  - `"span_dedup"` / `"lexical"` — one versioned table at the root
    *  - `"pq"` — codes table + frozen-codebook staleness
    *  - `"knn_graph"` — adjacency table + frozen-fit staleness
    *  - `"split"` — the labels/edges/fps sub-tables;
    *    `"split_semantic"` adds the sigs/semedges rows (the caller
    *    declares the regime so the inventory is stable on a cold
    *    catalog)
    *
    * Unknown family strings report the root as one plain table —
    * the report degrades open, it never throws on an operator's typo.
    * Deterministic order (family, table) so the frame is run-stable. */
  def report(spark: SparkSession,
             entries: Seq[(String, String)]): DataFrame = {
    val rows = entries.flatMap { case (family, root) =>
      family match {
        case "pq" =>
          val stale =
            if (exists(spark, root)) Some(PqIndex.stalenessRatio(spark, root))
            else Some(0.0)
          Seq(tableRow(spark, family, "codes", root, stale))
        case "knn_graph" =>
          val stale =
            if (exists(spark, root))
              Some(KnnGraphIndex.stalenessRatio(spark, root))
            else Some(0.0)
          Seq(tableRow(spark, family, "adjacency", root, stale))
        case "lexical" =>
          Seq(tableRow(spark, family, "postings", root, None))
        case "span_dedup" =>
          Seq(tableRow(spark, family, "spans", root, None))
        case "split" | "split_semantic" =>
          // the caller DECLARES the regime (rather than sniffing the
          // sigs table) so the report's row inventory is stable on a
          // cold catalog — a missing sub-table reports zeros, it does
          // not vanish from the report
          val subs =
            if (family == "split") Seq("labels", "edges", "fps")
            else Seq("labels", "edges", "fps", "sigs", "semedges")
          subs.map(t =>
            tableRow(spark, family, t, root + "/" + t, None))
        case other =>
          Seq(tableRow(spark, other, "table", root, None))
      }
    }.sortBy(r => (r.getString(0), r.getString(1)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), Schema)
  }
}
