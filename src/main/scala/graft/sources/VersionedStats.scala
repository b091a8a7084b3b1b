package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{JoinSizeSketch, SketchAggregates}
import graft.operators.AdaptiveJoin

/** Table statistics MAINTAINED AT WRITE TIME — the missing half of
  * sketch-driven join planning: [[graft.operators.EstimatedJoin]] can
  * sketch both sides on demand, but at warehouse scale the sketch is
  * computed once per commit (it is element-wise mergeable, so an
  * append's sketch is old + delta) and stored beside the version
  * manifest. Joins then plan from STORED stats — zero scans before the
  * decision, the way a cost-based optimizer consults its catalog.
  *
  * Layout: `root/_stats/v{N}.json` holds the version's row count and
  * one AGMS sketch per declared join-key column. The sidecar is written
  * AFTER the manifest commit: stats are advisory, so a crash between
  * the two leaves a valid version that merely falls back to on-demand
  * estimation ([[statsFor]] returns None and callers degrade
  * gracefully) — never the reverse (stats for a version that does not
  * exist).
  */
object VersionedStats {

  private def statsPath(root: String, v: Long) =
    new Path(new Path(root, "_stats"), s"v$v.json")

  /** Commit `df` as the next version of `root` AND write its stats
    * sidecar (row count + one AGMS sketch per key column) — computed in
    * ONE aggregate pass. The pass runs over the DELTA only whenever it
    * can: on an append whose previous version has stats for the same
    * keys, the new sidecar is stored-sketch + delta-sketch (element-wise
    * add — AGMS counters are exact sums, so the merged sidecar is
    * BIT-IDENTICAL to a from-scratch recompute) and stored-rows +
    * delta-rows. That is the 100 TB contract: stats maintenance costs
    * the batch, never the table. Returns the version. */
  def commitWithStats(df: DataFrame, root: String, keyCols: Seq[String],
                      counters: Int = 256,
                      append: Boolean = false,
                      hhCols: Seq[String] = Nil,
                      hhCapacity: Int = 64): Long = {
    require(keyCols.nonEmpty, "declare at least one join-key column")
    require(hhCols.forall(keyCols.contains),
      "heavy-hitter columns must be declared join-key columns")
    // the sidecar is hand-rolled JSON parsed by regex: a quote or a
    // bracket in a column name would corrupt it SILENTLY (readers
    // degrade to None → on-demand estimation), so reject loudly at
    // write time instead
    keyCols.foreach(k => require(k.matches("[A-Za-z0-9_]+"),
      s"join-key column name '$k' unsupported in the stats sidecar " +
        "(allowed: [A-Za-z0-9_]+)"))
    val spark = df.sparkSession
    // delta-merge needs EVERY maintained stat mergeable from the stored
    // sidecar: same-width sketches for all keys AND (when heavy hitters
    // are maintained) a same-capacity summary for each hh column.
    val prior =
      if (append) statsFor(spark, root).filter { case (_, sk) =>
        keyCols.forall(k => sk.get(k).exists(_.length == counters)) &&
          (hhCols.isEmpty || heavyHittersFor(spark, root).exists(h =>
            hhCols.forall(k => h.get(k).exists(_._1 == hhCapacity))))
      } else None
    val priorHh =
      if (prior.isDefined && hhCols.nonEmpty) heavyHittersFor(spark, root)
      else None
    val v = VersionedTable.commit(df, root, append)
    // delta-only pass when prior stats merge; else the committed
    // snapshot (which IS the delta for a non-append commit). Both arms
    // read the COMMITTED BYTES back, never re-evaluate the caller's df:
    // a non-deterministic input plan (sampling, current-time columns)
    // would otherwise produce a sidecar disagreeing with what was
    // committed. An append's delta is exactly its staged directory.
    val scanned =
      if (prior.isDefined)
        spark.read.parquet(new Path(root, s"data/v$v").toString)
      else VersionedTable.read(spark, root, Some(v))
    // AGMS takes bigint keys; non-integral key columns (e.g. a span
    // index's md5-hex `sh`) sketch over xxhash64 of the value — equality
    // is preserved, so join-size estimates are unchanged up to hash
    // collisions, and the choice is PER TYPE, never per version: every
    // sidecar of a given column merges sketches of the same family
    // (integral columns could already have stored sidecars; hashed-key
    // columns could not — the sketch rejected them at analysis before)
    import org.apache.spark.sql.types._
    def keyExpr(k: String) = scanned.schema(k).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(k)
      case _ => xxhash64(col(k))
    }
    val aggs = keyCols.map(k =>
      JoinSizeSketch.agmsSketch(keyExpr(k), counters).as(s"__sk_$k")) ++
      hhCols.map(k => SketchAggregates.freqItems(col(k).cast("string"),
        hhCapacity).as(s"__hh_$k")) :+
      count(lit(1)).as("__rows")
    val row = scanned.agg(aggs.head, aggs.tail: _*).head()
    val deltaRows = row.getLong(keyCols.length + hhCols.length)
    val deltaHh = hhCols.zipWithIndex.map { case (k, i) =>
      k -> row.getSeq[Row](keyCols.length + i)
        .map(x => (x.getString(0), x.getLong(1)))
    }.toMap
    val (rows, sketchOf) = prior match {
      case Some((priorRows, priorSk)) =>
        (priorRows + deltaRows, (k: String, i: Int) =>
          priorSk(k).zip(row.getSeq[Long](i)).map { case (a, b) => a + b })
      case None =>
        (deltaRows, (_: String, i: Int) => row.getSeq[Long](i))
    }
    val hhOf = (k: String) => priorHh.flatMap(_.get(k)) match {
      case Some((_, stored)) =>
        SketchAggregates.mgMerge(stored, deltaHh(k), hhCapacity)
      case None => deltaHh(k)
    }
    val sketches = keyCols.zipWithIndex.map { case (k, i) =>
      s""""$k": [${sketchOf(k, i).mkString(",")}]"""
    }.mkString(",")
    // heavy-hitter items are hex-encoded (UTF-8 bytes): the sidecar is
    // hand-rolled JSON parsed by regex, and hex sidesteps string
    // escaping entirely. Empty summaries are skipped (an empty `[]`
    // would be ambiguous with an empty sketch array to the parser).
    val hhJson = hhCols.map { k =>
      val items = hhOf(k).map { case (item, est) =>
        s"""["${toHex(item)}",$est]"""
      }.mkString(",")
      if (items.isEmpty) "" else s""""$k": {"cap": $hhCapacity, "items": [$items]}"""
    }.filter(_.nonEmpty).mkString(",")
    val json =
      if (hhJson.isEmpty) s"""{"rows": $rows, "sketches": {$sketches}}"""
      else s"""{"rows": $rows, "sketches": {$sketches}, "hh": {$hhJson}}"""
    MetaFile.createNew(spark, statsPath(root, v), json)
    v
  }

  /** Read a sidecar file fully, degrading to None on ANY failure —
    * including torn writes that fail the filesystem's checksum at read
    * time, which surface as exceptions from the read, not from
    * parsing. Advisory stats must never fail a job. */
  private def readSidecar(spark: SparkSession, p: Path): Option[String] =
    try MetaFile.read(spark, p)
    catch { case scala.util.control.NonFatal(_) => None }

  private def toHex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString

  private def fromHex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      "UTF-8")

  /** Stored heavy-hitter summaries for a version (latest by default):
    * per maintained column, (capacity, items sorted by estimate desc).
    * None when the sidecar (or its hh block) is missing — callers fall
    * back to on-demand measurement. */
  def heavyHittersFor(spark: SparkSession, root: String,
                      version: Option[Long] = None)
      : Option[Map[String, (Int, Seq[(String, Long)])]] = {
    val vs = VersionedTable.versions(spark, root)
    if (vs.isEmpty) return None
    val v = version.getOrElse(vs.last)
    // a version must be COMMITTED for its sidecar to mean anything — a
    // vacuumed or never-committed version with a leftover sidecar would
    // otherwise return stats for data no reader can load
    if (!vs.contains(v)) return None
    val json = readSidecar(spark, statsPath(root, v))
      .getOrElse(return None)
    // same advisory degradation as [[statsFor]]: parse garbage → None
    try {
      val block = "\"([^\"]+)\":\\s*\\{\"cap\":\\s*(\\d+),\\s*\"items\":\\s*\\[(.*?)\\]\\}".r
      val item = "\\[\"([0-9a-f]*)\",(\\d+)\\]".r
      val hh = block.findAllMatchIn(json).map { m =>
        m.group(1) -> (m.group(2).toInt,
          item.findAllMatchIn(m.group(3)).map(i =>
            (fromHex(i.group(1)), i.group(2).toLong)).toSeq)
      }.toMap
      if (hh.isEmpty) None else Some(hh)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Rows-only stats commit — for tables whose only consumed catalog
    * stat is the ROW COUNT (the span index: its prune gate reads rows;
    * nothing estimates joins on md5 keys). Skips the AGMS sketch pass
    * entirely: the delta row count is one count over the committed
    * delta's parquet (metadata-cheap — no column decode), merged with
    * the stored prior on append. A later [[commitWithStats]] on the
    * same root simply re-establishes sketches from its own commit.
    * Returns the committed version. */
  def commitWithRowStat(df: DataFrame, root: String,
                        append: Boolean = false): Long = {
    val spark = df.sparkSession
    val prior = if (append) statsFor(spark, root).map(_._1) else None
    val v = VersionedTable.commit(df, root, append)
    val deltaRows =
      if (prior.isDefined)
        spark.read.parquet(new Path(root, s"data/v$v").toString).count()
      else VersionedTable.read(spark, root, Some(v)).count()
    val rows = prior.getOrElse(0L) + deltaRows
    val json = s"""{"rows": $rows, "sketches": {}}"""
    MetaFile.createNew(spark, statsPath(root, v), json)
    v
  }

  private def rangesPath(root: String, v: Long) =
    new Path(new Path(root, "_stats"), s"franges_v$v.json")

  /** Register per-file [min, max] of a STRING key column for a
    * committed version — the catalog half of FILE-level probe pruning:
    * after a range-clustered rewrite ([[Compaction.compactVersioned]])
    * every file holds a disjoint contiguous key range, so a reader with
    * a SMALL key set can skip files whose range contains none of its
    * keys (no false skips: a key present in the table lies inside its
    * file's [min, max] by definition). One aggregate pass grouped by
    * input file — run at compaction time, when the table is being
    * rewritten anyway. File paths and keys are hex-encoded in the
    * sidecar (the same escaping-free discipline as the heavy-hitter
    * block). No-op (false) if a sidecar already exists. */
  def writeFileRanges(spark: SparkSession, root: String, v: Long,
                      keyCol: String): Boolean = {
    // no-op check FIRST: the aggregation below is a whole-table scan,
    // and a repeat call (idempotent ensure loops run this every trigger)
    // must cost a metadata stat, not a scan
    val p = rangesPath(root, v)
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      return false
    val rows = VersionedTable.read(spark, root, Some(v))
      .groupBy(input_file_name().as("__f"))
      .agg(min(col(keyCol).cast("string")).as("__lo"),
        max(col(keyCol).cast("string")).as("__hi"))
      .collect()
    val items = rows.map(r =>
      s"""["${toHex(r.getString(0))}","${toHex(r.getString(1))}","${toHex(r.getString(2))}"]""")
      .mkString(",")
    MetaFile.createNew(spark, p, s"""{"ranges": [$items]}""")
    true
  }

  /** Stored per-file key ranges for a version (latest by default):
    * file URI → (min, max). None when the sidecar is missing or the
    * version is not committed — callers read every file (advisory
    * stats degrade, never fail). */
  def fileRangesFor(spark: SparkSession, root: String,
                    version: Option[Long] = None)
      : Option[Map[String, (String, String)]] = {
    val vs = VersionedTable.versions(spark, root)
    if (vs.isEmpty) return None
    val v = version.getOrElse(vs.last)
    if (!vs.contains(v)) return None
    val json = readSidecar(spark, rangesPath(root, v))
      .getOrElse(return None)
    try {
      val item = "\\[\"([0-9a-f]*)\",\"([0-9a-f]*)\",\"([0-9a-f]*)\"\\]".r
      val m = item.findAllMatchIn(json).map(i =>
        fromHex(i.group(1)) -> (fromHex(i.group(2)), fromHex(i.group(3))))
        .toMap
      if (m.isEmpty) None else Some(m)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Carry a version's sidecar forward to a CONTENT-IDENTICAL later
    * version — the OPTIMIZE composition: a layout rewrite
    * ([[Compaction.compactVersioned]]) changes files, not rows, and
    * stats are a function of rows, so the copy is exact (not an
    * estimate or a merge). Without this every compaction would silently
    * drop the catalog back to on-demand estimation. No-op (false) when
    * the source version has no sidecar. */
  def carryForward(spark: SparkSession, root: String,
                   from: Long, to: Long): Boolean = {
    val json = MetaFile.read(spark, statsPath(root, from))
    json.foreach(MetaFile.createNew(spark, statsPath(root, to), _))
    json.isDefined
  }

  /** Stored stats for a version (latest by default): (row count, sketch
    * per key column). None when the sidecar is missing — callers fall
    * back to on-demand estimation. */
  def statsFor(spark: SparkSession, root: String,
               version: Option[Long] = None)
      : Option[(Long, Map[String, Seq[Long]])] = {
    val vs = VersionedTable.versions(spark, root)
    if (vs.isEmpty) return None
    val v = version.getOrElse(vs.last)
    // same committed-version gate as [[heavyHittersFor]]
    if (!vs.contains(v)) return None
    val json = readSidecar(spark, statsPath(root, v))
      .getOrElse(return None)
    // advisory-stats contract: a corrupt/truncated sidecar degrades to
    // None (on-demand estimation), never a job failure
    try {
      val rows = "\"rows\":\\s*(\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(return None)
      val sketches = "\"([^\"]+)\":\\s*\\[([-0-9,\\s]*)\\]".r
        .findAllMatchIn(json).map { m =>
          m.group(1) -> m.group(2).split(",").map(_.trim.toLong).toSeq
        }.toMap
      Some((rows, sketches))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Skew-aware join of two versioned tables planned ENTIRELY from
    * stored stats: row counts + AGMS sketches for the size/selectivity
    * arms, the big side's stored heavy-hitter summary for the salted
    * arm ([[graft.operators.AdaptiveJoin]]'s four-way rule). Zero scans
    * happen before the physical strategy is chosen — this is the 100 TB
    * posture where the catalog, not a pre-query, knows the key
    * distribution. Falls back to [[AdaptiveJoin.adaptiveJoin]]'s
    * on-demand measurement when either sidecar lacks the needed stats
    * (advisory-stats contract: degraded planning, never degraded
    * answers). Inner equi-join on a shared key name, big ⋈ small. */
  def adaptiveVersionedJoin(spark: SparkSession,
                            bigRoot: String, smallRoot: String,
                            key: String,
                            broadcastMaxRows: Long = 10000000L,
                            fanoutCap: Double = 4.0,
                            bloomSelectivity: Double = 0.1,
                            hotShareThreshold: Double = 0.10,
                            shufflePartitions: Int = 32,
                            maxSalts: Int = 64)
      : (DataFrame, AdaptiveJoin.AdaptiveDecision) = {
    val big = VersionedTable.read(spark, bigRoot)
    val small = VersionedTable.read(spark, smallRoot)
    (for {
      (nb, skb) <- statsFor(spark, bigRoot)
      sb <- skb.get(key)
      hhb <- heavyHittersFor(spark, bigRoot).flatMap(_.get(key))
      (ns, sks) <- statsFor(spark, smallRoot)
      ss <- sks.get(key)
    } yield {
      val d = AdaptiveJoin.plan(
        AdaptiveJoin.SideStats(nb, sb, hhb._2),
        AdaptiveJoin.SideStats(ns, ss, Seq.empty),
        broadcastMaxRows, fanoutCap, bloomSelectivity, hotShareThreshold,
        shufflePartitions, maxSalts)
      (AdaptiveJoin.applyDecision(big, small, key, d), d)
    }).getOrElse(AdaptiveJoin.adaptiveJoin(big, small, key,
      broadcastMaxRows, fanoutCap, bloomSelectivity, hotShareThreshold,
      shufflePartitions, maxSalts))
  }
}
