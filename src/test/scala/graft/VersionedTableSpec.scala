package graft

import java.io.{FilterOutputStream, IOException}
import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.operators.SnapshotDiff
import graft.sources.VersionedTable

/** A local FileSystem whose next manifest write, once armed, fails the
  * way a full disk or a transient store error does: the create
  * succeeds, half the bytes land, and `close` throws. Registered under
  * the `faulty://` scheme via `fs.faulty.impl` -> this class. */
class FailingCloseFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val raw = super.create(f, overwrite, bufferSize, replication,
      blockSize, progress)
    if (f.getParent.getName != "_manifests" ||
        !FailingCloseFileSystem.armed.getAndSet(false)) raw
    else new FSDataOutputStream(new FilterOutputStream(raw) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        raw.write(b, off, len / 2)
      override def close(): Unit = {
        raw.close()
        throw new IOException(s"injected close failure on $f")
      }
    }, null)
  }
}

object FailingCloseFileSystem {
  val armed = new AtomicBoolean(false)
}

/** The manifest-commit contract: versions are immutable snapshots, the
  * manifest is the single source of truth, orphans are invisible. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = tempDir("graft_vt").resolve("tbl").toString

  test("commit / time travel / append / logical overwrite") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    assert(v1 === 1L)
    val v2 = VersionedTable.commit(
      Seq((3L, "c")).toDF("id", "x"), root, append = true)
    assert(v2 === 2L)
    // latest = v2 (append carried v1's files)
    assert(VersionedTable.read(spark, root).count() === 3)
    // time travel: v1 unchanged
    assert(VersionedTable.read(spark, root, Some(1L))
      .as[(Long, String)].collect().sortBy(_._1).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // logical overwrite: v3 lists only its own files; v1/v2 still read
    VersionedTable.commit(Seq((9L, "z")).toDF("id", "x"), root)
    assert(VersionedTable.read(spark, root).count() === 1)
    assert(VersionedTable.read(spark, root, Some(2L)).count() === 3)
    assert(VersionedTable.versions(spark, root) === Seq(1L, 2L, 3L))
  }

  test("orphan data files from failed writes are invisible to readers") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // simulate a crashed writer: data files land, no manifest follows
    Seq((666L, "orphan")).toDF("id", "x")
      .write.parquet(s"$root/data/v99-attempt")
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    assert(VersionedTable.versions(spark, root) === Seq(1L))
  }

  test("version history diffs with SnapshotDiff (CDC over table history)") {
    val root = freshRoot()
    VersionedTable.commit(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"), root)
    VersionedTable.commit(
      Seq((1L, 10.0), (2L, 25.0), (4L, 40.0)).toDF("id", "v"), root)
    val d = SnapshotDiff.diff(
        VersionedTable.read(spark, root, Some(1L)),
        VersionedTable.read(spark, root, Some(2L)), Seq("id"))
      .select("id", "diff_status").as[(Long, String)].collect().toMap
    assert(d === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("vacuum deletes unreferenced files + old manifests, keeps live reads") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "x"), root,
      append = true)
    VersionedTable.commit(Seq((9L, "z")).toDF("id", "x"), root) // overwrite
    // a crashed writer's orphan must also be swept
    Seq((666L, "orphan")).toDF("id", "x")
      .write.parquet(s"$root/data/v99-attempt")
    val deleted = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(deleted >= 3L) // v1 + v2 data files + the orphan
    assert(VersionedTable.versions(spark, root) === Seq(3L))
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    assertThrows[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(1L)) // horizon given up loudly
    }
  }

  test("racing commits: versions stay distinct, losers fail clean, never torn") {
    val root = freshRoot()
    VersionedTable.commit(Seq((0L, "base")).toDF("id", "x"), root)
    // two writers released simultaneously, several rounds: each attempt
    // either commits a DISTINCT version or fails cleanly (typically at
    // the version-unique staging dir / the create-no-overwrite manifest
    // point). Whatever interleaving happens, the table is never torn.
    val results = scala.collection.mutable.ArrayBuffer.empty[Either[Throwable, Long]]
    for (round <- 1 to 4) {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val attempts = (1 to 2).map { w =>
        val t = new Thread(null, () => {
          gate.await()
          val r = try Right(VersionedTable.commit(
            Seq((round * 10L + w, s"w$w")).toDF("id", "x"), root))
          catch { case e: Exception => Left(e) }
          results.synchronized { results += r }
        }, s"writer-$round-$w", 4 * 1024 * 1024)
        t.start(); t
      }
      gate.countDown()
      attempts.foreach(_.join())
    }
    val won = results.collect { case Right(v) => v }
    assert(won.distinct.size === won.size, s"duplicate version won: $won")
    assert(won.nonEmpty)
    // every committed version parses and reads; latest read succeeds
    val vs = VersionedTable.versions(spark, root)
    assert(vs === vs.sorted && vs.distinct.size === vs.size)
    vs.foreach(v => VersionedTable.read(spark, root, Some(v)).count())
    assert(VersionedTable.read(spark, root).count() === 1)
  }

  test("a crashed writer's staged version never blocks the next commit") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // crashed writer: staged data/v2 exists, no manifest was written
    Seq((666L, "crashed")).toDF("id", "x").write.parquet(s"$root/data/v2")
    // next commit must skip over the dead stage, not collide with it
    val v = VersionedTable.commit(Seq((3L, "c")).toDF("id", "x"), root)
    assert(v === 3L)
    assert(VersionedTable.versions(spark, root) === Seq(1L, 3L))
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }

  test("vacuum never sweeps an in-flight stage above the manifest horizon") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // in-flight commit: data staged at v2, manifest not yet written
    Seq((2L, "inflight")).toDF("id", "x").write.parquet(s"$root/data/v2")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stagedFiles() = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/data/v2"))
      .count(_.getPath.getName.endsWith(".parquet"))
    val before = stagedFiles()
    assert(before > 0)
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(stagedFiles() === before) // untouched: could be mid-commit
    // once a LATER version commits, the dead stage is below the horizon
    // and becomes an ordinary orphan the sweep reclaims
    VersionedTable.commit(Seq((9L, "z")).toDF("id", "x"), root) // v3
    val deleted = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(deleted >= before)
    assert(stagedFiles() === 0)
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
  }

  test("a reader pinned to a retained version survives vacuum") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "x"), root)
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "x"), root)
    // pin a lazy reader to v2 BEFORE the vacuum
    val pinned = VersionedTable.read(spark, root, Some(2L))
    VersionedTable.vacuum(spark, root, keepVersions = 2) // keeps v2, v3
    // the pinned reader's file set was retained — collect still works
    assert(pinned.as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    // the vacuumed-away version fails loudly, with the horizon explicit
    val err = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(1L))
    }
    assert(err.getMessage.contains("not committed"))
  }

  test("schema evolution: an append with a new column reads merged") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    // the schema evolves: the appended batch carries a new column
    VersionedTable.commit(Seq((3L, "c", 30.0)).toDF("id", "x", "score"),
      root, append = true)
    val merged = VersionedTable.read(spark, root, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("id", "score", "x"))
    val rows = merged.select("id", "x", "score")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30.0)))) // old files null the new column
    // time travel to the pre-evolution version keeps the old schema
    assert(VersionedTable.read(spark, root, Some(1L)).columns.toSeq ===
      Seq("id", "x"))
  }

  test("a manifest write that fails leaves no torn version behind") {
    val dir = tempDir("graft_vt_faulty")
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl",
      classOf[FailingCloseFileSystem].getName)
    val root = s"faulty://$dir/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    FailingCloseFileSystem.armed.set(true)
    intercept[IOException] {
      VersionedTable.commit(Seq((2L, "b")).toDF("id", "x"), root,
        append = true)
    }
    assert(!FailingCloseFileSystem.armed.get, "the fault never fired")
    // the failed commit is gone without a trace: no listed version, no
    // partial manifest, no claimed data directory
    assert(VersionedTable.versions(spark, root) === Seq(1L))
    assert(!java.nio.file.Files.exists(dir.resolve("tbl/_manifests/v2.json")))
    assert(!java.nio.file.Files.exists(dir.resolve("tbl/data/v2")))
    // and the retry commits the same version number cleanly
    assert(VersionedTable.commit(Seq((3L, "c")).toDF("id", "x"), root,
      append = true) === 2L)
    assert(VersionedTable.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("reading an uncommitted version or empty table fails fast") {
    val root = freshRoot()
    assertThrows[IllegalArgumentException] {
      VersionedTable.read(spark, root)
    }
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    assertThrows[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(7L))
    }
  }
}
