package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, FileUtil, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.sources.VersionedTable

/** A local FileSystem modeling a MODERN OBJECT STORE: `rename` is a
  * deliberately NON-ATOMIC copy-then-delete — plain-S3A semantics (the
  * reference's own archive step does per-key copy+delete for this
  * reason, reference: dags/etl/load_to_redshift.py:350-388) — while
  * create-no-overwrite IS atomic (a lock around check+create, modeling
  * S3 conditional PUT / `If-None-Match`, the documented precondition of
  * `commitObjectStore`). Every rename is recorded so a spec can assert
  * which paths a commit protocol renamed (the object-store commit must
  * never rename across writer-visible boundaries). Registered under the
  * `objstore://` scheme via `fs.objstore.impl` -> this class. */
class NonAtomicRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("objstore:///")
  override def getScheme: String = "objstore"
  override def rename(src: Path, dst: Path): Boolean = {
    NonAtomicRenameFileSystem.renamed.synchronized {
      NonAtomicRenameFileSystem.renamed += ((src.toString, dst.toString))
    }
    if (!exists(src)) return false
    if (exists(dst)) return false
    // the non-atomic window: a full copy precedes the delete, and a
    // crash (or a concurrent reader) in between sees BOTH paths
    if (!FileUtil.copy(this, src, this, dst, false, getConf)) return false
    NonAtomicRenameFileSystem.copiesCompleted.incrementAndGet()
    delete(src, true)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    else NonAtomicRenameFileSystem.createLock.synchronized {
      // conditional PUT: exists-check and create are ONE atomic step
      if (exists(f))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
}

object NonAtomicRenameFileSystem {
  val renamed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  val copiesCompleted = new AtomicInteger(0)
  val createLock = new Object
}

/** VersionedTable on a store with NON-ATOMIC rename (the plain-S3A
  * model): `commitObjectStore` must stay correct — writer-unique data
  * directories that are never renamed, the manifest create as the only
  * commit point, racing writers resolving to clean winners/losers with
  * no torn snapshot — while the rename-claim path of `commit` is
  * exactly what such a store cannot be trusted with. */
class ObjectStoreCommitSpec extends SparkSpec {
  import spark.implicits._

  private def objRoot(prefix: String): String = {
    val dir = tempDir(prefix)
    spark.sparkContext.hadoopConfiguration.set("fs.objstore.impl",
      classOf[NonAtomicRenameFileSystem].getName)
    // no per-FS cache surprises across specs
    spark.sparkContext.hadoopConfiguration.set("fs.objstore.impl.disable.cache",
      "false")
    s"objstore://$dir/table"
  }

  test("commitObjectStore: write/read/append/time-travel on the shim FS") {
    val root = objRoot("graft_objstore")
    NonAtomicRenameFileSystem.renamed.synchronized {
      NonAtomicRenameFileSystem.renamed.clear()
    }
    val v1 = VersionedTable.commitObjectStore(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    val v2 = VersionedTable.commitObjectStore(
      Seq((3L, "c")).toDF("id", "s"), root, append = true)
    assert((v1, v2) === ((1L, 2L)))
    assert(VersionedTable.read(spark, root).count() === 3)
    assert(VersionedTable.read(spark, root, Some(1L)).count() === 2)
    // the protocol itself never renamed into a shared location: every
    // recorded rename (task-commit moves inside the parquet write) stays
    // within this writer's own obj-v directory — none lands on a
    // data/vN claim target, the unsafe step this mode exists to remove
    val renames = NonAtomicRenameFileSystem.renamed.synchronized {
      NonAtomicRenameFileSystem.renamed.toSeq
    }
    val claimLike = renames.filter(_._2.matches(".*/data/v\\d+$"))
    assert(claimLike.isEmpty,
      s"object-store commit must not rename-claim version dirs: $claimLike")
    assert(renames.forall { case (_, dst) =>
      !dst.contains("/data/") || dst.contains("/data/obj-v")
    }, s"renames outside writer-unique staging: $renames")
  }

  test("racing commitObjectStore writers: one winner per version, no torn snapshot") {
    val root = objRoot("graft_objstore_race")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Future.traverse((1 to 4).toList) { i =>
      Future {
        try Some(VersionedTable.commitObjectStore(
          Seq((i.toLong, s"w$i")).toDF("id", "s"), root))
        catch { case _: IllegalStateException => None }
      }
    }
    val results = Await.result(attempts, 120.seconds)
    val wins = results.flatten
    val vs = VersionedTable.versions(spark, root)
    // every manifested version has exactly one winner, and every winner
    // manifested: a lost race threw cleanly instead of tearing anything
    assert(wins.sorted === vs.sorted, s"wins $wins vs manifested $vs")
    assert(wins.nonEmpty)
    // each snapshot reads exactly one writer's single row at its own
    // version — no manifest ever references a loser's (deleted) files
    vs.foreach { v =>
      val rows = VersionedTable.read(spark, root, Some(v))
        .select("id").as[Long].collect()
      assert(rows.length === 1, s"version $v sees ${rows.length} rows")
    }
  }

  test("vacuum on the shim FS protects in-flight obj stages above the horizon") {
    val root = objRoot("graft_objstore_vac")
    VersionedTable.commitObjectStore(Seq((1L, "a")).toDF("id", "s"), root)
    VersionedTable.commitObjectStore(Seq((2L, "b")).toDF("id", "s"), root,
      append = true)
    // simulate a crashed writer's orphan stage BELOW the horizon and an
    // in-flight writer's stage ABOVE it
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(root, "data/obj-v2-deadbeef/part-orphan.parquet")
    val inflight = new Path(root, "data/obj-v3-cafef00d/part-live.parquet")
    Seq(orphan, inflight).foreach { p =>
      fs.mkdirs(p.getParent)
      val o = fs.create(p, false)
      try o.write(Array[Byte](1, 2, 3)) finally o.close()
    }
    VersionedTable.vacuum(spark, root, keepVersions = 2)
    assert(!fs.exists(orphan), "below-horizon orphan must be swept")
    assert(fs.exists(inflight), "above-horizon in-flight stage must survive")
    assert(VersionedTable.read(spark, root).count() === 2)
  }
}
