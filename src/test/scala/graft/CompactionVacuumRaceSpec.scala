package graft

import org.apache.spark.sql.functions._

import graft.sources.{Compaction, VersionedTable}

/** Compaction vs vacuum vs pinned reader UNDER THE RACE — the guarantee
  * [[graft.streaming.StreamingDecontamination]] documents (a trigger
  * holding a pre-compaction manifest keeps its exact file set while the
  * loop compacts and vacuums around it) was previously asserted only
  * sequentially (CompactionSpec). Here all three run concurrently:
  *
  *  - compactor: `Compaction.compactVersioned` (reads latest, commits a
  *    clustered rewrite as the next version);
  *  - vacuumer: `VersionedTable.vacuum(keepVersions = 3)` — the
  *    documented compaction-safe retention (keep-2 could reclaim the
  *    version an in-flight replay needs; a compaction can put a pinned
  *    version two behind latest);
  *  - reader: pinned to the latest PRE-compaction version, reading its
  *    snapshot repeatedly — every read must return exactly the pinned
  *    content, whatever the interleaving.
  *
  * Key horizon facts under the race: vacuum computes `latest` from the
  * manifests it can see; a compaction commit landing AFTER that read
  * stages `data/v{latest+1}` which vacuum classifies above-horizon and
  * never sweeps — so a concurrent rewrite can never lose files to a
  * racing sweep, and a kept manifest's file set is never deleted. */
class CompactionVacuumRaceSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, commits: Int): String = {
    val root = tempDir(prefix)
      .resolve("tbl").toString
    (0 until commits).foreach { i =>
      VersionedTable.commit(
        (i * 100 until (i + 1) * 100).map(j => (j.toLong, s"v$j"))
          .toDF("k", "v").repartition(2),
        root, append = i > 0)
    }
    root
  }

  test("racing compact + vacuum + pinned reader: snapshot isolation holds") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // several rounds to vary the interleaving
    (1 to 3).foreach { round =>
      val root = freshTable(s"graft_cvr$round", commits = 6)
      val pinned = VersionedTable.versions(spark, root).last // = 6
      val expect = VersionedTable.read(spark, root, Some(pinned))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val compactor = Future {
        Compaction.compactVersioned(spark, root, Seq(col("k")),
          targetRowsPerFile = 200L)
      }
      val vacuumer = Future {
        // stagger per round so the sweep lands before/after/around the
        // compaction commit across rounds
        Thread.sleep(round * 40L)
        VersionedTable.vacuum(spark, root, keepVersions = 3)
      }
      val reader = Future {
        (1 to 8).map { _ =>
          val got = VersionedTable.read(spark, root, Some(pinned))
            .as[(Long, String)].collect().sortBy(_._1).toSeq
          assert(got === expect,
            s"pinned v$pinned snapshot torn in round $round")
          got.size
        }.sum
      }
      val vCompact = Await.result(compactor, 120.seconds)
      val swept = Await.result(vacuumer, 120.seconds)
      Await.result(reader, 120.seconds)
      assert(vCompact === pinned + 1)
      assert(swept >= 0L)
      // post-race: latest is the compacted rewrite, content-identical
      val after = VersionedTable.read(spark, root)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(after === expect)
      // the pinned version survived the keep-3 horizon in EVERY
      // interleaving: whether vacuum saw latest = 6 (keeps 4,5,6) or
      // latest = 7 (keeps 5,6,7), v6's files are referenced by a kept
      // manifest
      assert(VersionedTable.read(spark, root, Some(pinned))
        .count() === expect.size.toLong)
      // a second vacuum AFTER the dust settles reclaims the
      // pre-compaction fragments yet keeps the horizon readable
      VersionedTable.vacuum(spark, root, keepVersions = 1)
      assert(VersionedTable.read(spark, root)
        .as[(Long, String)].collect().sortBy(_._1).toSeq === expect)
    }
  }
}
