package graft

import java.nio.file.Paths
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.ext.{DedupIndex, LexicalIndex, PqIndex}
import graft.sources.{BucketedTable, VersionedTable}

/** Races the build-if-missing paths a SHARED session's concurrent
  * queries hit (the BenchConcurrent lane, VERDICT r11 #6): versioned
  * index roots via [[DedupIndex.readOrBuild]] / [[PqIndex.create]] /
  * [[LexicalIndex.create]], and bucketed-layout materialization via
  * [[BucketedTable.bucketed]]. Before KeyedLocks, every one of these
  * was check-then-build: two threads both observe "missing", both
  * build — the versioned loser THROWS (a failed query for the user),
  * and the layout writers interleave part files into one path. The
  * contract now: first builds, rest read; exactly ONE committed
  * version / layout; every caller gets the same rows.
  */
class ConcurrentBuildSpec extends SparkSpec {

  private def fresh(tag: String): String =
    tempDir(s"graft-conc-$tag").resolve("root").toAbsolutePath.toString

  private def race[A](n: Int)(body: Int => A): Seq[Either[String, A]] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // a start barrier so all threads hit the cold check together —
    // without it the pool can serialize the race by accident
    val gate = new java.util.concurrent.CountDownLatch(n)
    val futs = (0 until n).map { i =>
      Future {
        gate.countDown(); gate.await()
        try Right(body(i))
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}") }
      }
    }
    val r = Await.result(Future.sequence(futs), 5.minutes)
    pool.shutdown()
    r
  }

  test("readOrBuild: 8 racing threads, one committed version, all read it") {
    val root = fresh("rob")
    import spark.implicits._
    val results = race(8) { _ =>
      val df = DedupIndex.readOrBuild(spark, root,
        Seq(1L, 2L, 3L).toDF("fp"))
      df.agg(sum(col("fp"))).head.getLong(0)
    }
    val errs = results.collect { case Left(e) => e }
    assert(errs.isEmpty, s"racing readOrBuild threw: ${errs.mkString("; ")}")
    assert(results.forall(_ == Right(6L)))
    // exactly one build won; nobody double-committed
    assert(VersionedTable.versions(spark, root) == Seq(1L))
  }

  test("LexicalIndex.create: racing creators leave one frozen index") {
    val root = fresh("lex")
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"))
      .toDF("doc_id", "text")
    val results = race(6)(_ => LexicalIndex.create(docs, root))
    val errs = results.collect { case Left(e) => e }
    assert(errs.isEmpty, s"racing create threw: ${errs.mkString("; ")}")
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    // the frozen index is readable and complete
    val idx = VersionedTable.read(spark, root)
    assert(idx.agg(sum(col("tf"))).head.getLong(0) == 6L)
  }

  test("PqIndex.create: racing creators leave one model + one codes version") {
    val root = fresh("pq")
    import spark.implicits._
    val dim = 8
    val corpus = (0L until 64L)
      .map(i => (i, Array.tabulate(dim)(d => ((i * 31 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val results = race(4)(_ =>
      PqIndex.create(corpus, root, nlist = 2, m = 2, ksub = 4, dim = dim))
    val errs = results.collect { case Left(e) => e }
    assert(errs.isEmpty, s"racing create threw: ${errs.mkString("; ")}")
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    // the surviving model serves queries
    val knn = PqIndex.knn(spark, root, corpus.where(col("vec_id") < 2),
      k = 3, nprobe = 2, rerankFrom = corpus)
    assert(knn.count() == 6L)
  }

  test("KnnGraphIndex.create: racing creators leave one model + one version") {
    val root = fresh("kgi")
    import spark.implicits._
    val dim = 8
    val corpus = (0L until 96L)
      .map(i => (i, Array.tabulate(dim)(d =>
        ((i * 31 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val results = race(4)(_ => graft.ext.KnnGraphIndex.create(corpus, root))
    val errs = results.collect { case Left(e) => e }
    assert(errs.isEmpty, s"racing create threw: ${errs.mkString("; ")}")
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    // the surviving asset serves the read path completely
    val (_, p) = graft.ext.KnnGraphIndex.readModel(spark, root)
    assert(graft.ext.KnnGraphIndex.topK(spark, root).count() == 96L * p.k)
  }

  test("BucketedTable.bucketed: racing threads materialize one layout") {
    // private copy of the nation table => a layout name no other suite
    // (or earlier run) can have materialized: the race hits a COLD layout
    val dir = tempDir("graft-conc-layout").toFile
    val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    src.write.mode("overwrite")
      .parquet(new java.io.File(dir, "nation.parquet").getAbsolutePath)
    val expected = src.count()
    val results = race(6) { _ =>
      BucketedTable.bucketed(spark, dir.getAbsolutePath, "nation",
        "n_nationkey", 4).count()
    }
    val errs = results.collect { case Left(e) => e }
    assert(errs.isEmpty, s"racing bucketed threw: ${errs.mkString("; ")}")
    assert(results.forall(_ == Right(expected)),
      s"row counts diverged: $results (interleaved writes into one path?)")
    // and the materialized layout is the single coherent one: a fresh
    // read through the catalog matches the source exactly
    val name = dropLayoutAfterAll(BucketedTable.bucketedName(
      dir.getAbsolutePath, "nation", "n_nationkey", 4))
    assert(spark.table(name).count() == expected)
  }

  test("shared-root queries run concurrently end-to-end (span index family)") {
    // the three registered queries sharing one span-index root, plus the
    // two sharing the pq root — the exact sets the concurrent bench
    // overlaps; a private tables dir gives them COLD roots
    val dir = tempDir("graft-conc-e2e").toFile
    val idxRoot = Paths.get(
      graft.registry.IndexCatalog.dirRoot(dir.getAbsolutePath))
    try sharedRootRace(dir, idxRoot)
    finally TempDirs.deleteTree(idxRoot)
  }

  private def sharedRootRace(dir: java.io.File,
                             idxRoot: java.nio.file.Path): Unit = {
    for (t <- Seq("documents", "embeddings")) {
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .write.mode("overwrite")
        .parquet(new java.io.File(dir, s"$t.parquet").getAbsolutePath)
    }
    val names = Seq("span_contamination_indexed", "span_cut_indexed",
      "span_contamination_bloom", "knn_pq_indexed",
      "semantic_contamination_pq")
    val qs = names.map(n => n -> SparkEntry.queries(n))
    val serial = qs.map { case (n, fn) =>
      n -> fn(spark, dir.getAbsolutePath).collect().toSeq.map(_.toString).sorted
    }.toMap
    // wipe the roots so the concurrent pass rebuilds them under the race
    TempDirs.deleteTree(idxRoot)
    val results = race(names.size) { i =>
      val (n, fn) = qs(i)
      n -> fn(spark, dir.getAbsolutePath).collect().toSeq.map(_.toString).sorted
    }
    val errs = results.collect { case Left(e) => e }
    assert(errs.isEmpty, s"concurrent query threw: ${errs.mkString("; ")}")
    results.collect { case Right((n, rows)) =>
      assert(rows == serial(n), s"$n: concurrent result differs from serial")
    }
  }
}
