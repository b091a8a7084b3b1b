package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.BatchMarker

/** The streaming writers' one replay marker: its payload codec, its
  * purge rule (the writer-wiring specs check the purge inside a running
  * stream), and a source scan that keeps the marker contract in it. */
class BatchMarkerSpec extends SparkSpec {

  private def freshRoot() = tempDir("graft_bm").toString

  test("publish and read round-trip the payload bytes") {
    val m = BatchMarker(freshRoot(), "_stream")
    assert(m.read(spark, 1L) === None)
    m.publish(spark, 1L, 1L, 1L)
    assert(MetaFileSpec.marker(s"${m.root}/_stream", 1L) === "1 1")
    assert(m.read(spark, 1L) === Some(Seq(1L, 1L)))
    m.publish(spark, 2L, 7L)
    assert(MetaFileSpec.marker(s"${m.root}/_stream", 2L) === "7")
    assert(m.read(spark, 2L) === Some(Seq(7L)))
  }

  test("purgeBelow keeps the newest marker and torn temp siblings") {
    val root = freshRoot()
    for (name <- (0 to 3).map(b => s"b$b") :+ "b2.tmp") {
      val p = Paths.get(root, "_ingest", name)
      Files.createDirectories(p.getParent)
      Files.write(p, "1".getBytes("UTF-8"))
    }
    BatchMarker(root, "_ingest").purgeBelow(spark, 3L)
    assert(BatchMarkerSpec.markers(s"$root/_ingest") === Set("b3", "b2.tmp"))
    // a writer whose first batch is running has no marker dir yet
    BatchMarker(root, "_screen").purgeBelow(spark, 3L)
  }

  test("batches lists the live markers only") {
    val m = BatchMarker(freshRoot(), "_ingest")
    assert(m.batches(spark) === Nil) // no marker dir yet
    m.publish(spark, 0L, 1L)
    m.publish(spark, 1L, 2L)
    MetaFileSpec.plantCrashedMarker(s"${m.root}/_ingest", 2L)
    assert(m.batches(spark) === Seq(0L, 1L))
    // the directory also holds b2.tmp and the checksum siblings
    val listed = new java.io.File(s"${m.root}/_ingest").list().toSet
    assert(listed.size > 2 && Set("b0", "b1", "b2.tmp").subsetOf(listed),
      listed)
  }

  test("the marker contract lives only in BatchMarker") {
    // (no Spark work: a scan of the main sources)
    def sources(dir: String) = {
      val stream = Files.walk(Paths.get(dir))
      try stream.iterator().asScala.toList
        .filter(_.toString.endsWith(".scala"))
      finally stream.close()
    }
    // the storage layer names no marker directory (the lookbehind skips
    // reference citations such as dags/etl/extract_stream_data.py)
    val dirName = """(?<![A-Za-z0-9])_(?:ingest|screen|stream)\b""".r
    val storage = sources("src/main/scala/graft/sources")
      .filter(p => dirName.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(storage.isEmpty)
    // the five marked writers leave marker I/O and stream wiring to it
    val writers = Seq("StreamingDecontamination", "StreamingKnnGraph",
        "StreamingLexicalScreen", "StreamingSemanticDecontamination",
        "StreamingSplitMaintenance")
      .map(w => Paths.get(s"src/main/scala/graft/streaming/$w.scala"))
    val handRolled = writers.filter { p =>
      val src = Files.readString(p)
      src.contains("MetaFile.") || src.contains(".writeStream")
    }.map(_.getFileName.toString)
    assert(handRolled.isEmpty)
  }
}

object BatchMarkerSpec {

  /** The names in a marker directory, without checksum siblings. */
  def markers(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet
}
