package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.MetaFile

/** The one metadata-file primitive: its write-once contract (the
  * streaming replay specs cover `replace` through a torn temp sibling),
  * and a source scan that keeps every other main file from hand-rolling
  * its own. */
class MetaFileSpec extends SparkSpec {

  private def hpath(p: Path) = new org.apache.hadoop.fs.Path(p.toUri)

  test("no Hadoop metadata file is created or read outside MetaFile") {
    // (no Spark session: a scan of the main sources)
    val patterns = Seq(
      "create(_, overwrite)" ->
        """\.create\((?:[^()]|\([^()]*\))*,\s*(?:true|false)\s*\)""".r,
      "open(_)" -> """\.open\(\s*[^)\s]""".r,
      "readFully" -> """\breadFully\(""".r)
    // SketchAggregates.deserialize reads an aggregation buffer through
    // an in-memory DataInputStream, not a file
    val allowed = Set("SketchAggregates.scala" -> "readFully")
    val root = Paths.get("src/main/scala")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator().asScala.toList
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "MetaFile.scala")
        .flatMap { p =>
          val src = Files.readString(p)
          patterns.collect { case (name, re)
            if re.findFirstIn(src).isDefined &&
              !allowed((p.getFileName.toString, name)) =>
            s"${root.relativize(p)}: $name"
          }
        }
      finally stream.close()
    assert(offenders.isEmpty)
  }

  test("read: None when absent; createNew: write-once, raises on exists") {
    val p = hpath(tempDir("graft_meta").resolve("m/v1"))
    assert(MetaFile.read(spark, p) === None)
    MetaFile.createNew(spark, p, "3 5")
    assert(MetaFile.read(spark, p) === Some("3 5"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      MetaFile.createNew(spark, p, "4 6")
    }
    assert(MetaFile.read(spark, p) === Some("3 5"))
  }
}

/** Crash-window helpers for the streaming writers' replay specs. */
object MetaFileSpec {

  /** Plant what a crash between a marker's temporary write and its
    * rename leaves: a torn `b{batchId}.tmp` sibling and no marker. */
  def plantCrashedMarker(markerDir: String, batchId: Long): Unit = {
    val dir = Files.createDirectories(Paths.get(markerDir))
    Files.writeString(dir.resolve(s"b$batchId.tmp"), "1")
  }

  /** The published marker's payload; the temp sibling must be gone. */
  def marker(markerDir: String, batchId: Long): String = {
    assert(!Files.exists(Paths.get(markerDir, s"b$batchId.tmp")))
    Files.readString(Paths.get(markerDir, s"b$batchId"))
  }
}
