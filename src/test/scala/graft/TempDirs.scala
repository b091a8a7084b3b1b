package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories a suite creates, deleted recursively in `afterAll`
  * (`deleteOnExit` cannot remove a non-empty directory, so without this
  * every run leaves its directories behind). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new ConcurrentLinkedQueue[Path]

  /** A new empty directory under the system temp dir, removed with
    * everything in it after the suite's last test. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try made.asScala.foreach(TempDirs.deleteTree) finally super.afterAll()
}

object TempDirs {

  /** Delete `root` and everything below it; absent is fine. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try stream.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally stream.close()
    }
}
