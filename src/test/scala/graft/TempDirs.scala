package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a spec: [[tempDir]] creates one, and every
  * directory the suite created is deleted recursively once the suite has
  * run, whether its tests passed or not (lazily built fixtures shared by
  * several tests live until then). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally dirs.forEach(dir => graft.sources.Storage.deleteRecursively(dir))
}
