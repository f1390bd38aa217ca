package graft.data

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Scratch placement: an override base (SPARK_GRAFT_STREAM_CKPT) that does
  * not exist yet is created; one that cannot be created fails naming the
  * knob; every scratch dir is registered for deletion at JVM exit. */
class FixturesSpec extends AnyFunSuite with graft.TempDirs {

  test("fastScratchDir creates a missing override base directory") {
    val root = tempDir("graft-fixtures")
    val base = root.resolve("not/yet/there")
    assert(!Files.exists(base))
    val dir = Paths.get(Fixtures.fastScratchDir("graft_t_", Some(base.toString)))
    assert(Files.isDirectory(dir) && dir.getParent == base)
    Fixtures.dropCheckpointDir(dir.toString)
    assert(!Files.exists(dir))
  }

  test("fastScratchDir fails naming SPARK_GRAFT_STREAM_CKPT when the base cannot be created") {
    val file = Files.createFile(tempDir("graft-fixtures").resolve("base.txt"))
    val e = intercept[IllegalArgumentException](
      Fixtures.fastScratchDir("graft_t_", Some(file.resolve("sub").toString)))
    assert(e.getMessage.contains("SPARK_GRAFT_STREAM_CKPT"), e.getMessage)
  }

  test("scratch dirs are registered for exit-time deletion until dropped") {
    val dir = Fixtures.fastScratchDir("graft_t_")
    assert(Fixtures.scratchAtExit.contains(dir))
    Fixtures.dropCheckpointDir(dir)
    assert(!Fixtures.scratchAtExit.contains(dir) && !Files.exists(Paths.get(dir)))
  }
}
