package graft.data

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** S1 scan path: the reference-shaped JSONL fixture roundtrips through
  * the schema'd reader into the exact flat frame the generator produces. */
class CoursesSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark

  test("JSONL write -> schema'd read -> flatten equals the in-memory frame") {
    val dir = tempDir("graft-jsonl").toString
    Courses.writeJsonl(spark, s"$dir/layouts", nCourses = 5)
    val viaJson = Courses.itemsFromLayouts(Courses.readLayouts(spark, s"$dir/layouts"))
    val direct = Courses.itemsDf(spark, 5)
    assert(viaJson.schema === direct.schema)
    assert(viaJson.count() === direct.count())
    assert(viaJson.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaJson).count() === 0)
  }
}
