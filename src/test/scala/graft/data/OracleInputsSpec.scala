package graft.data

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.geom.Geom
import graft.queries.GeoQueries

/** The flagship-family oracle inputs travel as parquet: what
  * `Fixtures.ensureAll` writes must read back as the pure-JVM Seqs row for
  * row — same column names, order and types, every double bit-identical,
  * every ring with exactly the vertices the Seq holds (closing vertex
  * neither dropped nor added). */
class OracleInputsSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private def ring(flat: Array[Double]): Seq[Seq[Long]] =
    (0 until flat.length / 2).map(i => Seq(bits(flat(2 * i)), bits(flat(2 * i + 1))))
  private def env(flat: Array[Double]): Seq[Long] = Geom.envelope(flat).toSeq.map(bits)

  private val (str, int, dbl, rng) = ("string", "int", "double", "array<array<double>>")
  private val keyCols = Seq("clubId" -> str, "courseId" -> str, "holeNumber" -> int)
  private val envCols = Seq("minx" -> dbl, "miny" -> dbl, "maxx" -> dbl, "maxy" -> dbl)
  private val itemCols = Seq("itemSeq" -> int, "itemType" -> str)

  test("ensureAll writes every oracle input bit-exactly, in Seq order") {
    // the test JVM's process-scoped fixture root is scratch: gone at exit
    Fixtures.scratchAtExit.add(Fixtures.Root)
    Fixtures.ensureAll(spark, "/root/testdata/sf0.001", SparkEntry.NCourses)
    val expected: Seq[(String, Seq[(String, String)], Seq[Seq[Any]])] = Seq(
      ("bounds", keyCols ++ envCols :+ ("ring" -> rng),
        GeoQueries.oracleBounds.map { case (cl, co, h, f) => Seq(cl, co, h) ++ env(f) :+ ring(f) }),
      ("boundsm", (keyCols :+ ("piece" -> int)) ++ envCols :+ ("ring" -> rng),
        GeoQueries.oracleBoundsMulti.map { case (cl, co, h, pi, f) =>
          Seq(cl, co, h, pi) ++ env(f) :+ ring(f) }),
      ("ivals", keyCols ++ itemCols ++ Seq("zorder" -> int, "iring" -> rng),
        GeoQueries.oracleClipCands.map { case (cl, co, h, seq, it, z, iring, _) =>
          Seq(cl, co, h, seq, it, z, ring(iring)) }),
      ("tbounds", keyCols :+ ("bring" -> rng),
        GeoQueries.oracleClipCands.map(c => (c._1, c._2, c._3) -> ring(c._8)).distinct
          .sortBy(_._1).map { case ((cl, co, h), b) => Seq(cl, co, h, b) }),
      ("lvals", keyCols ++ itemCols ++ Seq("zorder" -> int, "pts" -> rng),
        GeoQueries.oracleLines.map { case (cl, co, h, seq, it, z, f) =>
          Seq(cl, co, h, seq, it, z, ring(f)) }),
      ("markers", keyCols ++ itemCols ++ Seq("x" -> dbl, "y" -> dbl),
        GeoQueries.oracleMarkers.map { case (cl, co, h, seq, it, x, y) =>
          Seq(cl, co, h, seq, it, bits(x), bits(y)) }))
    val oracles = SparkEntry.oracleSql.values.toSeq
    expected.foreach { case (name, cols, rows) =>
      val dir = Fixtures.oracleInputDir(name)
      assert(oracles.exists(_.contains(s"$dir/")), s"no oracle reads $name")
      val df = spark.read.parquet(dir)
      val schema = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      assert(schema == cols, s"$name schema")
      def cell(r: Row, i: Int): Any = cols(i)._2 match {
        case `dbl` => bits(r.getDouble(i))
        case `rng` => r.getSeq[scala.collection.Seq[Double]](i).map(_.map(bits).toSeq)
        case _ => r.get(i)
      }
      val got = df.collect().map(r => cols.indices.map(cell(r, _))).toSeq
      assert(rows.nonEmpty && got.length == rows.length,
        s"$name: ${got.length} rows read, ${rows.length} expected")
      got.zip(rows).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"$name row $i differs")
      }
    }
  }
}
