package graft.expr

import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftShim
import org.scalatest.funsuite.AnyFunSuite

/** One valid argument list per kernel in [[Kernel.all]], plus the helpers
  * the table-wide specs share. */
object KernelSamples {
  private def pt(x: Double, y: Double) = struct(lit(x).as("x"), lit(y).as("y"))
  private val square = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))
  private def shell(dx: Double) =
    array((square :+ square.head).map { case (x, y) => pt(x + dx, y + dx) }: _*)
  private val ring = array(square.map { case (x, y) => pt(x, y) }: _*)
  private val poly = array(shell(0.0))
  private val flatVals = Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0)
  private val flat = array(flatVals.map(lit): _*)
  private val slabs = array(GeoOps.slabShell(
    new org.apache.spark.sql.catalyst.util.GenericArrayData(flatVals.toArray))
    .toDoubleArray().toSeq.map(lit): _*)
  private val cell = lit(graft.index.Cells.cellId(116.4, 39.9, 15))
  private val text = lit("the quick brown fox jumps over the lazy dog")
  private val toks = array(struct(lit("a").as("tok"), lit(1L).as("c")),
    struct(lit("b").as("tok"), lit(2L).as("c")))
  private val floats = array(lit(1.0f), lit(2.0f), lit(3.0f))

  val args: Map[String, Seq[Column]] = Map(
    "closed_ring" -> Seq(ring),
    "gaussian_smooth" -> Seq(ring, lit(1.0)),
    "make_polygon" -> Seq(ring),
    "st_contains" -> Seq(poly, lit(2.0), lit(2.0)),
    "st_covers" -> Seq(poly, lit(0.0), lit(2.0)),
    "flatten_shell" -> Seq(poly),
    "st_contains_flat" -> Seq(flat, lit(2.0), lit(2.0)),
    "slab_shell" -> Seq(flat),
    "st_contains_slab" -> Seq(slabs, lit(2.0), lit(2.0)),
    "st_distance_to_shell_m" -> Seq(flat, lit(5.0), lit(2.0)),
    "st_isvalid" -> Seq(poly),
    "st_intersection" -> Seq(poly, array(shell(2.0))),
    "st_envelope" -> Seq(poly),
    "st_area" -> Seq(poly),
    "st_distance_m" -> Seq(lit(116.4), lit(39.9), lit(116.5), lit(39.95)),
    "viewport" -> Seq(lit(0.0), lit(0.0), lit(4.0), lit(2.0)),
    "cell_id" -> Seq(lit(116.4), lit(39.9), lit(15)),
    "cell_parent" -> Seq(cell, lit(10)),
    "cell_level" -> Seq(cell),
    "cell_x" -> Seq(cell),
    "cell_y" -> Seq(cell),
    "ring_cells" -> Seq(cell, lit(1)),
    "disk_cells" -> Seq(cell, lit(1)),
    "cell_center" -> Seq(cell),
    "cell_min_distance_m" -> Seq(cell, lit(116.5), lit(39.95)),
    "tile_x" -> Seq(lit(116.4), lit(12)),
    "tile_y" -> Seq(lit(39.9), lit(12)),
    "quadkey" -> Seq(lit(12), lit(3000L), lit(1500L)),
    "cover_cells" -> Seq(poly, lit(3), lit(6)),
    "png_encode" -> Seq(array(lit(true), lit(false), lit(true), lit(false)), lit(2),
      lit(0xFF0000)),
    "hash_text" -> Seq(text),
    "trigram_lang_predict" -> Seq(text),
    "trigram_fluency" -> Seq(text),
    "mix64" -> Seq(lit(42L)),
    "leading_zeros" -> Seq(lit(1024L)),
    "nfc_normalize" -> Seq(lit("café")),
    "word_shingles" -> Seq(text, lit(2)),
    "char_shingles" -> Seq(text, lit(3)),
    "hashed_char_shingles" -> Seq(text, lit(3)),
    "hashed_word_shingles" -> Seq(text, lit(2)),
    "gear_cuts" -> Seq(text, lit(2)),
    "sorted_jaccard" -> Seq(array(lit(1L), lit(2L), lit(3L)), array(lit(2L), lit(3L), lit(4L))),
    "keyed_dot" -> Seq(toks, toks),
    "bm25_fold" -> Seq(
      array(struct(lit(1).as("qpos"), lit("a").as("term"), lit(1.5).as("idf"))),
      array(struct(lit("a").as("term"), lit(2L).as("tf"))), lit(1.0)),
    "minhash" -> Seq(array(lit("a"), lit("b"), lit("c")), lit(4), lit(7L)),
    "lsh_bands" -> Seq(array(lit(1L), lit(2L), lit(3L), lit(4L)), lit(2)),
    "simhash" -> Seq(array(lit("a"), lit("b"))),
    "hamming_dist" -> Seq(lit(7L), lit(0L)),
    "cosine_sim" -> Seq(floats, floats),
    "dot_sim" -> Seq(floats, floats),
    "hyperplane_lsh" -> Seq(floats, lit(8), lit(1L)),
    "fingerprint" -> Seq(text))

  def call(k: Kernel, args: Seq[Column]): Column =
    graftShim.column(k(args.map(graftShim.expression)))

  /** A value's exact text: doubles and floats by their bits, binaries in hex. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Run `body` with session confs set, restoring the previous values. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

class KernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("every kernel has sample arguments and a Column function that builds it") {
    val names = Kernel.all.map(_.name)
    assert(KernelSamples.args.keySet == names.toSet)
    // the Column API: one public function per kernel whose node is that kernel
    val columnFns = graft.functions.getClass.getMethods.toSeq
      .filter(_.getReturnType == classOf[Column])
    assert(columnFns.map(_.getName).sorted == names.sorted)
    columnFns.foreach { m =>
      val c = m.invoke(graft.functions, KernelSamples.args(m.getName): _*).asInstanceOf[Column]
      graftShim.expression(c) match {
        case KernelCall(k, children) =>
          assert(k == Kernel.named(m.getName) && children.size == k.args.size, m.getName)
        case other => fail(s"${m.getName} builds $other")
      }
    }
  }

  test("every kernel is codegen'd as a direct static call, never an eval fallback") {
    val id = col("id")
    val fallback = """references\[\d+\][^;]*\.eval\(""".r
    Kernel.all.foreach { k =>
      val df = spark.range(2).select(
        KernelSamples.call(k, KernelSamples.args(k.name).map(a => when(id === 0, a))).as("v"))
      val src = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
      assert(src.contains(s"${k.owner}.${k.method}("), s"${k.name}: no direct call in\n$src")
      assert(fallback.findFirstIn(src).isEmpty, s"${k.name}: eval fallback in\n$src")
    }
  }

  test("SQL calls with the wrong number of arguments fail at analysis, naming the count") {
    graft.functions.registerAll(spark)
    val poly = "make_polygon(array(struct(0d AS x, 0d AS y), struct(4d AS x, 0d AS y), " +
      "struct(4d AS x, 4d AS y), struct(0d AS x, 4d AS y)))"
    // one extra argument was silently dropped; one missing argument threw
    // an IndexOutOfBoundsException
    for ((sql, name, want) <- Seq(
        (s"SELECT st_area($poly, 5)", "st_area", 1),
        (s"SELECT st_contains($poly, 1.0d)", "st_contains", 3))) {
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
      assert(e.getMessage.contains(s"`$name` requires $want parameters"),
        e.getMessage)
    }
    assert(spark.sql(s"SELECT st_area($poly)").head().getDouble(0) == 16.0)
  }
}
