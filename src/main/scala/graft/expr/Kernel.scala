package graft.expr

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftShim
import org.apache.spark.sql.types._

/** SQL-level geometry/grid type aliases (SURVEY.md §1.2). */
object GeoTypes {
  val pointType: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))
  val ringType: ArrayType = ArrayType(pointType, containsNull = false)
  val polygonType: ArrayType = ArrayType(ringType, containsNull = false)
  val envelopeType: StructType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))
  val coverEntriesType: ArrayType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("full", BooleanType, nullable = false))), containsNull = false)
  val viewportType: StructType = StructType(Seq(
    StructField("fig_w_in", DoubleType, nullable = false),
    StructField("fig_h_in", DoubleType, nullable = false),
    StructField("aspect", DoubleType, nullable = false),
    StructField("marker_px", DoubleType, nullable = false)))
  val lonLatType: StructType = StructType(Seq(
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false)))
}

/** Analysis-time argument shapes of the struct-array kernels, which read
  * their inputs positionally (getStruct/getUTF8String/getLong) and would
  * otherwise fail a wrong call with a ClassCastException at run time.
  * Struct field TYPES must match; field names are the caller's. No casts
  * are inserted, so valid calls plan and generate exactly as before. */
private[expr] object KernelArgs {
  private def structArray(fields: (String, DataType)*): ArrayType =
    ArrayType(StructType(fields.map { case (n, t) => StructField(n, t) }))
  val TokCounts: ArrayType = structArray("tok" -> StringType, "c" -> LongType)
  val TermCounts: ArrayType = structArray("term" -> StringType, "tf" -> LongType)
  val QueryTerms: ArrayType =
    structArray("qpos" -> IntegerType, "term" -> StringType, "idf" -> DoubleType)

  private def fits(got: DataType, want: DataType): Boolean = (got, want) match {
    case (NullType, _) => true // a NULL literal argument yields NULL, as before
    case (ArrayType(g: StructType, _), ArrayType(w: StructType, _)) =>
      g.length == w.length &&
        g.fields.zip(w.fields).forall { case (gf, wf) => gf.dataType == wf.dataType }
    case _ => got == want
  }

  def check(inputs: Seq[Expression], wanted: Seq[DataType]): TypeCheckResult =
    inputs.zip(wanted).zipWithIndex.collectFirst {
      case ((e, want), i) if !fits(e.dataType, want) =>
        DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> ExpectsInputTypes.ordinalNumber(i),
          "requiredType" -> ExpectsInputTypes.toSQLType(want),
          "inputSql" -> ExpectsInputTypes.toSQLExpr(e),
          "inputType" -> ExpectsInputTypes.toSQLType(e.dataType)))
    }.getOrElse(TypeCheckSuccess)
}

/**
 * One engine kernel as a SQL function: `name(args...)` calls the static
 * method `owner.method` on the arguments' internal values (UTF8String,
 * ArrayData, InternalRow, primitives) and returns `result`.
 *
 * @param castArgs      implicit-cast the arguments to `args` (false: the
 *                      struct-array kernels, whose `args` are checked by
 *                      [[KernelArgs.check]] without any cast)
 * @param mayReturnNull the kernel returns null for some inputs (degenerate
 *                      geometry); otherwise it is null-intolerant: a null
 *                      argument gives null and nothing else does
 */
final case class Kernel(
    name: String,
    owner: String,
    method: String,
    args: Seq[DataType],
    result: DataType,
    mayReturnNull: Boolean = false,
    castArgs: Boolean = true) {

  /** The static method interpreted evaluation invokes. */
  @transient lazy val target: Method =
    Class.forName(owner).getMethod(method, args.map(CodeGenerator.javaClass): _*)

  /** The Catalyst node for a call; a wrong argument count fails analysis. */
  def apply(children: Seq[Expression]): Expression = {
    if (children.length != args.length)
      throw graftShim.wrongNumArgs(name, args.length, children.length)
    KernelCall(this, children)
  }
}

object Kernel {
  private val Geo = "graft.expr.GeoOps"
  private val Text = "graft.expr.TextOps"
  private val Trigram = "graft.expr.TrigramModel"
  private val Flat = ArrayType(DoubleType, containsNull = false)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  import GeoTypes.{polygonType => Poly, ringType => Ring}
  import KernelArgs.{QueryTerms, TermCounts, TokCounts}

  /** Every graft SQL function, each declared once. The Column API
    * ([[graft.functions]]), `registerAll` and [[graft.GraftExtensions]]
    * are all built from this table. */
  val all: Seq[Kernel] = Seq(
    Kernel("closed_ring", Geo, "closedRing", Seq(Ring), Ring),
    Kernel("gaussian_smooth", Geo, "gaussianSmooth", Seq(Ring, DoubleType), Ring),
    Kernel("make_polygon", Geo, "makePolygon", Seq(Ring), Poly, mayReturnNull = true),
    Kernel("st_contains", Geo, "stContains", Seq(Poly, DoubleType, DoubleType), BooleanType),
    Kernel("st_covers", Geo, "stCovers", Seq(Poly, DoubleType, DoubleType), BooleanType),
    Kernel("flatten_shell", Geo, "flattenShell", Seq(Poly), Flat),
    Kernel("st_contains_flat", Geo, "stContainsFlat", Seq(Flat, DoubleType, DoubleType),
      BooleanType),
    Kernel("slab_shell", Geo, "slabShell", Seq(Flat), Flat),
    Kernel("st_contains_slab", Geo, "stContainsSlab", Seq(Flat, DoubleType, DoubleType),
      BooleanType),
    Kernel("st_distance_to_shell_m", Geo, "stDistanceToShellM",
      Seq(Flat, DoubleType, DoubleType), DoubleType),
    Kernel("st_isvalid", Geo, "stIsValid", Seq(Poly), BooleanType),
    Kernel("st_intersection", Geo, "stIntersection", Seq(Poly, Poly), Poly,
      mayReturnNull = true),
    Kernel("st_envelope", Geo, "stEnvelope", Seq(Poly), GeoTypes.envelopeType,
      mayReturnNull = true),
    Kernel("st_area", Geo, "stArea", Seq(Poly), DoubleType),
    Kernel("st_distance_m", Geo, "haversineM",
      Seq(DoubleType, DoubleType, DoubleType, DoubleType), DoubleType),
    Kernel("viewport", Geo, "viewport",
      Seq(DoubleType, DoubleType, DoubleType, DoubleType), GeoTypes.viewportType),
    Kernel("cell_id", Geo, "cellId", Seq(DoubleType, DoubleType, IntegerType), LongType),
    Kernel("cell_parent", Geo, "cellParent", Seq(LongType, IntegerType), LongType),
    Kernel("cell_level", Geo, "cellLevel", Seq(LongType), IntegerType),
    Kernel("cell_x", Geo, "cellX", Seq(LongType), LongType),
    Kernel("cell_y", Geo, "cellY", Seq(LongType), LongType),
    Kernel("ring_cells", Geo, "ringCells", Seq(LongType, IntegerType), Longs),
    Kernel("disk_cells", Geo, "diskCells", Seq(LongType, IntegerType), Longs),
    Kernel("cell_center", Geo, "cellCenter", Seq(LongType), GeoTypes.lonLatType),
    Kernel("cell_min_distance_m", Geo, "cellMinDistanceM",
      Seq(LongType, DoubleType, DoubleType), DoubleType),
    Kernel("tile_x", Geo, "tileX", Seq(DoubleType, IntegerType), LongType),
    Kernel("tile_y", Geo, "tileY", Seq(DoubleType, IntegerType), LongType),
    Kernel("quadkey", Geo, "quadkey", Seq(IntegerType, LongType, LongType), StringType),
    Kernel("cover_cells", Geo, "coverCells", Seq(Poly, IntegerType, IntegerType),
      GeoTypes.coverEntriesType),
    // containsNull = true: a `transform(...)`-built array types as nullable
    // elements even when the lambda can't return null, and implicit casts
    // never narrow containsNull; a null element throws in encode() instead
    Kernel("png_encode", "graft.expr.PngOps", "encode",
      Seq(ArrayType(BooleanType), IntegerType, IntegerType), BinaryType),
    Kernel("hash_text", Text, "hashText", Seq(StringType), LongType),
    Kernel("trigram_lang_predict", Trigram, "predict", Seq(StringType), StringType),
    Kernel("trigram_fluency", Trigram, "bestAvgLogProb", Seq(StringType), DoubleType),
    Kernel("mix64", Text, "mix64", Seq(LongType), LongType),
    Kernel("leading_zeros", "java.lang.Long", "numberOfLeadingZeros", Seq(LongType),
      IntegerType),
    Kernel("nfc_normalize", Text, "nfcNormalize", Seq(StringType), StringType),
    Kernel("word_shingles", Text, "wordShingles", Seq(StringType, IntegerType), Strings),
    Kernel("char_shingles", Text, "charShingles", Seq(StringType, IntegerType), Strings),
    Kernel("hashed_char_shingles", Text, "hashedCharShingles",
      Seq(StringType, IntegerType), Longs),
    Kernel("hashed_word_shingles", Text, "hashedWordShingles",
      Seq(StringType, IntegerType), Longs),
    Kernel("gear_cuts", Text, "gearCuts", Seq(StringType, IntegerType),
      ArrayType(IntegerType, containsNull = false)),
    Kernel("sorted_jaccard", Text, "sortedJaccard",
      Seq(ArrayType(LongType), ArrayType(LongType)), DoubleType),
    Kernel("keyed_dot", Text, "keyedDot", Seq(TokCounts, TokCounts), LongType,
      castArgs = false),
    Kernel("bm25_fold", Text, "bm25Fold", Seq(QueryTerms, TermCounts, DoubleType),
      DoubleType, castArgs = false),
    Kernel("minhash", Text, "minHash", Seq(ArrayType(StringType), IntegerType, LongType),
      Longs),
    Kernel("lsh_bands", Text, "lshBands", Seq(ArrayType(LongType), IntegerType), Longs),
    Kernel("simhash", Text, "simHash", Seq(ArrayType(StringType)), LongType),
    Kernel("hamming_dist", Text, "hammingDistance", Seq(LongType, LongType), IntegerType),
    Kernel("cosine_sim", Text, "cosineSim",
      Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType),
    Kernel("dot_sim", Text, "dotSim",
      Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType),
    Kernel("hyperplane_lsh", Text, "hyperplaneLsh",
      Seq(ArrayType(FloatType), IntegerType, LongType), LongType),
    Kernel("fingerprint", Text, "fingerprint", Seq(StringType), LongType))

  private val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap
  require(byName.size == all.size, "duplicate kernel name")

  def named(name: String): Kernel = byName(name)
}

/**
 * The Catalyst node of every [[Kernel]]: prints as `name(arg, ...)`,
 * generates a direct static call (Spark's `nullSafeCodeGen` nesting, so
 * it stays inside whole-stage codegen), and evaluates interpreted through
 * the kernel's reflective `target`.
 */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {

  // empty inputTypes: the implicit-cast rule leaves the arguments as they are
  override def inputTypes: Seq[DataType] = if (kernel.castArgs) kernel.args else Nil
  override def checkInputDataTypes(): TypeCheckResult =
    if (kernel.castArgs) super.checkInputDataTypes() else KernelArgs.check(children, kernel.args)
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = kernel.mayReturnNull || children.exists(_.nullable)
  override def nullIntolerant: Boolean = !kernel.mayReturnNull
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](children.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try kernel.target.invoke(null, values: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.value} = ${kernel.owner}.${kernel.method}(${gens.map(_.value).mkString(", ")});"
    val resultCode =
      if (kernel.mayReturnNull) s"\n$call\n${ev.isNull} = (${ev.value} == null);\n" else call
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      ev.copy(code = code"${gens.map(_.code).mkString("\n")}\n$decl\n$resultCode",
        isNull = FalseLiteral)
    } else if (gens.length == 1) { // UnaryExpression's form
      val g = gens.head
      ev.copy(code = code"""
        ${g.code}
        boolean ${ev.isNull} = ${g.isNull};
        $decl
        ${ctx.nullSafeExec(children.head.nullable, g.isNull)(resultCode)}""")
    } else { // Binary/Ternary/QuaternaryExpression's form, for any arity
      val nested = gens.zip(children).foldRight(
          s"\n${ev.isNull} = false; // resultCode could change nullability.\n$resultCode\n") {
        case ((g, c), inner) => g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $decl
        $nested""")
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}
