package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit text hash (FNV-1a + splitmix finalizer). */
case class HashText(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hash_text"
  override protected def nullSafeEval(s: Any): Any =
    TextOps.hashText(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.TextOps.hashText($s)")
  override protected def withNewChildInternal(c: Expression): HashText = copy(c)
}

/** Char-trigram Naive-Bayes language prediction (q77) — kernel fold over
  * [[TrigramModel]]'s static maps, codegen'd. */
case class TrigramLangPredict(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "trigram_lang_predict"
  override protected def nullSafeEval(s: Any): Any =
    TrigramModel.predict(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.TrigramModel.predict($s)")
  override protected def withNewChildInternal(c: Expression): TrigramLangPredict = copy(c)
}

/** Best-language mean trigram log-prob (q79 fluency score) — kernel
  * twin of [[TrigramLangPredict]]. */
case class TrigramFluency(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "trigram_fluency"
  override protected def nullSafeEval(s: Any): Any =
    TrigramModel.bestAvgLogProb(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.TrigramModel.bestAvgLogProb($s)")
  override protected def withNewChildInternal(c: Expression): TrigramFluency = copy(c)
}

/** splitmix64 finalizer as a standalone expression (sketch slot hashing,
  * q82) — the same mixer the minhash slots already replay in SQL. */
case class Mix64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mix64"
  override protected def nullSafeEval(z: Any): Any =
    TextOps.mix64(z.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, z => s"graft.expr.TextOps.mix64($z)")
  override protected def withNewChildInternal(c: Expression): Mix64 = copy(c)
}

/** Long.numberOfLeadingZeros — the HLL rank observable (q83); counts
  * from bit 63, i.e. over the UNSIGNED bit pattern. */
case class LeadingZeros(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "leading_zeros"
  override protected def nullSafeEval(z: Any): Any =
    java.lang.Long.numberOfLeadingZeros(z.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, z => s"java.lang.Long.numberOfLeadingZeros($z)")
  override protected def withNewChildInternal(c: Expression): LeadingZeros = copy(c)
}

/** Unicode NFC normalization (q88) — JDK `java.text.Normalizer`, which
  * implements the same UAX#15 tables as DuckDB's utf8proc
  * `nfc_normalize` (agreement verified on decomposed accents, the
  * Angstrom/Ohm compatibility singletons, and combining-mark reorder). */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"
  override protected def nullSafeEval(s: Any): Any =
    TextOps.nfcNormalize(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.TextOps.nfcNormalize($s)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(c)
}

/** Word n-gram shingles. */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(s: Any, n: Any): Any =
    TextOps.wordShingles(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.expr.TextOps.wordShingles($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): WordShingles =
    copy(l, r)
}

/** Character n-gram shingles. */
case class CharShingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_shingles"
  override protected def nullSafeEval(s: Any, n: Any): Any =
    TextOps.charShingles(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.expr.TextOps.charShingles($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CharShingles =
    copy(l, r)
}

/** Gear content-defined chunk cut positions (1-based, interior only). */
case class GearCuts(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gear_cuts"
  override protected def nullSafeEval(s: Any, m: Any): Any =
    TextOps.gearCuts(s.asInstanceOf[UTF8String], m.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, m) => s"graft.expr.TextOps.gearCuts($s, $m)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GearCuts =
    copy(l, r)
}

/** Sorted-distinct hashes of char n-grams (no gram strings materialized). */
case class HashedCharShingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_char_shingles"
  override protected def nullSafeEval(s: Any, n: Any): Any =
    TextOps.hashedCharShingles(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.expr.TextOps.hashedCharShingles($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashedCharShingles =
    copy(l, r)
}

/** Sorted-distinct hashes of word n-grams. */
case class HashedWordShingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_word_shingles"
  override protected def nullSafeEval(s: Any, n: Any): Any =
    TextOps.hashedWordShingles(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.expr.TextOps.hashedWordShingles($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashedWordShingles =
    copy(l, r)
}

/** Jaccard of two sorted-distinct long arrays (merge walk). */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.TextOps.sortedJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedJaccard =
    copy(l, r)
}

/** k-permutation MinHash signature in one pass over the shingle array. */
case class MinHash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType, LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash"
  override protected def nullSafeEval(sh: Any, k: Any, seed: Any): Any =
    TextOps.minHash(sh.asInstanceOf[ArrayData], k.asInstanceOf[Int], seed.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sh, k, s) => s"graft.expr.TextOps.minHash($sh, $k, $s)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): MinHash =
    copy(f, s, t)
}

/** LSH band keys from a MinHash signature (band-join candidates). */
case class LshBands(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_bands"
  override protected def nullSafeEval(sig: Any, rpb: Any): Any =
    TextOps.lshBands(sig.asInstanceOf[ArrayData], rpb.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sig, r) => s"graft.expr.TextOps.lshBands($sig, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LshBands =
    copy(l, r)
}

/** 64-bit SimHash over shingles. */
case class SimHash(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash"
  override protected def nullSafeEval(sh: Any): Any =
    TextOps.simHash(sh.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, sh => s"graft.expr.TextOps.simHash($sh)")
  override protected def withNewChildInternal(c: Expression): SimHash = copy(c)
}

/** Hamming distance between two 64-bit hashes (SimHash near-dup test). */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hamming_dist"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.hammingDistance(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.TextOps.hammingDistance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDist =
    copy(l, r)
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

/** Exact integer dot product of two sorted (tok, c) struct arrays — the
  * (doc, tok)-keyed join + sum aggregation of a pair query's
  * count-vector dot, collapsed into one merge-walk kernel (r6; see
  * TextOps.keyedDot for the sortedness contract). */
case class KeyedDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    KernelArgs.check(children, Seq(KernelArgs.TokCounts, KernelArgs.TokCounts))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "keyed_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.keyedDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.TextOps.keyedDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KeyedDot =
    copy(l, r)
}

/** BM25 (query, doc) score fold over a qpos-sorted query-term array and
  * a term-sorted per-doc count vector — q98's contribution join + pivot
  * aggregation as one kernel pass (r6; see TextOps.bm25Fold for the
  * sortedness + float-shape contract). NaN = no term matched. */
case class Bm25Fold(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    KernelArgs.check(children, Seq(KernelArgs.QueryTerms, KernelArgs.TermCounts, DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bm25_fold"
  override protected def nullSafeEval(q: Any, p: Any, k: Any): Any =
    TextOps.bm25Fold(q.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData],
      k.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, p, k) => s"graft.expr.TextOps.bm25Fold($q, $p, $k)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Bm25Fold = copy(f, s, t)
}

/** Inner product of float-vector embeddings (double accumulation). */
case class DotSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.dotSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.TextOps.dotSim($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotSim =
    copy(l, r)
}

/** Cosine similarity of float-vector embeddings (double accumulation). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.TextOps.cosineSim($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(l, r)
}

/** Random-hyperplane LSH bucket for an embedding (ANN scale path). */
case class HyperplaneLsh(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), IntegerType, LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_lsh"
  override protected def nullSafeEval(v: Any, bits: Any, seed: Any): Any =
    TextOps.hyperplaneLsh(v.asInstanceOf[ArrayData], bits.asInstanceOf[Int], seed.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, b, s) => s"graft.expr.TextOps.hyperplaneLsh($v, $b, $s)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): HyperplaneLsh =
    copy(f, s, t)
}

/** Rolling token fingerprint of a document. */
case class Fingerprint(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fingerprint"
  override protected def nullSafeEval(s: Any): Any =
    TextOps.fingerprint(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.TextOps.fingerprint($s)")
  override protected def withNewChildInternal(c: Expression): Fingerprint = copy(c)
}
