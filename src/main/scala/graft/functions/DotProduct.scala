package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: left-to-right double-precision dot product
  * of two `array<float>` columns.
  *
  * The built-in route (`aggregate(zip_with(...))`) is a higher-order
  * function, which Spark evaluates interpreted — lambda-variable binding
  * per element. For 64-dim embeddings scored millions of times in a
  * similarity join that interpretation dominates the query. This
  * expression generates a tight Java loop inside whole-stage codegen
  * (custom-operator preference order (b), SURVEY.md §2.12: a codegen'd
  * `Expression` beats a UDF beats interpreted HOFs).
  *
  * Accumulation order is the same left-to-right double fold as the HOF
  * form, so results are bit-identical to it. */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  // nullable even for non-null children: ragged/null-element inputs yield
  // NULL (also keeps codegen's isNull a real variable, not a constant)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  // Null semantics match the HOF form `aggregate(zip_with(...))`: a length
  // mismatch or a null element yields NULL (zip_with pads with null and
  // null poisons the fold) — never a silently truncated number.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column-API access for the engine's native functions. */
object GraftFunctions {

  val dotInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductFloat].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProductFloat(children(0), children(1)))

  val dotlInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dotl"),
    new ExpressionInfo(classOf[DotProductLong].getName, "graft_dotl"),
    (children: Seq[Expression]) => DotProductLong(children(0), children(1)))

  val srpBandsInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_srp_bands"),
    new ExpressionInfo(classOf[SrpBands].getName, "graft_srp_bands"),
    (children: Seq[Expression]) => SrpBands(children(0)))

  val shinglesInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[GraftShingles].getName, "graft_shingles"),
    (children: Seq[Expression]) => GraftShingles(children(0)))

  val shingleHashesInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingle_hashes"),
    new ExpressionInfo(classOf[GraftShingleHashes].getName,
      "graft_shingle_hashes"),
    (children: Seq[Expression]) => GraftShingleHashes(children(0)))

  val simhashInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[GraftSimhash].getName, "graft_simhash"),
    (children: Seq[Expression]) => GraftSimhash(children(0)))

  val gramHashesInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_gram_hashes"),
    new ExpressionInfo(classOf[GraftGramHashes].getName,
      "graft_gram_hashes"),
    (children: Seq[Expression]) => GraftGramHashes(children(0), children(1)))

  val simhashWideInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash_wide"),
    new ExpressionInfo(classOf[GraftSimhashWide].getName,
      "graft_simhash_wide"),
    (children: Seq[Expression]) => GraftSimhashWide(children(0), children(1)))

  val minhashSigInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash_sig"),
    new ExpressionInfo(classOf[GraftMinhashSig].getName, "graft_minhash_sig"),
    (children: Seq[Expression]) => GraftMinhashSig(children(0)))

  val termCountsInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_term_counts"),
    new ExpressionInfo(classOf[GraftTermCounts].getName, "graft_term_counts"),
    (children: Seq[Expression]) => GraftTermCounts(children(0)))

  val winnowInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_winnow"),
    new ExpressionInfo(classOf[GraftWinnow].getName, "graft_winnow"),
    (children: Seq[Expression]) => GraftWinnow(children(0)))

  val bigramCountsInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bigram_counts"),
    new ExpressionInfo(classOf[GraftBigramCounts].getName,
      "graft_bigram_counts"),
    (children: Seq[Expression]) => GraftBigramCounts(children(0)))

  val cosKeyInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cos_key"),
    new ExpressionInfo(classOf[CosRatioKey].getName, "graft_cos_key"),
    (children: Seq[Expression]) => CosRatioKey(children(0), children(1)))

  val topBigramInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_top_bigram"),
    new ExpressionInfo(classOf[GraftTopBigram].getName,
      "graft_top_bigram"),
    (children: Seq[Expression]) => GraftTopBigram(children(0)))

  val bpeEncodeInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bpe_encode"),
    new ExpressionInfo(classOf[GraftBpeEncode].getName,
      "graft_bpe_encode"),
    (children: Seq[Expression]) =>
      GraftBpeEncode(children(0), children(1), children(2)))

  val bpeDecodeInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bpe_decode"),
    new ExpressionInfo(classOf[GraftBpeDecode].getName,
      "graft_bpe_decode"),
    (children: Seq[Expression]) => GraftBpeDecode(children(0)))

  // Every `graft_*` function, optimizer rule and planner strategy: the one
  // list both [[graft.GraftExtensions]] and [[ensureRegistered]] read.
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)] = Seq(dotInfo, dotlInfo, cosKeyInfo,
    srpBandsInfo, shinglesInfo, shingleHashesInfo, simhashInfo,
    simhashWideInfo, minhashSigInfo, termCountsInfo, winnowInfo,
    bigramCountsInfo, topBigramInfo, gramHashesInfo, bpeEncodeInfo,
    bpeDecodeInfo)
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.LevenshteinThresholdRule, graft.plans.PartitionTermCountsRule)
  val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.PartitionTermCountsStrategy)

  /** Idempotent per-session registration — works on any session, including
    * ones built without [[graft.GraftExtensions]]. Also attaches the
    * engine's optimizer rules and strategies through the experimental hooks
    * (extension-built sessions get them injected; the rules match only
    * their own input shapes, so running one twice is harmless). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { info =>
      if (!reg.functionExists(info._1)) {
        reg.registerFunction(info._1, info._2, info._3)
      }
    }
    val rules = spark.experimental.extraOptimizations
    if (!optimizerRules.forall(rules.contains)) {
      spark.experimental.extraOptimizations =
        rules ++ optimizerRules.filterNot(rules.contains)
    }
    val planners = spark.experimental.extraStrategies
    if (!strategies.forall(planners.contains)) {
      spark.experimental.extraStrategies =
        planners ++ strategies.filterNot(planners.contains)
    }
  }

  /** Column-API wrappers (require the functions registered in the session
    * that executes the plan). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def dotl(a: Column, b: Column): Column = call_function("graft_dotl", a, b)
  def cosKey(d: Column, n: Column): Column =
    call_function("graft_cos_key", d, n)
  def srpBands(xg: Column): Column = call_function("graft_srp_bands", xg)
  def shingles(text: Column): Column = call_function("graft_shingles", text)
  def shingleHashes(text: Column): Column =
    call_function("graft_shingle_hashes", text)
  def simhash(text: Column): Column = call_function("graft_simhash", text)
  def gramHashes(text: Column, k: Int): Column =
    call_function("graft_gram_hashes", text, lit(k))
  def simhashWide(text: Column, words: Int): Column =
    call_function("graft_simhash_wide", text,
      org.apache.spark.sql.functions.lit(words))
  def minhashSig(sh: Column): Column = call_function("graft_minhash_sig", sh)
  def winnow(text: Column): Column = call_function("graft_winnow", text)
  def termCounts(text: Column): Column =
    call_function("graft_term_counts", text)
  def bigramCounts(text: Column): Column =
    call_function("graft_bigram_counts", text)
  def topBigram(text: Column): Column =
    call_function("graft_top_bigram", text)
  /** Merge-table-driven BPE encode with the table as constant literals —
    * the production-table-size path (see [[GraftBpeEncode]]). */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_encode", word,
      org.apache.spark.sql.functions.lit(
        merges.map { case (a, b) => a + " " + b }.toArray),
      org.apache.spark.sql.functions.lit(
        merges.map { case (a, b) => a + b }.toArray))
  /** BPE decode — the table-free inverse (see [[GraftBpeDecode]]). */
  def bpeDecode(enc: Column): Column =
    call_function("graft_bpe_decode", enc)
}
