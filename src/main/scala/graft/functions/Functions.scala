package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CanonicalJson, JsonFlattener, Ksuid, XxHash3}

/** xxh3_64(str, seed) as a native Catalyst expression with codegen —
  * stays inside WholeStageCodegen (no UDF boxing): the generated code
  * is a static call on raw UTF8 bytes (reference semantics:
  * xxhash.xxh3_64_intdigest; SURVEY §2.10/F4).
  */
case class Xxh3Expression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"xxh3_64 expects (STRING, BIGINT), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = LongType
  override def prettyName: String = "xxh3_64"

  override protected def nullSafeEval(str: Any, seed: Any): Any =
    XxHash3.hash(str.asInstanceOf[UTF8String].getBytes, seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, seed) =>
      s"graft.core.XxHash3.hash($s.getBytes(), $seed)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session-level registration of the engine's scalar functions so
  * they are usable from both the DataFrame API and `spark.sql`
  * (SURVEY §2.10): ksuid_timestamp / is_valid_ksuid (F3/P8),
  * xxh3_64 (F4, native codegen), to_sorted_json / wrap_primitive_json
  * (F1/F2), flatten_json (F5).
  */
object Functions {

  /** One native SQL function: its name, the expression class it
    * builds, and the builder Spark's function registry calls.
    */
  final case class Native(name: String, cls: Class[_ <: Expression],
      builder: Seq[Expression] => Expression)

  /** The native SQL functions — ONE list that [[register]] and
    * `graft.GraftExtensions` both iterate, so the two registration
    * paths can never drift.
    */
  val natives: Seq[Native] = Seq(
    Native("xxh3_64", classOf[Xxh3Expression], xxh3Builder),
    Native("array_cosine", classOf[ArrayCosineExpression], cosineBuilder),
    Native("adc_score", classOf[AdcScoreExpression], adcBuilder),
    Native("ksuid_timestamp", classOf[KsuidTimestampExpression], ksuidTimestampBuilder),
    Native("ksuid_basic_iso", classOf[KsuidBasicIsoExpression], ksuidBasicIsoBuilder),
    Native("flatten_features", classOf[FlattenJsonExpression], flattenFeaturesBuilder),
    Native("winnow_fps", classOf[WinnowExpression], winnowFpsBuilder))

  def xxh3Builder(args: Seq[Expression]): Expression = {
    require(args.length == 1 || args.length == 2, "xxh3_64(str[, seed])")
    // coerce integer seed literals — the natural SQL spelling is
    // xxh3_64(s, 42), and 42 parses as INT
    val seed = if (args.length == 2)
      org.apache.spark.sql.catalyst.expressions.Cast(args(1), LongType)
    else org.apache.spark.sql.catalyst.expressions.Literal(0L)
    Xxh3Expression(args.head, seed)
  }

  /** array_cosine(a, b) — native single-pass cosine (VectorExpressions). */
  def cosineBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "array_cosine(a, b)")
    ArrayCosineExpression(args(0), args(1))
  }

  /** adc_score(code, table, codes_per_sub) — native PQ ADC lookup. */
  def adcBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "adc_score(code, table, codes_per_sub)")
    AdcScoreExpression(args(0), args(1),
      org.apache.spark.sql.catalyst.expressions.Cast(args(2), IntegerType))
  }

  /** ksuid_timestamp(id) — native limb-arithmetic KSUID decode. */
  def ksuidTimestampBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "ksuid_timestamp(id)")
    KsuidTimestampExpression(args.head)
  }

  /** ksuid_basic_iso(id) — partition-store timestamp rendering. */
  def ksuidBasicIsoBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "ksuid_basic_iso(id)")
    KsuidBasicIsoExpression(args.head)
  }

  /** flatten_features(item, context) — native feature-flatten struct. */
  def flattenFeaturesBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "flatten_features(item, context)")
    FlattenJsonExpression(args(0), args(1))
  }

  /** winnow_fps(text[, k, w]) — native MOSS winnowing fingerprints
    * (defaults k=5, w=4, the near-dup pipeline's parameters). k and w
    * must be foldable: they parameterize the expression itself.
    */
  def winnowFpsBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1 || args.length == 3, "winnow_fps(text[, k, w])")
    def intArg(e: Expression, name: String): Int = e match {
      case lit if lit.foldable =>
        lit.eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"winnow_fps: $name must be an integer literal, got $other")
        }
      case _ => throw new IllegalArgumentException(
        s"winnow_fps: $name must be a literal")
    }
    val (k, w) =
      if (args.length == 3) (intArg(args(1), "k"), intArg(args(2), "w"))
      else (5, 4)
    require(k >= 1 && w >= 1, s"winnow_fps: k and w must be >= 1 ($k, $w)")
    WinnowExpression(args.head, k, w)
  }

  def register(spark: SparkSession): Unit = {
    // native expressions via the function registry (not UDFs)
    natives.foreach(n => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(n.name, n.builder, "scala_udf"))

    spark.udf.register("is_valid_ksuid",
      (id: String, nowEpochSeconds: Long) => Ksuid.isValid(id, nowEpochSeconds))
    spark.udf.register("to_sorted_json",
      (json: String) => CanonicalJson.tryParse(json).map(CanonicalJson.dumps).orNull)
    spark.udf.register("wrap_primitive_json",
      (json: String) =>
        CanonicalJson.tryParse(json).map(CanonicalJson.dumpsWrappingPrimitive).orNull)
    spark.udf.register("flatten_json",
      (json: String, root: String) =>
        JsonFlattener.flatten(json, root).map {
          // orjson-style rendering (not Double.toString, whose
          // scientific-notation threshold is 1e7 vs orjson's 1e16) so
          // the SQL surface matches the reference flattener's strings
          case (k, graft.core.FlatValue.Num(v)) => k -> CanonicalJson.formatDouble(v)
          case (k, graft.core.FlatValue.Str(v)) => k -> v
        }.toMap)
  }
}
