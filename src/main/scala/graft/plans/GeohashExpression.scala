package graft.plans

import graft.functions.Geo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for geohash encoding — stays inside
  * whole-stage codegen (a Scala UDF here would break the codegen span of
  * any projection it appears in). The generated code calls the static
  * encoder; null handling comes from TernaryExpression's null-safe
  * wrapper.
  *
  * The reference exposes geohash via a Python UDF over the `geohash2`
  * lib (ref: geospatial.py:333, geo_utils.py:51); this is the
  * expression-level equivalent. Register with `GraftFunctions.register`
  * and call as SQL `geohash_encode(lat, lon, precision)`.
  */
case class GeohashEncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "geohash_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = first.dataType == DoubleType && second.dataType == DoubleType &&
      third.dataType == IntegerType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"geohash_encode expects (double, double, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }

  override protected def nullSafeEval(lat: Any, lon: Any, precision: Any): Any =
    UTF8String.fromString(Geo.geohashEncode(
      lat.asInstanceOf[Double], lon.asInstanceOf[Double], precision.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, p) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.GeohashEncodeExpr.encode($lat, $lon, $p))")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object GeohashEncodeExpr {
  /** Static entry point referenced by the generated code. */
  def encode(lat: Double, lon: Double, precision: Int): String =
    Geo.geohashEncode(lat, lon, precision)
}

/** Session-level registration of graft's native SQL functions. The ONE
  * builder table drives both [[GraftFunctions.register]] (in-process
  * sessions) and [[GraftExtensions]] (cluster-wide
  * `spark.sql.extensions`) — a new native function added here is
  * automatically available through both paths.
  */
object GraftFunctions {
  private[plans] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("geohash_encode", classOf[GeohashEncodeExpr],
        exprs => GeohashEncodeExpr(exprs(0), exprs(1), exprs(2))),
      ("md5_prefix60", classOf[Md5Prefix60Expr],
        exprs => Md5Prefix60Expr(exprs.head)),
      ("simhash_votes", classOf[SimHashVoteAgg],
        exprs => SimHashVoteAgg(exprs.head, bits = 60).toAggregateExpression()),
      ("jaro_winkler", classOf[JaroWinklerExpr],
        exprs => JaroWinklerExpr(exprs(0), exprs(1))),
      ("misra_gries", classOf[MisraGriesAgg],
        exprs => MisraGriesAgg(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()),
      ("bounded_collect_long", classOf[BoundedCollectLongAgg],
        exprs => BoundedCollectLongAgg(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()),
      ("bounded_topk_long", classOf[BoundedTopKLongAgg],
        exprs => BoundedTopKLongAgg(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()),
      ("bpe_encode", classOf[BpeEncodeExpr],
        exprs => BpeEncodeExpr(exprs(0),
          Option(exprs(1).eval()).map(_.toString).getOrElse(""),
          exprs(2).eval().asInstanceOf[Number].intValue())),
      ("piece_encode", classOf[GreedyPieceEncodeExpr],
        exprs => GreedyPieceEncodeExpr(exprs(0),
          Option(exprs(1).eval()).map(_.toString).getOrElse(""),
          exprs(2).eval().asInstanceOf[Number].intValue())),
      ("unigram_viterbi", classOf[UnigramViterbiExpr],
        exprs => UnigramViterbiExpr(exprs(0),
          Option(exprs(1).eval()).map(_.toString).getOrElse(""))),
      ("psl_suffix_len", classOf[PslSuffixLenExpr],
        exprs => PslSuffixLenExpr(exprs.head)))

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
}

/** SparkSessionExtensions hook — enables
  * `spark.sql.extensions=graft.plans.GraftExtensions` so every graft
  * native function exists in every session (and every thrift/connect
  * client) of a cluster without manual registration. Injects the same
  * builder table as [[GraftFunctions.register]].
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, clazz, b) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(clazz.getName, name),
        b))
    }
}
