package graft.plans

import graft.functions.Geo
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
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
  * expression-level equivalent. Build it as a Column with
  * [[GraftFunctions.geohashEncode]], or call it from SQL text as
  * `geohash_encode(lat, lon, precision)` once it is in the session's
  * registry ([[GraftFunctions.register]] or [[GraftExtensions]]).
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

/** graft's native functions, two ways in:
  *  - typed Column constructors ([[md5Prefix60]], [[boundedTopKLong]], …)
  *    for the Scala API. Each wraps its Catalyst expression directly, so
  *    no session registry is read or written and column names reach the
  *    plan as names, never as SQL text;
  *  - ONE builder table for SQL text, which drives both [[register]]
  *    (in-process sessions) and [[GraftExtensions]] (cluster-wide
  *    `spark.sql.extensions`).
  * Both build the same expressions, so a plan is identical either way.
  */
object GraftFunctions {
  private def wrap(e: Expression): Column = GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = GraftColumnBridge.expression(c)

  def geohashEncode(lat: Column, lon: Column, precision: Int): Column =
    wrap(GeohashEncodeExpr(ex(lat), ex(lon), Literal(precision)))
  def md5Prefix60(bytes: Column): Column = wrap(Md5Prefix60Expr(ex(bytes)))
  def simhashVotes(hash: Column): Column =
    wrap(SimHashVoteAgg(ex(hash), bits = 60).toAggregateExpression())
  def jaroWinkler(a: Column, b: Column): Column = wrap(JaroWinklerExpr(ex(a), ex(b)))
  def misraGries(item: Column, k: Int): Column =
    wrap(MisraGriesAgg(ex(item), k).toAggregateExpression())
  def boundedCollectLong(c: Column, cap: Int): Column =
    wrap(BoundedCollectLongAgg(ex(c), cap).toAggregateExpression())
  def boundedTopKLong(c: Column, k: Int): Column =
    wrap(BoundedTopKLongAgg(ex(c), k).toAggregateExpression())
  def bpeEncode(text: Column, mergesSpec: String, maxWordLen: Int): Column =
    wrap(BpeEncodeExpr(ex(text), mergesSpec, maxWordLen))
  def pieceEncode(text: Column, vocabSpec: String, maxWordLen: Int): Column =
    wrap(GreedyPieceEncodeExpr(ex(text), vocabSpec, maxWordLen))
  def unigramViterbi(word: Column, vocabSpec: String): Column =
    wrap(UnigramViterbiExpr(ex(word), vocabSpec))
  def pslSuffixLen(host: Column): Column = wrap(PslSuffixLenExpr(ex(host)))

  /** The column named exactly `name`: dots, backticks and quotes are
    * part of the name, never parsed.
    */
  def exactCol(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** md5Prefix60 of the column's string form: the per-id hash behind
    * lowest-hash samples and [[md5Uniform]].
    */
  def stringHash(c: Column): Column = md5Prefix60(c.cast("string").cast("binary"))

  /** Salted key hash `md5_prefix60(concat(salt, ':', key))` over a
    * string `key`: the epoch-reproducible order of sharding and
    * per-domain quotas (batch and streaming).
    */
  def saltedKeyHash(salt: String, key: Column): Column =
    md5Prefix60(concat(lit(salt), lit(":"), key).cast("binary"))

  /** Joined-key hash `md5_prefix60(concat_ws(sep, cast(k as string)…,
    * tail…))` over the key columns named `keyCols` (by [[exactCol]]):
    * deterministic samples and imputation masks.
    */
  def joinedKeyHash(sep: String, keyCols: Seq[String], tail: Column*): Column =
    md5Prefix60(concat_ws(sep,
      keyCols.map(k => exactCol(k).cast("string")) ++ tail: _*).cast("binary"))

  /** `(stringHash(id) + 0.5) / 2^60`: a uniform in (0, 1) drawn from the
    * id's hash instead of an RNG.
    */
  def md5Uniform(id: Column): Column =
    (stringHash(id).cast("double") + lit(0.5)) / lit(math.pow(2.0, 60))

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def str(e: Expression): String = Option(e.eval()).map(_.toString).getOrElse("")

  /** SQL-name builders for [[register]] and [[GraftExtensions]]. */
  private[plans] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("geohash_encode", classOf[GeohashEncodeExpr], e => GeohashEncodeExpr(e(0), e(1), e(2))),
      ("md5_prefix60", classOf[Md5Prefix60Expr], e => Md5Prefix60Expr(e.head)),
      ("simhash_votes", classOf[SimHashVoteAgg],
        e => SimHashVoteAgg(e.head, bits = 60).toAggregateExpression()),
      ("jaro_winkler", classOf[JaroWinklerExpr], e => JaroWinklerExpr(e(0), e(1))),
      ("misra_gries", classOf[MisraGriesAgg],
        e => MisraGriesAgg(e(0), int(e(1))).toAggregateExpression()),
      ("bounded_collect_long", classOf[BoundedCollectLongAgg],
        e => BoundedCollectLongAgg(e(0), int(e(1))).toAggregateExpression()),
      ("bounded_topk_long", classOf[BoundedTopKLongAgg],
        e => BoundedTopKLongAgg(e(0), int(e(1))).toAggregateExpression()),
      ("bpe_encode", classOf[BpeEncodeExpr], e => BpeEncodeExpr(e(0), str(e(1)), int(e(2)))),
      ("piece_encode", classOf[GreedyPieceEncodeExpr],
        e => GreedyPieceEncodeExpr(e(0), str(e(1)), int(e(2)))),
      ("unigram_viterbi", classOf[UnigramViterbiExpr], e => UnigramViterbiExpr(e(0), str(e(1)))),
      ("psl_suffix_len", classOf[PslSuffixLenExpr], e => PslSuffixLenExpr(e.head)))

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
