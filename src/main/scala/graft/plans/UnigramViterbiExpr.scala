package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi (max-probability) segmentation of ONE word under a unigram
  * piece model — the E-step workhorse of the SentencePiece-style
  * unigram trainer ([[graft.functions.UnigramTokenizer]], after Kudo
  * 2018, "Subword Regularization"). Returns the best-scoring piece
  * sequence, or NULL when no vocabulary segmentation covers the word
  * (the trainer skips such words — both engines identically).
  *
  * DP contract, shared verbatim with the DuckDB oracle's unrolled
  * replay (TextQueries.unigramStagesSql): score(0) = 0;
  * score(i) = max over j of score(j) + logp(word[j..i)) for
  * vocabulary pieces; ties on score pick the SMALLEST j (= the longest
  * final piece). Every candidate score is one double addition over
  * inputs both engines share bit-exactly, so the argmax chain — and
  * therefore the emitted pieces — are engine-identical.
  *
  * Shape economics as [[BpeEncodeExpr]]: scalar codegen'd expression,
  * vocabulary folded into the plan as a constant (`piece<SP>logp`
  * lines, built by `GraftFunctions.unigramViterbi(word, spec)`),
  * bounded per-instance word memo.
  */
case class UnigramViterbiExpr(child: Expression, vocabSpec: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_viterbi"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"unigram_viterbi expects a string column, got ${child.dataType}")

  @transient private lazy val vocab: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    vocabSpec.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
      val sp = line.indexOf(' ')
      require(sp > 0 && sp < line.length - 1, s"bad vocab line '$line'")
      m.put(line.substring(0, sp),
        java.lang.Double.valueOf(line.substring(sp + 1)))
    }
    m
  }
  @transient private lazy val maxPieceLen: Int = {
    var mx = 1
    vocab.keySet.forEach(p => mx = math.max(mx, p.length))
    mx
  }

  // word memo; a null (unsegmentable) result memoizes as the shared
  // zero-length sentinel so it never recomputes either
  @transient private lazy val cache = new ConcurrentHashMap[String, AnyRef]()
  private val cacheCap = 1 << 16
  @transient private lazy val NoPath: AnyRef = new Array[UTF8String](0)

  private def segmentWord(w: String): Array[UTF8String] = {
    val n = w.length
    if (n == 0) return Array.empty
    val score = new Array[Double](n + 1)
    val reached = new Array[Boolean](n + 1)
    val prev = new Array[Int](n + 1)
    reached(0) = true
    var i = 1
    while (i <= n) {
      var bestJ = -1
      var best = 0.0
      var j = math.max(0, i - maxPieceLen)
      // j ascending with a strict > keeps the SMALLEST j on score ties —
      // the longest final piece, same rule as the oracle's
      // (score DESC, prev ASC) row_number
      while (j < i) {
        if (reached(j)) {
          val lp = vocab.get(w.substring(j, i))
          if (lp != null) {
            val s = score(j) + lp.doubleValue()
            if (bestJ < 0 || s > best) { best = s; bestJ = j }
          }
        }
        j += 1
      }
      if (bestJ >= 0) { reached(i) = true; score(i) = best; prev(i) = bestJ }
      i += 1
    }
    if (!reached(n)) return null
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](4)
    var pos = n
    while (pos > 0) {
      out += UTF8String.fromString(w.substring(prev(pos), pos))
      pos = prev(pos)
    }
    out.reverse.toArray
  }

  /** Instance entry point shared by eval and the generated code; null =
    * no segmentation exists.
    */
  def segment(word: UTF8String): ArrayData = {
    val w = word.toString
    val hit = cache.get(w)
    if (hit != null) {
      if (hit.asInstanceOf[AnyRef] eq NoPath) return null
      return new GenericArrayData(hit.asInstanceOf[Array[UTF8String]].toArray[Any])
    }
    val toks = segmentWord(w)
    if (cache.size < cacheCap) cache.put(w, if (toks == null) NoPath else toks)
    if (toks == null) null else new GenericArrayData(toks.toArray[Any])
  }

  override protected def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("viterbi", this, classOf[UnigramViterbiExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.segment($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
