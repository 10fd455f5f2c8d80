package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE segmentation: applies a TRAINED merge table (see
  * [[graft.functions.BpeTokenizer.bpeTrain]]) to normalized text,
  * returning the token array. The classic Sennrich-2016 encode rule:
  * per word, start from characters plus a terminal `</w>` marker and
  * apply each learned merge in rank order, replacing adjacent pairs
  * left-to-right non-overlapping. Words outside the trainer's eligible
  * set (non-`[a-z]+`, or longer than `maxWordLen`) pass through as a
  * single verbatim token.
  *
  * Shape: a scalar expression (stays inside whole-stage codegen — the
  * generated code calls [[encodeText]] on the expression instance via a
  * codegen reference), so encoding a 100 TB corpus is a pure map-only
  * projection with no shuffle and no driver state. A bounded
  * per-instance word→tokens memo makes the per-word cost amortize to a
  * hash probe on natural (Zipfian) corpora; the merge table itself is a
  * few-KB constant folded into the plan.
  *
  * `mergesSpec` is the serialized merge table — one merge per line,
  * `left<SP>right`, in rank order (symbols never contain spaces: words
  * are `[a-z]+` and the marker is `</w>`), passed as a constructor
  * argument by `GraftFunctions.bpeEncode(text, merges, maxWordLen)`, or
  * as a foldable literal through the `bpe_encode` SQL builder.
  */
case class BpeEncodeExpr(child: Expression, mergesSpec: String, maxWordLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_encode expects a string column, got ${child.dataType}")

  @transient private lazy val merges: Array[(String, String)] =
    mergesSpec.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val sp = line.indexOf(' ')
      require(sp > 0 && sp < line.length - 1, s"bad merge line '$line'")
      (line.substring(0, sp), line.substring(sp + 1))
    }.toArray

  /** Word memo, bounded so an adversarial unique-word stream can't grow
    * it past ~64k entries (beyond the bound every word still encodes,
    * just uncached).
    */
  @transient private lazy val cache = new ConcurrentHashMap[String, Array[UTF8String]]()
  private val cacheCap = 1 << 16

  private def eligible(w: String): Boolean =
    w.nonEmpty && w.length <= maxWordLen && w.forall(c => c >= 'a' && c <= 'z')

  /** Left-to-right non-overlapping replacement of adjacent (a, b) with
    * a+b. A single forward fold is exact: a freshly merged symbol is
    * strictly longer than `a`, so it can never re-match as the `a` of an
    * overlapping occurrence.
    */
  private def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == a && syms(i) == b)
        out(out.length - 1) = a + b
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  private def encodeWord(w: String): Array[UTF8String] = {
    val hit = cache.get(w)
    if (hit != null) return hit
    val toks =
      if (!eligible(w)) Array(UTF8String.fromString(w))
      else {
        var syms = new Array[String](w.length + 1)
        var i = 0
        while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
        syms(w.length) = "</w>"
        var m = 0
        while (m < merges.length && syms.length > 1) {
          syms = applyMerge(syms, merges(m)._1, merges(m)._2)
          m += 1
        }
        syms.map(UTF8String.fromString)
      }
    if (cache.size < cacheCap) cache.put(w, toks)
    toks
  }

  /** Instance entry point shared by eval and the generated code. */
  def encodeText(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length * 2)
    var i = 0
    while (i < words.length) { out ++= encodeWord(words(i)); i += 1 }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def nullSafeEval(input: Any): Any =
    encodeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this, classOf[BpeEncodeExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encodeText($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Greedy longest-match piece segmentation — the WordPiece/SentencePiece
  * INFERENCE rule over any supplied vocabulary (BPE-derived pieces, a
  * frequency top-V, a shipped production vocab): per word, repeatedly
  * take the longest vocabulary piece prefixing the remainder, falling
  * back to a single character when nothing matches (total, deterministic
  * — no unk collapse, so the output always round-trips to the input).
  * Same word scheme as [[BpeEncodeExpr]]: eligible `[a-z]+` words get a
  * terminal `</w>` before segmentation; everything else passes through
  * as one verbatim token.
  *
  * Same shape economics too: a scalar codegen'd expression (map-only, no
  * shuffle) with the vocabulary folded in as a plan constant and a
  * bounded word memo; matching cost is O(len · maxPieceLen) per uncached
  * word via a per-length hash probe, not a vocab scan.
  *
  * `vocabSpec` = newline-separated pieces, built by
  * `GraftFunctions.pieceEncode(text, vocab, maxWordLen)`.
  */
case class GreedyPieceEncodeExpr(child: Expression, vocabSpec: String, maxWordLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "piece_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"piece_encode expects a string column, got ${child.dataType}")

  @transient private lazy val vocab: Set[String] =
    vocabSpec.split("\n").iterator.filter(_.nonEmpty).toSet
  @transient private lazy val maxPieceLen: Int =
    if (vocab.isEmpty) 1 else vocab.iterator.map(_.length).max

  @transient private lazy val cache = new ConcurrentHashMap[String, Array[UTF8String]]()
  private val cacheCap = 1 << 16

  private def eligible(w: String): Boolean =
    w.nonEmpty && w.length <= maxWordLen && w.forall(c => c >= 'a' && c <= 'z')

  private def encodeWord(w: String): Array[UTF8String] = {
    val hit = cache.get(w)
    if (hit != null) return hit
    val toks =
      if (!eligible(w)) Array(UTF8String.fromString(w))
      else {
        val s = w + "</w>"
        val out = new scala.collection.mutable.ArrayBuffer[String](4)
        var i = 0
        while (i < s.length) {
          var len = math.min(maxPieceLen, s.length - i)
          while (len > 1 && !vocab.contains(s.substring(i, i + len))) len -= 1
          // len == 1 is the unconditional single-char fallback: it keeps
          // segmentation total (and lossless) even for a vocabulary
          // missing some character
          out += s.substring(i, i + len)
          i += len
        }
        out.toArray.map(UTF8String.fromString)
      }
    if (cache.size < cacheCap) cache.put(w, toks)
    toks
  }

  /** Instance entry point shared by eval and the generated code. */
  def encodeText(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length * 2)
    var i = 0
    while (i < words.length) { out ++= encodeWord(words(i)); i += 1 }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def nullSafeEval(input: Any): Any =
    encodeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("piece", this, classOf[GreedyPieceEncodeExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encodeText($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
