package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer TRAINING (SentencePiece's unigram
  * mode — Kudo 2018, "Subword Regularization"), completing the
  * tokenizer family next to [[BpeTokenizer]] (the reference has no
  * tokenizer surface; builder-prompt LLM-pipeline addition).
  *
  * Algorithm, re-shaped for Spark with the same one-corpus-pass
  * contract as `BpeTokenizer.trainMerges`:
  *  1. ONE corpus-sized pass builds the eligible-word frequency table
  *     (the shared `wordFrequencies` stage: normalize → split →
  *     `^[a-z]+$`, length ≤ maxWordLen → hash-groupBy). Everything
  *     after is VOCAB-sized.
  *  2. SEED vocabulary: every substring (length ≤ maxPieceLen) of every
  *     distinct word, weighted by word frequency (map-only HOF explode
  *     + one hash-groupBy over the word table); keep pieces above
  *     `minSeedCount` (single chars always qualify), capped to the top
  *     `seedSize` by (count desc, piece asc) via TakeOrdered. Seed
  *     log-probs from relative frequencies, rounded to 6 dp.
  *  3. Each of the `rounds` Viterbi-EM rounds: (E) every word segments
  *     by max-probability DP under the current model — the native
  *     codegen'd [[graft.plans.UnigramViterbiExpr]], vocabulary folded
  *     into the plan as a constant; piece counts aggregate with
  *     map-side partial combine, weighted by word frequency
  *     (a word with no covering segmentation is skipped). (M + prune)
  *     keep the top `vocabSize` pieces by (count desc, piece asc) and
  *     re-estimate log-probs over the kept mass.
  *
  * Viterbi instead of full forward-backward is SentencePiece's own hard-
  * EM option; with the deterministic tie rule (score ties pick the
  * longest final piece) every round is partition-invariant and replays
  * cell-exactly in DuckDB (TextQueries.unigramStagesSql — the bpeStages
  * idiom). Driver state per round: one vocabSize-row collect. Inference
  * over a trained vocab: `BpeTokenizer.pieceEncode` (greedy), or
  * `unigram_viterbi` itself for max-probability segmentation.
  */
object UnigramTokenizer {

  /** One vocabulary piece: rank (1-based, count-desc order), the piece,
    * its expected count from the final E-step, and its log-prob.
    */
  final case class UnigramPiece(rank: Long, piece: String, n: Long, logp: Double)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train a unigram piece vocabulary; returns the final pieces in
    * (count desc, piece asc) order. Deterministic for fixed knobs.
    */
  def trainUnigram(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      rounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 10,
      minSeedCount: Long = 3L,
      seedSize: Int = 300): Seq[UnigramPiece] = {
    require(vocabSize >= 1, "vocabSize must be positive")
    require(rounds >= 1, "rounds must be positive")
    require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
      "need 1 <= maxPieceLen <= maxWordLen")
    // the one corpus-sized stage; reused by every round
    val words = BpeTokenizer.wordFrequencies(df, textCol, maxWordLen)
      .localCheckpoint(true)
    // seed: all substrings up to maxPieceLen, weighted by word freq
    val subs = flatten(transform(sequence(lit(1), length(col("word"))),
      i => transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
        l => col("word").substr(i, l))))
    val seed = words
      .select(col("freq"), explode(subs).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .filter(col("cnt") >= minSeedCount || length(col("piece")) === 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(seedSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(seed.nonEmpty, "empty corpus: no seed pieces")
    def withLogp(pieces: Seq[(String, Long)]): Seq[(String, Long, Double)] = {
      val total = pieces.iterator.map(_._2).sum.toDouble
      pieces.map { case (p, c) => (p, c, round6(math.log(c / total))) }
    }
    var vocab: Seq[(String, Long, Double)] = withLogp(seed)
    for (_ <- 1 to rounds) {
      // full-precision doubles through the spec literal: Double.toString
      // round-trips bit-exactly, so the plan constant IS the model
      val spec = vocab.map { case (p, _, lp) => s"$p $lp" }.mkString("\n")
      val counts = words
        .select(col("freq"),
          explode(GraftFunctions.unigramViterbi(col("word"), spec))
            .as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("piece").asc)
        .limit(vocabSize)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(counts.nonEmpty, "E-step produced no pieces")
      vocab = withLogp(counts)
    }
    vocab.zipWithIndex.map { case ((p, c, lp), i) =>
      UnigramPiece(i + 1L, p, c, lp)
    }
  }

  /** Max-probability (Viterbi) segmentation of full documents under a
    * trained unigram model — the inference counterpart of
    * [[trainUnigram]] (greedy inference lives in
    * `BpeTokenizer.pieceEncode`). Map-only, no shuffle: the model folds
    * into the plan as a constant and every eligible word (same
    * `[a-z]+`, length ≤ maxWordLen scheme as training) segments via
    * [[graft.plans.UnigramViterbiExpr]]; ineligible or unsegmentable
    * words pass through as one verbatim token, so the stream always
    * round-trips. Output: keyCol, tokens, n_tokens.
    */
  /** The token-array Column under a trained model. */
  def unigramTokens(
      textCol: org.apache.spark.sql.Column,
      vocab: Seq[UnigramPiece],
      maxWordLen: Int = 10): org.apache.spark.sql.Column = {
    require(vocab.nonEmpty, "unigram vocabulary must be non-empty")
    val spec = vocab.map(p => s"${p.piece} ${p.logp}").mkString("\n")
    flatten(transform(
      split(TextOps.normalizeText(textCol), " "),
      w => when(w.rlike("^[a-z]+$") && length(w) <= maxWordLen,
          coalesce(GraftFunctions.unigramViterbi(w, spec), array(w)))
        .otherwise(array(w))))
  }

  def unigramEncode(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      vocab: Seq[UnigramPiece],
      maxWordLen: Int = 10): DataFrame = {
    df.select(col(keyCol),
        unigramTokens(col(textCol), vocab, maxWordLen).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** [[trainUnigram]] as a DataFrame [rank, piece, n, logp] — the
    * queries()/oracle surface.
    */
  def unigramTrain(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      rounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 10,
      minSeedCount: Long = 3L,
      seedSize: Int = 300): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainUnigram(df, textCol, vocabSize, rounds, maxPieceLen, maxWordLen,
      minSeedCount, seedSize)
      .map(p => (p.rank, p.piece, p.n, p.logp))
      .toDF("rank", "piece", "n", "logp")
  }
}
