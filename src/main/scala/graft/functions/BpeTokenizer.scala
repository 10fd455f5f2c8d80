package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer TRAINING — the merge
  * table every LLM pretraining pipeline learns before it can count a
  * single token (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units"). The reference has no tokenizer
  * surface; this is a builder-prompt first-class LLM-pipeline addition
  * alongside dedup/sharding/mixture.
  *
  * Algorithm, re-shaped for Spark:
  *  1. ONE corpus-sized pass builds the eligible-word frequency table
  *    (normalize → space-split → filter `^[a-z]+$`, length ≤
  *    `maxWordLen` → hash-groupBy). Everything after is VOCAB-sized —
  *    at 100 TB the corpus scan happens exactly once, and the iterations
  *    run over ≤ tens of millions of (word, freq, symbols) rows.
  *  2. Each of the `numMerges` rounds: adjacent symbol pairs expand via
  *    a map-only HOF (transform over indices → explode), pair weights
  *    aggregate with map-side partial combine, and the single best pair
  *    comes back through a TakeOrdered(1) — weight desc, then (lhs, rhs)
  *    asc, a total order both engines share, so training is
  *    deterministic and partition-invariant.
  *  3. The merge applies distributively as an `aggregate` fold over each
  *    word's symbol array (left-to-right non-overlapping — a freshly
  *    merged symbol is strictly longer than `lhs`, so a forward fold is
  *    exact), and the vocab frame re-materializes via localCheckpoint to
  *    keep lineage flat across rounds.
  *
  * Driver state per round: ONE collected row (the best pair). No corpus
  * data ever reaches the driver.
  *
  * Word eligibility is deliberately `[a-z]+` on NORMALIZED text: it
  * makes character segmentation engine-portable (no multi-byte
  * grapheme ambiguity), which is what lets the whole trainer replay as
  * a DuckDB oracle (see TextQueries.bpeStagesSql).
  */
object BpeTokenizer {

  /** One learned merge: rank (1-based), the pair, and its corpus weight
    * at merge time.
    */
  final case class BpeMerge(rank: Int, lhs: String, rhs: String, pairCount: Long)

  /** Eligible-word frequency table: the trainer's only corpus-sized
    * stage. Widened so the regex-dense tokenize stage never runs on a
    * one-file scan's single task.
    */
  private[graft] def wordFrequencies(
      df: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    Dedup.widenForCompute(df)
      .select(explode(split(TextOps.normalizeText(col(textCol)), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbol state of `word`: its characters plus the `</w>`
    * terminal marker. Shared by the BPE and WordPiece trainers.
    */
  private[graft] def charSyms: Column = {
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    concat(chars, array(lit("</w>")))
  }

  /** Adjacent symbol pairs of a symbol array (empty below 2 symbols). */
  private[graft] def adjacentPairs(syms: Column): Column =
    when(size(syms) < 2, array().cast("array<struct<lhs:string,rhs:string>>"))
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        j => struct(element_at(syms, j).as("lhs"), element_at(syms, j + 1).as("rhs"))))

  /** Apply a batch of pairwise symbol-disjoint merges to a symbol array
    * in ONE left-to-right non-overlapping fold (a freshly merged symbol
    * is strictly longer than any `lhs` in the batch, so a forward fold
    * is exact — see [[graft.plans.BpeEncodeExpr]].applyMerge for the
    * proof). Shared by the BPE and WordPiece trainers.
    */
  private[graft] def foldMerges(syms: Column, picked: Seq[(String, String)]): Column = {
    val mergeHit = (acc: Column, x: Column) =>
      picked.foldLeft(lit(null).cast("string")) { case (els, (a, b)) =>
        when(element_at(acc, -1) === lit(a) && x === lit(b), lit(a + b))
          .otherwise(els)
      }
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      array(element_at(syms, 1)),
      (acc, x) => {
        val hit = mergeHit(acc, x)
        when(hit.isNotNull,
            concat(slice(acc, lit(1), size(acc) - 1), array(hit)))
          .otherwise(concat(acc, array(x)))
      })
  }

  /** Train `numMerges` merges; returns the merge table
    * (rank, lhs, rhs, merged, pair_count) ordered by rank. Stops early
    * when no remaining pair reaches `minPairFreq`.
    */
  def bpeTrain(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairFreq: Long = 2L,
      maxWordLen: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainMerges(df, textCol, numMerges, minPairFreq, maxWordLen)
      .map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCount))
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** [[bpeTrain]] returning the driver-side merge list (rank order) —
    * the form [[bpeEncode]] folds into its plan.
    *
    * `mergesPerRound` is the 100 TB scale knob: sequential BPE costs one
    * Spark job per merge (a 32k-merge production vocab = 32k rounds), so
    * the batched mode selects up to `mergesPerRound` SYMBOL-DISJOINT
    * pairs per round (greedy in the same weight-desc/lhs/rhs order; a
    * pair is skipped when either symbol was touched by an earlier pick
    * this round) and applies them in ONE fold pass — disjointness makes
    * the batch's folds independent, so the pass is order-free and each
    * recorded pair_count is its true pre-round weight. With
    * `mergesPerRound = 1` this IS canonical sequential BPE (the oracle
    * replays it exactly); larger values trade the classic parallel-BPE
    * fidelity margin (later picks in a round ignore the counts-shift
    * from earlier ones) for a ~`mergesPerRound`× cut in rounds.
    */
  def trainMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairFreq: Long = 2L,
      maxWordLen: Int = 32,
      mergesPerRound: Int = 1): Seq[BpeMerge] = {
    require(numMerges >= 1, "numMerges must be positive")
    require(minPairFreq >= 1, "minPairFreq must be positive")
    require(mergesPerRound >= 1, "mergesPerRound must be positive")
    val syms = col("syms")
    var words = wordFrequencies(df, textCol, maxWordLen)
      .select(col("freq"), charSyms.as("syms"))
      .localCheckpoint(true) // the one corpus-sized stage ends here
    val pairsOf = adjacentPairs(syms)
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var done = false
    while (merges.length < numMerges && !done) {
      // oversample 4x: disjointness filtering drops overlapping picks
      val want = math.min(mergesPerRound, numMerges - merges.length)
      val top = words.select(col("freq"), explode(pairsOf).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("w"))
        .filter(col("w") >= minPairFreq)
        .orderBy(col("w").desc, col("lhs").asc, col("rhs").asc)
        .limit(if (want == 1) 1 else want * 4)
        .collect()
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        val picked = top.iterator
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .filter { case (a, b, _) =>
            if (used(a) || used(b)) false
            else { used += a; used += b; true }
          }
          .take(want).toSeq
        // ONE fold pass applies every pick: symbols are pairwise
        // disjoint, so at most one branch matches at any position and
        // the fold order is immaterial
        val folded = foldMerges(syms, picked.map { case (a, b, _) => (a, b) })
        words = words.select(col("freq"), folded.as("syms")).localCheckpoint(true)
        picked.foreach { case (a, b, w) =>
          merges += BpeMerge(merges.length + 1, a, b, w)
        }
      }
    }
    merges.toSeq
  }

  /** Serialized merge table for [[graft.plans.GraftFunctions.bpeEncode]]: one
    * `lhs<SP>rhs` line per merge, rank order (symbols never contain
    * spaces — eligible words are `[a-z]+` and the marker is `</w>`).
    */
  def mergesSpec(merges: Seq[BpeMerge]): String =
    merges.map(m => s"${m.lhs} ${m.rhs}").mkString("\n")

  /** Piece vocabulary induced by a merge table: every merged piece, the
    * 26 base characters, and the terminal marker — the vocabulary the
    * greedy (WordPiece-inference-style) segmenter matches against.
    */
  def vocabFromMerges(merges: Seq[BpeMerge]): Seq[String] =
    (merges.map(m => m.lhs + m.rhs) ++ ('a' to 'z').map(_.toString) :+ "</w>").distinct

  /** Greedy longest-match segmentation against an explicit piece
    * vocabulary (WordPiece/SentencePiece inference mode) via the native
    * codegen'd [[graft.plans.GreedyPieceEncodeExpr]] — map-only, no
    * shuffle. Output: keyCol, tokens, n_tokens.
    */
  def pieceEncode(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      vocab: Seq[String],
      maxWordLen: Int = 32): DataFrame = {
    require(vocab.nonEmpty, "piece vocabulary must be non-empty")
    require(vocab.forall(p => p.nonEmpty && !p.contains("\n") && !p.contains(" ")),
      "pieces must be non-empty and free of newlines/spaces")
    // The segmenter appends the literal word-end marker "</w>" to every
    // word before matching; a user vocabulary that lacks it (anything not
    // produced by vocabFromMerges) would otherwise emit "<","/","w",">"
    // as four single-char fallbacks per word. Guarantee it here, exactly
    // as vocabFromMerges does.
    val fullVocab = if (vocab.contains("</w>")) vocab else vocab :+ "</w>"
    val toks = GraftFunctions.pieceEncode(
      TextOps.normalizeText(col(textCol)), fullVocab.mkString("\n"), maxWordLen)
    df.select(col(keyCol), toks.as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** Apply a trained merge table: tokens per document via the native
    * codegen'd [[graft.plans.BpeEncodeExpr]] — map-only, no shuffle, no
    * driver state beyond the few-KB merge constant in the plan.
    * Output: keyCol, tokens (array), n_tokens.
    */
  def bpeEncode(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      merges: Seq[BpeMerge],
      maxWordLen: Int = 32): DataFrame = {
    val toks = GraftFunctions.bpeEncode(
      TextOps.normalizeText(col(textCol)), mergesSpec(merges), maxWordLen)
    df.select(col(keyCol), toks.as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }
}
