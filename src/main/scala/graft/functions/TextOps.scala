package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: quality
  * scoring, token counting, language ID, fingerprinting. All pure
  * Catalyst expressions (regex + string built-ins) — codegen'd, no UDFs,
  * embarrassingly parallel at 100 TB.
  */
object TextOps {

  /** Canonical whitespace-token count (0 for blank). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword proxy: words + digits + punctuation runs counted
    * separately (a cheap deterministic stand-in for a real tokenizer's
    * token count).
    */
  def bpeishTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))))

  /** Normalized text: lowercase, collapse whitespace, trim. */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Driver-side twin of normalizeText for plain strings. */
  def normalizeTextString(s: String): String =
    s.trim.toLowerCase.replaceAll("\\s+", " ")

  /** Stable 128-bit document fingerprint over normalized text. */
  def fingerprint(text: Column): Column = md5(normalizeText(text).cast("binary"))

  /** Zipf-law fit over the corpus vocabulary: OLS slope of ln(frequency)
    * on ln(rank) for the top-`topV` terms (count desc, term asc — the
    * deterministic tie-break). Natural text slopes toward −1; a corpus
    * drifting far off is the classic symptom of boilerplate flooding or
    * template spam, which makes this a cheap corpus-health gate. The
    * vocabulary aggregation is token-bounded, the fit frame is exactly
    * `topV` rows, and the regression sums pre-round at 8 dp into DECIMAL
    * so the only cross-engine noise is the ln ulp under the final 4-dp
    * round (the PSI tolerance). Output:
    * (n_terms, slope, intercept, top_freq).
    */
  def zipfFit(df: DataFrame, textCol: String, topV: Int = 100): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(topV >= 2, "need at least 2 ranked terms")
    val vocab = df
      .select(explode(split(normalizeText(col(textCol)), " ")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__w").asc)
      .limit(topV)
    val fit = vocab
      .withColumn("__r", row_number().over(
        Window.orderBy(col("__f").desc, col("__w").asc)))
      .select(log(col("__r").cast(DoubleType)).as("__x"),
        log(col("__f").cast(DoubleType)).as("__y"))
    def decSum(c: Column): Column =
      sum(round(c, 8).cast(DecimalType(28, 8))).cast(DoubleType)
    fit.agg(
      count(lit(1)).as("n_terms"),
      decSum(col("__x")).as("__sx"),
      decSum(col("__y")).as("__sy"),
      decSum(col("__x") * col("__y")).as("__sxy"),
      decSum(col("__x") * col("__x")).as("__sxx"),
      max(exp(col("__y"))).as("__topf"))
      .select(
        col("n_terms"),
        // a 0/1-term vocabulary has no regression — null, not an ANSI
        // 0/0 crash
        when(col("n_terms") > 1,
          round((col("n_terms") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("n_terms") * col("__sxx") - col("__sx") * col("__sx")), 4)).as("slope"),
        when(col("n_terms") > 1,
          round((col("__sy") - ((col("n_terms") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("n_terms") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx")) /
            col("n_terms"), 4)).as("intercept"),
        round(col("__topf"), 0).cast("long").as("top_freq"))
  }

  private val punctRe = "[^\\p{L}\\p{N}\\s]"
  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this", "are", "was")

  /** Per-document quality metrics: chars, words, mean word length,
    * punctuation ratio, stopword ratio, uppercase ratio — the classic
    * C4/Gopher-style cheap filters.
    */
  def textStats(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val t = col(textCol)
    val words = tokenCount(t)
    val chars = length(t)
    // regex-dense, byte-light map stage: widen a one-file scan to session
    // parallelism (no-op for already-wide inputs — see widenForCompute)
    Dedup.widenForCompute(df).select(
      col(keyCol),
      chars.as("n_chars"),
      words.as("n_words"),
      round(
        when(words === 0, 0.0)
          .otherwise(length(regexp_replace(t, "\\s+", "")) * lit(1.0) / words), 4)
        .as("mean_word_len"),
      round(
        when(chars === 0, 0.0)
          .otherwise((chars - length(regexp_replace(t, punctRe, ""))) * lit(1.0) / chars), 4)
        .as("punct_ratio"),
      round(
        when(chars === 0, 0.0)
          .otherwise((chars - length(regexp_replace(t, "[A-Z]", ""))) * lit(1.0) / chars), 4)
        .as("upper_ratio"),
      round(stopwordRatio(t, defaultStopwords), 4).as("stopword_ratio"))
  }

  /** Evaluate `c` exactly once per row and hand it to `f` bound as a
    * lambda variable. Interpreted higher-order functions re-evaluate any
    * captured non-attribute subtree on every reference, so a body that
    * reads its input several times (or per element) must receive an
    * attribute-like binding, not the construction itself. A HOF's direct
    * child IS evaluated once — a 1-element array runs the lambda once
    * with `v` bound to the computed value.
    */
  private def once(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), v => f(v)), 1)

  /** Fraction of whitespace tokens that are stopwords (lowercased).
    * Tokenizes once per row ([[once]]); the body reads the array thrice.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    once(tokens(text)) { toks =>
      val stops = filter(toks, x => x.isin(stopwords: _*))
      when(size(toks) === 0, 0.0).otherwise(size(stops) * lit(1.0) / size(toks))
    }

  /** Whitespace token array of the normalized text. Materialize this
    * (e.g. `withColumn("toks", tokens(col("text")))`) before feeding it
    * to several gram-based signals so the regex tokenization runs once
    * per row, not once per signal.
    */
  def tokens(text: Column): Column = split(normalizeText(text), " ")

  /** Word n-gram array from a pre-tokenized column (n=1 is the tokens
    * themselves). Empty array for texts shorter than n tokens.
    */
  def ngramsFromTokens(toks: Column, n: Int): Column =
    if (n == 1) toks
    else when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Duplicate-gram fraction in [0,1]: 1 − |distinct| / |grams|.
    * O(m) per row over an already-built gram array.
    */
  def repetitionFromGrams(grams: Column): Column =
    when(size(grams) <= 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - size(array_distinct(grams)) * lit(1.0) / size(grams), 4))

  /** Fraction of gram occurrences taken by the single most frequent
    * gram, computed linearly: sort the array, then the top count is the
    * longest run of equal adjacent elements — one aggregate() pass over
    * the sorted array (O(m log m) per row), instead of the quadratic
    * "count each distinct gram against the whole array" formulation.
    */
  def topCoverageFromGrams(grams: Column): Column = {
    val topCount = aggregate(
      array_sort(grams),
      struct(
        lit(null).cast("string").as("prev"),
        lit(0).as("run"),
        lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        struct(
          x.as("prev"),
          run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    when(size(grams) <= 0, lit(0.0))
      .otherwise(round(topCount * lit(1.0) / size(grams), 4))
  }

  /** Duplicate word-n-gram fraction in [0,1]: 1 − |distinct n-grams| /
    * |n-grams| of the normalized text — the Gopher-style repetition
    * signal (n=1: repeated words; n=2/3: repeated phrases). Pure
    * map-only expression. When computing several n at once, materialize
    * [[tokens]] and use [[repetitionFromGrams]] to share tokenization.
    */
  def repetitionScore(text: Column, n: Int = 3): Column =
    once(tokens(text))(tk => once(ngramsFromTokens(tk, n))(repetitionFromGrams))

  /** Fraction of n-gram occurrences taken by the single most frequent
    * n-gram — the companion Gopher signal to [[repetitionScore]] (a doc
    * whose top bigram covers 20%+ of it is boilerplate). Linear sorted-run
    * algorithm via [[topCoverageFromGrams]]; map-only at any scale.
    */
  def topNgramCoverage(text: Column, n: Int = 2): Column =
    once(tokens(text))(tk => once(ngramsFromTokens(tk, n))(topCoverageFromGrams))

  /** Gopher's OTHER repetition family (Rae et al. 2021 Table A1):
    * fraction of characters contained in word n-grams that occur more
    * than once WITHIN the document. Frame-level because the per-doc
    * occurrence counts ride one explode + groupBy (two key-partitioned
    * shuffles on (doc, gram) / doc — scales with corpus size, never a
    * per-doc O(n²) lambda). Duplicate chars count every occurrence of a
    * repeated gram (the Dolma/RedPajama convention).
    * Output: [key, dup_ngram_char_frac].
    */
  def dupNgramCharFraction(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 2): DataFrame = {
    val grams = Dedup.shinglesAll(df, textCol, keyCol, n)
    grams
      .groupBy(col("key"), col("shingle"))
      .agg(count(lit(1)).as("cnt"), length(col("shingle")).as("len"))
      .groupBy("key")
      .agg(
        sum(when(col("cnt") > 1, col("cnt") * col("len")).otherwise(0L))
          .cast("long").as("dup_chars"),
        sum(col("cnt") * col("len")).cast("long").as("total_chars"))
      // the integer pair is the exact, engine-portable signal; the ratio
      // is derived convenience (a doc at sf0.1 landed EXACTLY on the
      // 1e-4 HALF_UP grid and Spark/DuckDB rounded it apart)
      .withColumn("dup_ngram_char_frac",
        round(col("dup_chars").cast("double") / col("total_chars"), 4))
  }

  /** Composite quality score in [0,1]: penalize extreme length, high
    * punctuation, zero stopwords (classic heuristics).
    */
  def qualityScore(text: Column): Column = {
    val words = tokenCount(text)
    val lenOk = when(words.between(10, 100000), 1.0).otherwise(0.0)
    val chars = length(text)
    val punct = when(chars === 0, 0.0)
      .otherwise((chars - length(regexp_replace(text, punctRe, ""))) * lit(1.0) / chars)
    val punctOk = when(punct <= 0.2, 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text, defaultStopwords) > 0, 1.0).otherwise(0.0)
    round((lenOk + punctOk + stopOk) / 3.0, 4)
  }

  /** Stopword-profile language ID over a small built-in lexicon —
    * the n-gram-free heuristic: score(lang) = #tokens in lang lexicon,
    * pick argmax (ties → "und"-free deterministic lang-name order).
    * Pure expression; at 100 TB this is a map-only pass.
    */
  val langLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "von"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "他", "这", "个", "们"))

  /** PII redaction patterns (RE2-compatible — no backrefs/lookaround —
    * so the DuckDB oracle can run the SAME patterns; Java regex treats
    * them identically). Order matters: emails are matched before IPs
    * before phones so a longer entity is never half-eaten by a later,
    * more general pattern.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+?\\d[\\d().-]{7,}\\d"

  /** Redact emails / IPv4s / phone-like digit runs to typed tags.
    * Pure regexp_replace chain — codegen'd, map-only at 100 TB; the
    * standard scrubbing pass of public LLM-data pipelines (C4, Dolma).
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "[EMAIL]"),
        ipRe, "[IP]"),
      phoneRe, "[PHONE]")

  /** Gopher-style repetition-free quality rules (Rae et al. 2021,
    * "Scaling Language Models", App. A1.1 — public paper): doc word
    * count, mean word length, symbol-to-word ratio, bullet/ellipsis
    * line ratios, and a minimum-distinct-stopword requirement. Returns
    * the signals plus the composite pass flag; all pure expressions.
    */
  val gopherStopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherSignals(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val t = col(textCol)
    val words = tokenCount(t)
    val meanWordLen = when(words === 0, 0.0)
      .otherwise(length(regexp_replace(t, "\\s+", "")).cast("double") / words)
    val symbols = size(regexp_extract_all(t, lit("[#…]|\\.\\.\\."), lit(0)))
    val symbolRatio = when(words === 0, 0.0).otherwise(symbols.cast("double") / words)
    // materialize the line array once; the two line-ratio lambdas below
    // must not each re-split the document (interpreted HOFs re-evaluate
    // captured non-attribute subtrees per element)
    val lines = col("__lines")
    val bulletLines = size(filter(lines, l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
    val ellipsisLines = size(filter(lines,
      l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
    val nLines = size(lines)
    val stopHits = size(array_intersect(
      array_distinct(tokens(t)), array(gopherStopwords.map(lit): _*)))
    df.select(col(keyCol), t, split(t, "\n").as("__lines"))
      .select(
        col(keyCol),
        words.as("n_words"),
        round(meanWordLen, 4).as("mean_word_len"),
        round(symbolRatio, 4).as("symbol_ratio"),
        round(bulletLines.cast("double") / nLines, 4).as("bullet_ratio"),
        round(ellipsisLines.cast("double") / nLines, 4).as("ellipsis_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("passes",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_ratio") < 0.9 &&
          col("ellipsis_ratio") < 0.3 &&
          col("stop_hits") >= 2)
  }

  def langId(text: Column): Column = {
    val entries = langLexicon.toSeq.sortBy(_._1)
    val lexLit = array(entries.map { case (_, lex) => array(lex.map(lit): _*) }: _*)
    val langsLit = array(entries.map { case (lang, _) => lit(lang) }: _*)
    // One pass over the tokens: per-lang hit counters carried as an array,
    // so the tokenization subtree is evaluated exactly once per row (a
    // naive per-lang filter() re-evaluates it per language, and a
    // when-chain argmax duplicates it exponentially).
    val scores = aggregate(
      tokens(text),
      array(entries.map(_ => lit(0)): _*),
      (st, tok) => zip_with(st, lexLit,
        (c, lex) => c + when(array_contains(lex, tok), 1).otherwise(0)))
    // argmax with deterministic tie-break on ascending lang code (strict >
    // keeps the first max); score 0 everywhere → "und"
    val best = aggregate(
      zip_with(scores, langsLit, (s, l) => struct(s.as("score"), l.as("lang"))),
      struct(lit(0).as("score"), lit("und").as("lang")),
      (st, x) => when(x.getField("score") > st.getField("score"), x).otherwise(st))
    best.getField("lang")
  }

  /** Okapi BM25 top-k document retrieval for a small query set — the
    * lexical twin of `Similarity.crossTopK` (Robertson & Zaragoza 2009:
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)), tf saturation k1, length
    * normalization b; query term frequency ignored, the classic form).
    *
    * 100 TB shape: one shuffle builds per-doc term frequencies, the
    * document-frequency table joins on the TERM (partially aggregated —
    * a stopword is one group, never a hot row explosion), the tiny
    * query-term set broadcasts, and per-query ranking is a rank window
    * over only the docs sharing ≥1 query term, with the rank filter
    * against a literal so WindowGroupLimit bounds the exchange. Scores
    * round to 4 decimals BEFORE ranking (ties then break on doc id), so
    * the ranking is reproducible across engines despite float-sum
    * ordering.
    */
  def bm25TopK(
      docs: DataFrame,
      textCol: String,
      keyCol: String,
      queries: Seq[(Long, String)],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25TopK needs at least one query")
    import docs.sparkSession.implicits._
    val toks = docs
      .select(col(keyCol).cast("long").as("doc"),
        explode(split(normalizeText(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
    val docLen = toks.groupBy("doc").agg(count(lit(1)).as("dl"))
    val corpusRow = docLen.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).first()
    val n = corpusRow.getLong(0)
    require(n > 0, "bm25TopK needs a non-empty tokenized corpus")
    val avgdl = corpusRow.getDouble(1)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val qTerms = queries
      .flatMap { case (qid, text) =>
        normalizeTextString(text).split(" ").filter(_.nonEmpty).distinct.map(qid -> _)
      }
      .toDF("query_id", "tok")
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfSat = (col("tf") * (lit(k1) + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
    val scored = tf
      .join(broadcast(qTerms), Seq("tok"))
      .join(broadcast(dfreq.join(broadcast(qTerms.select("tok").distinct()), Seq("tok"))),
        Seq("tok"))
      .join(docLen, Seq("doc"))
      .groupBy(col("query_id"), col("doc"))
      .agg(round(sum(idf * tfSat), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc").as(keyCol), col("score"), col("rank"))
  }

  /** Global heavy hitters over a string column via the native
    * Misra-Gries mergeable aggregate (`plans.MisraGriesAgg`): one pass,
    * at most k counters per partition buffer, partials merge
    * associatively — the bounded-state frequent-items scan for a 100 TB
    * column where an exact groupBy's shuffle would carry every distinct
    * value. Exact whenever the column's distinct count stays ≤ k;
    * otherwise every item with frequency > n/(k+1) is returned with a
    * count underestimating by at most n/(k+1).
    */
  def heavyHitters(df: DataFrame, column: String, k: Int): DataFrame = {
    df.agg(GraftFunctions.misraGries(GraftFunctions.exactCol(column), k).as("hh"))
      .select(explode(col("hh")).as(Seq("item", "est_count")))
  }

  /** Multinomial Naive Bayes seed classifier — the GPT-3/LLaMA-style
    * "quality classifier" corpus-filter stage (Brown et al. 2020, App. A:
    * score web documents against a curated positive seed): fit per-token
    * log-likelihood ratios from a small labeled seed (label 1 = curated,
    * 0 = negative) with Laplace smoothing, then score every document by
    * prior + Σ tf·llr over its tokens. The fit is CLOSED FORM (token
    * counts — no iterative optimizer, McCallum & Nigam 1998), so scores
    * replay exactly in SQL. Out-of-vocabulary tokens carry no class
    * evidence and are ignored (symmetric smoothing would add the same
    * constant per class).
    *
    * Scale: the fit aggregates the SEED only; the per-token llr table is
    * vocab-bounded and broadcasts to the corpus scan (like the
    * unigram-LM join), so scoring is explode → broadcast join → per-doc
    * sum — the corpus shuffles once on doc id for the tf aggregate and
    * never on vocab.
    */
  def nbSeedClassifier(
      docs: DataFrame,
      textCol: String,
      keyCol: String,
      seed: DataFrame): DataFrame = {
    val toks = docs
      .select(col(keyCol).cast("long").as("id"),
        explode(split(normalizeText(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val seedIds = seed.select(col(keyCol).cast("long").as("id"), col("label").cast("int").as("label"))
    val seedToks = toks.join(broadcast(seedIds), Seq("id"))
    val cnt = seedToks.groupBy("tok").agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("c0"))
    val scal = seedToks.agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).cast("double").as("t1"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).cast("double").as("t0"),
      countDistinct(col("tok")).cast("double").as("v")).first()
    require(!scal.isNullAt(0), "seed documents contain no tokens — nothing to fit")
    val (tks1, tks0, vocab) = (scal.getDouble(0), scal.getDouble(1), scal.getDouble(2))
    val dcRow = seedIds.agg(
      sum(col("label")).cast("double"), sum(lit(1) - col("label")).cast("double")).first()
    val (d1, d0) = (dcRow.getDouble(0), dcRow.getDouble(1))
    require(d1 > 0 && d0 > 0, "seed needs documents of both labels")
    val prior = math.log(d1 / d0)
    val llr = cnt.select(col("tok"),
      (log((col("c1").cast("double") + lit(1.0)) / lit(tks1 + vocab)) -
        log((col("c0").cast("double") + lit(1.0)) / lit(tks0 + vocab))).as("w"))
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val sums = tf.join(broadcast(llr), Seq("tok"))
      .groupBy("id").agg(sum(col("tf").cast("double") * col("w")).as("sw"))
    docs.select(col(keyCol).cast("long").as("id"))
      .join(sums, Seq("id"), "left")
      .select(col("id").as(keyCol),
        // + 0.0 canonicalizes IEEE −0.0 (a tiny negative sum rounding to
        // zero) to +0.0, matching the SQL replay's render
        (round(lit(prior) + coalesce(col("sw"), lit(0.0)), 4) + lit(0.0)).as("log_odds"))
      .withColumn("pred", when(col("log_odds") >= 0, 1).otherwise(0))
  }

  /** CCNet-style per-language quality buckets (Wenzek et al. 2020): rank
    * documents inside each language by an LM score (lower = closer to
    * the reference distribution) and split into head/middle/tail
    * tertiles. Deterministic: ties break on the document key, so the
    * bucket assignment is a pure function of the data (and replays in
    * SQL — ntile has identical semantics across engines).
    *
    * Scale note: exact tertiles shuffle each language into one sort —
    * fine while no single language dominates a 100 TB corpus' partition
    * budget; for a hyper-dominant language compute approximate cutoffs
    * on a sample and bucket by comparison instead (the CCNet paper does
    * exactly that).
    */
  def perplexityBuckets(
      scored: DataFrame,
      scoreCol: String,
      keyCol: String,
      langCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col(scoreCol).asc, col(keyCol).asc)
    scored
      .withColumn("__t", ntile(3).over(w))
      .withColumn("bucket",
        when(col("__t") === 1, "head")
          .when(col("__t") === 2, "middle")
          .otherwise("tail"))
      .drop("__t")
  }

  /** Per-document TF-IDF keyword extraction: the top-k terms of each
    * document by tf·ln(N/df), ties broken lexicographically. The
    * standard document-tagging / topic-labeling pass of corpus curation
    * (reference surfaces TF-IDF only corpus-side, in the feature
    * recommender — `feature_recommender/featrec_init.py:36-59`; this is
    * the per-document dual).
    *
    * 100 TB posture: one corpus shuffle for (doc, term) term
    * frequencies; document frequencies reduce the tf frame again by
    * term (vocabulary-sized — heavy-tailed but far smaller than the
    * corpus, and never collected: the df join stays a hash join unless
    * AQE proves it broadcastable); the top-k window partitions by
    * document, so no data-sized single partition anywhere. N comes from
    * a scalar aggregate crossJoin'd as a broadcast 1-row frame.
    */
  def keywordTfidf(
      df: DataFrame,
      textCol: String,
      idCol: String,
      topK: Int = 3): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("id"),
        explode(tokens(col(textCol))).as("keyword"))
      .filter(length(col("keyword")) > 0)
    val tf = toks.groupBy("id", "keyword").agg(count(lit(1)).as("tf"))
    // tf already holds one row per distinct (doc, term): df is a plain
    // second reduction, no countDistinct shuffle explosion
    val dfreq = tf.groupBy("keyword").agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("__n_docs"))
    val w = Window.partitionBy("id")
      .orderBy(col("__score").desc, col("keyword").asc)
    tf.join(dfreq, "keyword")
      .crossJoin(broadcast(nDocs))
      .withColumn("__score",
        col("tf").cast("double") *
          log(col("__n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("id"), col("keyword"), col("tf"), col("df"),
        round(col("__score"), 4).as("score"), col("rank"))
  }

  /** Typed PII mention inventory with stable pseudonyms: every email /
    * IPv4 / phone match as a row, pseudonymized by a deterministic
    * keyed-hash token — the consistent-pseudonymization pass that
    * lets a scrubbed corpus keep entity co-reference (same address ↔
    * same token) without the raw value. The token is the first 16 hex
    * chars (64 bits) of sha2-256 over `salt:kind:mention`: 64 bits keeps
    * the birthday collision bound negligible at corpus scale (~10^9
    * distinct mentions → ~10^-2 collision odds vs near-certain at the
    * old 32-bit md5 prefix), and the caller-supplied per-corpus secret
    * salt makes dictionary reversal of enumerable value spaces (10-digit
    * phones, IPv4) infeasible without the key. An empty salt is allowed
    * but linkage-prone: anyone can precompute sha2("":kind:value) over
    * the enumerable space and reverse the tokens — always pass a secret
    * salt for corpora leaving trust boundaries. Extraction mirrors
    * piiRedact's email → IP → phone sequencing (each pattern scans the
    * text with the previous kinds already replaced, so a phone regex can
    * never re-match the digits of an IP it overlaps). Map-only: three
    * regex passes + explode, zero shuffle, zero driver state.
    */
  def piiMentions(df: DataFrame, textCol: String, idCol: String,
                  salt: String = ""): DataFrame = {
    val noEmail = regexp_replace(col(textCol), emailRe, "[EMAIL]")
    val noIp = regexp_replace(noEmail, ipRe, "[IP]")
    def tagged(kind: String, arr: Column): Column =
      transform(arr, m => struct(lit(kind).as("kind"), m.as("mention")))
    val mentions = df
      .select(col(idCol).cast("long").as("id"),
        explode(concat(
          tagged("email", regexp_extract_all(col(textCol), lit(emailRe), lit(0))),
          tagged("ip", regexp_extract_all(noEmail, lit(ipRe), lit(0))),
          tagged("phone", regexp_extract_all(noIp, lit(phoneRe), lit(0))))).as("m"))
      .select(col("id"), col("m.kind").as("kind"), col("m.mention").as("mention"))
    mentions.withColumn("pseudonym",
      concat(lit("["), upper(col("kind")), lit("_"),
        substring(sha2(concat(lit(salt), lit(":"), col("kind"), lit(":"),
          col("mention")), 256), 1, 16),
        lit("]")))
  }

  /** Encoding-health signals per document — the pre-tokenization hygiene
    * pass of a crawl-ingest pipeline: replacement chars (U+FFFD — an
    * upstream decoder already gave up), C0 control chars outside
    * tab/newline/CR (binary contamination), and the classic
    * UTF-8-bytes-decoded-as-Latin-1 mojibake digraphs (Ã or Â followed
    * by a Latin-1 continuation character — how "é" becomes "Ã©").
    * `clean` flags documents with zero signals. Map-only: three regex
    * length-diffs, zero shuffle, zero driver state. Patterns use
    * \\x{...} code-point escapes, valid in BOTH java.util.regex and RE2
    * so the oracle replays them verbatim.
    */
  val replacementRe = "\\x{FFFD}"
  val controlRe = "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"
  val mojibakeRe = "[\\x{00C3}\\x{00C2}][\\x{0080}-\\x{00BF}]"

  /** Occurrences of a `w`-char-wide pattern = (len − len(stripped)) / w —
    * the codegen'd column form shared by the batch op and its streaming
    * monitor twin.
    */
  def encodingSignal(t: Column, re: String, w: Int): Column =
    ((length(t) - length(regexp_replace(t, re, ""))) / w).cast("int")

  def encodingQuality(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      encodingSignal(t, replacementRe, 1).as("n_replacement"),
      encodingSignal(t, controlRe, 1).as("n_control"),
      encodingSignal(t, mojibakeRe, 2).as("n_mojibake"))
      .withColumn("clean",
        col("n_replacement") + col("n_control") + col("n_mojibake") === 0)
  }

  /** Vocabulary coverage curve: the top-V corpus tokens by frequency,
    * each with its rank, share, and CUMULATIVE share of total token
    * mass — the "what vocab size covers 95% of tokens" curve that sizes
    * a tokenizer. Counts aggregate map-side to a vocab-bounded frame;
    * the top-V cut is a distributed TakeOrdered (never a global sort of
    * the vocabulary); rank and prefix sums are windows over the
    * LIMIT-bounded V-row frame; the grand total is a 1-row broadcast
    * scalar (the sanctioned crossJoin(broadcast(<1-row>)) idiom).
    */
  def vocabCoverage(df: DataFrame, textCol: String, topV: Int = 100): DataFrame = {
    require(topV > 0, "topV must be positive")
    // widen a one-file scan so the tokenize/explode map stage (the row's
    // dominant cost) runs at session parallelism, not on one scan task
    val counts = Dedup.widenForCompute(df.select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum(col("freq")).as("__total"))
    val top = counts.orderBy(col("freq").desc, col("token").asc).limit(topV)
    val w = Window.orderBy(col("freq").desc, col("token").asc)
    top
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("share",
        round(col("freq").cast("double") / col("__total").cast("double"), 6))
      .withColumn("cum_share",
        round(sum(col("freq")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("__total").cast("double"), 6))
      .select(col("rank"), col("token"), col("freq"), col("share"), col("cum_share"))
  }
}
