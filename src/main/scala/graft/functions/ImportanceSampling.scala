package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every document in
  * a raw pool by how target-domain-like its hashed n-gram features are,
  * then resample the pool toward the target distribution. The classic
  * pretraining-data curation move — "select web pages that look like
  * Wikipedia" — at corpus scale.
  *
  * Features are unigrams + bigrams of the normalized token stream,
  * hashed into `numBuckets` buckets with the engine-portable
  * md5_prefix60 (so DuckDB replays the exact bucket assignment). The
  * importance weight of a document is
  *   log w(d) = Σ_f  [ ln((n_t[b(f)]+s)/(N_t+s·B)) − ln((n_r[b(f)]+s)/(N_r+s·B)) ]
  * — the log-likelihood ratio of two smoothed hashed bag-of-ngrams
  * models fit on the target vs raw split of the SAME frame.
  *
  * Scale shape: one map-only feature explosion, one bucket-bounded
  * aggregation (≤ numBuckets rows survive the shuffle — map-side
  * combined), totals as windows OVER that bucket-sized aggregate (the
  * catAssociation marginal idiom — never a data-sized global window),
  * then a broadcast join of the λ table back onto the feature stream
  * and one groupBy(doc). Two data-sized shuffles total, O(numBuckets)
  * driver-free state; nothing collects.
  */
object ImportanceSampling {

  /** Hashed n-gram feature stream: [id, __tgt, b] with multiplicity
    * (unigrams and bigrams of the normalized tokens).
    */
  private def features(
      df: DataFrame,
      textCol: String,
      idCol: String,
      isTarget: Column,
      numBuckets: Int): DataFrame = {
    // widen a narrow input so the normalize→unigram/bigram explode (the
    // dominant map stage) runs at session parallelism, not on one scan
    // task; no-op at real scale (see Dedup.widenForCompute)
    val base = Dedup.widenForCompute(df).select(
      col(idCol).as("id"),
      coalesce(isTarget, lit(false)).as("__tgt"),
      split(TextOps.normalizeText(col(textCol)), " ").as("__t"))
    val uni = base.select(col("id"), col("__tgt"), explode(col("__t")).as("f"))
    // sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
    val bi = base.select(col("id"), col("__tgt"),
      explode(expr(
        """case when size(__t) >= 2
           then transform(sequence(1, size(__t) - 1), i -> concat(__t[i - 1], ' ', __t[i]))
           else array() end""")).as("f"))
    uni.unionByName(bi)
      .filter(length(col("f")) > 0)
      .select(col("id"), col("__tgt"),
        pmod(GraftFunctions.md5Prefix60(col("f").cast("binary")), lit(numBuckets.toLong))
          .as("b"))
  }

  /** Importance scores for every raw-pool document (rows where
    * `isTarget` is false): [id, n_feats, score]. Higher = more
    * target-like. Deterministic — no RNG anywhere — so the scores are
    * reproducible across reruns, partitionings, and engines.
    */
  def dsirScores(
      df: DataFrame,
      textCol: String,
      idCol: String,
      isTarget: Column,
      numBuckets: Int = 8192,
      smoothing: Double = 1.0): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(smoothing > 0, "smoothing must be positive")
    // Two consumers read the feature stream (the bucket-count fit and
    // the score join), and their first exchanges differ (hash(b) vs the
    // post-join hash(id)), so exchange reuse never kicks in — without
    // materialization the normalize→gram→md5 explosion (the op's
    // dominant map stage) runs TWICE. The stream is narrow ((long,
    // bool, long) rows ≈ corpus token count ×2), far cheaper to store
    // once than to re-hash; lineage-truncating localCheckpoint, same
    // rationale as Dedup.materialize.
    val feats = Dedup.materialize(
      features(df, textCol, idCol, isTarget, numBuckets))
    val counts = feats.groupBy("b").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("__tgt"), 1L).otherwise(0L)).as("nr"))
    // totals as partitionless windows over the ≤numBuckets-row aggregate
    // (bounded by construction; a 1-row crossJoin would plan as a BNLJ)
    val tot = Window.partitionBy()
    val sB = smoothing * numBuckets
    val lam = counts
      .withColumn("__Nt", sum(col("nt")).over(tot))
      .withColumn("__Nr", sum(col("nr")).over(tot))
      .select(col("b"),
        (log((col("nt").cast("double") + lit(smoothing)) /
             (col("__Nt").cast("double") + lit(sB))) -
         log((col("nr").cast("double") + lit(smoothing)) /
             (col("__Nr").cast("double") + lit(sB)))).as("lam"))
    feats.filter(!col("__tgt"))
      .join(broadcast(lam), "b")
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), sum(col("lam")).as("score"))
  }

  /** Gumbel-top-k importance resample over [[dsirScores]] output: DSIR's
    * sampling-without-replacement trick — key_i = log w_i + g_i with
    * g_i = −ln(−ln(u_i)) — made deterministic by drawing u_i from the
    * document id's md5 hash instead of an RNG (the engine's seeded-
    * uniform idiom: reproducible across reruns and cluster layouts).
    * Returns the k selected rows; `limit` plans as a distributed
    * TakeOrdered, never a global sort materialization.
    */
  def gumbelTopK(scores: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u = GraftFunctions.md5Uniform(GraftFunctions.exactCol(idCol))
    scores
      .withColumn("gumbel_key", col("score") - log(-log(u)))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }
}
