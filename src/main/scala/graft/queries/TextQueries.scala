package graft.queries

import graft.functions.{Dedup, Sharding, Similarity, TextOps}
import graft.plans.GraftFunctions
import graft.queries.QueryPack._
import graft.sources.{Ingest, Sampling}
import org.apache.spark.sql.functions._

/** Training-data-pipeline queries: text analysis, dedup, similarity
  * search (builder-prompt first-class additions beyond the reference).
  */
object TextQueries {

  private val normSql =
    "trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  /** Oracle replay of the md5 MinHash family: the aggregate list
    * `min(xor(h, salt_i)) AS sig_i` over an `h` column, one per member.
    */
  private def md5SigDefs(numHashes: Int): String =
    Dedup.md5Salts.take(numHashes).zipWithIndex
      .map { case (salt, i) => s"min(xor(h, $salt)) AS sig_$i" }.mkString(", ")

  /** Oracle replay of the raw-value banding of 16 hashes in 4 bands: one
    * (doc_id, band, v0..v3) row per band of each row of `src`.
    */
  private def md5BandSelects(src: String): String = (0 until 4).map { b =>
    val vs = (0 until 4).map(r => s"sig_${b * 4 + r} AS v$r").mkString(", ")
    s"SELECT doc_id, $b AS band, $vs FROM $src"
  }.mkString(" UNION ALL ")

  /** Oracle replay of the 60-bit md5 SimHash: the signed vote sums
    * `v0..v59` over an `h` column, and the fold of those votes into the
    * fingerprint (bit b set iff v_b > 0).
    */
  private def simhashVoteDefs: String = (0 until 60)
    .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
    .mkString(", ")
  private def simhashFold: String = (0 until 60)
    .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
    .mkString(" + ")

  val qTextStats = Q(
    "q_text_stats",
    (s, dir) => TextOps.textStats(tables(s, dir).documents, "text", "doc_id"),
    Some {
      val stops = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH t AS (SELECT doc_id, text,
          str_split($normSql, ' ') AS toks FROM documents)
      SELECT doc_id,
        length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_words,
        round(CASE WHEN len(str_split_regex(trim(text), '\\s+')) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                  / len(str_split_regex(trim(text), '\\s+')) END, 4) AS mean_word_len,
        round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                  / length(text) END, 4) AS punct_ratio,
        round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                  / length(text) END, 4) AS upper_ratio,
        round(CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE) / len(toks) END, 4)
          AS stopword_ratio
      FROM t"""
    })

  val qTokenCounts = Q(
    "q_token_counts",
    (s, dir) => tables(s, dir).documents.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens_ws"),
      TextOps.bpeishTokenCount(col("text")).as("n_tokens_bpe")),
    Some("""
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(str_split_regex(trim(text), '\s+')) END AS n_tokens_ws,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) END AS n_tokens_bpe
      FROM documents"""))

  val qLangId = Q(
    "q_lang_id",
    (s, dir) => tables(s, dir).documents.select(
      col("doc_id"),
      TextOps.langId(col("text")).as("lang_pred")),
    Some {
      val langs = TextOps.langLexicon.toSeq.sortBy(_._1)
      val scoreDefs = langs.map { case (lang, lex) =>
        val inList = lex.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, x -> x IN ($inList))) AS s_$lang"
      }.mkString(", ")
      val greatest = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val whens = langs.map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }.mkString(" ")
      s"""
      WITH t AS (SELECT doc_id, str_split($normSql, ' ') AS toks FROM documents),
      sc AS (SELECT doc_id, $scoreDefs FROM t),
      mx AS (SELECT *, $greatest AS m FROM sc)
      SELECT doc_id, CASE WHEN m = 0 THEN 'und' $whens ELSE 'und' END AS lang_pred
      FROM mx"""
    })

  val qQualityScore = Q(
    "q_quality_score",
    (s, dir) => tables(s, dir).documents.select(
      col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality")),
    Some {
      val stops = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH t AS (SELECT doc_id, text, str_split($normSql, ' ') AS toks,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\\s+')) END AS words
        FROM documents)
      SELECT doc_id, round((
          (CASE WHEN words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN length(text) = 0 OR
                CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                  / length(text) <= 0.2 THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN len(list_filter(toks, x -> x IN ($stops))) > 0 THEN 1.0 ELSE 0.0 END)
        ) / 3, 4) AS quality
      FROM t"""
    })

  val qFingerprint = Q(
    "q_doc_fingerprint",
    (s, dir) => tables(s, dir).documents.select(
      col("doc_id"),
      TextOps.fingerprint(col("text")).as("fingerprint")),
    Some(s"SELECT doc_id, md5($normSql) AS fingerprint FROM documents"))

  /** Exact dedup over a deterministically duplicated corpus (the base
    * table has no exact dups), exercising concatenate + hash-groupBy.
    */
  val qExactDedup = Q(
    "q_exact_dedup",
    (s, dir) => {
      val d = tables(s, dir).documents
      val doubled = Ingest.concatenateDataset(Seq(d, d.filter(col("doc_id") % 10 === 0)))
      Dedup.exactDuplicates(doubled, "text", "doc_id")
    },
    Some(s"""
      WITH all_docs AS (
        SELECT * FROM documents
        UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0)
      SELECT md5($normSql) AS fingerprint, count(*) AS dup_count,
             min(doc_id) AS representative
      FROM all_docs GROUP BY 1 HAVING count(*) > 1"""))

  /** MinHash-LSH near-dup detection over a corpus with planted
    * near-duplicates (suffix-perturbed copies). Not SQL-expressible →
    * rows-only check.
    */
  val qMinhashDedup = Q(
    "q_minhash_neardup",
    (s, dir) => {
      val d = tables(s, dir).documents
      val perturbed = d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" perturbed suffix token")))
      val corpus = Ingest.concatenateDataset(Seq(d, perturbed))
      Dedup.minhashNearDuplicatesMd5(corpus, "text", "doc_id",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
    },
    Some {
      s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' perturbed suffix token' AS text
        FROM documents WHERE doc_id % 7 = 0),
      norm AS (SELECT doc_id, str_split($normSql, ' ') AS t FROM corpus),
      sh0 AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
        FROM norm, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh AS (SELECT * FROM sh0 WHERE length(shingle) > 0),
      h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
      sig AS (SELECT doc_id, ${md5SigDefs(16)} FROM h GROUP BY doc_id),
      bands AS (${md5BandSelects("sig")}),
      capped AS (SELECT * FROM (
          SELECT *, count(*) OVER (PARTITION BY band, v0, v1, v2, v3) AS sz
          FROM bands) WHERE sz <= 200),
      cand AS (
        SELECT DISTINCT a.doc_id AS key_1, b.doc_id AS key_2
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
         AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS key_1, b.doc_id AS key_2, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT c.key_1, c.key_2,
        round(CAST(COALESCE(i.i, 0) AS DOUBLE)
          / (na.n + nb.n - COALESCE(i.i, 0)), 4) AS jaccard
      FROM cand c
      LEFT JOIN inter i ON c.key_1 = i.key_1 AND c.key_2 = i.key_2
      JOIN sizes na ON c.key_1 = na.doc_id
      JOIN sizes nb ON c.key_2 = nb.doc_id
      WHERE round(CAST(COALESCE(i.i, 0) AS DOUBLE)
          / (na.n + nb.n - COALESCE(i.i, 0)), 4) >= 0.5"""
    })

  /** SimHash near-dup detection on a planted corpus — full oracle: the
    * md5 fingerprint, 15-bit chunk candidate join, and hamming verify
    * are all bit-identical in DuckDB, so the COMPLETE near-dup pair set
    * hash-matches.
    */
  val qSimhashDedup = Q(
    "q_simhash_neardup",
    (s, dir) => {
      val d = tables(s, dir).documents
      val perturbed = d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" zz")))
      val corpus = Ingest.concatenateDataset(Seq(d, perturbed))
      Dedup.simhashNearDuplicatesMd5(corpus, "text", "doc_id", maxHamming = 6)
    },
    Some {
      s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
        FROM documents WHERE doc_id % 7 = 0),
      t AS (SELECT doc_id, unnest(list_distinct(str_split($normSql, ' '))) AS tok
            FROM corpus),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM t WHERE length(tok) > 0),
      v AS (SELECT doc_id, $simhashVoteDefs FROM h GROUP BY doc_id),
      fp AS (SELECT doc_id, CAST($simhashFold AS BIGINT) AS simhash FROM v),
      c0 AS (SELECT doc_id, simhash, i.i AS chunk,
              (simhash >> (15 * i.i)) & 32767 AS val
            FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i),
      -- the engine's degenerate-bucket cap: chunk values shared by more
      -- than 10000 docs drop whole (replayed for semantic alignment;
      -- no test bucket approaches the cap)
      c AS (SELECT doc_id, simhash, chunk, val FROM (
              SELECT c0.*, count(*) OVER (PARTITION BY chunk, val) AS bsz
              FROM c0) WHERE bsz <= 10000),
      pairs AS (
        SELECT DISTINCT a.doc_id AS key_1, b.doc_id AS key_2,
          bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM c a JOIN c b ON a.chunk = b.chunk AND a.val = b.val
          AND a.doc_id < b.doc_id)
      SELECT key_1, key_2, hamming FROM pairs WHERE hamming <= 6"""
    })

  /** Exact word-3-gram Jaccard for every intersecting same-language pair
    * — fully SQL-expressible (lateral unnest + list slicing on the
    * oracle side), so the whole LSH-free dedup path is hash-checked.
    */
  val qNgramJaccard = Q(
    "q_ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardPairs(
      tables(s, dir).documents, "text", "doc_id", blockCol = "lang",
      n = 3, threshold = 0.01),
    Some(s"""
      WITH norm AS (
        SELECT doc_id, lang, str_split($normSql, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, lang,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
        FROM norm, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh1 AS (SELECT * FROM sh WHERE length(shingle) > 0),
      -- mirror the engine's stop-shingle df cap (df > 1000 dropped);
      -- no fixture shingle comes close, so results are unchanged here
      sh2 AS (SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY lang, shingle) AS df
                FROM sh1) WHERE df <= 1000),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS key_1, b.doc_id AS key_2, count(*) AS i
        FROM sh2 a JOIN sh2 b
          ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT key_1, key_2,
             round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
      FROM inter
      JOIN sizes na ON key_1 = na.doc_id
      JOIN sizes nb ON key_2 = nb.doc_id
      WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.01"""))

  /** Exact cosine top-k oracle (unnest-zip in DuckDB) — shared by the
    * driver-broadcast baseline AND the distributed exhaustive-probe IVF
    * variant, which must produce identical results.
    */
  private val cosineTopK3Sql = """
      WITH e AS (
        SELECT vec_id, unnest(embedding) AS x,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings),
      n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
            FROM e GROUP BY vec_id),
      d AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dt
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
            GROUP BY a.vec_id, b.vec_id),
      c AS (SELECT d.vec_id, d.neighbor_id, d.dt / (na.nrm * nb.nrm) AS cos
            FROM d JOIN n na ON d.vec_id = na.vec_id
                   JOIN n nb ON d.neighbor_id = nb.vec_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM c)
      SELECT vec_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 3"""

  val qCosineTopK = Q(
    "q_cosine_topk",
    (s, dir) => Similarity.bruteForceTopK(tables(s, dir).embeddings, "vec_id", "embedding", k = 3),
    Some(cosineTopK3Sql))

  /** Exhaustive-probe IVF: every query probes every cell, so every pair
    * is scored exactly once inside a hash-partitioned cogroup — same
    * results as brute force with NO driver-side collect of the vector
    * table. This is the oracle-checked distributed exact path; drop
    * nprobe for the approximate scale configuration.
    */
  val qIvfExactTopK = Q(
    "q_ivf_exact_topk",
    (s, dir) => Similarity.ivfTopK(tables(s, dir).embeddings, "vec_id", "embedding",
      k = 3, cellCount = 8, nprobe = 8)
      .select(col("vec_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos"), col("rank")),
    Some(cosineTopK3Sql))

  /** Deterministic SRP-LSH bucket ids — the hash core of lshTopK made
    * engine-portable: hyperplane weights derive from the md5 family
    * (md5_prefix60("srp:seed:p:d")/2⁵⁹−1) and the dot product
    * accumulates left-to-right in double on both engines, so DuckDB
    * replays the exact bucket of every vector. The full top-k pipeline
    * built on these buckets is oracle-checked too (q_lsh_topk); this
    * pins the bucketing in isolation.
    */
  val qLshBuckets = Q(
    "q_lsh_buckets",
    (s, dir) => {
      val emb = tables(s, dir).embeddings
      val dim = Similarity.firstDim(emb, "embedding")
      val planes = Similarity.hyperplanes(8, dim, seed = 42L)
      emb.select(col("vec_id").cast("long").as("vec_id"),
        Similarity.lshBucket(col("embedding"), planes).as("bucket"))
    },
    Some(s"SELECT vec_id, CAST(${srpBucketSql()} AS BIGINT) AS bucket FROM embeddings"))

  /** DuckDB replay of the SRP bucket id of `q_lsh_buckets`, as an
    * expression over a column named `embedding` (md5-derived hyperplanes,
    * left-to-right double accumulation — bit-identical to
    * `Similarity.lshBucket`/`lshSignature`).
    */
  private def srpBucketSql(numPlanes: Int = 8, seed: Long = 42L): String = {
    def dotP(p: Int): String =
      s"""list_reduce(list_transform(range(1, len(embedding) + 1),
         |  i -> embedding[i]::DOUBLE *
         |    ((('0x' || substr(md5('srp:$seed:$p:' || (i-1)::VARCHAR), 1, 15))::BIGINT)::DOUBLE
         |      / 576460752303423488.0 - 1.0)),
         |  (a, b) -> a + b)""".stripMargin
    (0 until numPlanes)
      .map(p => s"CASE WHEN ${dotP(p)} >= 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
  }

  /** Full-pipeline DuckDB replay of `Similarity.lshTopK(multiProbe=true,
    * numTables=1)` over a corpus CTE `(vec_id, embedding)`: bucket every
    * vector with the md5-derived SRP planes, candidate pairs = bucket
    * hamming ≤ 1 (self bucket + the `numPlanes` single-bit probe flips),
    * cosine in double, rank per vector (cos DESC, neighbor_id ASC).
    * The engine's per-probed-bucket top-k cap is invisible here: the
    * global top-k of the union of per-bucket top-ks IS the global top-k
    * of all candidates (any global winner wins its own bucket too).
    * Emits CTEs up to `r` (vec_id, neighbor_id, cos, rank) — callers
    * append their own SELECT.
    */
  private def lshTopKCtes(corpusSql: String): String =
    s"""
      WITH corpus AS ($corpusSql),
      bkt AS (SELECT vec_id, CAST(${srpBucketSql()} AS BIGINT) AS bucket FROM corpus),
      e AS (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM corpus),
      n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
            FROM e GROUP BY vec_id),
      cand AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id
               FROM bkt a JOIN bkt b
                 ON bit_count(xor(a.bucket, b.bucket)) <= 1
                AND a.vec_id <> b.vec_id),
      d AS (SELECT c.vec_id, c.neighbor_id,
                   sum(CAST(ea.x AS DOUBLE) * CAST(eb.x AS DOUBLE)) AS dt
            FROM cand c
            JOIN e ea ON ea.vec_id = c.vec_id
            JOIN e eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
            GROUP BY c.vec_id, c.neighbor_id),
      cs AS (SELECT d.vec_id, d.neighbor_id, d.dt / (na.nrm * nb.nrm) AS cos
             FROM d JOIN n na ON d.vec_id = na.vec_id
                    JOIN n nb ON d.neighbor_id = nb.vec_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM cs)"""

  /** Cross-table retrieval: every 25th vector becomes an eval query
    * against the remaining corpus — the queries≪corpus shape where the
    * corpus streams and only the query set broadcasts. Exact, fully
    * oracle-checked via a DuckDB cross cosine.
    */
  val qCrossTopK = Q(
    "q_cross_topk",
    (s, dir) => {
      val e = tables(s, dir).embeddings
      Similarity.crossTopK(
        e.filter(col("vec_id") % 25 === 0),
        e.filter(col("vec_id") % 25 =!= 0),
        "vec_id", "embedding", k = 3)
    },
    Some("""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
      c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 <> 0),
      qe AS (SELECT vec_id, unnest(embedding) AS x,
                    unnest(range(1, len(embedding) + 1)) AS i FROM q),
      ce AS (SELECT vec_id, unnest(embedding) AS x,
                    unnest(range(1, len(embedding) + 1)) AS i FROM c),
      qn AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
             FROM qe GROUP BY vec_id),
      cn AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
             FROM ce GROUP BY vec_id),
      d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dt
            FROM qe a JOIN ce b ON a.i = b.i
            GROUP BY a.vec_id, b.vec_id),
      cs AS (SELECT d.query_id, d.neighbor_id, d.dt / (qn.nrm * cn.nrm) AS cos
             FROM d JOIN qn ON d.query_id = qn.vec_id
                    JOIN cn ON d.neighbor_id = cn.vec_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM cs)
      SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 3"""))

  val qLshTopK = Q(
    "q_lsh_topk",
    (s, dir) => Similarity.lshTopK(tables(s, dir).embeddings, "vec_id", "embedding",
      k = 3, numPlanes = 8),
    Some(s"""${lshTopKCtes("SELECT vec_id, embedding FROM embeddings")}
      SELECT vec_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 3"""))

  /** DuckDB replay of the deterministic quantized-Lloyd IVF pipeline
    * (`Similarity.ivfTopK` with `lloydQuantize >= 0`): the coarse
    * quantizer's init is the md5-hash-ordered strided sample, each of the
    * `iters` fixed sweeps assigns points by a LEFT-TO-RIGHT double
    * squared-distance accumulation (`list_reduce` replays the engine's
    * sequential loop bit-for-bit, so assignments cannot flip on
    * summation-order noise) and re-centers on a `dp`-decimal grid (the
    * rounding absorbs DuckDB's unordered per-dim mean summation — the
    * q_pagerank / q_geo_vincenty fixed-iteration trick). The quantizer is
    * fit on the SAME bounded sample as the engine — the `fitSample`
    * lowest-md5 rows (`fit` CTE) — so the oracle tracks the engine at any
    * corpus size, not just while the table fits under the sample cap; the
    * final member/prober assignment then runs over the FULL corpus exactly
    * like `Similarity.ivfTopK`. Final members (rank-1 cell) meet probers
    * (rank ≤ nprobe cells) per cell; cosine + global rank reuse the
    * exact-cosine CTE shape of [[cosineTopK3Sql]].
    */
  /** The engine-portable quantized-Lloyd fit + nearest-cell assignment as
    * reusable CTE text (corpus → strided init → `iters` materialized
    * sweeps → per-vector cell ranks `fr`): shared by the IVF top-k oracle
    * and the semantic-dedup oracle. `corpusSql` must yield (id, v).
    * `p` prefixes every CTE name so several chains can coexist in one
    * statement (the product-quantization oracle runs one per subspace).
    */
  private[queries] def ivfAssignCtes(corpusSql: String, cells: Int, iters: Int, dp: Int,
      fitSample: Int, p: String = ""): String = {
    def distExpr(vTbl: String, cTbl: String) =
      s"""list_reduce(list_transform(range(1, len($vTbl.v) + 1),
         |      i -> ($vTbl.v[i]::DOUBLE - $cTbl.c[i]) * ($vTbl.v[i]::DOUBLE - $cTbl.c[i])),
         |      (a, b) -> a + b)""".stripMargin
    val sweeps = (1 to iters).map { s =>
      val prev = s"${p}c${s - 1}"
      // MATERIALIZED: without it DuckDB inlines the single-reference CTE
      // chain and the planner blows up intermittently (observed OOM on a
      // 5-sweep chain); materializing each sweep keeps planning linear
      s"""${p}ds$s AS MATERIALIZED (SELECT o.id, o.v, c.cid, ${distExpr("o", "c")} AS dist
         |        FROM ${p}fit o CROSS JOIN $prev c),
         |${p}a$s AS MATERIALIZED (SELECT id, v, cid FROM (
         |          SELECT *, row_number() OVER
         |            (PARTITION BY id ORDER BY dist ASC, cid ASC) AS rk FROM ${p}ds$s)
         |        WHERE rk = 1),
         |${p}m$s AS MATERIALIZED (SELECT cid, i, round(sum(x) / count(*), $dp) AS cx
         |        FROM (SELECT cid, unnest(list_transform(v, x -> x::DOUBLE)) AS x,
         |                     unnest(range(1, len(v) + 1)) AS i FROM ${p}a$s)
         |        GROUP BY cid, i),
         |${p}c$s AS MATERIALIZED (SELECT cid, list(cx ORDER BY i) AS c FROM ${p}m$s GROUP BY cid
         |        UNION ALL
         |        SELECT cid, c FROM $prev
         |        WHERE cid NOT IN (SELECT cid FROM ${p}m$s))""".stripMargin
    }.mkString(",\n")
    s"""${p}corpus AS ($corpusSql),
      ${p}ord AS MATERIALIZED (SELECT id, v, row_number() OVER (ORDER BY
                ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT ASC, id ASC) - 1 AS rn
              FROM ${p}corpus),
      ${p}fit AS MATERIALIZED (SELECT id, v, rn FROM ${p}ord WHERE rn < $fitSample),
      ${p}prm AS (SELECT greatest(1, count(*) // $cells) AS stride FROM ${p}fit),
      ${p}c0 AS (SELECT CAST(rn // stride AS INT) AS cid,
                    list_transform(v, x -> x::DOUBLE) AS c
             FROM ${p}fit, ${p}prm WHERE rn % stride = 0 AND rn // stride < $cells),
      $sweeps,
      ${p}fd AS (SELECT o.id, c.cid, ${distExpr("o", "c")} AS dist
             FROM ${p}ord o CROSS JOIN ${p}c$iters c),
      ${p}fr AS (SELECT id, cid, row_number() OVER
               (PARTITION BY id ORDER BY dist ASC, cid ASC) AS rk FROM ${p}fd)"""
  }

  private def ivfTopKSql(cells: Int, nprobe: Int, iters: Int, dp: Int, k: Int,
      fitSample: Int = 10000): String = {
    s"""
      WITH ${ivfAssignCtes("SELECT vec_id AS id, embedding AS v FROM embeddings",
        cells, iters, dp, fitSample)},
      memb AS (SELECT id, cid FROM fr WHERE rk = 1),
      prob AS (SELECT id, cid FROM fr WHERE rk <= $nprobe),
      cand AS (SELECT p.id AS vec_id, m.id AS neighbor_id
               FROM prob p JOIN memb m ON p.cid = m.cid AND m.id <> p.id),
      e AS (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
      n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
            FROM e GROUP BY vec_id),
      dt AS (SELECT c.vec_id, c.neighbor_id,
                    sum(CAST(ea.x AS DOUBLE) * CAST(eb.x AS DOUBLE)) AS dt
             FROM cand c
             JOIN e ea ON ea.vec_id = c.vec_id
             JOIN e eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
             GROUP BY c.vec_id, c.neighbor_id),
      cs AS (SELECT dt.vec_id, dt.neighbor_id, dt.dt / (na.nrm * nb.nrm) AS cos
             FROM dt JOIN n na ON dt.vec_id = na.vec_id
                     JOIN n nb ON dt.neighbor_id = nb.vec_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM cs)
      SELECT vec_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= $k"""
  }

  /** IVF (KMeans coarse quantizer + nprobe cells) approximate top-k —
    * the inverted-file ANN scale path. Engine-portable configuration:
    * 5 fixed Lloyd sweeps on a 4-decimal quantized centroid grid make
    * the whole fit → assign → probe → rank pipeline SQL-replayable
    * ([[ivfTopKSql]]), closing the last rows-only ANN row.
    */
  val qIvfTopK = Q(
    "q_ivf_topk",
    (s, dir) => Similarity.ivfTopK(tables(s, dir).embeddings, "vec_id", "embedding",
      k = 3, cellCount = 8, nprobe = 3, fitSample = 10000, lloydIters = 5,
      lloydQuantize = 4)
      .select(col("vec_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos"), col("rank")),
    Some(ivfTopKSql(cells = 8, nprobe = 3, iters = 5, dp = 4, k = 3,
      fitSample = 10000)))

  // --- Product quantization (Jégou et al. 2011) ------------------------

  /** One quantized-Lloyd chain per PQ subspace over the SLICED corpus
    * (`embedding[lo:hi]` — DuckDB list slicing is 1-based inclusive),
    * each under its own CTE-name prefix so the chains coexist in one
    * statement. Shared by the code-table and IVF-PQ oracles.
    */
  private def pqSubspaceCtes(m: Int, dim: Int, ksub: Int, iters: Int, dp: Int,
      fitSample: Int): String = {
    val sub = dim / m
    (0 until m).map { mi =>
      val lo = mi * sub + 1
      val hi = (mi + 1) * sub
      ivfAssignCtes(
        s"SELECT vec_id AS id, embedding[$lo:$hi] AS v FROM embeddings",
        ksub, iters, dp, fitSample, p = s"s${mi}_")
    }.mkString(",\n")
  }

  private def pqCodesSelect(m: Int): String =
    (0 until m).map { mi =>
      s"SELECT id, $mi AS sub, cid AS code FROM s${mi}_fr WHERE rk = 1"
    }.mkString(" UNION ALL ")

  /** PQ code table: every embedding compressed to `m` codebook codes —
    * the 64×-compression pass of the IVF-PQ index (64 floats → 4 bytes
    * here). The oracle replays all `m` per-subspace quantized-Lloyd fits
    * and the keep-first nearest-centroid assignment over the full corpus.
    */
  val qPqCodes = Q(
    "q_pq_codes",
    (s, dir) => Similarity.pqEncode(tables(s, dir).embeddings, "vec_id",
      "embedding", m = 4, ksub = 16, fitSample = 10000, lloydIters = 5,
      lloydQuantize = 4),
    Some(s"""
      WITH ${pqSubspaceCtes(m = 4, dim = 64, ksub = 16, iters = 5, dp = 4,
        fitSample = 10000)}
      SELECT id AS vec_id, sub, code FROM (${pqCodesSelect(m = 4)})"""))

  /** IVF-PQ approximate top-k: coarse cells from the full-vector Lloyd
    * chain, candidates from the nprobe cell join, but DISTANCES from the
    * asymmetric ADC form — exact query slices against the neighbor's
    * quantized codebook centroids. The oracle joins query slices ×
    * neighbor codes × codebook centroid lists and sums the per-subspace
    * `list_reduce` squared distances (the within-subspace accumulation
    * order matches the engine loop; only the m-way outer sum is
    * engine-unordered, the same tolerance the cosine oracles carry).
    */
  /** Full IVF-PQ top-k replay: coarse chain + per-subspace chains +
    * slice×code×codebook ADC join + rank. Shared by q_pq_topk and the
    * recall-evaluation row.
    */
  private def ivfPqTopKSql(m: Int = 4, dim: Int = 64, iters: Int = 5,
      k: Int = 3, nprobe: Int = 3): String = {
    val sliceSel = (0 until m).map { mi =>
      val sub = dim / m
      s"""SELECT vec_id AS id, $mi AS sub,
          list_transform(embedding[${mi * sub + 1}:${(mi + 1) * sub}],
            x -> x::DOUBLE) AS slice FROM embeddings"""
    }.mkString(" UNION ALL ")
    val cbSel = (0 until m).map { mi =>
      s"SELECT $mi AS sub, cid, c FROM s${mi}_c$iters"
    }.mkString(" UNION ALL ")
    s"""
      WITH ${ivfAssignCtes("SELECT vec_id AS id, embedding AS v FROM embeddings",
        cells = 8, iters = iters, dp = 4, fitSample = 10000)},
      ${pqSubspaceCtes(m = m, dim = dim, ksub = 16, iters = iters, dp = 4,
        fitSample = 10000)},
      memb AS (SELECT id, cid FROM fr WHERE rk = 1),
      prob AS (SELECT id, cid FROM fr WHERE rk <= $nprobe),
      cand AS (SELECT p.id AS vec_id, mm.id AS neighbor_id
               FROM prob p JOIN memb mm ON p.cid = mm.cid AND mm.id <> p.id),
      qs AS ($sliceSel),
      codes AS (${pqCodesSelect(m = m)}),
      cb AS ($cbSel),
      ad AS (SELECT c.vec_id, c.neighbor_id,
                    sum(list_reduce(list_transform(range(1, len(q.slice) + 1),
                        i -> (q.slice[i] - b.c[i]) * (q.slice[i] - b.c[i])),
                      (a, b) -> a + b)) AS adist
             FROM cand c
             JOIN qs q ON q.id = c.vec_id
             JOIN codes nc ON nc.id = c.neighbor_id AND nc.sub = q.sub
             JOIN cb b ON b.sub = q.sub AND b.cid = nc.code
             GROUP BY c.vec_id, c.neighbor_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY adist ASC, neighbor_id ASC) AS rank
            FROM ad)
      SELECT vec_id, neighbor_id, round(adist, 4) AS adist,
             CAST(rank AS INT) AS rank
      FROM r WHERE rank <= $k"""
  }

  val qPqTopK = Q(
    "q_pq_topk",
    (s, dir) => Similarity.ivfPqTopK(tables(s, dir).embeddings, "vec_id",
      "embedding", k = 3, cellCount = 8, nprobe = 3, m = 4, ksub = 16,
      fitSample = 10000, lloydIters = 5, lloydQuantize = 4)
      .select(col("vec_id").cast("long"), col("neighbor_id").cast("long"),
        col("adist"), col("rank")),
    Some(ivfPqTopKSql()))

  /** Exact squared-L2 top-3 — the ground-truth frame of the PQ recall
    * evaluation (the cosine twin is [[cosineTopK3Sql]]).
    */
  private val l2TopK3Sql = """
      WITH e AS (
        SELECT vec_id, unnest(embedding) AS x,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings),
      d AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   sum((CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE))
                     * (CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE))) AS dist
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
            GROUP BY a.vec_id, b.vec_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY dist ASC, neighbor_id ASC) AS rank
            FROM d)
      SELECT vec_id, neighbor_id, round(dist, 4) AS dist, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 3"""

  /** PQ quality evaluation: recall@3 of the IVF-PQ ADC path against the
    * exact squared-L2 top-3 — the pre-deployment measurement of how much
    * the codebook compression costs on THIS corpus (near-random vectors
    * are PQ's worst case, so the honest number here is low; the oracle
    * embeds both full replays and joins them, mirroring q_ann_recall).
    */
  val qPqRecall = Q(
    "q_pq_recall",
    (s, dir) => {
      val emb = tables(s, dir).embeddings
      val brute = Similarity
        .bruteForceTopK(emb, "vec_id", "embedding", k = 3, metric = "l2")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("neighbor_id").cast("long").as("neighbor_id"))
      val pq = Similarity
        .ivfPqTopK(emb, "vec_id", "embedding", k = 3, cellCount = 8, nprobe = 3,
          m = 4, ksub = 16, fitSample = 10000, lloydIters = 5, lloydQuantize = 4)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("neighbor_id").cast("long").as("neighbor_id"), lit(1).as("__m"))
      brute.join(pq, Seq("vec_id", "neighbor_id"), "left")
        .groupBy(col("vec_id"))
        .agg(count(col("__m")).as("matched"))
        .agg(
          count(lit(1)).as("n_queries"),
          round(sum(col("matched")).cast("double") /
            (lit(3) * count(lit(1))), 4).as("mean_recall"),
          sum(when(col("matched") === 3, 1L).otherwise(0L)).as("perfect_queries"))
    },
    Some(s"""
      WITH brute AS (SELECT vec_id, neighbor_id FROM ($l2TopK3Sql)),
      pq AS (SELECT vec_id, neighbor_id FROM (${ivfPqTopKSql()})),
      hit AS (SELECT b.vec_id, count(p.neighbor_id) AS matched
              FROM brute b LEFT JOIN pq p
                ON p.vec_id = b.vec_id AND p.neighbor_id = b.neighbor_id
              GROUP BY b.vec_id)
      SELECT count(*) AS n_queries,
             round(CAST(sum(matched) AS DOUBLE) / (3 * count(*)), 4) AS mean_recall,
             CAST(sum(CASE WHEN matched = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS perfect_queries
      FROM hit"""))

  /** ANN serving against a SAVED IVF-PQ index: the corpus is encoded and
    * written once (model + salted inverted code lists round-trip
    * parquet), then a new query batch — exact copies under fresh ids
    * plus reversed-array novels, both float-exact constructions — probes
    * the re-read index without touching any corpus vector. The oracle
    * rebuilds the fit chains over the corpus, assigns the query batch to
    * its nprobe cells against the final centroid table, and replays the
    * ADC scoring join — proving the whole build → save → re-read → probe
    * path end to end.
    */
  val qAnnIndex = Q(
    "q_ann_index",
    (s, dir) => {
      val idxDir = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp"),
        "graft_q_ann_index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      val emb = tables(s, dir).embeddings
      val (model, lists) = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        cellCount = 8, m = 4, ksub = 16, fitSample = 10000, lloydIters = 5,
        lloydQuantize = 4)
      model.write.mode("overwrite").parquet(s"$idxDir/model")
      lists.write.mode("overwrite").parquet(s"$idxDir/lists")
      val copies = emb.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      val novels = emb.filter(col("vec_id") % 7 === 3)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("embedding", reverse(col("embedding")))
      Similarity.annAgainstIndex(copies.unionByName(novels), "vec_id", "embedding",
        s.read.parquet(s"$idxDir/model"), s.read.parquet(s"$idxDir/lists"),
        k = 3, nprobe = 3)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
          col("adist"), col("rank"))
    },
    Some {
      val m = 4; val dim = 64; val iters = 5
      val sliceSel = (0 until m).map { mi =>
        val sub = dim / m
        s"""SELECT id, $mi AS sub,
            list_transform(v[${mi * sub + 1}:${(mi + 1) * sub}],
              x -> x::DOUBLE) AS slice FROM qb"""
      }.mkString(" UNION ALL ")
      val cbSel = (0 until m).map { mi =>
        s"SELECT $mi AS sub, cid, c FROM s${mi}_c$iters"
      }.mkString(" UNION ALL ")
      s"""
      WITH ${ivfAssignCtes("SELECT vec_id AS id, embedding AS v FROM embeddings",
          cells = 8, iters = iters, dp = 4, fitSample = 10000)},
      ${pqSubspaceCtes(m = m, dim = dim, ksub = 16, iters = iters, dp = 4,
          fitSample = 10000)},
      memb AS (SELECT id, cid FROM fr WHERE rk = 1),
      codes AS (${pqCodesSelect(m = m)}),
      cb AS ($cbSel),
      qb AS (SELECT vec_id + 100000 AS id, embedding AS v
             FROM embeddings WHERE vec_id % 7 = 0
             UNION ALL
             SELECT vec_id + 200000 AS id, list_reverse(embedding) AS v
             FROM embeddings WHERE vec_id % 7 = 3),
      qfd AS (SELECT o.id, c.cid,
                list_reduce(list_transform(range(1, len(o.v) + 1),
                  i -> (o.v[i]::DOUBLE - c.c[i]) * (o.v[i]::DOUBLE - c.c[i])),
                  (a, b) -> a + b) AS dist
              FROM qb o CROSS JOIN c$iters c),
      qfr AS (SELECT id, cid, row_number() OVER
                (PARTITION BY id ORDER BY dist ASC, cid ASC) AS rk FROM qfd),
      cand AS (SELECT q.id AS query_id, mm.id AS neighbor_id
               FROM (SELECT id, cid FROM qfr WHERE rk <= 3) q
               JOIN memb mm ON q.cid = mm.cid),
      qs AS ($sliceSel),
      ad AS (SELECT c.query_id, c.neighbor_id,
                    sum(list_reduce(list_transform(range(1, len(q.slice) + 1),
                        i -> (q.slice[i] - b.c[i]) * (q.slice[i] - b.c[i])),
                      (a, b) -> a + b)) AS adist
             FROM cand c
             JOIN qs q ON q.id = c.query_id
             JOIN codes nc ON nc.id = c.neighbor_id AND nc.sub = q.sub
             JOIN cb b ON b.sub = q.sub AND b.cid = nc.code
             GROUP BY c.query_id, c.neighbor_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
            FROM ad)
      SELECT query_id, neighbor_id, round(adist, 4) AS adist,
             CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 3"""
    })

  /** Embedding-cosine near-dup over a corpus with planted noisy copies —
    * full-pipeline oracle: the planted float perturbation (×1.0001f) is
    * replayed bit-exactly (a 24-bit × 24-bit float product is exact in
    * double, so rounding the double product to FLOAT equals the engine's
    * float multiply), the SRP-LSH candidate step via [[lshTopKCtes]],
    * then the same top-10 cap → ≥0.99 filter → representative/max_cos
    * aggregate as `Dedup.embeddingNearDuplicates`.
    */
  val qEmbeddingDedup = Q(
    "q_embedding_neardup",
    (s, dir) => {
      val e = tables(s, dir).embeddings
      val planted = e.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.0001f)))
      Dedup.embeddingNearDuplicates(e.unionByName(planted), "vec_id", "embedding",
        threshold = 0.99)
    },
    Some(s"""${lshTopKCtes("""
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding,
                 x -> CAST(CAST(x AS DOUBLE)
                           * CAST(CAST(1.0001 AS FLOAT) AS DOUBLE) AS FLOAT)) AS embedding
        FROM embeddings WHERE vec_id % 5 = 0""")},
      f AS (SELECT vec_id, neighbor_id, round(cos, 4) AS cos
            FROM r WHERE rank <= 10 AND round(cos, 4) >= 0.99)
      SELECT vec_id,
             COALESCE(MIN(CASE WHEN neighbor_id < vec_id THEN neighbor_id END),
                      vec_id) AS representative,
             MAX(cos) AS max_cos
      FROM f GROUP BY vec_id"""))

  /** DuckDB replay of [[Similarity.semanticDedup]]: the shared quantized-
    * Lloyd assignment CTEs, the per-cell id-ranked size cap, within-cell
    * pair cosines on the 4-decimal grid, and the q_dedup_clusters
    * recursive transitive closure for the min-id representative.
    */
  private def semanticDedupSql(corpusSql: String, cells: Int, iters: Int, dp: Int,
      fitSample: Int, threshold: Double, cap: Int): String =
    s"""
      WITH RECURSIVE ${ivfAssignCtes(corpusSql, cells, iters, dp, fitSample)},
      memb AS (SELECT id, cid FROM fr WHERE rk = 1),
      cap AS (SELECT id, cid FROM (
                SELECT id, cid, row_number() OVER
                  (PARTITION BY cid ORDER BY id ASC) AS rk2 FROM memb)
              WHERE rk2 <= $cap),
      e AS (SELECT c.id, unnest(c.v) AS x,
                   unnest(range(1, len(c.v) + 1)) AS i
            FROM corpus c JOIN cap USING (id)),
      n AS (SELECT id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
            FROM e GROUP BY id),
      cp AS (SELECT a.id AS key_1, b.id AS key_2
             FROM cap a JOIN cap b ON a.cid = b.cid AND a.id < b.id),
      dt AS (SELECT c.key_1, c.key_2,
                    sum(CAST(ea.x AS DOUBLE) * CAST(eb.x AS DOUBLE)) AS d
             FROM cp c
             JOIN e ea ON ea.id = c.key_1
             JOIN e eb ON eb.id = c.key_2 AND ea.i = eb.i
             GROUP BY c.key_1, c.key_2),
      pr AS (SELECT key_1, key_2 FROM dt
             JOIN n na ON key_1 = na.id JOIN n nb ON key_2 = nb.id
             WHERE round(d / (na.nrm * nb.nrm), 4) >= $threshold),
      edges AS (SELECT key_1 AS a, key_2 AS b FROM pr
                UNION SELECT key_2, key_1 FROM pr),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      comp AS (SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a)
      SELECT c.id AS vec_id,
             COALESCE(comp.rep, c.id) AS representative,
             COALESCE(comp.rep, c.id) = c.id AS kept
      FROM corpus c LEFT JOIN comp ON comp.id = c.id"""

  /** SemDeDup-style semantic deduplication over embeddings with planted
    * ×1.0001f noisy copies (the q_embedding_neardup fixture): quantized-
    * Lloyd cells → within-cell cosine pairs → connected components →
    * min-id survivor. FULL-pipeline oracle: fit, assignment, cap, pair
    * cosines, and the component closure all replay in DuckDB.
    */
  val qSemanticDedup = Q(
    "q_semantic_dedup",
    (s, dir) => {
      val e = tables(s, dir).embeddings
      val planted = e.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.0001f)))
      Similarity.semanticDedup(e.unionByName(planted), "vec_id", "embedding",
        threshold = 0.99, cellCount = 8, fitSample = 10000,
        lloydIters = 5, lloydQuantize = 4, maxCellSize = 100000)
    },
    Some(semanticDedupSql(
      """SELECT vec_id AS id, embedding AS v FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS id,
                list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE)
                            * CAST(CAST(1.0001 AS FLOAT) AS DOUBLE) AS FLOAT)) AS v
         FROM embeddings WHERE vec_id % 7 = 0""",
      cells = 8, iters = 5, dp = 4, fitSample = 10000,
      threshold = 0.99, cap = 100000)))

  /** The YAML semantic_dedup STAGE under the gate: same SemDeDup
    * pipeline as q_semantic_dedup but driven through the workflow
    * runner's left-semi survivor join — the oracle replays the full fit
    * and keeps only component minima, proving the stage wiring adds
    * nothing and loses nothing.
    */
  val qWorkflowSemantic = Q(
    "q_workflow_semantic",
    (s, dir) => {
      val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/embeddings.parquet"
    file_type: parquet
semantic_dedup:
  id_col: vec_id
  vec_col: embedding
  threshold: 0.99
  cell_count: 8
"""
      val (df, _) = graft.workflow.Workflow.run(s, yaml)
      df.select("vec_id")
    },
    Some(s"""
      SELECT vec_id FROM (${semanticDedupSql(
        "SELECT vec_id AS id, embedding AS v FROM embeddings",
        cells = 8, iters = 5, dp = 4, fitSample = 10000,
        threshold = 0.99, cap = 100000)}
      ) WHERE kept"""))

  /** Duplicate clusters (connected components by min-label propagation)
    * over the deterministic n-gram-Jaccard candidate pairs; the oracle
    * computes the same components via a recursive transitive closure.
    */
  /** The shared recursive-transitive-closure CTE chain deriving `comp`
    * [key, cluster] from the deterministic n-gram-Jaccard pairs —
    * reused by q_dedup_clusters and q_leakage_split (prefix with
    * `WITH RECURSIVE`).
    */
  private def dupClusterCtes(from: String = "documents") = s"""norm AS (
        SELECT doc_id, lang, str_split($normSql, ' ') AS t FROM $from),
      sh AS (
        SELECT DISTINCT doc_id, lang,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
        FROM norm, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh1 AS (SELECT * FROM sh WHERE length(shingle) > 0),
      sh2 AS (SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY lang, shingle) AS df
                FROM sh1) WHERE df <= 1000),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS key_1, b.doc_id AS key_2, count(*) AS i
        FROM sh2 a JOIN sh2 b
          ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      pairs AS (
        SELECT key_1, key_2 FROM inter
        JOIN sizes na ON key_1 = na.doc_id
        JOIN sizes nb ON key_2 = nb.doc_id
        WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5),
      edges AS (SELECT key_1 AS a, key_2 AS b FROM pairs
                UNION SELECT key_2, key_1 FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (
        SELECT a AS key, least(a, min(b)) AS cluster FROM reach GROUP BY a)"""

  val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        tables(s, dir).documents, "text", "doc_id", blockCol = "lang",
        n = 3, threshold = 0.5).select("key_1", "key_2")
      Dedup.duplicateClusters(pairs)
    },
    Some(s"""
      WITH RECURSIVE ${dupClusterCtes()}
      SELECT key, cluster FROM comp"""))

  /** Leakage-safe split: every document splits by the md5 hash of its
    * duplicate-cluster REPRESENTATIVE (own id for singletons), so a
    * near-dup group never straddles train/test. The oracle replays the
    * full composition — recursive components, representative fallback,
    * and the cumulative md5 thresholds — row for row.
    */
  val qLeakageSplit = Q(
    "q_leakage_split",
    (s, dir) => {
      val d = tables(s, dir).documents
      val pairs = Dedup.ngramJaccardPairs(
        d, "text", "doc_id", blockCol = "lang",
        n = 3, threshold = 0.5).select("key_1", "key_2")
      Dedup.leakageSafeSplit(d, "doc_id", pairs,
        Seq("train" -> 0.8, "test" -> 0.2))
        .select("doc_id", "rep", "split")
    },
    Some {
      val thrTrain = Sampling.hashThresholdHex(0.8)
      s"""
      WITH RECURSIVE ${dupClusterCtes()},
      sel AS (
        SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.key)
      SELECT doc_id, rep,
        CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 15) < '$thrTrain'
             THEN 'train' ELSE 'test' END AS split
      FROM sel"""
    })

  /** The curation_pipeline WORKFLOW stage end-to-end (DSIR importance
    * selection → leakage-safe split), driven through the YAML runner:
    * the oracle replays the whole composition — the hashed-bigram DSIR
    * models, the deterministic Gumbel-top-k selection (1e-4-rounded key,
    * id tiebreak), the recursive near-dup components over the SURVIVING
    * subset, and the cumulative md5 split thresholds — row for row.
    */
  val qWorkflowCuration = Q(
    "q_workflow_curation",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |curation_pipeline:
           |  text_col: text
           |  id_col: doc_id
           |  dsir_select:
           |    target_col: lang
           |    target_value: en
           |    keep_k: 150
           |    num_buckets: 8192
           |  leakage_split:
           |    block_col: lang
           |    ngram: 3
           |    threshold: 0.5
           |    weights:
           |      - "train:0.8"
           |      - "test:0.2"
           |  source_overlap:
           |    source_col: source
           |""".stripMargin
      val (df, _) = graft.workflow.Workflow.run(s, yaml)
      df.select("doc_id", "rep", "split")
    },
    Some {
      val thrTrain = Sampling.hashThresholdHex(0.8)
      s"""
      WITH RECURSIVE
      norm0 AS (SELECT doc_id, lang, str_split($normSql, ' ') AS t
                FROM documents),
      uni AS (SELECT doc_id, lang, unnest(t) AS f FROM norm0),
      bi AS (SELECT doc_id, lang,
               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
             FROM norm0, unnest(range(1, len(t))) AS u(i)),
      f1 AS (SELECT * FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
             WHERE length(f) > 0),
      fb AS (SELECT doc_id, lang,
               ('0x' || substr(md5(f), 1, 15))::BIGINT % 8192 AS b FROM f1),
      cnts AS (SELECT b,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
                 sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nr
               FROM fb GROUP BY b),
      tot AS (SELECT sum(nt) AS t_n, sum(nr) AS r_n FROM cnts),
      lam AS (SELECT b,
                ln((CAST(nt AS DOUBLE) + 1.0) / (CAST(t_n AS DOUBLE) + 8192.0))
              - ln((CAST(nr AS DOUBLE) + 1.0) / (CAST(r_n AS DOUBLE) + 8192.0))
                AS lam
              FROM cnts, tot),
      sc AS (SELECT fb.doc_id, sum(lam.lam) AS score
             FROM fb JOIN lam USING (b)
             WHERE fb.lang <> 'en' GROUP BY fb.doc_id),
      gk AS (SELECT doc_id, round(score - ln(-ln(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  + 0.5) / 1152921504606846976.0)), 4) AS gumbel_key
             FROM sc),
      picked AS (SELECT doc_id FROM gk
                 ORDER BY gumbel_key DESC, doc_id ASC LIMIT 150),
      kept AS (SELECT * FROM documents
               WHERE lang = 'en' OR doc_id IN (SELECT doc_id FROM picked)),
      ${dupClusterCtes("kept")},
      sel AS (
        SELECT k.doc_id, COALESCE(c.cluster, k.doc_id) AS rep
        FROM kept k LEFT JOIN comp c ON k.doc_id = c.key)
      SELECT doc_id, rep,
        CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 15) < '$thrTrain'
             THEN 'train' ELSE 'test' END AS split
      FROM sel"""
    })

  /** Stratified sample (engine-RNG-specific → rows-only). */
  /** Gopher duplicate-2-gram character fraction — within-doc repetition
    * (chars in word bigrams occurring >1× / all bigram chars).
    */
  val qDupNgramFraction = Q(
    "q_dup_ngram_fraction",
    // compare the EXACT integer char counts (the ratio once landed
    // precisely on the 1e-4 HALF_UP grid at sf0.1 and the engines
    // rounded it apart)
    (s, dir) => TextOps.dupNgramCharFraction(tables(s, dir).documents, "text", "doc_id", n = 2)
      .select(col("key").as("doc_id"), col("dup_chars"), col("total_chars")),
    Some(s"""
      WITH norm AS (SELECT doc_id, str_split($normSql, ' ') AS t FROM documents),
      g AS (
        SELECT doc_id,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 1], ' ') AS shingle
        FROM norm, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
      g1 AS (SELECT * FROM g WHERE length(shingle) > 0),
      c AS (SELECT doc_id, shingle, count(*) AS cnt, length(shingle) AS len
            FROM g1 GROUP BY doc_id, shingle)
      SELECT doc_id,
        CAST(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) AS BIGINT) AS dup_chars,
        CAST(sum(cnt * len) AS BIGINT) AS total_chars
      FROM c GROUP BY doc_id"""))

  /** Exact-substring duplicate spans (Lee et al. 2021) — full oracle:
    * the fixture's small vocabulary makes 8-token windows repeat across
    * documents naturally; window hashing, cross-doc frequency, and the
    * interval merge all replay in DuckDB (grouping by the gram STRING
    * there — identical to grouping by its injective-in-practice 60-bit
    * md5 prefix here).
    */
  val qDupSpans = Q(
    "q_dup_spans",
    (s, dir) => Dedup.duplicateSpans(
      tables(s, dir).documents, "text", "doc_id", windowTokens = 8),
    Some(s"""
      WITH norm AS (
        SELECT doc_id, str_split($normSql, ' ') AS t FROM documents),
      g AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
              array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS gram
            FROM norm, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)),
      dfq AS (SELECT gram FROM (
                SELECT gram, count(DISTINCT doc_id) AS d FROM g GROUP BY gram)
              WHERE d >= 2),
      dp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dfq)),
      m AS (SELECT doc_id, pos,
              max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
            FROM dp),
      f AS (SELECT *, CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END AS nw
            FROM m),
      sgrp AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
               FROM f)
      SELECT doc_id AS key, min(pos) AS span_start, max(pos) + 8 AS span_end
      FROM sgrp GROUP BY doc_id, grp"""))

  /** Per-doc duplication profile (memorization-risk diagnostic): the
    * q_dup_spans merged intervals rolled up to a covered-token fraction
    * per document, zero-span docs included at 0.0. Counts are exact
    * integers; only the final fraction rounds.
    */
  val qDupProfile = Q(
    "q_dup_profile",
    (s, dir) => Dedup.duplicationProfile(
      tables(s, dir).documents, "text", "doc_id", windowTokens = 8)
      .withColumnRenamed("key", "doc_id"),
    Some(s"""
      WITH norm AS (
        SELECT doc_id, str_split($normSql, ' ') AS t FROM documents),
      g AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
              array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS gram
            FROM norm, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)),
      dfq AS (SELECT gram FROM (
                SELECT gram, count(DISTINCT doc_id) AS d FROM g GROUP BY gram)
              WHERE d >= 2),
      dp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dfq)),
      m AS (SELECT doc_id, pos,
              max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
            FROM dp),
      f AS (SELECT *, CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END AS nw
            FROM m),
      sgrp AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
               FROM f),
      spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
                FROM sgrp GROUP BY doc_id, grp),
      per_doc AS (SELECT doc_id, sum(span_end - span_start) AS dup_tokens,
                         count(*) AS n_spans
                  FROM spans GROUP BY doc_id),
      toks AS (SELECT doc_id,
                 CASE WHEN length($normSql) = 0 THEN 0
                      ELSE len(str_split($normSql, ' ')) END AS n_tokens
               FROM documents)
      SELECT t.doc_id, CAST(t.n_tokens AS INT) AS n_tokens,
             CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             CAST(coalesce(p.n_spans, 0) AS INT) AS n_spans,
             round(CASE WHEN t.n_tokens = 0 THEN 0.0
                   ELSE CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / t.n_tokens
                   END, 4) AS dup_fraction
      FROM toks t LEFT JOIN per_doc p USING (doc_id)"""))

  /** Treatment arm of [[qDupSpans]]: rebuild every document's normalized
    * text with the flagged cross-document token spans REMOVED (the
    * actual dedup apply step of the Lee et al. 2021 pipeline — flagging
    * without removal is only half the operator). Full oracle: the span
    * CTEs of q_dup_spans, then a positional anti-semi-join of the token
    * stream against the merged spans and an ordered reassembly; docs
    * with no flagged span pass through with their normalized text.
    */
  val qDupSpanRemoval = Q(
    "q_dup_span_removal",
    (s, dir) => Dedup.removeDuplicateSpans(
      tables(s, dir).documents, "text", "doc_id", windowTokens = 8),
    Some(s"""
      WITH norm AS (
        SELECT doc_id, str_split($normSql, ' ') AS t FROM documents),
      g AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
              array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS gram
            FROM norm, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)),
      dfq AS (SELECT gram FROM (
                SELECT gram, count(DISTINCT doc_id) AS d FROM g GROUP BY gram)
              WHERE d >= 2),
      dp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dfq)),
      m AS (SELECT doc_id, pos,
              max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
            FROM dp),
      f AS (SELECT *, CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END AS nw
            FROM m),
      sgrp AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
               FROM f),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
                FROM sgrp GROUP BY doc_id, grp),
      tok AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, t[CAST(i AS INT)] AS tk
              FROM norm, unnest(range(1, len(t) + 1)) AS u(i)),
      kept AS (SELECT tok.doc_id, tok.pos, tok.tk FROM tok
               WHERE NOT EXISTS (SELECT 1 FROM spans sp
                 WHERE sp.doc_id = tok.doc_id
                   AND tok.pos >= sp.s AND tok.pos < sp.e)),
      reb AS (SELECT doc_id, array_to_string(list(tk ORDER BY pos), ' ') AS text_clean
              FROM kept GROUP BY doc_id),
      rem AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS n_removed
              FROM spans GROUP BY doc_id)
      SELECT n.doc_id,
             coalesce(r.text_clean, '') AS text_clean,
             coalesce(rem.n_removed, CAST(0 AS BIGINT)) AS n_removed
      FROM norm n LEFT JOIN reb r ON n.doc_id = r.doc_id
                  LEFT JOIN rem ON n.doc_id = rem.doc_id"""))

  /** ANN quality evaluation: recall@3 of the approximate IVF path
    * (nprobe = 3 of 8 cells) against the exact brute-force top-3 — the
    * measurement a pipeline runs BEFORE trusting an ANN index at scale.
    * mean_recall divides exact integer totals once (sum(matched) /
    * (3·n_queries)) so the double result is order-independent on both
    * engines; the oracle embeds the full IVF replay and the exact top-k
    * replay as derived subqueries and joins them.
    */
  val qAnnRecall = Q(
    "q_ann_recall",
    (s, dir) => {
      val emb = tables(s, dir).embeddings
      val brute = Similarity
        .bruteForceTopK(emb, "vec_id", "embedding", k = 3)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("neighbor_id").cast("long").as("neighbor_id"))
      val ann = Similarity
        .ivfTopK(emb, "vec_id", "embedding", k = 3, cellCount = 8, nprobe = 3,
          fitSample = 10000, lloydIters = 5, lloydQuantize = 4)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("neighbor_id").cast("long").as("neighbor_id"), lit(1).as("__m"))
      brute.join(ann, Seq("vec_id", "neighbor_id"), "left")
        .groupBy(col("vec_id"))
        .agg(count(col("__m")).as("matched"))
        .agg(
          count(lit(1)).as("n_queries"),
          round(sum(col("matched")).cast("double") /
            (lit(3) * count(lit(1))), 4).as("mean_recall"),
          sum(when(col("matched") === 3, 1L).otherwise(0L)).as("perfect_queries"))
    },
    Some(s"""
      WITH brute AS (SELECT vec_id, neighbor_id FROM ($cosineTopK3Sql)),
      ann AS (SELECT vec_id, neighbor_id FROM (${ivfTopKSql(cells = 8,
        nprobe = 3, iters = 5, dp = 4, k = 3, fitSample = 10000)})),
      hit AS (SELECT b.vec_id, count(a.neighbor_id) AS matched
              FROM brute b LEFT JOIN ann a
                ON a.vec_id = b.vec_id AND a.neighbor_id = b.neighbor_id
              GROUP BY b.vec_id)
      SELECT count(*) AS n_queries,
             round(CAST(sum(matched) AS DOUBLE) / (3 * count(*)), 4) AS mean_recall,
             CAST(sum(CASE WHEN matched = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS perfect_queries
      FROM hit"""))

  /** Zipf-law vocabulary fit — the corpus-health diagnostic (natural
    * text slopes toward −1; template spam flattens it). Deterministic
    * top-V ranking (count desc, term asc), 8-dp pre-rounded DECIMAL
    * regression sums; only the ln/libm ulp (PSI precedent) sits under
    * the 4-dp round.
    */
  val qZipfFit = Q(
    "q_zipf_fit",
    (s, dir) => TextOps.zipfFit(tables(s, dir).documents, "text", topV = 100),
    Some("""
      WITH w AS (
        SELECT unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        FROM documents),
      v AS (SELECT w, count(*) AS f FROM w WHERE length(w) > 0
            GROUP BY w ORDER BY f DESC, w ASC LIMIT 100),
      fit AS (SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, w ASC) AS DOUBLE)) AS x,
                     ln(CAST(f AS DOUBLE)) AS y, f FROM v),
      s AS (SELECT count(*) AS n,
              CAST(sum(CAST(round(x, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sx,
              CAST(sum(CAST(round(y, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sy,
              CAST(sum(CAST(round(x * y, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sxy,
              CAST(sum(CAST(round(x * x, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
              max(f) AS topf
            FROM fit)
      SELECT n AS n_terms,
        CASE WHEN n > 1 THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) END AS slope,
        CASE WHEN n > 1 THEN
          round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4) END AS intercept,
        CAST(topf AS BIGINT) AS top_freq
      FROM s"""))

  val qStratifiedSample = Q(
    "q_stratified_sample",
    (s, dir) => Sampling.dataSample(tables(s, dir).customer,
      fraction = 0.5, method = "stratified", strataCols = Seq("c_mktsegment"),
      stratifiedType = "population", seed = 42L),
    None)

  /** Deterministic stratified sampling, balanced mode: every stratum
    * keeps EXACTLY ⌊fraction · min-stratum-size⌋ rows, chosen by
    * md5-prefix rank — no RNG, so the oracle replays the kept row set
    * row-for-row (the Bernoulli q_stratified_sample can only ever be
    * rows-only).
    */
  val qStratifiedBalanced = Q(
    "q_stratified_balanced",
    (s, dir) => Sampling.deterministicStratifiedSample(
      tables(s, dir).customer, fraction = 0.2,
      strataCols = Seq("c_mktsegment"), keyCols = Seq("c_custkey"),
      stratifiedType = "balanced")
      .select(col("c_custkey"), col("c_mktsegment")),
    Some("""
      WITH h AS (
        SELECT c_custkey, c_mktsegment,
          ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT AS hh
        FROM customer),
      r AS (
        SELECT c_custkey, c_mktsegment,
          row_number() OVER (PARTITION BY c_mktsegment ORDER BY hh, c_custkey) AS rn
        FROM h),
      m AS (
        SELECT min(cnt) AS mn
        FROM (SELECT count(*) AS cnt FROM customer GROUP BY c_mktsegment))
      SELECT c_custkey, c_mktsegment FROM r, m WHERE rn <= FLOOR(0.2 * mn)"""))

  /** Population mode of the same sampler: per-stratum target is
    * proportional (⌊fraction · stratum size⌋) — also exactly replayed.
    */
  val qStratifiedPopulation = Q(
    "q_stratified_population",
    (s, dir) => Sampling.deterministicStratifiedSample(
      tables(s, dir).customer, fraction = 0.2,
      strataCols = Seq("c_mktsegment"), keyCols = Seq("c_custkey"),
      stratifiedType = "population")
      .select(col("c_custkey"), col("c_mktsegment")),
    Some("""
      WITH h AS (
        SELECT c_custkey, c_mktsegment,
          ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT AS hh
        FROM customer),
      r AS (
        SELECT c_custkey, c_mktsegment,
          row_number() OVER (PARTITION BY c_mktsegment ORDER BY hh, c_custkey) AS rn,
          count(*) OVER (PARTITION BY c_mktsegment) AS cnt
        FROM h)
      SELECT c_custkey, c_mktsegment FROM r WHERE rn <= FLOOR(0.2 * cnt)"""))

  /** Composed training-data pipeline: quality filter → exact dedup →
    * per-language token statistics, all in one oracle-checked plan.
    */
  val qTextPipeline = Q(
    "q_text_pipeline",
    (s, dir) => {
      val docs = tables(s, dir).documents
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .filter(col("quality") >= 0.66)
      val deduped = Dedup.exactDedup(docs, "text", "doc_id")
      deduped
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          (sum(col("n_tokens").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double") / count(lit(1))).as("mean_tokens"))
    },
    Some {
      val stops = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH scored AS (
        SELECT *,
          round((
            (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(str_split_regex(trim(text), '\\s+')) END) BETWEEN 10 AND 100000
              THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN length(text) = 0 OR
                  CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                    / length(text) <= 0.2 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN len(list_filter(str_split($normSql, ' '), x -> x IN ($stops))) > 0
              THEN 1.0 ELSE 0.0 END)
          ) / 3, 4) AS quality
        FROM documents),
      filtered AS (SELECT * FROM scored WHERE quality >= 0.66),
      deduped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
          FROM filtered) WHERE rn = 1),
      toks AS (SELECT lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_tokens
        FROM deduped)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(sum(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_tokens
      FROM toks GROUP BY lang"""
    })

  /** Gopher-style repetition signals: duplicate n-gram fraction per doc
    * for n = 1, 2, 3 plus top-bigram coverage — pure map-only expressions
    * (no explode/shuffle). Tokens and the bigram array are materialized
    * as columns so each is built once per row and shared across signals
    * (Catalyst keeps the staged Projects because the aliases are
    * referenced more than once and are non-cheap); top coverage is the
    * linear sorted-run aggregate, not the quadratic per-distinct count.
    */
  val qRepetitionScore = Q(
    "q_repetition_score",
    (s, dir) => tables(s, dir).documents
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        TextOps.ngramsFromTokens(col("toks"), 2).as("g2"),
        TextOps.ngramsFromTokens(col("toks"), 3).as("g3"))
      .select(
        col("doc_id"),
        TextOps.repetitionFromGrams(col("toks")).as("rep_1"),
        TextOps.repetitionFromGrams(col("g2")).as("rep_2"),
        TextOps.repetitionFromGrams(col("g3")).as("rep_3"),
        TextOps.topCoverageFromGrams(col("g2")).as("top2_cov")),
    Some {
      def repSql(n: Int) =
        s"""CASE WHEN len(toks) < $n THEN 0.0
            ELSE round(1.0 - CAST(len(list_distinct(g_$n)) AS DOUBLE) / len(g_$n), 4)
            END AS rep_$n"""
      def gramSql(n: Int) =
        s"""list_transform(range(1, greatest(len(toks) - $n, -1) + 2),
            i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + $n - 1], ' ')) AS g_$n"""
      val topCov =
        """CASE WHEN len(toks) < 2 THEN 0.0
           ELSE round(CAST(list_max(list_transform(list_distinct(g_2),
                  x -> len(list_filter(g_2, y -> y = x)))) AS DOUBLE) / len(g_2), 4)
           END AS top2_cov"""
      s"""
      WITH t AS (SELECT doc_id, str_split($normSql, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, toks, ${gramSql(1)}, ${gramSql(2)}, ${gramSql(3)} FROM t)
      SELECT doc_id, ${repSql(1)}, ${repSql(2)}, ${repSql(3)}, $topCov FROM g"""
    })

  /** Benchmark decontamination: treat source 'src0' as the held-out
    * benchmark and report every other doc's shared-shingle count and
    * containment against it.
    */
  val qContamination = Q(
    "q_contamination",
    (s, dir) => {
      val docs = tables(s, dir).documents
      Dedup.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 3)
        .select(col("key").as("doc_id"), col("shared_shingles"),
          col("n_shingles"), col("containment"))
    },
    Some(s"""
      WITH norm AS (
        SELECT doc_id, source, str_split($normSql, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
        FROM norm, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh1 AS (SELECT * FROM sh WHERE length(shingle) > 0),
      bench AS (SELECT DISTINCT shingle FROM sh1 WHERE source = 'src0'),
      corp AS (SELECT * FROM sh1 WHERE source <> 'src0'),
      sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY 1),
      shared AS (
        SELECT doc_id, count(*) AS shared_shingles
        FROM corp JOIN bench USING (shingle) GROUP BY 1)
      SELECT doc_id, shared_shingles, n_shingles,
             round(CAST(shared_shingles AS DOUBLE) / n_shingles, 4) AS containment
      FROM shared JOIN sizes USING (doc_id)
      WHERE shared_shingles >= 1"""))

  /** The text_pipeline WORKFLOW stage end-to-end (quality filter → exact
    * dedup → n-gram-Jaccard near-dup treatment → text stats), driven
    * through the YAML runner; the oracle replays every stage in SQL —
    * including the connected-components representative selection — so
    * the configured pipeline, not just its pieces, is oracle-checked.
    */
  val qWorkflowText = Q(
    "q_workflow_text",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |text_pipeline:
           |  text_col: text
           |  id_col: doc_id
           |  quality_filter:
           |    min_score: 0.66
           |  exact_dedup: true
           |  near_dedup:
           |    block_col: lang
           |    ngram: 3
           |    threshold: 0.5
           |  text_stats: true
           |""".stripMargin
      val (df, _) = graft.workflow.Workflow.run(s, yaml)
      df.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
    },
    Some {
      val stops = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH RECURSIVE scored AS (
        SELECT *,
          round((
            (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(str_split_regex(trim(text), '\\s+')) END) BETWEEN 10 AND 100000
              THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN length(text) = 0 OR
                  CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                    / length(text) <= 0.2 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN len(list_filter(str_split($normSql, ' '), x -> x IN ($stops))) > 0
              THEN 1.0 ELSE 0.0 END)
          ) / 3, 4) AS quality
        FROM documents),
      filtered AS (SELECT * FROM scored WHERE quality >= 0.66),
      deduped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
          FROM filtered) WHERE rn = 1),
      norm2 AS (SELECT doc_id, lang, str_split($normSql, ' ') AS t FROM deduped),
      sh AS (
        SELECT DISTINCT doc_id, lang,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
        FROM norm2, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh1 AS (SELECT * FROM sh WHERE length(shingle) > 0),
      sh2 AS (SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY lang, shingle) AS df
                FROM sh1) WHERE df <= 1000),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS key_1, b.doc_id AS key_2, count(*) AS i
        FROM sh2 a JOIN sh2 b
          ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      pairs AS (
        SELECT key_1, key_2 FROM inter
        JOIN sizes na ON key_1 = na.doc_id
        JOIN sizes nb ON key_2 = nb.doc_id
        WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5),
      edges AS (SELECT key_1 AS a, key_2 AS b FROM pairs
                UNION SELECT key_2, key_1 FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (
        SELECT a AS key, least(a, min(b)) AS cluster FROM reach GROUP BY a),
      dropk AS (SELECT key FROM comp WHERE key <> cluster),
      kept AS (SELECT * FROM deduped
               WHERE doc_id NOT IN (SELECT key FROM dropk)),
      toks AS (SELECT lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_tokens
        FROM kept)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM toks GROUP BY lang"""
    })

  /** Deterministic content-hash sample: md5-threshold filter — exactly
    * reproducible on any engine (oracle hash-checks the SAMPLED ROWS,
    * not just counts), stable under repartitioning/retries, map-only.
    */
  val qDeterministicSample = Q(
    "q_deterministic_sample",
    (s, dir) => Sampling.deterministicSample(
      tables(s, dir).customer, 0.5, Seq("c_custkey"))
      .select("c_custkey", "c_name", "c_mktsegment"),
    Some {
      val thr = Sampling.hashThresholdHex(0.5)
      s"""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15) < '$thr'"""
    })

  /** Deterministic train/valid/test split by cumulative md5 thresholds;
    * oracle checks the per-split assignment exactly (row-level labels,
    * aggregated to per-split counts for a compact result).
    */
  val qHashSplit = Q(
    "q_hash_split",
    (s, dir) => Sampling.deterministicSplit(
        tables(s, dir).customer,
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
        Seq("c_custkey"))
      .groupBy("split").agg(count(lit(1)).as("n_rows")),
    Some {
      // same cumulative-weight arithmetic as deterministicSplit so the
      // inlined thresholds are bit-identical
      val weights = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
      val total = weights.map(_._2).sum
      val cum = weights.scanLeft(0.0)(_ + _._2 / total).tail
      val thrTrain = Sampling.hashThresholdHex(cum(0))
      val thrValid = Sampling.hashThresholdHex(cum(1))
      s"""
      WITH t AS (SELECT CASE
          WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15) < '$thrTrain' THEN 'train'
          WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15) < '$thrValid' THEN 'valid'
          ELSE 'test' END AS split
        FROM customer)
      SELECT split, count(*) AS n_rows FROM t GROUP BY split"""
    })

  /** PII scrubbing (emails → IPs → phones, in that order) over documents
    * with deterministic synthetic PII injected per doc_id residue class —
    * the oracle replays the same injection + the same RE2-safe patterns
    * and must reproduce the redacted text bit-for-bit.
    */
  val qPiiRedaction = Q(
    "q_pii_redaction",
    (s, dir) => {
      val d = tables(s, dir).documents
      val injected = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at user"), col("doc_id").cast("string"), lit("@example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" server 10.74."), (col("doc_id") % 256).cast("string"), lit(".15 up")))
          .otherwise(concat(lit(" call +14155550"),
            lpad((col("doc_id") % 100).cast("string"), 3, "0"))))
      val withPii = d.select(col("doc_id"), injected.as("__pii_text"))
      val emailsGone = regexp_replace(col("__pii_text"), TextOps.emailRe, "[EMAIL]")
      withPii
        .withColumn("n_emails", regexp_count(col("__pii_text"), lit(TextOps.emailRe)))
        .withColumn("__no_email", emailsGone)
        .withColumn("n_ips", regexp_count(col("__no_email"), lit(TextOps.ipRe)))
        .withColumn("__no_ip", regexp_replace(col("__no_email"), TextOps.ipRe, "[IP]"))
        .withColumn("n_phones", regexp_count(col("__no_ip"), lit(TextOps.phoneRe)))
        .withColumn("redacted", regexp_replace(col("__no_ip"), TextOps.phoneRe, "[PHONE]"))
        .select("doc_id", "redacted", "n_emails", "n_ips", "n_phones")
    },
    Some {
      val (em, ip, ph) = (TextOps.emailRe, TextOps.ipRe, TextOps.phoneRe)
      s"""
      WITH inj AS (SELECT doc_id, text || CASE
          WHEN doc_id % 3 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
          WHEN doc_id % 3 = 1 THEN ' server 10.74.' || CAST(doc_id % 256 AS VARCHAR) || '.15 up'
          ELSE ' call +14155550' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') END AS t
        FROM documents),
      st AS (SELECT doc_id, t,
          regexp_replace(t, '$em', '[EMAIL]', 'g') AS no_email FROM inj),
      st2 AS (SELECT doc_id, t, no_email,
          regexp_replace(no_email, '$ip', '[IP]', 'g') AS no_ip FROM st)
      SELECT doc_id,
        regexp_replace(no_ip, '$ph', '[PHONE]', 'g') AS redacted,
        len(regexp_extract_all(t, '$em')) AS n_emails,
        len(regexp_extract_all(no_email, '$ip')) AS n_ips,
        len(regexp_extract_all(no_ip, '$ph')) AS n_phones
      FROM st2"""
    })

  /** Gopher quality rules (Rae et al. 2021 App. A1.1): per-doc signals
    * plus the composite pass flag, oracle-checked end to end.
    */
  val qGopherQuality = Q(
    "q_gopher_quality",
    (s, dir) => TextOps.gopherSignals(tables(s, dir).documents, "text", "doc_id"),
    Some {
      val stops = TextOps.gopherStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH t AS (SELECT doc_id, text,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_words,
          str_split(text, chr(10)) AS lines,
          str_split($normSql, ' ') AS toks
        FROM documents),
      sig AS (SELECT doc_id, n_words,
          round(CASE WHEN n_words = 0 THEN 0.0
            ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / n_words END, 4)
            AS mean_word_len,
          round(CASE WHEN n_words = 0 THEN 0.0
            ELSE CAST(len(regexp_extract_all(text, '[#…]|\\.\\.\\.')) AS DOUBLE) / n_words END, 4)
            AS symbol_ratio,
          round(CAST(len(list_filter(lines, l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
            / len(lines), 4) AS bullet_ratio,
          round(CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE)
            / len(lines), 4) AS ellipsis_ratio,
          len(list_intersect(list_distinct(toks), [$stops])) AS stop_hits
        FROM t)
      SELECT *,
        (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
          AND symbol_ratio < 0.1 AND bullet_ratio < 0.9 AND ellipsis_ratio < 0.3
          AND stop_hits >= 2 AS passes
      FROM sig"""
    })

  /** Corpus-level line dedup with a boilerplate footer injected on every
    * document: the footer must survive only in the lowest-doc_id document
    * and exact-duplicate documents must come back empty. Oracle replays
    * the same injection + first-occurrence rule with window functions.
    */
  val qLineDedup = Q(
    "q_line_dedup",
    (s, dir) => {
      val footer = "subscribe to our newsletter for updates"
      val d = tables(s, dir).documents
        .withColumn("__t2", concat(col("text"), lit("\n" + footer)))
      Dedup.lineDedup(d, "__t2", "doc_id")
    },
    Some("""
      WITH lines AS (
        SELECT doc_id, 0 AS pos, text AS line FROM documents
        UNION ALL
        SELECT doc_id, 1, 'subscribe to our newsletter for updates' FROM documents),
      r AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
            FROM lines),
      g AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
                   count(*) AS n_kept
            FROM r WHERE rn = 1 GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(g.text_clean, '') AS text_clean,
        COALESCE(g.n_kept, 0) AS n_kept,
        2 - COALESCE(g.n_kept, 0) AS n_dropped
      FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id"""))

  /** Token-budget shard packing via the two-phase distributed prefix sum;
    * the oracle recomputes the assignment with an exclusive running-sum
    * window (fine at oracle scale; the Spark path never single-partitions).
    */
  val qTokenShards = Q(
    "q_token_shards",
    (s, dir) => {
      val d = tables(s, dir).documents.select(
        col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      Sharding.packByBudget(d, "n_tokens", Seq("doc_id"), budget = 2000L)
        .select("doc_id", "n_tokens", "shard")
    },
    Some("""
      WITH t AS (SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\s+')) END AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
          COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        FROM t)
      SELECT doc_id, n_tokens,
        CAST(floor(CAST(prev AS DOUBLE) / 2000) AS BIGINT) AS shard
      FROM c"""))

  /** Per-source corpus health report (the per-domain curation table every
    * large-scale dataset effort maintains): volume, token mass, quality,
    * language spread, and exact-duplicate rate within each source.
    */
  val qSourceQuality = Q(
    "q_source_quality",
    (s, dir) => {
      val d = tables(s, dir).documents
        .withColumn("__q", TextOps.qualityScore(col("text")))
        .withColumn("__tok", TextOps.tokenCount(col("text")))
        .withColumn("__fp", TextOps.fingerprint(col("text")))
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok").cast("long")).as("total_tokens"),
        round(avg(col("__q")), 4).as("mean_quality"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("__fp"))).as("n_exact_dups"))
    },
    Some {
      val stops = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH t AS (SELECT source, lang,
          md5($normSql) AS fp,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\\s+')) END AS tok,
          round((
            (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(str_split_regex(trim(text), '\\s+')) END) BETWEEN 10 AND 100000
               THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN length(text) = 0 THEN 1.0
               WHEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                    / length(text) <= 0.2 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN len(list_filter(str_split($normSql, ' '), x -> x IN ($stops))) > 0
               THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS q
        FROM documents)
      SELECT source, count(*) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS total_tokens,
        round(avg(q), 4) AS mean_quality,
        count(DISTINCT lang) AS n_langs,
        count(*) - count(DISTINCT fp) AS n_exact_dups
      FROM t GROUP BY source"""
    })

  /** Per-label embedding centroids, one (label, dim, value) row each —
    * posexplode + groupBy: the partial-aggregating path (map-side
    * combine on (label, dim)), never a collect of vectors to the driver.
    */
  val qEmbeddingCentroid = Q(
    "q_embedding_centroid",
    (s, dir) => tables(s, dir).embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      // 6 decimals: centroid magnitudes are ~1e-4..1e-1, so a 1e-4 grid
      // sat AT the data's resolution and flipped at sf0.1 (engines' float
      // sum order differs by ~1e-15); 1e-6 keeps the grid far below the
      // data and far above the noise. `+ 0.0` collapses -0.0 → 0.0
      // identically on both engines.
      .agg((round(avg(col("v").cast("double")), 6) + lit(0.0)).as("centroid")),
    Some("""
      WITH e AS (SELECT label,
          unnest(range(0, len(embedding))) AS dim,
          unnest(embedding) AS v
        FROM embeddings)
      SELECT label, dim, round(avg(CAST(v AS DOUBLE)), 6) + 0.0 AS centroid
      FROM e GROUP BY label, dim"""))

  /** MinHash estimator-error evaluation: for every band-candidate pair,
    * the signature matching-fraction ESTIMATE next to the exact n-gram
    * Jaccard and their absolute error — the measurement that calibrates
    * (numHashes, bands, threshold) before trusting the sketch at scale
    * (companion of q_ann_recall for the dedup family). est and exact are
    * each a single division of exact integers, and abs_err is their raw
    * double difference — bit-identical cross-engine with no re-rounding.
    */
  val qMinhashEstimateError = Q(
    "q_minhash_estimate_error",
    (s, dir) => {
      val d = tables(s, dir).documents
      val perturbed = d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" perturbed suffix token")))
      val corpus = d.unionByName(perturbed).select("doc_id", "text")
      // three consumers each for the shingle stream (signature fit,
      // both sides of the exact-Jaccard join) and the signature frame
      // (banding, both sig-array attach sides): materialize each once
      // so the normalize->gram explode and the 16-way min aggregate run
      // once instead of per consumer (plan had 4 Generate + 8 scans)
      val sh = Dedup.materialize(Dedup.shingles(corpus, "text", "doc_id", 3))
      val sigM = Dedup.materialize(Dedup.minhashSignaturesMd5(sh, 16))
      val cand = Dedup.md5BandCandidates(sigM, 16, 4, 200)
      val sigArr = sigM.select(col("key"),
        array((0 until 16).map(i => col(s"sig_$i")): _*).as("sig"))
      val est = cand
        .join(sigArr.select(col("key").as("key_1"), col("sig").as("sig1")), "key_1")
        .join(sigArr.select(col("key").as("key_2"), col("sig").as("sig2")), "key_2")
        .select(col("key_1"), col("key_2"),
          Dedup.sigMatchEstimate(col("sig1"), col("sig2"), 16).as("est_jaccard"))
      val exact = Dedup.jaccardOfPairs(cand, sh)
        .withColumnRenamed("jaccard", "exact_jaccard")
      est.join(exact, Seq("key_1", "key_2"))
        .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
    },
    Some {
      val matchSum = (0 until 16)
        .map(i => s"CASE WHEN s1.sig_$i = s2.sig_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' perturbed suffix token' AS text
        FROM documents WHERE doc_id % 7 = 0),
      norm AS (SELECT doc_id, str_split($normSql, ' ') AS t FROM corpus),
      sh0 AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
        FROM norm, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh AS (SELECT * FROM sh0 WHERE length(shingle) > 0),
      h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
      sig AS (SELECT doc_id, ${md5SigDefs(16)} FROM h GROUP BY doc_id),
      bands AS (${md5BandSelects("sig")}),
      capped AS (SELECT * FROM (
          SELECT *, count(*) OVER (PARTITION BY band, v0, v1, v2, v3) AS sz
          FROM bands) WHERE sz <= 200),
      cand AS (
        SELECT DISTINCT a.doc_id AS key_1, b.doc_id AS key_2
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
         AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id),
      est AS (SELECT cand.key_1, cand.key_2,
                round(CAST($matchSum AS DOUBLE) / 16, 4) AS est_jaccard
              FROM cand
              JOIN sig s1 ON s1.doc_id = cand.key_1
              JOIN sig s2 ON s2.doc_id = cand.key_2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS key_1, b.doc_id AS key_2, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT e.key_1, e.key_2, e.est_jaccard,
        round(CAST(COALESCE(i.i, 0) AS DOUBLE)
          / (na.n + nb.n - COALESCE(i.i, 0)), 4) AS exact_jaccard,
        abs(e.est_jaccard -
          round(CAST(COALESCE(i.i, 0) AS DOUBLE)
            / (na.n + nb.n - COALESCE(i.i, 0)), 4)) AS abs_err
      FROM est e
      LEFT JOIN inter i ON e.key_1 = i.key_1 AND e.key_2 = i.key_2
      JOIN sizes na ON e.key_1 = na.doc_id
      JOIN sizes nb ON e.key_2 = nb.doc_id"""
    })

  /** Incremental dedup against a SAVED MinHash band index — the 100 TB
    * posture: the corpus-side signature job runs once and persists
    * ([[graft.functions.Dedup.minhashIndexMd5]] → parquet → re-read, so
    * the hash match proves the index round-trips disk), and the new
    * batch only hashes itself and equi-joins the index buckets
    * ([[graft.functions.Dedup.dedupAgainstIndexMd5]]). Fixture: planted
    * near-dups (suffix-perturbed copies → flagged) plus word-REVERSED
    * novels (no shared shingles → clean). Verification is the stored-
    * signature matching-fraction estimate — corpus text is never
    * re-read. FULL oracle: both signature matrices, band buckets on raw
    * values, the index-side bucket cap, the estimate, and the per-doc
    * min-representative aggregate all replay in DuckDB.
    */
  val qIndexDedup = Q(
    "q_index_dedup",
    (s, dir) => {
      // per-scale-factor scratch (bounded dir count, no cross-SF clobber
      // when bench/TriScale tiers interleave)
      val idxDir = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp"),
        "graft_q_index_dedup_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      val d = tables(s, dir).documents
      Dedup.minhashIndexMd5(d, "text", "doc_id", shingleSize = 3,
          numHashes = 16, bands = 4)
        .write.mode("overwrite").parquet(idxDir)
      val index = s.read.parquet(idxDir)
      val nearDups = d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" perturbed suffix token")))
      val novels = d.filter(col("doc_id") % 7 === 3)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text",
          concat_ws(" ", reverse(split(TextOps.normalizeText(col("text")), " "))))
      val newb = nearDups.unionByName(novels).select("doc_id", "text")
      Dedup.dedupAgainstIndexMd5(newb, index, "text", "doc_id",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .withColumnRenamed("key", "doc_id")
    },
    Some {
      val matchSum = (0 until 16)
        .map(i => s"CASE WHEN cs.sig_$i = ns.sig_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH newb AS (
        SELECT doc_id + 100000 AS doc_id,
               text || ' perturbed suffix token' AS text
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 200000 AS doc_id,
               array_to_string(list_reverse(str_split($normSql, ' ')), ' ') AS text
        FROM documents WHERE doc_id % 7 = 3),
      cn AS (SELECT doc_id, str_split($normSql, ' ') AS t FROM documents),
      csh0 AS (SELECT DISTINCT doc_id,
                 array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
               FROM cn, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      ch AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
             FROM csh0 WHERE length(shingle) > 0),
      csig AS (SELECT doc_id, ${md5SigDefs(16)} FROM ch GROUP BY doc_id),
      nn AS (SELECT doc_id, str_split($normSql, ' ') AS t FROM newb),
      nsh0 AS (SELECT DISTINCT doc_id,
                 array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
               FROM nn, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      nh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
             FROM nsh0 WHERE length(shingle) > 0),
      nsig AS (SELECT doc_id, ${md5SigDefs(16)} FROM nh GROUP BY doc_id),
      cb AS (${md5BandSelects("csig")}),
      cbc AS (SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY band, v0, v1, v2, v3) AS sz
                FROM cb) WHERE sz <= 200),
      nb AS (${md5BandSelects("nsig")}),
      cand AS (SELECT DISTINCT n.doc_id AS new_key, c.doc_id AS idx_key
               FROM nb n JOIN cbc c
                 ON n.band = c.band AND n.v0 = c.v0 AND n.v1 = c.v1
                AND n.v2 = c.v2 AND n.v3 = c.v3),
      est AS (SELECT cand.new_key, cand.idx_key,
                round(CAST($matchSum AS DOUBLE) / 16, 4) AS est
              FROM cand
              JOIN csig cs ON cs.doc_id = cand.idx_key
              JOIN nsig ns ON ns.doc_id = cand.new_key),
      flagged AS (SELECT new_key, min(idx_key) AS representative,
                    max(est) AS best_est
                  FROM est WHERE est >= 0.5 GROUP BY new_key)
      SELECT nw.doc_id,
             f.representative IS NOT NULL AS is_dup,
             f.representative, f.best_est
      FROM newb nw LEFT JOIN flagged f ON nw.doc_id = f.new_key"""
    })

  /** MinHash signature matrix under the engine-portable md5 hash family —
    * the core shingle → hash → min computation of the near-dup pipeline,
    * hash-checked bit-for-bit (band grouping + candidate verification are
    * covered by the oracle-green q_ngram_jaccard / q_dedup_clusters logic
    * and the RecallSpec gates).
    */
  val qMinhashSignatures = Q(
    "q_minhash_signatures",
    (s, dir) => {
      val sh = Dedup.shingles(tables(s, dir).documents, "text", "doc_id", 3)
      Dedup.minhashSignaturesMd5(sh, 8).withColumnRenamed("key", "doc_id")
    },
    Some {
      s"""
      WITH toks AS (SELECT doc_id, str_split($normSql, ' ') AS tk FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(
          list_transform(range(1, len(tk) - 1),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
        FROM toks),
      h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
            FROM sh WHERE length(shingle) > 0)
      SELECT doc_id, ${md5SigDefs(8)} FROM h GROUP BY doc_id"""
    })

  /** SimHash fingerprints under the md5 vote family — bit-exact across
    * engines (chunk-bucket candidate join + hamming verify stay covered
    * by q_simhash_neardup's recall gates and StreamingSpec).
    */
  val qSimhashFingerprint = Q(
    "q_simhash_fingerprint",
    (s, dir) => Dedup.simhashMd5(tables(s, dir).documents, "text", "doc_id")
      .withColumnRenamed("key", "doc_id"),
    Some {
      s"""
      WITH toks AS (SELECT doc_id,
          unnest(list_distinct(str_split($normSql, ' '))) AS tok FROM documents),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM toks WHERE length(tok) > 0),
      v AS (SELECT doc_id, $simhashVoteDefs FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($simhashFold AS BIGINT) AS simhash FROM v"""
    })

  /** Scalar int8 quantization of the embedding column against global
    * [min, max] bounds (4× storage cut for ANN shortlists at 100 TB):
    * one tiny bounds agg broadcast back, then a map-only encode. The
    * oracle checks every code via the per-vector code sum plus the max
    * reconstruction error.
    */
  val qEmbeddingQuantize = Q(
    "q_embedding_quantize",
    (s, dir) => {
      val e = tables(s, dir).embeddings
      val bounds = e.agg(
        min(array_min(col("embedding"))).as("lo"),
        max(array_max(col("embedding"))).as("hi"))
      val scale = (col("hi") - col("lo")).cast("double") / 255.0
      val q = transform(col("embedding"),
        v => least(greatest(round((v.cast("double") - col("lo")) / scale, 0), lit(0.0)), lit(255.0))
          .cast("int"))
      e.crossJoin(broadcast(bounds))
        .withColumn("__q", q)
        .select(
          col("vec_id"),
          aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("code_sum"),
          round(aggregate(
            zip_with(col("__q"), col("embedding"),
              (c, v) => abs(v.cast("double") - (col("lo") + c.cast("double") * scale))),
            lit(0.0), (acc, d) => greatest(acc, d)), 4).as("max_err"))
    },
    Some("""
      WITH b AS (SELECT min(list_min(embedding)) AS lo, max(list_max(embedding)) AS hi
                 FROM embeddings),
      e AS (SELECT vec_id,
          unnest(embedding) AS v,
          (SELECT lo FROM b) AS lo,
          CAST(((SELECT hi FROM b) - (SELECT lo FROM b)) AS DOUBLE) / 255.0 AS scale
        FROM embeddings),
      q AS (SELECT vec_id, v, lo, scale,
          CAST(least(greatest(round((CAST(v AS DOUBLE) - lo) / scale, 0), 0.0), 255.0) AS INT) AS c
        FROM e)
      SELECT vec_id,
        CAST(sum(c) AS BIGINT) AS code_sum,
        round(max(abs(CAST(v AS DOUBLE) - (lo + CAST(c AS DOUBLE) * scale))), 4) AS max_err
      FROM q GROUP BY vec_id"""))

  /** Unigram-LM negative log likelihood per document — the cheap
    * perplexity-proxy quality signal (docs far from the corpus unigram
    * distribution score high). Vocab = one combining agg; scoring = one
    * join + one combining agg.
    */
  val qUnigramLogprob = Q(
    "q_unigram_logprob",
    (s, dir) => {
      val toks = tables(s, dir).documents
        .select(col("doc_id"),
          explode(split(TextOps.normalizeText(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val n = toks.count()
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .withColumn("nll", -log(col("cnt").cast("double") / n.toDouble))
      toks.join(vocab.select("tok", "nll"), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(col("nll")), 4).as("mean_nll"))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest(str_split($normSql, ' ')) AS tok
                    FROM documents),
      t AS (SELECT * FROM toks WHERE length(tok) > 0),
      vocab AS (SELECT tok, -ln(CAST(count(*) AS DOUBLE) /
                  (SELECT CAST(count(*) AS DOUBLE) FROM t)) AS nll
                FROM t GROUP BY tok)
      SELECT doc_id, count(*) AS n_tokens, round(avg(nll), 4) AS mean_nll
      FROM t JOIN vocab USING (tok)
      GROUP BY doc_id"""))

  /** Bigram-LM negative log likelihood per document (Laplace-smoothed
    * conditional P(w|prev) — the engine-shaped analog of CCNet's KenLM
    * scorer, one order up from q_unigram_logprob): all counts integer,
    * smoothing closed-form, so the oracle refits the identical model.
    * The bigram table is vocab²-bounded → broadcast to the scoring join.
    */
  val qBigramLogprob = Q(
    "q_bigram_logprob",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tables(s, dir).documents
        .select(col("doc_id"),
          posexplode(split(TextOps.normalizeText(col("text")), " ")).as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
      val w = Window.partitionBy("doc_id").orderBy(col("pos").asc)
      val bg = toks.withColumn("prev", lag(col("tok"), 1).over(w))
        .filter(col("prev").isNotNull)
      val vocab = toks.select(countDistinct(col("tok"))).first().getLong(0).toDouble
      val cnt = bg.groupBy("prev", "tok").agg(count(lit(1)).as("c"))
      val pfx = cnt.groupBy("prev").agg(sum(col("c")).as("cp"))
      val wts = cnt.join(pfx, "prev")
        .select(col("prev"), col("tok"),
          (-log((col("c").cast("double") + lit(1.0)) /
            (col("cp").cast("double") + lit(vocab)))).as("nll"))
      bg.join(broadcast(wts), Seq("prev", "tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 4).as("mean_nll"))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id,
              unnest(str_split($normSql, ' ')) AS tok,
              unnest(range(1, len(str_split($normSql, ' ')) + 1)) AS pos
            FROM documents),
      l AS (SELECT * FROM toks WHERE length(tok) > 0),
      b AS (SELECT doc_id, tok,
              lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM l),
      bg AS (SELECT doc_id, prev, tok FROM b WHERE prev IS NOT NULL),
      v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM l),
      cnt AS (SELECT prev, tok, count(*) AS c FROM bg GROUP BY prev, tok),
      pfx AS (SELECT prev, sum(c) AS cp FROM cnt GROUP BY prev),
      w AS (SELECT cnt.prev, cnt.tok,
              -ln((CAST(c AS DOUBLE) + 1.0) / (CAST(cp AS DOUBLE) + v.v)) AS nll
            FROM cnt JOIN pfx USING (prev) CROSS JOIN v)
      SELECT bg.doc_id, count(*) AS n_bigrams, round(avg(w.nll), 4) AS mean_nll
      FROM bg JOIN w ON bg.prev = w.prev AND bg.tok = w.tok
      GROUP BY bg.doc_id"""))

  /** GPT-style concat-and-chunk packing: global token offsets in stable
    * doc_id order and the first/last 512-token training sequences each
    * document overlaps. The engine computes the prefix sum two-phase
    * (O(#partitions) driver state); the oracle replays it as a window
    * cumsum — identical values, different plan shape by design.
    */
  val qConcatChunk = Q(
    "q_concat_chunk",
    (s, dir) => Sharding.concatChunk(
      tables(s, dir).documents
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
      "n_tokens", Seq("doc_id"), seqLen = 512)
      .select("doc_id", "n_tokens", "tok_offset", "seq_first", "seq_last"),
    Some("""
      WITH n AS (
        SELECT doc_id,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(str_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        FROM documents),
      o AS (SELECT doc_id, n_tokens,
              CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS tok_offset
            FROM n)
      SELECT doc_id, n_tokens, tok_offset,
             CAST(tok_offset // 512 AS BIGINT) AS seq_first,
             CAST(CASE WHEN n_tokens = 0 THEN tok_offset // 512
                  ELSE (tok_offset + n_tokens - 1) // 512 END AS BIGINT) AS seq_last
      FROM o"""))

  /** DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    * bag-of-ngrams models fit on the target split (lang = 'en') vs the
    * raw pool, every raw-pool document scored by the summed
    * log-likelihood ratio of its feature buckets. The oracle replays
    * the md5 bucket assignment, the smoothed count models, and the
    * per-document sums — feature counts are exact integers; only the
    * final ln-ratio sum is a rounded double.
    */
  val qDsirWeights = Q(
    "q_dsir_weights",
    (s, dir) => graft.functions.ImportanceSampling.dsirScores(
      tables(s, dir).documents, "text", "doc_id",
      isTarget = col("lang") === "en", numBuckets = 8192)
      .select(col("id").as("doc_id"), col("n_feats"),
        round(col("score"), 4).as("score")),
    Some(s"""
      WITH norm AS (SELECT doc_id, lang, str_split($normSql, ' ') AS t
                    FROM documents),
      uni AS (SELECT doc_id, lang, unnest(t) AS f FROM norm),
      bi AS (SELECT doc_id, lang,
               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
             FROM norm, unnest(range(1, len(t))) AS u(i)),
      f1 AS (SELECT * FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
             WHERE length(f) > 0),
      fb AS (SELECT doc_id, lang,
               ('0x' || substr(md5(f), 1, 15))::BIGINT % 8192 AS b FROM f1),
      cnts AS (SELECT b,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
                 sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nr
               FROM fb GROUP BY b),
      tot AS (SELECT sum(nt) AS t_n, sum(nr) AS r_n FROM cnts),
      lam AS (SELECT b,
                ln((CAST(nt AS DOUBLE) + 1.0) / (CAST(t_n AS DOUBLE) + 8192.0))
              - ln((CAST(nr AS DOUBLE) + 1.0) / (CAST(r_n AS DOUBLE) + 8192.0))
                AS lam
              FROM cnts, tot)
      SELECT fb.doc_id, count(*) AS n_feats, round(sum(lam.lam), 4) AS score
      FROM fb JOIN lam USING (b)
      WHERE fb.lang <> 'en'
      GROUP BY fb.doc_id"""))

  /** RAG-style sliding-window chunking (64-token chunks, stride 48 →
    * 16-token overlap): per-chunk token counts, md5 content hash, and
    * boundary tokens. Map-only builtin expressions — the oracle replays
    * the identical slicing arithmetic, so every chunk boundary and hash
    * must match bit-for-bit.
    */
  val qChunkOverlap = Q(
    "q_chunk_overlap",
    (s, dir) => Sharding.chunkWithOverlap(
      tables(s, dir).documents, "text", "doc_id", chunkSize = 64, stride = 48)
      .withColumnRenamed("id", "doc_id"),
    Some(s"""
      WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
      t AS (SELECT doc_id, str_split(nt, ' ') AS t FROM norm WHERE length(nt) > 0),
      s AS (SELECT doc_id, t, CAST(i AS BIGINT) AS s
            FROM t, unnest(range(0, len(t), 48)) AS u(i)),
      c AS (SELECT doc_id, s // 48 AS chunk_id,
                   t[CAST(s + 1 AS INT):CAST(s AS INT) + 64] AS chunk
            FROM s)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(chunk) AS INT) AS n_tokens,
             md5(array_to_string(chunk, ' ')) AS chunk_hash,
             chunk[1] AS first_token,
             chunk[len(chunk)] AS last_token
      FROM c"""))

  /** Corpus heavy hitters via the native Misra-Gries mergeable
    * aggregate: bounded state (k counters) however large the scan. The
    * documents vocabulary stays well under k, so the summary is in its
    * EXACT regime and the oracle is a plain groupBy count — the lossy
    * regime's error bound is driven separately in PropertiesSpec.
    */
  val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, dir) => {
      val toks = tables(s, dir).documents
        .select(explode(split(TextOps.normalizeText(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      TextOps.heavyHitters(toks, "tok", k = 256)
    },
    Some(s"""
      WITH t AS (SELECT unnest(str_split($normSql, ' ')) AS tok FROM documents)
      SELECT tok AS item, count(*) AS est_count
      FROM t WHERE length(tok) > 0 GROUP BY tok"""))

  /** Jaro-Winkler record-linkage scoring over banded supplier-name
    * pairs (the native codegen'd `jaro_winkler` expression — Spark
    * ships levenshtein only): DuckDB's jaro_winkler_similarity is the
    * oracle, which pins our implementation to the standard semantics
    * across every pair the band generates.
    */
  val qJaroWinkler = Q(
    "q_jaro_winkler",
    (s, dir) => {
      val sup = tables(s, dir).supplier
        .select(col("s_suppkey").cast("long").as("key"),
          lower(trim(col("s_name"))).as("name"))
      // the bounded band 0 < b.key − a.key ≤ 3 as an EQUI-join: explode
      // the 3 offsets on the left and join on key_1 + d = key_2. A raw
      // band predicate plans as BroadcastNestedLoopJoin (whole-table
      // broadcast — the 100 TB anti-pattern PlanSweepSpec rejects); this
      // shape hash-shuffles on the key and scales like any equi-join.
      val left = sup.select(col("key").as("key_1"), col("name").as("name_1"))
        .withColumn("__d", explode(array(lit(1L), lit(2L), lit(3L))))
        .withColumn("key_2", col("key_1") + col("__d"))
        .drop("__d")
      val right = sup.select(col("key").as("key_2"), col("name").as("name_2"))
      left.join(right, "key_2")
        .select(col("key_1"), col("key_2"),
          round(GraftFunctions.jaroWinkler(col("name_1"), col("name_2")), 4).as("jw"))
    },
    Some("""
      WITH s AS (SELECT s_suppkey AS key, lower(trim(s_name)) AS name FROM supplier)
      SELECT a.key AS key_1, b.key AS key_2,
        round(jaro_winkler_similarity(a.name, b.name), 4) AS jw
      FROM s a JOIN s b ON a.key < b.key AND b.key - a.key <= 3"""))

  /** Naive Bayes seed quality classifier (the GPT-3-style curated-seed
    * corpus filter): label-1 seed = docs from src0-src4, label-0 seed =
    * src15-src19, score the WHOLE corpus by summed token log-likelihood
    * ratios. Closed-form counts + Laplace smoothing → the oracle refits
    * the identical model in SQL and every document's log-odds + class
    * hash-match (ln parity per the BM25 precedent; scores round at 4
    * before the class threshold on both engines).
    */
  val qNbClassifier = Q(
    "q_nb_classifier",
    (s, dir) => {
      val d = tables(s, dir).documents
      val seed = d
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4",
          "src15", "src16", "src17", "src18", "src19"))
        .select(col("doc_id"),
          when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1)
            .otherwise(0).as("label"))
      TextOps.nbSeedClassifier(d, "text", "doc_id", seed)
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest(str_split($normSql, ' ')) AS tok
                    FROM documents),
      t AS (SELECT * FROM toks WHERE length(tok) > 0),
      seed AS (SELECT doc_id,
                 CASE WHEN source IN ('src0','src1','src2','src3','src4')
                      THEN 1 ELSE 0 END AS label
               FROM documents
               WHERE source IN ('src0','src1','src2','src3','src4',
                                'src15','src16','src17','src18','src19')),
      st AS (SELECT t.doc_id, t.tok, seed.label FROM t JOIN seed USING (doc_id)),
      cnt AS (SELECT tok,
                sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1,
                sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0
              FROM st GROUP BY tok),
      sc AS (SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS t1,
                    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS t0,
                    CAST(count(DISTINCT tok) AS DOUBLE) AS v
             FROM st),
      dc AS (SELECT CAST(sum(label) AS DOUBLE) AS d1,
                    CAST(sum(1 - label) AS DOUBLE) AS d0 FROM seed),
      llr AS (SELECT tok,
                ln((CAST(c1 AS DOUBLE) + 1.0) / (sc.t1 + sc.v))
                  - ln((CAST(c0 AS DOUBLE) + 1.0) / (sc.t0 + sc.v)) AS w
              FROM cnt CROSS JOIN sc),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      s AS (SELECT tf.doc_id, sum(CAST(tf.tf AS DOUBLE) * llr.w) AS sw
            FROM tf JOIN llr USING (tok) GROUP BY tf.doc_id),
      f AS (SELECT d.doc_id,
              round((SELECT ln(d1 / d0) FROM dc) + COALESCE(s.sw, 0), 4)
                + CAST(0 AS DOUBLE) AS log_odds
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)
      SELECT doc_id, log_odds,
             CASE WHEN log_odds >= 0 THEN 1 ELSE 0 END AS pred
      FROM f"""))

  /** SymSpell deletion-neighborhood fuzzy matching (entity resolution):
    * distance-≤1 name pairs meet through shared single-deletion
    * variants (exact-recall blocking, equi-join — never quadratic),
    * then verify with codegen'd levenshtein. Fully oracle-checked:
    * DuckDB regenerates the variants and its own levenshtein.
    */
  val qFuzzyPairs = Q(
    "q_fuzzy_pairs",
    (s, dir) => Dedup.editDistancePairs(tables(s, dir).supplier, "s_name", "s_suppkey"),
    Some("""
      WITH nm AS (SELECT s_suppkey AS key, lower(trim(s_name)) AS s FROM supplier),
      pos AS (SELECT key, s, unnest(range(1, length(s) + 1)) AS i FROM nm),
      v0 AS (SELECT key, s, s AS variant FROM nm
             UNION
             SELECT key, s, substr(s, 1, i - 1) || substr(s, i + 1, length(s)) AS variant
             FROM pos),
      vc AS (SELECT *, count(*) OVER (PARTITION BY variant) AS vf FROM v0),
      v AS (SELECT key, s, variant FROM vc WHERE vf <= 1000),
      cand AS (SELECT DISTINCT a.key AS key_1, b.key AS key_2, a.s AS s1, b.s AS s2
               FROM v a JOIN v b ON a.variant = b.variant AND a.key < b.key)
      SELECT key_1, key_2, CAST(levenshtein(s1, s2) AS INT) AS dist
      FROM cand WHERE levenshtein(s1, s2) <= 1"""))

  /** Shared token-count CASE + 60-bit md5-prefix hash of `doc_id` —
    * the DuckDB twin of `TextOps.tokenCount` + `Sampling.keyHash` used
    * by both mixture-sampling oracles.
    */
  private val mixtureDocSql: String = """
      SELECT doc_id, source,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(str_split_regex(trim(text), '\s+')) END AS toks,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents"""

  /** md5-rank + exclusive running token sum per source, joined against
    * a `tgt(source, target)` CTE the caller supplies — CTE definitions
    * ending in `keep` (the sampled set), for composition with further
    * stages (shuffled shards in q_workflow_mixture).
    */
  private def mixtureCtes(tgtCte: String): String =
    s"""$tgtCte,
      d AS ($mixtureDocSql),
      r AS (SELECT d.doc_id, d.source, d.toks, t.target,
              COALESCE(SUM(d.toks) OVER (PARTITION BY d.source
                ORDER BY d.h ASC, d.doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM d JOIN tgt t USING (source)),
      keep AS (SELECT doc_id, source, toks FROM r WHERE prev < target)"""

  /** Keep while the PRIOR docs' tokens are below the target (first doc
    * always kept).
    */
  private def mixtureSelectSql(tgtCte: String): String =
    s"WITH ${mixtureCtes(tgtCte)} SELECT doc_id, source, toks FROM keep"

  private val mixtureBudget = 20000L
  private val mixtureWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1).toDouble).toMap

  /** Deterministic source-mixture sampling with explicit per-source
    * weights under a global token budget (DoReMi-style domain weights):
    * target_s = ⌊budget·w_s/Σw⌋ tokens, docs enter in md5-rank order.
    * The targets are data-independent, so the oracle embeds the same
    * literals and replays the kept set row-for-row.
    */
  val qMixtureSample = Q(
    "q_mixture_sample",
    (s, dir) => {
      val targets = Sampling.mixtureTargets(mixtureWeights, mixtureBudget)
      val toks = TextOps.tokenCount(col("text"))
      Sampling.mixtureSample(tables(s, dir).documents, "source", toks,
        Seq("doc_id"), targets)
        .select(col("doc_id"), col("source"), toks.as("toks"))
    },
    Some {
      val targets = Sampling.mixtureTargets(mixtureWeights, mixtureBudget)
      val values = targets.toSeq.sortBy(_._1)
        .map { case (s, t) => s"('$s', $t)" }.mkString(", ")
      mixtureSelectSql(s"tgt(source, target) AS (VALUES $values)")
    })

  /** Temperature-weighted mixture (XLM-R α=0.5): per-source targets
    * derive from the data via the engine-portable integer path
    * (⌊sqrt(total)·10⁶⌋ weights, exact integer proration — see
    * `Sampling.temperatureTargets`), so DuckDB recomputes the targets
    * bit-for-bit from the same corpus and the kept set hash-matches.
    */
  val qMixtureTemperature = Q(
    "q_mixture_temperature",
    (s, dir) => {
      val d = tables(s, dir).documents
      val toks = TextOps.tokenCount(col("text"))
      val targets = Sampling.temperatureTargets(d, "source", toks, mixtureBudget)
      Sampling.mixtureSample(d, "source", toks, Seq("doc_id"), targets)
        .select(col("doc_id"), col("source"), toks.as("toks"))
    },
    Some(mixtureSelectSql(s"""dd AS ($mixtureDocSql),
      tot AS (SELECT source, SUM(toks) AS total FROM dd GROUP BY source),
      wgt AS (SELECT source,
                CAST(floor(sqrt(CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS w6
              FROM tot),
      tgt AS (SELECT source,
                CAST(($mixtureBudget * w6) // (SELECT SUM(w6) FROM wgt) AS BIGINT)
                  AS target
              FROM wgt)""")))

  /** Exact URL dedup on the canonical form ([[graft.functions.UrlOps
    * .urlDedup]]): the synthetic URLs collide exactly when (source,
    * doc_id%6) collide for id-independent variants — the oracle replays
    * the canonical key and the min-key survivor set.
    */
  val qUrlDedup = Q(
    "q_url_dedup",
    (s, dir) => graft.functions.UrlOps.urlDedup(
      tables(s, dir).documents.withColumn("url", synthUrlSpark), "url", "doc_id")
      .select(col("doc_id"), col("source")),
    Some(s"""
      WITH $urlCanonCtes,
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn
            FROM u9)
      SELECT doc_id, source FROM r WHERE rn = 1"""))

  /** Per-domain document cap ([[graft.functions.UrlOps.capPerDomain]]):
    * deterministic salted-hash quota per registrable domain — kept set
    * replays bit-exact (same md5-prefix order idiom as the mixture
    * oracles).
    */
  val qDomainCap = Q(
    "q_domain_cap",
    (s, dir) => graft.functions.UrlOps.capPerDomain(
      tables(s, dir).documents.withColumn("url", synthUrlSpark), "url", "doc_id",
      maxDocs = 40, salt = "cap0")
      .select(col("doc_id"), col("source")),
    Some(s"""
      WITH $urlCanonCtes,
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY domain
                ORDER BY ('0x' || substr(md5('cap0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                         doc_id) AS rn
            FROM u9)
      SELECT doc_id, source FROM r WHERE rn <= 40"""))

  /** The synthetic URL as ONE-LINE Spark SQL (for YAML embedding via the
    * expression_parser ETL step) — same strings as [[synthUrlSpark]] /
    * [[synthUrlSql]].
    */
  private def synthUrlSparkSql: String =
    "CASE CAST(doc_id % 7 AS INT) " +
      "WHEN 0 THEN concat('https://WWW.', source, '.Example.COM:443/a/b/?utm_source=feed&b=2&a=1#frag') " +
      "WHEN 1 THEN concat('http://', source, '.example.com:80/path/') " +
      "WHEN 2 THEN concat('https://sub.', source, '.example.co.uk/x?id=', CAST(doc_id AS STRING), '&utm_campaign=z') " +
      "WHEN 3 THEN concat('HTTP://', source, '.EXAMPLE.org//docs///page2/') " +
      "WHEN 4 THEN concat('https://', source, '.example.net/q?b=1&a=2&fbclid=xyz') " +
      "WHEN 5 THEN concat(source, '.example.com/path/') " +
      "ELSE concat('https://', source, '.github.io/repo') END"

  /** The YAML `url_curation` stage end-to-end ([[graft.workflow
    * .Workflow]]): expression_parser synthesizes the url column, then
    * canonical-form dedup and the per-domain quota run as one configured
    * block. Full oracle: canonicalization, survivor set, and quota order
    * all replay in DuckDB by composing the proven CTE chains.
    */
  val qWorkflowUrl = Q(
    "q_workflow_url",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |  expression_parser:
           |    url: "$synthUrlSparkSql"
           |url_curation:
           |  url_col: url
           |  id_col: doc_id
           |  dedup: true
           |  max_docs_per_domain: 40
           |  salt: cap0
           |  domain_rollup:
           |    text_col: text
           |""".stripMargin
      val (out, _) = graft.workflow.Workflow.run(s, yaml)
      out.select(col("doc_id"), col("source"), col("url_canon"), col("domain"))
    },
    Some(s"""
      WITH $urlCanonCtes,
      r1 AS (SELECT *, row_number() OVER (PARTITION BY url_canon
               ORDER BY doc_id) AS rn1 FROM u9),
      k1 AS (SELECT * FROM r1 WHERE rn1 = 1),
      r2 AS (SELECT *, row_number() OVER (PARTITION BY domain
               ORDER BY ('0x' || substr(md5('cap0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id) AS rn2
             FROM k1)
      SELECT doc_id, source, url_canon, domain FROM r2 WHERE rn2 <= 40"""))

  /** The YAML `tokenize` stage end-to-end: BPE train+apply through the
    * workflow. Oracle: the q_bpe_encode replay (training chain's final
    * word states + per-doc reassembly), counts only — token text is
    * already string-verified by q_bpe_encode's hash.
    */
  val qWorkflowTokenize = Q(
    "q_workflow_tokenize",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |tokenize:
           |  text_col: text
           |  num_merges: $bpeK
           |  keep_tokens: false
           |""".stripMargin
      val (out, _) = graft.workflow.Workflow.run(s, yaml)
      out.select(col("doc_id"), col("n_tokens_bpe"))
    },
    Some(s"""
      WITH ${bpeStagesSql(bpeK, 2, 32)},
      enc AS (SELECT word, len(str_split(syms, '|')) AS n FROM w$bpeK),
      docw AS (SELECT doc_id, ws[j] AS word
               FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                     FROM documents) t,
                    unnest(range(1, len(ws) + 1)) AS u(j)),
      tok AS (SELECT d.doc_id, COALESCE(e.n, 1) AS n
              FROM docw d LEFT JOIN enc e ON d.word = e.word)
      SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens_bpe
      FROM tok GROUP BY doc_id"""))

  /** The YAML `data_mixture` stage end-to-end ([[graft.workflow
    * .Workflow]]): temperature targets → budgeted mixture sample →
    * shuffled-shard assignment, one configured block. Full oracle: the
    * targets, the kept set, AND the (shard, shard_pos) slots replay in
    * DuckDB by composing the two proven chains.
    */
  val qWorkflowMixture = Q(
    "q_workflow_mixture",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |data_mixture:
           |  text_col: text
           |  id_col: doc_id
           |  source_col: source
           |  token_budget: $mixtureBudget
           |  temperature: 0.5
           |  shuffled_shards:
           |    n_shards: 16
           |    salt: epoch0
           |""".stripMargin
      val (out, _) = graft.workflow.Workflow.run(s, yaml)
      out.select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("toks"), col("shard"), col("shard_pos"))
    },
    Some {
      val ctes = mixtureCtes(s"""dd AS ($mixtureDocSql),
      tot AS (SELECT source, SUM(toks) AS total FROM dd GROUP BY source),
      wgt AS (SELECT source,
                CAST(floor(sqrt(CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS w6
              FROM tot),
      tgt AS (SELECT source,
                CAST(($mixtureBudget * w6) // (SELECT SUM(w6) FROM wgt) AS BIGINT)
                  AS target
              FROM wgt)""")
      s"""
      WITH $ctes,
      sh AS (SELECT doc_id, source, toks,
               ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
             FROM keep)
      SELECT doc_id, source, toks, h % 16 AS shard,
        CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1 AS INT)
          AS shard_pos
      FROM sh"""
    })

  /** Okapi BM25 retrieval over the documents table for two fixed
    * queries — fully oracle-checked (tf, df, idf, length norm, and the
    * rank all replay in DuckDB; scores round before ranking so float-sum
    * order cannot flip ranks across engines).
    */
  val qBm25TopK = Q(
    "q_bm25_topk",
    (s, dir) => TextOps.bm25TopK(
      tables(s, dir).documents, "text", "doc_id",
      queries = Seq(1L -> "table hash join", 2L -> "window order data"),
      k = 10),
    Some(s"""
      WITH toks AS (SELECT doc_id AS doc, unnest(str_split($normSql, ' ')) AS tok
                    FROM documents),
      t AS (SELECT * FROM toks WHERE length(tok) > 0),
      tf AS (SELECT doc, tok, count(*) AS tf FROM t GROUP BY doc, tok),
      dl AS (SELECT doc, count(*) AS dl FROM t GROUP BY doc),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl
                FROM dl),
      dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      q(query_id, tok) AS (VALUES
        (1, 'table'), (1, 'hash'), (1, 'join'),
        (2, 'window'), (2, 'order'), (2, 'data')),
      sc AS (SELECT q.query_id, tf.doc,
               round(sum(
                 ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 4) AS score
             FROM tf JOIN q USING (tok) JOIN dfq USING (tok)
                     JOIN dl USING (doc) CROSS JOIN stats
             GROUP BY q.query_id, tf.doc),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY score DESC, doc ASC) AS rank
            FROM sc)
      SELECT query_id, doc AS doc_id, score, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 10"""))

  /** CCNet head/middle/tail buckets over the unigram-NLL score, per
    * language — the standard corpus-quality partitioning ahead of
    * sampling curricula. Fully oracle-checked: score AND ntile bucket
    * replay in DuckDB (ties broken on doc_id in both engines).
    */
  val qCcnetBuckets = Q(
    "q_ccnet_buckets",
    (s, dir) => {
      val d = tables(s, dir).documents
      val toks = d
        .select(col("doc_id"),
          explode(split(TextOps.normalizeText(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val n = toks.count()
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .withColumn("nll", -log(col("cnt").cast("double") / n.toDouble))
      val scored = toks.join(vocab.select("tok", "nll"), "tok")
        .groupBy("doc_id")
        .agg(round(avg(col("nll")), 6).as("mean_nll"))
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
      TextOps.perplexityBuckets(scored, "mean_nll", "doc_id", "lang")
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest(str_split($normSql, ' ')) AS tok
                    FROM documents),
      t AS (SELECT * FROM toks WHERE length(tok) > 0),
      vocab AS (SELECT tok, -ln(CAST(count(*) AS DOUBLE) /
                  (SELECT CAST(count(*) AS DOUBLE) FROM t)) AS nll
                FROM t GROUP BY tok),
      scored AS (
        SELECT doc_id, round(avg(nll), 6) AS mean_nll
        FROM t JOIN vocab USING (tok) GROUP BY doc_id),
      j AS (SELECT s.doc_id, s.mean_nll, d.lang
            FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
      b AS (SELECT *, ntile(3) OVER
              (PARTITION BY lang ORDER BY mean_nll ASC, doc_id ASC) AS tt
            FROM j)
      SELECT doc_id, mean_nll, lang,
             CASE tt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM b"""))

  /** Per-document TF-IDF keyword extraction: top-3 terms per document by
    * tf·ln(N/df), ties lexicographic. The oracle refits the identical
    * model — term frequencies, document frequencies, and the corpus size
    * are exact integers; only the final score rounds (ln parity per the
    * BM25/NB precedent).
    */
  val qKeywordTfidf = Q(
    "q_keyword_tfidf",
    (s, dir) => TextOps.keywordTfidf(tables(s, dir).documents, "text", "doc_id", topK = 3)
      .withColumnRenamed("id", "doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id, unnest(str_split($normSql, ' ')) AS keyword
                 FROM documents),
      tf AS (SELECT doc_id, keyword, count(*) AS tf FROM t
             WHERE length(keyword) > 0 GROUP BY 1, 2),
      dfq AS (SELECT keyword, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      s AS (SELECT tf.doc_id, tf.keyword, tf.tf, dfq.df,
              CAST(tf.tf AS DOUBLE) *
                ln(CAST(n.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
            FROM tf JOIN dfq USING (keyword), n),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY doc_id ORDER BY score DESC, keyword ASC) AS rank
            FROM s)
      SELECT doc_id, keyword, tf, df, round(score, 4) AS score,
             CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 3"""))

  /** Typed PII mention inventory + stable pseudonyms over the same
    * injected-PII fixture as q_pii_redaction: every extracted mention is
    * a row, and the keyed sha2-256 pseudonym (64-bit token, per-corpus
    * secret salt) replays byte-for-byte in the oracle (consistent
    * pseudonymization — same value, same token; DuckDB sha256 = Spark
    * sha2(·, 256), both lowercase hex).
    */
  val qPiiMentions = Q(
    "q_pii_mentions",
    (s, dir) => {
      val d = tables(s, dir).documents
      val injected = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at user"), col("doc_id").cast("string"), lit("@example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" server 10.74."), (col("doc_id") % 256).cast("string"), lit(".15 up")))
          .otherwise(concat(lit(" call +14155550"),
            lpad((col("doc_id") % 100).cast("string"), 3, "0"))))
      TextOps.piiMentions(
        d.select(col("doc_id"), injected.as("__pii_text")), "__pii_text", "doc_id",
        salt = "graft-demo-corpus-key")
        .withColumnRenamed("id", "doc_id")
    },
    Some {
      val (em, ip, ph) = (TextOps.emailRe, TextOps.ipRe, TextOps.phoneRe)
      s"""
      WITH inj AS (SELECT doc_id, text || CASE
          WHEN doc_id % 3 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
          WHEN doc_id % 3 = 1 THEN ' server 10.74.' || CAST(doc_id % 256 AS VARCHAR) || '.15 up'
          ELSE ' call +14155550' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') END AS t
        FROM documents),
      st AS (SELECT doc_id, t,
          regexp_replace(t, '$em', '[EMAIL]', 'g') AS no_email FROM inj),
      st2 AS (SELECT doc_id, t, no_email,
          regexp_replace(no_email, '$ip', '[IP]', 'g') AS no_ip FROM st),
      m AS (
        SELECT doc_id, 'email' AS kind, unnest(regexp_extract_all(t, '$em')) AS mention FROM st2
        UNION ALL
        SELECT doc_id, 'ip', unnest(regexp_extract_all(no_email, '$ip')) FROM st2
        UNION ALL
        SELECT doc_id, 'phone', unnest(regexp_extract_all(no_ip, '$ph')) FROM st2)
      SELECT doc_id, kind, mention,
        '[' || upper(kind) || '_' ||
          substr(sha256('graft-demo-corpus-key:' || kind || ':' || mention), 1, 16) ||
          ']' AS pseudonym
      FROM m"""
    })

  /** Encoding-health signals over an injected-corruption fixture (the
    * shipped corpus is clean ASCII, so the query plants one corruption
    * class per doc_id residue — mojibake digraph / U+FFFD / C0 control —
    * exactly like the q_pii_mentions injection pattern): counts and the
    * clean flag replay exactly; the \\x{...} code-point regex classes
    * are valid in both java.util.regex and RE2.
    */
  val qEncodingQuality = Q(
    "q_encoding_quality",
    (s, dir) => {
      val d = tables(s, dir).documents
      val injected = concat(
        col("text"),
        when(col("doc_id") % 4 === 0, lit(" caf\u00C3\u00A9 menu"))
          .when(col("doc_id") % 4 === 1, lit(" bad\uFFFDbyte"))
          .when(col("doc_id") % 4 === 2, lit(" ctl\u0001end"))
          .otherwise(lit(" clean tail")))
      TextOps.encodingQuality(
        d.select(col("doc_id"), injected.as("__enc_text")), "__enc_text", "doc_id")
    },
    Some("""
      WITH inj AS (SELECT doc_id, text || CASE
          WHEN doc_id % 4 = 0 THEN ' caf' || chr(195) || chr(169) || ' menu'
          WHEN doc_id % 4 = 1 THEN ' bad' || chr(65533) || 'byte'
          WHEN doc_id % 4 = 2 THEN ' ctl' || chr(1) || 'end'
          ELSE ' clean tail' END AS t
        FROM documents),
      m AS (SELECT doc_id, length(t) AS n_chars,
        CAST(length(t) - length(regexp_replace(t, '\x{FFFD}', '', 'g')) AS INT)
          AS n_replacement,
        CAST(length(t) - length(regexp_replace(t,
          '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g')) AS INT)
          AS n_control,
        CAST((length(t) - length(regexp_replace(t,
          '[\x{00C3}\x{00C2}][\x{0080}-\x{00BF}]', '', 'g'))) / 2 AS INT)
          AS n_mojibake
        FROM inj)
      SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake,
             (n_replacement + n_control + n_mojibake = 0) AS clean
      FROM m"""))

  /** Deterministic shuffled-shard assignment (reproducible training
    * order): md5-bucket shard + within-shard hash rank, bit-identical in
    * the oracle (same 60-bit md5 prefix, same tiebreak).
    */
  val qShuffledShards = Q(
    "q_shuffled_shards",
    (s, dir) => Sharding.shuffledShards(
      tables(s, dir).documents, "doc_id", nShards = 16, salt = "epoch0")
      .select("doc_id", "shard", "shard_pos"),
    Some("""
      WITH h AS (SELECT doc_id,
          ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents)
      SELECT doc_id, h % 16 AS shard,
        CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1 AS INT)
          AS shard_pos
      FROM h"""))

  /** Vocabulary coverage curve: top-V tokens with rank / share /
    * cumulative share — integer counts with two rounded ratios, ties
    * lexicographic, so the oracle replays the whole curve.
    */
  val qVocabCoverage = Q(
    "q_vocab_coverage",
    (s, dir) => TextOps.vocabCoverage(tables(s, dir).documents, "text", topV = 50),
    Some(s"""
      WITH t AS (SELECT unnest(str_split($normSql, ' ')) AS token FROM documents),
      c AS (SELECT token, count(*) AS freq FROM t
            WHERE length(token) > 0 GROUP BY 1),
      tot AS (SELECT sum(freq) AS total FROM c),
      top AS (SELECT token, freq FROM c ORDER BY freq DESC, token ASC LIMIT 50),
      r AS (SELECT *,
              row_number() OVER (ORDER BY freq DESC, token ASC) AS rank,
              sum(freq) OVER (ORDER BY freq DESC, token ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM top)
      SELECT CAST(rank AS INT) AS rank, token, freq,
             round(CAST(freq AS DOUBLE) / total, 6) AS share,
             round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
      FROM r, tot"""))

  /** Cross-source exact 3-gram-set Jaccard matrix (corpus-level overlap
    * diagnostic). DENSE contract: every unordered source pair is a row,
    * zero-overlap pairs included (inter=0, jaccard=0.0). Everything is
    * integer set arithmetic until the final rounded ratio, so the oracle
    * replays it exactly.
    */
  val qSourceOverlap = Q(
    "q_source_overlap",
    (s, dir) => Dedup.sourceOverlap(tables(s, dir).documents, "text", "source", n = 3),
    Some(s"""
      WITH norm AS (SELECT source, str_split($normSql, ' ') AS t FROM documents),
      sh AS (SELECT DISTINCT source AS src,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS g
             FROM norm, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      sh1 AS (SELECT * FROM sh WHERE length(g) > 0),
      sizes AS (SELECT src, count(*) AS n FROM sh1 GROUP BY src),
      i AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS inter
            FROM sh1 a JOIN sh1 b ON a.g = b.g AND a.src < b.src
            GROUP BY 1, 2),
      pairs AS (SELECT a.src AS source_a, b.src AS source_b,
                       a.n AS n_a, b.n AS n_b
                FROM sizes a JOIN sizes b ON a.src < b.src)
      SELECT source_a, source_b, n_a, n_b,
             coalesce(i.inter, 0) AS inter,
             round(CAST(coalesce(i.inter, 0) AS DOUBLE) /
                   (n_a + n_b - coalesce(i.inter, 0)), 4) AS jaccard
      FROM pairs LEFT JOIN i USING (source_a, source_b)"""))

  /** kNN label-noise audit in the exact IVF regime (nprobe = cellCount,
    * the q_ivf_exact_topk configuration): each vector's 5 cosine-nearest
    * neighbours vote on its label, and the oracle recomputes the same
    * brute-force top-5 plus the disagreement fraction.
    */
  val qLabelNoise = Q(
    "q_label_noise",
    (s, dir) => Similarity.labelNoiseKnn(tables(s, dir).embeddings,
      "vec_id", "embedding", "label", k = 5, cellCount = 8, nprobe = 8),
    Some("""
      WITH e AS (
        SELECT vec_id, unnest(embedding) AS x,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings),
      n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
            FROM e GROUP BY vec_id),
      d AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dt
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
            GROUP BY a.vec_id, b.vec_id),
      c AS (SELECT d.vec_id, d.neighbor_id, d.dt / (na.nrm * nb.nrm) AS cos
            FROM d JOIN n na ON d.vec_id = na.vec_id
                   JOIN n nb ON d.neighbor_id = nb.vec_id),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM c),
      k AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= 5),
      l AS (SELECT vec_id AS id, label FROM embeddings)
      SELECT k.vec_id, lo.label AS label, count(*) AS n_neighbors,
        CAST(sum(CASE WHEN ln.label <> lo.label THEN 1 ELSE 0 END) AS BIGINT)
          AS n_disagree,
        round(CAST(sum(CASE WHEN ln.label <> lo.label THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 4) AS disagree_frac
      FROM k JOIN l lo ON k.vec_id = lo.id
             JOIN l ln ON k.neighbor_id = ln.id
      GROUP BY 1, 2"""))

  /** K unrolled BPE training stages as DuckDB CTE definitions (append
    * after `WITH`): wf (eligible-word frequencies) → w0 (char symbols +
    * `</w>`, '|'-joined) → per round i: p_i (adjacent-pair weights), b_i
    * (the single best pair, weight desc / lhs / rhs — the same total
    * order the Spark trainer's TakeOrdered uses), w_i (the merge applied
    * via a list_reduce fold, left-to-right non-overlapping, exactly the
    * trainer's `aggregate` fold). Symbols never contain '|' (eligible
    * words are `[a-z]+`, the marker is `</w>`), so the '|'-joined string
    * form round-trips. When no pair reaches `minPairFreq`, b_i is empty
    * and w_i passes syms through — mirroring the trainer's early stop.
    */
  private[queries] def bpeStagesSql(k: Int, minPairFreq: Int, maxWordLen: Int): String = {
    val base = s"""
      wf AS (
        SELECT word, count(*) AS freq FROM (
          SELECT unnest(str_split($normSql, ' ')) AS word FROM documents) u
        WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $maxWordLen
        GROUP BY word),
      w0 AS (SELECT word, freq,
               array_to_string(str_split_regex(word, ''), '|') || '|</w>' AS syms
             FROM wf)"""
    val stages = (1 to k).map { i =>
      val prev = s"w${i - 1}"
      s"""
      p$i AS (
        SELECT sl[j] AS lhs, sl[j + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS w
        FROM (SELECT freq, str_split(syms, '|') AS sl FROM $prev) t,
             unnest(range(1, len(sl))) AS u(j)
        GROUP BY 1, 2),
      b$i AS (SELECT lhs, rhs, w FROM p$i WHERE w >= $minPairFreq
              ORDER BY w DESC, lhs, rhs LIMIT 1),
      w$i AS (SELECT word, freq,
        CASE WHEN bb.lhs IS NULL THEN syms
        ELSE list_reduce(str_split(syms, '|'), (acc, x) ->
          CASE WHEN regexp_extract(acc, '([^|]*)$$', 1) = bb.lhs AND x = bb.rhs
               THEN substr(acc, 1, length(acc) - length(bb.lhs)) || bb.lhs || bb.rhs
               ELSE acc || '|' || x END) END AS syms
        FROM $prev LEFT JOIN (SELECT lhs, rhs FROM b$i) bb ON TRUE)"""
    }.mkString(",")
    base + "," + stages
  }

  /** DuckDB replay of the WordPiece trainer
    * ([[graft.functions.WordPieceTokenizer.trainMerges]]): the
    * bpeStagesSql chain with a likelihood-scored pick — per round i,
    * p_i (pair weights) and s_i (symbol weights) feed b_i, which ranks
    * by `CAST(w AS DOUBLE) / (CAST(lsc AS DOUBLE) * CAST(rsc AS
    * DOUBLE))` — exact BIGINTs through one IEEE multiply and one IEEE
    * divide, bit-identical in both engines — with the same (lhs, rhs)
    * tie-break; w_i applies the pick with the identical list_reduce
    * fold.
    */
  private[queries] def wpStagesSql(k: Int, minPairFreq: Int, maxWordLen: Int): String = {
    val base = s"""
      wf AS (
        SELECT word, count(*) AS freq FROM (
          SELECT unnest(str_split($normSql, ' ')) AS word FROM documents) u
        WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $maxWordLen
        GROUP BY word),
      w0 AS (SELECT word, freq,
               array_to_string(str_split_regex(word, ''), '|') || '|</w>' AS syms
             FROM wf)"""
    val stages = (1 to k).map { i =>
      val prev = s"w${i - 1}"
      // every stage is MATERIALIZED: each round references the previous
      // word state ~4× (pairs, symbol weights ×2, the fold), so inlined
      // CTEs would re-expand the chain ~4^k times — DuckDB exhausts file
      // descriptors re-scanning the corpus before round 10
      s"""
      p$i AS MATERIALIZED (
        SELECT sl[j] AS lhs, sl[j + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS w
        FROM (SELECT freq, str_split(syms, '|') AS sl FROM $prev) t,
             unnest(range(1, len(sl))) AS u(j)
        GROUP BY 1, 2),
      s$i AS MATERIALIZED (
        SELECT sym, CAST(sum(freq) AS BIGINT) AS sc
        FROM (SELECT freq, unnest(str_split(syms, '|')) AS sym FROM $prev) t
        GROUP BY 1),
      b$i AS MATERIALIZED (SELECT p.lhs, p.rhs, p.w,
                     CAST(p.w AS DOUBLE) / (CAST(l.sc AS DOUBLE) * CAST(r.sc AS DOUBLE)) AS score
              FROM p$i p JOIN s$i l ON p.lhs = l.sym JOIN s$i r ON p.rhs = r.sym
              WHERE p.w >= $minPairFreq
              ORDER BY score DESC, p.lhs, p.rhs LIMIT 1),
      w$i AS MATERIALIZED (SELECT word, freq,
        CASE WHEN bb.lhs IS NULL THEN syms
        ELSE list_reduce(str_split(syms, '|'), (acc, x) ->
          CASE WHEN regexp_extract(acc, '([^|]*)$$', 1) = bb.lhs AND x = bb.rhs
               THEN substr(acc, 1, length(acc) - length(bb.lhs)) || bb.lhs || bb.rhs
               ELSE acc || '|' || x END) END AS syms
        FROM $prev LEFT JOIN (SELECT lhs, rhs FROM b$i) bb ON TRUE)"""
    }.mkString(",")
    base + "," + stages
  }

  // final val + literal = compile-time constant, inlined at use sites —
  // queries declared EARLIER in the object (q_workflow_tokenize) read it
  // during their init, where a plain val would still be 0
  private final val bpeK = 10
  private final val wpK = 10

  /** One BPE training per (session, scale dir): the merge table is a
    * pure function of the corpus, so q_bpe_vocab and q_bpe_encode share
    * one fit — the boxcox memo idiom. Honest-bench caveat (same as
    * boxcox): the first of the two rows to run pays the cold K-round
    * train; the other reflects apply-only cost.
    */
  private val bpeMergesMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[graft.functions.BpeTokenizer.BpeMerge]]()
  private def trainedBpeMerges(s: org.apache.spark.sql.SparkSession, dir: String) =
    bpeMergesMemo.computeIfAbsent(dir, _ =>
      graft.functions.BpeTokenizer.trainMerges(
        tables(s, dir).documents, "text", numMerges = bpeK))

  /** Distributed BPE tokenizer training ([[graft.functions.BpeTokenizer
    * .bpeTrain]]): the learned merge table itself is the result — fully
    * deterministic (weight desc / lhs / rhs tie-break), so DuckDB
    * replays all K training rounds as unrolled CTE stages.
    */
  val qBpeVocab = Q(
    "q_bpe_vocab",
    (s, dir) => {
      import s.implicits._
      trainedBpeMerges(s, dir)
        .map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCount))
        .toDF("rank", "lhs", "rhs", "merged", "pair_count")
    },
    Some {
      val finals = (1 to bpeK)
        .map(i => s"SELECT $i AS rank, lhs, rhs, lhs || rhs AS merged, " +
          s"w AS pair_count FROM b$i")
        .mkString(" UNION ALL ")
      s"WITH ${bpeStagesSql(bpeK, 2, 32)} SELECT * FROM ($finals)"
    })

  /** Train-then-encode: the merge table from [[qBpeVocab]]'s trainer
    * applied by the native codegen'd `bpe_encode` expression (map-only,
    * no shuffle). Verified to the token STRING level: md5 of each
    * document's space-joined token stream must match DuckDB's replay.
    * The oracle reuses the training chain's final word states — a word's
    * symbols after K training rounds ARE its rank-order encode (the
    * classic BPE train/encode equivalence) — and reassembles documents
    * by position with ineligible words passing through verbatim.
    */
  val qBpeEncode = Q(
    "q_bpe_encode",
    (s, dir) => {
      val docs = tables(s, dir).documents
      val merges = trainedBpeMerges(s, dir)
      graft.functions.BpeTokenizer.bpeEncode(docs, "text", "doc_id", merges)
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_hash"))
    },
    Some(s"""
      WITH ${bpeStagesSql(bpeK, 2, 32)},
      enc AS (SELECT word, replace(syms, '|', ' ') AS tok_str,
                     len(str_split(syms, '|')) AS n
              FROM w$bpeK),
      docw AS (SELECT doc_id, j, ws[j] AS word
               FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                     FROM documents) t,
                    unnest(range(1, len(ws) + 1)) AS u(j)),
      tok AS (SELECT d.doc_id, d.j,
                     COALESCE(e.tok_str, d.word) AS tok_str,
                     COALESCE(e.n, 1) AS n
              FROM docw d LEFT JOIN enc e ON d.word = e.word)
      SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens,
             md5(string_agg(tok_str, ' ' ORDER BY j)) AS token_hash
      FROM tok GROUP BY doc_id"""))

  /** Greedy longest-match piece segmentation (WordPiece/SentencePiece
    * INFERENCE mode) over the BPE-induced vocabulary — the second
    * tokenizer family, verified to the token-string level like
    * q_bpe_encode. The oracle derives the same vocabulary from the
    * training chain (merged pieces ∪ a–z ∪ `</w>`) and unrolls the
    * greedy loop as `steps` CTE stages: per stage, the longest
    * vocabulary piece prefixing the remainder (picked via a
    * length-prefixed list max) is consumed, single-char fallback —
    * exactly [[graft.plans.GreedyPieceEncodeExpr]]'s rule. 36 stages
    * cover maxWordLen 32 + the 4-char marker (progress ≥ 1 char/stage).
    */
  val qPieceEncode = Q(
    "q_piece_encode",
    (s, dir) => {
      val docs = tables(s, dir).documents
      val vocab = graft.functions.BpeTokenizer.vocabFromMerges(trainedBpeMerges(s, dir))
      graft.functions.BpeTokenizer.pieceEncode(docs, "text", "doc_id", vocab)
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_hash"))
    },
    Some {
      val steps = 36
      val chars = ('a' to 'z').map(c => s"'$c'").mkString(", ")
      val mergedUnion = (1 to bpeK)
        .map(i => s"SELECT lhs || rhs AS m FROM b$i").mkString(" UNION ALL ")
      val stages = (1 to steps).map { i =>
        s"""
      g$i AS (
        SELECT word, substr(rem, length(best) + 1) AS rem,
          CASE WHEN best = '' THEN out
               WHEN out = '' THEN best
               ELSE out || ' ' || best END AS out
        FROM (
          SELECT word, rem, out,
            CASE WHEN rem = '' THEN ''
                 ELSE COALESCE(
                   substr(list_aggregate(list_transform(
                     list_filter(vv.v, p -> starts_with(rem, p)),
                     c -> lpad(CAST(length(c) AS VARCHAR), 2, '0') || c), 'max'), 3),
                   substr(rem, 1, 1)) END AS best
          FROM g${i - 1}, voc vv) t)"""
      }.mkString(",")
      s"""
      WITH ${bpeStagesSql(bpeK, 2, 32)},
      voc AS MATERIALIZED (SELECT list_distinct(list_concat(
                (SELECT list(m) FROM ($mergedUnion)),
                [$chars, '</w>'])) AS v),
      g0 AS (SELECT word, word || '</w>' AS rem, '' AS out FROM wf),$stages,
      enc AS (SELECT word, out AS tok_str, len(str_split(out, ' ')) AS n
              FROM g$steps),
      docw AS (SELECT doc_id, j, ws[j] AS word
               FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                     FROM documents) t,
                    unnest(range(1, len(ws) + 1)) AS u(j)),
      tok AS (SELECT d.doc_id, d.j,
                     COALESCE(e.tok_str, d.word) AS tok_str,
                     COALESCE(e.n, 1) AS n
              FROM docw d LEFT JOIN enc e ON d.word = e.word)
      SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens,
             md5(string_agg(tok_str, ' ' ORDER BY j)) AS token_hash
      FROM tok GROUP BY doc_id"""
    })

  /** One WordPiece training per (session, scale dir) — the
    * bpeMergesMemo idiom; cleared by [[clearTokenizerMemos]] so growth
    * gates time the cold train.
    */
  private val wordPieceMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[graft.functions.WordPieceTokenizer.WpMerge]]()
  private def trainedWordPiece(s: org.apache.spark.sql.SparkSession, dir: String) =
    wordPieceMemo.computeIfAbsent(dir, _ =>
      graft.functions.WordPieceTokenizer.trainMerges(
        tables(s, dir).documents, "text", numMerges = wpK))

  /** WordPiece tokenizer training ([[graft.functions.WordPieceTokenizer
    * .trainMerges]]) — the THIRD tokenizer family: BPE's merge loop
    * scored by unigram-likelihood gain `pc / (lsc·rsc)` (Schuster &
    * Nakajima 2012 / BERT). Fully deterministic: the score is exact
    * BIGINTs through one IEEE multiply + divide (bit-identical across
    * engines), ties break (lhs, rhs) — so DuckDB replays all K rounds
    * as unrolled CTE stages and the raw DOUBLE score hash-matches.
    */
  val qWordpieceVocab = Q(
    "q_wordpiece_vocab",
    (s, dir) => {
      import s.implicits._
      trainedWordPiece(s, dir)
        .map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCount, m.score))
        .toDF("rank", "lhs", "rhs", "merged", "pair_count", "score")
    },
    Some {
      val finals = (1 to wpK)
        .map(i => s"SELECT $i AS rank, lhs, rhs, lhs || rhs AS merged, " +
          s"w AS pair_count, score FROM b$i")
        .mkString(" UNION ALL ")
      s"WITH ${wpStagesSql(wpK, 2, 32)} SELECT * FROM ($finals)"
    })

  /** Train-then-encode for WordPiece: greedy longest-match segmentation
    * (canonical WordPiece inference) over the likelihood-trained
    * vocabulary, via the native codegen'd `piece_encode` expression —
    * map-only, no shuffle. Verified to the token STRING level: the
    * oracle derives the same vocabulary from the wp training chain and
    * unrolls the greedy loop exactly as q_piece_encode does (36 stages
    * cover maxWordLen 32 + the 4-char marker).
    */
  val qWordpieceEncode = Q(
    "q_wordpiece_encode",
    (s, dir) => {
      val docs = tables(s, dir).documents
      graft.functions.WordPieceTokenizer.wordPieceEncode(
          docs, "text", "doc_id", trainedWordPiece(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_hash"))
    },
    Some {
      val steps = 36
      val chars = ('a' to 'z').map(c => s"'$c'").mkString(", ")
      val mergedUnion = (1 to wpK)
        .map(i => s"SELECT lhs || rhs AS m FROM b$i").mkString(" UNION ALL ")
      val stages = (1 to steps).map { i =>
        s"""
      g$i AS (
        SELECT word, substr(rem, length(best) + 1) AS rem,
          CASE WHEN best = '' THEN out
               WHEN out = '' THEN best
               ELSE out || ' ' || best END AS out
        FROM (
          SELECT word, rem, out,
            CASE WHEN rem = '' THEN ''
                 ELSE COALESCE(
                   substr(list_aggregate(list_transform(
                     list_filter(vv.v, p -> starts_with(rem, p)),
                     c -> lpad(CAST(length(c) AS VARCHAR), 2, '0') || c), 'max'), 3),
                   substr(rem, 1, 1)) END AS best
          FROM g${i - 1}, voc vv) t)"""
      }.mkString(",")
      s"""
      WITH ${wpStagesSql(wpK, 2, 32)},
      voc AS MATERIALIZED (SELECT list_distinct(list_concat(
                (SELECT list(m) FROM ($mergedUnion)),
                [$chars, '</w>'])) AS v),
      g0 AS (SELECT word, word || '</w>' AS rem, '' AS out FROM wf),$stages,
      enc AS (SELECT word, out AS tok_str, len(str_split(out, ' ')) AS n
              FROM g$steps),
      docw AS (SELECT doc_id, j, ws[j] AS word
               FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                     FROM documents) t,
                    unnest(range(1, len(ws) + 1)) AS u(j)),
      tok AS (SELECT d.doc_id, d.j,
                     COALESCE(e.tok_str, d.word) AS tok_str,
                     COALESCE(e.n, 1) AS n
              FROM docw d LEFT JOIN enc e ON d.word = e.word)
      SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens,
             md5(string_agg(tok_str, ' ' ORDER BY j)) AS token_hash
      FROM tok GROUP BY doc_id"""
    })

  /** The YAML `tokenize` stage in `algo: wordpiece` mode end-to-end:
    * likelihood-scored merge training + greedy longest-match encode
    * through the workflow. Oracle: the q_wordpiece_encode greedy
    * replay, counts only (token text is already string-verified by
    * q_wordpiece_encode's hash).
    */
  val qWorkflowWordpiece = Q(
    "q_workflow_wordpiece",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |tokenize:
           |  algo: wordpiece
           |  text_col: text
           |  num_merges: $wpK
           |  min_pair_freq: 2
           |  max_word_len: 32
           |  keep_tokens: false
           |""".stripMargin
      val (out, _) = graft.workflow.Workflow.run(s, yaml)
      out.select(col("doc_id"), col("n_tokens_wordpiece"))
    },
    Some {
      val steps = 36
      val chars = ('a' to 'z').map(c => s"'$c'").mkString(", ")
      val mergedUnion = (1 to wpK)
        .map(i => s"SELECT lhs || rhs AS m FROM b$i").mkString(" UNION ALL ")
      val stages = (1 to steps).map { i =>
        s"""
      g$i AS (
        SELECT word, substr(rem, length(best) + 1) AS rem,
          CASE WHEN best = '' THEN nt
               ELSE nt + 1 END AS nt
        FROM (
          SELECT word, rem, nt,
            CASE WHEN rem = '' THEN ''
                 ELSE COALESCE(
                   substr(list_aggregate(list_transform(
                     list_filter(vv.v, p -> starts_with(rem, p)),
                     c -> lpad(CAST(length(c) AS VARCHAR), 2, '0') || c), 'max'), 3),
                   substr(rem, 1, 1)) END AS best
          FROM g${i - 1}, voc vv) t)"""
      }.mkString(",")
      s"""
      WITH ${wpStagesSql(wpK, 2, 32)},
      voc AS MATERIALIZED (SELECT list_distinct(list_concat(
                (SELECT list(m) FROM ($mergedUnion)),
                [$chars, '</w>'])) AS v),
      g0 AS (SELECT word, word || '</w>' AS rem, 0 AS nt FROM wf),$stages,
      enc AS (SELECT word, nt AS n FROM g$steps),
      docw AS (SELECT doc_id, ws[j] AS word
               FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                     FROM documents) t,
                    unnest(range(1, len(ws) + 1)) AS u(j))
      SELECT d.doc_id, CAST(sum(COALESCE(e.n, 1)) AS INT) AS n_tokens_wordpiece
      FROM docw d LEFT JOIN enc e ON d.word = e.word
      GROUP BY d.doc_id"""
    })

  /** DuckDB replay of the unigram-LM trainer
    * ([[graft.functions.UnigramTokenizer.trainUnigram]]): the seed
    * substring count, then per round an UNROLLED Viterbi DP (one CTE
    * per word position, candidates as unioned joins against the
    * previous model, argmax by (score DESC, prev ASC) row_number — the
    * expression's exact tie rule), an unrolled backtrace emitting the
    * best-path pieces, frequency-weighted counts, and the
    * (count desc, piece asc) prune + 6-dp log-prob re-estimate. Every
    * DP score is the same chain of double additions both engines build
    * from shared inputs, so the argmax — and the learned vocabulary —
    * replays cell-exactly (the bpeStagesSql idiom).
    */
  private[queries] def unigramStagesSql(
      rounds: Int, vocabSize: Int, maxPieceLen: Int, maxWordLen: Int,
      minSeedCount: Int, seedSize: Int): String = {
    val W = maxWordLen
    val L = maxPieceLen
    val base = s"""
      uwf AS MATERIALIZED (
        SELECT word, count(*) AS freq FROM (
          SELECT unnest(str_split($normSql, ' ')) AS word FROM documents) u
        WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $W
        GROUP BY word),
      uss AS MATERIALIZED (
        SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM uwf, unnest(range(1, length(word) + 1)) AS u(i),
             unnest(range(1, $L + 1)) AS v(l)
        WHERE i + l <= length(word) + 1
        GROUP BY 1),
      uv0 AS MATERIALIZED (SELECT piece, cnt FROM uss
              WHERE cnt >= $minSeedCount OR length(piece) = 1
              ORDER BY cnt DESC, piece LIMIT $seedSize),
      ul0 AS MATERIALIZED (SELECT piece, round(ln(CAST(cnt AS DOUBLE) /
                (SELECT CAST(sum(cnt) AS DOUBLE) FROM uv0)), 6) AS logp
              FROM uv0)"""
    val roundsSql = (1 to rounds).map { r =>
      val lp = s"ul${r - 1}"
      val dps = (1 to W).map { i =>
        val cands = (math.max(0, i - L) until i).map { j =>
          val src =
            if (j == 0) "(SELECT word, freq, CAST(0 AS DOUBLE) AS score FROM uwf)"
            else s"(SELECT word, freq, score FROM ud${r}_$j)"
          s"""SELECT d.word, d.freq, $i AS pos, d.score + v.logp AS score,
                 v.piece AS piece, $j AS prev
              FROM $src d JOIN $lp v
                ON v.piece = substr(d.word, ${j + 1}, ${i - j})
              WHERE length(d.word) >= $i"""
        }.mkString(" UNION ALL ")
        s"""
      ud${r}_$i AS MATERIALIZED (
        SELECT word, freq, pos, score, piece, prev FROM (
          SELECT *, row_number() OVER (PARTITION BY word
            ORDER BY score DESC, prev ASC) AS rn
          FROM ($cands) cand) t
        WHERE rn = 1)"""
      }.mkString(",")
      val dpall =
        s"""
      uda$r AS MATERIALIZED (${(1 to W).map(i => s"SELECT * FROM ud${r}_$i").mkString(" UNION ALL ")})"""
      val paths = (0 until W).map { t =>
        if (t == 0) s"""
      up${r}_0 AS MATERIALIZED (
        SELECT d.word, d.freq, d.piece, d.prev FROM uda$r d
        JOIN uwf w ON w.word = d.word AND d.pos = length(w.word))"""
        else s"""
      up${r}_$t AS MATERIALIZED (
        SELECT d.word, d.freq, d.piece, d.prev FROM up${r}_${t - 1} p
        JOIN uda$r d ON d.word = p.word AND d.pos = p.prev
        WHERE p.prev > 0)"""
      }.mkString(",")
      val pieces = (0 until W)
        .map(t => s"SELECT freq, piece FROM up${r}_$t").mkString(" UNION ALL ")
      s"""$dps,$dpall,$paths,
      uc$r AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
               FROM ($pieces) GROUP BY 1),
      uv$r AS MATERIALIZED (SELECT piece, cnt FROM uc$r
               ORDER BY cnt DESC, piece LIMIT $vocabSize),
      ul$r AS MATERIALIZED (SELECT piece, round(ln(CAST(cnt AS DOUBLE) /
                 (SELECT CAST(sum(cnt) AS DOUBLE) FROM uv$r)), 6) AS logp
               FROM uv$r)"""
    }.mkString(",")
    base + "," + roundsSql
  }

  private final val uniRounds = 2
  private final val uniVocab = 40

  /** One unigram training per (session, scale dir): the vocabulary is a
    * pure function of the corpus, so q_unigram_vocab and
    * q_unigram_encode share one fit — the bpeMergesMemo idiom (honest-
    * bench caveat: the first row to run pays the cold train).
    */
  private val unigramMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[graft.functions.UnigramTokenizer.UnigramPiece]]()

  /** Drop the tokenizer fit memos (BPE merges + unigram pieces) so a
    * growth-gate harness can time the COLD train path per tier —
    * without this, whichever of the vocab/encode twins runs second
    * measures a driver-side memo hit instead of the EM/merge training
    * the gate claims to guard. Bench keeps the memos (the shared-fit
    * caveat is documented and floored); TriScale clears per timed run.
    */
  private[graft] def clearTokenizerMemos(): Unit = {
    bpeMergesMemo.clear()
    unigramMemo.clear()
    wordPieceMemo.clear()
  }
  private def trainedUnigram(s: org.apache.spark.sql.SparkSession, dir: String) =
    unigramMemo.computeIfAbsent(dir, _ =>
      graft.functions.UnigramTokenizer.trainUnigram(
        tables(s, dir).documents, "text", vocabSize = uniVocab,
        rounds = uniRounds, maxPieceLen = 4, maxWordLen = 10,
        minSeedCount = 3L, seedSize = 300))

  /** Unigram-LM (SentencePiece-style Viterbi-EM) tokenizer training
    * ([[graft.functions.UnigramTokenizer]]): the learned piece
    * vocabulary with counts and log-probs — seed, both EM rounds, prune
    * and re-estimate all replayed by the DuckDB oracle.
    */
  val qUnigramVocab = Q(
    "q_unigram_vocab",
    (s, dir) => {
      import s.implicits._
      trainedUnigram(s, dir)
        .map(p => (p.rank, p.piece, p.n, p.logp))
        .toDF("rank", "piece", "n", "logp")
    },
    Some(s"""
      WITH ${unigramStagesSql(uniRounds, uniVocab, 4, 10, 3, 300)}
      SELECT CAST(row_number() OVER (ORDER BY v.cnt DESC, v.piece) AS BIGINT) AS rank,
             v.piece, v.cnt AS n, l.logp
      FROM uv$uniRounds v JOIN ul$uniRounds l USING (piece)"""))

  /** Train-then-encode under the FINAL unigram model: max-probability
    * per-word segmentation via the native `unigram_viterbi` expression
    * (map-only). Verified to the token STRING level like q_bpe_encode:
    * the oracle unrolls ONE extra Viterbi-DP round under the final
    * model (rounds+1's paths; its count/prune CTEs are dead code) and
    * reassembles each document's token stream for the md5 compare.
    */
  val qUnigramEncode = Q(
    "q_unigram_encode",
    (s, dir) => graft.functions.UnigramTokenizer.unigramEncode(
        tables(s, dir).documents, "text", "doc_id", trainedUnigram(s, dir),
        maxWordLen = 10)
      .select(col("doc_id"), col("n_tokens"),
        md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_hash")),
    Some {
      val r = uniRounds + 1
      val pieces = (0 until 10)
        .map(t => s"SELECT word, piece, prev FROM up${r}_$t")
        .mkString(" UNION ALL ")
      s"""
      WITH ${unigramStagesSql(r, uniVocab, 4, 10, 3, 300)},
      uenc AS MATERIALIZED (
        SELECT word, string_agg(piece, ' ' ORDER BY prev) AS tok_str,
               count(*) AS n
        FROM ($pieces) GROUP BY word),
      udocw AS (SELECT doc_id, j, ws[j] AS word
                FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                      FROM documents) t,
                     unnest(range(1, len(ws) + 1)) AS u(j)),
      utok AS (SELECT d.doc_id, d.j,
                      COALESCE(e.tok_str, d.word) AS tok_str,
                      COALESCE(e.n, 1) AS n
               FROM udocw d LEFT JOIN uenc e ON d.word = e.word)
      SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens,
             md5(string_agg(tok_str, ' ' ORDER BY j)) AS token_hash
      FROM utok GROUP BY doc_id"""
    })

  /** The YAML `tokenize` stage in `algo: unigram` mode end-to-end:
    * unigram train + Viterbi encode through the workflow. Oracle: the
    * q_unigram_encode replay, counts only (token text is already
    * string-verified by q_unigram_encode's hash).
    */
  val qWorkflowUnigram = Q(
    "q_workflow_unigram",
    (s, dir) => {
      val yaml =
        s"""input_dataset:
           |  read_dataset:
           |    file_path: $dir/documents.parquet
           |    file_type: parquet
           |tokenize:
           |  algo: unigram
           |  text_col: text
           |  vocab_size: $uniVocab
           |  rounds: $uniRounds
           |  max_piece_len: 4
           |  max_word_len: 10
           |  min_seed_count: 3
           |  seed_size: 300
           |  keep_tokens: false
           |""".stripMargin
      val (out, _) = graft.workflow.Workflow.run(s, yaml)
      out.select(col("doc_id"), col("n_tokens_unigram"))
    },
    Some {
      val r = uniRounds + 1
      val pieces = (0 until 10)
        .map(t => s"SELECT word, piece FROM up${r}_$t")
        .mkString(" UNION ALL ")
      s"""
      WITH ${unigramStagesSql(r, uniVocab, 4, 10, 3, 300)},
      uenc AS MATERIALIZED (
        SELECT word, count(*) AS n FROM ($pieces) GROUP BY word),
      udocw AS (SELECT doc_id, ws[j] AS word
                FROM (SELECT doc_id, str_split($normSql, ' ') AS ws
                      FROM documents) t,
                     unnest(range(1, len(ws) + 1)) AS u(j))
      SELECT d.doc_id, CAST(sum(COALESCE(e.n, 1)) AS INT) AS n_tokens_unigram
      FROM udocw d LEFT JOIN uenc e ON d.word = e.word
      GROUP BY d.doc_id"""
    })

  /** Packing-efficiency report at seqLen 256 over whitespace token
    * counts ([[graft.functions.Sharding.packingEfficiency]]): integer
    * counts + two rounded ratios — fully oracle-replayable.
    */
  val qPackingEfficiency = Q(
    "q_packing_efficiency",
    (s, dir) => {
      val d = tables(s, dir).documents
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      graft.functions.Sharding.packingEfficiency(d, "n_tokens", seqLen = 256L)
    },
    Some(s"""
      WITH d AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(str_split_regex(trim(text), '\\s+')) END AS t
                 FROM documents),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(t) AS BIGINT) AS total_tokens,
                   CAST(sum(CAST(ceil(CAST(t AS DOUBLE) / 256) AS BIGINT)) AS BIGINT)
                     AS padded_seqs
            FROM d)
      SELECT n_docs, total_tokens, padded_seqs,
        round(CASE WHEN padded_seqs = 0 THEN 0.0
          ELSE 1.0 - CAST(total_tokens AS DOUBLE) / (padded_seqs * 256) END, 4)
          AS padded_waste,
        CAST(ceil(CAST(total_tokens AS DOUBLE) / 256) AS BIGINT) AS concat_seqs,
        round(CASE WHEN total_tokens = 0 THEN 0.0
          ELSE 1.0 - CAST(total_tokens AS DOUBLE)
            / (CAST(ceil(CAST(total_tokens AS DOUBLE) / 256) AS BIGINT) * 256) END, 4)
          AS concat_waste
      FROM a"""))

  /** Deterministic synthetic URL per document (testdata has no URL
    * column): seven variants cycling on doc_id, each exercising a
    * canonicalization rule — mixed-case scheme/host, default ports,
    * tracking params, unsorted query, trailing slashes, fragments, a
    * multi-label public suffix, a `github.io` private-registry suffix,
    * and a scheme-less crawl-metadata form (defaults to http and
    * collides with the explicit-http variant of the same page). Built
    * identically on both engines.
    */
  private def synthUrlSpark = {
    val m = pmod(col("doc_id"), lit(7))
    when(m === 0, concat(lit("https://WWW."), col("source"),
        lit(".Example.COM:443/a/b/?utm_source=feed&b=2&a=1#frag")))
      .when(m === 1, concat(lit("http://"), col("source"),
        lit(".example.com:80/path/")))
      .when(m === 2, concat(lit("https://sub."), col("source"),
        lit(".example.co.uk/x?id="), col("doc_id").cast("string"),
        lit("&utm_campaign=z")))
      .when(m === 3, concat(lit("HTTP://"), col("source"),
        lit(".EXAMPLE.org//docs///page2/")))
      .when(m === 4, concat(lit("https://"), col("source"),
        lit(".example.net/q?b=1&a=2&fbclid=xyz")))
      // scheme-less (crawl-metadata form): must canonicalize to the SAME
      // key as the explicit http:// form of this page (m === 1)
      .when(m === 5, concat(col("source"), lit(".example.com/path/")))
      .otherwise(concat(lit("https://"), col("source"), lit(".github.io/repo")))
  }

  // def, not val: queries declared earlier in the object interpolate it
  // through urlCanonCtes at THEIR init time (object vals initialize in
  // declaration order — a val here would read as null from above)
  private def synthUrlSql = """CASE doc_id % 7
      WHEN 0 THEN 'https://WWW.' || source || '.Example.COM:443/a/b/?utm_source=feed&b=2&a=1#frag'
      WHEN 1 THEN 'http://' || source || '.example.com:80/path/'
      WHEN 2 THEN 'https://sub.' || source || '.example.co.uk/x?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=z'
      WHEN 3 THEN 'HTTP://' || source || '.EXAMPLE.org//docs///page2/'
      WHEN 4 THEN 'https://' || source || '.example.net/q?b=1&a=2&fbclid=xyz'
      WHEN 5 THEN source || '.example.com/path/'
      ELSE 'https://' || source || '.github.io/repo' END"""

  /** DuckDB replay of UrlOps' 7 canonicalization rules + the eTLD+1
    * longest-suffix match, as CTE stages over `documents`. Final stage
    * `u9` carries doc_id, source, text, url, url_canon, host, domain.
    */
  private def urlCanonCtes: String = {
    import graft.functions.UrlOps
    // empty rule list → no match (an empty SQL IN () won't parse)
    def inSql(expr: String, xs: Seq[String]): String =
      if (xs.isEmpty) "FALSE"
      else s"$expr IN (${xs.map(s => s"'$s'").mkString(", ")})"
    def lastKSql(k: Int) =
      if (k == 1) "labels[nl]"
      else s"array_to_string(labels[greatest(nl - ${k - 1}, 1):nl], '.')"
    // mirror of UrlOps.registrableDomain's GENERATED when-chain: the
    // clauses come from the rule lengths the snapshot contains —
    // exceptions first (longest first), then suffix matches longest-first
    val sfxCaseSql = {
      import graft.functions.UrlOps
      val excWhens = UrlOps.exceptionByLen.keys.toSeq.sorted.reverse.map { k =>
        s"WHEN nl >= $k AND ${inSql(lastKSql(k), UrlOps.exceptionByLen(k))} THEN ${k - 1}"
      }
      val sfxLens = (UrlOps.exactByLen.keys ++ UrlOps.wildcardByLen.keys.map(_ + 1))
        .toSeq.distinct.sorted.reverse
      val sfxWhens = sfxLens.map { k =>
        s"WHEN nl >= $k AND (${inSql(lastKSql(k), UrlOps.exactByLen.getOrElse(k, Nil))} " +
          s"OR ${inSql(lastKSql(k - 1), UrlOps.wildcardByLen.getOrElse(k - 1, Nil))}) THEN $k"
      }
      (excWhens ++ sfxWhens).mkString("\n               ")
    }
    s"""
      uc AS (SELECT doc_id, source, text, $synthUrlSql AS url FROM documents),
      u1 AS (SELECT *, regexp_replace(trim(url), '#.*$$', '') AS nofrag FROM uc),
      u2 AS (SELECT *,
               CASE WHEN lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = ''
                    THEN 'http'
                    ELSE lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) END AS scheme,
               regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u1),
      u3 AS (SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
               regexp_replace(rest, '^[^/?]*', '') AS pathq FROM u2),
      u4 AS (SELECT *,
               regexp_replace(regexp_replace(lower(hostport), ':[0-9]+$$', ''), '^www\\.', '') AS host,
               regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
               regexp_extract(pathq, '^([^?]*)', 1) AS path,
               regexp_extract(pathq, '\\?(.*)$$', 1) AS query FROM u3),
      u5 AS (SELECT *,
               CASE WHEN regexp_replace(path, '/+$$', '') = '' THEN '/'
                    ELSE regexp_replace(path, '/+$$', '') END AS pnorm,
               array_to_string(list_sort(list_filter(str_split(query, '&'),
                 p -> length(p) > 0 AND NOT regexp_matches(p,
                   '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$$'))), '&') AS sortedq FROM u4),
      u6 AS (SELECT *, scheme || '://' || host ||
               CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                     AND NOT (scheme = 'https' AND port = '443')
                    THEN ':' || port ELSE '' END ||
               pnorm ||
               CASE WHEN sortedq <> '' THEN '?' || sortedq ELSE '' END AS url_canon FROM u5),
      u7 AS (SELECT *, str_split(host, '.') AS labels,
               len(str_split(host, '.')) AS nl FROM u6),
      u8 AS (SELECT *, CASE $sfxCaseSql ELSE 1 END AS sfxlen FROM u7),
      u9 AS (SELECT *, CASE WHEN nl <= sfxlen THEN host
               ELSE array_to_string(labels[nl - sfxlen:nl], '.') END AS domain FROM u8)"""
  }

  /** URL canonicalization + eTLD+1 ([[graft.functions.UrlOps]]) over
    * deterministic synthetic URLs — every rule replayed cell-exact by
    * the DuckDB oracle.
    */
  val qUrlCanonicalize = Q(
    "q_url_canonicalize",
    (s, dir) => {
      import graft.functions.UrlOps
      val u = synthUrlSpark
      tables(s, dir).documents.select(
        col("doc_id"),
        UrlOps.canonicalizeUrl(u).as("url_canon"),
        UrlOps.hostOf(u).as("host"),
        UrlOps.registrableDomain(UrlOps.hostOf(u)).as("domain"))
    },
    Some(s"WITH $urlCanonCtes SELECT doc_id, url_canon, host, domain FROM u9"))

  /** Per-registrable-domain curation rollup ([[graft.functions.UrlOps
    * .domainRollup]]): docs, hosts, tokens, exact-dup rate per domain —
    * map-only canonicalization into one hash-groupBy.
    */
  val qDomainRollup = Q(
    "q_domain_rollup",
    (s, dir) => graft.functions.UrlOps.domainRollup(
      tables(s, dir).documents.withColumn("url", synthUrlSpark), "url", "text"),
    Some(s"""
      WITH $urlCanonCtes
      SELECT domain, count(*) AS n_docs,
        count(DISTINCT host) AS n_hosts,
        CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(str_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
        count(DISTINCT md5($normSql)) AS n_unique,
        round(CAST(count(*) - count(DISTINCT md5($normSql)) AS DOUBLE)
          / count(*), 4) AS dup_rate
      FROM u9 GROUP BY domain"""))

  def all: Seq[Q] = Seq(qTextStats, qTokenCounts, qLangId, qQualityScore, qFingerprint,
    qExactDedup, qMinhashDedup, qIndexDedup, qMinhashEstimateError,
    qSimhashDedup, qNgramJaccard, qDedupClusters, qLeakageSplit, qWorkflowCuration,
    qSemanticDedup, qWorkflowSemantic,
    qCosineTopK, qIvfExactTopK, qLshTopK, qIvfTopK, qPqCodes, qPqTopK,
    qPqRecall, qAnnIndex, qEmbeddingDedup,
    qStratifiedSample, qTextPipeline, qRepetitionScore, qContamination, qWorkflowText,
    qDeterministicSample, qHashSplit, qPiiRedaction, qGopherQuality,
    qLineDedup, qTokenShards, qSourceQuality, qEmbeddingCentroid,
    qMinhashSignatures, qSimhashFingerprint, qEmbeddingQuantize, qUnigramLogprob,
    qLshBuckets, qStratifiedBalanced, qStratifiedPopulation, qDupNgramFraction,
    qDupSpans, qDupSpanRemoval, qDupProfile, qAnnRecall, qZipfFit,
    qCcnetBuckets, qCrossTopK, qBm25TopK, qConcatChunk, qChunkOverlap, qDsirWeights,
    qEncodingQuality, qShuffledShards, qVocabCoverage,
    qMixtureSample, qMixtureTemperature, qFuzzyPairs, qNbClassifier,
    qHeavyHitters, qBigramLogprob, qJaroWinkler,
    qKeywordTfidf, qPiiMentions, qSourceOverlap, qLabelNoise,
    qBpeVocab, qBpeEncode, qUrlCanonicalize, qDomainRollup, qWorkflowMixture,
    qUrlDedup, qDomainCap, qWorkflowUrl, qWorkflowTokenize, qPieceEncode,
    qUnigramVocab, qUnigramEncode, qWorkflowUnigram, qPackingEfficiency,
    qWordpieceVocab, qWordpieceEncode, qWorkflowWordpiece)
}
