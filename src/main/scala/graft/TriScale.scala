package graft

/** Tri-scale growth guard: runs the most expensive queries at
  * sf0.001/sf0.01/sf0.1 and gates on sub-quadratic wall-time growth —
  * the cheap local proxy for the 100× posture claims (a quadratic
  * candidate-pair blowup or an unbounded window shows up as a
  * super-linear decade-over-decade ratio long before it OOMs a
  * cluster). Each (query, sf) cell is the min of two runs to damp the
  * host's CPU-steal weather; the sf0.001 pass doubles as JIT warmup.
  *
  * Gate: t(sf0.1) / max(t(sf0.01), floor) < 30. Data grows 10× per
  * step, so a ratio of 30 bounds the growth exponent at p ≈ 1.5 —
  * comfortably sub-quadratic — while tolerating fixed overheads that
  * dominate the small scales (the floor keeps overhead-bound cells
  * from generating nonsense ratios).
  *
  * Prints one JSON line (artifact: TRISCALE_r{N}.json) and exits 1 on
  * gate failure.
  */
object TriScale {
  private val guarded = Seq(
    "q_workflow_text", "q_dedup_clusters", "q_simhash_neardup",
    "q_minhash_neardup", "q_ngram_jaccard",
    // round-7 candidate-join / iterative additions — the shapes where a
    // quadratic blowup would hide at test scale
    "q_fuzzy_pairs", "q_pagerank", "q_triangle_count", "q_changelog_apply",
    // round-9: the broadcast-query-set retrieval (guards the 1M query
    // cap staying effective) and the 50-token-window span dedup (guards
    // the hash-join candidate volume)
    "q_cross_topk", "q_dup_spans",
    // round-9 fit-heavy additions: histogram-selection grid fit +
    // when-tree apply, and the quantized-Jacobi PCA fit+project
    "q_quantile_transform", "q_pca_latent",
    // round-12: the two heaviest round-11 additions — per-cell pair
    // scoring (quadratic-within-cell risk) and the sampled iterative fit
    "q_semantic_dedup", "q_iterative_deterministic",
    // round-12b: the window/sessionization family (per-user state shapes)
    "q_sessionization", "q_window_aggregator",
    // round-13: the remaining ANN flagships — LSH bucket joins, IVF cell
    // probing, SRP near-dup candidates (the 100 TB similarity paths)
    "q_lsh_topk", "q_ivf_topk", "q_embedding_neardup",
    // round-13b: the span-removal apply (token×span HOF filter risk)
    // and the saved-index probe (band equi-join + estimate)
    "q_dup_span_removal", "q_index_dedup",
    // round-13c: the compressed-embedding family (PQ encode is map-only,
    // IVF-PQ/serving-probe are cell cogroups — quadratic-within-cell
    // risk like semantic_dedup) and the z-order layout pass (range
    // exchange + sort must stay linear)
    "q_pq_topk", "q_ann_index", "q_zorder_roundtrip",
    // round-13d: the heaviest new analytics shapes — spearman's
    // per-column rank sort+join (n log n), the contingency windows, and
    // the distinct-value prefix passes (gini / moments store)
    "q_spearman_matrix", "q_cat_association", "q_moments_store",
    "q_concentration",
    // round-14: the full configs.yaml composition — the heaviest
    // multi-stage query in the suite; its fit scans and treatments must
    // grow linearly like their standalone rows
    "q_workflow_full",
    // round-15: the curation composition (DSIR selection → leakage split)
    // — its DSIR feature explosion and subset pair join must grow
    // linearly like q_dsir_weights / q_leakage_split standalone
    "q_workflow_curation",
    // round-16: BPE train+encode — the corpus-sized word-frequency scan
    // must stay the ONLY corpus-sized stage (the K merge rounds are
    // vocab-sized and must not grow with the corpus)
    "q_bpe_encode",
    // round-17: the URL-curation family (q_domain_cap's bounded-heap
    // quota is the one with the skew question), the three round-16
    // workflow stages, and the unigram trainer (its EM rounds are
    // vocab-sized and must not grow with the corpus, like BPE)
    "q_url_dedup", "q_domain_rollup", "q_domain_cap",
    "q_workflow_mixture", "q_workflow_url", "q_workflow_tokenize",
    "q_unigram_vocab", "q_unigram_encode",
    // round-17b: HITS — same per-sweep join+agg shape as pagerank; its
    // barrier rescales must stay node-sized as the graph grows — and
    // k-core, whose per-round degree agg + shrink must stay linear
    "q_hits", "q_kcore",
    // round-18: connected components — per-round edge join + min agg
    // plus a node-sized pointer-jump self-join, both of which must stay
    // linear in edges/nodes — and exact truncated harmonic centrality,
    // whose layered pair frame must stay near-linear at radius 2 on the
    // sparsified bipartite graph (3 tiers only: the exact-ball form is
    // the verification sibling; harmonicCentralityApprox carries the
    // node-sized-state scale claim)
    "q_connected_components", "q_harmonic_centrality",
    // round-18: LPA — per-round (node, label) count aggregate must stay
    // map-side-combined (one combiner row per distinct neighbor label,
    // never per edge) as hubs grow
    "q_label_propagation",
    // round-18: degree-capped random walks — the per-step equi-join must
    // stay O(walks) with the bounded-heap candidate table absorbing hub
    // degrees
    "q_random_walks",
    // round-18: WordPiece — BPE's growth contract (the word-frequency
    // scan is the only corpus-sized stage; the likelihood-scored rounds
    // are vocab-sized), measured cold via clearTokenizerMemos
    "q_wordpiece_vocab", "q_wordpiece_encode",
    // round-18b: Louvain — per-round community-weight + neighbor-count
    // aggregates must stay map-side-combined like LPA's
    "q_louvain_communities",
    // round-19: the weighted/seeded family — weighted pagerank's
    // per-sweep join carries the weight column (same 2-shuffle shape),
    // PPR adds one node-sized seed join per sweep, weighted louvain's
    // kiin becomes a weight sum (still map-side-combined), and the l2
    // refine's coarsen + community-graph rounds must stay
    // community-sized as the base graph grows
    "q_pagerank_weighted", "q_ppr", "q_louvain_weighted", "q_louvain_l2",
    // round-19b: the community audit (louvain fit + edge-label roll-up)
    // and the exact neighborhood function (the q_harmonic pair-frame
    // shape — 3 tiers only, the HyperANF approx carries the scale claim)
    "q_community_profile", "q_effective_diameter",
    // round-19b: the capped membership→graph projection — per-group
    // pair fan-out must stay <= cap² as groups grow (the whole point)
    "q_bipartite_projection")
  private val sfDirs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
  private val ratioGate = 30.0
  private val floorSec = 0.15

  /** The round-9 top-growth set also runs a 4th decade at sf1 (synthetic,
    * see [[GenScale]]) when SPARK_GRAFT_SF1_DIR points at it. Only these
    * touch tables GenScale materializes (lineitem, documents, and —
    * since round 12 — orders); the env check below verifies all three
    * exist so a stale pre-round-12 scratch dir degrades to the 3-tier
    * run instead of crashing q_pagerank mid-suite.
    */
  private val sf1Guarded = Seq(
    "q_simhash_neardup", "q_dup_spans", "q_quantile_transform",
    "q_pca_latent", "q_ngram_jaccard",
    // round-12: GenScale now materializes orders (shared order-key
    // offset, per-replica customer keys, SHARED suppliers → 10×-degree
    // hubs), so the two graph queries gate their power-law growth at sf1
    "q_pagerank", "q_triangle_count",
    // round-12b: events too (per-replica user keys, constant per-user
    // event counts) — the window/sessionization family gets sf1 coverage
    "q_sessionization", "q_window_aggregator",
    // round-13: embeddings (per-replica dimension rotation — orthogonal,
    // within-replica cosines exact) + the document cluster path — the
    // ANN/dedup flagships prove their decade ratios like simhash/ngram
    "q_lsh_topk", "q_ivf_topk", "q_embedding_neardup", "q_semantic_dedup",
    "q_dedup_clusters",
    // round-13b text additions ride the sf1 documents tier too
    "q_dup_span_removal", "q_index_dedup",
    // round-13c: PQ rides the rotated-embedding tier, z-order the
    // orders tier
    "q_pq_topk", "q_ann_index", "q_zorder_roundtrip",
    // round-13d: spearman/cat-association ride lineitem, moments the
    // events tier, concentration the documents tier
    "q_spearman_matrix", "q_cat_association", "q_moments_store",
    "q_concentration",
    // round-14: the last six pipelines capped at sf0.1 — the full text
    // workflow and the md5 minhash family ride documents, changelog
    // rides orders, cross-top-k rides the rotated embeddings, the
    // iterative imputer rides lineitem, and fuzzy pairs rides the new
    // digit-permuted supplier tier
    "q_workflow_text", "q_minhash_neardup", "q_fuzzy_pairs",
    "q_changelog_apply", "q_cross_topk", "q_iterative_deterministic",
    // round-14b: the full workflow composition rides the orders tier
    "q_workflow_full",
    // round-15: the curation composition rides the documents tier
    "q_workflow_curation",
    // round-16: BPE rides the sf1 documents tier too — the word-freq
    // scan is its only corpus-sized stage and must prove the 4th decade
    "q_bpe_encode",
    // round-17: the URL family, workflow stages, and unigram trainer
    // all ride the documents tier
    "q_url_dedup", "q_domain_rollup", "q_domain_cap",
    "q_workflow_mixture", "q_workflow_url", "q_workflow_tokenize",
    "q_unigram_vocab", "q_unigram_encode",
    // round-17b: HITS rides the sf1 orders tier like pagerank (shared
    // suppliers give 10x-degree authority hubs); k-core rides the same
    // tier (10x-degree hubs must still peel in bounded rounds)
    "q_hits", "q_kcore",
    // round-18: components ride the same orders tier (hub suppliers fuse
    // most of the bipartite graph — the jump join must stay node-sized);
    // LPA rides the co-occurrence tier like k-core (10x-degree hubs must
    // pre-aggregate their per-label counts map-side)
    "q_connected_components", "q_label_propagation", "q_random_walks",
    // round-18: WordPiece rides the sf1 documents tier like BPE — the
    // 4th decade proves the merge rounds stay vocab-sized
    "q_wordpiece_encode",
    // round-18b: Louvain rides the co-occurrence tier like LPA (hub
    // communities must pre-aggregate their member weights map-side)
    "q_louvain_communities",
    // round-19: weighted pagerank + PPR ride the sf1 orders tier like
    // pagerank/HITS (10x-degree hubs, weight column along for the
    // ride); the weighted/l2 louvains ride the co-occurrence tier
    "q_pagerank_weighted", "q_ppr", "q_louvain_weighted", "q_louvain_l2",
    // round-19b: the capped projection rides the sf1 lineitem tier —
    // shared suppliers give 10x-size groups the cap must absorb
    "q_bipartite_projection")

  def main(args: Array[String]): Unit = {
    val spark = QuerySession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val queries = SparkEntry.queries.filter { case (n, _) => guarded.contains(n) }
    def runOnce(name: String, dir: String): Double = {
      // cold-path honesty: the tokenizer fit memos would otherwise let
      // whichever vocab/encode twin runs second time a driver-side memo
      // hit (~15 ms flat at every tier) instead of the training the
      // growth gate exists to guard
      graft.queries.TextQueries.clearTokenizerMemos()
      graft.queries.AnalyticsQueries.clearGraphMemos()
      val t0 = System.nanoTime()
      queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      dt
    }
    val sf1Dir = sys.env.get("SPARK_GRAFT_SF1_DIR").filter { d =>
      val ok = Seq("lineitem", "documents", "orders", "events", "embeddings",
          "supplier")
        .forall(t => new java.io.File(d, s"$t.parquet").exists())
      if (!ok && new java.io.File(d).isDirectory)
        System.err.println(s"[triscale] $d is missing required tables " +
          "(lineitem/documents/orders/events/embeddings/supplier — regenerate with GenScale); running 3 tiers only")
      ok
    }
    def dirsFor(name: String): Seq[String] =
      if (sf1Dir.isDefined && sf1Guarded.contains(name)) sfDirs :+ sf1Dir.get else sfDirs
    val cells: Map[String, Seq[Double]] = guarded.map { name =>
      name -> dirsFor(name).map { dir =>
        val a = runOnce(name, dir); val b = runOnce(name, dir)
        math.min(a, b)
      }
    }.toMap
    var failed = List.empty[String]
    val rows = guarded.map { name =>
      val t = cells(name)
      // gate every measured decade past the (overhead-dominated) first:
      // 0.01→0.1 always, 0.1→sf1 when the tier is present
      val ratios = (2 until t.length).map(i => t(i) / math.max(t(i - 1), floorSec))
      val ratio = ratios.max
      val ok = ratio < ratioGate
      if (!ok) failed ::= name
      val secs = t.map(v => f"$v%.3f")
      // per-query sfs: only the sf1Guarded subset runs the 4th tier, so a
      // single global sfs list would misalign sec[i] for everything else
      val qSfs = (if (dirsFor(name).length == 4) Seq("0.001", "0.01", "0.1", "1")
                  else Seq("0.001", "0.01", "0.1")).mkString(",")
      System.err.println(
        f"[triscale] $name%-22s ${secs.mkString(" ")} s  worst_ratio=${ratio}%6.2f  ${if (ok) "OK" else "FAIL"}")
      s""""$name":{"sfs":[$qSfs],"sec":[${secs.mkString(",")}],"ratio":${f"$ratio%.2f"},"pass":$ok}"""
    }
    println(s"""{"metric":"triscale","gate":$ratioGate,"queries":{${rows.mkString(",")}},"pass":${failed.isEmpty}}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[triscale] GATE FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
