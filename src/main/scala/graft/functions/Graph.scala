package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Graph centrality over edge frames — the domain-authority signal
  * web-corpus pipelines rank URLs/hosts with (CommonCrawl publishes
  * exactly this as harmonic/pagerank centrality per host). Spark-first:
  * every iteration is one join + one aggregate over the edge frame; no
  * vertex-program framework, no driver-side graph.
  */
object Graph {

  /** The one sweep loop of the iterative graph ops: runs `step` for
    * rounds 1..`rounds`, round r reading round r−1's frame (`init`
    * first), and localCheckpoints round r's frame when
    * `r % every == 0 || r == rounds`. The checkpoints truncate lineage
    * (an iterative plan grows one sweep deeper per round, and the
    * optimizer re-analyzes the whole history each time); the last one
    * materializes the result, so callers may release the cached inputs
    * its plan reads. Each op passes its measured cadence as a literal.
    */
  private[graft] def sweep(init: DataFrame, rounds: Int, every: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (cur, r) =>
      val next = step(cur, r)
      if (r % every == 0 || r == rounds) next.localCheckpoint() else next
    }

  /** Fixed-iteration PageRank over (src, dst) edges, treated as a
    * weighted multigraph (duplicate edges carry multiplicity).
    * Deterministic: uniform init 1/N, `iterations` synchronous sweeps,
    * rank = (1−d)/N + d·Σ_in rank/outdeg. Fixed iteration count (not a
    * convergence test) keeps the result a pure function of the edges —
    * replayable by any engine (q_pagerank unrolls the same sweeps in
    * SQL CTEs). An empty edge frame has no node to rank and fails.
    *
    * Scale: each sweep shuffles the edge frame once (join on src) and
    * aggregates contributions on dst — the canonical 2-shuffle
    * iteration. The [[sweep]] checkpoints every THIRD sweep: the
    * truncated rank frame is node-sized (tiny next to the edges),
    * letting the plan nest measured 1.6-2.4× slower even at 5
    * iterations (`ck=2` 2.2 s vs `ck=0` 3.5-6.9 s at sf0.1, r12); the
    * r20 leaner sweeps (fused outdeg, union-seeded aggregate) tilt the
    * balance one notch lazier (`ck=3` ~7.5 s vs `ck=2` ~8.6 s for the
    * 3-query pagerank family, median of 5).
    * Dangling nodes (no out-edges) simply contribute nothing — supply
    * symmetric edges if mass conservation matters.
    */
  /** `saltDegreeThreshold` (opt-in, 0 = off): on power-law graphs a hub
    * whose out-degree dominates puts ALL its edges into one hash
    * partition of the per-sweep src join — the classic straggler. With
    * salting on, edges of sources at/above the threshold carry a
    * deterministic salt in [0, saltFactor) (hashed from dst) and the
    * hub's rank/degree row is replicated across the salt space, so the
    * hot key spreads over `saltFactor` partitions. Contributions are
    * value-identical (rank/outdeg per edge, then the same dst
    * aggregate); only the partial-sum order changes, which double
    * summation already doesn't guarantee.
    */
  /** `weightCol` (opt-in, "" = unit weights): textbook weighted
    * PageRank — each sweep distributes rank proportionally to edge
    * weight, `rank·w/wout(u)` with `wout(u) = Σ out-edge weights`
    * (host link graphs carry link counts; multiplicity-as-weight is
    * the same contract the unweighted form documents for duplicate
    * edges, expressed as one weighted row instead of w parallel rows).
    * Weights cast to double; non-positive total out-weight at a node
    * divides to ±inf/NaN like any 0-degree artifact would — supply
    * positive weights.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 5,
      damping: Double = 0.85,
      saltDegreeThreshold: Int = 0,
      saltFactor: Int = 16,
      weightCol: String = ""): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    // saltFactor <= 0 would salt hub edges with pmod(hash, 0) = null and
    // replicate their rank rows via sequence(0, -1) = empty — the hub's
    // edges silently vanish from the join instead of erroring
    require(saltDegreeThreshold <= 0 || saltFactor >= 1,
      s"saltFactor must be >= 1 when salting is enabled, got $saltFactor")
    val weighted = weightCol.nonEmpty
    val (e0, nodes, deg, contrib) = rankEdges(edges, srcCol, dstCol, weightCol)
    val n = nodes.count()
    // the 1/N seed would divide by zero (ANSI) on an edgeless graph
    require(n > 0, s"pageRank needs at least one edge: the edge frame ($srcCol, $dstCol) is empty")
    val base = lit(1.0) - lit(damping)
    val salted = saltDegreeThreshold > 0
    // hub set is static across sweeps: mark it once, broadcast (the
    // whole point is that very few sources clear the threshold). The
    // threshold is a FAN-OUT knob, so hubs are detected by EDGE COUNT
    // even when weighted — a million-edge hub with small weights must
    // still salt, a modest-degree node with large weights must not.
    val hubs = (if (weighted)
        e0.groupBy("src").agg(count(lit(1)).as("__ec"))
          .filter(col("__ec") >= saltDegreeThreshold)
      else deg.filter(col("outdeg") >= saltDegreeThreshold))
      .select(col("src"), lit(true).as("__hub"))
    // The per-sweep operand, built ONCE (guide §2.4): outdeg is static,
    // so it is fused onto the edge rows up front instead of re-joining
    // the degree table every sweep (one broadcast/shuffle build fewer
    // per sweep; the rank join itself is AQE-broadcast at bench scale
    // and co-partitioned at cluster scale, so the edge frame itself
    // never re-exchanges — measured: an explicit repartition(src) here
    // only ADDED an upfront edge shuffle, see OPTIMIZATION_r20.md).
    val e =
      if (!salted)
        e0.join(deg, "src").persist()
      else e0.join(deg, "src").join(broadcast(hubs), Seq("src"), "left")
        .withColumn("__salt",
          when(col("__hub"), pmod(hash(col("dst")), lit(saltFactor))).otherwise(lit(0)))
        .drop("__hub").persist()
    // static zero seed: one 0.0 row per node folded into each sweep's
    // contribution sum replaces the former per-sweep `nodes ⟕ contribs`
    // join (one join + sort fewer per sweep; adding 0.0 to a double sum
    // is value-identical to the coalesce(s, 0.0) it replaces, and a
    // node with no in-edges still gets its row from the seed)
    val zeroSeed = nodes.select(col("node"), lit(0.0).as("c"))
    val out = sweep(nodes.withColumn("rank", lit(1.0) / lit(n.toDouble)), iterations, 3) {
      (ranks, _) =>
        val rankSrc = ranks.withColumnRenamed("node", "src")
        val rankSalted =
          if (!salted) rankSrc
          else rankSrc.join(broadcast(hubs), Seq("src"), "left")
            .withColumn("__salt", explode(
              when(col("__hub"), sequence(lit(0), lit(saltFactor - 1)))
                .otherwise(array(lit(0)))))
            .drop("__hub")
        e.join(rankSalted, if (salted) Seq("src", "__salt") else Seq("src"))
          .select(col("dst").as("node"), contrib)
          .unionByName(zeroSeed)
          .groupBy("node").agg(sum("c").as("s"))
          .select(col("node"),
            (base / lit(n.toDouble) + lit(damping) * col("s")).as("rank"))
    }
    e.unpersist(false)
    e0.unpersist(false); nodes.unpersist(false)
    out
  }

  /** Personalized PageRank from a seed set — the quality-expansion
    * trick public corpus curation popularized (rank the whole host
    * graph by proximity to a trusted allowlist; pages random-surfers
    * starting at the seeds keep reaching score high): the same
    * 2-shuffle synchronous sweep as [[pageRank]], but ALL teleport
    * mass returns to the seeds instead of spreading uniformly —
    * r_t(v) = (1−d)·s(v) + d·Σ_in r_{t−1}(u)·w/wout(u), with
    * s(v) = 1/|S| on seeds and 0 elsewhere, r_0 = s. Deterministic
    * fixed iterations; replayable as unrolled SQL (q_ppr).
    *
    * `seeds` is a DataFrame (one column of node ids — seed sets can be
    * data-sized; ids absent from the graph are ignored), `weightCol`
    * the optional edge-weight column with [[pageRank]]'s semantics.
    *
    * Returns (node, rank) over all graph nodes; non-seed nodes
    * unreachable from the seeds hold rank 0.
    *
    * Scale: identical posture to [[pageRank]] — per sweep one edge
    * join + one map-side-combined dst aggregate, node-sized state,
    * lineage truncated every third sweep; the seed
    * indicator is one node-sized join (AQE broadcasts small seed
    * sets). Dangling mass is dropped, not redistributed, matching
    * [[pageRank]]'s documented contract.
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 4,
      damping: Double = 0.85,
      weightCol: String = ""): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(seeds.columns.length == 1,
      s"seeds must have exactly one node-id column, got ${seeds.columns.length}")
    val (e0, nodes, deg, contrib) = rankEdges(edges, srcCol, dstCol, weightCol)
    // The per-sweep operand, built ONCE (guide §2.4, the pageRank
    // reasoning): static outdeg fused onto the edge rows — no per-sweep
    // deg join.
    val e = e0.join(deg, "src").persist()
    // effective seed set: ids present in the graph, deduplicated —
    // node-sized at most, persisted because every sweep re-adds the
    // teleport mass
    val seedSet = seeds.select(col(seeds.columns.head).cast("long").as("node"))
      .distinct().join(nodes, Seq("node"), "left_semi").persist()
    val nSeeds = seedSet.count()
    require(nSeeds >= 1, "no seed id is present in the graph")
    val seedMass = lit(1.0) / lit(nSeeds.toDouble)
    val base = seedSet.withColumn("mass", seedMass)
    // static (zero-contribution, teleport-mass) seed row per node: folded
    // into each sweep's aggregate it replaces BOTH per-sweep node-sized
    // joins (`nodes ⟕ contribs ⟕ base`) — summing one mass row plus 0.0
    // rows is value-identical to the coalesce chain it replaces
    val seedZero = nodes.join(base, Seq("node"), "left")
      .select(col("node"), lit(0.0).as("c"),
        coalesce(col("mass"), lit(0.0)).as("m")).persist()
    val out = sweep(seedZero.select(col("node"), col("m").as("rank")), iterations, 3) {
      (ranks, _) =>
        e.join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), contrib, lit(0.0).as("m"))
          .unionByName(seedZero)
          .groupBy("node").agg(sum("c").as("s"), sum("m").as("mm"))
          .select(col("node"),
            ((lit(1.0) - lit(damping)) * col("mm") +
              lit(damping) * col("s")).as("rank"))
    }
    e.unpersist(false); e0.unpersist(false); nodes.unpersist(false)
    seedSet.unpersist(false); seedZero.unpersist(false)
    out
  }

  /** Fixed-iteration HITS (Kleinberg) over DIRECTED (src, dst) edges —
    * the hubs-and-authorities companion to [[pageRank]] in web-corpus
    * curation: authorities are pages good hubs point at, hubs are pages
    * that point at good authorities. Duplicate edges carry multiplicity
    * (weighted multigraph), matching pageRank's contract.
    *
    * Each sweep: auth(v) = Σ_{u→v} hub(u); hub(u) = Σ_{u→v} auth(v).
    * Both updates are LINEAR in the score vector, so any positive
    * per-step normalization constant just rescales everything after it —
    * the textbook per-step L2 norm, a per-step max norm, and normalizing
    * only occasionally all yield the SAME final vector up to one positive
    * scalar (identical rankings). This implementation divides each
    * vector by its exact MAX only at `rescaleEvery`-sweep barriers and
    * after the final sweep: the barrier bounds double magnitude (raw
    * scores grow like (d_in·d_out)^sweeps between barriers) while the
    * intermediate sweeps stay one lazy plan, and (unlike an L2 sum of
    * squares) a max of already-computed doubles is exact, keeping the
    * whole run replayable by an external engine at 9-decimal rounding
    * (q_hits unrolls the same sweeps AND the same rescale schedule as
    * SQL CTEs, the q_pagerank trick). Within a barrier the hub
    * half-sweep consumes the RAW auth vector and both maxima are
    * fetched in ONE union-agg job — the same final vectors by
    * linearity, half the driver round-trips of scaling auth before
    * the hub sweep.
    *
    * Scale: per half-sweep one edge-frame join + one dst/src aggregate —
    * the same 2-shuffle sweep shape as pageRank. At each barrier the
    * node-sized score frame localCheckpoints BEFORE its max is
    * collected, so the scalar collect reads checkpoint blocks instead of
    * replaying the edge joins, and plan depth stays bounded by the
    * barrier interval. Nodes with no in-edges hold authority 0; no
    * out-edges, hub 0.
    */
  def hits(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 5,
      rescaleEvery: Int = 2): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(rescaleEvery >= 1, "rescaleEvery must be >= 1")
    val (e0, nodes) = edgeNodeFrames(edges, srcCol, dstCol)

    // one lazy half-sweep: raw in/out-score sums over the edge frame.
    // The frame holds only nodes that RECEIVED contributions — a node
    // with score 0 contributes nothing to the next sweep, so zero rows
    // are never carried between sweeps (fewer node-sized joins); the
    // final output zero-fills once from the node table.
    def halfSweep(scores: DataFrame, scoreCol: String, joinKey: String,
        outKey: String, outCol: String): DataFrame =
      e0.join(scores.withColumnRenamed("node", joinKey), Seq(joinKey))
        .groupBy(col(outKey).as("node"))
        .agg(sum(col(scoreCol)).as(outCol))

    // barrier: both node-sized vectors checkpoint, then ONE union-agg
    // job fetches both step maxima (r17 verdict: two separate max
    // collects per barrier doubled the driver round-trips). The hub
    // half-sweep at a barrier therefore consumes the RAW checkpointed
    // auth — scaling auth first then hub is the same final hub up to
    // its own max division (linearity), but the fp rounding differs,
    // so the oracle replays THIS schedule. An all-zero or empty frame
    // divides by 1 — scores are nonnegative, so absent zero rows never
    // change the max.
    def scaleBy(df: DataFrame, c: String, m: Double): DataFrame =
      df.select(col("node"), (col(c) / lit(if (m > 0.0) m else 1.0)).as(c))

    var hub = nodes.withColumn("hub", lit(1.0))
    var auth: DataFrame = null // assigned in sweep 1 before any read
    for (it <- 1 to iterations) {
      val barrier = it % rescaleEvery == 0 || it == iterations
      // sweep 1 consumes the all-ones hub: Σ_{u→v} 1.0 is the (weighted)
      // in-degree — sum of identical 1.0 terms = count exactly, in any
      // order, so skipping the join is bit-identical to joining the seed
      auth =
        if (it == 1)
          e0.groupBy(col("dst").as("node")).agg(sum(lit(1.0)).as("auth"))
        else halfSweep(hub, "hub", "src", "dst", "auth")
      // LAZY checkpoint: the hub checkpoint below computes auth's
      // partitions in the same job and saves them as it goes — one eager
      // action per barrier instead of two (values unchanged; the max
      // collect and scaleBy still read the saved blocks)
      if (barrier) auth = auth.localCheckpoint(false)
      hub = halfSweep(auth, "auth", "dst", "src", "hub")
      if (barrier) {
        hub = hub.localCheckpoint()
        // Union concatenates child partitions in order: row 0 is the
        // auth max, row 1 the hub max — one action for both scalars
        val rows = auth.agg(max(col("auth")).as("m"))
          .unionByName(hub.agg(max(col("hub")).as("m"))).collect()
        def m(i: Int) = if (rows(i).isNullAt(0)) 0.0 else rows(i).getDouble(0)
        auth = scaleBy(auth, "auth", m(0))
        hub = scaleBy(hub, "hub", m(1))
      }
    }
    // zero-fill via union-seeded aggregate (the pageRank trick): one
    // exchange over node-sized rows instead of two left joins. Adding
    // 0.0 seeds to a double is exact, and a node absent from a score
    // frame gets exactly its seed row — same values as the coalesce form.
    val out = nodes
      .select(col("node"), lit(0.0).as("auth"), lit(0.0).as("hub"))
      .unionByName(auth.select(col("node"), col("auth"), lit(0.0).as("hub")))
      .unionByName(hub.select(col("node"), lit(0.0).as("auth"), col("hub")))
      .groupBy("node")
      .agg(sum("auth").as("auth"), sum("hub").as("hub"))
      .localCheckpoint()
    e0.unpersist(false); nodes.unpersist(false)
    out
  }

  /** Shared centrality preamble: long-typed (src, dst) edge projection
    * and the distinct node table, both persisted — every sweep of
    * pageRank/HITS re-reads them, and without the cache the projection
    * and node shuffles replay per iteration from the source scan.
    * Callers unpersist both when done.
    */
  private def edgeNodeFrames(edges: DataFrame, srcCol: String,
      dstCol: String, extraCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val e0 = edges.select(col(srcCol).cast("long").as("src") +:
      col(dstCol).cast("long").as("dst") +: extraCols.map(col): _*).persist()
    val nodes = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct().persist()
    (e0, nodes)
  }

  /** [[pageRank]]/[[personalizedPageRank]] preamble: [[edgeNodeFrames]]
    * (carrying the double weight `__w` when `weightCol` is set), the
    * per-src out-degree (total out-weight when weighted), and the
    * per-edge contribution `c` = rank·w/wout (rank/outdeg unweighted)
    * over an edge row joined to its degree and its source's rank.
    */
  private def rankEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): (DataFrame, DataFrame, DataFrame, Column) = {
    val weighted = weightCol.nonEmpty
    val (e0, nodes) = edgeNodeFrames(
      if (weighted) edges.withColumn("__w", col(weightCol).cast("double"))
      else edges, srcCol, dstCol,
      extraCols = if (weighted) Seq("__w") else Nil)
    val deg = if (weighted) e0.groupBy("src").agg(sum(col("__w")).as("outdeg"))
              else e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val contrib = if (weighted) col("rank") * col("__w") / col("outdeg")
                  else col("rank") / col("outdeg")
    (e0, nodes, deg, contrib.as("c"))
  }

  /** Fixed-round k-core peeling over an undirected simple graph — the
    * dense-subgraph signal web/social curation uses to separate tightly
    * linked cores from peripheral tails (spam farms and boilerplate
    * rings peel away; genuine hubs survive). Edges canonicalize to
    * (lo < hi) distinct pairs; each synchronous round drops every node
    * whose current degree is below `k` and the edges touching it. A
    * FIXED `rounds` count (not a convergence test) keeps the result a
    * pure function of the edges, exactly replayable by an external
    * engine (q_kcore unrolls the same rounds as MATERIALIZED CTEs —
    * the pageRank/HITS idiom); when peeling has converged within
    * `rounds` (typical — each round removes whole peripheral layers)
    * the output IS the true k-core.
    *
    * Returns (node, core_degree): the surviving subgraph's nodes with
    * their degree inside it — all exact integers.
    *
    * Scale: each round is one degree aggregate (map-side combined) plus
    * two node-sized semi-join filters (AQE broadcasts the alive set
    * when small); the edge frame only shrinks. localCheckpoint every
    * other round bounds plan depth, same as the other iterative graph
    * ops.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      k: Int = 2,
      rounds: Int = 5): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "need at least one peel round")
    val core = sweep(canonicalUndirected(edges, srcCol, dstCol).localCheckpoint(), rounds, 2) {
      (e, _) =>
        val alive = undirectedDegrees(e).filter(col("deg") >= k).select("node")
        e.join(alive.withColumnRenamed("node", "lo"), Seq("lo"))
          .join(alive.withColumnRenamed("node", "hi"), Seq("hi"))
          .select(col("lo"), col("hi"))
    }
    undirectedDegrees(core).withColumnRenamed("deg", "core_degree")
  }

  /** Fixed-round connected components over an undirected simple graph —
    * the corpus-level cluster labeling web/dedup pipelines key on (the
    * general form of [[graft.functions.Dedup]]'s capped duplicate-
    * cluster propagation, usable on ANY edge frame: host link graphs,
    * co-purchase graphs, near-dup candidate graphs). Each round is one
    * synchronous min-label PROPAGATION over the symmetric adjacency
    * (label(v) := min(label(v), min of neighbor labels)) followed by one
    * pointer JUMP (label(v) := label(label(v))): propagation moves a
    * component's minimum id one hop per round, the jump doubles the
    * distance already covered, so `rounds` rounds cover diameters far
    * beyond `rounds` (≈2^rounds on paths). A FIXED round count (not a
    * convergence test) keeps the result a pure function of the edges,
    * exactly replayable by an external engine (q_connected_components
    * unrolls the same rounds as MATERIALIZED CTEs — the pageRank/HITS/
    * kCore idiom); when propagation has converged within `rounds`
    * (typical — web-graph effective diameters are small) the label IS
    * the component's minimum node id.
    *
    * Returns (node, comp) for every node with at least one edge —
    * exact integers.
    *
    * Scale: propagation is one edge-frame join + one map-side-combined
    * min aggregate (the canonical 2-shuffle sweep); the jump is a
    * node-sized self-join AQE can broadcast when the label frame is
    * small. All iterative state is node-sized; localCheckpoint every
    * other round bounds plan depth like the other iterative graph ops.
    * The jump is what makes a 100 TB web graph tractable: plain
    * propagation needs diameter rounds, propagate+jump O(log diameter).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 5): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val adj = adjacency(edges, srcCol, dstCol)
    val init = adj.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
    sweep(init, rounds, 2) { (lbl, _) =>
      // propagate: comp(v) := min(comp(v), min over neighbors' comp) —
      // one aggregate over (neighbor labels ∪ own label): folding the
      // node's own label into the min replaces the former separate
      // neighbor-min aggregate + node-sized left join (exact integer
      // min, so least/coalesce and the fold are the same value)
      val prop = adj
        .join(lbl.select(col("node").as("v"), col("comp").as("nc")), Seq("v"))
        .select(col("u").as("node"), col("nc"))
        .unionByName(lbl.select(col("node"), col("comp").as("nc")))
        .groupBy("node").agg(min(col("nc")).as("comp"))
      // jump: comp(v) := comp(comp(v)) — comp is always an existing
      // node id (a min over node ids), and labels only decrease, so
      // the looked-up label can only improve the bound
      prop.as("l")
        .join(prop.select(col("node").as("p"), col("comp").as("pc")).as("pp"),
          col("l.comp") === col("pp.p"), "left")
        .select(col("l.node").as("node"),
          coalesce(col("pc"), col("l.comp")).as("comp"))
    }
  }

  /** Fixed-round label-propagation communities (Raghavan et al. 2007 —
    * the standard near-linear community baseline web curation uses to
    * group hosts before per-community quotas): labels start as node
    * ids; each SYNCHRONOUS round every node adopts the most frequent
    * label among its neighbors, ties broken by SMALLEST label — fully
    * deterministic, no RNG, replayable as unrolled SQL
    * (q_label_propagation mirrors each round's count + arg-min CTEs).
    * Unlike [[connectedComponents]] (which fuses everything reachable)
    * LPA respects density boundaries: a sparse bridge between two
    * dense clusters rarely flips either side's majority.
    *
    * Returns (node, label) after `rounds` rounds. Fixed rounds, not
    * convergence: LPA on a fixed schedule is a pure function of the
    * edges (classic LPA stops at stability, which is order-dependent —
    * the synchronous fixed-round form is the deterministic variant).
    *
    * Scale: per round one edge-frame join + one (node, label) count
    * aggregate (map-side combined) + one node-sized arg-min aggregate —
    * 2 shuffles, state O(nodes); localCheckpoint every third round
    * bounds plan depth like the other iterative ops. Skew: a hub's
    * per-label counts pre-aggregate map-side, so hot nodes cost one
    * combiner row per distinct neighbor label, not one per edge.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val adj = adjacency(edges, srcCol, dstCol)
    val init = adj.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    sweep(init, rounds, 3) { (lbl, _) =>
      val counts = adj
        .join(lbl.select(col("node").as("v"), col("label").as("nl")), Seq("v"))
        .groupBy(col("u").as("node"), col("nl"))
        .agg(count(lit(1)).as("c"))
      // arg-min over (-count, label): max count, then smallest label —
      // every node has a neighbor here, so the aggregate is total
      counts.groupBy("node")
        .agg(min_by(col("nl"), struct((-col("c")).as("nc"), col("nl"))).as("label"))
    }
  }

  /** Deterministic one-level Louvain: synchronous fixed-round modularity
    * communities (Blondel et al. 2008, the parallel synchronous variant
    * distributed implementations use) — the QUALITY-aware member of the
    * community family: [[connectedComponents]] fuses everything
    * reachable, [[labelPropagation]] follows raw neighbor majorities,
    * Louvain moves a node only when the move improves modularity, so
    * dense cores separate from their sparse periphery.
    *
    * Per synchronous round, from the round-start assignment: node i may
    * move to a neighbor community C maximizing the modularity gain,
    * which on a simple unit-weight graph reduces to maximizing
    * `kiin(i,C) − k_i·Σtot'(C)/(2m)`. Scaling by 2m gives the EXACT
    * INTEGER score `2m·kiin(i,C) − k_i·Σtot'(C)` (Σtot'(C) excludes i
    * itself when C is i's current community), so the argmax — ties:
    * staying wins, then smallest community id — is a pure function of
    * the edges, replayable as unrolled SQL (q_louvain_communities).
    * |score| < 4m·k_max: BIGINT-safe while m·k_max < 2^61 (any real
    * host graph). Fixed rounds, not convergence — sequential Louvain's
    * stop-at-stability is visit-order-dependent, exactly what an
    * external replay cannot express.
    *
    * Oscillation guard: fully synchronous moves let two adjacent nodes
    * swap into each other's community forever (hand-traceable on two
    * bridged triangles). The standard distributed remedy applies —
    * only HALF the nodes move per round, alternating by node-id parity
    * (the half-graph move restriction of published distributed/GPU
    * Louvain implementations); the other half keep their assignment.
    * Two rounds therefore make one full sweep.
    *
    * Returns (node, community) for every node with at least one edge.
    *
    * Scale: per round one community-weight aggregate (node-sized), one
    * edge join + (node, community) count (map-side combined — a hub
    * costs one combiner row per distinct neighbor community, never one
    * per edge), and one node-sized argmax aggregate. The adjacency and
    * degree frames materialize once; iterative state is node-sized with
    * the usual every-other-round checkpoint.
    */
  /** `weightCol` (opt-in, "" = unit weights on distinct pairs): the
    * textbook WEIGHTED gain — kiin, degrees, Σtot and m all become
    * sums of edge weight. Weights are cast to BIGINT (integer weights —
    * link counts, co-occurrence multiplicities — keep the exact-integer
    * gain `2m·kiin − k·Σtot'` exact; parallel weighted rows sum). The
    * unit path is the weighted path at w = 1: identical values, same
    * oracle.
    */
  def louvainCommunities(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 4,
      weightCol: String = ""): DataFrame = {
    require(rounds >= 1, "need at least one round")
    louvainSweeps(canonicalWeighted(edges, srcCol, dstCol, weightCol), rounds)
      .select(col("node"), col("c").as("community"))
  }

  /** The synchronous half-graph Louvain sweep loop over a CANONICAL
    * weighted frame (lo <= hi, w BIGINT; self-loops allowed — they
    * arise from [[louvainRefine]]'s coarsening, where an intra-community
    * edge becomes a super-node self-loop). Degree convention A_ii = 2w:
    * a self-loop adds 2w to its node's weighted degree and w to m —
    * exactly the accounting that makes coarse-graph modularity equal
    * fine-graph modularity of the composed assignment. kiin (over the
    * non-self adjacency) excludes self-loops: a node's self-loop moves
    * with it, so it cancels from every gain comparison.
    *
    * Checkpoints ONLY the canonical frame up front: the adjacency union
    * and the degree aggregate derive from its blocks with one cheap map
    * each, while every consumer — adj ×2, m — would otherwise replay
    * the canonicalize shuffle. Iterative state is node-sized with the
    * every-other-round checkpoint.
    */
  private def louvainSweeps(wedges: DataFrame, rounds: Int): DataFrame = {
    val e = wedges.localCheckpoint()
    val adj = symmetric(e.filter(col("lo") =!= col("hi")), "w")
    // deg is STATIC but read twice per round (sumtot + scored): without
    // the checkpoint each read replays the edge-sized union + aggregate
    // from e's blocks — node-sized once materialized
    val deg = adj.select(col("u"), col("w"))
      .unionAll(e.filter(col("lo") === col("hi"))
        .select(col("lo").as("u"), (col("w") * lit(2L)).as("w")))
      .groupBy("u").agg(sum(col("w")).as("k"))
      .localCheckpoint()
    // Only THIS round's parity half of the nodes is scored, so the
    // former post-aggregate parity filter is pushed all the way into
    // the static adjacency: each round's edge join and (u, cv)
    // aggregate read half the edge frame (same rows survive — the
    // filter commutes with the group-by on its key)
    val adjHalf = Array(0, 1).map(p =>
      adj.filter(pmod(col("u"), lit(2)) === lit(p)))
    val m = e.agg(coalesce(sum(col("w")), lit(0L))).collect()(0).getLong(0)
    sweep(deg.select(col("u").as("node"), col("u").as("c")), rounds, 2) { (comm, r) =>
      val par = r % 2
      val sumtot = comm
        .join(deg.select(col("u").as("node"), col("k")), Seq("node"))
        .groupBy("c").agg(sum(col("k")).as("st"))
      val kiin = adjHalf(par)
        .join(comm.select(col("node").as("v"), col("c").as("cv")), Seq("v"))
        .groupBy(col("u"), col("cv")).agg(sum(col("w")).as("kin"))
      // the node's OWN community is always a candidate (kin 0 when no
      // neighbor shares it); max() collapses the duplicate when one does
      val cand = kiin.unionByName(
          comm.filter(pmod(col("node"), lit(2)) === lit(par))
            .select(col("node").as("u"), col("c").as("cv"), lit(0L).as("kin")))
        .groupBy("u", "cv").agg(max(col("kin")).as("kin"))
      val scored = cand
        .join(sumtot.select(col("c").as("cv"), col("st")), Seq("cv"))
        .join(deg, Seq("u"))
        .join(comm.select(col("node").as("u"), col("c").as("a")), Seq("u"))
        .withColumn("stx",
          col("st") - when(col("cv") === col("a"), col("k")).otherwise(lit(0L)))
        .withColumn("score", lit(2L * m) * col("kin") - col("k") * col("stx"))
      val moved = scored.groupBy("u")
        .agg(min_by(col("cv"), struct((-col("score")).as("ns"),
          when(col("cv") === col("a"), 0).otherwise(1).as("pref"),
          col("cv").as("cc"))).as("c"))
        .select(col("u").as("node"), col("c"))
      moved.unionByName(comm.filter(pmod(col("node"), lit(2)) =!= lit(par)))
    }
  }

  /** One Louvain COARSEN + re-optimize level (Blondel et al.'s phase 2
    * then phase 1 again): collapse each community of `assignment` to a
    * super-node — inter-community edge weights sum, intra-community
    * weight becomes the super-node's self-loop — and run `rounds` more
    * synchronous sweeps on the community graph, returning the REFINED
    * assignment composed back onto the original nodes (node →
    * level-2 community). This is the step that makes real Louvain
    * multi-level: one-level moves merge adjacent singletons; the
    * coarse pass merges whole communities a single node-move could
    * never justify.
    *
    * Community labels must be integral (Louvain labels are node ids);
    * nodes absent from `assignment` or edge-less are dropped, matching
    * [[louvainCommunities]]'s every-node-has-an-edge contract.
    *
    * Scale: the coarsen is two node-sized label joins + one
    * map-side-combined (community, community) weight aggregate — the
    * coarse frame is community-sized, so every later sweep runs on a
    * graph that only shrinks; the level-1 assignment checkpoints once
    * (it is read by the coarsen and the final composition).
    */
  def louvainRefine(
      edges: DataFrame,
      assignment: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      nodeCol: String = "node",
      commCol: String = "community",
      rounds: Int = 4,
      weightCol: String = ""): DataFrame = {
    require(rounds >= 1, "need at least one round")
    refineCanonical(canonicalWeighted(edges, srcCol, dstCol, weightCol),
      assignment.select(col(nodeCol).cast("long").as("node"),
        col(commCol).cast("long").as("c")), rounds)
      .select(col("node"), col("c").as("community"))
  }

  private def refineCanonical(wedges: DataFrame, assign: DataFrame,
      rounds: Int): DataFrame = {
    val a = assign.localCheckpoint()
    val coarse = wedges
      .join(a.select(col("node").as("lo"), col("c").as("clo")), Seq("lo"))
      .join(a.select(col("node").as("hi"), col("c").as("chi")), Seq("hi"))
      .select(least(col("clo"), col("chi")).as("lo"),
        greatest(col("clo"), col("chi")).as("hi"), col("w"))
      .groupBy("lo", "hi").agg(sum(col("w")).as("w"))
    val nxt = louvainSweeps(coarse, rounds)
      .select(col("node").as("__c1"), col("c").as("__c2"))
    // total: every community holds >= 1 edge-bearing node, so its id
    // appears in the coarse graph (possibly only via its self-loop)
    a.join(nxt, col("c") === col("__c1"))
      .select(col("node"), col("__c2").as("c"))
  }

  /** Multi-level Louvain — the real Blondel loop with a FIXED level
    * count: level 1 is [[louvainCommunities]]' synchronous one-level
    * fit, each further level is [[louvainRefine]]'s coarsen +
    * re-optimize. Fixed levels × fixed rounds keeps the result a pure
    * function of the edges, replayable as unrolled SQL (q_louvain_l2).
    * Returns (node, community) on the ORIGINAL node ids.
    */
  def louvainMultiLevel(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      levels: Int = 2,
      roundsPerLevel: Int = 4,
      weightCol: String = ""): DataFrame = {
    require(levels >= 1, "need at least one level")
    val wedges = canonicalWeighted(edges, srcCol, dstCol, weightCol)
      .localCheckpoint()
    var assign = louvainSweeps(wedges, roundsPerLevel)
    for (_ <- 2 to levels)
      assign = refineCanonical(wedges, assign, roundsPerLevel)
    assign.select(col("node"), col("c").as("community"))
  }

  /** Modularity of a community assignment (Newman & Girvan 2004) over a
    * simple graph — unit-weight by default, weighted via `weightCol`:
    * Q = Σ_C [ e_in(C)/m − (Σtot(C)/2m)² ] with e_in/Σtot/m as
    * (weighted) sums.
    * The aggregates (m, e_in, ΣΣtot²) are exact BIGINTs; the ratio is
    * then a fixed chain of IEEE double ops — `(4·m·e_in − st2) /
    * (4·m·m)` with every input cast to double first — identical in both
    * engines at any scale (no BIGINT-overflow path), the
    * [[WordPieceTokenizer]] determinism idiom.
    * The quality yardstick for comparing community ops: components
    * maximize coverage but not separation, LPA follows majorities,
    * Louvain climbs exactly this number.
    *
    * Returns one row: (m, intra_edges, q). Nodes missing from `comm`
    * form singleton communities implicitly (they contribute their
    * degree² term and no intra edges) — labeled in a TAGGED space
    * (tag 1 + node id) disjoint from real labels (tag 0 + community),
    * because coalescing to the bare node id would collide whenever a
    * missing node's id equals a surviving community label — and
    * Louvain labels ARE node ids, so that collision is the common
    * case, not a corner.
    *
    * Scale: one edge-frame join against the node-sized assignment for
    * intra-edge counting + one node-sized Σtot aggregate; both
    * map-side combined.
    */
  def modularity(
      edges: DataFrame,
      comm: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      nodeCol: String = "node",
      commCol: String = "community",
      weightCol: String = ""): DataFrame = {
    // materialized once: the adjacency union, intra join, and edge
    // count would each replay the canonicalize shuffle otherwise.
    // `weightCol` generalizes every aggregate to weighted sums (m =
    // total weight, intra_edges = intra weight, Σtot = weighted
    // degrees) — integer weights, so the BIGINT exactness holds; the
    // unit path is w = 1, value-identical to the former count form
    val e = canonicalWeighted(edges, srcCol, dstCol, weightCol).localCheckpoint()
    val adj = symmetric(e, "w")
    val cm = comm.select(col(nodeCol).as("n"), col(commCol).as("cc"))
    val deg = adj.groupBy(col("u").as("n")).agg(sum(col("w")).as("k"))
    // both struct branches cast the id to STRING: the user's community
    // label can be any type (Louvain emits longs, a hand-built
    // assignment may carry string labels) and the node id is a long —
    // without a common canonical type the when/otherwise coercion fails.
    // The cast is injective per branch and the tag keeps the two label
    // spaces disjoint, so equality/grouping semantics are unchanged.
    val labeled = deg.join(cm, Seq("n"), "left")
      .select(col("n"),
        when(col("cc").isNotNull,
          struct(lit(0).as("t"), col("cc").cast("string").as("id")))
          .otherwise(struct(lit(1).as("t"), col("n").cast("string").as("id"))).as("cc"),
        col("k"))
    val intra = e
      .join(labeled.select(col("n").as("lo"), col("cc").as("clo")), Seq("lo"))
      .join(labeled.select(col("n").as("hi"), col("cc").as("chi")), Seq("hi"))
      .filter(col("clo") === col("chi"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("ein"))
    val st2 = labeled.groupBy("cc").agg(sum(col("k")).as("st"))
      .agg(sum(col("st") * col("st")).as("st2"))
    val mDf = e.agg(coalesce(sum(col("w")), lit(0L)).as("m"))
    val md = col("m").cast("double")
    mDf.crossJoin(intra).crossJoin(st2)
      .select(col("m"), col("ein").as("intra_edges"),
        round((lit(4.0d) * md * col("ein").cast("double") - col("st2").cast("double")) /
          (lit(4.0d) * md * md), 9).as("q"))
  }

  /** Per-community structural profile — the audit a curation pipeline
    * runs AFTER community detection, before acting on communities
    * (per-community quotas, dropping spam clusters, sampling budgets):
    * size, internal weight, boundary weight, volume, and conductance
    * φ(C) = boundary / min(vol(C), 2m − vol(C)) — low conductance =
    * well-separated cluster, high = fragment. All aggregates are exact
    * BIGINTs (integer weights); conductance is one fixed IEEE division
    * rounded to 9 decimals — cell-exact on any engine
    * (q_community_profile). NULL when the denominator is 0 (a community
    * holding every edge end).
    *
    * Nodes missing from `comm` are dropped with their edges (profile
    * the assignment you have; [[modularity]] is the scorer that
    * accounts for unassigned singletons).
    *
    * Scale: one edge join against the node-sized assignment + two
    * map-side-combined aggregates (edge-level then community-level);
    * community count bounds the output. No windows, no per-community
    * state beyond O(1).
    */
  def communityProfile(
      edges: DataFrame,
      comm: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      nodeCol: String = "node",
      commCol: String = "community",
      weightCol: String = ""): DataFrame = {
    val e = canonicalWeighted(edges, srcCol, dstCol, weightCol).localCheckpoint()
    val cm = comm.select(col(nodeCol).cast("long").as("n"),
      col(commCol).cast("long").as("cc"))
    val labeled = e
      .join(cm.select(col("n").as("lo"), col("cc").as("clo")), Seq("lo"))
      .join(cm.select(col("n").as("hi"), col("cc").as("chi")), Seq("hi"))
    // per-edge contribution rows: internal edges add w to their one
    // community; boundary edges add w to BOTH sides' boundary
    val contrib = labeled
      .select(col("clo").as("c"),
        when(col("clo") === col("chi"), col("w")).otherwise(lit(0L)).as("iw"),
        when(col("clo") =!= col("chi"), col("w")).otherwise(lit(0L)).as("bw"))
      .unionAll(labeled.filter(col("clo") =!= col("chi"))
        .select(col("chi").as("c"), lit(0L).as("iw"), col("w").as("bw")))
    val per = contrib.groupBy("c")
      .agg(sum(col("iw")).as("internal_w"), sum(col("bw")).as("boundary_w"))
    // node counts over edge-bearing assigned nodes (the graph the
    // profile describes), and the global 2m for the conductance cut
    val nodes = e.select(col("lo").as("n")).unionAll(e.select(col("hi").as("n")))
      .distinct().join(cm, Seq("n"))
      .groupBy(col("cc").as("c")).agg(count(lit(1)).as("n_nodes"))
    val mDf = labeled.agg(coalesce(sum(col("w")), lit(0L)).as("__m"))
    val vol = col("internal_w") * 2 + col("boundary_w")
    val volC = vol.cast("double")
    val other = (col("__m") * 2 - vol).cast("double")
    nodes.join(per, Seq("c")).crossJoin(mDf)
      .select(col("c").as("community"), col("n_nodes"),
        col("internal_w"), col("boundary_w"), vol.as("volume"),
        round(when(least(volC, other) === 0.0d, lit(null).cast("double"))
          .otherwise(col("boundary_w").cast("double") / least(volC, other)), 9)
          .as("conductance"))
  }

  /** One-row structural profile of an edge frame — the corpus-graph
    * health check a link-graph pipeline runs before ranking it: size,
    * degree stats, degree assortativity (Newman 2002 — positive: hubs
    * link hubs; negative: hub-and-spoke), total triangles, and the
    * global clustering coefficient (3·triangles / wedges).
    *
    * Determinism: every aggregate (Σk, Σk², Σk³, Σ deg(u)·deg(v) over
    * the symmetric adjacency, wedges, triangles) is an exact BIGINT;
    * each ratio is then a fixed chain of IEEE double ops, identical in
    * both engines — no BIGINT-overflow path. Assortativity over the
    * 2m adjacency rows reduces to (2m·Σxy − (Σk²)²)/(2m·Σk³ − (Σk²)²),
    * NULL on degree-regular graphs (zero variance).
    *
    * Scale: two map-side-combined aggregates over node-sized frames +
    * one adjacency join against broadcast-able degrees + the
    * degree-oriented triangle count ([[triangleCounts]]) — nothing
    * holds more than O(nodes) state.
    */
  def graphSummary(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    val adj = symmetric(e)
    val deg = adj.groupBy("u").agg(count(lit(1)).as("k")).localCheckpoint()
    val degStats = deg.agg(
      count(lit(1)).as("nodes"),
      max(col("k")).as("max_degree"),
      sum(col("k")).as("sk"),
      sum(col("k") * col("k")).as("sk2"),
      sum(col("k") * col("k") * col("k")).as("sk3"),
      // k(k−1) is always even: the integer division is exact (`div`
      // keeps it in BIGINT — Column./ would silently go double)
      sum(expr("k * (k - 1) div 2")).as("wedges"))
    val sxy = adj
      .join(deg.select(col("u"), col("k").as("kx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("k").as("ky")), Seq("v"))
      .agg(sum(col("kx") * col("ky")).as("sxy"))
    // e is already canonical + checkpointed: skip triangleCounts' second
    // canonicalize distinct (an edge-sized exchange over the same rows)
    val triangles = triangleCountsCanonical(e)
      .agg(coalesce(expr("sum(triangles) div 3"), lit(0L)).as("tri"))
    val mDf = e.agg(count(lit(1)).as("m"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val num = d(col("sk")) * d(col("sxy")) - d(col("sk2")) * d(col("sk2"))
    val den = d(col("sk")) * d(col("sk3")) - d(col("sk2")) * d(col("sk2"))
    mDf.crossJoin(degStats).crossJoin(sxy).crossJoin(triangles)
      .select(col("nodes"), col("m").as("edges"), col("max_degree"),
        round(d(col("sk")) / d(col("nodes")), 9).as("avg_degree"),
        round(when(den === 0.0d, lit(null).cast("double"))
          .otherwise(num / den), 9).as("assortativity"),
        col("tri").as("triangles"),
        round(when(col("wedges") === 0L, lit(null).cast("double"))
          .otherwise(lit(3.0d) * d(col("tri")) / d(col("wedges"))), 9)
          .as("clustering"))
  }

  /** Log2-binned degree histogram — the power-law check a pipeline runs
    * before choosing its skew strategy (hub salting, bounded heaps):
    * straight-line log-log counts mean heavy hubs exist at every scale.
    * Bin = ⌊log2(degree)⌋ computed EXACTLY as the binary-string length
    * minus one (`bin(k)` in both engines) — no libm log2 whose ulp
    * could flip a power-of-two boundary differently per engine.
    *
    * Returns (bin, lo_degree = 2^bin, n_nodes, min_degree, max_degree)
    * per occupied bin, bin ascending. One degree aggregate + one
    * bin-sized aggregate — map-side combined, node-sized state.
    */
  def degreeHistogram(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    symmetric(canonicalUndirected(edges, srcCol, dstCol))
      .groupBy("u").agg(count(lit(1)).as("k"))
      .withColumn("bin", (length(bin(col("k"))) - 1).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n_nodes"),
        min(col("k")).as("min_degree"), max(col("k")).as("max_degree"))
      .select(col("bin"), expr("shiftleft(CAST(1 AS BIGINT), bin)").as("lo_degree"),
        col("n_nodes"), col("min_degree"), col("max_degree"))
      .orderBy("bin")
  }

  /** Capped bipartite co-occurrence projection — the step that turns
    * membership data (order→item, doc→entity, user→host) into the
    * weighted graph every op in this file consumes: rights sharing a
    * left become (lo < hi, w) pairs, w = number of shared lefts. The
    * raw form (self-join on the left key) is QUADRATIC per group — one
    * 10^6-member hub group emits 10^12 pairs — so each group contributes
    * pairs only among its `maxPerGroup` smallest-salted-md5 rights (the
    * [[randomWalks]] bounded-heap idiom: `bounded_topk_long`, O(cap)
    * state per left, epoch-reproducible, partition-invariant, replayed
    * hash-for-hash by DuckDB — q_bipartite_projection). Pair fan-out is
    * ≤ cap(cap−1)/2 per left at ANY group size; the output weight
    * counts shared lefts within the capped view.
    *
    * Feed the result straight to [[louvainCommunities]]/[[pageRank]]
    * with `weightCol = "w"` — multiplicity-as-weight.
    *
    * Scale: one distinct + one bounded-heap aggregate + one membership
    * filter + one l-keyed self-join whose per-key side is ≤ cap rows,
    * then a map-side-combined pair count. Ties under md5 collision
    * (~2^-60 per pair) break arbitrarily, like the other hash-order ops.
    */
  def projectBipartite(
      edges: DataFrame,
      leftCol: String = "left",
      rightCol: String = "right",
      maxPerGroup: Int = 64,
      salt: String = ""): DataFrame = {
    require(maxPerGroup >= 2, "need at least two rights per group to form a pair")
    val e0 = edges.select(col(leftCol).cast("long").as("l"),
      col(rightCol).cast("long").as("r")).distinct()
    val h = GraftFunctions.md5Prefix60(
      concat(lit("proj:"), lit(salt), lit(":"), col("l").cast("string"),
        lit(":"), col("r").cast("string")).cast("binary"))
    // materialized once: the heap aggregate and the membership filter
    // both read it (the randomWalks adjH reasoning)
    val eh = e0.withColumn("__h", h).localCheckpoint()
    val top = eh.groupBy("l")
      .agg(GraftFunctions.boundedTopKLong(col("__h"), maxPerGroup).as("__top"))
    val kept = eh.join(top, Seq("l"))
      .filter(array_contains(col("__top"), col("__h")))
      .select(col("l"), col("r"))
    kept.as("a").join(kept.as("b"),
        col("a.l") === col("b.l") && col("a.r") < col("b.r"))
      .groupBy(col("a.r").as("lo"), col("b.r").as("hi"))
      .agg(count(lit(1)).as("w"))
  }

  /** Deterministic degree-capped random walks — the DeepWalk/node2vec
    * corpus-generation step (walks become skip-gram training sequences
    * for graph embeddings), with GraphSAGE-style neighbor capping. No
    * RNG anywhere: each node's neighbor candidate set is the
    * `maxNeighbors` smallest by salted md5 (the mergeable
    * `bounded_topk_long` heap — O(K) state per node, hub-safe), and
    * step t of walk w from start s picks candidate index
    * md5("walk:salt:s:w:t") mod |candidates| — epoch-reproducible,
    * partition-invariant, and replayed hash-for-hash by DuckDB
    * (q_random_walks), the mixture-sampling md5 idiom.
    *
    * Returns (start, walk, step, node), step 0..walkLength; walks run
    * on the symmetric adjacency so they never strand (every node seen
    * has degree >= 1).
    *
    * Scale: the capped neighbor table is built once (one bounded-heap
    * aggregate + one membership-filter pass over the edges, then
    * <= K-element arrays per node — collect_list is capped by
    * construction); each step is then ONE node-sized equi-join +
    * element_at — per-step cost O(walks), independent of degree. A hub
    * with 10^8 edges costs one O(K) heap, never a fan-out: the same
    * reasoning as capPerDomain. Ties under md5 collision (~2^-60 per
    * pair) break arbitrarily, like the other hash-order ops.
    */
  def randomWalks(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      walkLength: Int = 3,
      walksPerNode: Int = 1,
      maxNeighbors: Int = 32,
      salt: String = ""): DataFrame = {
    require(walkLength >= 1, "need at least one step")
    require(walksPerNode >= 1, "need at least one walk per node")
    require(maxNeighbors >= 1, "need at least one candidate neighbor")
    val adj = symmetric(canonicalUndirected(edges, srcCol, dstCol))
    val nh = GraftFunctions.md5Prefix60(
      concat(lit("nbr:"), lit(salt), lit(":"), col("u").cast("string"),
        lit(":"), col("v").cast("string")).cast("binary"))
    // materialized once: both the bounded-heap candidate agg and the
    // membership-filter join read this frame, and each would otherwise
    // replay the canonicalize-distinct + union + hash over the full
    // edge frame (the other graph ops checkpoint adj for the same
    // reason)
    val adjH = adj.withColumn("__h", nh).localCheckpoint()
    val top = adjH.groupBy("u")
      .agg(GraftFunctions.boundedTopKLong(col("__h"), maxNeighbors).as("__top"))
    // capped ranked candidates as one <=K array per node, h-sorted so
    // array index == hash rank (v tie-break mirrors the oracle's)
    val nbrs = adjH.join(top, Seq("u"))
      .filter(array_contains(col("__top"), col("__h")))
      .groupBy("u")
      .agg(sort_array(collect_list(struct(col("__h"), col("v")))).as("nbrs"))
      .localCheckpoint()
    var frontier = nbrs.select(col("u").as("start"))
      .select(col("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .select(col("start"), col("walk"), col("start").as("node"))
    val steps = scala.collection.mutable.ArrayBuffer(
      frontier.withColumn("step", lit(0)))
    for (t <- 1 to walkLength) {
      val wh = GraftFunctions.md5Prefix60(
        concat(lit("walk:"), lit(salt), lit(":"), col("start").cast("string"),
          lit(":"), col("walk").cast("string"), lit(":"), lit(t.toString))
          .cast("binary"))
      frontier = frontier
        .join(nbrs.withColumnRenamed("u", "node"), Seq("node"))
        .select(col("start"), col("walk"),
          element_at(col("nbrs"),
            (pmod(wh, size(col("nbrs")).cast("long")) + 1L).cast("int"))
            .getField("v").as("node"))
      if (t % 2 == 0) frontier = frontier.localCheckpoint()
      steps += frontier.withColumn("step", lit(t))
    }
    steps.reduce(_ unionAll _)
      .select(col("start"), col("walk"), col("step"), col("node"))
  }

  /** Skip-gram training pairs from a walk frame (the DeepWalk step after
    * [[randomWalks]]): every ordered (center, context) pair of nodes
    * within `window` steps of each other on the same walk, aggregated
    * with multiplicities — the exact input word2vec-style embedding
    * trainers consume. One self-equi-join on (start, walk) — walk
    * frames are walkLength-bounded per key, so the join fan-out is
    * O(walkLength²) per walk, a constant — plus one map-side-combined
    * count aggregate.
    */
  def skipGramPairs(
      walks: DataFrame,
      window: Int = 2): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // materialize the walk frame once: both self-join sides scan it, and
    // a lazily-built walk union (odd steps are un-checkpointed plans)
    // would otherwise replay its step joins once per side
    val w = walks.localCheckpoint()
    val a = w.select(col("start"), col("walk"),
      col("step").as("s1"), col("node").as("center"))
    val b = w.select(col("start"), col("walk"),
      col("step").as("s2"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .filter(col("s1") =!= col("s2") &&
        abs(col("s1") - col("s2")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }

  /** Exact truncated harmonic centrality over an undirected simple
    * graph: h(v) = Σ_{u ∈ B_r(v), u≠v} 1/d(v,u) up to `radius` hops —
    * the centrality CommonCrawl publishes per host (there computed by
    * HyperBall; [[harmonicCentralityApprox]] is that scale path). This
    * exact form is the VERIFICATION sibling: layered multi-source BFS
    * as (node, peer) pair frames — each round one adjacency join + one
    * anti-join against the already-reached set, every layer counted
    * exactly. The harmonic sum folds the per-layer counts in fixed
    * d-order (c1/1 + c2/2 + …), so the doubles are identical on any
    * engine — q_harmonic_centrality unrolls the same BFS rounds as
    * MATERIALIZED CTEs.
    *
    * Returns (node, reached, harmonic): peers within `radius` hops and
    * the truncated harmonic sum, rounded to 9 decimals.
    *
    * Scale: the pair frame holds Σ|B_r(v)| rows — linear in edges on
    * bounded-degree graphs but QUADRATIC once hub balls cover the
    * graph, which is exactly why the radius is capped and the HLL
    * approximation exists: use this for small radii / verification,
    * [[harmonicCentralityApprox]] (node-sized state) for production
    * web-scale runs.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      radius: Int = 3): DataFrame = {
    require(radius >= 1 && radius <= 6,
      "radius must be in [1, 6] — the exact ball frame grows with sum |B_r(v)|; " +
        "use harmonicCentralityApprox beyond")
    val adj = adjacency(edges, srcCol, dstCol)
    val nodes = adj.select(col("u").as("node")).distinct()
    val layerCounts = bfsLayers(adj, radius).zipWithIndex.tail.map { case (layer, d) =>
      layer.groupBy("node").agg(count(lit(1)).as("cnt")).withColumn("d", lit(d))
    }
    // fixed-order fold c1/1 + c2/2 + … — bit-identical on any engine
    val hExpr = (1 to radius)
      .map(k => coalesce(max(when(col("d") === k, col("cnt"))), lit(0L))
        .cast("double") / lit(k.toDouble))
      .reduce(_ + _)
    val perNode = layerCounts.reduce(_ unionAll _)
      .groupBy("node")
      .agg(sum(col("cnt")).as("reached"), round(hExpr, 9).as("harmonic"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("reached"), lit(0L)).as("reached"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
  }

  /** Exact neighborhood function N(d) = Σ_v |B_d(v)| for d = 0..radius
    * — the distance-distribution summary behind the "effective
    * diameter" every web-graph paper reports (HyperANF's target
    * quantity, Boldi–Rosa–Vigna): how much of the graph is within d
    * hops, and the smallest d covering `quantile` of all reachable
    * pairs. This exact form shares [[harmonicCentrality]]'s layered
    * multi-source BFS (and its radius cap — the pair frame is the
    * scale limit); [[neighborhoodFunctionApprox]] is the HyperANF
    * node-sized-state scale path, spec-gated against this one.
    *
    * Returns (d, nf, coverage, effective) for d = 0..radius: the exact
    * pair count, coverage = nf/N(radius) (one IEEE division of exact
    * BIGINTs, rounded to 9), and effective = whether d is the SMALLEST
    * depth with unrounded coverage ≥ quantile — all replayable
    * (q_effective_diameter).
    */
  def neighborhoodFunction(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      radius: Int = 3,
      quantile: Double = 0.9): DataFrame = {
    require(radius >= 1 && radius <= 6,
      "radius must be in [1, 6] — the exact pair frame grows with sum |B_r(v)|; " +
        "use neighborhoodFunctionApprox beyond")
    require(quantile > 0.0 && quantile <= 1.0, "quantile must be in (0, 1]")
    // cumulative exact totals; radius+1 scalar counts (radius <= 6)
    val totals = bfsLayers(adjacency(edges, srcCol, dstCol), radius)
      .map(_.count()).scanLeft(0L)(_ + _).tail
    coverageTable(edges.sparkSession, totals, quantile, "nf")
  }

  /** HyperANF neighborhood function (Boldi–Rosa–Vigna): N(d) as the sum
    * of per-node HyperLogLog ball estimates — node-sized state at any
    * radius, the form that actually runs on a 100 TB web graph. Same
    * sweep loop as [[harmonicCentralityApprox]]; one scalar sum per
    * sweep. Returns (d, nf_est, coverage, effective) with
    * [[neighborhoodFunction]]'s semantics over the estimates
    * (spec-gated: on small graphs sparse-mode HLL is exact, so the two
    * forms must agree).
    */
  def neighborhoodFunctionApprox(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      radius: Int = 8,
      lgK: Int = 12,
      quantile: Double = 0.9): DataFrame = {
    require(radius >= 1, "need at least one sweep")
    require(quantile > 0.0 && quantile <= 1.0, "quantile must be in (0, 1]")
    val adj = adjacency(edges, srcCol, dstCol)
    // Spark's hll_sketch_estimate returns BIGINT (rounded estimate) —
    // sum as long, report as double; an edgeless graph sums no rows
    // (null), left to the coverage table's empty-graph guard
    def total(cur: DataFrame): Double = {
      val t = cur.agg(sum(expr("hll_sketch_estimate(sk)")).as("t")).collect()(0)
      if (t.isNullAt(0)) 0.0 else t.getLong(0).toDouble
    }
    val totals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val init = adj.select(col("u").as("node"))
      .groupBy("node").agg(expr(s"hll_sketch_agg(node, $lgK)").as("sk"))
      .localCheckpoint()
    // round d's input is round d−1's checkpointed ball frame
    val last = sweep(init, radius, 1) { (cur, _) =>
      totals += total(cur)
      hyperBallStep(adj, cur)
    }
    totals += total(last)
    coverageTable(edges.sparkSession, totals.toSeq, quantile, "nf_est")
  }

  /** HyperBall-approximated harmonic centrality (Boldi–Rosa–Vigna,
    * "HyperBall: beyond the billion" — the public algorithm behind
    * CommonCrawl's host-level harmonic ranks): every node carries ONE
    * mergeable HLL sketch of its ball; each sweep unions neighbor
    * sketches (one edge join + one `hll_union_agg`, map-side combined)
    * and adds (|B_d| − |B_{d−1}|)/d to the running harmonic sum. State
    * is node-sized at ANY radius — 2^lgK registers per node — which is
    * what makes radius-10 sweeps over a 100 TB web graph tractable
    * where [[harmonicCentrality]]'s exact pair frame explodes.
    * Deterministic: Datasketches HLL hashing/merging has no RNG, and
    * register max is order-free — same edges, same output (gated
    * against the exact form on small graphs in spec, where sparse-mode
    * HLL counts are exact).
    *
    * Returns (node, ball_est, harmonic) — `ball_est` the HLL estimate
    * of |B_radius(v)| (self included), harmonic rounded to 6 decimals.
    */
  def harmonicCentralityApprox(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      radius: Int = 4,
      lgK: Int = 12): DataFrame = {
    require(radius >= 1, "need at least one sweep")
    val adj = adjacency(edges, srcCol, dstCol)
    val init = adj.select(col("u").as("node"))
      .groupBy("node").agg(expr(s"hll_sketch_agg(node, $lgK)").as("sk"))
      .select(col("node"), col("sk"), lit(0.0).as("h"),
        expr("hll_sketch_estimate(sk)").as("prev"))
      .localCheckpoint()
    sweep(init, radius, 1) { (cur, d) =>
      hyperBallStep(adj, cur, "h", "prev")
        .select(col("node"), col("sk"),
          (col("h") +
            greatest(expr("hll_sketch_estimate(sk)") - col("prev"), lit(0L))
              .cast("double") / lit(d.toDouble)).as("h"),
          expr("hll_sketch_estimate(sk)").as("prev"))
    }.select(col("node"), col("prev").as("ball_est"),
      round(col("h"), 6).as("harmonic"))
  }

  /** [[symmetric]] adjacency of the canonical simple graph,
    * materialized once — every sweep of the ops that iterate over it
    * re-reads it.
    */
  private def adjacency(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    symmetric(canonicalUndirected(edges, srcCol, dstCol)).localCheckpoint()

  /** Both directions of a canonical (lo, hi) edge frame as (u, v) rows,
    * carrying the `carried` columns (the edge weight `w`) on each.
    */
  private def symmetric(e: DataFrame, carried: String*): DataFrame = {
    def half(ends: Column*) = e.select(ends ++ carried.map(col): _*)
    half(col("lo").as("u"), col("hi").as("v"))
      .unionAll(half(col("hi").as("u"), col("lo").as("v")))
  }

  /** Exact layered multi-source BFS over a symmetric adjacency as
    * (node, peer) pair frames: element d holds the pairs first reached
    * at exactly d hops, d = 0..radius (depth 0 pairs every node with
    * itself), each one checkpointed. A layer is ONE aggregate:
    * candidate rows tagged 1 and already-reached rows tagged 0 share
    * one (node, peer) min — a group whose min is 1 was never reached
    * before, exactly the distinct-then-anti-join result with one
    * exchange instead of a distinct exchange plus a pair-sized anti
    * join. The reached set is the union of the checkpointed layers, so
    * its plan stays shallow (its leaves are checkpoint blocks).
    */
  private def bfsLayers(adj: DataFrame, radius: Int): Seq[DataFrame] = {
    val base = adj.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("peer")).localCheckpoint()
    val layers = scala.collection.mutable.ArrayBuffer(base)
    // round d's input is layer d−1, already checkpointed by the sweep
    val last = sweep(base, radius, 1) { (frontier, d) =>
      if (d > 1) layers += frontier
      frontier
        .join(adj.withColumnRenamed("u", "peer"), Seq("peer"))
        .select(col("node"), col("v").as("peer"), lit(1).as("__new"))
        .unionByName(layers.reduce(_ unionAll _)
          .select(col("node"), col("peer"), lit(0).as("__new")))
        .groupBy("node", "peer").agg(min(col("__new")).as("__new"))
        .filter(col("__new") === 1).select("node", "peer")
    }
    (layers += last).toSeq
  }

  /** One HyperBall sweep: every node's ball sketch `sk` unions its
    * neighbors' sketches (one edge join + one map-side-combined
    * `hll_union_agg`); a node no sketch reaches keeps its own. The
    * `carried` columns ride along unchanged.
    */
  private def hyperBallStep(adj: DataFrame, cur: DataFrame, carried: String*): DataFrame = {
    val contrib = adj
      .join(cur.select(col("node").as("u"), col("sk")), Seq("u"))
      .groupBy(col("v").as("node"))
      .agg(expr("hll_union_agg(sk)").as("nsk"))
    cur.join(contrib, Seq("node"), "left")
      .select(col("node") +: when(col("nsk").isNull, col("sk"))
        .otherwise(expr("hll_union(sk, nsk)")).as("sk") +: carried.map(col): _*)
  }

  /** The neighborhood-function table of [[neighborhoodFunction]] and
    * [[neighborhoodFunctionApprox]] from the cumulative totals
    * N(0..radius): (d, `nfCol`, coverage, effective). Unrounded
    * coverage N(d)/N(radius) decides the effective flag (one IEEE
    * division, the same double on any engine); the reported column
    * rounds to 9. An edgeless graph has N(radius) = 0 and fails.
    */
  private def coverageTable[T: Numeric: TypeTag](spark: SparkSession, totals: Seq[T],
      quantile: Double, nfCol: String): DataFrame = {
    val num = implicitly[Numeric[T]]
    val nfMax = num.toDouble(totals.last)
    require(nfMax > 0.0,
      "neighborhood function of an empty graph: the edge frame has no edge between two distinct nodes")
    val cov = totals.map(num.toDouble(_) / nfMax)
    val effD = cov.indexWhere(_ >= quantile)
    import spark.implicits._
    totals.zipWithIndex.map { case (v, d) =>
      (d, v, BigDecimal(cov(d)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
        d == effD)
    }.toDF("d", nfCol, "coverage", "effective")
  }

  /** Canonical simple-graph form every undirected op starts from:
    * long-typed (lo < hi) distinct pairs, self-loops dropped.
    */
  private def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()

  /** Canonical WEIGHTED simple-graph form: (lo < hi, w BIGINT),
    * self-loops dropped. Empty `weightCol` = unit weight per distinct
    * pair (exactly [[canonicalUndirected]] + w = 1, so the unweighted
    * ops are the weighted ops at w = 1); otherwise weights cast to
    * BIGINT and parallel rows SUM (multiplicity-as-weight) — integer
    * weights keep every downstream gain/modularity aggregate exact.
    */
  private def canonicalWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String): DataFrame =
    if (weightCol.isEmpty)
      canonicalUndirected(edges, srcCol, dstCol).withColumn("w", lit(1L))
    else
      edges.select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("hi"),
          col(weightCol).cast("long").as("w"))
        .filter(col("lo") =!= col("hi"))
        .groupBy("lo", "hi").agg(sum(col("w")).as("w"))

  /** Per-node degree of a canonical (lo, hi) edge frame — one
    * map-combined aggregate over both endpoints.
    */
  private def undirectedDegrees(e: DataFrame): DataFrame =
    e.select(col("lo").as("node"))
      .unionAll(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Degree orientation (Cohen / Schank-Wagner, the public standard):
    * each canonical undirected edge (lo, hi) is directed from its
    * smaller endpoint to its larger endpoint under the total order
    * (degree, id). Returns (u, v, dv) with rank(u) < rank(v); dv rides
    * along so downstream joins can compare ranks without re-joining the
    * degree table. Out-degree in the oriented graph is O(√|E|) even on
    * power-law graphs — a hub's edges all point INTO it, so the hub
    * generates zero wedges instead of a quadratic fan-out.
    */
  private[graft] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = undirectedDegrees(e)
    val withDeg = e
      .join(deg.toDF("lo", "dlo"), Seq("lo"))
      .join(deg.toDF("hi", "dhi"), Seq("hi"))
    val loFirst = col("dlo") < col("dhi") ||
      (col("dlo") === col("dhi") && col("lo") < col("hi"))
    withDeg.select(
      when(loFirst, col("lo")).otherwise(col("hi")).as("u"),
      when(loFirst, col("hi")).otherwise(col("lo")).as("v"),
      when(loFirst, col("dhi")).otherwise(col("dlo")).as("dv"))
  }

  /** Per-node triangle counts over an undirected simple graph: edges
    * canonicalize to (lo < hi) distinct pairs and are degree-oriented
    * ([[orientByDegree]]); each triangle is found exactly once as a
    * wedge at its lowest-rank corner (two out-edges u→v, u→w with
    * rank(v) < rank(w)) closed by the oriented edge v→w. Per-node
    * counts explode each triangle to its three corners and aggregate —
    * all exact integers.
    *
    * Scale: wedge fan-out per vertex is bounded by the ORIENTED
    * out-degree, O(√|E|) on any graph — on a power-law graph a hub's
    * edges all point into it, so the hub contributes no wedges (the
    * id-order orientation used before round 12 degenerated to a
    * quadratic hub fan-out whenever the hub had a low id; SkewSpec now
    * pins the bounded-fanout property on a star fixture). Degree
    * attachment is two joins against an O(V) aggregate; AQE broadcasts
    * it when small.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    triangleCountsCanonical(canonicalUndirected(edges, srcCol, dstCol))

  /** [[triangleCounts]] over an ALREADY-canonical (lo < hi, distinct)
    * frame — lets callers that hold one (graphSummary's checkpointed e)
    * skip a second canonicalize distinct (an edge-sized exchange).
    */
  private[graft] def triangleCountsCanonical(e: DataFrame): DataFrame = {
    // deliberately ONE lazy plan, no eager materialization: the static
    // explain shows the oriented frame's upstream repeated per self-join
    // instance (60 scans at the bench fixture), but at runtime AQE's
    // exchange reuse collapses the identical subplans to one execution —
    // A/B-measured r19: lazy 1.70-1.76 s vs localCheckpoint'ed e+f
    // 2.45 s at sf0.1 (the two eager node/edge-sized materializations
    // cost more than they save, and shuffle bytes CONFIRM the reuse:
    // 1.1 MiB lazy vs 3.2 MiB checkpointed)
    val f = orientByDegree(e)
    val tri = f.as("e1")
      .join(f.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .join(f.as("e3"),
        col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }
}
