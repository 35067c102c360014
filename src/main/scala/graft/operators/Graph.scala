package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructField, StructType}

/** Link-graph analytics for provenance curation. PageRank-style domain
  * authority is a classic corpus-quality prior (a page linked from
  * many reputable hosts is likelier to be worth training on), used to
  * re-weight or threshold crawl data by registrable domain.
  *
  * Scale shape of [[pageRank]]: everything is edge-relation algebra —
  * no adjacency lists materialize, no per-node driver state. The
  * normalized edge table (contribution factor w/out-weight folded in)
  * is computed ONCE and persisted; each iteration is then one join of
  * the rank table to the edges plus one sum-by-destination, i.e. two
  * hash shuffles at edge cardinality per round with map-side partial
  * aggregation. Iterations are a FIXED count (the form an exact SQL
  * oracle can replay); convergence-driven stopping would add the same
  * 1-value probe Clustering.connectedComponents uses. On a cluster,
  * pre-partitioning edges and ranks on the join key turns the per-round
  * rank join into a co-located join; the rank table is node-sized (far
  * under edge cardinality), so AQE typically broadcasts it while it
  * fits.
  */
object Graph {

  /** Weighted PageRank over `edges` (srcCol, dstCol, weightCol) for a
    * fixed `iters` rounds at damping `d`:
    *
    *   pr₀(v)    = 1/N
    *   prₖ₊₁(v) = (1-d)/N + d · (Σ_{u→v} prₖ(u) · w(u,v)/outw(u)
    *                              [+ danglingₖ/N])
    *
    * Nodes are the union of sources and destinations; a node with no
    * in-links settles at (1-d)/N. Dangling nodes (no out-links) have
    * no contribution row: with `redistributeDangling = false` their
    * mass LEAKS each round (Σpr decays below 1 — the simpler variant a
    * plain SQL CTE chain replays), and with `true` the classic
    * correction applies — their total mass `danglingₖ` (one extra
    * per-round 1-value aggregate, broadcast back as a 1-row frame,
    * never driver-collected) spreads uniformly inside the damping
    * term, so Σpr stays exactly 1 every round (GraphSpec pins
    * conservation to 1 ± 1e-9). Web crawl graphs are dangling-HEAVY
    * (most URLs have no outgoing edges in-corpus), so the leaky
    * variant systematically understates authority mass; prefer
    * redistribution for the domain-quality prior. N reaches the plan
    * as a literal from one bounded count action (a single long on the
    * driver).
    *
    * Output: (node, pagerank) with pagerank rounded to 6dp.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int = 3,
               damping: Double = 0.85,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping >= 0 && damping <= 1,
      s"damping must be in [0, 1], got $damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    try {
      val n = nodes.count().toDouble
      // fold the out-weight normalization into the edge table once:
      // per-round work then never recomputes degrees. Persist is LAZY
      // — the first round's action populates the cache (an eager
      // count here would add one more sequential job to a loop whose
      // wall time on small graphs is pure scheduler latency; round 12
      // measured a 5.6× blowout on a contended driver machine from
      // exactly that job-count sensitivity)
      val normEdges = e
        .join(e.groupBy(col("src")).agg(sum(col("w")).as("ow")), "src")
        .select(col("src"), col("dst"), (col("w") / col("ow")).as("f"))
        .persist()
      try {
        // the dangling set is fixed across rounds: nodes with no
        // out-edges (node-cardinality, computed once)
        lazy val dangling = nodes
          .join(normEdges.select(col("src")).distinct(),
            col("node") === col("src"), "left_anti")
          .persist()
        var ranks = nodes.select(col("node"), lit(1.0 / n).as("pr"))
        try {
          for (r <- 0 until iters) {
            val contrib = normEdges
              .join(ranks, col("src") === col("node"))
              .groupBy(col("dst"))
              .agg(sum(col("pr") * col("f")).as("s"))
            val base = nodes
              .join(contrib, col("node") === col("dst"), "left")
            ranks =
              if (!redistributeDangling)
                base.select(col("node"),
                  (lit((1 - damping) / n) +
                    lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"))
              else {
                // one 1-value aggregate per round: the mass parked on
                // dangling nodes, rejoined as a broadcast 1-row frame
                val dm = dangling
                  .join(ranks.withColumnRenamed("node", "__rn"),
                    col("node") === col("__rn"))
                  .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dm"))
                base.crossJoin(broadcast(dm))
                  .select(col("node"),
                    (lit((1 - damping) / n) +
                      lit(damping) * (coalesce(col("s"), lit(0.0)) +
                        col("__dm") / lit(n))).as("pr"))
              }
            // Pin every OTHER round plus the last: each pin is an
            // eager localCheckpoint — a full sequential Spark job —
            // and on latency-bound graphs (t64: ~10² edges, 3 rounds)
            // the job COUNT, not the data, is the wall time. Without
            // any pin the unrolled plan re-derives prior rounds per
            // downstream reference (2 refs/round in dangling mode →
            // exponential), so cap the unpinned window at 2 rounds:
            // ≤ 4× subtree duplication in dangling mode, plain linear
            // growth in leaky mode. The FINAL round is always pinned
            // so the returned frame is materialized before the
            // finally-blocks unpersist nodes/normEdges — otherwise
            // the caller's first action would recompute the edge
            // normalization uncached (two edge-cardinality shuffles
            // at 100 TB scale).
            if (r == iters - 1 || r % 2 == 1)
              ranks = ranks.localCheckpoint(true)
          }
          ranks.select(col("node"), round(col("pr"), 6).as("pagerank"))
        } finally if (redistributeDangling) dangling.unpersist()
      } finally normEdges.unpersist()
    } finally nodes.unpersist()
  }

  /** PERSONALIZED PageRank: teleport lands on the `seeds` set instead
    * of uniformly — pr measures proximity to the seeds through the
    * link structure, the standard seed-expansion primitive (grow a
    * trusted-domain list from a small vetted core; TrustRank is this
    * shape). Teleport vector: tele(v) = 1/|seeds| for seed nodes, 0
    * elsewhere; dangling mass re-enters THROUGH the teleport vector
    * (the PPR convention — leaked mass returns to the seeds), so
    * Σpr = 1 every round when all seeds are graph nodes (GraphSpec
    * pins it). A seed absent from the graph forfeits its teleport
    * share by construction — validate seeds upstream.
    *
    *   prₖ₊₁(v) = (1−d)·tele(v) + d·(Σ_{u→v} prₖ(u)·f(u,v)
    *                                 + danglingₖ·tele(v))
    *
    * Same edge-relation algebra and per-round cost as [[pageRank]];
    * seeds ride as a literal predicate (bounded seed list — for
    * million-seed personalization join a seed table instead).
    * Output: (node, ppr) rounded to 6dp.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: String, seeds: Seq[String],
                           iters: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(seeds.nonEmpty, "need at least one seed")
    require(seeds.distinct == seeds, "duplicate seeds")
    require(damping >= 0 && damping <= 1,
      s"damping must be in [0, 1], got $damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w"))
    val tele = when(col("node").isin(seeds: _*), lit(1.0 / seeds.length))
      .otherwise(lit(0.0))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .withColumn("tele", tele)
      .persist()
    try {
      // no count(): unlike pageRank, no N literal is needed — the
      // lazy persist populates on the first round's pin
      val normEdges = e
        .join(e.groupBy(col("src")).agg(sum(col("w")).as("ow")), "src")
        .select(col("src"), col("dst"), (col("w") / col("ow")).as("f"))
        .persist()
      try {
        // lazy persists + 2-round checkpoint cadence: the same
        // latency hardening as [[pageRank]] — per-round eager pins
        // made wall time on latency-bound graphs proportional to the
        // sequential JOB count, not the data (round-12 post-mortem)
        val dangling = nodes
          .join(normEdges.select(col("src")).distinct(),
            col("node") === col("src"), "left_anti")
          .select(col("node"))
          .persist()
        try {
          var ranks = nodes.select(col("node"), col("tele").as("pr"))
          for (r <- 0 until iters) {
            val contrib = normEdges
              .join(ranks, col("src") === col("node"))
              .groupBy(col("dst"))
              .agg(sum(col("pr") * col("f")).as("s"))
            val dm = dangling
              .join(ranks.withColumnRenamed("node", "__rn"),
                col("node") === col("__rn"))
              .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dm"))
            ranks = nodes
              .join(contrib, col("node") === col("dst"), "left")
              .crossJoin(broadcast(dm))
              .select(col("node"),
                (lit(1 - damping) * col("tele") +
                  lit(damping) * (coalesce(col("s"), lit(0.0)) +
                    col("__dm") * col("tele"))).as("pr"))
            // ranks is referenced twice per round (dm + contrib), so
            // an unpinned window of 2 rounds caps subtree duplication
            // at 4×; the final pin materializes the result before the
            // finally-blocks unpersist the cached relations
            if (r == iters - 1 || r % 2 == 1)
              ranks = ranks.localCheckpoint(true)
          }
          ranks.select(col("node"), round(col("pr"), 6).as("ppr"))
        } finally dangling.unpersist()
      } finally normEdges.unpersist()
    } finally nodes.unpersist()
  }

  /** TRIANGLE census of an undirected graph — exact triangle count,
    * open-wedge count, and global clustering coefficient
    * 3·Δ/wedges. The community-structure readout the rank family
    * ([[pageRank]]/[[personalizedPageRank]]) doesn't give: co-occurrence
    * graphs (parts bought together, domains co-linked, docs sharing
    * near-dup clusters) with high clustering have real cluster
    * structure; a low coefficient at high density flags synthetic or
    * spam-shaped linkage.
    *
    * Exact algorithm, degree-ordered orientation (Ortmann–Brandes /
    * the MapReduce "NodeIterator++"): orient every edge from its
    * (degree, id)-smaller endpoint, then count wedge–closure joins.
    * Each triangle {a≺b≺c} is found exactly once as (a→b)+(b→c)
    * closed by (a→c).
    *
    * Scale shape: self-loops drop, edges dedup through one
    * (u, v)-keyed distinct — the only input-sized shuffle, 8-byte
    * keys; the degree table joins back edge-keyed. The wedge join's
    * fan-out is Σ_s outdeg(s)², and orientation bounds every oriented
    * out-degree by O(√m) (arboricity bound), so the join is
    * O(m^{3/2}) — never the Σ deg² a random orientation risks on a
    * skewed graph (the hub's star orients INTO the hub, generating no
    * wedges). No windows, no driver state; the closure join shuffles
    * (s, t) int pairs.
    *
    * Output: ONE row (n_nodes, n_edges, n_triangles, n_wedges,
    * global_cc 6dp); an edgeless graph yields the zero row with NULL
    * coefficient.
    */
  def triangleStats(edges: DataFrame, aCol: String,
                    bCol: String): DataFrame =
    triangleStatsOnCollapsed(collapsedEdges(edges, aCol, bCol)
      .localCheckpoint(true)) // feeds degree, orientation, and the count

  /** The self-loop-dropped, (u, v)-canonicalized DISTINCT edge table
    * every undirected-graph operator starts from — exposed so callers
    * running SEVERAL of them on the same graph (triangle census +
    * Doulion gate + assortativity on one co-purchase graph) can pay
    * the input-sized collapse shuffle once and share one checkpoint
    * (the shared-census convention). Lazy: the caller decides how to
    * materialize.
    */
  def collapsedEdges(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame =
    edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()

  /** [[triangleStats]] on a pre-collapsed (and caller-materialized)
    * [[collapsedEdges]] frame — the e0 contract: columns (u, v),
    * u < v, distinct, no self-loops.
    */
  private[graft] def triangleStatsOnCollapsed(e0: DataFrame): DataFrame = {
    val deg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node").as("u"), col("deg").as("__du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("__dv"))
    val fwd = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val ed = e0.join(du, "u").join(dv, "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint(true) // 3 joins below walk the oriented edges
    val tri = ed.as("e1")
      .join(ed.as("e2"), col("e1.t") === col("e2.s"))
      .select(col("e1.s").as("ws"), col("e2.t").as("wt"))
      .join(ed.as("e3"),
        col("ws") === col("e3.s") && col("wt") === col("e3.t"))
      .agg(count(lit(1)).as("n_triangles"))
    val wed = deg.agg(
      // integer div keeps the wedge count an exact long past 2^53
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val ne = e0.agg(count(lit(1)).as("n_edges"))
    wed.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).as("global_cc"))
  }

  /** APPROXIMATE triangle census — the 100×-scale-regime member of the
    * [[triangleStats]] family (the t146-next-to-t139 pattern: exact op
    * + gated approximate sibling). [[triangleStats]]' degree-ordered
    * wedge closure is the right EXACT algorithm but inherently
    * O(m^1.5); at 100× the edges that cost grows 1000×. Doulion
    * (Tsourakakis et al., KDD'09) sparsifies first: keep each distinct
    * edge independently with probability `p` via a SEEDED md5 coin
    * (engine-portable, partition-layout-independent — the same edge
    * always gets the same coin), run the exact degree-ordered closure
    * on the kept subgraph, and scale the count by 1/p³ (each triangle
    * survives iff all three edges do ⇒ the estimator is unbiased;
    * rel. std ≈ √((1/p³−1)/T), vanishing on any graph with enough
    * triangles to matter). The wedge join now costs O((pm)^1.5) —
    * p = 0.1 buys ~32× — while everything LINEAR (node/edge/wedge
    * counts, so also the clustering coefficient's denominator) stays
    * exact from the full graph.
    *
    * Scale shape: identical to [[triangleStats]] except the closure
    * joins run on the p-thinned edge table; the coin is one codegen'd
    * md5 per edge, no extra shuffle. Output: ONE row (n_nodes,
    * n_edges, n_edges_sampled, n_triangles_est 6dp — Doulion-scaled,
    * fractional by nature — n_wedges exact, global_cc_est 6dp).
    * t236 gates the estimate against the exact count on the same
    * graph; an edgeless graph yields the zero row with NULL cc.
    */
  def triangleStatsApprox(edges: DataFrame, aCol: String, bCol: String,
                          p: Double, seed: String = "doulion"): DataFrame =
    triangleStatsApproxOnCollapsed(collapsedEdges(edges, aCol, bCol)
        .localCheckpoint(true), // feeds exact counts AND thinned closure
      p, seed)

  /** [[triangleStatsApprox]] on a pre-collapsed (caller-materialized)
    * [[collapsedEdges]] frame — same e0 contract as
    * [[triangleStatsOnCollapsed]].
    */
  private[graft] def triangleStatsApproxOnCollapsed(e0: DataFrame,
      p: Double, seed: String): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"keep probability out of (0,1]: $p")
    // seeded uniform coin from the first 15 md5 hex digits (16^15 < 2^63):
    // deterministic per (u, v, seed), replayable by any engine with md5
    val coin = conv(substring(md5(concat_ws("|",
        col("u").cast("string"), col("v").cast("string"), lit(seed))),
      1, 15), 16, 10).cast("long")
    val threshold = math.floor(p * math.pow(16.0, 15)).toLong
    // NOT re-checkpointed: kept is one codegen'd md5 filter over the
    // already-materialized e0 — its three consumers (degree, oriented
    // edges, sampled count) re-run the coin over cached partitions
    // instead of paying another sequential materialization job
    val kept = e0.filter(coin < threshold)
    val deg = kept.select(col("u").as("node"))
      .unionAll(kept.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node").as("u"), col("deg").as("__du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("__dv"))
    val fwd = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val ed = kept.join(du, "u").join(dv, "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint(true)
    val tri = ed.as("e1")
      .join(ed.as("e2"), col("e1.t") === col("e2.s"))
      .select(col("e1.s").as("ws"), col("e2.t").as("wt"))
      .join(ed.as("e3"),
        col("ws") === col("e3.s") && col("wt") === col("e3.t"))
      .agg(count(lit(1)).as("__tk"))
    // exact LINEAR stats from the FULL graph (one degree reduction)
    val fullDeg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wed = fullDeg.agg(
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val ne = e0.agg(count(lit(1)).as("n_edges"))
    val nk = kept.agg(count(lit(1)).as("n_edges_sampled"))
    wed.crossJoin(ne).crossJoin(nk).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_edges_sampled"),
        round(col("__tk").cast("double") / lit(p * p * p), 6)
          .as("n_triangles_est"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * (col("__tk").cast("double") / lit(p * p * p)) /
            col("n_wedges").cast("double"), 6)).as("global_cc_est"))
  }

  /** Degree ASSORTATIVITY of an undirected graph (Newman's r): the
    * Pearson correlation of endpoint degrees over the directed edge
    * list (each edge counted in both orientations) — the mixing-
    * pattern readout that completes [[triangleStats]]' clustering
    * one: social-shaped graphs assort (hubs link hubs, r > 0),
    * web/biological graphs disassort (r < 0), and a near-zero r on a
    * supposedly organic co-occurrence graph flags synthetic or
    * randomized linkage.
    *
    * Arithmetic: degrees are exact BIGINTs; the five Pearson moments
    * accumulate as DECIMAL(38,0) (HUGEINT on the oracle) over the 2m
    * directed rows — order-independent — and r is one double
    * expression at the 6dp boundary. Degree-regular graphs (zero
    * variance) yield NULL.
    *
    * Scale shape: one (u, v)-distinct edge collapse (8-byte keys),
    * one node-keyed degree count, two edge-keyed joins to attach
    * endpoint degrees, one map-side-combinable moment reduction. No
    * windows, no driver state, nothing quadratic.
    *
    * Output: ONE row (n_nodes, n_edges, assortativity 6dp).
    */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame =
    degreeAssortativityOnCollapsed(collapsedEdges(edges, aCol, bCol)
      .localCheckpoint(true)) // feeds degree and both orientation scans

  /** [[degreeAssortativity]] on a pre-collapsed (caller-materialized)
    * [[collapsedEdges]] frame — same e0 contract as
    * [[triangleStatsOnCollapsed]].
    */
  private[graft] def degreeAssortativityOnCollapsed(
      e0: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val deg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node").as("u"), col("deg").as("__du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("__dv"))
    val withDeg = e0.join(du, "u").join(dv, "v")
    val dir = withDeg
      .select(col("__du").cast(dec).as("__dx"),
        col("__dv").cast(dec).as("__dy"))
      .unionAll(withDeg.select(col("__dv").cast(dec).as("__dx"),
        col("__du").cast(dec).as("__dy")))
    val m = dir.agg(count(lit(1)).as("__mm"),
      sum(col("__dx")).as("__sx"), sum(col("__dy")).as("__sy"),
      sum(col("__dx") * col("__dy")).as("__sxy"),
      sum(col("__dx") * col("__dx")).as("__sxx"),
      sum(col("__dy") * col("__dy")).as("__syy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val mm = col("__mm").cast(dec)
    val varX = mm * col("__sxx") - col("__sx") * col("__sx")
    val varY = mm * col("__syy") - col("__sy") * col("__sy")
    val cov = mm * col("__sxy") - col("__sx") * col("__sy")
    nn.crossJoin(m)
      // integer div: count/2 via `/` would emit DOUBLE (dtype skew)
      .select(col("n_nodes"), expr("__mm div 2").as("n_edges"),
        when(varX > 0 && varY > 0,
          round(cov.cast("double") /
            sqrt(varX.cast("double") * varY.cast("double")), 6))
          .as("assortativity"))
  }

  /** Canonical undirected simple-graph edge table shared by [[kCore]]
    * and its t265 audit (one normalization, so the audit can never
    * silently check a different graph than the decomposition it
    * gates): self-loops dropped, (u,v) canonicalized + deduped, both
    * directions emitted as (src, dst).
    */
  private[graft] def undirect(edges: DataFrame, aCol: String,
                              bCol: String): DataFrame = {
    val e0 = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    e0.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e0.select(col("v").as("src"), col("u").as("dst")))
  }

  /** k-CORE DECOMPOSITION — exact core numbers for every node of the
    * undirected simple graph, via distributed H-INDEX ITERATION
    * (Lü–Chen–Ren–Zhang–Zhang–Zhou, "The H-index of a network node",
    * 2016): c₀(v) = deg(v); cₜ₊₁(v) = H({cₜ(u) : u ~ v}) where H is
    * the h-index (the largest h with ≥ h neighbors of value ≥ h).
    * The sequence is monotone NON-INCREASING per node and its
    * fixpoint is exactly the core number — termination is an empty
    * changed-set (frontier) round, and the fixpoint property itself
    * is an enforceable audit (one extra round changes nothing — the
    * t265 gate, which re-derives it with the DataFrame [[hIndexRound]]).
    *
    * Scale shape: FRONTIER MESSAGE PASSING over a node-keyed state RDD
    * (value, sorted neighbor ids, the last value heard from each
    * neighbor, changed flag), hash-partitioned once and persisted.
    * A node's h-index can only change when a neighbor's value changed,
    * so each round only the nodes that changed send their value to
    * their neighbors; the messages are cogrouped with the state under
    * the state's own partitioner (the state side stays a narrow
    * dependency, only the messages shuffle), and only the nodes that
    * heard something recompute their h-index, in the task — a sort of
    * their degree-sized value array and the ranked identity
    * H = max over value-desc-ranked neighbors of min(value, rank).
    * One Spark job per round (the changed count); the set-up adds the
    * `undirect` plan's own stages. Round 1's frontier is every node;
    * late rounds touch only the dense cores still settling. Per-node
    * work and memory are degree-bounded, and there is no driver-side
    * node state. Partitions: AQE's byte-sized partitioning of the
    * `undirect` output. Core numbers are DATA, not estimates — but the
    * fixpoint is reached iteratively, so the driver row is rows-only
    * with the t265 audit enforcing exactness structurally (peeling-
    * invariant + fixpoint), the t192-family convention.
    *
    * Node ids are integral (TINYINT…BIGINT), held as longs in the
    * state, as [[Clustering.connectedComponents]] holds its ids.
    *
    * Output: (node, degree, core) — node keeps the input column type,
    * degree and core are BIGINT; core ≥ 1 (every node in the edge
    * table has an edge), core ≤ degree.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
            maxRounds: Int = 500): DataFrame =
    // handle discarded: the persisted final state backs the returned
    // frame (the connectedComponents convention). Callers that
    // re-materialize the result themselves should use
    // [[kCoreWithRelease]] and free the loop state instead.
    kCoreWithRelease(edges, aCol, bCol, maxRounds)._1

  /** [[kCore]] plus a RELEASE handle for the final round's persisted
    * state (each earlier round's state is freed as soon as the next
    * one is cached; a run that fails to converge frees its own).
    * CONTRACT: materialize the returned frame eagerly (e.g.
    * `localCheckpoint(true)`) BEFORE calling the handle — after
    * release the frame cannot recompute. Exists so a caller that
    * re-checkpoints the result anyway (t264's per-session fixture)
    * doesn't strand one node-sized persisted RDD per call.
    */
  private[graft] def kCoreWithRelease(edges: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 500): (DataFrame, () => Unit) = {
    val und = undirect(edges, aCol, bCol)
    val node = und.schema("dst")
    require(Seq(LongType, IntegerType, ShortType, ByteType)
      .contains(node.dataType), s"kCore node ids must be integral, got ${node.dataType}")
    // (dst, src) pairs; building the RDD runs the plan's AQE stages, so
    // its partition count is already sized by bytes
    val pairs = und.select(col("dst").cast("long"), col("src").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new HashPartitioner(pairs.getNumPartitions max 1)
    // every state is a LOCAL CHECKPOINT (persisted, lineage cut after
    // the job that fills it), so a round's job neither re-lists nor
    // re-serializes the rounds before it
    var state = pairs.groupByKey(part)
      .mapValues(ns => KCoreNode.initial(ns.toArray))
      .localCheckpoint()
    var active = 1L
    var round = 0
    while (active > 0 && round < maxRounds) {
      val prev = state
      val msgs = prev.flatMap { case (v, s) =>
        if (s.changed) s.nbrs.iterator.map(u => (u, (v, s.c)))
        else Iterator.empty
      }
      state = prev.cogroup(msgs, part)
        .flatMapValues { case (ss, ms) => ss.map(_.receive(ms)) }
        .localCheckpoint()
      active = state.filter(_._2.changed).count() // the round's one job
      prev.unpersist(blocking = false)
      round += 1
    }
    val fin = state
    val release = () => { fin.unpersist(blocking = false); () }
    if (active > 0) {
      release()
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds")
    }
    // core is declared nullable: kCore's published schema (t264's
    // result files carry it)
    val schema = StructType(Seq(node.copy(name = "node", dataType = LongType),
      StructField("degree", LongType, nullable = false),
      StructField("core", LongType, nullable = true)))
    val out = und.sparkSession.createDataFrame(
        fin.map { case (v, s) => Row(v, s.nbrs.length.toLong, s.c) }, schema)
      .select(col("node").cast(node.dataType).as("node"), col("degree"),
        col("core"))
    (out, release)
  }

  /** The h-index of `vals` (all ≥ 1): max over the values ranked
    * 1.. in descending order of min(value, rank) — [[hIndexRound]]'s
    * identity, on one node's array.
    */
  private[operators] def hIndex(vals: Array[Long]): Long = {
    val s = vals.sorted // ascending: rank i sits at s(n - i)
    (1 to s.length).iterator.map(i => math.min(s(s.length - i), i.toLong)).max
  }

  /** One h-index refinement round: for every node, the h-index of its
    * neighbors' current values — H = max over value-desc-ranked
    * neighbors of min(value, rank).
    */
  private[graft] def hIndexRound(und: DataFrame,
                                     labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dst")).orderBy(col("cn").desc)
    und.join(labels.select(col("node").as("src"), col("c").as("cn")),
        "src")
      .select(col("dst"), col("cn"))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("dst").as("node"))
      .agg(max(least(col("cn"), col("__rn"))).as("c"))
  }
}

/** One node of [[Graph.kCoreWithRelease]]'s state: its current value
  * `c`, its neighbor ids in ascending order, the last value heard
  * from each (aligned with `nbrs`), and whether `c` fell in the round
  * that produced this state.
  */
private[operators] final case class KCoreNode(c: Long, nbrs: Array[Long],
    vals: Array[Long], changed: Boolean) {

  /** The next round's state after `msgs` (neighbor, value): a node that
    * heard nothing keeps its value; one that did recomputes its
    * h-index, and only a strict decrease counts as a change.
    */
  def receive(msgs: Iterable[(Long, Long)]): KCoreNode =
    if (msgs.isEmpty) copy(changed = false)
    else {
      val heard = vals.clone()
      msgs.foreach { case (u, x) =>
        heard(java.util.Arrays.binarySearch(nbrs, u)) = x }
      val h = Graph.hIndex(heard)
      KCoreNode(math.min(h, c), nbrs, heard, h < c)
    }
}

private[operators] object KCoreNode {
  /** Round 0: the value is the degree, and every node counts as
    * changed, so round 1 sends every degree to every neighbor.
    */
  def initial(nbrs: Array[Long]): KCoreNode = {
    java.util.Arrays.sort(nbrs)
    KCoreNode(nbrs.length.toLong, nbrs, new Array[Long](nbrs.length), changed = true)
  }
}
