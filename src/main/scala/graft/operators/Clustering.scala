package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-components clustering over near-duplicate pair sets — the
  * step that turns pairwise similarity output (TextDedup / Similarity
  * pairs) into actionable dedup groups: every document gets the minimum
  * reachable id as its canonical representative, and "keep one per
  * component" becomes a trivial filter.
  *
  * Algorithm: distributed min-label propagation with pointer jumping.
  * Each round does
  *
  *   1. hop — label(v) ← label(label(v)): a self-join that squares the
  *      distance a label travels per round (path doubling; skipped on
  *      round 0 where label = id makes it the identity);
  *   2. propagate — label(v) ← min over u ∈ neighbors(v) ∪ {v} of
  *      label(u): one join + one groupBy (the edge set carries a
  *      self-loop per node, so the node's own label rides the same
  *      aggregate instead of needing a second merge join).
  *
  * Plain propagation needs O(diameter) rounds — a 1M-doc chain of
  * near-dups (template spam with drifting boilerplate) would need 1M
  * jobs. With the hop step the round count is O(log diameter), the
  * shape that survives 100 TB: each round is a bounded number of
  * key-partitioned shuffles, and per-round state is one (id, label)
  * row per node — never the edge set squared.
  *
  * Iteration plumbing: every round materializes into an explicitly
  * persisted InternalRow RDD (lineage truncates to an O(1)-deep
  * LogicalRDD — Catalyst would otherwise re-analyze a plan growing by
  * two joins per round) and the SUPERSEDED round's RDD is unpersisted
  * as soon as the new round lands, so a long run pins exactly one
  * round of (id, label) state, not all of them. The RETURNED frame is
  * still backed by its persisted RDD — callers keep zero-recompute
  * reuse and pay |nodes| rows of block storage until the session drops
  * it. On a cluster with a checkpoint dir configured, `checkpoint()`
  * would add executor-loss resilience — the in-memory variant keeps
  * this operator usable without one.
  */
object Clustering {

  /** Materialize `df` into a persisted (memory-and-disk) InternalRow
    * RDD: returns the re-wrapped frame plus a release handle for the
    * backing blocks. Rows are copied — the unsafe-row buffers under
    * toRdd are reused per partition.
    */
  private[operators] def materialize(df: DataFrame): (DataFrame, () => Unit) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = org.apache.spark.sql.graftshim.Bridge
      .internalCreateDataFrame(df.sparkSession, rdd, df.schema)
    (out, () => { rdd.unpersist(blocking = false); () })
  }

  /** Components of the undirected graph given by `edges` (any extra
    * columns are ignored). Output: (id, component) for every id
    * appearing in `edges`, component = min id reachable. Nodes absent
    * from `edges` are their own components — callers wanting singleton
    * rows join this result back to the full corpus (see
    * `labelCorpus`).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // undirected: each edge contributes both directions, PLUS a
    // self-loop per endpoint — the self-loop folds "min with own label"
    // into the neighbor-min aggregate, so each propagate round is one
    // join + one groupBy instead of two joins; distinct trims the
    // fan-in. The 4-way expansion is a single in-stage explode (NOT a
    // 4-branch union): callers typically pass an expensive un-persisted
    // pair pipeline as `edges` (t18 hands in the full n-gram Jaccard
    // run), and a union would re-run it once per branch
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
    // materialize (toRdd + persist) rather than a bare persist(): AQE
    // sizes the distinct's output partitions from its BYTES, and the
    // persisted InternalRow RDD keeps that sizing — a cached DataFrame
    // is exempt from AQE re-partitioning
    // (canChangeCachedPlanOutputPartitioning is off by default), so
    // persist() pinned the un-coalesced shuffle width and every
    // pointer-jumping round re-read cores× near-empty cache partitions
    // (the measured local[32]-slower-than-local[8] pathology). At scale
    // the same byte-targeted coalescing keeps real partitions.
    val (und, releaseUnd) = materialize(e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")),
        struct(col("src"), col("src").as("dst")),
        struct(col("dst").as("src"), col("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct())
    // initial labels = round 0's propagate, for free: with label = id
    // the propagate aggregate is just min(src) per dst, and the
    // self-loops put every node in the dst column — one groupBy, same
    // shuffle the old distinct-nodes init paid, one round saved
    var (labels, release) = materialize(
      und.groupBy(col("dst").as("id")).agg(min(col("src")).as("label")))
    // label sums only decrease (min-propagation is monotone), so
    // sum-equality across rounds ⟺ no label changed. The sum runs in
    // DECIMAL(38,0): a Long sum of up-to-2^63 ids overflows around
    // 10^18-node graphs — wrapping could falsely signal convergence
    // (or throw under ANSI mode); 38 digits holds 10^12 max-valued ids.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    // empty edge set ⟺ zero label rows ⟺ NULL initial sum: the
    // fixpoint is the empty labeling. Folding the emptiness probe into
    // the init sum saves the separate isEmpty action every caller paid.
    if (prevSum == null) {
      release(); releaseUnd()
      return edges.select(col(srcCol).cast("long").as("id"),
                          col(srcCol).cast("long").as("component"))
        .limit(0)
    }
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // 1. hop: label(v) <- label(label(v)) — labels are node ids, so
      // the label table maps them too (path doubling). The self-join
      // reads the MATERIALIZED previous round twice (cache hits — the
      // old shape hopped the un-materialized propagate output and
      // computed its whole subtree once per join side).
      val base = labels
        .join(labels.select(col("id").as("label"), col("label").as("hop")),
              Seq("label"), "left")
        .select(col("id"),
                least(col("label"), coalesce(col("hop"), col("label"))).as("label"))
      // 2. propagate: min label over self + neighbors — the self-loops
      // in `und` carry the node's own label into the aggregate, so no
      // second join is needed, and `base` is referenced exactly once
      val propagated = und
        .join(base.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("label"))
      val (next, releaseNew) = materialize(propagated)
      val after = labelSum(next) // the round's ONE action: computes the
                                 // persisted RDD and the convergence sum
      release() // superseded round's blocks go away NOW, not at GC
      labels = next
      release = releaseNew
      // labels only decrease through hop and propagate, so an unchanged
      // sum means BOTH steps were the identity — on a symmetric graph a
      // propagate fixpoint has constant labels per component (for every
      // edge u~v both label(u) >= label(v) and vice versa), i.e. done
      converged = prevSum.compareTo(after) == 0
      prevSum = after
      round += 1
    }
    releaseUnd()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — " +
        "raise maxRounds (each round doubles reachable distance, so this " +
        "graph has astronomical effective diameter)")
    labels.withColumnRenamed("label", "component")
  }

  /** Component label for EVERY row of `corpus`: docs in some near-dup
    * pair get their component's min id, untouched docs label themselves.
    * Output: corpus key column + `component` + `is_rep` (the row to keep
    * in a keep-one-per-cluster dedup).
    */
  def labelCorpus(corpus: DataFrame, idCol: String,
                  edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val comps = connectedComponents(edges, srcCol, dstCol)
      .withColumnRenamed("id", idCol)
    corpus.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
              coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("is_rep", col(idCol) === col("component"))
  }
}
