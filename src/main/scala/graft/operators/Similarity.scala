package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import graft.functions.VectorFunctions._
import graft.functions.TopKFunctions.top_k_by_score

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Baseline: brute-force cosine top-k — exact, one pass over the corpus
  * per query batch (queries broadcast; no shuffle of the corpus side).
  * Scale path: hyperplane-LSH bucketing — each vector lands in a
  * prefix bucket; candidate generation joins on bucket equality and
  * only candidates get exact scoring. Recall is tunable via
  * bits/tables; the plumbing mirrors an IVF coarse quantizer with
  * hash-defined centroids (no training pass needed, fully
  * deterministic).
  */
object Similarity {

  /** Default within-cell pair-generation cap for [[semDedup]] — the
    * SINGLE source of truth shared by the operator default, the t47
    * survivor audit, and the ScaleStress saturation audit, so a cap
    * change can never leave an audit silently checking the wrong
    * threshold.
    */
  val DefaultSemDedupBucket = 2000

  /** Largest cell count [[semCells]] assigns in ONE level with a
    * driver-held centroid matrix. Below this, nlist is a constant
    * w.r.t. corpus size — the assign is O(N · nlist · dim), linear in
    * N, and the driver matrix is bounded at MaxDriverNlist × dim — so
    * the two-level machinery would only add fixed job overhead. Above
    * it (which is where nlist ∝ corpus/target-cell-size lands for any
    * large corpus), the hierarchical quantizer takes over.
    */
  val MaxDriverNlist = 64

  /** Cut `scored` (qid, id, cosine) to the top k per qid via the
    * native bounded-heap aggregate: partial aggregation caps each map
    * partition's shuffle contribution at k entries per qid, so there is
    * no per-qid window funnel — a hot query (or a hot LSH bucket) costs
    * O(candidates) map-side scoring but only O(partitions·k) shuffle.
    * Requires an integral id (the heap stores (double, long) pairs);
    * the id is cast back to `idType` on output so schemas are unchanged.
    */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int, idType: DataType): DataFrame = {
    graft.functions.TopKFunctions.requireIntegralId(idType, "partial top-k")
    scored
      .groupBy(col("qid"))
      .agg(top_k_by_score(col("cosine"), col("id").cast("long"), k).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
              col("e.id").cast(idType).as("id"),
              round(col("e.score"), 6).as("cosine"))
  }

  /** Exact cosine top-k neighbors for each query vector.
    * `queries`: (qid, qvec). Corpus never shuffles for the scoring —
    * queries broadcast to every corpus partition — and the rank cut is
    * the partial top-k aggregate, so the only shuffle is
    * O(partitions · |queries| · k). At very large corpus × query
    * products the scoring itself is the cost; prefer `lshTopK`/`ivfTopK`.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))))
      .filter(col("id") =!= col("qid"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
    topKPerQuery(scored, k, corpus.schema(idCol).dataType)
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the k most-similar corpus vectors with a DIFFERENT label — the
    * negatives that actually teach a margin (random negatives are
    * trivially separable; the nearest wrong-label neighbors are the
    * batch that moves the loss — the "hard negatives" of DPR/SimCLR
    * practice). Same plan shape as [[bruteForceTopK]]: anchors
    * broadcast, corpus never shuffles for scoring, the rank cut is the
    * partial top-k aggregate; the label-mismatch predicate drops
    * same-class pairs BEFORE the heap, null-safely (IS DISTINCT FROM
    * semantics: a NULL-labeled row pairs with every labeled anchor,
    * but NULL-vs-NULL counts as the SAME class and is excluded — the
    * conservative read for unlabeled data, and what the t130 oracle
    * replays). At very large anchor sets swap the scoring pass for the
    * LSH/IVF-PQ candidate paths exactly as with marginMine.
    * Output: (qid, rank, id, cosine).
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchors: DataFrame, qidCol: String,
                    qvecCol: String, qlabelCol: String, k: Int): DataFrame = {
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(labelCol).as("__lbl"))
      .join(broadcast(anchors.select(col(qidCol).as("qid"),
        col(qvecCol).as("qvec"), col(qlabelCol).as("__qlbl"))))
      .filter(col("id") =!= col("qid") && !(col("__lbl") <=> col("__qlbl")))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      .select(col("qid"), col("id"), col("cosine"))
    topKPerQuery(scored, k, corpus.schema(idCol).dataType)
  }

  /** Approximate top-k via hyperplane-LSH bucketing: vectors sharing a
    * signature prefix in ANY of `tables` independent hash tables become
    * candidates; exact cosine ranks them. Multi-table OR-construction
    * recovers recall lost to unlucky cuts.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, bits: Int = 12, tables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String, pfx: String) = {
      val sigs = (0 until tables).map(t =>
        hyperplane_sig(col(vec), bits, seed = 42L + t))
      df.select(col(id).as(s"${pfx}id"), col(vec).as(s"${pfx}vec"),
          posexplode(array(sigs: _*)).as(Seq("table", s"${pfx}bucket")))
    }
    val c = bucketed(corpus, idCol, vecCol, "c_")
    val q = bucketed(queries, qidCol, qvecCol, "q_")
    // candidate (qid, id) pairs dedup as bare ids — vectors rejoin
    // AFTER the distinct so no shuffle ever carries embeddings
    val candIds = c.drop("c_vec").join(broadcast(q.drop("q_vec")),
        col("c_bucket") === col("q_bucket") &&
        c("table") === q("table") &&
        col("c_id") =!= col("q_id"))
      .select(col("q_id").as("qid"), col("c_id").as("id"))
      .dropDuplicates("qid", "id")
    val cands = candIds
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id")
      .join(broadcast(queries.select(col(qidCol).as("qid"),
                                     col(qvecCol).as("qvec"))), "qid")
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
    // partial top-k: a hot bucket inflates candidate count but never
    // funnels — see topKPerQuery
    topKPerQuery(cands, k, corpus.schema(idCol).dataType)
  }

  /** Argmax cell id over per-centroid cosine — one native kernel call
    * per row with the centroid matrix as a codegen reference object
    * (ties → larger index, NaN greatest, matching the array_max
    * struct-ordering form it replaces). The expression-tree form
    * (array_max over nlist cosine subtrees) grows generated code
    * linearly in nlist and collapsed at the adaptive nlist≈80 of the
    * 10× stress corpus — 540 s for a 20k-row assign vs sub-second for
    * the kernel (docs/PERF_NOTES.md).
    */
  private def cellOf(vec: Column, centroids: Array[Seq[Double]]): Column =
    graft.functions.VectorFunctions.argmax_cell(vec, centroids.toIndexedSeq)

  /** One-or-more Lloyd iterations over cosine cells, fully
    * distributed: assign every vector to its argmax-cosine cell (one
    * scan, no shuffle beyond the per-(cell, dim) partial means), take
    * the per-cell mean vector as the new centroid. The mean needs no
    * normalization — cosine is scale-invariant in the centroid — and
    * a cell that loses all members keeps its previous centroid. The
    * driver only ever holds nlist × dim partial means (~1k values).
    */
  private[operators] def refineCentroids(vecs: DataFrame,
      centroids: Array[Seq[Double]], iters: Int): Array[Seq[Double]] = {
    var cents = centroids
    if (iters == 0 || cents.isEmpty) return cents
    // per-cell dim-COLUMN means, not posexplode: the explode form
    // amplified the assign stage ×dim rows (a 768× allocation storm at
    // embedding dims) before the map-side combine — the same shape the
    // t226 labelSeparation rewrite removed. One hash aggregate with
    // O(cells × dim) state; shuffled rows carry dim doubles per cell.
    val dim = cents.head.size
    val aggs = (0 until dim).map(i =>
      avg(element_at(col("vec"), i + 1).cast("double")).as(s"__m$i"))
    for (_ <- 0 until iters) {
      val rows = vecs
        .filter(col("vec").isNotNull)
        .select(cellOf(col("vec"), cents).as("cell"), col("vec"))
        .groupBy(col("cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val byCell = rows.map(r => r.getInt(0) -> r).toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCell.get(i).fold(old) { r =>
          // a dim no member vector reaches keeps its old component
          // (matches the explode form, where that (cell, d) row never
          // existed)
          (0 until dim).map(d =>
            if (r.isNullAt(1 + d)) old(d) else r.getDouble(1 + d)): Seq[Double]
        }
      }
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    * path: partition the corpus into `nlist` cells around centroid
    * vectors, probe only the `nprobe` cells nearest each query, score
    * candidates exactly.
    *
    * Centroids seed from a deterministic hash-sample of corpus vectors
    * (reproducible across runs/executors) and are optionally
    * Lloyd-refined for `refineIters` distributed passes. Cell
    * assignment is an argmax over `nlist` codegen'd cosine expressions
    * — one corpus scan, no shuffle; the probe join broadcasts the
    * (qid, cell) pairs so the corpus shuffles once at most (by cell)
    * regardless of query count.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              refineIters: Int = 0): DataFrame = {
    val seeds = seedCentroids(corpus.select(col(vecCol).as("vec")), nlist)
    val centroids = refineCentroids(
      corpus.select(col(vecCol).as("vec")), seeds, refineIters)
    val cells = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", cellOf(col("vec"), centroids))
    // top-nprobe cells per query via the native kernel — the
    // expression-tree form (array_sort over nlist struct-cosine
    // subtrees) regrows generated code linearly in nlist; fine at
    // nlist=16, but index-quality nlist is in the thousands and the
    // corpus-side twin of that shape already collapsed at nlist≈80
    // (docs/PERF_NOTES.md). The kernel is one constant-size call.
    val probes = queries
      .select(col(qidCol).as("qid"), col(qvecCol).as("qvec"),
              explode(graft.functions.VectorFunctions.top_cells(
                col(qvecCol), centroids.map(_.toIndexedSeq).toIndexedSeq,
                nprobe)).as("cell"))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
    topKPerQuery(scored, k, corpus.schema(idCol).dataType)
  }

  /** Embedding-cosine near-duplicate pairs (the fifth dedup modality).
    *
    * Two-stage, because real training corpora are dominated by EXACT
    * duplicate vectors and flat LSH on them is quadratic (every copy of
    * a hot vector lands in the same bucket — a 10×-replicated corpus
    * turned the naive form into billions of candidate rows):
    *
    *  1. collapse identical vectors into clusters (hash of the vector
    *     bytes; representative = min id) and emit (rep, member) pairs —
    *     identical vectors have cosine exactly 1.0;
    *  2. run hyperplane-LSH + exact-cosine verification over the
    *     DISTINCT representatives only.
    *
    * Cross-cluster pairs are reported rep-to-rep (cluster-collapsed),
    * which is the scale-correct answer shape: expanding them to all
    * member combinations is a trivial join the caller can do, but its
    * size is the product of cluster sizes.
    *
    * The rep table (a full groupBy over the corpus) feeds stage 1 once
    * and stage 2 three times, so it is persisted for the duration of
    * the call and the RESULT is materialized (eager localCheckpoint)
    * before the cache is released — one corpus aggregation total,
    * instead of one per downstream reference. The returned frame is
    * therefore backed by checkpoint blocks sized to the PAIR OUTPUT
    * (small — rep-collapsed near-dup pairs), never the corpus.
    */
  /** Deterministic centroid seeds shared by [[ivfTopK]] and
    * [[semCells]]: the `nlist` DISTINCT vectors with the smallest
    * vector-hash (tiny collect; nlist rows; reproducible across
    * runs/executors). Without distinct, a hot duplicated vector could
    * supply every centroid and collapse the index to one cell. Handles
    * FLOAT and DOUBLE element types.
    */
  private[operators] def seedCentroids(vecs: DataFrame,
      nlist: Int): Array[Seq[Double]] =
    vecs.select(col("vec"))
      .distinct()
      .orderBy(xxhash64(col("vec")), col("vec").cast("string"))
      .limit(nlist)
      .collect()
      .map { r =>
        r.getSeq[Any](0).map {
          case f: java.lang.Float  => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case x => throw new IllegalArgumentException(
            s"unsupported vector element ${x.getClass}")
        }
      }

  /** Deterministic coarse-quantizer training — hash-ordered distinct
    * seeds + `refineIters` distributed Lloyd passes — shared by
    * [[ivfTopK]] and [[Pq.ivfPqTopK]] so both index layouts partition
    * the space identically at the same parameters. `vecs` must be a
    * single-column frame named `vec`.
    */
  private[operators] def trainCentroids(vecs: DataFrame, nlist: Int,
      refineIters: Int): Array[Seq[Double]] =
    refineCentroids(vecs, seedCentroids(vecs, nlist), refineIters)

  /** Cell assignment for [[semDedup]]: deterministic k-means over the
    * corpus vectors — single-level while nlist ≤ [[MaxDriverNlist]]
    * (constant nlist ⇒ linear assign, bounded driver matrix), and a
    * TWO-LEVEL hierarchical quantizer above it. The two-level form is
    * what keeps the design sub-quadratic when `nlist` grows with the
    * corpus (nlist ∝ N/target-cell-size, so a flat assign would be
    * O(N · nlist · dim) = O(N²·dim/target) with an nlist × dim driver
    * matrix: a 100 TB scale-killer).
    *
    *  - COARSE level: ~√nlist centroids, seeded from [[seedCentroids]]
    *    and Lloyd-refined on the driver. The driver matrix is
    *    √nlist × dim — bounded forever (nlist = 4×10⁸ → 2×10⁴ coarse
    *    centroids ≈ 5 MB at dim 32).
    *  - FINE level: per-coarse-cell centroids live in a DATAFRAME
    *    (coarse, fine, cent), never the driver. Fine seeding, Lloyd
    *    refinement, and the final assign all key on the coarse cell:
    *    the centroid table groups to one ARRAY<ARRAY<DOUBLE>> row per
    *    coarse cell and JOINS to the vectors (AQE broadcasts it while
    *    it fits; at extreme nlist it degrades to one corpus shuffle by
    *    coarse id — still linear), with the within-level argmax in the
    *    native `argmax_cells` kernel.
    *
    * Assign cost: O(N · (√nlist + fine-per-coarse) · dim) ≈
    * O(N · 2√nlist · dim) — vs the flat form's O(N · nlist · dim).
    * Fine-cell COUNT per coarse cell is proportional to coarse-cell
    * occupancy (skewed coarse cells get more fine cells, target
    * members-per-fine-cell stays ~N/nlist), capped at 4× the average
    * so one pathological coarse cell can never rebuild the flat
    * matrix inside a single row.
    *
    * Output: (id, vec, cell) with cell = coarse << 32 | fine (LONG) —
    * identical vectors always share a cell (assignment is a pure
    * function of the vector), which [[semDedup]]'s exact-dup guarantee
    * rests on. The fine-centroid table is eagerly checkpointed, so
    * downstream re-references of the returned frame recompute only the
    * scan + two argmax kernels + the centroid join, never the k-means.
    */
  private[graft] def semCells(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, refineIters: Int): DataFrame = {
    import graft.functions.VectorFunctions.argmax_cells
    import org.apache.spark.sql.expressions.Window
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val ids = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // single level while the whole matrix fits the driver bound: below
    // MaxDriverNlist the flat assign is already linear in N with
    // bounded driver state, and the fine level's extra jobs (seed
    // window, per-level checkpoints, centroid join) are pure overhead
    if (nlist <= MaxDriverNlist) {
      val seeds = seedCentroids(ids.select(col("vec")), nlist)
      val cents = refineCentroids(ids.select(col("vec")), seeds, refineIters)
      return ids.select(col("id"), col("vec"),
        cellOf(col("vec"), cents).cast("long").as("cell"))
    }
    val coarseN = math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val coarseSeeds = seedCentroids(ids.select(col("vec")), coarseN)
    val coarseCents =
      refineCentroids(ids.select(col("vec")), coarseSeeds, refineIters)
    val withCoarse0 = ids.withColumn("coarse", cellOf(col("vec"), coarseCents))
    // null vectors get a null cell in BOTH paths: the single-level
    // kernel yields null naturally, but here a null coarse key would
    // silently drop the row at the centroid joins — route them around
    // the fine level instead so the two paths agree on cardinality
    val nullVec = withCoarse0.filter(col("vec").isNull)
      .select(col("id"), col("vec"), lit(null).cast("long").as("cell"))
    val withCoarse = withCoarse0.filter(col("vec").isNotNull).persist()
    try {
      // group the fine-centroid table to one (coarse, cents[][]) row
      // per coarse cell for the assign joins, fine index = array slot
      def centArr(fine: DataFrame): DataFrame = fine
        .groupBy(col("coarse"))
        .agg(array_sort(collect_list(struct(col("fine"), col("cent"))))
          .as("fs"))
        .select(col("coarse"), transform(col("fs"), _.getField("cent"))
          .as("cents"))
      // per-coarse fine-cell count ∝ occupancy (skew-adaptive), ≥ 1,
      // ≤ 4× the even split
      val avgFine = math.max(1, math.ceil(nlist.toDouble / coarseN).toInt)
      val counts = withCoarse.groupBy(col("coarse")).agg(count(lit(1)).as("cnt"))
      // divide BEFORE multiplying: cnt * nlist in Long overflows at
      // exactly the design target (cnt ~ 10^10 rows × nlist ~ 4×10^8);
      // cnt/total is double division, so the product stays a double
      val nFine = counts
        .crossJoin(counts.agg(sum(col("cnt")).as("total")))
        .select(col("coarse"),
          least(lit(4 * avgFine), greatest(lit(1),
            ceil(col("cnt") / col("total") * nlist).cast("int"))).as("n_fine"))
      // deterministic fine seeds: per coarse cell, the n_fine DISTINCT
      // vectors with the smallest vector hash (same rationale as
      // seedCentroids, but as a window — no driver collect)
      val seedW = Window.partitionBy(col("coarse"))
        .orderBy(xxhash64(col("vec")), col("vec").cast("string"))
      var fine = withCoarse.select(col("coarse"), col("vec")).distinct()
        .withColumn("rn", row_number().over(seedW))
        .join(nFine, "coarse")
        .filter(col("rn") <= col("n_fine"))
        .select(col("coarse"), (col("rn") - 1).as("fine"),
                col("vec").cast("array<double>").as("cent"))
        .localCheckpoint(true)
      // distributed Lloyd over the fine level: assign via the coarse
      // join + argmax kernel, re-center per (coarse, fine) with
      // dim-COLUMN means (no posexplode — the explode form amplified
      // the corpus-sized assign stage ×dim rows, the t226 allocation
      // storm at embedding dims), keep the old centroid for a fine
      // cell that lost all members (the refineCentroids convention)
      val fDim = coarseCents.headOption.map(_.size).getOrElse(0)
      val fAggs = (0 until fDim).map(i =>
        avg(element_at(col("vec"), i + 1).cast("double")).as(s"__m$i"))
      for (_ <- 0 until (if (fDim > 0) refineIters else 0)) {
        val means = withCoarse.join(centArr(fine), "coarse")
          .select(col("coarse"),
                  argmax_cells(col("vec"), col("cents")).as("fine"),
                  col("vec"))
          .groupBy(col("coarse"), col("fine"))
          .agg(fAggs.head, fAggs.tail: _*)
        // per-DIM keep-old (the refineCentroids convention): a null
        // per-dim mean — every member null/short at that element —
        // falls back to the old centroid's element, so a NULL can
        // never ride inside the new array; a fine cell with no
        // members at all (left-join all-null) degenerates to the
        // same thing element-wise: the old centroid
        fine = fine.join(means, Seq("coarse", "fine"), "left")
          .select(col("coarse"), col("fine"),
                  array((0 until fDim).map(i =>
                    coalesce(col(s"__m$i"),
                      element_at(col("cent"), i + 1))): _*).as("cent"))
          .localCheckpoint(true)
      }
      withCoarse.join(centArr(fine), "coarse")
        .select(col("id"), col("vec"),
          (shiftleft(col("coarse").cast("long"), 32) +
           argmax_cells(col("vec"), col("cents"))).as("cell"))
        .unionByName(nullVec)
    } finally withCoarse.unpersist()
  }

  /** SemDeDup (the Abbas et al. 2023 shape): semantic deduplication by
    * k-means clustering + within-cluster cosine thresholding — the
    * embedding-space analog of near-dup text removal, used to prune
    * semantically redundant documents before training. A document is
    * removed iff some SMALLER-id document in its cell has cosine >=
    * `threshold` with it (the greedy low-index-keeps form production
    * SemDeDup implementations use — no transitive closure, so the
    * whole operator is one pair generation + one min aggregate);
    * `keeper_id` is the smallest such neighbor. The guarantee, pinned
    * by the t47 audit: no two SURVIVORS in the same cell have cosine
    * >= threshold — in particular identical vectors (same cell by
    * construction, cosine exactly 1) always collapse to their min id.
    * In a chain a–b–c where a–c is below threshold, b's keeper is a
    * and c's keeper is b (itself removed): greedy keeps ONE doc per
    * similarity chain, and keeper chains bottom out at a survivor.
    *
    * Output: (removed_id, keeper_id, cell) — one row per REMOVED
    * document; survivors are the corpus minus removed_ids.
    * Cross-cluster near dups are deliberately missed (that is
    * SemDeDup's approximation).
    *
    * Scale shape: no all-pairs anywhere — pair generation is bounded
    * by maxBucket² per cell (cells ride the shared capped posting
    * lists; size `nlist` ∝ corpus / target-cell-size so cells stay
    * under the cap), and the only full-corpus shuffle is the cell
    * groupBy at membership cardinality. No iterative stage at all.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int = 16, refineIters: Int = 1,
               maxBucket: Int = DefaultSemDedupBucket): DataFrame =
    semDedupFromCells(semCells(corpus, idCol, vecCol, nlist, refineIters),
      threshold, maxBucket)

  /** The pair-generation + greedy-removal stage of [[semDedup]] over a
    * precomputed (id, vec, cell) frame — shared with the t47 audit so
    * the audit checks EXACTLY the cells the mapping used. The whole
    * quadratic stage runs inside ONE native kernel eval per cell row
    * (`sem_dedup_cell`): the row-level form (explode × explode ×
    * cosine filter × min groupBy) materialized two full vectors per
    * candidate pair and cost minutes on dup-heavy cells where the
    * kernel's break-at-first-keeper scan costs seconds
    * (docs/PERF_NOTES.md).
    */
  private[graft] def semDedupFromCells(cells: DataFrame, threshold: Double,
                                       maxBucket: Int): DataFrame = {
    import graft.functions.VectorFunctions.sem_dedup_cell
    val bucketMembers = Buckets.capped(
        cells.select(col("id"), col("cell")), Seq("cell"), maxBucket)
      .select(col("cell"), explode(col("ids")).as("id"))
      .join(cells.select(col("id"), col("vec")), "id")
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("m"))
    bucketMembers
      .select(col("cell"),
        explode(sem_dedup_cell(col("m"), threshold)).as("r"))
      .select(col("r").getField("removed_id").as("removed_id"),
              col("r").getField("keeper_id").as("keeper_id"),
              col("cell"))
  }

  /** Embedding-space benchmark decontamination — the semantic
    * complement of the n-gram overlap check (TextDedup.decontaminate):
    * a corpus row is contaminated iff its embedding's max cosine
    * against ANY eval-benchmark vector reaches `threshold`. Catches
    * paraphrased/reformatted eval leakage that exact n-gram overlap
    * misses.
    *
    * Scale shape: eval benchmarks are the SMALL side (10²–10⁵ rows)
    * while the corpus is the 100 TB side — so the eval matrix is
    * collected to the driver (bounded by `maxEval`, fail-fast on
    * overflow) and ships into the native `max_cell_cosine` kernel as a
    * codegen reference object. The whole operator is then ONE corpus
    * scan: no join, no shuffle, no per-eval-row expression growth. For
    * eval sets beyond the literal bound, compose `lshTopK`/`pqTopK`
    * candidate generation instead — same output contract.
    *
    * The flag derives from the 6dp-ROUNDED score (the cross-engine
    * comparison convention), so engine ulp drift can never flip it.
    * Output: (idCol, max_eval_cos, contaminated) — one row per corpus
    * row.
    */
  def decontaminateByEmbedding(corpus: DataFrame, idCol: String,
      vecCol: String, evalVecs: DataFrame, evalVecCol: String,
      threshold: Double, maxEval: Int = 100000): DataFrame = {
    val rows = evalVecs.select(col(evalVecCol).as("vec"))
      .filter(col("vec").isNotNull)
      .limit(maxEval + 1).collect()
    require(rows.nonEmpty, "decontaminateByEmbedding: empty eval set")
    require(rows.length <= maxEval,
      s"decontaminateByEmbedding: eval set exceeds maxEval=$maxEval " +
        "(driver-literal bound); use the LSH/IVF/PQ candidate paths " +
        "for large eval sets")
    val matrix: Seq[Seq[Double]] = rows.toSeq.map { r =>
      r.getSeq[Any](0).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case null => throw new IllegalArgumentException(
          "decontaminateByEmbedding: NULL element inside an eval vector")
        case x => throw new IllegalArgumentException(
          s"unsupported vector element ${x.getClass}")
      }
    }
    // a zero-norm eval vector's cosine is NaN against EVERY corpus row,
    // and NaN compares greatest in the kernel — one bad eval row would
    // flag the whole corpus contaminated; fail fast instead
    matrix.zipWithIndex.foreach { case (v, i) =>
      require(v.exists(_ != 0.0),
        s"decontaminateByEmbedding: eval vector $i has zero norm " +
          "(cosine undefined — drop or fix it before decontamination)")
    }
    corpus
      .select(col(idCol), col(vecCol).as("vec"))
      .withColumn("max_eval_cos",
        round(graft.functions.VectorFunctions.max_cell_cosine(col("vec"), matrix), 6))
      .select(col(idCol), col("max_eval_cos"),
              (col("max_eval_cos") >= threshold).as("contaminated"))
  }

  /** A pluggable neighbor-list provider for [[marginMine]]:
    * (corpus, idCol, vecCol, queries, qidCol, qvecCol, k) → a frame
    * with at least (qid, id, cosine) — the [[bruteForceTopK]] output
    * contract (rank is ignored). [[lshProvider]] and
    * [[graft.operators.Pq.pqProvider]] are the drop-in approximate
    * implementations for extreme scale.
    */
  type TopKProvider =
    (DataFrame, String, String, DataFrame, String, String, Int) => DataFrame

  /** [[lshTopK]] at fixed (bits, tables) as a [[TopKProvider]]. */
  def lshProvider(bits: Int = 12, tables: Int = 4): TopKProvider =
    (corpus, idCol, vecCol, queries, qidCol, qvecCol, k) =>
      lshTopK(corpus, idCol, vecCol, queries, qidCol, qvecCol, k,
        bits, tables)

  /** A [[TopKProvider]] that serves a PRECOMPUTED (qid, rank, id,
    * cosine) top-k frame when asked for the direction whose corpus id
    * column is `fwdIdCol`, delegating every other direction to
    * `fallback`. The audit fixtures (t85/t272) need the SAME forward
    * top-k twice — once as the nn-recall numerator, once as
    * [[marginMine]]'s forward candidate pass — and the provider call
    * is deterministic, so computing it once and serving the cached
    * frame to both consumers changes nothing but the job count.
    */
  def precomputedTopK(fwd: DataFrame, fwdIdCol: String,
                      fallback: TopKProvider): TopKProvider =
    (corpus, idCol, vecCol, queries, qidCol, qvecCol, k) =>
      if (idCol == fwdIdCol) fwd
      else fallback(corpus, idCol, vecCol, queries, qidCol, qvecCol, k)

  /** The default [[marginMine]] candidate provider. SEMANTICS NOTE —
    * this default CHANGED in round 10 from [[bruteForceTopK]] (exact)
    * to the gated approximate LSH provider: identical call sites
    * return different (gated-equivalent, recall ≥ 0.93) rows than
    * they did pre-flip. Callers needing the old exact behavior pass
    * `topK = bruteForceTopK` explicitly (the t238 audit path).
    */
  val DefaultTopK: TopKProvider = lshProvider(bits = 10, tables = 4)

  /** Margin-based pair mining (the LASER/CCMatrix bitext-mining
    * shape): for every source vector, its best target by MARGIN score
    *
    *   margin(x, y) = cos(x, y) / ((avgNNk(x) + avgNNk(y)) / 2)
    *
    * where avgNNk(v) is the mean cosine of v's k nearest neighbors on
    * the OTHER side — the normalization that suppresses hubs (vectors
    * close to everything) which raw cosine mining pairs with half the
    * corpus. Output: one row per source with its argmax-margin target,
    * cosine, margin (6dp), and `accepted` = margin ≥ threshold on the
    * rounded value.
    *
    * `topK` is the candidate/neighbor pass, PLUGGABLE because it is
    * the one potentially compute-quadratic leg. The DEFAULT is the
    * sub-quadratic [[lshProvider]] at the production params the t85
    * gate pins on a clustered corpus (bits = 10, tables = 4 —
    * neighbor recall 0.936, argmax-choice agreement 0.932 vs brute
    * force; measured 2.8× at 10× data where brute force is 10.1×):
    * calling the operator with defaults gets the plan that survives
    * 100 TB. The NNk means then come from the provider's APPROXIMATE
    * neighbor lists exactly as production LASER/CCMatrix mining does
    * (means over FAISS shortlists, not exact top-k); margins mine
    * over provider candidates only. [[bruteForceTopK]] — O(N·M·dim)
    * both directions — stays available and must be REQUESTED
    * explicitly: it is the exact audit baseline t76/t85/t238 compare
    * against, not a production path (SimilaritySpec pins that
    * `marginMine(.., topK = bruteForceTopK)` reproduces the
    * pre-default-flip output exactly).
    *
    * Scale shape: two bounded-heap top-k passes (the partial aggregate
    * caps shuffle at O(partitions·k) per side regardless of provider),
    * the per-vector NNk means reduce map-side, and the margin join
    * keys on the candidate pairs (source-count cardinality).
    */
  def marginMine(src: DataFrame, sIdCol: String, sVecCol: String,
                 tgt: DataFrame, tIdCol: String, tVecCol: String,
                 k: Int = 4, threshold: Double = 1.0,
                 topK: TopKProvider = DefaultTopK)
      : DataFrame = {
    val s = src.select(col(sIdCol).as("src_id"), col(sVecCol).as("svec"))
    val t = tgt.select(col(tIdCol).as("tgt_id"), col(tVecCol).as("tvec"))
    // forward top-k: for each source, its k nearest targets
    val fwd = topK(t, "tgt_id", "tvec", s, "src_id", "svec", k)
      .select(col("qid").as("src_id"), col("id").as("tgt_id"),
              col("cosine"))
      .localCheckpoint(true) // feeds candidates AND the source NNk mean
    val avgS = fwd.groupBy(col("src_id"))
      .agg(avg(col("cosine")).as("avg_s"))
    // backward top-k: each target's k nearest sources → its NNk mean
    val avgT = topK(s, "src_id", "svec", t, "tgt_id", "tvec", k)
      .groupBy(col("qid").as("tgt_id"))
      .agg(avg(col("cosine")).as("avg_t"))
    val scored = fwd
      .join(avgS, "src_id")
      .join(avgT, "tgt_id")
      .withColumn("margin",
        round(col("cosine") / ((col("avg_s") + col("avg_t")) / 2), 6))
    // argmax margin per source (margin desc, target-id tiebreak)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .select(col("src_id"), col("tgt_id"), col("cosine"),
              col("margin"), (col("margin") >= threshold).as("accepted"))
  }

  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, bits: Int = 16,
                     tables: Int = 4, maxBucket: Int = 500): DataFrame = {
    val ids = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // group by the vector VALUE (arrays group fine; ~hundreds of bytes
    // per key) — grouping by a 64-bit vector hash would merge colliding
    // distinct vectors into false dup pairs at billion-row scale
    val reps = ids.groupBy(col("vec")).agg(min(col("id")).as("id")).persist()
    try {
      // eager: downstream references must all hit the cache (lazy
      // persist + concurrent stages can double-compute partitions)
      reps.count()
      // stage 1: identical-vector membership pairs (rep id is the min,
      // so rep < member always; cosine of identical vectors is exactly 1).
      // The join is keyed on xxhash64(vec) — an 8-byte shuffle/sort key —
      // with an exact vec-equality re-check inside the hash bucket, so no
      // shuffle machinery ever partitions or sort-merges on the float
      // array itself; a 64-bit collision between distinct vectors is
      // filtered by the re-check instead of forging a cosine-1.0 pair
      val memberPairs = ids
        .withColumn("h", xxhash64(col("vec")))
        .join(reps.select(xxhash64(col("vec")).as("h"),
                          col("vec").as("rep_vec"), col("id").as("rep_id")),
              Seq("h"))
        .filter(col("vec") === col("rep_vec") && col("id") =!= col("rep_id"))
        .select(col("rep_id").as("id_a"), col("id").as("id_b"),
                lit(1.0).as("cosine"))
      // stage 2: LSH over distinct representatives. Bucket occupancy is
      // still capped through the shared saturating collector
      // (Buckets.capped — exact dups are already collapsed, but a large
      // NEAR-dup vector cluster still shares buckets and would go
      // quadratic in a flat self-join); vectors then rejoin at
      // MEMBERSHIP cardinality (N·tables rows — linear in the corpus)
      // and pairs are expanded, cosine-scored, and threshold-filtered
      // inside one codegen stage, so only VERIFIED pairs ever reach the
      // dedup shuffle. The old shape (id-only pairs → distinct → two
      // vector rejoins) shuffled at candidate-pair cardinality, which
      // at wide-recall params is orders of magnitude above the survivor
      // count (sf0.1: 1.28M candidates → 882 survivors).
      val sigs = (0 until tables).map(t =>
        hyperplane_sig(col("vec"), bits, seed = 42L + t))
      val b = reps.select(col("id"),
        posexplode(array(sigs: _*)).as(Seq("table", "bucket")))
      val vecs = reps.select(col("id"), col("vec"))
      val bucketMembers = Buckets.capped(b, Seq("table", "bucket"), maxBucket)
        .select(col("table"), col("bucket"), explode(col("ids")).as("id"))
        .join(vecs, "id")
        // bounded regroup: ids came from capped posting lists, so the
        // collect_list buffer never exceeds maxBucket (id, vec) structs
        .groupBy(col("table"), col("bucket"))
        .agg(collect_list(struct(col("id"), col("vec"))).as("m"))
      val repPairs = bucketMembers
        .select(explode(col("m")).as("a"), col("m"))
        .select(col("a"), explode(col("m")).as("b"))
        .filter(col("a.id") < col("b.id"))
        .withColumn("cosine", cosine_sim(col("a.vec"), col("b.vec")))
        .filter(col("cosine") >= threshold)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
        .dropDuplicates("id_a", "id_b")
      memberPairs.unionByName(repPairs)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .localCheckpoint(true)
    } finally reps.unpersist()
  }

  /** Cosine-similarity PROFILE of a paired vector frame — histogram
    * (0.1-wide bins), mean, and std of the pairwise cosine — the
    * embedding-space health readout: a healthy isotropic space puts
    * random/neighbor pairs near 0 with moderate spread; anisotropy
    * collapse (all cosines ≫ 0) and dead encoders (spread ≈ 0) show
    * up as one glance at this profile. Callers choose the pairing
    * (deterministic neighbor pairs, sampled pairs, duplicate
    * candidates…).
    *
    * Arithmetic contract: each cosine (the [[graft.functions
    * .VectorFunctions.cosine_sim]] sequential-accumulation kernel,
    * DuckDB-mirrored) rounds to a BIGINT micro value; the mean/std
    * moments are DECIMAL(38,0) sums of those integers — order-
    * independent and overflow-safe to ~10²⁶ pairs (a BIGINT Σmicro²
    * would overflow at ~9·10⁶) — with doubles only in the final
    * mean/std expressions, mirrored op-for-op.
    *
    * Scale shape: per-row kernel + one map-side-combinable bin count
    * + one 1-row moment aggregate (broadcast back). Output: one row
    * per occupied bin — (bin, n_pairs, share, mean_cos, std_cos),
    * the corpus stats repeated per row (the t162 shape).
    *
    * Bin convention: bin b covers [b/10, (b+1)/10) EXCEPT the two
    * boundary bins, which absorb the clamp — bin 9 is [0.9, 1.0]
    * INCLUSIVE (exact-duplicate pairs at cosine 1.0 land in bin 9, on
    * top of the near-dup mass) and bin −10 is [−1.0, −0.9). Callers
    * reading bin 9 as "near-dup + exact-dup" should subtract the
    * exact-dedup pair count if they need the near-dup spike alone.
    */
  def cosineProfile(pairs: DataFrame, vecACol: String,
                    vecBCol: String): DataFrame = {
    val c = graft.functions.VectorFunctions.cosine_sim(
      col(vecACol), col(vecBCol))
    val s = pairs
      .select(least(greatest(floor(c * 10).cast("long"), lit(-10L)),
        lit(9L)).as("bin"),
        round(c * 1e6, 0).cast("long").as("__micro"))
    val tot = s.agg(count(lit(1)).as("__n"),
      sum(col("__micro").cast("decimal(38,0)")).as("__sm"),
      sum((col("__micro") * col("__micro")).cast("decimal(38,0)"))
        .as("__smm"))
    s.groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_pairs"),
        round(col("n_pairs").cast("double") / col("__n"), 6).as("share"),
        round(col("__sm").cast("double") / col("__n") / 1e6, 6)
          .as("mean_cos"),
        round(sqrt((col("__smm").cast("double")
          - col("__sm").cast("double") * col("__sm") / col("__n"))
          / col("__n")) / 1e6, 6).as("std_cos"))
  }

  /** CHUNK→DOCUMENT embedding pooling — mean-pool each document's
    * chunk vectors into one document vector (the standard long-doc
    * embedding recipe: embed bounded chunks, pool for doc-level
    * retrieval/dedup; the pooled table is what SemDeDup/ANN then
    * consume at doc granularity).
    *
    * Determinism contract: chunks fold in `chunkIdCol` order
    * (sort_array on the (id, vec) struct), so the per-dimension sum
    * is the same left-associated IEEE chain on every engine and
    * every retry — an unordered float sum would be
    * partition-placement-dependent. Float elements widen to double
    * exactly; one divide by the chunk count per dimension.
    *
    * Scale shape: ONE groupBy(doc) shuffle carrying (id, vector)
    * structs; the fold is a per-row lambda over the collected
    * chunk list (bounded by chunks-per-doc — the chunking contract,
    * t33/t110), no window, no driver state.
    *
    * Output: (docCol, n_chunks, embedding ARRAY<DOUBLE>[dim]).
    */
  def poolChunkEmbeddings(chunks: DataFrame, docCol: String,
                          chunkIdCol: String, vecCol: String,
                          dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val grouped = chunks
      .filter(col(vecCol).isNotNull)
      .groupBy(col(docCol))
      .agg(sort_array(collect_list(struct(col(chunkIdCol).as("i"),
        col(vecCol).as("v")))).as("__cs"))
    grouped.select(col(docCol),
      size(col("__cs")).cast("long").as("n_chunks"),
      transform(
        aggregate(col("__cs"),
          array_repeat(lit(0.0), dim),
          (acc, s) => zip_with(acc, s.getField("v"),
            (a, b) => a + b.cast("double"))),
        x => x / size(col("__cs"))).as("embedding"))
  }

  /** LABEL SEPARATION audit of an embedding table — per label, the
    * mean pairwise dot product WITHIN the label vs AGAINST the rest
    * of the corpus, and their gap: the one-table answer to "do these
    * embeddings actually encode the label?" (a classifier-free probe
    * run before spending GPU time on one). Uses the centroid
    * identity — mean intra dot = (‖Σv‖² − Σ‖v‖²)/(n(n−1)), mean
    * inter dot = Σv·(Σv_all − Σv)/(n(N−n)) — so NOTHING pairwise is
    * ever materialized.
    *
    * Portability: components quantize to micro units
    * (round(x·10⁶) as BIGINT) BEFORE any sum, so centroids, norms,
    * and dots are exact DECIMAL(38,0)/HUGEINT integers —
    * order-independent — with one divide per output at the 6dp
    * boundary (values in original units²; micro² = 10¹² rescales
    * away).
    *
    * Scale shape: the corpus-sized stage is ONE hash aggregate — no
    * explode, no ×dim row amplification (the round-10 form exploded
    * every vector into dim rows of DECIMAL accumulators before the
    * map-side combine; at dim=768 that is a 768× allocation storm on
    * the biggest stage). Per label the aggregate carries O(dim)
    * state: the row count, Σ‖v‖², and the dim per-component sums —
    * all map-side-combining, so only |labels|·dim values ever
    * shuffle. Everything after is label-cardinality arithmetic on
    * assembled sum-vectors. Single-member labels yield NULL intra.
    *
    * Output: (label, n, intra_dot, inter_dot, separation) — 6dp.
    */
  def labelSeparation(df: DataFrame, labelCol: String, vecCol: String,
                      dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val dec = "decimal(38,0)"
    val q = df.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        transform(col(vecCol),
          x => round(x.cast("double") * 1000000.0).cast("long")).as("__q"))
    // one corpus pass: n, Σ‖v‖² and the dim component sums per label
    val aggs: Seq[Column] =
      sum(aggregate(col("__q"), lit(0L).cast(dec),
          (a, x) => a + x.cast(dec) * x)).as("__sqs") +:
      (0 until dim).map(i =>
        sum(element_at(col("__q"), i + 1).cast(dec)).as(s"__s$i"))
    val sums = q.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("label"), col("n"), col("__sqs"),
        array((0 until dim).map(i => col(s"__s$i")): _*).as("__sv"))
    // label-cardinality from here on: global totals then centroid dots
    val totAggs: Seq[Column] = sum(col("n")).as("__nall") +:
      (0 until dim).map(i =>
        sum(element_at(col("__sv"), i + 1)).as(s"__t$i"))
    val tot = sums.agg(totAggs.head, totAggs.tail: _*)
      .select(col("__nall"),
        array((0 until dim).map(i => col(s"__t$i")): _*).as("__tv"))
    val micro2 = 1e12
    sums.crossJoin(broadcast(tot))
      .select(col("label"), col("n"), col("__sqs"), col("__nall"),
        aggregate(col("__sv"), lit(0L).cast(dec),
          (a, s) => a + s * s).as("__ss"),
        aggregate(zip_with(col("__sv"), col("__tv"),
            (s, t) => s * (t - s)), lit(0L).cast(dec),
          (a, x) => a + x).as("__sx"))
      .select(col("label"), col("n"),
        when(col("n") > 1,
          round((col("__ss") - col("__sqs")).cast("double") /
            (col("n").cast("double") * (col("n") - 1)) / micro2, 6))
          .as("intra_dot"),
        when(col("__nall") > col("n"),
          round(col("__sx").cast("double") /
            (col("n").cast("double") * (col("__nall") - col("n"))) /
            micro2, 6)).as("inter_dot"))
      .withColumn("separation",
        when(col("intra_dot").isNotNull && col("inter_dot").isNotNull,
          round(col("intra_dot") - col("inter_dot"), 6)))
  }
}
