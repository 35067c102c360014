package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term statistics — TF-IDF (the classic relevance /
  * keyword-extraction weighting) built from two aggregations:
  * term frequency per (doc, term) and document frequency per term.
  *
  * Scale shape: tokenize → groupBy(doc, term) [shuffle 1, partial
  * map-side combine] → groupBy(term) for df [shuffle 2, |vocab| rows]
  * → tf ⋈ df on term → per-doc top-k window (doc_id is
  * high-cardinality, so the window partitions spread — no funnel).
  * The tf ⋈ df strategy is deliberately left to Catalyst/AQE: on a
  * small vocabulary it broadcasts (the committed sf0.01 plan does),
  * while a web-scale vocabulary exceeds the broadcast threshold and
  * falls back to the key-partitioned hash join — neither case needs a
  * hint. The corpus size N rides along as a broadcast single-row
  * frame, never a driver-side collect.
  */
object CorpusStats {

  /** Top-`k` TF-IDF terms per document. Tokenization is lowercase
    * whitespace split (the corpus contract shared with TextDedup);
    * tfidf = tf · ln(N / df), rounded to 6dp BEFORE ranking so the
    * (tfidf desc, term asc) order — and therefore the top-k cut — is
    * identical in any engine recomputing it.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc_id"),
              explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
  }

  /** Per-document fluency scoring under a corpus-trained bigram
    * language model — the CCNet-style "perplexity filter" shape:
    * train counts on the corpus itself, score every document by its
    * average negative log-likelihood, and let the caller threshold the
    * tail (gibberish and boilerplate score high, typical prose low).
    * Probabilities are add-k smoothed: P(w2|w1) = (c(w1,w2) + k) /
    * (c(w1,·) + k·V) with V the distinct-token vocabulary size.
    *
    * Output: (doc_id, n_bigrams, avg_nll) for every document with ≥ 2
    * tokens — avg_nll = −Σ log P / n over the document's bigrams,
    * rounded to 6dp (the per-term doubles are bit-identical across
    * engines; only the Σ order varies, at ~1e-15 relative error
    * against a 1e-6 rounding grid).
    *
    * Scale shape: bigram instances never ride a join — documents
    * reduce to (doc, bigram, n) first [shuffle 1, map-side combine],
    * the model is two aggregations of that [|bigram vocab| and
    * |vocab| rows], and scoring re-joins on the bigram key [key-
    * partitioned; Catalyst broadcasts when the model is small]. V
    * rides along as a broadcast single-row frame, like tfIdf's N. The
    * same counts table serves any number of scoring passes.
    */
  /** Shared front-end of the bigram-LM operators: tokenized docs
    * (≥ 2 tokens, extra tag columns riding along) and the
    * per-(doc[, tags], bigram) instance counts. Bigrams are "w1 w2"
    * strings (zip of the n−1 prefix with the n−1 suffix): a flat join
    * key — no struct comparators on the shuffle.
    */
  private def bigramPerDoc(docs: DataFrame, idCol: String,
      textCol: String, extra: Seq[(String, Column)] = Nil)
      : (DataFrame, DataFrame) = {
    val toks = filter(TextDedup.tokens(col(textCol)), x => length(x) > 0)
    val n = size(col("t"))
    val tokenized = docs
      .select((col(idCol).as("doc_id") +:
        extra.map { case (nm, c) => c.as(nm) }) :+ toks.as("t"): _*)
      .filter(size(col("t")) >= 2)
    val keyCols = col("doc_id") +: extra.map { case (nm, _) => col(nm) }
    val bg = tokenized.select(keyCols :+
      explode(zip_with(slice(col("t"), lit(1), n - 1),
                       slice(col("t"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).as("b"): _*)
    val perDoc = bg.groupBy(keyCols :+ col("b"): _*)
      .agg(count(lit(1)).as("n"))
    (tokenized, perDoc)
  }

  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"addK must be positive, got $addK")
    val (tokenized, perDoc) = bigramPerDoc(docs, idCol, textCol)
    val cnt = perDoc.groupBy(col("b")).agg(sum(col("n")).as("c"))
    val ctx = cnt.groupBy(substring_index(col("b"), " ", 1).as("w1"))
      .agg(sum(col("c")).as("cc"))
    val vocab = tokenized.select(explode(col("t")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    perDoc.join(cnt, "b")
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
           round(-sum(col("n") *
               log((col("c") + addK) / (col("cc") + lit(addK) * col("v")))) /
             sum(col("n")), 6).as("avg_nll"))
  }

  /** CCNet-style perplexity-band selection — the SELECTION step the
    * LM score exists for: score every document with the corpus-trained
    * bigram model ([[bigramLmScore]]), cut the score distribution at
    * the `cuts` exact percentiles, and label each document head /
    * middle / tail (most → least fluent) with a keep flag at
    * head+middle (the CCNet default: drop the worst-perplexity tail,
    * keep the rest).
    *
    * Scale shape: band assignment is threshold COMPARISON against two
    * exact-percentile aggregates riding a broadcast single-row frame —
    * never an ntile/global-rank window over the corpus (the
    * quantile-by-sorting form funnels every row through one ordering;
    * thresholds keep the pass per-row). The scored frame is consumed
    * twice (thresholds + labeling), so it materializes eagerly once.
    *
    * Output: (doc_id, n_bigrams, avg_nll, band, keep) for every
    * document with ≥ 2 tokens.
    */
  def perplexityBands(docs: DataFrame, idCol: String, textCol: String,
                      addK: Double = 0.5,
                      cuts: (Double, Double) = (1.0 / 3, 2.0 / 3))
      : DataFrame = {
    require(cuts._1 > 0 && cuts._1 < cuts._2 && cuts._2 < 1,
      s"cuts must satisfy 0 < lo < hi < 1, got $cuts")
    val scored = bigramLmScore(docs, idCol, textCol, addK)
      .localCheckpoint(true)
    // ONE percentile aggregate for both cuts (a single distinct-score
    // buffer + sort, not two), thresholds rounded to 6dp — the corpus
    // convention — because exact-percentile implementations differ by
    // an ulp at tied-value knots (Spark's equal-key shortcut returns
    // the tied value exactly; an unconditional interpolation like
    // DuckDB's lands one ulp off), and band labels compare exactly
    val thr = scored.agg(
        percentile(col("avg_nll"),
          array(lit(cuts._1), lit(cuts._2))).as("__p"))
      .select(round(col("__p").getItem(0), 6).as("__p_lo"),
              round(col("__p").getItem(1), 6).as("__p_hi"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
        when(col("avg_nll") <= col("__p_lo"), "head")
          .when(col("avg_nll") <= col("__p_hi"), "middle")
          .otherwise("tail").as("band"),
        (col("avg_nll") <= col("__p_hi")).as("keep"))
  }

  /** MIN-K% PROB membership/contamination probe (the Shi et al. 2023
    * "Detecting Pretraining Data" statistic, on the corpus bigram LM):
    * per document, the mean negative log-likelihood of its k% MOST
    * SURPRISING bigram instances — memorized or duplicated text keeps
    * even its worst tokens unsurprising, so a LOW mink score on a
    * supposedly-fresh document is the membership red flag the plain
    * average (t36) smooths away.
    *
    * Exactness: per-instance NLLs micro-round to BIGINTs (one
    * identical IEEE log chain per bigram — the t163 integer micro-log
    * contract), the top-k% selection is the interval-overlap clip
    * over per-doc DISTINCT micro values (partial tie blocks exact),
    * k_terms = ⌈pct·n/100⌉ in pure integer arithmetic, and the mean
    * is one double-divide chain of the exact DECIMAL(38,0) sum.
    *
    * Scale shape: the t36 model reductions (bigram counts, contexts,
    * vocab — shuffles carry bigram keys, never documents), then a
    * per-DOC cumulative window (high-cardinality key — spreads; cells
    * per doc = its distinct NLL values). No corpus-wide window.
    *
    * Output: (doc_id, n_bigrams, k_terms, mink_avg_nll 6dp), docs
    * with ≥ 2 tokens.
    */
  def minKProb(docs: DataFrame, idCol: String, textCol: String,
               addK: Double = 0.5, pct: Int = 20): DataFrame = {
    require(addK > 0, s"addK must be positive, got $addK")
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100], got $pct")
    import org.apache.spark.sql.expressions.Window
    val (tokenized, perDoc) = bigramPerDoc(docs, idCol, textCol)
    val cnt = perDoc.groupBy(col("b")).agg(sum(col("n")).as("c"))
    val ctx = cnt.groupBy(substring_index(col("b"), " ", 1).as("w1"))
      .agg(sum(col("c")).as("cc"))
    val vocab = tokenized.select(explode(col("t")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val cells = perDoc.join(cnt, "b")
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("n"),
        round(lit(-1000000.0) *
          log((col("c") + addK) / (col("cc") + lit(addK) * col("v"))))
          .cast("long").as("__v"))
      .groupBy(col("doc_id"), col("__v"))
      .agg(sum(col("n")).as("__c"))
    val whole = Window.partitionBy(col("doc_id"))
    val desc = whole.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__n", sum(col("__c")).over(whole))
      .withColumn("__cum", sum(col("__c")).over(desc))
      .withColumn("__m", expr(s"(__n * $pct + 99) div 100"))
      .withColumn("__w",
        greatest(least(col("__cum"), col("__m")) -
          (col("__cum") - col("__c")), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(max(col("__n")).as("n_bigrams"), max(col("__m")).as("k_terms"),
        sum(col("__w").cast("decimal(38,0)") * col("__v")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"), col("k_terms"),
        round(col("__s").cast("double") / col("k_terms") / 1e6, 6)
          .as("mink_avg_nll"))
  }

  /** Moore–Lewis cross-entropy difference selection (Moore & Lewis
    * 2010) — the classic domain-targeted data-selection step: train
    * one bigram LM on an IN-DOMAIN slice of the corpus and one on the
    * whole corpus, score every document under both, and keep the
    * documents whose cross-entropy difference
    * `ced = H_in(d) − H_gen(d)` is ≤ 0 (they look more like the
    * target domain than like average corpus text). Both models use
    * the t36 smoothing: P(w2|w1) = (c + k) / (c(w1·) + k·V); bigrams
    * or contexts unseen by the in-domain model fall back to the
    * smoothed floor via count 0 (never a NULL or a crash).
    *
    * Output: (doc_id, n_bigrams, nll_in, nll_gen, ced, keep) for
    * every document with ≥ 2 tokens — both NLLs rounded to 6dp, ced
    * recomputed from the ROUNDED scores and rounded again so every
    * engine replaying the arithmetic lands on the same grid, keep =
    * ced ≤ 0. A NULL `inDomain` verdict counts as out-of-domain.
    *
    * Scale shape: THREE corpus-sized passes total. The corpus reduces
    * ONCE to per-(doc, bigram) instance counts [one shuffle, map-side
    * combine; materialized eagerly]; ONE aggregation of that frame
    * builds BOTH models as a single combined count table (c_all
    * unconditional, c_in summed under the in-domain flag — unseen
    * in-domain keys are 0-filled here, so scoring needs no outer
    * joins); contexts and both vocabularies derive from the combined
    * table, which is |bigram vocab|-sized, never corpus-sized (every
    * token of a ≥2-token doc rides in some bigram — no second corpus
    * pass). ONE scoring pass computes BOTH NLLs: inner joins on the
    * flat bigram/context keys [key-partitioned; Catalyst broadcasts
    * while the models are small], both Vs riding one broadcast
    * single-row frame, one per-doc aggregate emitting both sums.
    */
  def crossEntropySelect(docs: DataFrame, idCol: String, textCol: String,
                         inDomain: Column, addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"addK must be positive, got $addK")
    val perDoc = bigramPerDoc(docs, idCol, textCol,
        extra = Seq("__in" -> inDomain))._2
      .localCheckpoint(true)
    // both models in one combined table: a NULL __in verdict is
    // excluded from c_in by `when` (out-of-domain), and keys the
    // in-domain slice never saw carry c_in = 0 — the smoothed floor
    // (k / k·V) then falls out of the one scoring formula
    val cnt = perDoc.groupBy(col("b")).agg(
        sum(col("n")).as("c_all"),
        coalesce(sum(when(col("__in"), col("n"))), lit(0L)).as("c_in"))
      .localCheckpoint(true)
    val ctx = cnt.groupBy(substring_index(col("b"), " ", 1).as("w1"))
      .agg(sum(col("c_all")).as("cc_all"), sum(col("c_in")).as("cc_in"))
    val vocab = cnt
      .select(explode(split(col("b"), " ")).as("tok"), col("c_in"))
      .agg(count_distinct(col("tok")).as("v_all"),
           count_distinct(when(col("c_in") > 0, col("tok"))).as("v_in"))
      // a predicate matching zero scoreable documents gives V_in = 0,
      // so every in-domain probability is (0+k)/(0+k·0) = Inf and the
      // WHOLE corpus comes back ced = −Inf, keep = true — the opposite
      // of a selection; fail loudly instead
      .withColumn("v_in",
        when(col("v_in") > 0, col("v_in")).otherwise(raise_error(lit(
          "crossEntropySelect: inDomain matches no document with >= 2 tokens"))))
    perDoc
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .join(cnt, Seq("b"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_bigrams"),
        round(-sum(col("n") *
            log((col("c_in") + addK) /
                (col("cc_in") + lit(addK) * col("v_in")))) /
          sum(col("n")), 6).as("nll_in"),
        round(-sum(col("n") *
            log((col("c_all") + addK) /
                (col("cc_all") + lit(addK) * col("v_all")))) /
          sum(col("n")), 6).as("nll_gen"))
      .withColumn("ced", round(col("nll_in") - col("nll_gen"), 6))
      .withColumn("keep", col("ced") <= 0.0)
  }

  /** Corpus vocabulary statistics — the profiling step that precedes
    * tokenizer training: the `topK` most frequent tokens with
    * occurrence counts, document frequencies, and the CUMULATIVE
    * corpus coverage of the rank prefix (the "how many merges until
    * X% of tokens are covered" curve tokenizer builders read).
    * Ordering is (count desc, token asc) so the cut and the coverage
    * curve are identical in any engine.
    *
    * Output: (rank, token, n_occurrences, n_docs, cum_coverage) —
    * cum_coverage = cumulative occurrences of ranks 1..r over TOTAL
    * corpus occurrences (all tokens, not just the top-K), 6dp.
    *
    * Scale shape: token counts reduce map-side [shuffle 1]; document
    * frequencies reduce the per-doc-DISTINCT posting the same way
    * [shuffle 2]; the top-K cut is a distributed TakeOrdered (never a
    * global sort of the vocabulary), and the cumulative window runs
    * over the K cut rows only — the one global-window funnel is K
    * rows wide by construction. Total occurrences ride along as a
    * broadcast single-row frame (the tfIdf N convention).
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
                 topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // the shared corpus tokenization (TextDedup.tokens), empties dropped
    val toks = filter(TextDedup.tokens(col(textCol)), x => length(x) > 0)
    val posting = docs.select(col(idCol).as("doc_id"),
      explode(toks).as("token"))
    val counts = posting.groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    val docFreq = posting.dropDuplicates("doc_id", "token")
      .groupBy(col("token")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_occurrences")).as("__total"))
    val top = counts
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(topK)
    val w = Window.orderBy(col("n_occurrences").desc, col("token").asc)
    top.join(docFreq, "token")
      .crossJoin(broadcast(total))
      .select(
        row_number().over(w).as("rank"),
        col("token"), col("n_occurrences"), col("n_docs"),
        round(sum(col("n_occurrences")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / col("__total"), 6).as("cum_coverage"))
  }

  /** Bounded-memory frequent-token summary (Misra–Gries, merged as a
    * native partial aggregate — see functions.MisraGriesTokens for the
    * contract and why the shuffle is O(partitions × capacity) instead
    * of the exact groupBy's every-distinct-token). Output: one row per
    * summary entry, estimate-descending rank. The estimates are
    * partition-layout-dependent (any MG merge order is), so this is a
    * gate-checked sketch, not an oracle-matched exact answer —
    * [[vocabulary]] is the exact path when a full shuffle is
    * affordable.
    */
  def heavyHitters(docs: DataFrame, textCol: String,
                   capacity: Int): DataFrame = {
    val toks = filter(TextDedup.tokens(col(textCol)), x => length(x) > 0)
    docs.select(toks.as("t"))
      .agg(graft.functions.HeavyHitterFunctions
        .misra_gries(col("t"), capacity).as("hh"))
      .select(posexplode(col("hh")).as(Seq("pos", "e")))
      .select((col("pos") + 1).as("rank"),
              col("e").getField("token").as("token"),
              col("e").getField("est").as("est"))
  }

  /** Per-group score CALIBRATION by quantile normalization: replace
    * each row's raw score with its percent rank WITHIN its group —
    * the step that makes quality scores comparable across
    * heterogeneous sources before a global keep-threshold is applied
    * (a raw cutoff trained on one source's score distribution
    * systematically over- or under-selects every other source; the
    * within-source percentile is distribution-free). Ties share a
    * rank (percent_rank semantics), so equal scores calibrate
    * equally and the output needs no tiebreak to be deterministic.
    *
    * Scale shape (the [[Ids.denseIds]] pattern, per-group): a naive
    * `percent_rank() OVER (PARTITION BY source ORDER BY score)` puts
    * each source's ENTIRE data in one window task — with a handful of
    * sources that is a per-source single-task sort (executor OOM at
    * corpus scale). Instead: range-repartition on (group…, score) so
    * each group spans a contiguous RUN of partitions and every
    * partition sorts in parallel; rank within (partition, group); and
    * recover the global within-group rank by adding the count of
    * same-group rows in earlier partitions. Ties are safe to rank
    * locally because Spark's RangePartitioner maps EQUAL keys to the
    * SAME partition — a tie group never splits, so local `rank()` +
    * offset reproduces global rank() (hence percent_rank) exactly.
    *
    * The offset/denominator table is metadata-sized — at most
    * (partitions + groups − 1) rows, because contiguous group runs
    * overlap partition boundaries at most once each — and is
    * broadcast back; no driver-side state at all (contrast
    * [[Ids.denseIds]]'s one-long-per-partition collect: here the
    * prefix sums stay in a broadcast frame so group cardinality is
    * unbounded). The partitioned frame pins once (localCheckpoint)
    * so the count pass and the rank pass read the same boundaries.
    * Output adds `pct` (6dp, in [0, 1]) to each row; a single-row
    * group calibrates to 0 (percent_rank's n=1 convention).
    */
  def calibrateScores(df: DataFrame, groupCols: Seq[String],
                      scoreCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val gcols = groupCols.map(col)
    val keys = gcols :+ col(scoreCol)
    val inCols = df.columns.toSeq
    val parted = df.filter(col(scoreCol).isNotNull)
      .repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    // one row per (partition, group) segment — metadata-sized
    val perSeg = parted.groupBy((col("__pid") +: gcols): _*)
      .agg(count(lit(1)).as("__c"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("__pid"))
    val offsets = perSeg
      .withColumn("__off", coalesce(sum(col("__c")).over(
        wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(
        wg.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)))
      .drop("__c")
    // every window partition here is one (data-partition, group)
    // segment — parallel sorts, never a whole-group funnel
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy((col("__pid") +: gcols): _*).orderBy(col(scoreCol))
    parted
      .withColumn("__lr", rank().over(wl))
      .join(broadcast(offsets), "__pid" +: groupCols)
      .withColumn("pct",
        round(when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__off") + col("__lr") - 1L).cast("double") /
            (col("__n") - 1L).cast("double")), 6))
      .select((inCols :+ "pct").map(col): _*)
  }

  /** The selection step [[calibrateScores]] exists for: apply ONE
    * global threshold to the per-group calibrated score. Because the
    * calibrated score is the within-group percentile, a single
    * threshold keeps ≈ the same fraction of every group — the
    * fairness property a raw-score cutoff lacks (a threshold trained
    * on one source's score distribution over-selects easy sources and
    * starves hard ones). Adds `keep` = pct ≥ threshold to each row;
    * same scale shape as [[calibrateScores]] (one per-row comparison
    * on top). Pair with [[calibratedKeepAudit]] to SEE the fairness:
    * per-group kept counts and fractions.
    */
  def calibratedKeep(df: DataFrame, groupCols: Seq[String],
                     scoreCol: String, threshold: Double): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    calibrateScores(df, groupCols, scoreCol)
      .withColumn("keep", col("pct") >= threshold)
  }

  /** Per-group audit of a [[calibratedKeep]] decision: n rows, n kept,
    * kept fraction, and the minimum RAW score that survived — the
    * quantities a dataset card reports to show the global threshold
    * selected fairly across groups. One map-side-combinable aggregate
    * over the keep frame; output is |groups| rows.
    */
  def calibratedKeepAudit(kept: DataFrame, groupCols: Seq[String],
                          scoreCol: String): DataFrame =
    kept.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("keep_frac"),
        min(when(col("keep"), col(scoreCol))).as("min_kept_score"))

  /** Full QUANTILE NORMALIZATION across groups — the batch-effect
    * correction: each row's score is replaced by the GLOBAL score
    * distribution's value at the row's within-group percentile, so
    * every group's marginal distribution becomes the corpus marginal
    * (where [[calibrateScores]] maps to uniform [0,1], this maps back
    * onto the shared scale — downstream thresholds and models see one
    * distribution, not |groups| shifted copies).
    *
    * Scale shape: [[calibrateScores]]'s bounded calibration (never a
    * per-group window task) + ONE global quantile-grid aggregate
    * (gridSize+1 doubles, broadcast) + a per-row linear interpolation
    * between grid points. The exact `percentile` grid is the
    * oracle-checkable form; at corpus scale swap `percentile` for
    * `percentile_approx` — grid values move within sketch tolerance,
    * which bends the target marginal slightly but identically for
    * every group (the cross-group equalization property is untouched).
    * Output adds `pct` and `normalized` (6dp) to each row.
    */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String],
                        scoreCol: String, gridSize: Int = 100): DataFrame = {
    require(gridSize >= 2, s"gridSize must be >= 2, got $gridSize")
    val cal = calibrateScores(df, groupCols, scoreCol)
    val ps = (0 to gridSize).map(_.toDouble / gridSize)
    val grid = df.filter(col(scoreCol).isNotNull)
      .agg(percentile(col(scoreCol), array(ps.map(lit): _*)).as("__grid"))
    val scaled = col("pct") * gridSize
    val idx = floor(scaled).cast("int")
    val frac = scaled - floor(scaled)
    cal.crossJoin(broadcast(grid))
      .withColumn("normalized", round(
        element_at(col("__grid"), idx + 1) * (lit(1.0) - frac) +
          element_at(col("__grid"),
            least(idx + 2, lit(gridSize + 1))) * frac, 6))
      .drop("__grid")
  }

  /** Jensen–Shannon DISTINCTIVENESS of each group's unigram
    * distribution vs the whole corpus — the mixing-dashboard readout
    * for "how different is this source's language, really" (JSD is
    * the symmetric, bounded [0, ln 2] divergence the domain-mixture
    * literature reports; 0 = indistinguishable from the corpus
    * average, ln 2 = disjoint vocabulary).
    *
    * The absent-token mass is handled in closed form instead of a
    * per-(group × vocab) dense expansion: for tokens a group never
    * uses, m = q/2 so the integrand collapses to q·ln 2 — hence
    * JSD = Σ_{t∈group} [p·ln(p/m) + q·ln(q/m)]/2 + (ln 2/2)·(1 − Q_cov)
    * where Q_cov is the corpus mass of the group's own vocabulary.
    * Only (group, token-present) rows ever exist: the corpus-sized
    * stage is the map-side-combinable groupBy(group, token); the join
    * against per-token corpus counts is vocab-sized; group totals and
    * the corpus total ride broadcast frames. Counts stay exact longs;
    * each per-token integrand and its corpus-mass share round to
    * BIGINT micro units BEFORE the vocab-sized sum (the t167/t204
    * contract — an unordered float sum over vocab rows is partition-
    * placement-dependent and could flake the 6dp boundary), and ln 2
    * is a shared literal so both engines compare identically.
    */
  def jsdDistinctiveness(docs: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val Ln2 = 0.6931471805599453
    val toks = filter(TextDedup.tokens(col(textCol)), x => length(x) > 0)
    val posting = docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), explode(toks).as("token"))
    val sCounts = posting.groupBy(col("g"), col("token"))
      .agg(count(lit(1)).as("cs"))
    val tCounts = sCounts.groupBy(col("token")).agg(sum(col("cs")).as("ct"))
    val nS = sCounts.groupBy(col("g")).agg(sum(col("cs")).as("ns"))
    val nTot = tCounts.agg(sum(col("ct")).as("__n"))
    val p = col("cs").cast("double") / col("ns").cast("double")
    val q = col("ct").cast("double") / col("__n").cast("double")
    val m = (p + q) / 2
    sCounts
      .join(tCounts, "token")
      .join(broadcast(nS), "g")
      .crossJoin(broadcast(nTot))
      .withColumn("__tm",
        round(((p * log(p / m) + q * log(q / m)) / 2) * 1e6, 0)
          .cast("long"))
      .withColumn("__qm", round(q * 1e6, 0).cast("long"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        (sum(col("__tm")).cast("double") / 1e6 +
          lit(Ln2 / 2) * (lit(1.0) -
            sum(col("__qm")).cast("double") / 1e6)).as("__jsd"))
      .select(col(groupCol), col("n_tokens"), col("n_vocab"),
        round(col("__jsd"), 6).as("jsd"),
        round(col("__jsd") / Ln2, 6).as("jsd_norm"))
  }

  /** CHAPMAN capture–recapture population estimate per group — "how
    * many documents exist in the wild, given two overlapping crawl
    * snapshots?": N̂ = (n_A+1)(n_B+1)/(m+1) − 1 from the two capture
    * counts and their overlap (the bias-corrected Lincoln–Petersen
    * form, finite for m = 0). The coverage readout a crawl pipeline
    * wants when deciding whether another crawl round is worth it —
    * if N̂ ≈ |A ∪ B| the frontier is exhausted.
    *
    * Membership columns are caller-supplied booleans (two crawl
    * manifests, two time slices); the estimate assumes independent
    * captures — correlated crawls bias N̂ low, which is the
    * conservative direction for "should we crawl more".
    *
    * Arithmetic: ONE map-side combinable collapse to (n_a, n_b, m)
    * exact BIGINTs; the estimate is one IEEE divide. Output:
    * (groups…, n_a, n_b, n_overlap, n_hat 6dp).
    */
  def chapmanEstimate(df: DataFrame, groupCols: Seq[String],
                      inA: Column, inB: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    df.filter(inA.isNotNull && inB.isNotNull)
      .groupBy(g: _*)
      .agg(sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(inB, 1L).otherwise(0L)).as("n_b"),
        sum(when(inA && inB, 1L).otherwise(0L)).as("n_overlap"))
      .select(g :+ col("n_a") :+ col("n_b") :+ col("n_overlap") :+
        round(((col("n_a") + 1) * (col("n_b") + 1)).cast("double") /
          (col("n_overlap") + 1) - 1.0, 6).as("n_hat"): _*)
  }

  /** CHAO1 species-richness estimate per group — "how many DISTINCT
    * n-grams does this source really have, beyond the ones we've
    * seen?": Chao1 = D + f₁(f₁−1)/(2(f₂+1)) from the
    * frequency-of-frequencies (bias-corrected form, finite at
    * f₂ = 0). The unseen-TYPES companion to Good–Turing's
    * unseen-MASS (t173): GT says how much probability the unseen
    * vocabulary holds; Chao1 says how many entries it has — the pair
    * a corpus-growth decision actually needs.
    *
    * Scale shape: grams collapse to 48-bit engine-portable digests
    * through TWO map-side-combinable stages — (group, digest) counts,
    * then the 3-number frequency profile — so shuffles carry 8-byte
    * digests and the estimate is one closed form. Output:
    * (groups…, d_observed, f1, f2, chao1 6dp).
    */
  def chao1Richness(docs: DataFrame, textCol: String,
                    groupCols: Seq[String], n: Int = 2): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(n >= 1, s"n must be >= 1, got $n")
    val g = groupCols.map(col)
    // shingle explode + per-gram digest is the heavy map work — spread
    // an unsplittable-small scan across the cores first (identity at
    // scale)
    val grams = graft.util.Spread.ifTinyScanTo(
        docs.filter(col(textCol).isNotNull), 8)
      .select(g :+ explode(TextDedup.shingles(col(textCol), n))
        .as("__g"): _*)
      .select(g :+ graft.ops.SnapshotDiff.portableDigest(Seq(col("__g")))
        .as("__h"): _*)
    grams.groupBy(g :+ col("__h"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("d_observed"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(g :+ col("d_observed") :+ col("f1") :+ col("f2") :+
        round(col("d_observed") +
          (col("f1") * (col("f1") - 1)).cast("double") /
          (lit(2.0) * (col("f2") + 1)), 6).as("chao1"): _*)
  }

  /** TOKENIZER FERTILITY per group — tokens-per-word and
    * chars-per-token, the standard "does this tokenizer serve this
    * language/source fairly" readout (Ács 2019; fertility ≫ 1 on a
    * language means its documents cost proportionally more context
    * window and compute per word — the number a multilingual mixing
    * budget must correct for). Words = whitespace tokens; tokens =
    * the BPE-ish segmenter ([[graft.functions.TextFunctions
    * .bpeish_token_count]] — letter runs / digit runs / single
    * punctuation), the engine's shared token-counting kernel.
    *
    * Arithmetic: ONE map-side-combinable reduction per group of four
    * exact BIGINT sums; the two ratios are one divide each at the 6dp
    * boundary. Zero-word groups yield NULL ratios. Scale shape: pure
    * scan rate — per-row codegen'd counting kernels, no joins, no
    * windows, output |groups| rows.
    *
    * Output: (groups…, n_docs, n_words, n_bpe_tokens, n_chars,
    * fertility 6dp, chars_per_token 6dp).
    */
  def tokenizerFertility(docs: DataFrame, textCol: String,
                         groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val words = size(filter(TextDedup.tokens(col(textCol)),
      x => length(x) > 0))
    docs.filter(col(textCol).isNotNull)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(words.cast("long")).as("n_words"),
        sum(graft.functions.TextFunctions.bpeish_token_count(
          col(textCol)).cast("long")).as("n_bpe_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))
      .select(g ++ Seq(col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        when(col("n_words") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6))
          .as("fertility"),
        when(col("n_bpe_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
          .as("chars_per_token")): _*)
  }

  /** SOURCE-OVERLAP matrix — pairwise n-gram-vocabulary Jaccard
    * between sources: the "which sources are redundant" readout a
    * mixing dashboard needs before assigning quotas (two crawls of
    * the same sites deserve one budget, not two) and the provenance
    * screen for laundered copies (a source whose vocabulary is a
    * near-subset of another's — high overlap coefficient, moderate
    * Jaccard — is the classic re-host). Set-level, so it catches
    * redundancy exact-text dedup can't see (re-wrapped/re-segmented
    * copies share vocabulary, not byte-identical documents).
    *
    * Scale shape: grams collapse to the 48-bit engine-portable digest
    * through ONE map-side-combinable (source, digest) distinct — the
    * only corpus-sized stage, shuffling 8-byte keys; the intersection
    * self-join keys on those digests with per-digest fan-out bounded
    * by |sources|² — sources are a bounded metadata dimension
    * (thousands at most; the same boundedness argument as the
    * χ²-contingency ops), so the pair stage is vocab × |sources|²
    * worst-case, never corpus². Digest collisions merge distinct
    * grams (the documented Chao1/48-bit trade); both engines share
    * the digest, so comparisons stay exact.
    *
    * Output: one row per unordered source pair that SHARES at least
    * one gram — (source_a < source_b, n_a, n_b, n_shared,
    * jaccard 6dp, overlap_coef 6dp = shared/min(n_a, n_b)).
    */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String,
                          sourceCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // per-doc distinct digests from ONE native kernel pass (the
    // md5_shingles contract == explode(shingles)→portableDigest, so
    // the oracle replays unchanged); explode carries 8-byte longs
    // only — no gram strings, no per-gram md5 expression trees
    val grams = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("__src"),
        explode(graft.functions.TextFunctions
          .md5_shingles(col(textCol), n)).as("__h"))
      .distinct()
      .localCheckpoint(true) // feeds per-source counts AND the pair join
    val cnt = grams.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        col("a.__h") === col("b.__h") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("source_a"), col("b.__src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(cnt.select(col("__src").as("source_a"),
        col("__n").as("n_a"))), "source_a")
      .join(broadcast(cnt.select(col("__src").as("source_b"),
        col("__n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("overlap_coef"))
  }

  /** Per-source DATACARD — the one-table corpus profile a dataset
    * release ships: volume (docs, chars, whitespace tokens), language
    * share, exact-duplicate fraction, and winnowing fingerprint
    * density (repetitive boilerplate reads low, high-entropy churn
    * high — see [[TextDedup.winnowingFingerprints]]). Every column is
    * an exact integer ratio or integer-sum divide, so the card is
    * hash-exact against a plain SQL replay — no estimates in a
    * release artifact.
    *
    * Scale shape: ONE groupBy(source) over the corpus for the base
    * aggregates (the dedup leg counts DISTINCT md5 digests — bodies
    * never shuffle; distinct-by-digest = distinct-by-text modulo
    * 128-bit collisions, the established convention) plus the in-row
    * winnowing projection reduced to the same |sources| rows.
    *
    * Output: (source, n_docs, total_chars, total_tokens,
    * mean_doc_tokens, pct_en, exact_dup_frac, winnow_density) — 6dp.
    */
  def datacard(docs: DataFrame, textCol: String, idCol: String,
               sourceCol: String, langCol: String,
               winnowK: Int = 8, winnowW: Int = 4): DataFrame = {
    val d = docs.filter(col(textCol).isNotNull)
    val toks = size(TextDedup.tokens(col(textCol)))
    val base = d.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).cast("long").as("total_chars"),
        sum(toks.cast("long")).cast("long").as("total_tokens"),
        sum(when(col(langCol) === "en", 1L).otherwise(0L)).as("__en"),
        countDistinct(md5(col(textCol))).as("__dist"))
    val wn = TextDedup.winnowingFingerprints(d, textCol, idCol,
        winnowK, winnowW)
      .join(d.select(col(idCol).as("id"), col(sourceCol).as("source")),
        "id")
      .groupBy(col("source"))
      .agg(sum(col("n_grams")).as("__grams"),
           sum(col("n_fingerprints")).as("__fps"))
    base.join(wn, "source")
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("mean_doc_tokens"),
        round(col("__en").cast("double") / col("n_docs"), 6).as("pct_en"),
        round(lit(1.0) - col("__dist").cast("double") / col("n_docs"), 6)
          .as("exact_dup_frac"),
        round(col("__fps").cast("double") / col("__grams"), 6)
          .as("winnow_density"))
  }

  /** Corpus SNAPSHOT DIFF — the release-to-release delta table a
    * dataset owner ships next to the [[datacard]]: per source, how
    * many documents were added, removed, changed (same id, different
    * content digest), and unchanged between two corpus versions.
    *
    * Scale shape: both sides reduce to (id, source, md5 digest)
    * BEFORE the full-outer id join — document bodies never shuffle
    * (the dedup convention); the diff itself is a |groups|-row
    * aggregate. Exact integer output → hash-exact oracle.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String, sourceCol: String): DataFrame = {
    def key(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as("__id"),
        col(sourceCol).as(s"__src_$tag"),
        md5(col(textCol)).as(s"__dig_$tag"))
    key(oldDocs, "old").join(key(newDocs, "new"), Seq("__id"), "full_outer")
      .select(coalesce(col("__src_new"), col("__src_old")).as("source"),
        when(col("__dig_old").isNull, "added")
          .when(col("__dig_new").isNull, "removed")
          .when(col("__dig_old") =!= col("__dig_new"), "changed")
          .otherwise("unchanged").as("__status"))
      .groupBy(col("source"))
      .agg(sum(when(col("__status") === "added", 1L).otherwise(0L))
             .as("n_added"),
           sum(when(col("__status") === "removed", 1L).otherwise(0L))
             .as("n_removed"),
           sum(when(col("__status") === "changed", 1L).otherwise(0L))
             .as("n_changed"),
           sum(when(col("__status") === "unchanged", 1L).otherwise(0L))
             .as("n_unchanged"))
      .orderBy(col("source"))
  }
}
