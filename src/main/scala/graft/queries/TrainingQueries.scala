package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{IndexAppend, IngestDedup, IngestQuality, StatefulFlows, StreamDecontam,
  StreamingFlows, StreamingSessions, StreamingSrm, UpsertSink}
import graft.operators.{Agreement, Behavior, Bootstrap, Bpe, Chunking, Clustering, CorpusStats, Graph, Ids, Importance, IncrementalDedup, Layout, LineOps, Multimodal, Packing, Pca, Pq, Privacy, Quantization, Retrieval, Similarity, Sketches, Splits, TextAnalysis, TextDedup, UrlOps}

/** Training-data-pipeline operators as oracle-checkable queries over the
  * driver's `documents` and `embeddings` tables. Hash-based operators
  * (MinHash/SimHash/LSH) have no DuckDB-expressible oracle — the driver
  * records a rows-only check for those; deterministic seeds make them
  * reproducible run-to-run regardless.
  */
object TrainingQueries {

  /** t1_dedup_exact — exact text dedup: one surviving doc per distinct
    * body (min doc_id), plus the duplicate count.
    */
  def t1DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"), length(col("text")).as("text_len"))

  /** t2_dedup_minhash — MinHash+LSH near-dup pairs verified at
    * Jaccard ≥ 0.8 (shingle 3-grams, 64 hashes × 16 bands).
    */
  def t2DedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    // exact-dedup first: near-dup detection runs on distinct texts —
    // the production composition (dup-heavy corpora would otherwise
    // spend the whole budget re-verifying identical copies). The
    // collapsed exact-dup pairs union back in at jaccard 1.0 so they
    // stay in the output contract.
    val docs = Tables.documents(spark, sfDir)
    val exactPairs = TextDedup.exactClusters(docs, "text", "doc_id")
      .withColumn("jaccard", lit(1.0))
    exactPairs.unionByName(
        TextDedup.minhashNearDups(
          TextDedup.exact(docs, "text", "doc_id"),
          "text", "doc_id", threshold = 0.8))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t3_dedup_simhash — SimHash fingerprints + exact Hamming-≤3 pairs
    * via the pigeonhole chunk join.
    */
  def t3DedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    // exact-dedup first (see t2): identical texts share a fingerprint,
    // so dup clusters would otherwise emit all C(k,2) Hamming-0 pairs;
    // collapsed pairs return as Hamming 0.
    val docs = Tables.documents(spark, sfDir)
    val exactPairs = TextDedup.exactClusters(docs, "text", "doc_id")
      .withColumn("hamming", lit(0))
    exactPairs.unionByName(
        TextDedup.simhashNearDups(
          TextDedup.exact(docs, "text", "doc_id"),
          "text", "doc_id", maxDist = 3))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t4_ngram_jaccard — shared-rare-shingle candidates with exact
    * n-gram Jaccard ≥ 0.5.
    */
  def t4NgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairsCensus(spark, sfDir).orderBy(col("id_a"), col("id_b"))


  /** Generic (session, sfDir)-cached checkpoint for an expensive
    * relation shared between a t-query and its SQL view (the
    * prefixJaccardPairs convention, generalized): the view registry
    * builds its frames by calling the t-defs, so routing each t-def's
    * body through one census makes the t-query, the view build, and
    * every SQL statement over the view read ONE materialization per
    * (session, sfDir). Each consumer keeps its own ORDER BY.
    */
  private val sharedResultCache = new graft.SessionCache[DataFrame]
  private def sharedCensus(spark: SparkSession, sfDir: String,
                           key: String)(build: => DataFrame): DataFrame =
    sharedResultCache.getOrElseUpdate(spark, s"$key@$sfDir")(
      build.localCheckpoint(true))

  /** The t18-contract near-dup pair table (exact-dup clusters at
    * jaccard 1.0 ∪ df-capped 3-gram Jaccard ≥ 0.5 pairs), computed
    * ONCE per (session, sfDir): t4 IS this relation, and t18/t38/
    * t90/t229 all re-derived it as the input to the SAME
    * connected-components labeling (see [[nearDupLabelsCensus]]).
    * maxDf=10 because the synthetic corpus has a ~40-word vocabulary,
    * so 3-gram shingles collide heavily — candidate pairs scale ~df²
    * per shingle and the df cap is the knob that keeps this
    * linear-ish; exact-dedup first (see t2).
    */
  private val nearDupPairsCache = new graft.SessionCache[DataFrame]
  private def nearDupPairsCensus(spark: SparkSession,
                                 sfDir: String): DataFrame =
    nearDupPairsCache.getOrElseUpdate(spark, sfDir) {
      val docs = Tables.documents(spark, sfDir)
      val exactPairs = TextDedup.exactClusters(docs, "text", "doc_id")
        .withColumn("jaccard", lit(1.0))
      exactPairs.unionByName(
          TextDedup.ngramJaccardPairs(
            TextDedup.exact(docs, "text", "doc_id"),
            "text", "doc_id", shingleK = 3, minJaccard = 0.5, maxDf = 10))
        .localCheckpoint(true)
    }

  /** The near-dup COMPONENT labeling of the corpus over
    * [[nearDupPairsCensus]], computed ONCE per (session, sfDir): the
    * connected-components loop is an eager per-round algorithm, and
    * t18 (labels), t38 (canonical election), t90 (leak-free split),
    * and t229 (dedup savings) each re-ran it on the identical pair
    * set — 3.3–4.1 s apiece on the r14 battery.
    */
  private val nearDupLabelsCache = new graft.SessionCache[DataFrame]
  private def nearDupLabelsCensus(spark: SparkSession,
                                  sfDir: String): DataFrame =
    nearDupLabelsCache.getOrElseUpdate(spark, sfDir) {
      Clustering.labelCorpus(Tables.documents(spark, sfDir), "doc_id",
          nearDupPairsCensus(spark, sfDir)
            .select(col("id_a"), col("id_b")),
          "id_a", "id_b")
        .localCheckpoint(true)
    }

  /** t5_embed_topk — exact brute-force cosine top-5 neighbors for the
    * first 10 vectors (deterministic query set). DuckDB oracle uses
    * list_cosine_similarity over DOUBLE[] — both engines accumulate
    * sequentially; results rounded to 6dp.
    */
  def t5EmbedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** t6_embed_ann — the same top-k via hyperplane-LSH buckets (the
    * scale path). No SQL oracle (hash-derived buckets); rows-only.
    */
  def t6EmbedAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, bits = 8, tables = 8)
      .orderBy(col("qid"), col("rank"))
  }

  /** t15_embed_ivf — the IVF coarse-quantizer ANN path: 16 hash-sampled
    * centroid cells, probe the 4 nearest per query, exact-cosine rank.
    * Rows-only (cell membership is hash-derived) but deterministic.
    */
  def t15EmbedIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nlist = 16, nprobe = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** t7_embed_neardup — embedding-cosine near-duplicate pairs via LSH
    * candidates + exact verification. The synthetic embeddings are
    * near-orthogonal (max pairwise cosine ≈ 0.51), so the demo
    * threshold is 0.4 with wide-recall LSH params (4 bits × 16 tables
    * ≈ 93% pair recall at that similarity); a production near-dup pass
    * at ≥0.95 would use more bits and fewer tables.
    */
  def t7EmbedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.cosineNearDups(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", threshold = 0.4, bits = 4, tables = 16)
      .orderBy(col("id_a"), col("id_b"))

  /** t8_langid — heuristic language ID; distribution by predicted vs
    * labeled language (the labels are synthetic — the oracle-free check
    * is determinism + the contingency shape).
    */
  def t8LangId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("predicted", TextAnalysis.langId(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  /** t9_quality — length/punct/stopword quality metrics per doc. */
  def t9Quality(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityMetrics(Tables.documents(spark, sfDir), "text")
      .select(col("doc_id"), col("n_chars_m").as("n_chars_measured"),
        col("n_tokens"), col("avg_token_len"),
        col("punct_ratio"), col("stopword_ratio"))

  /** t10_tokens — whitespace + BPE-ish regex token counts. */
  def t10Tokens(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(spark, sfDir), "text")
      .select(col("doc_id"), col("ws_tokens"), col("bpeish_tokens"))

  /** t11_fingerprint — rolling-hash + xxhash64 document fingerprints;
    * duplicate-fingerprint audit folded in (fingerprint collision ⇒
    * candidate exact dup).
    */
  def t11Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.fingerprints(Tables.documents(spark, sfDir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** t13_stratified_sample — M3 percentile-bin downsampling
    * (btc_logregression_pre.py:53-70): 20 equi-height bins over
    * o_totalprice, ≤25 rows per bin, deterministic (md5-keyed cap).
    * Runs the EXACT-binning variant so a SQL oracle replays bin
    * membership and the cap verbatim; the distributed approx-boundary
    * path (`Ols.stratifiedSample`) is the scale default, spec-checked
    * in OlsSpec.
    */
  def t13StratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Ols.stratifiedSampleExact(
        Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice"),
        "o_totalprice", "o_orderkey", bins = 20, capPerBin = 25)
      .orderBy(col("o_orderkey"))

  /** t14_streaming_daily — the Structured Streaming ingest path (the
    * reference's roadmap stage, README.md:3) run to completion with an
    * AvailableNow trigger: watermarked 1-day windowed aggregation over
    * the events drop-directory, materialized to a memory sink. Only
    * watermark-finalized windows emit (append mode), so the result is
    * the batch daily aggregate minus the trailing unfinalized day(s) —
    * deterministic, rows-only checked.
    */
  def t14StreamingDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, sfDir)
      // decimal money-sum convention (see RelationalQueries.moneySum) so
      // the emitted totals are exact and the DuckDB oracle can replay
      // the watermark semantics: append mode emits exactly the windows
      // with end <= max(event time) - delay, which is plain SQL
      .withColumn("value", col("value").cast("decimal(18,2)"))
    val agg = StreamingFlows.dailyFlowAgg(stream, "ts", "event_type", "value")
    // ~180 (day, type) keys of state: the session's 32-partition batch
    // default would commit 32 state-store deltas per micro-batch for
    // state that fits in a handful of stores (t24's measurement in
    // docs/PERF_NOTES.md)
    StreamingFlows.runAvailableNow(spark, agg, "t14_daily", statePartitions = 8)
      .withColumn("total", col("total").cast("double"))
      .orderBy(col("day"), col("event_type"))
  }

  /** t17_streaming_dedup — the streaming keep-first dedup surface
    * (dropDuplicatesWithinWatermark) run to completion: one row
    * survives per (user_id, event_type) key, aggregated to per-type
    * distinct-user counts. The single-file AvailableNow source
    * processes in one batch, so the dedup state never expires mid-run
    * and the kept KEY SET is exactly the distinct keys — deterministic
    * and SQL-checkable even though which duplicate survives is not.
    */
  def t17StreamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = StreamingFlows.streamingDedup(
      Tables.eventsStream(spark, sfDir), "ts", "1 day",
      Seq("user_id", "event_type"))
    StreamingFlows.runAvailableNow(spark, deduped, "t17_dedup")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** t16_ann_recall — quantitative recall@5 of the approximate paths
    * against the exact brute-force top-k (t5): |ANN∩exact| /
    * (|queries|·k), across a parameter sweep. The synthetic embeddings
    * are near-orthogonal (no neighbor structure — t7's scaladoc), so
    * recall at tight parameters is inherently low for ANY sublinear
    * method; the correctness claim this row carries is the CURVE: as
    * the candidate set widens (more LSH tables / fewer bits, more IVF
    * probe cells) recall must climb monotonically-ish toward 1.0, and
    * the all-cells IVF setting (nprobe = nlist) must hit exactly 1.0
    * because it degenerates to brute force.
    */
  def t16AnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // persisted: the exact set is the comparison baseline for four ANN
    // legs plus the denominator count — without the cache one action
    // recomputes the brute-force scoring five times (it is 50 rows)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("id"))
      .persist()
    // denominator = |exact top-k set|, not a hardcoded queries×k — on a
    // fixture with fewer queries or a smaller corpus the nprobe=nlist
    // invariant (recall exactly 1.0) must still hold
    val denom = exact.count()
    def recallOf(ann: DataFrame, method: String, params: String) =
      ann.select(col("qid"), col("id"))
        .join(exact, Seq("qid", "id"), "left_semi")
        .agg(round(count(lit(1)).cast("double") / lit(denom), 6).as("recall_at_5"))
        .select(lit(method).as("method"), lit(params).as("params"),
                col("recall_at_5"))
    def lsh(bits: Int, tables: Int) =
      recallOf(Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, bits = bits, tables = tables),
        "lsh_topk", s"bits=$bits,tables=$tables")
    def ivf(nprobe: Int) =
      recallOf(Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, nlist = 16, nprobe = nprobe),
        "ivf_topk", s"nlist=16,nprobe=$nprobe")
    lsh(8, 8).unionByName(lsh(2, 32))
      .unionByName(ivf(4)).unionByName(ivf(16))
      .orderBy(col("method"), col("params"))
  }

  /** t18_cluster — connected-components dedup clustering: the t4
    * near-dup pair set (exact-dup pairs at jaccard 1.0 + df-capped
    * 3-gram Jaccard ≥ 0.5 pairs) becomes per-document canonical
    * components via distributed min-label propagation with pointer
    * jumping; every doc gets its component's min doc_id and a keep-flag.
    * Oracle: DuckDB recursive CTE over the same pair set.
    */
  def t18Cluster(spark: SparkSession, sfDir: String): DataFrame =
    // the shared labeling census — t18 IS that relation, ordered
    nearDupLabelsCensus(spark, sfDir).orderBy(col("doc_id"))

  /** t38_canonical — the APPLY step after near-dup clustering: per
    * connected component (same pair contract as t18), elect one
    * canonical survivor — longest text wins, doc_id breaks ties — and
    * report the cluster size. One partial-aggregable groupBy (min of
    * an ordered (neg-length, id) struct rides the map-side combine),
    * no window — a billion-member cluster never funnels through one
    * task's sort.
    */
  def t38Canonical(spark: SparkSession, sfDir: String): DataFrame =
    canonicalClustersCensus(spark, sfDir).orderBy(col("component"))

  /** The canonical-election cluster table, computed ONCE per
    * (session, sfDir) and shared by t38 and the SqlFacade
    * `near_dup_clusters` view (the prefixJaccardPairs convention —
    * the connected-components loop is an eager per-round algorithm,
    * so every re-construction re-runs it: t38 paid 4.1 s on the r14
    * battery beside the view's own eager build).
    */
  private val canonicalClustersCache = new graft.SessionCache[DataFrame]
  private def canonicalClustersCensus(spark: SparkSession,
                                      sfDir: String): DataFrame =
    canonicalClustersCache.getOrElseUpdate(spark, sfDir) {
      val docs = Tables.documents(spark, sfDir)
      nearDupLabelsCensus(spark, sfDir)
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"),
             min(struct((-col("n_chars")).as("neg"),
                        col("doc_id").as("id"))).as("best"))
        .select(col("component"), col("best.id").as("canonical_id"),
                (-col("best.neg")).as("n_chars"), col("cluster_size"))
        .localCheckpoint(true)
    }

  /** t19_redact — PII scrubbing over a deterministically PII-enriched
    * corpus (the synthetic docs carry no emails/phones, so the query
    * appends a reproducible contact suffix derived from doc_id — the
    * DuckDB oracle rebuilds the identical input and replays the same
    * redaction regexes).
    */
  def t19Redact(spark: SparkSession, sfDir: String): DataFrame = {
    val piiful = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com call 555-"),
      ((col("doc_id") * 7919) % 10000).cast("string"))
    val (nEmails, nNums) = TextAnalysis.piiCounts(piiful)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextAnalysis.redactPii(piiful).as("redacted"),
        nEmails.as("n_emails"), nNums.as("n_num_runs"))
      .orderBy(col("doc_id"))
  }

  /** t20_quantize — int8 scalar quantization of the embedding corpus
    * with per-vector reconstruction MSE (fixed-order double arithmetic;
    * the DuckDB oracle replays the formula bit-for-bit).
    */
  def t20Quantize(spark: SparkSession, sfDir: String): DataFrame =
    Quantization.int8Quantize(Tables.embeddings(spark, sfDir),
        "vec_id", "embedding")
      .orderBy(col("vec_id"))

  /** t21_lsh_recall — quantitative candidate recall of the MinHash+LSH
    * near-dup path against the df-capped exact-Jaccard pair set (the t4
    * contract) at the same 0.5 threshold — the t16-style self-check for
    * the text-dedup family. Both pipelines verify candidates with exact
    * Jaccard, so precision is 1.0 by construction and the interesting
    * number is how many true pairs LSH banding surfaces. Rows-only
    * (MinHash is not SQL-expressible), deterministic seeds.
    */
  def t21LshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val deduped = TextDedup.exact(docs, "text", "doc_id")
    val exact = TextDedup.ngramJaccardPairs(deduped, "text", "doc_id",
        shingleK = 3, minJaccard = 0.5, maxDf = 10)
      .select(col("id_a"), col("id_b"))
      .persist()
    val lsh = TextDedup.minhashNearDups(deduped, "text", "doc_id",
        threshold = 0.5)
      .select(col("id_a"), col("id_b"))
      .persist()
    // materialize the three tiny counts eagerly so both cached pair
    // sets can unpersist before the next driver query runs (a leaked
    // persist pins executor storage for the rest of the battery)
    val nExact = exact.count()
    val nLsh = lsh.count()
    val nCommon = lsh.join(exact, Seq("id_a", "id_b"), "left_semi").count()
    exact.unpersist()
    lsh.unpersist()
    import spark.implicits._
    Seq((nExact, nLsh, nCommon)).toDF("n_exact", "n_lsh", "n_common")
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        round(col("n_common").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** t22_streaming_join — stream-stream interval join (the remaining
    * major Structured Streaming surface after windowed aggs, dedup and
    * mapGroupsWithState): clicks join purchases by user within the
    * preceding hour, both sides watermarked so join state expires.
    * Single-batch AvailableNow processes everything with no late rows,
    * so the emitted pairs are exactly the batch interval join — plain
    * SQL for the oracle.
    */
  def t22StreamingJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.eventsStream(spark, sfDir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user_id"), col("ts").as("pts"),
              col("value"))
      .withWatermark("pts", "1 hour")
    val joined = StreamingFlows.intervalJoin(clicks, purchases,
        "user_id", "p_user_id", "cts", "pts", "1 HOUR")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
              col("value"))
    // stream-stream join keeps FOUR state stores per partition (keyed +
    // keyWithIndex, each side) — size partitions to join-state volume,
    // not the session's batch-shuffle default (4 parts × 4 stores = 16
    // store commits/batch; 8 parts re-measured +0.8 s warm, r7)
    StreamingFlows.runAvailableNow(spark, joined, "t22_join", statePartitions = 4)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** Range-partitioned 4-file copy of the events table, built once per
    * JVM run per sfDir — the streaming fixtures (t23/t24) consume it
    * one file per micro-batch. Hoisted out of the queries so their
    * bench rows time the streaming operator, not fixture I/O; the temp
    * dir is deleted by TempDirs' shutdown hook. Written ts is
    * TIMESTAMP(MICROS), so the streaming reader needs no nanos shim.
    */
  private val eventFixtures =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build the shared fixtures ahead of time — Bench calls this from
    * its warm-up section so no single query row absorbs a one-time
    * fixture build. Runs [[prewarmSteps]] in order.
    */
  def prewarmFixtures(spark: SparkSession, sfDir: String): Unit =
    prewarmSteps.foreach { case (_, step) => step(spark, sfDir) }

  /** The fixture prewarm's steps by name (`Probe time` reports each):
    *  - `events_fixture`, `docs_fixture`: the ranged stream inputs;
    *  - `kcore`: the k-core decomposition t264 and t265 share, so its
    *    rounds do not land on whichever of the two the battery runs
    *    first (map order is unspecified);
    *  - `streaming_warmup`: a one-row stateful streaming query. The
    *    FIRST streaming query in a session pays streaming runtime +
    *    state-store class init (~2-3 s measured) — session warm-up
    *    cost, not operator cost, same rationale as Bench's
    *    codegen/parquet warm-up.
    */
  val prewarmSteps: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "events_fixture" -> ((s, d) => rangedEventsFixture(s, d)),
    "docs_fixture" -> ((s, d) => rangedDocsFixture(s, d)),
    "kcore" -> ((s, d) => coPurchaseKCore(s, d).count()),
    "streaming_warmup" -> ((s, _) => warmUpStreaming(s)))

  private def warmUpStreaming(spark: SparkSession): Unit = {
    import spark.implicits._
    val tiny = s"${graft.io.TempDirs.create("graft_warm")}/in"
    Seq(("w0", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("wallet", "ts", "value").write.parquet(tiny)
    val st = spark.readStream
      .schema("wallet STRING, ts TIMESTAMP, value DOUBLE")
      .parquet(tiny)
      .as[StatefulFlows.FlowEvent]
    StreamingFlows.runAvailableNow(spark,
      StatefulFlows.runningBalances(st).toDF(), "warmup_state")
  }

  /** 4 doc_id-ranged parquet files over documents ∪ an id-shifted
    * copy (doc_id + 100000, same text) — consumed one file per
    * micro-batch by t39, so the copy rows arrive in later batches
    * than their originals and must drop as already-seen.
    *
    * Arrival order MUST be the range order (t39's keep-first survivor
    * is arrival-defined, unlike t23's order-independent keep-latest),
    * and FileStreamSource orders files by (modification time, path) —
    * a single multi-task write stamps mod times by task completion,
    * which is arbitrary. So each range is written separately, its data
    * file renamed into the stream dir, and its mod time pinned to an
    * explicitly ascending value.
    */
  private[graft] def rangedDocsFixture(spark: SparkSession, sfDir: String): String =
    docFixtures.getOrElseUpdate(sfDir, {
      val in = s"${graft.io.TempDirs.create("graft_docs4")}/in"
      new java.io.File(in).mkdirs()
      val docs = Tables.documents(spark, sfDir)
      val doubled = docs
        .unionByName(docs.withColumn("doc_id", col("doc_id") + 100000))
      val bounds = Seq(
        (Long.MinValue, 250L), (250L, 100000L),
        (100000L, 100250L), (100250L, Long.MaxValue))
      val t0 = System.currentTimeMillis()
      bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
        val tmp = s"$in/_tmp$i"
        doubled.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val dest = new java.io.File(s"$in/batch-$i.parquet")
        require(part.renameTo(dest), s"rename $part -> $dest failed")
        require(dest.setLastModified(t0 + i * 60000L),
          s"setLastModified failed for $dest")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      in
    })

  private val docFixtures =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def rangedEventsFixture(spark: SparkSession, sfDir: String): String =
    eventFixtures.getOrElseUpdate(sfDir, {
      val in = s"${graft.io.TempDirs.create("graft_events4")}/in"
      Tables.events(spark, sfDir)
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(in)
      in
    })

  /** [[rangedEventsFixture]] as a stream, one file per micro-batch. */
  private def rangedEventsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(Tables.events(spark, sfDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(rangedEventsFixture(spark, sfDir))

  /** [[rangedDocsFixture]] as a stream of `docs`' schema. */
  private def rangedDocsStream(docs: DataFrame, sfDir: String,
                               filesPerBatch: Int = 1): DataFrame =
    docs.sparkSession.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(rangedDocsFixture(docs.sparkSession, sfDir))

  /** t23_streaming_upsert — foreachBatch incremental MERGE: the events
    * stream splits into 4 ts-ranged files consumed one per micro-batch
    * (maxFilesPerTrigger=1), and each batch upserts into a
    * latest-row-per-user state table. The final state is
    * order-independent ("latest" is decided by (ts, event_id), not
    * arrival), so the batch SQL keep-latest window is an exact oracle.
    */
  def t23StreamingUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val work = graft.io.TempDirs.create("t23_upsert").toString
    UpsertSink.runLatestPerKey(spark, rangedEventsStream(spark, sfDir),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        stateBase = s"$work/state")
      .select(col("user_id"), col("event_type").as("last_type"),
              col("ts").as("last_ts"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** t24_stateful_balance — the flatMapGroupsWithState surface as a
    * driver query: per-user running balances accumulate across 4
    * micro-batches (state survives batch boundaries — the thing
    * windowed aggregation can't express), then the final snapshot per
    * user is taken (max n_events — the counter is strictly monotone
    * per wallet). The snapshot equals plain per-user SUM/COUNT/MAX, so
    * it is exactly SQL-checkable; net rounds to 2dp because the
    * state's double accumulation order is batch-dependent (true sum
    * fixed, fp drift ~1e-12 — far from any 2dp boundary).
    */
  def t24StatefulBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = rangedEventsStream(spark, sfDir)
      .select(col("user_id").cast("string").as("wallet"),
              col("ts"), col("value"))
      .as[StatefulFlows.FlowEvent]
    val balances = StatefulFlows.runningBalances(stream).toDF()
    // 4 state partitions: plenty for ~150 wallet keys, and every batch
    // commits one state-store delta per partition — see
    // StreamingFlows.runAvailableNow (4 measured a hair under 8 in
    // docs/PERF_NOTES.md; the per-batch floor is addBatch + 3 checkpoint
    // fsyncs)
    val emitted = StreamingFlows.runAvailableNow(spark, balances,
        "t24_bal", statePartitions = 4)
    // final snapshot per wallet = the max-n_events emission (the counter
    // is strictly monotone per wallet, so (wallet, n_events) is unique):
    // a max_by aggregate — partial agg crushes the 4-rows-per-wallet
    // input map-side, where the old window+filter shape sorted it
    emitted.groupBy(col("wallet"))
      .agg(max_by(struct(col("net"), col("n_events"), col("last_ts")),
                  col("n_events")).as("s"))
      .select(col("wallet"), round(col("s.net"), 2).as("net_r"),
              col("s.n_events").as("n_events"), col("s.last_ts").as("last_ts"))
      .orderBy(col("wallet"))
  }

  /** t25_minhash_precision — oracle-checked invariant twin for the
    * rows-only t2: every pair the MinHash+LSH path emits must (a) have
    * TRUE 3-gram Jaccard ≥ the 0.8 threshold and (b) report a jaccard
    * equal to the true one. "True" means recomputed from the raw
    * shingle STRINGS — an independent route from the operator's
    * xxhash64'd shingle sets, so a hash collision inflating a Jaccard
    * (the one failure mode hashed verification cannot see) lands here
    * as a violation. Output: the violation count, which the SQL oracle
    * pins at exactly 0. Cost is |emitted pairs| — shingle sets are only
    * built for documents appearing in some pair.
    */
  def t25MinhashPrecision(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val deduped = TextDedup.exact(docs, "text", "doc_id")
    val lsh = TextDedup.minhashNearDups(deduped, "text", "doc_id",
        threshold = 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // raw-string shingle sets, same tokenization as the hashed kernel:
    // lower, split on \s+, 3-gram windows, short docs = one whole-text
    // shingle
    val toks = split(lower(col("text")), "\\s+")
    val shingles = array_distinct(
      when(size(toks) < 3, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " "))))
    val pairDocs = lsh.select(col("id_a").as("doc_id"))
      .unionByName(lsh.select(col("id_b").as("doc_id")))
      .distinct()
    val sets = deduped.join(pairDocs, "doc_id")
      .select(col("doc_id"), shingles.as("sh"))
    lsh
      .join(sets.toDF("id_a", "sh_a"), "id_a")
      .join(sets.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jaccard_true",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard_true") < 0.8 ||
              round(col("jaccard"), 6) =!= round(col("jaccard_true"), 6))
      .agg(count(lit(1)).as("n_violations"))
  }

  /** t26_neardup_exact — full-oracle twin for the rows-only t7: the
    * brute-force form of rep-collapsed embedding near-dup pairs over a
    * BOUNDED deterministic slice (vec_id < 500, so the all-pairs cost
    * is fixed at any SF). Identical output contract to cosineNearDups
    * — stage-1 identical-vector member pairs at cosine 1.0, stage-2
    * rep-to-rep pairs ≥ threshold — but candidates come from the
    * exhaustive cross join instead of LSH buckets, which plain SQL can
    * replay verbatim. SimilaritySpec separately pins the LSH path's
    * output ⊆ this exact pair set.
    */
  def t26NearDupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val reps = ids.groupBy(col("vec")).agg(min(col("id")).as("id"))
    val memberPairs = ids
      .join(reps.select(col("vec"), col("id").as("rep_id")), "vec")
      .filter(col("id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("id").as("id_b"),
              lit(1.0).as("cosine"))
    val a = reps.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val b = reps.select(col("id").as("id_b"), col("vec").as("vec_b"))
    val repPairs = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= 0.4)
      .select(col("id_a"), col("id_b"), col("cosine"))
    memberPairs.unionByName(repPairs)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t27_simhash_recovery — oracle-checked invariant for the rows-only
    * t3, via an INDEPENDENT route (not the exact-collapse union t3
    * itself performs): plant synthetic exact duplicates (a copy of
    * every doc_id < 100 at id+1000000) in a corpus slice and run the
    * RAW SimHash pigeonhole pipeline over it with no exact-dedup
    * pre-pass. Identical texts hash to identical fingerprints, so the
    * chunk join MUST recover every planted pair at Hamming 0 — if the
    * SimHash64 kernel lost determinism or the pigeonhole banding/
    * bucket join dropped pairs, planted duplicates go missing and the
    * count goes nonzero. Oracle pins violations at 0.
    */
  def t27SimhashRecovery(spark: SparkSession, sfDir: String): DataFrame = {
    val slice = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val copies = slice.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    // maxBucket > |slice| (300 ids): no chunk bucket can saturate, so
    // the capped generator's drop-and-audit path can never silently
    // delete a planted pair and masquerade as a kernel bug
    val found = TextDedup.simhashNearDups(
        slice.unionByName(copies), "text", "doc_id", maxDist = 3,
        maxBucket = 500)
      .filter(col("hamming") === 0)
    val planted = slice.filter(col("doc_id") < 100)
      .select(col("doc_id").as("id_a"),
              (col("doc_id") + 1000000).as("id_b"))
    planted.join(found, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
  }

  /** t28_decontaminate — benchmark decontamination: training docs
    * sharing ≥ 2 distinct 3-gram shingles with any doc of the eval set
    * (the synthetic corpus's random texts overlap sparsely — max
    * observed overlap is 4 — so 2 is the meaningful threshold here;
    * a real corpus would use tens)
    * (deterministic cohort: doc_id ≡ 0 mod 97). Exact DuckDB oracle via
    * the t4 string-shingle machinery; the operator's broadcast-eval /
    * one-train-scan shape is the 100 TB-correct plan (the corpus never
    * self-joins).
    */
  def t28Decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    TextDedup.contaminationPairs(docs, evalSet, "text", "doc_id",
        shingleK = 3, minShared = 2, excludeSameId = true)
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** t29_mixture — corpus mixing: hold each source to a target row
    * budget (sources 0-4 keep 10 docs, 5-9 keep 5, the rest 2) with
    * the deterministic smallest-md5 selection. Runs the SALTED
    * two-level scale plan — selection is identical to the
    * single-window form (spec-asserted), so the SQL oracle replays
    * membership exactly.
    */
  def t29Mixture(spark: SparkSession, sfDir: String): DataFrame = {
    val quotas =
      (0 to 4).map(i => s"src$i" -> 10).toMap ++
      (5 to 9).map(i => s"src$i" -> 5).toMap
    graft.ops.Mixing.sampleQuotas(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
        "source", "doc_id", quotas, defaultQuota = 2)
      .orderBy(col("doc_id"))
  }

  /** t30_quality_flags — the Gopher/C4-style heuristic rule battery
    * (token bounds, mean word length, symbol density, duplicate-bigram
    * repetition) over the corpus, fully oracle-replayed in SQL.
    */
  def t30QualityFlags(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityFlags(Tables.documents(spark, sfDir), "text")
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("symbol_ratio"), col("dup_bigram_frac"),
        col("ok_word_count"), col("ok_mean_len"), col("ok_symbols"),
        col("ok_repetition"), col("keep"))
      .orderBy(col("doc_id"))

  /** t31_dup_spans — substring-level dedup (Lee et al. 2022 shape):
    * every 6-token span occurring in ≥ 2 distinct documents, with
    * exact doc/occurrence counts. Hash-only survivor pass, span text
    * regenerated just for candidate docs, final regroup by the string —
    * so the output is exact and the DuckDB oracle replays it directly.
    */
  def t31DupSpans(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.duplicateSpans(Tables.documents(spark, sfDir), "text", "doc_id",
        k = 6, minDocs = 2)
      .orderBy(col("span"))

  /** t50_span_scrub — the APPLY step of t31 (Lee et al. substring
    * dedup): every token position covered by a 6-token span occurring
    * in ≥ 2 distinct docs is removed and documents reassemble from
    * their surviving tokens in order. Exact oracle: the DuckDB replay
    * rebuilds the same lowercased windows, the distinct-doc span
    * counts, the covered-position mask, and the ordered reassembly.
    */
  def t50SpanScrub(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.removeDuplicateSpans(Tables.documents(spark, sfDir),
        "text", "doc_id", k = 6, minDocs = 2)
      .orderBy(col("doc_id"))

  /** t51_vocab — corpus vocabulary statistics (the tokenizer-training
    * precursor): top-100 tokens by occurrence count with document
    * frequency and cumulative corpus coverage. Exact oracle: counts,
    * the deterministic (count desc, token) cut, and the coverage
    * window all replay in SQL.
    */
  def t51Vocab(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.vocabulary(Tables.documents(spark, sfDir),
        "doc_id", "text", topK = 100)
      .orderBy(col("rank"))

  /** t52_ppl_band — CCNet-style perplexity-band selection: bigram-LM
    * scores (t36's model) cut at the exact 1/3 and 2/3 percentiles,
    * head/middle/tail labels, keep = not-tail. Exact oracle: the t36
    * score CTE plus quantile_cont thresholds and the same comparison.
    */
  def t52PplBand(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.perplexityBands(Tables.documents(spark, sfDir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  /** t53_ml_select — Moore–Lewis cross-entropy difference selection:
    * a bigram LM trained on the English slice vs one trained on the
    * whole corpus, every document scored under both, keep = the
    * cross-entropy difference ≤ 0 (the document looks more in-domain
    * than average). Exact oracle: two replays of the t36 model CTEs
    * (one filtered to the slice, with LEFT-join + coalesce-0 for
    * unseen keys) and the same rounded-difference arithmetic.
    */
  def t53MlSelect(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.crossEntropySelect(Tables.documents(spark, sfDir),
        "doc_id", "text", inDomain = col("lang") === "en")
      .orderBy(col("doc_id"))

  /** t54_dsir — DSIR hashed n-gram importance weighting: one-pass
    * native feature counts (unigram+bigram, t43 hash convention), a
    * 64-bucket target-vs-corpus model fitted in one bounded aggregate,
    * per-doc log importance ratios via a map-side dot product, keep =
    * top quartile. Exact oracle: the SQL replay hashes every feature
    * with plain arithmetic, joins the 64-row log-ratio table, and
    * applies the same rounded quantile threshold.
    */
  def t54Dsir(spark: SparkSession, sfDir: String): DataFrame =
    Importance.dsirWeights(Tables.documents(spark, sfDir), "doc_id", "text",
        target = col("lang") === "en")
      .orderBy(col("doc_id"))

  /** t55_bpe — distributed BPE merge learning (the tokenizer-training
    * step t51's vocabulary statistics precede): 12 merge rules learned
    * over the corpus word frequencies, each round a vocabulary-sized
    * pair count + a 1-row TakeOrdered collect + a native per-row
    * merge-apply pass. Rows-only (the iterative argmax is not
    * SQL-expressible); the Verify quality gate enforces the
    * merge-apply contract on the output — residual (left,right)
    * adjacencies exactly 0 after every pass, 0 < applied ≤
    * pair_count, contiguous steps, merged = left||right — and BpeSpec
    * pins the exact rule sequence on a hand-computed corpus.
    */
  def t55Bpe(spark: SparkSession, sfDir: String): DataFrame =
    bpeRules12(spark, sfDir).orderBy(col("step"))

  /** The 12-rule BPE tokenizer trained ONCE per (session, sfDir) —
    * t55, t68, and t250 all call `Bpe.learnMerges(documents, "text",
    * 12)` with identical parameters on the identical corpus, and each
    * used to pay the 12-round TakeOrdered training loop (~14
    * sequential vocabulary-sized jobs) alone. The shared-census
    * convention (clusteredEmbeddings / exactTriangleCensus): one
    * cached relation per expensive frame with multiple fixture
    * consumers. No checkpoint needed — learnMerges returns a
    * driver-local rule table (one row per rule), already free of
    * corpus lineage.
    */
  private val bpeRulesCache = new graft.SessionCache[DataFrame]
  private def bpeRules12(spark: SparkSession, sfDir: String): DataFrame =
    bpeRulesCache.getOrElseUpdate(spark, sfDir) {
      Bpe.learnMerges(Tables.documents(spark, sfDir), "text",
        numMerges = 12)
    }

  /** t56_dense_ids — deterministic dense global sample ids in
    * length-curriculum order (n_chars desc, doc_id tiebreak) WITHOUT
    * a global-window funnel: range repartition, per-partition counts
    * → broadcast prefix offsets, within-partition rank (each window
    * partition = one data partition, sorts run in parallel). Exact
    * oracle: row_number() over the same total order, minus 1.
    */
  def t56DenseIds(spark: SparkSession, sfDir: String): DataFrame =
    Ids.denseIds(Tables.documents(spark, sfDir), "sample_id",
        orderCols = Seq(col("n_chars").desc, col("doc_id").asc))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_id"))
      .orderBy(col("doc_id"))

  /** t57_pq_topk — product-quantization ANN with exact rerank (Jégou
    * et al. 2011, ADC+R): an m=8 × ksub=16 codebook (one distributed
    * Lloyd pass) compresses each 64-dim float vector to 8 smallint
    * codes (32× smaller), the compressed corpus scores against
    * broadcast queries via the asymmetric-distance cosine kernel and
    * shortlists k·8 candidates per query with the bounded-heap partial
    * top-k; only the shortlist's raw vectors are re-read (broadcast
    * candidate join — map-side prune, no corpus shuffle) and re-scored
    * with the exact cosine. rows-only driver row; t58 is the enforced
    * cross-check (roundtrip exactness, ADC identity, pinned recall
    * floor at THIS setting).
    */
  def t57PqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Pq.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, m = 8, ksub = 16, iters = 1, rerank = 8)
      .orderBy(col("qid"), col("rank"))
  }

  /** t58_pq_check — the enforced PQ contract harness (the cross-check
    * justifying t57's rows-only row), three (check, value) rows:
    *
    *  - `roundtrip_violations`: with a FULL codebook (ksub ≥ distinct
    *    subvectors per subspace, iters=0 so seeding IS the codebook)
    *    every distinct subvector is a codeword, so decode∘encode must
    *    reproduce every vector EXACTLY — count of rows where it
    *    doesn't. Gate: == 0.
    *  - `adc_mismatches`: under that exact reconstruction the ADC
    *    kernel's subspace-by-subspace accumulation is index-for-index
    *    the [[graft.functions.CosineSimilarity]] loop, so the score
    *    must be BIT-equal to the exact cosine on every (row, query)
    *    pair. Gate: == 0.
    *  - `recall_at_5`: the t57 production setting (m=8, ksub=16,
    *    rerank=8) against the brute-force exact top-5, t16-style
    *    semi-join recall. Gate: pinned floor 0.7 (measured 0.76; the
    *    recorded sweep on this near-orthogonal corpus: no rerank 0.18,
    *    rerank=4 0.46, rerank=8 0.76 — ksub=32/iters=2 buys nothing
    *    over finer reranking because quantization error, not codebook
    *    resolution, dominates noise-margin neighbor order; see t16's
    *    rationale for why tight-param floors sit low here).
    */
  def t58PqCheck(spark: SparkSession, sfDir: String): DataFrame = {
    // spread before the persist: the single-split scan fed the audit's
    // dominant compute — the full-codebook (ksub = |distinct|) encode
    // and the ADC/roundtrip recheck scans — one task each. Size-guarded
    // (identity at scale); capped at 8 so the training-collect ladder's
    // tiny jobs don't inherit 32-task floors.
    val emb = graft.util.Spread.ifTinyScanTo(
      Tables.embeddings(spark, sfDir), 8).persist()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // three INDEPENDENT eager chains — the full-codebook train+encode,
    // the brute-force recall baseline, and t57's own PQ training —
    // overlapped per guide §2.6 (each is a ladder of small driver-
    // bounded jobs; only the encode touches corpus-sized data)
    val ((full, encoded), (exact, denom), t57) = graft.util.Par.par3(
      {
        val nDistinct = emb.select(col("embedding")).distinct().count().toInt
        val fullCb = Pq.trainCodebook(emb, "embedding", m = 8,
          ksub = nDistinct, iters = 0)
        // eagerly materialized: the full-codebook encode is the audit's
        // dominant cost (every distinct subvector is a codeword, so one
        // pq_encode scan is |corpus| × |corpus| subvector distances) and
        // BOTH contract legs read it — a lazy cache would let the legs
        // race the population inside the one action and pay it twice
        (fullCb, Pq.encode(emb, "vec_id", "embedding", fullCb)
          .join(emb, Seq("vec_id"))
          .localCheckpoint(true))
      },
      {
        val e = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            queries, "qid", "qvec", k = 5)
          .select(col("qid"), col("id")).persist()
        (e, e.count())
      },
      t57PqTopK(spark, sfDir))
    val roundtrip = encoded
      .filter(Pq.decode(col("codes"), full) =!=
        col("embedding").cast("array<double>"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("roundtrip_violations").as("check"), col("value"))
    val adc = encoded
      .join(broadcast(queries))
      .filter(graft.functions.VectorFunctions.pq_adc(col("codes"),
          col("qvec"), full.map(_.map(_.toSeq).toSeq).toSeq) =!=
        graft.functions.VectorFunctions.cosine_sim(col("embedding"), col("qvec")))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("adc_mismatches").as("check"), col("value"))
    val recall = t57
      .select(col("qid"), col("id"))
      .join(exact, Seq("qid", "id"), "left_semi")
      .agg(round(count(lit(1)).cast("double") / lit(denom), 6).as("value"))
      .select(lit("recall_at_5").as("check"), col("value"))
    roundtrip.unionByName(adc).unionByName(recall).orderBy(col("check"))
  }

  /** t59_upsample — fractional-epoch source upsampling (the "×2.5
    * epochs of src0" mixture convention): ⌊w⌋ full copies per row
    * plus a partial epoch of the ⌊frac(w)·|source|⌋ smallest-md5
    * rows. Exact oracle: the full copies replay as unnest(range(⌊w⌋))
    * and the partial epoch as the same md5-rank window cut.
    */
  def t59Upsample(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Mixing.upsampleEpochs(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
        "source", "doc_id",
        weights = Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.4),
        defaultWeight = 1.0)
      .orderBy(col("doc_id"), col("epoch"))

  /** t60_embed_decontam — benchmark decontamination in EMBEDDING space
    * (the semantic complement of t28's n-gram overlap): eval set =
    * every 20th embedding (vec_id % 20 = 0, a deterministic stand-in
    * for a held-out benchmark), corpus = the rest; a corpus vector is
    * contaminated iff its max cosine against any eval vector reaches
    * 0.45. The eval matrix broadcasts inside the native
    * `max_cell_cosine` kernel — one corpus scan, no join, no shuffle
    * (see Similarity.decontaminateByEmbedding's scale contract). The
    * DuckDB oracle replays the max exactly via list_cosine_similarity
    * over the same cross product, both engines flagging on the
    * 6dp-rounded score.
    */
  def t60EmbedDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.decontaminateByEmbedding(
        emb.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 20 === 0), "embedding",
        threshold = 0.45)
      .orderBy(col("vec_id"))
  }

  /** t64_pagerank — domain-authority prior: weighted PageRank over a
    * source-level link graph synthesized deterministically from the
    * corpus (each document contributes one link from its source to
    * `src((doc_id*7+3) % 20)`; multi-edges aggregate to weights — self
    * links included, the general case). Fixed 3 iterations at damping
    * 0.85 so the DuckDB oracle can replay every round as a CTE chain
    * exactly. See Graph.pageRank for the per-round shuffle shape.
    */
  def t64PageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.documents(spark, sfDir)
      .select(col("source").as("src"),
        concat(lit("src"), (col("doc_id") * 7 + 3) % 20).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, "src", "dst", "w", iters = 3, damping = 0.85)
      .orderBy(col("node"))
  }

  /** t75_margin_mine — margin-based pair mining (the LASER/CCMatrix
    * bitext-mining shape) between the even- and odd-id halves of the
    * embedding table AT THE OPERATOR'S DEFAULTS — which, since the
    * round-10 flip, is the t85-gated LSH candidate provider (bits=10,
    * tables=4), i.e. the sub-quadratic plan a production caller gets.
    * Rows-only (hash-derived buckets): the quantitative contract is
    * the ENFORCED t76 (wide-recall parity) + t85 (production-param
    * recall/agreement) gates, plus this row's own direct structural
    * gate; t238 keeps the brute-force path oracle-EXACT.
    */
  def t75MarginMine(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.marginMine(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        k = 4, threshold = 1.0)
      .orderBy(col("src_id"))
  }

  /** t238_margin_bf_audit — marginMine with the EXPLICITLY-requested
    * brute-force candidate pass (the exact audit baseline the default
    * flip demoted): per source, the argmax-margin target with
    * hub-suppressing NNk normalization. Exact oracle — DuckDB replays
    * raw-cosine ranking, 6dp-rounded scoring, and both NNk means —
    * pinning the operator's SCORING semantics independently of any
    * provider, exactly the pre-flip t75 contract.
    */
  def t238MarginBfAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.marginMine(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        k = 4, threshold = 1.0, topK = Similarity.bruteForceTopK)
      .orderBy(col("src_id"))
  }

  /** t76_margin_ann_check — the enforced contract for marginMine's
    * PLUGGABLE candidate pass (the scale path that replaces t75's
    * compute-quadratic brute-force default): mine the same split with
    * the wide-recall LSH provider (bits=2, tables=32 — the t16 setting
    * whose candidate recall ≥ 0.9 is already gated) and compare to
    * brute-force mining. Three (check, value) rows:
    *
    *  - `bf_accepted`: accepted pairs under brute force (sanity > 0 —
    *    an empty baseline would make the recall row vacuous);
    *  - `pair_recall`: fraction of brute-force-ACCEPTED pairs the ANN
    *    path also accepts — the mining-level recall floor;
    *  - `margin_drift_max`: max |margin_ann − margin_bf| over pairs
    *    both paths mined. NNk means on the ANN path come from the
    *    provider's approximate neighbor lists (the production
    *    LASER/CCMatrix shape — means over FAISS shortlists), so
    *    margins drift only where those lists diverge; the gate bounds
    *    that drift.
    */
  def t76MarginAnnCheck(spark: SparkSession, sfDir: String): DataFrame = {
    // CAPPED audit corpus (≤ 1000 vectors per side), same rationale as
    // t85: the comparison standard is brute-force mining, whose cost is
    // quadratic in the corpus — an audit's cost must never scale with
    // the data it samples (marginMine's own scaling is benched in
    // docs/BENCH_SF1.md). At sf0.1 the cap is a no-op (2000 vectors).
    // Spread: the parquet scan is one split, so all four serve stages
    // (fwd/bwd × bf/LSH — the audit's dominant compute, each a
    // 0.7–2 s single-task scoring pass) ran on one core. Size-guarded,
    // identity at scale (guide §2.5); one exchange of ≤ 2000 rows is
    // reused by every branch of each leg's plan.
    val emb = graft.util.Spread.ifTinyScan(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < 2000))
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 =!= 0)
    def mine(topK: Similarity.TopKProvider) =
      Similarity.marginMine(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 4, threshold = 1.0, topK = topK)
    // each side feeds 2-3 comparisons: eager-pin so neither mining run
    // recomputes per aggregate; the two pins are independent job
    // chains, overlapped per guide §2.6
    val (bf, ann) = graft.util.Par.par2(
      mine(Similarity.bruteForceTopK).localCheckpoint(true),
      mine(Similarity.lshProvider(bits = 2, tables = 32))
        .localCheckpoint(true))
    val bfAcc = bf.filter(col("accepted"))
      .select(col("src_id"), col("tgt_id"))
    val annAcc = ann.filter(col("accepted"))
      .select(col("src_id"), col("tgt_id"))
    val nBf = bfAcc.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("bf_accepted").as("check"), col("value"))
    val recall = annAcc.join(bfAcc, Seq("src_id", "tgt_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("hit"))
      .crossJoin(bfAcc.agg(count(lit(1)).cast("double").as("den")))
      .select(lit("pair_recall").as("check"),
              round(col("hit") / col("den"), 6).as("value"))
    val drift = bf
      .select(col("src_id"), col("tgt_id"), col("margin").as("m_bf"))
      .join(ann.select(col("src_id"), col("tgt_id"),
        col("margin").as("m_ann")), Seq("src_id", "tgt_id"))
      .agg(coalesce(max(abs(col("m_ann") - col("m_bf"))), lit(0.0))
        .as("value"))
      .select(lit("margin_drift_max").as("check"), col("value"))
    nBf.unionByName(recall).unionByName(drift).orderBy(col("check"))
  }

  /** t77_ivfpq_topk — the IVF-PQ serving layout (FAISS `IVF16,PQ8`
    * shape): corpus assigned once to 16 coarse cells and stored as
    * (id, cell, codes); a query ADC-scans only its 8 probed cells'
    * codes, shortlists k·8, and reranks the shortlist's raw vectors
    * exactly. The cell prune multiplies t57's 32× compression win by
    * nprobe/nlist of the scan (t78 audits the fraction and pins the
    * recall floor). Rows-only driver row; t78 is the enforced
    * cross-check.
    */
  def t77IvfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Pq.ivfPqTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, nlist = 16, nprobe = 8, m = 8, ksub = 16, iters = 1,
        rerank = 8)
      .orderBy(col("qid"), col("rank"))
  }

  /** t78_ivfpq_check — the enforced IVF-PQ contract (cross-check
    * justifying t77's rows-only row): recall@5 of the t77 production
    * setting vs the exact brute-force top-5 (t16-style semi-join),
    * plus the PRUNE WITNESS — `scanned_rows` (code rows the probed
    * cells actually feed the ADC kernel), `full_scan_rows` (what plain
    * PQ scores: |corpus|·|queries|), `scan_fraction` (their ratio;
    * the gate pins it ≤ nprobe/nlist + skew headroom, proving the cell
    * join prunes the scan rather than decorating it).
    */
  def t78IvfPqCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("id")).persist()
    val denom = exact.count()
    val recall = t77IvfPqTopK(spark, sfDir)
      .select(col("qid"), col("id"))
      .join(exact, Seq("qid", "id"), "left_semi")
      .agg(round(count(lit(1)).cast("double") / lit(denom), 6).as("value"))
      .select(lit("recall_at_5").as("check"), col("value"))
    val audit = Pq.ivfPqScanAudit(emb, "vec_id", "embedding",
      queries, "qid", "qvec", nlist = 16, nprobe = 8)
    recall.unionByName(audit).orderBy(col("check"))
  }

  /** t81_ivfpq_append — the index MAINTENANCE path (FAISS `add()`
    * contract): train centroids + codebook on the base corpus
    * (vec_id % 7 ≠ 0), build its index, then APPEND the remaining
    * sevenths as a new ingest batch — pure per-row assignment under
    * the FIXED index, no retraining, no touching existing rows. Two
    * enforced (check, value) rows:
    *
    *  - `append_parity_violations`: every appended row's (cell, codes)
    *    must be bit-equal to what a full-corpus build under the same
    *    index assigns it (assignment is a pure function of the vector
    *    — partitioning and batch boundaries can never leak in). == 0.
    *  - `recall_at_5`: serving the t77 production setting from the
    *    appended index vs exact brute force over the full corpus —
    *    the appended batch must be as findable as the base (floor
    *    pinned from measurement; centroids see only 6/7 of the data).
    */
  def t81IvfPqAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val batch = emb.filter(col("vec_id") % 7 === 0)
    val (cents, cb) = Pq.ivfPqTrain(base, "embedding", nlist = 16,
      refineIters = 0, m = 8, ksub = 16, iters = 1)
    val appended = Pq.ivfPqIndex(base, "vec_id", "embedding", cents, cb)
      .unionByName(Pq.ivfPqIndex(batch, "vec_id", "embedding", cents, cb))
      .localCheckpoint(true) // feeds the parity check AND the serve
    val full = Pq.ivfPqIndex(emb, "vec_id", "embedding", cents, cb)
      .select(col("id"), col("cell").as("f_cell"), col("codes").as("f_codes"))
    val parity = appended.join(full, "id")
      .filter(col("cell") =!= col("f_cell") ||
              col("codes") =!= col("f_codes"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("append_parity_violations").as("check"), col("value"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("id")).persist()
    val denom = exact.count()
    val recall = Pq.ivfPqServe(appended, emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 8, cents, cb)
      .select(col("qid"), col("id"))
      .join(exact, Seq("qid", "id"), "left_semi")
      .agg(round(count(lit(1)).cast("double") / lit(denom), 6).as("value"))
      .select(lit("recall_at_5").as("check"), col("value"))
    parity.unionByName(recall).orderBy(col("check"))
  }

  /** t82_temperature_mix — mT5/XLM-R α-sampling: tempered share
    * q_s ∝ n_s^0.5, each group keeps min(n_s, ⌊200·q_s⌋) rows by the
    * deterministic md5 cut. The corpus's `source` column is uniform
    * (α does nothing on equal sizes), so the query groups by a
    * deliberately SKEWED derived domain — g⌊√doc_id⌋, sizes
    * 1, 3, 5, …, 45 — the multilingual-corpus shape the operator
    * exists for: the 1-doc group survives whole, the 45-doc group
    * keeps ~29%. ⌊√·⌋ is IEEE-exact in both engines (sqrt is a
    * correctly-rounded operation, exact at perfect squares), so group
    * membership replays bit-for-bit; quotas floor the 6dp-ROUNDED
    * tempered product (the cross-engine fp convention). Exact oracle:
    * counts → quotas → the same md5-rank window cut.
    */
  def t82TemperatureMix(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Mixing.temperatureMix(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"),
            concat(lit("g"), floor(sqrt(col("doc_id").cast("double")))
              .cast("long")).as("domain")),
        "domain", "doc_id", alpha = 0.5, targetRows = 200)
      .select(col("doc_id"), col("domain"))
      .orderBy(col("doc_id"))

  /** t83_shard_manifest — size-balanced output sharding + manifest:
    * the corpus in md5-shuffled order (the training-shard convention —
    * every shard is an unbiased sample) cut into 64-row shards, then
    * the shard-cardinality manifest (rows, id range, summed token
    * weight) a training job reads instead of listing files. The rank
    * is denseIds' range-repartition machinery (no one-task window);
    * the manifest is one map-side-combinable aggregate. Exact oracle:
    * row_number over the same md5 order, floor-div shard, same
    * aggregates.
    */
  def t83ShardManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = Ids.shardAssign(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
      Seq(md5(col("doc_id").cast("string")), col("doc_id")),
      rowsPerShard = 64)
    Ids.shardManifest(assigned, "doc_id", "n_chars")
      .orderBy(col("shard"))
  }

  /** t87_validate_suite — the data-quality release gate (dbt-test /
    * Great-Expectations shape): six declared expectations over the
    * corpus run in ONE scan (each rule is a conditional-sum slot in
    * the same partial aggregate) plus the key-uniqueness expectation
    * (one group-cardinality count — never a window). `n_chars_min_150`
    * intentionally FAILS (90 of 500 docs are shorter) so the report
    * exercises real violation counting, not just green rows. NULL
    * predicate results count as violations (unknown ≠ passed). Exact
    * oracle replays every conditional sum.
    */
  def t87ValidateSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    sharedCensus(spark, sfDir, "t87_validate_suite") {
      graft.ops.Validate.check(docs, Seq(
        "doc_id_not_null" -> col("doc_id").isNotNull,
        "n_chars_matches_text" -> (col("n_chars") === length(col("text"))),
        "lang_known" -> col("lang").isin("de", "en", "es", "fr", "zh"),
        "source_format" -> col("source").rlike("^src[0-9]+$"),
        "text_nonempty" -> (length(col("text")) > 0),
        "n_chars_min_150" -> (col("n_chars") >= 150)))
      .unionByName(
        graft.ops.Validate.checkUnique(docs, Seq("doc_id"), "doc_id_unique"))
    }.orderBy(col("rule"))
  }

  /** t88_snapshot_diff — CDC between two corpus versions: the old
    * snapshot drops every 10th doc and carries " v1" text for
    * multiples of 7; the new snapshot drops every 13th — so the diff
    * must classify multiples of 10 (present in new only) as inserted,
    * multiples of 13 as deleted, surviving multiples of 7 as updated,
    * everything else unchanged. Both sides pre-hash their payload to
    * 8 bytes, so the full-outer join carries keys + hashes, never two
    * text payloads (see SnapshotDiff.diff). Exact oracle replays the
    * derivation and the classification with direct value compares.
    */
  def t88SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val oldSnap = base.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")))
    val newSnap = base.filter(col("doc_id") % 13 =!= 0)
    sharedCensus(spark, sfDir, "t88_snapshot_diff") {
      graft.ops.SnapshotDiff.diff(oldSnap, newSnap, Seq("doc_id"))
    }.orderBy(col("doc_id"))
  }

  /** t90_leakfree_split — contamination-safe train/val/test
    * assignment: the split keys on the near-dup COMPONENT (t18's pair
    * set: exact-dup clusters ∪ df-capped 3-gram Jaccard ≥ 0.5), so a
    * near-identical copy of a test document can never land in train —
    * the leakage a per-document split (t34) silently allows. Same
    * oracle-reproducible arithmetic as t34, applied to the component
    * id; the DuckDB oracle recomputes components with the recursive
    * CTE and replays the arithmetic.
    */
  def t90LeakFreeSplit(spark: SparkSession, sfDir: String): DataFrame =
    // assignLeakFree = assignArithmetic over labelCorpus — the labels
    // come from the shared census, the arithmetic is unchanged
    Splits.assignArithmetic(
        nearDupLabelsCensus(spark, sfDir)
          .select(col("doc_id"), col("component")),
        "component")
      .orderBy(col("doc_id"))

  /** t89_cdc_apply — the APPLY half of CDC (t88 is the read half):
    * a mutable table holding the old snapshot is brought to the new
    * one INCREMENTALLY — upsert only the inserted+updated keys' rows,
    * delete only the deleted keys (SnapshotDiff.applyDiff driving
    * MutableTable's null-safe MERGE verbs) — and the final state must
    * equal the new snapshot EXACTLY, which is what the oracle is: the
    * new-snapshot derivation itself. The refresh's input side is
    * change-cardinality, never a snapshot reload.
    */
  def t89CdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val oldSnap = base.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")))
    val newSnap = base.filter(col("doc_id") % 13 =!= 0)
    val work = graft.io.TempDirs.create("t89_cdc").toString
    val table = graft.io.MutableTable.create(spark, s"$work/table", oldSnap)
    graft.ops.SnapshotDiff.applyDiff(table, newSnap, Seq("doc_id"))
    table.read().orderBy(col("doc_id"))
  }

  /** t86_stream_quantiles — streaming per-window quantiles (the
    * p50/p95/p99 monitoring readout): t14's watermarked 1-day append
    * window, with the value distribution summarized by
    * percentile_approx's Greenwald–Khanna sketch held in streaming
    * state (bounded by accuracy, never window row count). At the test
    * scale every window holds far fewer rows than accuracy=10000, so
    * GK's < 1-rank error bound makes the emitted elements EXACT order
    * statistics — the DuckDB oracle replays them as rank picks over
    * the same finalized windows.
    */
  def t86StreamQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, sfDir)
      .withColumn("value", col("value").cast("double"))
    val agg = StreamingFlows.dailyQuantiles(stream, "ts", "event_type",
      "value")
    StreamingFlows.runAvailableNow(spark, agg, "t86_quant", statePartitions = 8)
      .orderBy(col("day"), col("event_type"))
  }

  /** t96_stream_sketch — streaming mergeable-sketch maintenance: the
    * t91 daily HLL table kept current by a watermarked streaming
    * aggregation instead of a nightly batch. HLL union is a
    * register-wise max — commutative, associative, idempotent — so
    * the sketch a stream accretes across micro-batches is
    * REGISTER-IDENTICAL to the one-shot batch build, and estimate
    * equality (not mere closeness) is the enforced contract, same
    * shape as t84's index parity. Emits (check, value):
    * `n_days` (> 0), `n_mismatch` (streaming estimate ≠ batch
    * estimate or day missing on either side — must be 0).
    */
  def t96StreamSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, sfDir)
    val daily = StreamingFlows.dailyKeySketch(stream, "ts", "user_id")
    val streamed = StreamingFlows.runAvailableNow(spark, daily,
        "t96_sketch", statePartitions = 8)
    val sEst = streamed
      .select(col("day"), hll_sketch_estimate(col("sk")).as("s_est"))
    // append mode emits only watermark-FINALIZED windows (window end ≤
    // final watermark = max ts − 1 day), so the batch reference is
    // filtered to the same set — the t14/t86 convention. The cutoff
    // rides as a broadcast 1-row frame, not a driver collect.
    val events = Tables.events(spark, sfDir)
    val wm = events.agg(
      (max(col("ts")) - expr("INTERVAL 1 DAY")).as("cutoff"))
    val bEst = Sketches.dailyKeySketches(events, "ts", "user_id")
      .select(col("day"), hll_sketch_estimate(col("sk")).as("b_est"))
      .crossJoin(broadcast(wm))
      .filter(date_add(col("day"), 1).cast("timestamp") <= col("cutoff"))
      .drop("cutoff")
    val joined = sEst.join(bEst, Seq("day"), "full_outer")
      .localCheckpoint(true)
    val nDays = joined.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_days").as("check"), col("value"))
    val nMismatch = joined
      .agg(sum(when(col("s_est").isNull || col("b_est").isNull ||
        col("s_est") =!= col("b_est"), 1).otherwise(0))
        .cast("double").as("value"))
      .select(lit("n_mismatch").as("check"), col("value"))
    nDays.unionByName(nMismatch).orderBy(col("check"))
  }

  /** t84_stream_index_append — streaming IVF-PQ index maintenance run
    * to completion: the index trains ONCE (centroids + codebook on the
    * initial corpus), then the embeddings stream in 4 micro-batches
    * and each batch assigns+encodes under the fixed index and upserts
    * into the index state table (see streaming/IndexAppend — the
    * accumulated index is never rescanned or re-encoded). Two
    * enforced (check, value) rows: `index_parity_violations` — the
    * final state must be BIT-identical (both exceptAll directions) to
    * the one-shot batch build, because assignment is a pure per-row
    * function and batch boundaries can never leak — and `state_rows`
    * (> 0 so the parity row is never vacuously green).
    */
  def t84StreamIndexAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (cents, cb) = Pq.ivfPqTrain(emb, "embedding", nlist = 16,
      refineIters = 0, m = 8, ksub = 16, iters = 1)
    val work = graft.io.TempDirs.create("t84_stream").toString
    // 4 files → 4 micro-batches; arrival order is irrelevant to the
    // result (pure per-row assignment, id-keyed upsert), so no
    // mod-time pinning is needed (unlike t39's arrival-defined dedup)
    emb.repartition(4).write.parquet(s"$work/in")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$work/in")
    val state = IndexAppend.run(spark, stream,
        "vec_id", "embedding", s"$work/state", cents, cb)
      .localCheckpoint(true) // feeds both parity legs + the count
    val oneShot = Pq.ivfPqIndex(emb, "vec_id", "embedding", cents, cb)
    val violations = state.exceptAll(oneShot)
      .unionByName(oneShot.exceptAll(state))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("index_parity_violations").as("check"), col("value"))
    val rows = state.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("state_rows").as("check"), col("value"))
    violations.unionByName(rows).orderBy(col("check"))
  }

  /** t85_margin_ann_clustered — the ANN candidate pass at PRODUCTION
    * LSH parameters (bits=10 → 1024 buckets/table, 4 tables — the
    * sub-quadratic setting BENCH_SF1 measures) on the clustered
    * corpus, where those parameters have real recall. The contract
    * here is deliberately NOT accepted-pair parity: within a cluster
    * every margin hovers at ≈ 1.0 (the NNk normalizer equals the best
    * cosine when all neighbors are equally close), so acceptance at
    * threshold 1.0 is knife-edge by construction and any approximation
    * flips it — t76 pins exact mining parity at the wide-recall
    * setting instead. What production params must deliver is the
    * NEIGHBOR LISTS and the CHOICES:
    *
    *  - `nn_recall`: fraction of the exact forward top-4 (src → tgt)
    *    pairs the LSH provider also surfaces — the quantity the
    *    hyperplane-LSH theory bounds ((1-θ/π)^bits per table,
    *    OR-composed over tables ≈ 0.9 at cos 0.97);
    *  - `choice_agreement`: fraction of sources whose argmax-margin
    *    TARGET matches brute-force mining's;
    *  - `n_src`: denominator sanity (> 0).
    */
  def t85MarginAnnClustered(spark: SparkSession, sfDir: String): DataFrame = {
    // the audit corpus is CAPPED (≤ 1000 vectors per side): the
    // contract under test is parameter behavior, and the comparison
    // standard is brute force, whose cost would otherwise scale
    // quadratically with the corpus — an audit's cost must not (the
    // operator's own scaling is benched via t75/t75_margin_ann)
    val clustered = clusteredEmbeddings(spark, sfDir)
      .filter(col("vec_id") < 2000)
    val src = clustered.filter(col("vec_id") % 2 === 0)
    val tgt = clustered.filter(col("vec_id") % 2 =!= 0)
    def mine(topK: Similarity.TopKProvider) =
      Similarity.marginMine(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 4, threshold = 1.0, topK = topK)
    // each forward serve computed ONCE (it feeds both the nn-recall
    // legs and the mining candidate passes — precomputedTopK), the
    // two independent eager chains overlapped per guide §2.6
    val srcQ = src.select(col("vec_id").as("qid"),
                          col("embedding").as("qvec"))
    val (bfFwd, annFwd) = graft.util.Par.par2(
      Similarity.bruteForceTopK(tgt, "vec_id", "embedding",
          srcQ, "qid", "qvec", k = 4)
        .localCheckpoint(true),
      Similarity.lshTopK(tgt, "vec_id", "embedding",
          srcQ, "qid", "qvec", k = 4, bits = 10, tables = 4)
        .localCheckpoint(true))
    val nnDen = bfFwd.count()
    val nnRecall = annFwd.select(col("qid"), col("id"))
      .join(bfFwd.select(col("qid"), col("id")), Seq("qid", "id"),
        "left_semi")
      .agg(round(count(lit(1)).cast("double") / lit(nnDen), 6).as("value"))
      .select(lit("nn_recall").as("check"), col("value"))
    val (bf, ann) = graft.util.Par.par2(
      mine(Similarity.precomputedTopK(bfFwd, "tgt_id",
          Similarity.bruteForceTopK))
        .select(col("src_id"), col("tgt_id").as("bf_tgt")),
      mine(Similarity.precomputedTopK(annFwd, "tgt_id",
          Similarity.lshProvider(bits = 10, tables = 4)))
        .select(col("src_id"), col("tgt_id").as("ann_tgt")))
    val joined = bf.join(ann, Seq("src_id")).localCheckpoint(true)
    val agree = joined
      .agg(round(sum(when(col("bf_tgt") === col("ann_tgt"), 1)
          .otherwise(0)).cast("double") / count(lit(1)), 6).as("value"))
      .select(lit("choice_agreement").as("check"), col("value"))
    val nSrc = joined.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_src").as("check"), col("value"))
    nnRecall.unionByName(agree).unionByName(nSrc).orderBy(col("check"))
  }

  /** t272_margin_ivfpq — cross-lingual bitext mining's PRODUCTION-
    * SCALE candidate pass: [[Similarity.marginMine]] driven by the
    * cell-routed [[Pq.ivfPqProvider]] (the CCMatrix layout — LASER-
    * style embeddings mined against a FAISS-shaped IVF-PQ index)
    * at its gated defaults (nlist=16, nprobe=8, m=8, ksub=256 —
    * the FAISS-standard 8-bit codebook; a 4-bit one cannot rank
    * inside dense near-tie clusters — rerank=8) on the CLUSTERED
    * corpus, t85's audit shape extended
    * with the witness t85 cannot give: the SCAN FRACTION. LSH
    * shortens candidate lists but still hashes every corpus row per
    * table; the IVF prune is what caps the per-query ADC read at
    * nprobe/nlist of the corpus, so the gate pins all three legs of
    * the production claim at once —
    *
    *  - `nn_recall`: fraction of the exact forward top-4 pairs the
    *    IVF-PQ provider surfaces (rerank=8 re-scores exact cosine on
    *    the 8k shortlist; measured 1.0 at verify scale, 0.93 at
    *    sf0.1's denser clusters);
    *  - `choice_agreement`: fraction of sources whose argmax-margin
    *    target matches brute-force mining's (margins recompute over
    *    approximate NNk means exactly as production does);
    *  - `scan_fraction`: [[Pq.ivfPqScanAudit]] at the same index
    *    parameters — probed-cell ADC rows over the full cross
    *    product, ≈ nprobe/nlist (the same audit t78 enforces, here
    *    pinned on the corpus the mining gate actually runs on);
    *  - `n_src`: denominator sanity.
    *
    * Audit corpus capped harder than t85 (≤ 500 vectors/side, not
    * 1000): brute force is the comparison standard and an audit's
    * cost must not scale quadratically — and the ADC leg's pair
    * count (|queries| × probed rows) is the one cost the prune
    * cannot remove from an all-queries audit, so the query side is
    * capped too; the operator's own 10× evidence is the t77/t85
    * BENCH_SF1 family. Rows-only (hash-derived buckets feed the
    * k-means seeds); the enforced Verify gates are the contract.
    */
  def t272MarginIvfpq(spark: SparkSession, sfDir: String): DataFrame = {
    // bounded audit corpus (≤ 1000 rows by the cap) behind a 1-2
    // partition census checkpoint: the four serve/scoring legs below
    // (ADC forward serve, both mines' backward serves, the brute-force
    // baseline) are the query's dominant compute and each ran as ONE
    // task. An 8-way round-robin of ≤ 1000 rows is O(1) and splits
    // every leg; the training collects pay a few extra near-empty
    // tasks, which the serve wins repay several times over.
    val clustered = clusteredEmbeddings(spark, sfDir)
      .filter(col("vec_id") < 1000)
      .repartition(8)
    val src = clustered.filter(col("vec_id") % 2 === 0)
    val tgt = clustered.filter(col("vec_id") % 2 =!= 0)
    val srcQ = src.select(col("vec_id").as("qid"),
                          col("embedding").as("qvec"))
    def mine(topK: Similarity.TopKProvider) =
      Similarity.marginMine(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 4, threshold = 1.0, topK = topK)
    // one trained index per side, shared by every leg below (the
    // production call pattern — an index amortizes; retraining it
    // inside each of the audit's three serve legs would triple the
    // driver-bounded training cost for identical cells/codes). The
    // provider closure dispatches on the id column marginMine binds
    // per direction: the backward leg is the only src-corpus serve.
    // Eager chains overlap per guide §2.6, and EACH FORWARD SERVE IS
    // COMPUTED ONCE: the brute-force forward top-k feeds both the
    // nn-recall baseline and bf-mining's candidate pass, the IVF-PQ
    // forward serve feeds both the nn-recall numerator and
    // ann-mining's candidate pass (Similarity.precomputedTopK) — the
    // profiled t272 spent ~6 of its 12 warm seconds re-running those
    // two identical serves.
    val (bfFwd, (centsT, cbT), (centsS, cbS)) =
      graft.util.Par.par3(
        Similarity.bruteForceTopK(tgt, "vec_id", "embedding",
            srcQ, "qid", "qvec", k = 4)
          .localCheckpoint(true),
        Pq.ivfPqTrain(tgt, "embedding", nlist = 16,
          refineIters = 1, m = 8, ksub = 256, iters = 1),
        Pq.ivfPqTrain(src, "embedding", nlist = 16,
          refineIters = 1, m = 8, ksub = 256, iters = 1))
    val provider: Similarity.TopKProvider =
      (corpus, idCol, vecCol, q, qidCol, qvecCol, k) => {
        val (cents, cb) =
          if (idCol == "src_id") (centsS, cbS) else (centsT, cbT)
        Pq.ivfPqTopK(corpus, idCol, vecCol, q, qidCol, qvecCol, k,
          nlist = 16, nprobe = 8, rerank = 8,
          codebook = Some(cb), centroids = Some(cents))
      }
    // the IVF-PQ forward serve, once (eager — two consumers below)
    val annFwd = provider(tgt, "vec_id", "embedding", srcQ,
        "qid", "qvec", 4)
      .localCheckpoint(true)
    val nnDen = bfFwd.count()
    val nnRecall = annFwd.select(col("qid"), col("id"))
      .join(bfFwd.select(col("qid"), col("id")), Seq("qid", "id"),
        "left_semi")
      .agg(round(count(lit(1)).cast("double") / lit(nnDen), 6).as("value"))
      .select(lit("nn_recall").as("check"), col("value"))
    val (bf, ann) = graft.util.Par.par2(
      mine(Similarity.precomputedTopK(bfFwd, "tgt_id",
          Similarity.bruteForceTopK))
        .select(col("src_id"), col("tgt_id").as("bf_tgt")),
      mine(Similarity.precomputedTopK(annFwd, "tgt_id", provider))
        .select(col("src_id"), col("tgt_id").as("ann_tgt")))
    val joined = bf.join(ann, Seq("src_id")).localCheckpoint(true)
    val agree = joined
      .agg(round(sum(when(col("bf_tgt") === col("ann_tgt"), 1)
          .otherwise(0)).cast("double") / count(lit(1)), 6).as("value"))
      .select(lit("choice_agreement").as("check"), col("value"))
    val nSrc = joined.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_src").as("check"), col("value"))
    val scanFrac = Pq.ivfPqScanAudit(tgt, "vec_id", "embedding",
        srcQ, "qid", "qvec", nlist = 16, nprobe = 8, refineIters = 1,
        // the served index's own centroids — training is deterministic,
        // so passing them skips a bit-identical retraining
        centroids = Some(centsT))
      .filter(col("check") === "scan_fraction")
    nnRecall.unionByName(agree).unionByName(nSrc).unionByName(scanFrac)
      .orderBy(col("check"))
  }

  /** t79_pagerank_dangling — t64's domain-authority graph under the
    * dangling-mass-REDISTRIBUTING PageRank variant (the production
    * choice for crawl graphs, where most URLs have no out-links
    * in-corpus and the leaky variant systematically understates
    * authority mass): each round, the mass parked on no-out-link nodes
    * spreads uniformly inside the damping term, so Σpr stays exactly 1
    * (GraphSpec pins conservation; the DuckDB oracle replays the same
    * per-round dangling scalar in its CTE chain).
    */
  def t79PagerankDangling(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.documents(spark, sfDir)
      .select(col("source").as("src"),
        concat(lit("src"), (col("doc_id") * 7 + 3) % 20).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, "src", "dst", "w", iters = 3, damping = 0.85,
        redistributeDangling = true)
      .orderBy(col("node"))
  }

  /** t80_ivf_clustered_recall — the IVF serving-point recall contract
    * on a corpus that actually HAS neighbor structure: the synthetic
    * embeddings are near-orthogonal (t7/t16 scaladoc — max pairwise
    * cosine ≈ 0.51), so t16's production-setting floor (nlist=16,
    * nprobe=4 ≥ 0.5) is honest there but weak as a user contract.
    * Here each vector blends 85/15 toward its (vec_id mod 8) center —
    * eight well-separated clusters, the shape real embedding corpora
    * have — and the SAME production setting must hold ≥ 0.7 (the
    * floor the PQ gate already pins). One (check, value) row.
    */
  /** The deterministic clustered embedding corpus shared by t80 and
    * t85: each vector blends 85/15 toward its ⌊vec_id/2⌋ mod 8 center
    * — eight well-separated clusters, the neighbor structure real
    * embedding corpora have and the near-orthogonal synthetic table
    * lacks. The cluster key intentionally pairs consecutive ids so
    * every cluster straddles BOTH halves of an even/odd parity split
    * (vec_id mod 8 would put whole clusters on one side, leaving the
    * t85 cross-side mining with no within-cluster pairs at all).
    * Eagerly pinned: every consumer compares two paths over it and
    * the comparison assumes BITWISE-identical vectors.
    */
  // Computed ONCE per (session, sfDir) — t80, t85, and t272 all
  // start from this identical blended-cluster corpus, and each used
  // to pay its own eager localCheckpoint job (the shared-census
  // convention: one SessionCache checkpoint per expensive relation
  // with multiple fixture consumers).
  private val clusteredEmbCache = new graft.SessionCache[DataFrame]
  private def clusteredEmbeddings(spark: SparkSession,
                                  sfDir: String): DataFrame =
    clusteredEmbCache.getOrElseUpdate(spark, sfDir) {
      val emb = Tables.embeddings(spark, sfDir)
      val centers = emb.filter(col("vec_id") < 16 && col("vec_id") % 2 === 0)
        .select(floor(col("vec_id") / 2).cast("int").as("c"),
                col("embedding").as("cvec"))
      emb.join(broadcast(centers),
          (floor(col("vec_id") / 2) % 8).cast("int") === col("c"))
        .select(col("vec_id"),
          zip_with(col("cvec"), col("embedding"),
            (a, b) => a * lit(0.85) + b * lit(0.15)).as("embedding"))
        .localCheckpoint(true)
    }

  def t80IvfClusteredRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val clustered = clusteredEmbeddings(spark, sfDir)
    val queries = clustered.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("id")).persist()
    val denom = exact.count()
    Similarity.ivfTopK(clustered, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nlist = 16, nprobe = 4)
      .select(col("qid"), col("id"))
      .join(exact, Seq("qid", "id"), "left_semi")
      .agg(round(count(lit(1)).cast("double") / lit(denom), 6).as("value"))
      .select(lit("recall_at_5_nlist16_nprobe4").as("check"), col("value"))
  }

  /** t74_compress_ratio — DEFLATE-compressibility quality signal (the
    * "too compressible = boilerplate" heuristic): deflated/raw byte
    * ratio per document, flagged below 0.4. No SQL engine replays
    * zlib, so the driver row is rows-only — justified by the ENFORCED
    * gate: INFLATE(DEFLATE(text)) must reproduce every document
    * byte-exactly and sizes must be positive-sane, zero violations.
    */
  def t74CompressRatio(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.compressionRatio(
        Tables.documents(spark, sfDir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** t73_epoch_shuffle — deterministic per-epoch training order: two
    * epochs of md5-seeded global permutations, each a dense rank via
    * the range-partition + offset machinery (no single-task window —
    * see Ids.denseIds). Exact oracle: row_number over the same md5
    * ordering per epoch.
    */
  def t73EpochShuffle(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Ids.epochShuffle(
        Tables.documents(spark, sfDir).select(col("doc_id")),
        "doc_id", epochs = 2)
      .select(col("doc_id"), col("epoch"), col("epoch_pos"))
      .orderBy(col("epoch"), col("epoch_pos"))

  /** Shared by t71/t72: per finalized 1-day window, the Misra–Gries
    * event-type summary maintained INSIDE the streaming aggregation
    * state (the TypedImperativeAggregate buffer serializes into the
    * state store and merges across shuffle partials — the
    * bounded-memory form a real stream keeps when the key domain is
    * unbounded). Capacity 4 < the 6 event types, so decrement pressure
    * genuinely exercises in streaming state.
    */
  private def streamHhRun(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = Tables.eventsStream(spark, sfDir).withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.HeavyHitterFunctions
             .misra_gries(array(col("event_type")), 4).as("hh"),
           count(lit(1)).as("n_events"))
      .select(col("w.start").as("day"), col("n_events"),
              posexplode(col("hh")).as(Seq("pos", "e")))
      .select(col("day"), col("n_events"), (col("pos") + 1).as("rank"),
              col("e").getField("token").as("event_type"),
              col("e").getField("est").as("est"))
    StreamingFlows.runAvailableNow(spark, agg, "t71_hh", statePartitions = 8)
  }

  /** t71_stream_hh — the windowed heavy-hitter summary itself.
    * Rows-only driver record (MG estimates are merge-order-dependent),
    * justified by the ENFORCED t72 gate.
    */
  def t71StreamHh(spark: SparkSession, sfDir: String): DataFrame =
    streamHhRun(spark, sfDir).orderBy(col("day"), col("rank"))

  /** t72_stream_hh_check — the MG contract of a fresh t71 run checked
    * against exact per-finalized-window counts (batch replay of the
    * append-mode watermark, t14's convention): per window with N
    * events and capacity k=4 — every event type with true count >
    * N/(k+1) present; no estimate above true; none more than N/(k+1)
    * below; ≤ k entries per window. All zero — Verify enforces.
    */
  def t72StreamHhCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val capacity = 4
    val sketch = streamHhRun(spark, sfDir).localCheckpoint(true)
    val events = Tables.events(spark, sfDir)
    val maxTs = broadcast(events.agg(max(col("ts")).as("__max")))
    val finalized = events.crossJoin(maxTs)
      .filter(date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY") <=
              col("__max") - expr("INTERVAL 1 DAY"))
    val exact = finalized
      .groupBy(date_trunc("day", col("ts")).as("day"),
               col("event_type"))
      .agg(count(lit(1)).as("true_n"))
    val totals = exact.groupBy(col("day"))
      .agg((sum(col("true_n")) / (capacity + 1)).as("err"))
    val j = exact.join(totals, "day")
      .join(sketch.select(col("day"), col("event_type"), col("est")),
            Seq("day", "event_type"), "left")
    def violations(name: String, cond: org.apache.spark.sql.Column) =
      j.filter(cond).agg(count(lit(1)).cast("double").as("value"))
        .select(lit(name).as("check"), col("value"))
    violations("guarantee_violations",
        col("true_n") > col("err") && col("est").isNull)
      .unionByName(violations("overestimate_violations",
        col("est").isNotNull && col("est") > col("true_n")))
      .unionByName(violations("underestimate_violations",
        col("est").isNotNull && col("est") < col("true_n") - col("err")))
      .unionByName(sketch.groupBy(col("day"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(col("n") > capacity, lit(1))
          .otherwise(lit(0))), lit(0)).cast("double").as("value"))
        .select(lit("capacity_violations").as("check"), col("value")))
      .orderBy(col("check"))
  }

  /** t70_k_anonymity — group-level privacy beyond t19's per-string
    * PII redaction: suppress rows whose (lang, source)
    * quasi-identifier combination occurs fewer than k=5 times. One
    * map-side-combinable count on the quasi key joined back on the
    * same key (AQE broadcasts the group-cardinality count table) —
    * never a corpus window. Exact count-window oracle.
    */
  def t70KAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Privacy.kAnonymize(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("source")),
        Seq("lang", "source"), k = 5)
      .select(col("doc_id"), col("lang"), col("source"),
              col("group_size"), col("kept"))
      .orderBy(col("doc_id"))

  /** t69_length_buckets — dynamic-batching precursor: quartile
    * length-bucket the corpus by BPE-ish token count and report each
    * bucket's padding waste (vs padding every batch to the bucket
    * max). Edges are one exact-percentile aggregate broadcast as a
    * 1-row frame (t52's threshold pattern — no global-rank window);
    * the oracle replays the token count via the portable regexp and
    * the edges via quantile_cont, both 6dp-aligned.
    */
  def t69LengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.bpeish_token_count(col("text")).as("w"))
    Packing.lengthBuckets(docs, "doc_id", "w", numBuckets = 4)
      .orderBy(col("bucket"))
  }

  /** t68_bpe_encode — the tokenizer APPLY step: learn 12 BPE merge
    * rules from the corpus (t55's deterministic, tie-broken training),
    * then encode every document with them — one shuffle-free
    * projection with a nested merge-kernel pass per rule. Rows-only
    * driver record (merge-pass replay is not reasonably
    * SQL-expressible) justified by the ENFORCED gate: every document's
    * encoded symbols must concatenate back to its exact token stream,
    * n_words ≤ n_bpe_tokens ≤ n_chars, zero violations.
    */
  def t68BpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val rules = bpeRules12(spark, sfDir)
      .orderBy(col("step"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    Bpe.encode(docs, "doc_id", "text", rules)
      .orderBy(col("doc_id"))
  }

  /** t67_ngram_novelty — train/val n-gram overlap (memorization-risk
    * coverage): for every VAL-split document (t34's arithmetic
    * buckets), the fraction of its distinct 3-token shingles already
    * present anywhere in the TRAIN split. 8-byte-hash join in the
    * engine; the oracle replays split arithmetic + string shingles
    * (identical modulo 64-bit collisions — none at oracle scale,
    * the t28 convention).
    */
  def t67NgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val split = Splits.assignArithmetic(Tables.documents(spark, sfDir), "doc_id")
    TextDedup.ngramNovelty(
        target = split.filter(col("split") === "val"),
        reference = split.filter(col("split") === "train"),
        textCol = "text", idCol = "doc_id")
      .orderBy(col("doc_id"))
  }

  /** t65_heavy_hitters — bounded-memory frequent tokens via the native
    * Misra–Gries partial aggregate (capacity 16 < the corpus' distinct
    * vocabulary, so the decrement/merge-reduction paths genuinely
    * exercise). Rows-only driver record — MG estimates are
    * partition-layout-dependent — justified by the ENFORCED t66 gate:
    * the sketch's theoretical contract is machine-checked every run.
    */
  def t65HeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.heavyHitters(Tables.documents(spark, sfDir), "text",
        capacity = 16)
      .orderBy(col("rank"))

  /** t66_hh_check — the Misra–Gries contract, checked against the
    * exact token counts (capacity k = 16, N = total tokens,
    * err = N/(k+1)): every token with true count > err is present;
    * no estimate exceeds its true count; no estimate sits more than
    * err below it; the summary never exceeds k entries. All four
    * violation counts must be 0 — Verify fails the round otherwise.
    */
  def t66HhCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val capacity = 16
    val docs = Tables.documents(spark, sfDir)
    val sketch = CorpusStats.heavyHitters(docs, "text", capacity)
      .localCheckpoint(true) // referenced by three checks — compute once
    val toks = filter(TextDedup.tokens(col("text")), x => length(x) > 0)
    val exact = docs.select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("true_n"))
    val err = exact.agg((sum(col("true_n")) / (capacity + 1)).as("err"))
    val j = exact
      .join(sketch.select(col("token"), col("est")), Seq("token"), "left")
      .crossJoin(broadcast(err))
    def violations(name: String, cond: org.apache.spark.sql.Column) =
      j.filter(cond).agg(count(lit(1)).cast("double").as("value"))
        .select(lit(name).as("check"), col("value"))
    violations("guarantee_violations",
        col("true_n") > col("err") && col("est").isNull)
      .unionByName(violations("overestimate_violations",
        col("est").isNotNull && col("est") > col("true_n")))
      .unionByName(violations("underestimate_violations",
        col("est").isNotNull && col("est") < col("true_n") - col("err")))
      .unionByName(sketch
        .agg(greatest(lit(0.0),
          (count(lit(1)) - capacity).cast("double")).as("value"))
        .select(lit("size_overflow").as("check"), col("value")))
      .orderBy(col("check"))
  }

  /** t63_stream_enrich — stream-static broadcast enrichment feeding a
    * watermarked windowed aggregate: the events stream joins the
    * static customer dimension per micro-batch (stateless broadcast
    * hash join — no join state ever accumulates), then aggregates
    * daily totals per market segment under a 1-day watermark. The
    * oracle replays the append-mode contract exactly like t14's —
    * emitted windows are precisely those with end <= max(ts) - 1 day —
    * with the dimension join as a plain SQL join.
    */
  def t63StreamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, sfDir)
      .withColumn("value", col("value").cast("decimal(18,2)"))
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    // watermark BEFORE the join: event-time progress must track ALL
    // arriving events (the oracle's max(ts) is over the full stream),
    // not just the rows that survived the dimension match
    val agg = StreamingFlows
      .enrichWithDim(stream.withWatermark("ts", "1 day"), dim,
        "user_id", "c_custkey")
      .groupBy(window(col("ts"), "1 day").as("day_window"),
               col("c_mktsegment"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
      .select(col("day_window.start").as("day"), col("c_mktsegment"),
              col("total"), col("n"))
    // ~150 (day, segment) keys of state — same sizing rationale as t14
    StreamingFlows.runAvailableNow(spark, agg, "t63_enrich", statePartitions = 8)
      .withColumn("total", col("total").cast("double"))
      .orderBy(col("day"), col("c_mktsegment"))
  }

  /** t61_char_entropy — character-distribution quality profile:
    * Shannon entropy over code points, distinct-char count, and modal
    * char share per document, with the low-entropy/high-modal-share
    * garbage flag. One native kernel pass, zero shuffle (the
    * explode-per-character formulation the DuckDB oracle uses would
    * shuffle one row per character at corpus scale). Flag judged on
    * the 6dp-rounded values in both engines.
    */
  def t61CharEntropy(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.charEntropyProfile(
        Tables.documents(spark, sfDir), "text", "doc_id",
        minEntropy = 3.9, maxTopRatio = 0.2)
      .orderBy(col("doc_id"))

  /** t62_url_canon — URL canonicalization + URL-level keep-first dedup
    * (the CCNet/C4 provenance-dedup step): synthesize deliberately
    * messy URLs from doc fields (uppercase authority, explicit default
    * ports, tracking params, fragments, trailing slashes — five docs
    * share each underlying resource), canonicalize, and keep the
    * smallest doc_id per canonical key. Canonicalization is per-row
    * codegen'd expressions; the only shuffle is the canonical-key min
    * aggregate. The DuckDB oracle replays the synthesis and every
    * canonicalization step with its own regex engine (portable
    * patterns — no lookaround).
    */
  def t62UrlCanon(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val base = concat(col("source"), lit("/p"), col("doc_id") % 100)
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://Example.ORG:443/"), base,
               lit("/?utm_source=rss&ref=tw#top")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://example.org/"), base,
               lit("?utm_campaign=x&id=7&fbclid=abc")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("http://Example.org:80/"), base, lit("/#sec")))
      .otherwise(
        concat(lit("http://example.org/"), base, lit("?gclid=z&id=7&b=2")))
    UrlOps.dedupByCanonicalUrl(docs.withColumn("url", url), "url", "doc_id")
      .select(col("doc_id"), col("url"), col("canon_url"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** t32_pack — sequence packing: greedy contiguous TOKEN-budget
    * packing of the corpus into 2048-token training sequences over 8
    * deterministic shards, weighted by the native BPE-ish token
    * counter (the same kernel t10 exercises — real packers budget in
    * tokens, not characters). The discipline (one open bin per shard,
    * id order) is a pure function of (id, token count), so the DuckDB
    * oracle replays bin assignment exactly via a recursive CTE with
    * the equivalent regexp token count as the weight.
    */
  def t32Pack(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.bpeish_token_count(col("text")).as("w"))
    Packing.packGreedy(docs, "doc_id", "w", budget = 2048L, shards = 8)
      .orderBy(col("shard"), col("bin"), col("doc_id"))
  }

  /** t33_chunk — token-window chunking (the context-construction step
    * between curation and embedding): 16-token windows advancing by 12
    * (overlapping), short docs one whole-text chunk, trailing partial
    * windows kept. Pure per-row expressions, no shuffle; the DuckDB
    * oracle replays the window arithmetic with list slicing.
    */
  def t33Chunk(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tokenChunks(Tables.documents(spark, sfDir), "text", "doc_id",
        chunkTokens = 16, stride = 12)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** t34_split — deterministic train/val/test assignment (80/10/10)
    * over the documents table via the oracle-reproducible arithmetic
    * hash: a pure per-row label, zero shuffles before the final
    * ordered output. The xxhash64 production path is spec-covered
    * (proportions, disjointness, salt independence) — its hash isn't
    * reproducible outside the JVM, so the oracle pins this path.
    */
  def t34Split(spark: SparkSession, sfDir: String): DataFrame =
    Splits.assignArithmetic(Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  /** t35_collapse — within-document repetition removal: collapse runs
    * of consecutive identical tokens, with the audit stats pipelines
    * threshold on. Per-row expressions only; the DuckDB oracle
    * recomputes it through gaps-and-islands windows (an independent
    * formulation of the same semantics).
    */
  def t35Collapse(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.collapseRuns(Tables.documents(spark, sfDir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** t36_lm_score — CCNet-style fluency filter: train a bigram LM on
    * the corpus itself (two aggregations), score every document by
    * average negative log-likelihood via a key-partitioned join of
    * per-doc bigram counts against the model.
    */
  def t36LmScore(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.bigramLmScore(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** t37_incr_dedup — incremental dedup of a new batch against an
    * accumulated history snapshot, modeling a re-delivered shard:
    * history is docs 0-299, the batch is docs 200+ (so a third of the
    * batch is yesterday's tail arriving again and must drop). The
    * history compresses to one collected Bloom sketch over text
    * digests, bloom-negative batch rows pass through join-free, and
    * only the bloom-positive sliver rides the exact verify anti-join.
    * Final semantics are exact text set-difference — the oracle is a
    * plain NOT IN.
    */
  def t37IncrDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    IncrementalDedup.newDocs(
        batch = docs.filter(col("doc_id") >= 200),
        history = docs.filter(col("doc_id") < 300),
        textCol = "text", expectedItems = 1L << 20)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** t39_stream_dedup — continuous keep-first ingest dedup: the
    * doubled corpus (originals + id-shifted copies) streams in 2
    * doc_id-ranged micro-batches (2 files per trigger over the 4-file
    * fixture: originals first, then their id-shifted copies); the
    * batch collapses within itself, drops texts the state already
    * holds (running Bloom sketch + exact verify — the state is never
    * rescanned for membership), and appends survivors. Final state =
    * exactly the min-doc_id document per distinct text, which is what
    * the oracle computes in batch — batching-invariant, so 2 batches
    * exercise every transition 4 did (within-batch collapse, sketch
    * probe, state anti-join, cross-batch drop) at half the
    * micro-batch cadence: each trigger is ~5 sequential jobs of fixed
    * overhead, and the round-12 driver ran cadence-bound streaming
    * rows at 2× the battery's machine factor (t39 10.6 s vs ~5 s
    * builder — the same latency-tail shape as t64).
    */
  def t39StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = rangedDocsStream(Tables.documents(spark, sfDir), sfDir,
      filesPerBatch = 2)
    val work = graft.io.TempDirs.create("t39_ingest").toString
    IngestDedup.runKeepFirst(spark, stream, "text", "doc_id",
        s"$work/state", expectedItems = 1L << 20)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** t40_domain_filter — C4-style provenance filtering: the corpus
    * carries no URLs, so each doc gets a deterministic source URL
    * (derived from its source/lang/doc_id — the t19 enrichment
    * pattern, replayed identically by the oracle), the domain is
    * regex-extracted, flagged against a blocklist, and audited per
    * (domain, blocked). Extraction + flag are per-row expressions;
    * the audit is one partial-aggregable groupBy.
    */
  def t40DomainFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val blocklist = Seq("src7.example.org", "src13.example.org",
                        "src19.example.org")
    val withUrl = Tables.documents(spark, sfDir)
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.org/"),
               col("lang"), lit("/"), col("doc_id")))
    UrlOps.flagBlocked(withUrl, "url", blocklist)
      .groupBy(col("domain"), col("blocked"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("domain"))
  }

  /** t41_line_filter — C4-style per-line quality filtering over
    * deterministic 8-token pseudo-lines: a line survives with >= 5
    * words and a terminal-vocabulary last word; a document survives
    * with >= 2 surviving lines. Pure per-row expression work — one
    * scan, no shuffle.
    */
  def t41LineFilter(spark: SparkSession, sfDir: String): DataFrame =
    LineOps.c4LineFilter(Tables.documents(spark, sfDir),
        "doc_id", "text", lineLen = 8, minWords = 5,
        terminals = Seq("value", "table", "row", "scan", "data", "join"),
        minKeptLines = 2)
      .orderBy(col("doc_id"))

  /** t42_line_dedup — RefinedWeb-style cross-document line dedup:
    * drop every 8-token pseudo-line that occurs in more than 2
    * distinct documents (corpus boilerplate), reassemble survivors in
    * order. Corpus-wide frequency rides 8-byte hashes; only
    * threshold-crossing buckets re-check by string.
    */
  def t42LineDedup(spark: SparkSession, sfDir: String): DataFrame =
    LineOps.crossDocLineDedup(Tables.documents(spark, sfDir),
        "doc_id", "text", lineLen = 8, maxDocs = 2)
      .orderBy(col("doc_id"))

  /** t43_bow_score — hashed bag-of-words linear classifier score
    * (fastText-shaped model-based quality filter) over 64 feature
    * buckets with the deterministic weight table; one codegen'd
    * per-row scan.
    */
  def t43BowScore(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.bowQualityScore(Tables.documents(spark, sfDir),
        "text", "doc_id", buckets = 64)
      .orderBy(col("doc_id"))

  /** t46_semdedup — SemDeDup semantic deduplication over the
    * embeddings table: deterministic k-means cells + greedy
    * within-cell cosine >= 0.4 removal (the t7 family threshold).
    * Output is the removed→keeper mapping; rows-only checked (kmeans +
    * capped cells are not SQL-expressible), with the structural
    * guarantees pinned at zero violations by t47.
    */
  def t46Semdedup(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.4,
        nlist = semNlist(emb), refineIters = 1)
      .orderBy(col("removed_id"))
  }

  /** nlist sizing for the SemDeDup queries: cells target ~250 members.
    * Two failure modes bound the choice from both sides: a fixed nlist
    * saturates EVERY cell once the corpus outgrows nlist × maxBucket
    * (saturated cells drop — silently deduping nothing), and oversized
    * cells explode the pair stage quadratically (each pair row carries
    * two vectors; ~500-member cells on the 10× stress corpus cost
    * minutes, ~250 keeps pair count — and therefore time — linear in
    * the corpus). The count is one cheap job; production callers would
    * size from known corpus stats instead.
    *
    * nlist-growth math (why growing nlist with the corpus is now safe):
    * above Similarity.MaxDriverNlist, semCells is a TWO-LEVEL
    * quantizer, so the assign is
    * O(N · 2√nlist · dim) and the driver holds only the √nlist coarse
    * matrix. With nlist = N/250: at N = 10¹¹, nlist = 4×10⁸ → 2×10⁴
    * coarse centroids (≈5 MB driver matrix at dim 32) and ≈2×10⁴
    * fine centroids per coarse cell living in a DataFrame — the flat
    * form's O(N·nlist·dim) = O(N²·dim/250) scan and ~200 GB driver
    * matrix never materialize.
    */
  private[graft] def semNlist(emb: DataFrame): Int =
    math.max(8, math.ceil(emb.count() / 250.0).toInt)

  /** t47_semdedup_check — the quantitative cross-check justifying
    * t46's rows-only row, over EXACTLY the cells the mapping used:
    * (a) every keeper id is strictly below its removed id, (b) the
    * core SemDeDup guarantee — no two SURVIVORS in the same cell have
    * cosine >= threshold (exhaustive within-cell survivor pair
    * recheck), and (c) no two documents with IDENTICAL embeddings
    * both survive. The SQL oracle pins the violation count at 0.
    */
  def t47SemdedupCheck(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val maxBucket = Similarity.DefaultSemDedupBucket
    val emb = Tables.embeddings(spark, sfDir)
    // one deterministic cell assignment shared by mapping and audit;
    // eager checkpoint so the audit's several passes don't re-run the
    // kmeans collects
    val cells = Similarity.semCells(emb, "vec_id", "embedding",
      nlist = semNlist(emb), refineIters = 1).localCheckpoint(true)
    val m = Similarity.semDedupFromCells(cells, threshold = 0.4, maxBucket)
    val a = m.filter(col("keeper_id") >= col("removed_id"))
      .agg(count(lit(1)).as("n"))
    val survivors = cells.join(m.select(col("removed_id").as("id")),
      Seq("id"), "left_anti")
    // the exhaustive pair recheck is bounded the same way the mapping
    // stage is: a cell whose SURVIVOR count exceeds the production cap
    // is itself a violation (the mapping could not have deduped it) and
    // is excluded from the explode — so a saturated cell fails the
    // audit loudly instead of sending a quadratic Generate after it
    val oversized = survivors.groupBy(col("cell"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxBucket)
    val d = oversized.agg(count(lit(1)).as("n"))
    val b = survivors
      .join(oversized.select(col("cell")), Seq("cell"), "left_anti")
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("sm"))
      .select(explode(col("sm")).as("x"), col("sm"))
      .select(col("x"), explode(col("sm")).as("y"))
      .filter(col("x.id") < col("y.id"))
      .filter(cosine_sim(col("x.vec"), col("y.vec")) >= 0.4)
      .agg(count(lit(1)).as("n"))
    val c = survivors.groupBy(col("vec"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1)
      .agg(count(lit(1)).as("n"))
    a.unionByName(b).unionByName(c).unionByName(d)
      .agg(sum(col("n")).cast("long").as("n_violations"))
  }

  /** t45_line_dedup_doc — within-document line dedup (keep first
    * occurrence, order preserved) over the same 8-token pseudo-lines;
    * one per-row expression, no shuffle.
    */
  def t45LineDedupDoc(spark: SparkSession, sfDir: String): DataFrame =
    LineOps.dedupLinesWithinDoc(Tables.documents(spark, sfDir),
        "doc_id", "text", lineLen = 8)
      .orderBy(col("doc_id"))

  /** t49_token_mixture — corpus mixing under per-source TOKEN budgets
    * (the form real mixing uses: budgets are tokens, not documents):
    * rank each source's docs by the deterministic md5 order and keep
    * the maximal prefix whose cumulative BPE-ish token count fits the
    * budget. Exact oracle — the native token counter replays in SQL as
    * a regexp, the cumsum as a window.
    */
  def t49TokenMixture(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.bpeish_token_count
    val budgets =
      (0 to 4).map(i => s"src$i" -> 4000L).toMap ++
      (5 to 9).map(i => s"src$i" -> 2000L).toMap
    graft.ops.Mixing.sampleWeightBudget(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", bpeish_token_count(col("text")),
        budgets, defaultBudget = 800L)
      .select(col("doc_id"), col("source"), col("wt").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t48_pipeline — the operators COMPOSED as a real curation run:
    * C4 line filtering → exact dedup on the cleaned text →
    * benchmark decontamination (withhold the doc_id ≡ 0 mod 97 eval
    * cohort and drop training docs sharing ≥ 2 shingles with it) →
    * per-source mixture quotas. Output is the per-stage audit ledger
    * (step, stage, docs_in, docs_out) a pipeline owner actually reads;
    * the DuckDB oracle replays all four stages as one CTE chain. Every
    * stage keeps its operator's scale shape — the audit counts are
    * aggregates, never a driver funnel.
    */
  def t48Pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.pipeline.Curation.run(docs, t48Stages(docs)).ledger
  }

  /** t48's pipeline with a caller-supplied stage materializer — the
    * warehouse form (stage boundary = real table write instead of
    * localCheckpoint) ScaleStress measures; the ledger contract is
    * identical by construction.
    */
  def t48PipelineMaterialized(spark: SparkSession, sfDir: String,
      materialize: DataFrame => DataFrame): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.pipeline.Curation.run(docs, t48Stages(docs), materialize).ledger
  }

  /** t239_pipeline_resume — the t48 curation pipeline through the
    * CHECKPOINT/RESUME runner, exercising a genuine mid-chain restart:
    * a first invocation runs only stages 1–2 into a fresh checkpoint
    * directory (simulating a run that died after stage 2), then the
    * full four-stage invocation RESUMES against the same directory —
    * stages 1–2 are skipped (outputs + ledger rows read back from
    * their parquet checkpoints; CurationSpec pins zero re-invocation),
    * stages 3–4 compute. The resumed ledger must be exactly t48's:
    * same DuckDB oracle, hash-exact — restart changes nothing but
    * wall-clock.
    */
  def t239PipelineResume(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = graft.io.TempDirs.create("graft_t239")
    val stages = t48Stages(docs)
    graft.pipeline.Curation.runCheckpointed(docs, stages.take(2), dir.toString)
    val ledger = graft.pipeline.Curation.runCheckpointed(docs, stages,
      dir.toString).ledger
    // the ledger lineage reads the checkpoint parquet lazily — collect
    // it into a literal frame so the checkpoint tree can be deleted NOW
    // instead of leaking two stage trees per bench pass into /tmp
    val out = ledger.localCheckpoint(true)
    graft.io.TempDirs.deleteRecursively(dir)
    out
  }

  /** The four t48 stages as [[graft.pipeline.Curation.Stage]]s — the
    * runner owns eager inter-stage materialization (the stage
    * lineages nest; without it the line filter recomputed ~8× and the
    * contamination join ~3× per run — t47/cosineNearDups precedent)
    * and the audit-ledger aggregation. `docs` rides in only for the
    * mixture stage's source lookup.
    */
  private def t48Stages(docs: DataFrame)
      : Seq[graft.pipeline.Curation.Stage] = Seq(
    "line_filter" -> { (in: DataFrame) =>
      LineOps.c4LineFilter(in, "doc_id", "text",
          lineLen = 8, minWords = 5,
          terminals = Seq("value", "table", "row", "scan", "data", "join"),
          minKeptLines = 2)
        .filter(col("doc_kept"))
        .select(col("doc_id"), col("clean_text"))
    },
    "exact_dedup" -> { (in: DataFrame) =>
      in.groupBy(col("clean_text"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("clean_text"))
    },
    "decontaminate" -> { (in: DataFrame) =>
      val evalSet = in.filter(col("doc_id") % 97 === 0)
      val contaminated = TextDedup.contaminationPairs(in, evalSet,
          "clean_text", "doc_id", shingleK = 3, minShared = 2,
          excludeSameId = true)
        .select(col("train_id").as("doc_id")).distinct()
      in.join(contaminated.unionByName(evalSet.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    },
    "mixture" -> { (in: DataFrame) =>
      val quotas =
        (0 to 4).map(i => s"src$i" -> 10).toMap ++
        (5 to 9).map(i => s"src$i" -> 5).toMap
      graft.ops.Mixing.sampleQuotas(
        in.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("doc_id"), col("source")),
        "source", "doc_id", quotas, defaultQuota = 2)
    })

  /** t44_stream_sessions — streaming session-window aggregation run to
    * completion: per-user sessions with a 1-hour merge gap under a
    * 2-hour watermark, append mode emitting exactly the sessions whose
    * end the final watermark passed. The DuckDB oracle replays both
    * the gaps-and-islands session semantics (q38's formulation) and
    * the append-mode watermark contract in plain SQL.
    */
  def t44StreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, sfDir)
      // decimal money-sum convention (RelationalQueries.moneySum): the
      // emitted totals are exact, so the oracle compare is exact
      .withColumn("value", col("value").cast("decimal(18,2)"))
    val sess = StreamingFlows.sessionAgg(stream, "ts", "user_id", "value",
      gap = "1 hour", watermark = "2 hours")
    StreamingFlows.runAvailableNow(spark, sess, "t44_sessions")
      .withColumn("sum_value", col("sum_value").cast("double"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** t91_hll_rolling — 7-day rolling distinct users from MERGEABLE
    * per-day HLL sketches (Sketches.dailyKeySketches → rollingDistinct):
    * the incremental-maintenance form of a rolling COUNT(DISTINCT) —
    * the raw table is scanned once into |days| fixed-size sketches and
    * every window is a union of those. Estimate-typed output, so the
    * driver row is rows-only; t92 is the enforced relative-error audit
    * against an exact recount on the same windows.
    */
  def t91HllRolling(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Sketches.dailyKeySketches(
      Tables.events(spark, sfDir), "ts", "user_id")
    sharedCensus(spark, sfDir, "t91_hll_rolling") {
      Sketches.rollingDistinct(daily, windowDays = 7)
    }.orderBy(col("day"))
  }

  /** t92_hll_check — the enforced contract for t91's estimates: join
    * the sketch-path rolling distincts against an exact recount of the
    * SAME windows (events range-joined to days — the computation the
    * sketch path exists to avoid; linear per window, run at audit SF
    * only) and emit (check, value) rows the Verify gate pins:
    *
    *  - `n_days`: windows audited (> 0 — vacuity guard);
    *  - `max_rel_err`: worst |approx − exact| / exact over all windows
    *    (gate ≤ 0.05; lgK=12 standard error is ~1.6%, and below the
    *    sketch's dense-promotion threshold the coupon estimator is
    *    exact — measured 0.0 at sf0.01/sf0.1);
    *  - `min_approx`: smallest estimate (> 0 — sketches actually
    *    populated).
    */
  def t92HllCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val approx = Sketches.rollingDistinct(
      Sketches.dailyKeySketches(events, "ts", "user_id"), windowDays = 7)
    val exact = approx.select(col("day"))
      .join(events.select(to_date(col("ts")).as("d2"), col("user_id")),
        col("d2").between(date_sub(col("day"), 6), col("day")))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val joined = approx.join(exact, "day")
      .select(col("approx_distinct").cast("double").as("a"),
              col("exact_distinct").cast("double").as("e"))
      .localCheckpoint(true)
    val nDays = joined.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_days").as("check"), col("value"))
    val maxErr = joined
      .agg(coalesce(max(abs(col("a") - col("e")) / col("e")), lit(0.0))
        .as("value"))
      .select(lit("max_rel_err").as("check"), round(col("value"), 6).as("value"))
    val minApprox = joined.agg(min(col("a")).as("value"))
      .select(lit("min_approx").as("check"), col("value"))
    // q67's exact-recount oracle is only valid while every window
    // stays deep inside the lgK=12 coupon-exact regime — measured:
    // exact at the ≤ 150-distinct verify windows, already off by 2
    // at a 1338-distinct sf0.1 window (coupon-space collisions). The
    // Verify gate trips this row at 512, so a testdata regen past
    // the regime fails HERE with a named row instead of surfacing as
    // a mysterious q67 hash mismatch (r13 ADVICE).
    val maxWindow = joined.agg(coalesce(max(col("e")), lit(0.0)).as("value"))
      .select(lit("max_exact_window").as("check"), col("value"))
    nDays.unionByName(maxErr).unionByName(minApprox).unionByName(maxWindow)
      .orderBy(col("check"))
  }

  /** t93_theta_overlap — pairwise distinct-vocabulary overlap between
    * sources via theta sketches (Sketches.groupOverlap over the
    * lowercase-whitespace token relation): |A|, |B|, |A ∩ B| and
    * Jaccard for every source pair, computed from |groups| kilobyte
    * sketches instead of a raw self-join. At the audit SF every group
    * is under the sketch's exact-mode capacity (4096 distinct keys),
    * where theta set operations are EXACT — so this row hash-matches
    * a DuckDB COUNT(DISTINCT) inclusion-exclusion replay; beyond
    * exact mode the estimates carry ~1.6% standard error (the
    * documented estimate-regime contract, same two-tier shape as the
    * ANN family).
    */
  def t93ThetaOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    Sketches.groupOverlap(toks, "source", "tok")
      .orderBy(col("g_a"), col("g_b"))
  }

  /** t94_hybrid_search — first-stage RAG retrieval: Okapi BM25 over the
    * corpus for a bag-of-terms query, brute-force cosine over the
    * aligned embeddings for the dense query (doc 0's vector), and
    * Reciprocal Rank Fusion (k=60) of the two top-50 lists — the
    * calibration-free sparse+dense fusion every hybrid search stack
    * ships. Fully oracle-replayed in DuckDB: the BM25 arithmetic
    * mirrors op-for-op, the cosine leg reuses t5's proven parity, and
    * RRF sums ≤ 2 reciprocal ranks per id (2-element double sums are
    * order-safe).
    */
  def t94HybridSearch(spark: SparkSession, sfDir: String): DataFrame =
    hybridSearchCensus(spark, sfDir).orderBy(col("fused_rank"))

  /** The 20-row fused retrieval table, computed ONCE per
    * (session, sfDir) and shared by t94, t270's first stage, and the
    * SqlFacade `hybrid_search`/`rerank` views (the prefixJaccardPairs
    * convention: t94 1.35 s + q51 1.87 s + t270 1.88 s + q69 1.63 s
    * on the r14 battery, all re-deriving this same relation).
    */
  private val hybridSearchCache = new graft.SessionCache[DataFrame]
  private def hybridSearchCensus(spark: SparkSession,
                                 sfDir: String): DataFrame =
    hybridSearchCache.getOrElseUpdate(spark, sfDir) {
    val docs = Tables.documents(spark, sfDir)
    val queryTerms = Seq("hash", "join", "window")
    // top-50 via distributed sort+limit (TakeOrderedAndProject — a
    // per-partition heap + driver merge of 50-row slices, never a
    // single-partition corpus sort); the rank window then runs over
    // the 50 survivors only
    val sparseW = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("id").asc)
    val sparse = Retrieval.bm25(docs, "doc_id", "text", queryTerms)
      .orderBy(col("bm25").desc, col("id").asc).limit(50)
      .withColumn("rank", row_number().over(sparseW))
      .select(col("id"), col("rank"))
    val emb = Tables.embeddings(spark, sfDir)
    val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 50)
      .select(col("id"), col("rank"))
    Retrieval.rrfFuse(Seq(sparse, dense), k = 60)
      .filter(col("fused_rank") <= 20)
      .select(col("fused_rank"), col("id"), col("rrf"), col("n_lists"))
      .localCheckpoint(true)
  }

  /** t95_zorder_layout — the Morton-curve layout audit on events
    * (x = user_id, y = value, 16 files): per-layout average fractional
    * min/max coverage of both dimensions, Z-prefix bucketing vs the
    * linear x sort. The claim a 100 TB writer cares about — Z-order
    * holds BOTH dims near 1/√B where the linear sort leaves one at
    * ~100% — lands as data: worst_dim_frac ≈ 0.26 vs ≈ 1.0. The
    * DuckDB oracle replays the whole computation (mask-ladder bit
    * interleave included) exactly; the Verify gate additionally pins
    * the pruning claim itself.
    */
  def t95ZorderLayout(spark: SparkSession, sfDir: String): DataFrame =
    Layout.zorderAudit(
        Tables.events(spark, sfDir).select(col("user_id"), col("value")),
        "user_id", "value", buckets = 16)
      .orderBy(col("layout"))

  /** t97_sketch_append — INCREMENTAL sketch-state maintenance via the
    * mergeable-aggregate MERGE verb (MutableTable.mergeAggregate, the
    * AggregatingMergeTree semantics): the daily-HLL table is built
    * from history, then an ingest batch cut MID-DAY lands via
    * mergeAggregate with hll_union as the combiner — the straddled
    * day's stored sketch and the batch's partial sketch UNION rather
    * than overwrite (upsert would silently drop the morning's users).
    * The final state's rolling distincts must estimate IDENTICALLY to
    * a full-history rebuild (register-max union is split-invariant).
    * Emits (check, value): `n_days` (> 0), `overlap_days` (≥ 1 — the
    * straddled day really exercised the combine branch),
    * `n_mismatch` (vs full rebuild — 0).
    */
  def t97SketchAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val cut = lit("2024-01-24 12:00:00").cast("timestamp")
    val state0 = Sketches.dailyKeySketches(
      events.filter(col("ts") < cut), "ts", "user_id")
    val delta = Sketches.dailyKeySketches(
      events.filter(col("ts") >= cut), "ts", "user_id")
    val work = graft.io.TempDirs.create("t97_sketch").toString
    val table = graft.io.MutableTable.create(spark, s"$work/sketches", state0)
    val overlap = state0.select(col("day"))
      .join(delta.select(col("day")), "day")
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("overlap_days").as("check"), col("value"))
    table.mergeAggregate(delta, Seq("day"),
      Map("sk" -> ((cur, upd) => hll_union(cur, upd))))
    val incr = Sketches.rollingDistinct(table.read(), 7)
      .select(col("day"), col("approx_distinct").as("i_est"))
    val full = Sketches.rollingDistinct(
        Sketches.dailyKeySketches(events, "ts", "user_id"), 7)
      .select(col("day"), col("approx_distinct").as("f_est"))
    val joined = incr.join(full, Seq("day"), "full_outer")
      .localCheckpoint(true)
    val nDays = joined.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_days").as("check"), col("value"))
    val nMismatch = joined
      .agg(sum(when(col("i_est").isNull || col("f_est").isNull ||
        col("i_est") =!= col("f_est"), 1).otherwise(0))
        .cast("double").as("value"))
      .select(lit("n_mismatch").as("check"), col("value"))
    nDays.unionByName(overlap).unionByName(nMismatch).orderBy(col("check"))
  }

  /** t98_filtered_ann — FILTERED vector search (the vector-DB
    * "metadata predicate + top-k" surface): exact cosine top-5 over
    * only the corpus vectors whose label = 1, for the first 10 query
    * vectors. Composition: predicate pushdown into the scan, then the
    * same bounded-heap brute-force top-k as t5 — the exact baseline
    * the approximate filtered path (cell-routed IVF scan with the
    * predicate pushed into the (cell, id) table, t77's layout) is
    * audited against. Full DuckDB oracle = t5's proven formulation +
    * the WHERE clause.
    */
  def t98FilteredAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    sharedCensus(spark, sfDir, "t98_filtered_ann") {
      Similarity.bruteForceTopK(emb.filter(col("label") === 1),
        "vec_id", "embedding", queries, "qid", "qvec", k = 5)
    }.orderBy(col("qid"), col("rank"))
  }

  /** t101_filtered_serve — approximate FILTERED search against a
    * prebuilt IVF-PQ index: the index is built over the FULL corpus
    * once (the serving reality — indexes are not rebuilt per
    * predicate); a metadata predicate then prunes the stored
    * (id, cell, codes) table via an id semi-join BEFORE the ADC scan,
    * so scan work ∝ matching fraction × probed fraction. Emits the
    * enforced audit vs t98's exact filtered baseline: (check, value)
    * rows `recall_at_5` (≥ 0.55, the t78 production floor) and
    * `n_expected` (> 0 — vacuity guard).
    */
  def t101FilteredServe(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (cents, cb) = Pq.ivfPqTrain(emb, "embedding", nlist = 16)
    val index = Pq.ivfPqIndex(emb, "vec_id", "embedding", cents, cb)
    val allowed = emb.filter(col("label") === 1)
    val filteredIndex = index.join(
      allowed.select(col("vec_id").as("id")), Seq("id"), "left_semi")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val served = Pq.ivfPqServe(filteredIndex, allowed, "vec_id",
        "embedding", queries, "qid", "qvec", k = 5, nprobe = 8,
        rerank = 8, centroids = cents, codebook = cb)
      .select(col("qid"), col("id"))
    val exact = Similarity.bruteForceTopK(allowed, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("id")).localCheckpoint(true)
    val n = exact.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_expected").as("check"), col("value"))
    val recall = served.join(exact, Seq("qid", "id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("hit"))
      .crossJoin(exact.agg(count(lit(1)).cast("double").as("den")))
      .select(lit("recall_at_5").as("check"),
              round(col("hit") / col("den"), 6).as("value"))
    n.unionByName(recall).orderBy(col("check"))
  }

  /** t102_theta_novelty — per-day NEW-user counts from theta-sketch
    * set difference against the accumulated history union (the growth
    * metric every ingest dashboard wants, computed from kilobyte
    * summaries instead of a min-over-all-history shuffle). Exact-mode
    * theta set algebra at the audit SF → the row hash-matches a
    * DuckDB first-seen (min day per user) replay; beyond exact mode
    * the documented ~1.6% estimate contract applies (t93's two-tier
    * shape).
    */
  def t102ThetaNovelty(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.dailyNewKeys(Tables.events(spark, sfDir), "ts", "user_id")
      .orderBy(col("day"))

  /** t103_index_roundtrip — IVF-PQ index PERSISTENCE (the FAISS
    * write_index/read_index contract, warehouse-style): the trained
    * index persists as three plain parquet tables — the (id, cell,
    * codes) relation plus the two driver-held halves flattened to
    * (indices, value) rows — and a fresh reader reconstructs and
    * serves WITHOUT retraining. Serving from the round-tripped index
    * must be BIT-identical to serving from the in-memory one (pure
    * arithmetic on identical doubles — parquet round-trips IEEE
    * exactly). Emits (check, value): `served_rows` (> 0),
    * `parity_violations` (exceptAll both directions on
    * (qid, rank, id) — 0 enforced).
    */
  def t103IndexRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (cents, cb) = Pq.ivfPqTrain(emb, "embedding", nlist = 16)
    val index = Pq.ivfPqIndex(emb, "vec_id", "embedding", cents, cb)
    val work = graft.io.TempDirs.create("t103_idx").toString
    index.write.mode("overwrite").parquet(s"$work/index")
    Pq.centroidsToDf(spark, cents).write.mode("overwrite")
      .parquet(s"$work/cents")
    Pq.codebookToDf(spark, cb).write.mode("overwrite")
      .parquet(s"$work/codebook")
    val cents2 = Pq.centroidsFromDf(spark.read.parquet(s"$work/cents"))
    val cb2 = Pq.codebookFromDf(spark.read.parquet(s"$work/codebook"))
    val index2 = spark.read.parquet(s"$work/index")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def serve(idx: DataFrame, cs: Array[Seq[Double]],
              c: Array[Array[Array[Double]]]) =
      Pq.ivfPqServe(idx, emb, "vec_id", "embedding", queries,
          "qid", "qvec", k = 5, nprobe = 8, rerank = 8,
          centroids = cs, codebook = c)
        .select(col("qid"), col("rank"), col("id"))
    val mem = serve(index, cents, cb).localCheckpoint(true)
    val rt = serve(index2, cents2, cb2).localCheckpoint(true)
    val n = mem.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("served_rows").as("check"), col("value"))
    val viol = mem.exceptAll(rt).unionByName(rt.exceptAll(mem))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("parity_violations").as("check"), col("value"))
    n.unionByName(viol).orderBy(col("check"))
  }

  /** t104_index_drift — the retrain-trigger monitor for append-only
    * ANN indexes: fixed coarse centroids degrade as ingest drifts off
    * the training distribution, and the observable is the assignment
    * quality of each new batch — avg (1 − max-cell cosine) under the
    * FROZEN centroids, one kernel scan per batch, no join. Runs on
    * the CLUSTERED corpus (the t80/t85 fixture — drift is only a
    * meaningful signal where assignments are; on near-orthogonal
    * noise every batch looks equally far). Three (check, value)
    * rows: `base_dist` (training corpus), `same_ratio` (held-out
    * same-distribution batch / base — gated ≤ 1.5: no false retrain
    * alarms), `shifted_ratio` (the held-out batch with its
    * dimensions REVERSED — off-distribution vectors of identical
    * norm — gated > same_ratio: real drift must move the needle).
    * Deterministic kernel arithmetic.
    */
  def t104IndexDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.max_cell_cosine
    val emb = clusteredEmbeddings(spark, sfDir)
    val train = emb.filter(col("vec_id") % 2 === 0)
    val held = emb.filter(col("vec_id") % 2 =!= 0)
    val cents = Pq.ivfPqTrainCentroids(train, "embedding", nlist = 16)
      .map(_.toSeq).toSeq
    def avgDist(df: DataFrame, vec: org.apache.spark.sql.Column) = df
      .agg(avg(lit(1.0) - max_cell_cosine(vec, cents)).as("d"))
    val base = avgDist(train, col("embedding")).localCheckpoint(true)
    val same = avgDist(held, col("embedding")).localCheckpoint(true)
    val shifted = avgDist(held, reverse(col("embedding")))
      .localCheckpoint(true)
    val baseRow = base.select(lit("base_dist").as("check"),
      round(col("d"), 6).as("value"))
    val sameRow = same.crossJoin(base.select(col("d").as("b")))
      .select(lit("same_ratio").as("check"),
        round(col("d") / col("b"), 6).as("value"))
    val shiftRow = shifted.crossJoin(base.select(col("d").as("b")))
      .select(lit("shifted_ratio").as("check"),
        round(col("d") / col("b"), 6).as("value"))
    baseRow.unionByName(sameRow).unionByName(shiftRow)
      .orderBy(col("check"))
  }

  /** t105_dp_counts — ε-differentially-private count release (Laplace
    * mechanism, ε = 1) over (lang, source): the privacy-preserving
    * histogram a data consortium publishes instead of raw counts.
    * Noise is seeded from md5(group ‖ salt) digit arithmetic — the
    * repo's engine-portable hash contract — so the DuckDB oracle
    * replays the released values EXACTLY, including the inverse-CDF
    * transform (ln parity between engines is already load-bearing via
    * t36's NLL oracle).
    */
  def t105DpCounts(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.dpCounts(Tables.documents(spark, sfDir),
        Seq("lang", "source"), epsilon = 1.0, salt = "release-2026-08")
      .orderBy(col("lang"), col("source"))

  /** t106_forget_flow — right-to-be-forgotten PROPAGATION with bounded
    * recompute: deleting a user must scrub both the base table and
    * every derived product, and HLL sketches cannot subtract — so the
    * affected days (and ONLY those: deletion cost is
    * |touched partitions|, never |history|) are recomputed from the
    * scrubbed base and swapped into the sketch state table
    * (deleteMatching + upsert, covering the day-loses-all-users
    * edge). Enforced (check, value) rows: `n_forgotten` (> 0),
    * `affected_days` (> 0), `leftover_rows` (forgotten users left in
    * the base — 0), `n_mismatch` (vs a full rebuild from the
    * scrubbed corpus — 0, the t97 convergence standard).
    */
  def t106ForgetFlow(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val work = graft.io.TempDirs.create("t106_forget").toString
    val base = graft.io.MutableTable.create(spark, s"$work/events", events)
    val skTable = graft.io.MutableTable.create(spark, s"$work/sketches",
      Sketches.dailyKeySketches(events, "ts", "user_id"))
    val forget = events.filter(col("user_id") % 37 === 0)
      .select(col("user_id")).distinct().localCheckpoint(true)
    val affected = events.join(forget, "user_id")
      .select(to_date(col("ts")).as("day")).distinct().localCheckpoint(true)
    base.deleteMatching(forget, Seq("user_id"))
    val scrubbed = base.read()
    val touched = scrubbed.join(broadcast(affected),
      to_date(scrubbed("ts")) === affected("day"), "left_semi")
    skTable.deleteMatching(affected, Seq("day"))
    skTable.upsert(Sketches.dailyKeySketches(touched, "ts", "user_id"),
      Seq("day"))
    val got = skTable.read()
      .select(col("day"), hll_sketch_estimate(col("sk")).as("g"))
    val want = Sketches.dailyKeySketches(scrubbed, "ts", "user_id")
      .select(col("day"), hll_sketch_estimate(col("sk")).as("w"))
    val joined = got.join(want, Seq("day"), "full_outer")
      .localCheckpoint(true)
    def row(name: String, v: org.apache.spark.sql.Column,
            of: DataFrame) =
      of.agg(v.cast("double").as("value"))
        .select(lit(name).as("check"), col("value"))
    row("n_forgotten", count(lit(1)), forget)
      .unionByName(row("affected_days", count(lit(1)), affected))
      .unionByName(row("leftover_rows", count(lit(1)),
        scrubbed.join(forget, "user_id")))
      .unionByName(row("n_mismatch",
        coalesce(sum(when(col("g").isNull || col("w").isNull ||
          col("g") =!= col("w"), 1).otherwise(0)), lit(0)), joined))
      .orderBy(col("check"))
  }

  /** t107_funnel — ordered first-touch funnel view → click → purchase
    * (the product-analytics query class GROUP BY can't express): step
    * i counts users with a qualifying event STRICTLY AFTER their
    * first step-(i−1) time. Per-step user counts + conversion rates;
    * exact DuckDB CTE-chain oracle.
    */
  def t107Funnel(spark: SparkSession, sfDir: String): DataFrame =
    sharedCensus(spark, sfDir, "t107_funnel") {
      Behavior.funnel(Tables.events(spark, sfDir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
    }.orderBy(col("step"))

  /** t108_retention — weekly retention cohorts (cohort = ISO week of
    * first event; cell (c, k) = cohort-c users active in week c+k):
    * the other canonical behavioral-analytics readout. Exact DuckDB
    * replay of the first-seen/date_trunc arithmetic.
    */
  def t108Retention(spark: SparkSession, sfDir: String): DataFrame =
    sharedCensus(spark, sfDir, "t108_retention") {
      Behavior.retention(Tables.events(spark, sfDir), "user_id", "ts")
    }.orderBy(col("cohort_week"), col("week_no"))

  /** t109_grouped_rolling — the per-dimension rollup form of t91
    * (distinct users per event_type per rolling week) with its
    * relative-error audit folded in, t92-style: the grouped sketch
    * path recomputes against an exact recount of the SAME
    * (group, day) windows and emits (check, value) rows `n_cells`
    * (> 0), `max_rel_err` (≤ 0.05 gate; measured 0.0 in the exact
    * regime), `min_approx` (> 0).
    */
  def t109GroupedRolling(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val approx = Sketches.groupedRollingDistinct(
      Sketches.groupedDailyKeySketches(events, "event_type", "ts",
        "user_id"), windowDays = 7)
    val exact = approx.select(col("g"), col("day"))
      .join(events.select(col("event_type").as("g"),
          to_date(col("ts")).as("d2"), col("user_id")),
        Seq("g"))
      .filter(col("d2").between(date_sub(col("day"), 6), col("day")))
      .groupBy(col("g"), col("day"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val joined = approx.join(exact, Seq("g", "day"))
      .select(col("approx_distinct").cast("double").as("a"),
              col("exact_distinct").cast("double").as("e"))
      .localCheckpoint(true)
    val n = joined.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_cells").as("check"), col("value"))
    val err = joined
      .agg(coalesce(max(abs(col("a") - col("e")) / col("e")), lit(1.0))
        .as("value"))
      .select(lit("max_rel_err").as("check"),
              round(col("value"), 6).as("value"))
    val minA = joined.agg(coalesce(min(col("a")), lit(0.0)).as("value"))
      .select(lit("min_approx").as("check"), col("value"))
    n.unionByName(err).unionByName(minA).orderBy(col("check"))
  }

  /** t99_kll_rolling — rolling 7-day p50/p95 of event value from
    * MERGEABLE per-day KLL sketches: the order-statistics analog of
    * t91 (nightly re-slides touch kilobyte summaries, never raw
    * history). Estimate-typed output → rows-only; t100 is the
    * enforced rank-error audit.
    */
  def t99KllRolling(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.rollingQuantiles(
        Sketches.dailyQuantileSketches(
          Tables.events(spark, sfDir), "ts", "value"),
        windowDays = 7, percentiles = Seq(0.5, 0.95))
      .orderBy(col("day"))

  /** The `rolling_quantiles` SQL view (q70): t99's rolling 7-day
    * p50/p95, with the sketch parameter k PINNED TO THE EXACT REGIME
    * — chosen per (session, sfDir) as the smallest power of two
    * covering the largest 7-day window, so every merged window sits
    * below KLL's first compaction: all items retained, and
    * `getQuantile(p)` is the EXACT order statistic (smallest value
    * whose normalized inclusive rank cum/n ≥ p on IEEE doubles —
    * the comparison the DuckDB oracle replays identically; see the
    * q70 oracle note). This is the q67 exactness argument transposed
    * from HLL coupon mode to KLL's pre-compaction mode.
    *
    * The regime is a PRECONDITION, not a hope (the r13-ADVICE q67
    * pattern): the builder computes exact per-window counts first
    * and FAILS LOUDLY — remedy in the message — once a window
    * outgrows DataSketches' k ceiling (65535), instead of letting a
    * testdata regen surface as a mysterious q70 hash mismatch. The
    * declared ceiling is the point: THIS view is the exact member of
    * the family and says exactly where its regime ends; the
    * unbounded-scale member stays t99's k=200 mergeable contract
    * (~1.65% rank error) with t100 the enforced distribution-free
    * gate — the accuracy knob IS the state-vs-precision trade,
    * stated rather than hidden. Costs one extra counting scan of
    * events, paid once per (session, sfDir) via the view cache.
    */
  private[graft] def rollingQuantilesExact(spark: SparkSession,
                                           sfDir: String): DataFrame = {
    val dailyCounts = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(col("value")).as("__c"))
      .localCheckpoint(true)
    val other = dailyCounts.select(col("day").as("d2"), col("__c").as("c2"))
    val maxWindow = dailyCounts.select(col("day"))
      .join(other, col("d2").between(date_sub(col("day"), 6), col("day")))
      .groupBy(col("day")).agg(sum(col("c2")).as("w"))
      .agg(coalesce(max(col("w")), lit(0L))).head.getLong(0)
    val kCeiling = 65535L // DataSketches KLL max k
    require(maxWindow <= kCeiling,
      s"rolling_quantiles window holds $maxWindow values > the KLL k " +
      s"ceiling $kCeiling: the exact regime q70's rank-selection " +
      "oracle relies on cannot cover this scale — route q70 through " +
      "a t100-style rank-error gate instead of hash equality")
    val k = math.max(256L, java.lang.Long.highestOneBit(
      math.max(1L, maxWindow - 1)) * 2).min(kCeiling).toInt
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(kll_sketch_agg_double(col("value").cast("double"), k).as("qsk"))
    Sketches.rollingQuantiles(daily, windowDays = 7,
      percentiles = Seq(0.5, 0.95))
  }

  /** t100_kll_check — the enforced contract for t99: for every window,
    * count exact ranks of the sketch-returned quantile values against
    * the window's raw rows (the distribution-free check KLL's bound is
    * stated in): rank_err(p) = |#{v ≤ q_p}/n − p|. Emits (check,
    * value): `n_days` (> 0), `max_rank_err_p50` and `max_rank_err_p95`
    * (both ≤ 0.05; KLL k=200 bounds normalized rank error at ~1.65%
    * with 99% confidence — and below the first compaction the sketch
    * is exact).
    */
  def t100KllCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val approx = Sketches.rollingQuantiles(
      Sketches.dailyQuantileSketches(events, "ts", "value"),
      windowDays = 7, percentiles = Seq(0.5, 0.95))
    val windowRows = approx.select(col("day"), col("p50"), col("p95"))
      .join(events.select(to_date(col("ts")).as("d2"),
          col("value").cast("double").as("v")),
        col("d2").between(date_sub(col("day"), 6), col("day")))
    val perDay = windowRows.groupBy(col("day"))
      .agg(
        (sum(when(col("v") <= col("p50"), 1).otherwise(0)) /
          count(lit(1))).as("f50"),
        (sum(when(col("v") <= col("p95"), 1).otherwise(0)) /
          count(lit(1))).as("f95"))
      .localCheckpoint(true)
    val nDays = perDay.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_days").as("check"), col("value"))
    val e50 = perDay
      .agg(coalesce(max(abs(col("f50") - 0.5)), lit(1.0)).as("value"))
      .select(lit("max_rank_err_p50").as("check"),
              round(col("value"), 6).as("value"))
    val e95 = perDay
      .agg(coalesce(max(abs(col("f95") - 0.95)), lit(1.0)).as("value"))
      .select(lit("max_rank_err_p95").as("check"),
              round(col("value"), 6).as("value"))
    nDays.unionByName(e50).unionByName(e95).orderBy(col("check"))
  }

  /** t110_content_chunks — content-defined chunking (FastCDC shape):
    * every document split at rolling-hash-defined boundaries
    * (w=16, base=257, mod=2^31−1, divisor=32, len∈[24,96] code
    * points). Exact DuckDB oracle: the same window-Horner anchor rule
    * via `list_reduce`, the same cut(s) = least(nextAnchor(s+min),
    * s+max, n) walk via a recursive CTE, chunk text via list-slice +
    * md5.
    */
  def t110ContentChunks(spark: SparkSession, sfDir: String): DataFrame =
    Chunking.contentChunks(Tables.documents(spark, sfDir), "doc_id", "text")
      .select(col("doc_id"), col("chunk_idx"), col("start"), col("len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** t111_chunk_neardup — shift-robust chunk-level near-dup pairs: the
    * corpus is documents PLUS planted shifted copies (every 7th doc of
    * ≥200 chars re-appears with an inserted preface under doc_id +
    * 100000), and the operator must recover the planted pairs through
    * CDC boundary resynchronization — the property fixed-stride
    * shingles lack. Exact oracle: the same planted construction, the
    * same chunk walk, an (uncapped) chunk-hash self-join + Jaccard —
    * valid because no chunk's doc frequency approaches the engine's
    * maxDf=50 saturating cap at verify scale (measured max 4 at
    * sf0.01, 21 at sf0.1).
    */
  def t111ChunkNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val planted = docs
      .filter(col("doc_id") % 7 === 0 && col("n_chars") >= 200)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("shifted preface marker "), col("text")).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
    Chunking.chunkNearDups(corpus, "doc_id", "text",
        minJaccard = 0.3, maxDf = 50)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t112_blocklist — multi-pattern bad-words audit: every document
    * scanned against a 6-term blocklist (nested terms included — both
    * "merge" and "merge slow" count independently; "quantum" never
    * occurs) in ONE Aho–Corasick pass. Exact oracle: per-term greedy
    * non-overlapping counts via `(len(text) − len(replace(…))) //
    * len(term)` arithmetic.
    */
  def t112Blocklist(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.blocklistAudit(Tables.documents(spark, sfDir), "doc_id",
        "text", Seq("merge", "merge slow", "batch batch",
          "customer filter", "vector window", "quantum"))
      .orderBy(col("doc_id"))

  /** t113_ks_drift — exact two-sample Kolmogorov–Smirnov drift check
    * per event_type: sample A = events on even epoch days, B = odd
    * days (a deterministic split that SHOULD read as stable). Exact
    * oracle: the same distinct-value ECDF window arithmetic.
    */
  def t113KsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Drift.ksStatistic(events, Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 2 === 0,
        "value")
      .orderBy(col("event_type"))
  }

  /** t114_psi_drift — Population Stability Index per event_type
    * between the first 15 days and the rest of the month, over fixed
    * literal value-bin edges. Exact oracle: the same clamped-share
    * Σ(pa−pb)·ln(pa/pb) arithmetic.
    */
  def t114PsiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Drift.psi(events, Seq("event_type"),
        col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"),
        "value", Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0, 400.0))
      .orderBy(col("event_type"))
  }

  /** t115_image_phash — multimodal near-duplicate detection: aHash
    * perceptual fingerprints over REAL decoded BMP pixels, banded
    * Hamming-distance pair generation, and a planted-perturbation
    * contract. The corpus is every distinct-text image row plus a
    * pixel-perturbed copy (+1 on every 7th payload byte) under
    * doc_id + 1000000; the operator must pair each original with its
    * perturbed twin at Hamming ≤ 3. Estimate-typed (hash-derived) →
    * rows-only for the driver; the enforced Verify gate pins
    * n_images > 0, recovered_frac ≥ 0.9, and extra_frac ≤ 0.5 (extra
    * pairs are tiny synthetic images that genuinely collide — reported
    * honestly, bounded so a hash regression cannot hide).
    */
  def t115ImagePhash(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
    val images = Multimodal.synthesize(docs, "doc_id", "text")
      .filter(_.media_type == "image")
    val perturbed = images.map { r =>
      val b = r.media.clone()
      var i = 54
      while (i < b.length) { if (i % 7 == 0) b(i) = (b(i) + 1).toByte; i += 1 }
      r.copy(doc_id = r.doc_id + 1000000, media = b)
    }
    val hashes = Multimodal.imageAHash(images.union(perturbed))
      .localCheckpoint(true)
    val pairs = Multimodal.imageNearDups(hashes, maxHamming = 3)
      .localCheckpoint(true)
    val nImg = hashes.filter(col("doc_id") < 1000000)
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_images").as("check"), col("value"))
    val stats = pairs
      .agg(
        sum(when(col("id_b") === col("id_a") + 1000000, 1.0).otherwise(0.0))
          .as("rec"),
        sum(when(col("id_b") =!= col("id_a") + 1000000, 1.0).otherwise(0.0))
          .as("extra"))
      .crossJoin(broadcast(hashes.filter(col("doc_id") < 1000000)
        .agg(count(lit(1)).cast("double").as("n"))))
    val recovered = stats.select(lit("recovered_frac").as("check"),
      round(coalesce(col("rec"), lit(0.0)) / col("n"), 6).as("value"))
    val extra = stats.select(lit("extra_frac").as("check"),
      round(coalesce(col("extra"), lit(0.0)) / col("n"), 6).as("value"))
    nImg.unionByName(recovered).unionByName(extra).orderBy(col("check"))
  }

  /** t116_weighted_sample — Efraimidis–Spirakis weighted sampling
    * without replacement: 4 docs per source, tickets ∝ n_chars, via
    * the seeded md5-uniform and the salted two-level cap (no bare
    * per-group window). Exact oracle: the same digit arithmetic +
    * −ln(u)/w key + row_number replay.
    */
  def t116WeightedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.weightedSample(Tables.documents(spark, sfDir),
        Seq("source"), "doc_id", "n_chars", k = 4, salt = "es-2026")
      .orderBy(col("source"), col("doc_id"))

  /** t117_bottomk_sample — MERGEABLE uniform user sample per
    * event_type: the 8 smallest seeded md5-uniform draws over distinct
    * users, via the TopKByScore aggregate (O(partitions·k) state, no
    * window, no global sort — shard samples merge into the union's
    * sample, which SamplingSpec pins). Exact oracle: ORDER BY u,
    * user_id LIMIT 8 replay.
    */
  def t117BottomkSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.bottomKSample(Tables.events(spark, sfDir),
        Seq("event_type"), "user_id", k = 8, salt = "bk-2026")
      .orderBy(col("event_type"), col("user_id"))

  /** t118_cms_counts — point-frequency estimates from Spark's built-in
    * `count_min_sketch` aggregate over the corpus token stream (hashed
    * to 8-byte keys), probed for a fixed token list and audited
    * against exact counts. Estimate-typed → rows-only; the enforced
    * gate pins the CMS contract: NO undercount ever (deterministic
    * guarantee), overcount ≤ the ε·N analytic bound.
    */
  def t118CmsCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val probes = Seq("merge", "spark", "window", "batch", "customer",
      "vector", "quantum", "the")
    val toks = Tables.documents(spark, sfDir)
      .select(explode(filter(TextDedup.tokens(col("text")),
        x => length(x) > 0)).as("token"))
    val hashed = toks.withColumn("h", xxhash64(col("token")))
    val agg = hashed.agg(
      expr("count_min_sketch(h, 0.0005d, 0.99d, 42)").as("sk"),
      count(lit(1)).as("n_total"))
    val trueCounts = toks.filter(col("token").isin(probes: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("true_count"))
    val probeDf = probesToDf(spark, probes)
      .withColumn("h", xxhash64(col("token")))
    probeDf
      .join(trueCounts, Seq("token"), "left")
      .na.fill(0L, Seq("true_count"))
      .crossJoin(broadcast(agg))
      .select(col("token"),
        graft.functions.CountMinFunctions.cms_estimate(col("sk"), col("h"))
          .as("est"),
        col("true_count"), col("n_total"))
      .orderBy(col("token"))
  }

  private def probesToDf(s: SparkSession, probes: Seq[String]) = {
    import s.implicits._
    probes.toDF("token")
  }

  /** t119_stream_sample — streaming per-window uniform user sample:
    * the bottom-4 seeded md5-uniform draws over DISTINCT users per
    * finalized day, held in streaming state by the dedup-aware
    * TopKDistinctByScore aggregate (k pairs of state per window — ONE
    * stateful operator, no dropDuplicates chain). Because the draw is
    * a deterministic function of the key, the result is value-exact
    * regardless of micro-batching: the oracle replays it with the
    * t14 watermark rule + ORDER BY u LIMIT 4.
    */
  def t119StreamSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = graft.ops.Sampling.md5Uniform(Seq(col("user_id")), "sk-2026")
    val agg = Tables.eventsStream(spark, sfDir).withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.TopKFunctions
        .top_k_distinct_by_score(-u, col("user_id"), 4).as("picks"))
      .select(col("w.start").as("day"), posexplode(col("picks")).as(Seq("pos", "p")))
      .select(col("day"), (col("pos") + 1).cast("int").as("rank"),
        col("p.id").as("user_id"), round(-col("p.score"), 6).as("u"))
    StreamingFlows.runAvailableNow(spark, agg, "t119_sample", statePartitions = 8)
      .orderBy(col("day"), col("rank"))
  }

  /** t120_mad_outliers — robust median/MAD outlier profile of event
    * values per event_type (mean/stddev would be dragged by the very
    * tail being hunted). Exact oracle: quantile_cont replays Spark's
    * interpolated exact percentile, then the same z/count arithmetic.
    */
  def t120MadOutliers(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Drift.madOutliers(Tables.events(spark, sfDir),
        Seq("event_type"), "value", k = 3.0)
      .orderBy(col("event_type"))

  /** t121_transitions — first-order Markov transition profile of user
    * event sequences: counts and P(next | current) from one per-user
    * lag window. Exact oracle: the same lag/count/ratio replay.
    */
  def t121Transitions(spark: SparkSession, sfDir: String): DataFrame =
    Behavior.transitions(Tables.events(spark, sfDir), "user_id", "ts",
        "event_type", "event_id")
      .orderBy(col("prev_type"), col("next_type"))

  /** t122_dim_stats — per-dimension embedding QA profile (mean, std,
    * min, max, zero fraction): the pre-flight check before any vector
    * indexing. Exact oracle via list-extraction replay.
    */
  def t122DimStats(spark: SparkSession, sfDir: String): DataFrame =
    Pca.dimStats(Tables.embeddings(spark, sfDir), "embedding")
      .orderBy(col("dim"))

  /** t123_pca_whiten — distributed PCA whitening end-to-end: one
    * CovMoments corpus pass → driver power-iteration eigen → one
    * kernel projection pass; the emitted checks re-measure the
    * WHITENED corpus with a second CovMoments pass and must read as
    * (near-)identity covariance. Estimate-typed (eigen solver) →
    * rows-only; Verify enforces: eigenvalues positive + descending,
    * whitened diag within 0.05 of 1, off-diag ≤ 0.05, explained_frac
    * in (0, 1].
    */
  def t123PcaWhiten(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 8
    val model = Pca.fit(emb, "embedding", d = 64, k = k)
    val white = Pca.whiten(emb.select(col("vec_id"), col("embedding")),
      "embedding", model)
    val flat = white
      .agg(graft.functions.CovFunctions.cov_moments(col("whitened"), k).as("m"))
      .head().getSeq[Double](0).toArray
    val n = flat(0)
    val mean = Array.tabulate(k)(i => flat(1 + i) / n)
    var t = 1 + k
    var maxDiagDev = 0.0
    var maxOff = 0.0
    for (i <- 0 until k; j <- i until k) {
      val c = flat(t) / n - mean(i) * mean(j)
      if (i == j) maxDiagDev = math.max(maxDiagDev, math.abs(c - 1.0))
      else maxOff = math.max(maxOff, math.abs(c))
      t += 1
    }
    val descending = model.eigVals.sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1))
    val checks = Seq(
      ("n", n),
      ("k", k.toDouble),
      ("explained_frac", round6(model.explainedFrac)),
      ("min_eig", round6(model.eigVals.min)),
      ("eig_descending", if (descending) 1.0 else 0.0),
      ("max_diag_dev", round6(maxDiagDev)),
      ("max_offdiag", round6(maxOff)))
    spark.createDataFrame(checks).toDF("check", "value")
      .orderBy(col("check"))
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** t124_rolling_anomaly — rolling z-score anomaly scan over daily
    * per-type event counts: each day scored against the trailing
    * 7-day window EXCLUDING itself. Integer inputs make every window
    * statistic bit-identical across engines — exact oracle.
    */
  def t124RollingAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    graft.ops.Drift.rollingAnomalies(daily, Seq("event_type"), "day", "n",
        window = 7, k = 3.0)
      .orderBy(col("event_type"), col("day"))
  }

  /** t125_dataset_card — the per-source corpus report card a curation
    * run publishes alongside its output: volume, length/token mass,
    * language spread, global-duplicate share, and blocklist exposure,
    * in one pass plus one duplicate-count join. Exact oracle: the
    * same aggregates in SQL.
    */
  def t125DatasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dupCounts = docs.groupBy(col("text"))
      .agg(count(lit(1)).as("__copies"))
    val terms = Seq("merge slow", "batch batch", "customer filter")
    val enriched = docs
      .join(dupCounts, "text")
      .withColumn("__toks",
        size(filter(TextDedup.tokens(col("text")), x => length(x) > 0)))
      .withColumn("__blocked",
        graft.functions.BlocklistFunctions.multi_contains(col("text"), terms)
          .getField("blocked"))
    enriched.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        sum(col("__toks").cast("long")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        round(sum(when(col("__copies") > 1, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("dup_share"),
        round(sum(when(col("__blocked"), 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("blocked_share"))
      .orderBy(col("source"))
  }

  /** t126_jl_project — seeded Johnson–Lindenstrauss random projection
    * (±1/√k signs from a deterministic scramble, k=32 of d=64): the
    * training-free dimension reduction for when even one covariance
    * pass is too expensive. Reuses the affine projection kernel with
    * zero mean and unit scales. Rows-only; the enforced gate measures
    * pairwise squared-distance distortion over consecutive-id pairs
    * and pins mean ≤ 0.3, max ≤ 1.5 (measured 0.200 / 0.932 — on the
    * √(2/k) Rademacher-JL theory line).
    */
  def t126JlProject(spark: SparkSession, sfDir: String): DataFrame = {
    val d = 64
    val k = 32
    // deterministic ±1 signs via the splitmix64 finalizer — a LINEAR
    // scramble of the (e, j) grid produces correlated (even identical)
    // rows, which silently triples the measured distortion; the
    // avalanche mix keeps row correlations at the ±1/√d noise floor
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val basis: Seq[Seq[Double]] = (0 until k).map { e =>
      (0 until d).map { j =>
        (if ((mix(e.toLong * 65537L + j) & 1L) == 0L) 1.0 else -1.0) /
          math.sqrt(k.toDouble)
      }
    }
    val emb = Tables.embeddings(spark, sfDir)
    val proj = emb.select(col("vec_id"),
      col("embedding"),
      graft.functions.ProjectionFunctions.project_whiten(col("embedding"),
        Seq.fill(d)(0.0), basis, Seq.fill(k)(1.0)).as("proj"))
    // consecutive-id pairs: (v, v+1) both present
    val a = proj.select(col("vec_id").as("ida"), col("embedding").as("xa"),
      col("proj").as("pa"))
    val b = proj.select((col("vec_id") - 1).as("ida"),
      col("embedding").as("xb"), col("proj").as("pb"))
    def sqDist(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (u, v) => (u - v) * (u - v)),
        lit(0.0), (acc, e) => acc + e)
    val pairs = a.join(b, "ida")
      .withColumn("__dx", sqDist(col("xa").cast("array<double>"),
        col("xb").cast("array<double>")))
      .withColumn("__dp", sqDist(col("pa"), col("pb")))
      .filter(col("__dx") > 0)
      .withColumn("__distortion", abs(col("__dp") / col("__dx") - 1.0))
    val stats = pairs.agg(count(lit(1)).cast("double").as("n_pairs"),
      round(avg(col("__distortion")), 6).as("mean_distortion"),
      round(max(col("__distortion")), 6).as("max_distortion"))
      .localCheckpoint(true)
    stats.select(lit("n_pairs").as("check"), col("n_pairs").as("value"))
      .unionByName(stats.select(lit("mean_distortion").as("check"),
        col("mean_distortion").as("value")))
      .unionByName(stats.select(lit("max_distortion").as("check"),
        col("max_distortion").as("value")))
      .orderBy(col("check"))
  }

  /** t127_grouped_ols — per-segment trend fitting: closed-form OLS of
    * daily event count on epoch day, one fit per event_type from a
    * single moment aggregation (no window, no per-group sort).
    * Integral x/y make the moments exact longs → bit-identical
    * slope/intercept/r² across engines. Exact oracle.
    */
  def t127GroupedOls(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("x"))
      .agg(count(lit(1)).as("y"))
    graft.analytics.Ols.groupedOls(daily, Seq("event_type"), "x", "y")
      .orderBy(col("event_type"))
  }

  /** t128_corr_matrix — pairwise Pearson correlation between the
    * event types' daily-count series (the metric-correlation matrix),
    * via integer-exact moment reduction per pair. Exact oracle.
    */
  def t128CorrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    graft.analytics.Ols.pairCorrelation(daily, "event_type", "day", "n")
      .orderBy(col("g_a"), col("g_b"))
  }

  /** t129_neg_sample — seeded random negative sampling for
    * contrastive pairs: 4 different-label negatives per anchor
    * (vec_id < 20), drawn by the per-pair seeded uniform. Exact
    * oracle: the same md5-digit draw + row_number replay.
    */
  def t129NegSample(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    graft.ops.Sampling.negativePairs(
        emb.select(col("vec_id"), col("label")), "vec_id", "label",
        emb.filter(col("vec_id") < 20).select(col("vec_id"), col("label")),
        "vec_id", "label", k = 4, salt = "neg-2026")
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** t130_hard_negatives — hard-negative mining: the 4 most-similar
    * DIFFERENT-label vectors per anchor (vec_id < 10), exact cosine.
    * Exact oracle: the t5 list_cosine_similarity replay plus the
    * label-mismatch predicate.
    */
  def t130HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val anchors = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlbl"))
    Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        anchors, "qid", "qvec", "qlbl", k = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** t131_ppr — personalized PageRank from a 3-seed teleport set over
    * the t64 synthetic provenance graph: proximity-to-seeds authority
    * (the TrustRank/seed-expansion shape), dangling mass re-entering
    * through the teleport vector. Exact oracle: per-round CTE replay.
    */
  def t131Ppr(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.documents(spark, sfDir)
      .select(col("source").as("src"),
        concat(lit("src"), (col("doc_id") * 7 + 3) % 20).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    Graph.personalizedPageRank(edges, "src", "dst", "w",
        seeds = Seq("src1", "src5", "src9"), iters = 3, damping = 0.85)
      .orderBy(col("node"))
  }

  /** t132_audio_fingerprint — audio near-dup detection via normalized
    * band-energy fingerprints over REAL decoded PCM16 samples: every
    * distinct-text audio row gets a byte-perturbed planted copy, and
    * the operator must pair each original with its twin at Hamming ≤ 4
    * (delta-sign bits flip only where adjacent bands were near-equal;
    * measured planted max 4, cross-signal minimum 15). Rows-only;
    * Verify enforces recovery ≥ 0.9 and a bounded collision-extra
    * fraction, the t115 contract shape.
    */
  def t132AudioFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
    val audio = Multimodal.synthesize(docs, "doc_id", "text")
      .filter(_.media_type == "audio")
    val perturbed = audio.map { r =>
      val b = r.media.clone()
      var i = 44 // standard RIFF+fmt+data headers
      while (i < b.length) { if (i % 13 == 0) b(i) = (b(i) + 1).toByte; i += 1 }
      r.copy(doc_id = r.doc_id + 1000000, media = b)
    }
    val hashes = Multimodal.audioFingerprint(audio.union(perturbed))
      .localCheckpoint(true)
    val pairs = Multimodal.fingerprintNearDups(hashes, maxHamming = 4)
      .localCheckpoint(true)
    val nBase = hashes.filter(col("doc_id") < 1000000)
      .agg(count(lit(1)).cast("double").as("n"))
    val stats = pairs
      .agg(
        sum(when(col("id_b") === col("id_a") + 1000000, 1.0).otherwise(0.0))
          .as("rec"),
        sum(when(col("id_b") =!= col("id_a") + 1000000, 1.0).otherwise(0.0))
          .as("extra"))
      .crossJoin(broadcast(nBase))
    val nRow = nBase.select(lit("n_audio").as("check"), col("n").as("value"))
    val recovered = stats.select(lit("recovered_frac").as("check"),
      round(coalesce(col("rec"), lit(0.0)) / col("n"), 6).as("value"))
    val extra = stats.select(lit("extra_frac").as("check"),
      round(coalesce(col("extra"), lit(0.0)) / col("n"), 6).as("value"))
    nRow.unionByName(recovered).unionByName(extra).orderBy(col("check"))
  }

  /** t133_top_paths — most common 3-step behavioral paths
    * (lag-of-lag within each user's ordered sequence), the path-mining
    * readout next to t121's transition matrix. Exact oracle: the same
    * double-lag window + count + deterministic top-15.
    */
  def t133TopPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("__p1", lag(col("event_type"), 1).over(w))
      .withColumn("__p2", lag(col("event_type"), 2).over(w))
      .filter(col("__p2").isNotNull)
      .select(concat_ws(">", col("__p2"), col("__p1"), col("event_type"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(15)
  }

  /** t134_stream_psi — STREAMING drift monitor: per finalized day, the
    * PSI of the day's value-bin distribution against a fixed
    * first-15-day reference. The streaming job maintains only
    * windows × bins counts in state (integer counts → the PSI
    * arithmetic is bit-identical across engines); PSI itself is batch
    * post-processing of the emitted counts. Exact watermark-replay
    * oracle.
    */
  def t134StreamPsi(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0, 400.0)
    def binOf(v: org.apache.spark.sql.Column) =
      edges.map(e => (v >= e).cast("int")).reduce(_ + _)
    val stream = Tables.eventsStream(spark, sfDir)
      .filter(col("value").isNotNull)
    val agg = stream.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"),
        binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day"), col("bin"), col("n"))
    val counts = StreamingFlows.runAvailableNow(spark, agg,
        "t134_psi", statePartitions = 8)
      .localCheckpoint(true)
    val events = Tables.events(spark, sfDir)
    val ref = events
      .filter(col("value").isNotNull &&
        col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
      .groupBy(binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("rn"))
    val refTot = ref.agg(sum(col("rn")).as("rtot"))
    val dayTot = counts.groupBy(col("day")).agg(sum(col("n")).as("tot"))
    val grid = counts.select(col("day")).distinct()
      .crossJoin(spark.range(0, edges.length + 1)
        .select(col("id").cast("int").as("bin")))
    val shares = grid
      .join(dayTot, "day")
      .join(counts, Seq("day", "bin"), "left")
      .crossJoin(broadcast(refTot))
      .join(broadcast(ref), Seq("bin"), "left")
      .withColumn("pb", greatest(
        coalesce(col("n"), lit(0L)).cast("double") / col("tot"), lit(1e-6)))
      .withColumn("pa", greatest(
        coalesce(col("rn"), lit(0L)).cast("double") / col("rtot"), lit(1e-6)))
    shares.groupBy(col("day"))
      .agg(max(col("tot")).as("n_day"),
        round(sum((col("pb") - col("pa")) * log(col("pb") / col("pa"))), 6)
          .as("psi"),
        (sum((col("pb") - col("pa")) * log(col("pb") / col("pa"))) < 0.25)
          .as("stable"))
      .orderBy(col("day"))
  }

  /** t135_water_fill — fair token-budget allocation across sources:
    * every source gets an equal share of a 20k-token budget except no
    * source can exceed its own token mass (capped mass redistributes
    * — the closed-form water-filling solve, no iteration). Exact
    * oracle: same sort-window feasibility + level arithmetic on exact
    * longs.
    */
  def t135WaterFill(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      // NULL text would make size(...) read -1 (legacy sizeOfNull)
      // and silently deflate the source's mass where the oracle's
      // sum() skips NULLs — drop such rows on both sides
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(filter(TextDedup.tokens(col("text")), x => length(x) > 0))
          .cast("long").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("avail"))
    graft.ops.Mixing.waterFill(perSource, "source", "avail",
        budget = 20000L)
      .orderBy(col("source"))
  }

  /** t136_score_calibrate — per-source quantile normalization of a
    * quality score (n_chars stands in): each doc's score becomes its
    * percent rank WITHIN its source, making a single global keep
    * threshold fair across heterogeneous sources. Exact oracle:
    * percent_rank has identical tie semantics in DuckDB.
    */
  def t136ScoreCalibrate(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.calibrateScores(
        Tables.documents(spark, sfDir)
          .select(col("source"), col("doc_id"), col("n_chars")),
        Seq("source"), "n_chars")
      .orderBy(col("source"), col("doc_id"))

  /** t137_ks_binned — the binned-KS escape hatch on the t113 fixture:
    * same groups (event_type), same side split (even epoch-day), same
    * value column, but the ECDFs evaluate at the t114 literal bin
    * edges so the per-group window is 9 rows regardless of the value
    * column's cardinality. Exact oracle on the binned semantics; the
    * DriftSpec pins binned ≤ exact with gap ≤ max single-bin mass.
    */
  def t137KsBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Drift.ksStatisticBinned(events, Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 2 === 0,
        "value", Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0, 400.0))
      .orderBy(col("event_type"))
  }

  /** t138_calibrated_keep — the selection step calibration exists
    * for: calibrate n_chars per source, apply ONE global threshold
    * (keep the calibrated top 30%), and audit per source — n docs,
    * n kept, kept fraction, min surviving raw score. The fairness
    * property under test: one threshold keeps ≈ the same fraction of
    * every source because the calibrated score is the within-source
    * percentile. Exact oracle (percent_rank + the same aggregate).
    */
  def t138CalibratedKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val kept = CorpusStats.calibratedKeep(
      Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"), col("n_chars")),
      Seq("source"), "n_chars", threshold = 0.7)
    CorpusStats.calibratedKeepAudit(kept, Seq("source"), "n_chars")
      .orderBy(col("source"))
  }

  /** t139_ks_qbinned — quantile-auto-binned KS on the t113 fixture:
    * bin edges are the even-day (reference) sample's per-event-type
    * deciles instead of t137's hand-placed literals — equal-mass bins
    * where the reference has mass, resolution bound ≈ 1/10. Exact
    * oracle: Spark exact `percentile` and DuckDB `quantile_cont`
    * share the linear-interpolation definition.
    */
  def t139KsQbinned(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Drift.ksStatisticQuantileBinned(events, Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 2 === 0,
        "value", nBins = 10)
      .orderBy(col("event_type"))
  }

  /** t140_rendezvous_shards — consistent-hash reshard audit: assign
    * every doc to 16 shards and to 17 by rendezvous hashing, then
    * audit movement per old shard — n docs, n moved, moved fraction,
    * and the (single) destination shard of every mover. The HRW
    * contract under test: movers all land on the NEW shard and total
    * movement ≈ 1/17, vs rank-based sharding's near-total reflow.
    * Exact oracle (md5 arg_max replay).
    */
  def t140RendezvousShards(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val b = Ids.rendezvousShards(docs, "doc_id", 16, "shard_before")
    val a = Ids.rendezvousShards(b, "doc_id", 17, "shard_after")
    a.groupBy(col("shard_before"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard_after") =!= col("shard_before"), 1L)
          .otherwise(0L)).as("n_moved"),
        round(sum(when(col("shard_after") =!= col("shard_before"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("moved_frac"),
        max(when(col("shard_after") =!= col("shard_before"),
          col("shard_after"))).as("moved_to"))
      .orderBy(col("shard_before"))
  }

  /** t141_bootstrap_ci — Poisson-bootstrap 95% CI for each source's
    * mean doc length: 200 seeded replicates, each row's multiplicity
    * an md5-seeded Poisson(1) draw, percentile-method bounds over the
    * replicate means. Exact oracle: integral values keep every
    * weighted sum an exact long, so the replicate means and the
    * quantile interpolation are bit-identical in DuckDB.
    */
  def t141BootstrapCI(spark: SparkSession, sfDir: String): DataFrame =
    Bootstrap.meanCI(
        Tables.documents(spark, sfDir)
          .select(col("source"), col("doc_id"), col("n_chars")),
        Seq("source"), "doc_id", "n_chars",
        reps = 200, conf = 0.95, salt = "boot")
      .orderBy(col("source"))

  /** t142_chi2_drift — Pearson χ² homogeneity per source: does the
    * LANGUAGE mix differ between a seeded md5 half-split of each
    * source's docs? (A null-hypothesis fixture — a random split
    * should NOT drift, and the statistic, dof, critical value, and
    * verdict are all exact-oracled.) The categorical member of the
    * drift family: KS = continuous (t113/t137/t139), PSI = binned
    * stability (t114), χ² = categorical significance.
    */
  def t142Chi2Drift(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Drift.chiSquareDrift(
        Tables.documents(spark, sfDir), Seq("source"),
        substring(md5(col("doc_id").cast("string")), 1, 1) < "8",
        "lang")
      .orderBy(col("source"))

  /** t143_jsd_sources — Jensen–Shannon distinctiveness of each
    * source's unigram distribution vs the corpus: the mixing-dashboard
    * "how different is this source's language" readout, absent-token
    * mass folded in closed form (never a group × vocab expansion).
    * Exact oracle over the shared tokenization.
    */
  def t143JsdSources(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.jsdDistinctiveness(
        Tables.documents(spark, sfDir), "source", "text")
      .orderBy(col("source"))

  /** t144_bootstrap_diff — A/B difference-in-means bootstrap: per
    * source, the 95% CI for mean n_chars difference between the
    * seeded md5 half-split's sides (the t142 null fixture — the CI
    * should usually straddle 0), `significant` = CI excludes 0.
    * Exact oracle via the shared seeded-Poisson machinery.
    */
  def t144BootstrapDiff(spark: SparkSession, sfDir: String): DataFrame =
    Bootstrap.diffCI(
        Tables.documents(spark, sfDir)
          .select(col("source"), col("doc_id"), col("n_chars")),
        Seq("source"),
        substring(md5(col("doc_id").cast("string")), 1, 1) < "8",
        "doc_id", "n_chars", reps = 200, conf = 0.95, salt = "ab")
      .orderBy(col("source"))

  /** t145_stream_bootstrap — STREAMING Poisson-bootstrap CI: events
    * stream in watermarked daily micro-batches; the streaming state is
    * per-(day-window, event_type, replicate) PARTIAL weight/value sums
    * (associative exact longs — days × groups × 100 reps rows, never
    * raw events); batch post-processing merges the day partials into
    * replicate means and takes the percentile CI of each event type's
    * mean value (fixed-point cents — floor(value·100), portable both
    * engines). Merging partials is exact, so the result equals the
    * batch bootstrap on all data: full watermark-replay oracle.
    */
  def t145StreamBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = 100
    val stream = Tables.eventsStream(spark, sfDir)
      .filter(col("value").isNotNull)
      // the file-stream source reads each file as ONE partition — an
      // un-repartitioned ×reps explode would run single-task. Spread
      // the cheap raw rows first; the heavy explode+hash then rides
      // full parallelism (measured 16.2 s → see PERF_NOTES)
      .repartition(32)
      .withColumn("__v", floor(col("value") * 100).cast("long"))
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      // materialize the uniform once: inlined it would be recomputed
      // per CDF literal (9 md5+extract trees per row per replicate)
      .withColumn("__u", graft.ops.Sampling.md5Uniform(
        Seq(col("event_id"), col("__b")), "sboot"))
      .withColumn("__w", Bootstrap.poissonWeightFromUniform(col("__u")))
    val partials = stream.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"),
        col("event_type"), col("__b"))
      .agg(sum(col("__w") * col("__v")).as("wv"), sum(col("__w")).as("wt"))
      .select(col("event_type"), col("__b"), col("wv"), col("wt"))
    val merged = StreamingFlows.runAvailableNow(spark, partials,
        "t145_boot", statePartitions = 8)
      .localCheckpoint(true)
    val perRep = merged.groupBy(col("event_type"), col("__b"))
      .agg(sum(col("wv")).as("swv"), sum(col("wt")).as("swt"))
      .filter(col("swt") > 0)
      .select(col("event_type"),
        (col("swv").cast("double") / col("swt").cast("double")).as("__m"))
    val ci = perRep.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        percentile(col("__m"), lit(0.025)).as("__lo"),
        percentile(col("__m"), lit(0.975)).as("__hi"))
    // the stream only FINALIZES windows whose end precedes the final
    // watermark (max ts − 1 day); the point estimate applies the same
    // cutoff so both statistics describe the same finalized data
    val ev = Tables.events(spark, sfDir).filter(col("value").isNotNull)
    val wm = ev.agg((max(col("ts")) - expr("INTERVAL 1 DAY")).as("__wm"))
    val point = ev.crossJoin(broadcast(wm))
      .filter(date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY") <=
        col("__wm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(floor(col("value") * 100).cast("long")).cast("double") /
          count(lit(1))).as("__mean"))
    point.join(ci, "event_type")
      .select(col("event_type"), col("n_rows"),
        round(col("__mean"), 6).as("mean_cents"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"), col("n_reps"))
      .orderBy(col("event_type"))
  }

  /** t146_ks_approx_edges — the SKETCH-edge drop-in t139's scaladoc
    * promises, measured: quantile-binned KS with percentile_approx
    * (Greenwald–Khanna, bounded state — the path for groups whose
    * reference sample exceeds a partition) side-by-side with the
    * exact-percentile edges and the exact full KS. Estimate-typed
    * (sketch edges are engine-specific) → rows-only for the driver;
    * the ENFORCED Verify gate pins, per group: D̂_approx ≤ D_exact
    * (any-edge binned D̂ lower-bounds the true sup) and
    * |D̂_approx − D̂_exact-edges| ≤ 1/nBins.
    */
  def t146KsApproxEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val side = datediff(to_date(col("ts")),
      lit("1970-01-01").cast("date")) % 2 === 0
    val full = graft.ops.Drift.ksStatistic(events, Seq("event_type"),
        side, "value")
      .select(col("event_type"), col("ks_d").as("ks_full"))
    val exactE = graft.ops.Drift.ksStatisticQuantileBinned(events,
        Seq("event_type"), side, "value", nBins = 10)
      .select(col("event_type"), col("ks_d").as("ks_exact_edges"))
    val approxE = graft.ops.Drift.ksStatisticQuantileBinned(events,
        Seq("event_type"), side, "value", nBins = 10, approx = true)
      .select(col("event_type"), col("ks_d").as("ks_approx_edges"))
    full.join(exactE, "event_type").join(approxE, "event_type")
      .withColumn("abs_diff",
        round(abs(col("ks_approx_edges") - col("ks_exact_edges")), 6))
      .orderBy(col("event_type"))
  }

  /** t147_two_level_shards — the thousands-of-shards rendezvous form
    * (O(2√N) hashes/row) at N=256, groups=16: reshard audit 256→257
    * proving the movement contract survives the two-level composition
    * — movers all land on the new shard, movement ≈ 1/N, shard loads
    * bounded. Exact oracle (two-level md5 arg_max replay).
    */
  def t147TwoLevelShards(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val b = Ids.rendezvousShardsTwoLevel(docs, "doc_id", 256, 16,
      "shard_before")
    val j = Ids.rendezvousShardsTwoLevel(b, "doc_id", 257, 16,
      "shard_after").localCheckpoint(true)
    val moved = col("shard_after") =!= col("shard_before")
    val main = j.agg(
      count(lit(1)).as("n_docs"),
      sum(when(moved, 1L).otherwise(0L)).as("n_moved"),
      round(sum(when(moved, 1L).otherwise(0L)).cast("double") /
        count(lit(1)), 6).as("moved_frac"),
      coalesce(bool_and(when(moved, col("shard_after") === 256)), lit(true))
        .as("movers_to_new"))
    val loads = j.groupBy(col("shard_after")).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("max_load"),
        count(lit(1)).as("n_shards_used"))
    main.crossJoin(loads)
  }

  /** The shared t148/t149 fixture: daily event counts per type — an
    * integer-valued series, so the trend statistics stay exact longs.
    */
  private def dailyCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("x"))

  /** t148_mann_kendall — monotone-trend test on each event type's
    * daily volume (tie-corrected variance, continuity-corrected z;
    * the null fixture: random daily counts should not trend). Exact
    * oracle — S and the variance numerator are exact longs.
    */
  def t148MannKendall(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Trend.mannKendall(dailyCounts(spark, sfDir),
        Seq("event_type"), "day", "x")
      .orderBy(col("event_type"))

  /** t149_cusum_change — CUSUM change-point on the same series: the
    * first day maximizing |n·S_k| (exact long), shift quantified by
    * before/after means. Exact oracle.
    */
  def t149CusumChange(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Trend.cusumChangePoint(dailyCounts(spark, sfDir),
        Seq("event_type"), "day", "x")
      .orderBy(col("event_type"))

  /** t150_cohens_kappa — inter-rater agreement per source between two
    * length heuristics (n_chars > 300 vs token count > 45): the QA
    * readout for label pipelines, chance-corrected. Exact oracle on
    * the shared tokenization.
    */
  def t150CohensKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
    val tokCount = size(filter(TextDedup.tokens(col("text")),
      x => length(x) > 0))
    Agreement.cohensKappa(docs, Seq("source"),
        col("n_chars") > 300, tokCount > 45)
      .orderBy(col("source"))
  }

  /** t151_quantile_normalize — full quantile normalization of
    * n_chars across sources: each doc's length maps to the global
    * length distribution's value at its within-source percentile
    * (batch-effect correction — every source's marginal becomes the
    * corpus marginal). Exact oracle: t136's percent_rank + a shared
    * 101-point quantile_cont grid with identical interpolation
    * arithmetic.
    */
  def t151QuantileNormalize(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.quantileNormalize(
        Tables.documents(spark, sfDir)
          .select(col("source"), col("doc_id"), col("n_chars")),
        Seq("source"), "n_chars", gridSize = 100)
      .orderBy(col("source"), col("doc_id"))

  /** t152_rake_weights — IPF raking of the (lang × length-bucket)
    * table to uniform marginals on both axes at once (0.2 per lang,
    * 0.25 per bucket): the two-constraint mixing weights per-axis
    * reweighting cannot produce. 4 alternating iterations,
    * driver-side over the 20-cell table, exact unrolled-SQL oracle.
    */
  def t152RakeWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .groupBy(col("lang"),
        least(floor(col("n_chars") / 150), lit(3)).cast("int").as("b"))
      .agg(count(lit(1)).as("n"))
    val langs = Seq("de", "en", "es", "fr", "zh")
    graft.ops.Mixing.rakeWeights(cells, "lang", "b", "n",
        rowTargets = langs.map(_ -> 0.2).toMap,
        colTargets = (0 to 3).map(i => i.toString -> 0.25).toMap,
        iterations = 4)
      .orderBy(col("lang"), col("b"))
  }

  /** t153_stream_cusum — STREAMING change-point monitoring: daily
    * per-type event counts accumulate as watermarked streaming state
    * (days × types rows — the t134 shape minus bins), and batch
    * post-processing runs the CUSUM change-point over the finalized
    * windows. The streaming counts are exact longs, so the oracle is
    * the batch CUSUM on the watermark-finalized events.
    */
  def t153StreamCusum(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.eventsStream(spark, sfDir).withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("x"))
      .select(col("w.start").cast("date").as("day"),
        col("event_type"), col("x"))
    val counts = StreamingFlows.runAvailableNow(spark, daily,
        "t153_cusum", statePartitions = 8)
      .localCheckpoint(true)
    graft.ops.Trend.cusumChangePoint(counts, Seq("event_type"), "day", "x")
      .orderBy(col("event_type"))
  }

  /** t154_drift_panel — the one-stop drift verdict: exact KS, binned
    * PSI, and χ² homogeneity over the SAME even-day split of each
    * event type's values, joined into one row per group with an
    * any-detector verdict. Pure composition of t113/t114/t142's
    * oracled machinery — the dashboard query a corpus refresh runs
    * first. Exact oracle (join of the three mirrors).
    */
  def t154DriftPanel(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val side = datediff(to_date(col("ts")),
      lit("1970-01-01").cast("date")) % 2 === 0
    val ks = graft.ops.Drift.ksStatistic(events, Seq("event_type"),
        side, "value")
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("ks_d"), col("drifted").as("ks_drifted"))
    val psi = graft.ops.Drift.psi(events, Seq("event_type"), side,
        "value", Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0, 400.0))
      .select(col("event_type"), col("psi"),
        (!col("stable")).as("psi_drifted"))
    val chi2 = graft.ops.Drift.chiSquareDrift(
        events.withColumn("__vb",
          least(floor(col("value") / 100), lit(4)).cast("int")),
        Seq("event_type"), side, "__vb")
      .select(col("event_type"), col("chi2"),
        col("drifted").as("chi2_drifted"))
    sharedCensus(spark, sfDir, "t154_drift_panel") {
      ks.join(psi, "event_type").join(chi2, "event_type")
        .withColumn("any_drifted",
          col("ks_drifted") || col("psi_drifted") || col("chi2_drifted"))
    }.orderBy(col("event_type"))
  }

  /** t155_fdr_alarms — fleet-scale alarm discipline: per-type KS
    * drift p-values (truncated Kolmogorov tail on the 6dp D) pushed
    * through Benjamini–Hochberg step-up at α = 0.05. The corpus-sized
    * work is t113's KS; the ranking runs over one row per monitored
    * type. At sf0.01 this demonstrates the point of the operator: one
    * type raises a raw p ≤ 0.05 alarm that the FDR correction
    * suppresses. Exact oracle.
    */
  def t155FdrAlarms(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val side = datediff(to_date(col("ts")),
      lit("1970-01-01").cast("date")) % 2 === 0
    val tests = graft.ops.Drift
      .ksStatistic(events, Seq("event_type"), side, "value")
      .withColumn("p_value",
        round(graft.ops.Drift.ksPValue(col("ks_d"), col("n_a"),
          col("n_b")), 6))
      .select(col("event_type"), col("n_a"), col("n_b"), col("ks_d"),
        col("p_value"))
    graft.ops.Drift.bhCorrect(tests, "p_value", 0.05, Seq("event_type"))
      .withColumnRenamed("fdr_flag", "fdr_drifted")
      .withColumn("raw_drifted", col("p_value") <= 0.05)
      .orderBy(col("event_type"))
  }

  /** t156_snapshot_fingerprint — Merkle-style snapshot equality: both
    * corpus versions (B = A minus doc_id % 97 docs, with doc_id % 101
    * texts edited — the planted refresh) reduce to 64 per-shard
    * (count, xor, sum-mod) fingerprints in one scan each, and the
    * full-outer fingerprint join localizes exactly which shards need
    * the row-level t88 diff. Portable md5 digests, exact oracle.
    */
  def t156SnapshotFingerprint(spark: SparkSession,
                              sfDir: String): DataFrame = {
    import graft.ops.SnapshotDiff
    val a = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      coalesce(col("lang"), lit("")).as("lang"),
      coalesce(col("source"), lit("")).as("source"),
      coalesce(col("text"), lit("")).as("text"))
    val b = a.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 101 === 0,
          concat(col("text"), lit(" [edited]"))).otherwise(col("text")))
    def fp(df: DataFrame) = SnapshotDiff.fingerprint(df,
      col("doc_id") % 64,
      SnapshotDiff.portableDigest(Seq(col("doc_id"), col("lang"),
        col("source"), col("text"))))
    SnapshotDiff.fingerprintDiff(fp(a), fp(b)).orderBy(col("shard"))
  }

  /** t157_diversity — lexical diversity per source: 1/2/3-gram
    * type–token ratios over 48-bit portable digests (the
    * mode-collapse detector for synthetic/templated sources). Exact
    * oracle on the shared shingle + digest contract.
    */
  def t157Diversity(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.diversityReport(
        Tables.documents(spark, sfDir), "text", Seq("source"), 3)
      .orderBy(col("source"), col("n"))

  /** t158_burst_gini — temporal burstiness per event type: Gini
    * concentration + peak-day share of daily volume (the
    * dump-shaped-scrape detector). Windows run on the days × types
    * aggregate. Exact oracle.
    */
  def t158BurstGini(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Trend.giniConcentration(dailyCounts(spark, sfDir),
        Seq("event_type"), "day", "x")
      .orderBy(col("event_type"))

  /** t159_wasserstein — earth-mover drift magnitude per event type
    * over the even-day split: how far the value distribution moved in
    * value units (the complement of t113's "did it move"). Exact
    * oracle on the shared discrete-ECDF integral.
    */
  def t159Wasserstein(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val side = datediff(to_date(col("ts")),
      lit("1970-01-01").cast("date")) % 2 === 0
    graft.ops.Drift.wasserstein1(events, Seq("event_type"), side, "value")
      .orderBy(col("event_type"))
  }

  /** t160_containment — cross-source 3-gram containment matrix: which
    * sources mirror / republish each other's content. Exact oracle on
    * the shared shingle-digest contract.
    */
  def t160Containment(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.crossSourceContainment(
        Tables.documents(spark, sfDir), "text", "source", 3)
      .orderBy(col("containment").desc, col("source_a"), col("source_b"))

  /** t161_auc — exact ROC AUC of the event value as a click-ranking
    * signal, per weekday (the epoch-day % 7 portable weekday): does
    * the score order clicks above non-clicks, and is that stable
    * across the week. Exact oracle — all rank sums are BIGINTs.
    */
  def t161Auc(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Eval.aucRank(
        events.withColumn("dow",
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long") % 7),
        Seq("dow"), col("event_type") === "click", "value")
      .orderBy(col("dow"))
  }

  /** t162_calibration — reliability bins + ECE of value/500 as a
    * click "probability", per weekday: the is-the-quality-score-
    * calibrated audit. Exact oracle — accuracy counts are BIGINTs and
    * confidence mass routes through DECIMAL(28,10) on both engines.
    */
  def t162Calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .withColumn("dow",
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") % 7)
      .withColumn("p", col("value") / 500.0)
    graft.ops.Eval.calibrationReport(events, Seq("dow"), "p",
        col("event_type") === "click", 10)
      .orderBy(col("dow"), col("bin"))
  }

  /** t163_zipf — Zipf-law fit of each source's top-100 token
    * frequencies: slope/r² per source as the natural-vs-templated
    * text health check. Exact oracle on the integer micro-log moment
    * contract.
    */
  def t163Zipf(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.zipfFit(Tables.documents(spark, sfDir), "text",
        Seq("source"), 100)
      .orderBy(col("source"))

  /** t164_km_survival — Kaplan–Meier time-to-first-purchase (hours
    * from each user's first event; right-censored at the corpus's
    * last timestamp), per user_id % 3 cohort. The survival curve the
    * retention table (t108) can't produce once observation windows
    * differ per user. Exact-ordered oracle (ln/exp at the 6dp
    * boundary).
    */
  def t164KmSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val perUser = events
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("tp"))
    val tmax = events.agg(max(unix_micros(col("ts"))).as("tmax"))
    val subjects = perUser.crossJoin(broadcast(tmax))
      .withColumn("__us", when(col("tp").isNotNull, col("tp"))
        .otherwise(col("tmax")) - col("t0"))
      // integer `div`, not `/`: long/long in Spark is a DOUBLE divide,
      // and a quotient that lands exactly on an hour boundary can
      // round to n−ε and truncate to the wrong hour
      .select((col("user_id") % 3).as("cohort"),
        expr("__us div 3600000000").as("dur"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("died"))
    graft.ops.Eval.kaplanMeier(subjects, Seq("cohort"), "dur", "died")
      .orderBy(col("cohort"), col("d"))
  }

  /** t165_avg_precision — average precision of the event value as a
    * click-ranking signal, per portable weekday: the class-imbalance-
    * honest companion to t161's AUC (same blocks collapse, same
    * tie-shared convention). Exact oracle — the only float stage is
    * the identically-ordered per-group cumulative term sum.
    */
  def t165AvgPrecision(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Eval.averagePrecision(
        events.withColumn("dow",
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long") % 7),
        Seq("dow"), col("event_type") === "click", "value")
      .orderBy(col("dow"))
  }

  /** t166_containment_pairs — doc-level n-gram containment ≥ 0.8 over
    * exact-dedup reps (t4's candidate machinery, asymmetric measure):
    * the quoted-inside / republished-with-wrapper detector Jaccard
    * structurally misses. Exact oracle on the shared shingle contract.
    */
  def t166ContainmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    TextDedup.containmentPairs(
        TextDedup.exact(docs, "text", "doc_id"),
        "text", "doc_id", shingleK = 3, minContainment = 0.8, maxDf = 10)
      .orderBy(col("id_sub"), col("id_sup"))
  }

  /** t167_transition_entropy — next-event entropy per event type
    * (nats + ln(k)-normalized): the scripted-traffic detector over
    * t121's transition matrix. Exact oracle on the BIGINT micro-log
    * term contract.
    */
  def t167TransitionEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Behavior.transitionEntropy(Tables.events(spark, sfDir), "user_id",
        "ts", "event_type", "event_id")
      .orderBy(col("prev_type"))

  /** t168_heaps_fit — Heaps-law vocabulary-growth fit per source
    * (β, ln K, r² over power-of-2 document checkpoints): the
    * growth-curve complement of t163's Zipf lens. Exact oracle on the
    * denseIds rank + checkpoint-bucket + integer micro-log contract.
    */
  def t168HeapsFit(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.heapsFit(Tables.documents(spark, sfDir), "text",
        "doc_id", "source")
      .orderBy(col("source"))

  /** t169_pmi_cooccur — PMI co-occurrence pairs over the corpus's
    * top-30 tokens (doc-level presence, pairs seen in ≥ 10 docs): the
    * association-mining lens on templated phrasing. Exact oracle on
    * the shared digest + bounded-heap top-k contract.
    */
  def t169PmiCooccur(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.pmiPairs(Tables.documents(spark, sfDir), "text",
        "doc_id", k = 30, minCount = 10)
      .orderBy(col("tok_a"), col("tok_b"))

  /** t170_l_diversity — l-diversity audit of user identity inside
    * (event_type × weekday) quasi-groups (l = 120): the k-anonymity
    * complement t70 can't see — big groups that still expose a
    * near-constant sensitive value. Exact oracle on the BIGINT
    * micro-log entropy contract.
    */
  def t170LDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .withColumn("dow",
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") % 7)
    Privacy.lDiversityAudit(e, Seq("event_type", "dow"), "user_id", 120)
      .orderBy(col("event_type"), col("dow"))
  }

  /** t171_benford — Benford's-law leading-digit audit of event values
    * per event type (MAD over all nine digits, integer-exact digit
    * extraction via BIGINT cents): the fabricated-numbers tripwire.
    * Exact oracle.
    */
  def t171Benford(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.benfordAudit(Tables.events(spark, sfDir),
        Seq("event_type"), "value")
      .orderBy(col("event_type"))

  /** t172_conformal — split-conformal value threshold per event type
    * (calibration = even event ids, α = 0.1) with held-out coverage
    * audited at 0.88: the distribution-free keep-rule calibration.
    * Exact oracle (BIGINT order statistics; one ceil on the same IEEE
    * product).
    */
  def t172Conformal(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.conformalThreshold(Tables.events(spark, sfDir),
        Seq("event_type"), "value", col("event_id") % 2 === 0,
        alpha = 0.1, coveredAt = 0.88)
      .orderBy(col("event_type"))

  /** t173_good_turing — Good–Turing unseen-mass report per source
    * (N₁/N₂ frequency-of-frequencies, p₀, smoothed hapax count): the
    * is-the-vocabulary-exhausted probe next to t168's growth fit.
    * Exact oracle on the shared token digest contract.
    */
  def t173GoodTuring(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.goodTuringReport(Tables.documents(spark, sfDir), "text",
        Seq("source"))
      .orderBy(col("source"))

  /** t174_label_mi — mutual information between top-30 token presence
    * and the source label: the feature-selection / source-leakage
    * ranking. Exact oracle on the digest + bounded-heap + micro-log
    * cell contract.
    */
  def t174LabelMi(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.labelMi(Tables.documents(spark, sfDir), "text",
        "doc_id", "source", k = 30)
      .orderBy(col("mi").desc, col("token"))

  /** t175_stream_conformal — STREAMING conformal coverage monitor:
    * thresholds calibrate batch-side on even epoch-days (t172's exact
    * order statistic, α = 0.1), the stream joins them statically and
    * accumulates per-day coverage counts as watermarked state (days ×
    * types rows), and batch post-processing flags days whose
    * 6dp-rounded coverage drops below 0.85 with a running miss count
    * — the live "did the keep-rule's guarantee break" alarm. Streaming
    * counts are exact longs → exact oracle (batch replay).
    */
  def t175StreamConformal(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    def epochDay(c: org.apache.spark.sql.Column) =
      datediff(to_date(c), lit("1970-01-01").cast("date")).cast("long")
    val thr = graft.ops.Eval.conformalCut(events, Seq("event_type"),
        "value", epochDay(col("ts")) % 2 === 0, alpha = 0.1)
      .select(col("event_type"), col("n_cal"), col("__thr").as("__t"))
    val stream = Tables.eventsStream(spark, sfDir)
      .filter(col("value").isNotNull && epochDay(col("ts")) % 2 === 1)
      .join(broadcast(thr), Seq("event_type"))
    val daily = stream.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        col("n_cal"), col("__t"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("__t"), 1L).otherwise(0L))
          .as("n_cov"))
      .select(col("w.start").cast("date").as("day"), col("event_type"),
        col("n_cal"), col("__t"), col("n"), col("n_cov"))
    val counts = StreamingFlows.runAvailableNow(spark, daily,
        "t175_conf", statePartitions = 8)
      .localCheckpoint(true)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    counts
      .withColumn("coverage",
        round(col("n_cov").cast("double") / col("n"), 6))
      .withColumn("covered", col("coverage") >= 0.85)
      .withColumn("misses_so_far",
        sum(when(col("covered"), 0L).otherwise(1L)).over(wCum))
      .select(col("event_type"), col("day"), col("n_cal"),
        round(col("__t"), 6).as("threshold"), col("n"), col("n_cov"),
        col("coverage"), col("covered"), col("misses_so_far"))
      .orderBy(col("event_type"), col("day"))
  }

  /** t176_mann_whitney — tie-corrected Mann–Whitney U z-test of click
    * vs non-click values per weekday: the significance companion to
    * t161's AUC (same exact BIGINT rank sums; doubles only in σ/z).
    * Exact oracle.
    */
  def t176MannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    graft.ops.Eval.mannWhitney(
        events.withColumn("dow",
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long") % 7),
        Seq("dow"), col("event_type") === "click", "value")
      .orderBy(col("dow"))
  }

  /** t177_edit_verify — exact-Levenshtein verification of the t4
    * near-dup shortlist (Jaccard ≥ 0.5 pairs over exact-dedup reps;
    * sim = 1 − dist/max_len ≥ 0.8): the character-level ground-truth
    * stage run where it belongs — on the pairs the cheap similarity
    * already shortlisted, so the O(|a|·|b|) DP touches a near-dup-
    * sized set, never the raw bucket candidates. Exact oracle (both
    * engines' levenshtein is the standard DP).
    */
  def t177EditVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = TextDedup.exact(Tables.documents(spark, sfDir),
      "text", "doc_id")
    val shortlist = TextDedup.ngramJaccardPairs(reps, "text", "doc_id",
      shingleK = 3, minJaccard = 0.5, maxDf = 10)
    TextDedup.editDistanceVerify(shortlist, reps, "text", "doc_id",
        minSim = 0.8)
      // pinned before the sort — the range exchange samples its child;
      // without the pin the Levenshtein DP over the shortlist ran twice
      // (t194 rationale). Survivor-pair cardinality, candidate-bounded.
      .localCheckpoint(true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t178_rolling_corr — rolling 7-day Pearson correlation between
    * daily click and purchase counts: the co-movement monitor a
    * whole-history correlation (t128) averages away. Exact oracle on
    * the windowed integer-moment contract.
    */
  def t178RollingCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    graft.ops.Trend.rollingCorrelation(daily, "day", "x", "y", win = 7)
      .orderBy(col("day"))
  }

  /** t179_readability — Flesch-shaped readability average per source
    * (portable word/sentence/vowel-group proxies, micro-mean): the
    * readability-band curation lens. Exact oracle.
    */
  def t179Readability(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.readabilityReport(Tables.documents(spark, sfDir),
        "text", Seq("source"))
      .orderBy(col("source"))

  /** t180_fd_audit — functional-dependency audit of four candidate
    * rules across both corpora (doc_id→source holds; lang→source,
    * source→lang, user_id→event_type fail with measured confidence):
    * the schema-drift probe. Exact oracle.
    */
  def t180FdAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val events = Tables.events(spark, sfDir)
    def audit(df: DataFrame, l: String, r: String, name: String) =
      graft.ops.Profiling.fdAudit(df, l, r)
        .withColumn("fd", lit(name))
    audit(docs, "doc_id", "source", "doc->source")
      .unionByName(audit(docs, "lang", "source", "lang->source"))
      .unionByName(audit(docs, "source", "lang", "source->lang"))
      .unionByName(audit(events, "user_id", "event_type", "user->type"))
      .select(col("fd"), col("n_groups"), col("n_violating"),
        col("n_rows"), col("confidence"), col("holds"))
      .orderBy(col("fd"))
  }

  /** t181_collocations — Dunning-LLR collocation mining over adjacent
    * bigrams (≥ 20 occurrences, top-50 by G²): the template-skeleton
    * extractor. Exact oracle on the shared digest + exact-count xlx
    * contract.
    */
  def t181Collocations(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.llrCollocations(Tables.documents(spark, sfDir), "text",
        minCount = 20)
      .orderBy(col("llr").desc, col("w1"), col("w2"))
      .limit(50)

  /** t182_dispersion — index of dispersion of daily event counts per
    * type (Poisson-ness check; D ≫ 1 = bursty dumps, D < 1 = rate-
    * limited feeds). Exact oracle on integer moments.
    */
  def t182Dispersion(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Trend.dispersionIndex(daily, Seq("event_type"), "x",
        threshold = 1.5)
      .orderBy(col("event_type"))
  }

  /** t183_cosine_profile — embedding-space health profile: cosine
    * histogram + mean/std over deterministic neighbor pairs
    * (vec 2i vs 2i+1) — the isotropy/collapse glance. Exact oracle
    * (sequential-accumulation cosine kernel, micro moments).
    */
  def t183CosineProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .join(emb.select((col("vec_id") - 1).as("id_a"),
        col("embedding").as("vb")), Seq("id_a"))
    Similarity.cosineProfile(pairs, "va", "vb")
      .orderBy(col("bin"))
  }

  /** t184_weighted_quantiles — exact quantity-weighted price
    * quartiles per lineitem return flag: the sample-weight-aware
    * percentile (left-continuous weighted order statistic, pure
    * integer rank tests). Exact oracle.
    */
  def t184WeightedQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    weightedQuantilesCensus(spark, sfDir).orderBy(col("flag"))

  /** The weighted-quantile table, computed ONCE per (session, sfDir)
    * and shared by t184 and the SqlFacade `weighted_quantiles` view
    * (the prefixJaccardPairs convention: t184 2.65 s + q71 2.18 s on
    * the r14 battery for the identical 3-row relation).
    */
  private val weightedQuantilesCache = new graft.SessionCache[DataFrame]
  private def weightedQuantilesCensus(spark: SparkSession,
                                      sfDir: String): DataFrame =
    weightedQuantilesCache.getOrElseUpdate(spark, sfDir) {
      graft.ops.Profiling.weightedQuantiles(
          Tables.lineitem(spark, sfDir)
            .select(col("l_returnflag").as("flag"),
              col("l_extendedprice").as("price"),
              col("l_quantity")),
          Seq("flag"), "price", "l_quantity")
        .localCheckpoint(true)
    }

  /** t185_sessions — gap-based sessionization of the event stream
    * (6 h gap): one row per session with size, exact epoch-micro
    * start/duration, and type breadth. Exact oracle — every output
    * is a BIGINT.
    */
  def t185Sessions(spark: SparkSession, sfDir: String): DataFrame =
    sharedCensus(spark, sfDir, "t185_sessions") {
      graft.operators.Behavior.sessionize(Tables.events(spark, sfDir),
        "user_id", "ts", "event_type", "event_id", gapSeconds = 21600L)
    }.orderBy(col("user_id"), col("session_no"))

  /** t186_fleiss — Fleiss' κ of three deterministic keep/drop quality
    * raters (token count ≥ 56, char length ≥ 306, stopword count ≥ 4)
    * per source: the annotator-pool agreement QA. Exact oracle
    * (integer contingency + one final division).
    */
  def t186Fleiss(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val item = col("doc_id").as("item")
    val stop = size(filter(split(col("text"), " "),
      x => x === "the" || x === "a"))
    val ratings = docs.select(item, col("source"),
        when(size(split(col("text"), " ")) >= 56, "keep").otherwise("drop")
          .as("category"))
      .unionByName(docs.select(item, col("source"),
        when(length(col("text")) >= 306, "keep").otherwise("drop")
          .as("category")))
      .unionByName(docs.select(item, col("source"),
        when(stop >= 4, "keep").otherwise("drop").as("category")))
    graft.operators.Agreement.fleissKappa(ratings, Seq("source"),
        "item", "category")
      .orderBy(col("source"))
  }

  /** t187_t_closeness — ordered-EMD t-closeness audit: quasi-groups
    * (event_type, dow), sensitive = value in 50.00-wide cents bins,
    * strict t = 0.008 so verdicts split on this fixture. Exact
    * oracle (HUGEINT/decimal cumulative products, one division).
    */
  def t187TCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .withColumn("dow",
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") % 7)
    val bin = floor(round(col("value") * 100, 0).cast("long") / lit(5000))
      .cast("long")
    graft.operators.Privacy.tClosenessAudit(events,
        Seq("event_type", "dow"), when(col("value").isNotNull, bin),
        t = 0.008)
      .orderBy(col("event_type"), col("dow"))
  }

  /** t188_robust_outliers — median/MAD modified-z outlier summary of
    * value cents per event type (|x − med|·10⁴ > 51891·MAD — pure
    * integer compare). Exact oracle.
    */
  def t188RobustOutliers(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.robustOutliers(
        Tables.events(spark, sfDir).filter(col("value").isNotNull),
        Seq("event_type"), round(col("value") * 100, 0).cast("long"))
      .orderBy(col("event_type"))

  /** The shared t189/t191 fixture: per-type daily counts on a
    * ZERO-FILLED day grid (absent day = 0 events — skipping it would
    * splice distant days adjacent and corrupt lag/slope semantics).
    * `d` is the absolute epoch day, `i` the day offset from each
    * type's first day; `x` the exact count.
    */
  private def dayGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy(col("event_type"))
      .agg(min(col("d")).as("__d0"), max(col("d")).as("__d1"))
      .select(col("event_type"), col("__d0"),
        explode(sequence(lit(0L), col("__d1") - col("__d0"))).as("i"))
      .select(col("event_type"), col("i"), (col("__d0") + col("i")).as("d"))
      .join(daily, Seq("event_type", "d"), "left")
      .na.fill(0L, Seq("x"))
  }

  /** t189_acf — sample autocorrelation of each event type's daily
    * volume at lags 1–7 (the weekly-cadence/memory readout). Exact
    * oracle — integer moments after multiplying the mean away.
    */
  def t189Acf(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Trend.autocorrelation(dayGrid(spark, sfDir),
        Seq("event_type"), "d", "x", maxLag = 7)
      .orderBy(col("event_type"), col("lag"))

  /** t190_kruskal_wallis — does `value`'s distribution differ across
    * the five event types, per day-of-week? The k-sample rank test
    * (t176's Mann–Whitney generalized). Exact oracle — BIGINT rank
    * sums, micro-unit term sums, shared χ² critical literals.
    */
  def t190KruskalWallis(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.kruskalWallis(
        Tables.events(spark, sfDir).withColumn("dow",
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long") % 7),
        Seq("dow"), "event_type", "value")
      .orderBy(col("dow"))

  /** t191_theil_sen — robust trend line of each event type's daily
    * volume (median pairwise slope + Conover intercept, day offsets
    * from the series start). Exact oracle — selections of
    * deterministic IEEE values, never averages.
    */
  def t191TheilSen(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Trend.theilSen(dayGrid(spark, sfDir),
        Seq("event_type"), "i", "x")
      .orderBy(col("event_type"))

  /** t192_triangles — triangle census of the parts-bought-together
    * graph (parts co-occurring in an order are linked; per-order pair
    * expansion is bounded by order size). Exact oracle — the
    * degree-ordered orientation makes the count a deterministic
    * integer.
    */
  def t192Triangles(spark: SparkSession, sfDir: String): DataFrame =
    exactTriangleCensus(spark, sfDir)

  /** t193_spearman — monotone association between l_quantity and
    * l_extendedprice (cents) per returnflag: does quantity track
    * price in ANY monotone way, ties handled by midranks. Exact
    * oracle — doubled midranks, DECIMAL(38,0)/HUGEINT moments.
    */
  def t193Spearman(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.spearman(Tables.lineitem(spark, sfDir),
        Seq("l_returnflag"), col("l_quantity"),
        round(col("l_extendedprice") * 100, 0))
      .withColumnRenamed("l_returnflag", "flag")
      .orderBy(col("flag"))

  /** t194_jw_verify — Jaro–Winkler verification of the SNM candidate
    * pairs (t196's blocking, pre-Jaccard): every candidate scored,
    * accept at jw ≥ 0.9. Exact oracle — the native kernel is
    * bit-identical to DuckDB's jaro_winkler_similarity.
    */
  def t194JwVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val reps = docs.filter(col("text").isNotNull)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val cands = graft.operators.Blocking.sortedNeighborhoodCandidates(
      docs, "text", "doc_id", window = 3)
    graft.operators.TextDedup.jaroWinklerVerify(cands, reps,
        "text", "doc_id", minSim = 0.9)
      // pinned before the sort: the range exchange SAMPLES its child,
      // so without the pin the JW kernel over every candidate pair (the
      // query's dominant compute) ran twice. The pinned frame is the
      // candidate-bounded verify output (window·n rows).
      .localCheckpoint(true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t195_isotonic — isotonic (PAV) recalibration of the t162
    * reliability table: the monotone map each day-of-week's
    * click-probability column should read. Exact oracle — closed
    * minimax form over exact integer segment sums.
    */
  def t195Isotonic(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .withColumn("dow",
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") % 7)
      .withColumn("p", col("value") / 500.0)
    graft.ops.Eval.isotonicCalibration(events, Seq("dow"), col("p"),
        col("event_type") === "click", 10)
      .orderBy(col("dow"), col("bin"))
  }

  /** t196_snm_block — sorted-neighborhood near-dup blocking with the
    * min-shingle-digest sort key, window 3, verified at Jaccard ≥
    * 0.5: the fixed-candidate-budget alternative to LSH banding.
    * Exact oracle — engine-portable md5 sort key, integer-set
    * Jaccard.
    */
  def t196SnmBlock(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Blocking.sortedNeighborhoodPairs(
        Tables.documents(spark, sfDir), "text", "doc_id",
        window = 3, minJaccard = 0.5)
      // pinned before the sort — the range exchange samples its child;
      // without the pin the Jaccard verify over the SNM window ran
      // twice (t194 rationale). Survivor-pair cardinality.
      .localCheckpoint(true)
      .orderBy(col("id_a"), col("id_b"))

  /** t197_cramers_v — association strength between return flag and
    * line status per ship-month (does the flag carry status
    * information, and how much, on the [0,1] V scale). Exact oracle —
    * micro-unit BIGINT χ² terms over the full grid.
    */
  def t197CramersV(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.cramersV(
        Tables.lineitem(spark, sfDir)
          .withColumn("mon", date_format(col("l_shipdate"), "yyyy-MM")),
        Seq("mon"), "l_returnflag", "l_linestatus")
      .orderBy(col("mon"))

  /** t198_kendall_tau — Kendall's τ-b between quantity and discount
    * ticks per returnflag: concordance-based monotone association
    * over the bounded 50×11 quantized domain. Exact oracle — BIGINT
    * concordant/discordant cell-product sums.
    */
  def t198KendallTau(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.kendallTauB(Tables.lineitem(spark, sfDir),
        Seq("l_returnflag"), col("l_quantity"),
        round(col("l_discount") * 100, 0))
      .withColumnRenamed("l_returnflag", "flag")
      .orderBy(col("flag"))

  /** t199_skew_kurtosis — distribution shape of each event type's
    * daily volume: exact sample skewness and excess kurtosis from
    * integer central moments (the dump-day / heavy-tail dashboard
    * numbers). Exact oracle.
    */
  def t199SkewKurtosis(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(col("ts")).as("__d"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Profiling.skewKurtosis(daily, Seq("event_type"), "x")
      .withColumnRenamed("n", "n_days")
      .orderBy(col("event_type"))
  }

  /** t200_assortativity — degree assortativity of the
    * parts-bought-together graph (Newman's r over both edge
    * orientations): the mixing-pattern readout completing t192's
    * clustering coefficient. Exact oracle — DECIMAL(38,0)/HUGEINT
    * Pearson moments.
    */
  def t200Assortativity(spark: SparkSession, sfDir: String): DataFrame =
    // same graph, same collapse as the t192/t235/t236 family — starts
    // from the shared coPurchaseCollapsed checkpoint
    graft.operators.Graph.degreeAssortativityOnCollapsed(
      coPurchaseCollapsed(spark, sfDir))

  /** t201_basket_rules — top-20 supplier association rules by lift
    * over order baskets (support/confidence/lift, min co-occurrence
    * 5): the strongest-edges readout of the co-occurrence structure
    * t192/t200 summarize. Exact oracle — every metric one IEEE
    * divide of exact integer products.
    */
  def t201BasketRules(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Basket.associationRules(Tables.lineitem(spark, sfDir),
      "l_orderkey", "l_suppkey", minSupportCount = 5, topK = 20)

  /** t202_smd_balance — standardized-mean-difference balance audit of
    * doc length between the md5 A/B slices per source (is the split
    * balanced enough to attribute metric deltas?). Exact oracle —
    * DECIMAL(38,0)/HUGEINT moments, fixed IEEE chain.
    */
  def t202SmdBalance(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.balanceSmd(Tables.documents(spark, sfDir),
        Seq("source"), col("n_chars"),
        substring(md5(col("doc_id").cast("string")), 1, 1) < "8")
      .orderBy(col("source"))

  /** t203_trimmed_mean — 10%-each-side trimmed mean of price cents
    * per returnflag: the robust location between mean and median,
    * partial tie blocks clipped exactly. Exact oracle. Consumes the
    * shared [[priceCentCum]] census (one cum build serves
    * t203/t206/t225).
    */
  def t203TrimmedMean(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.trimmedMeanFromCum(priceCentCum(spark, sfDir),
        Seq("l_returnflag"), trimFrac = 0.1)
      .withColumnRenamed("l_returnflag", "flag")
      .orderBy(col("flag"))

  /** t204_theil — Theil T inequality of per-user event mass per
    * event type (is traffic spread or concentrated in a few users —
    * the decomposable complement to t158's Gini). Exact oracle —
    * micro-unit BIGINT log terms. Consumes the shared
    * [[userMassCells]] census.
    */
  def t204Theil(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.theilIndex(userMassCells(spark, sfDir),
        Seq("event_type"), "x")
      .orderBy(col("event_type"))

  /** t205_stream_sessions — t185's gap sessionizer as a LIVE
    * Structured Streaming query (session_window + watermark): emits
    * each user session once the watermark passes its close. Exact
    * oracle — the append-mode emission predicate (session end ≤
    * ms-truncated max event time) replays in plain SQL.
    */
  def t205StreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = StreamingSessions.sessionAgg(Tables.eventsStream(spark, sfDir),
      "user_id", "ts", "event_type", gapSeconds = 21600L)
    StreamingFlows.runAvailableNow(spark, agg, "t205_sessions", statePartitions = 8)
      .orderBy(col("user_id"), col("start_us"))
  }

  /** t206_median_ci — distribution-free median + 95% CI of price
    * cents per returnflag from order statistics (the sign-test CI:
    * one pass, no bootstrap). Exact oracle — rank selections only.
    * Consumes the shared [[priceCentCum]] census.
    */
  def t206MedianCI(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.medianCIFromCum(priceCentCum(spark, sfDir),
        Seq("l_returnflag"))
      .withColumnRenamed("l_returnflag", "flag")
      .orderBy(col("flag"))

  /** t207_rfm — RFM engagement segmentation of users (value-threshold
    * tertiles on recency/frequency/monetary, ties score together):
    * the segment grid with user counts. Exact oracle.
    */
  def t207Rfm(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Behavior.rfmSegments(Tables.events(spark, sfDir),
        "user_id", "ts", "value")
      .orderBy(col("r_score"), col("f_score"), col("m_score"))

  /** t208_lorenz — Lorenz curve deciles of per-user event mass per
    * event type (the concentration CURVE behind t204's Theil number).
    * Exact oracle — interval-overlap clip sums. Consumes the shared
    * [[userMassCells]] census (one events collapse serves t204/t208).
    */
  def t208Lorenz(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.lorenzDeciles(userMassCells(spark, sfDir),
        Seq("event_type"), "x")
      .orderBy(col("event_type"), col("decile"))

  /** t209_mcnemar — do the two cheap "big line item" heuristics
    * (quantity ≥ 26 vs price ≥ 50k) disagree SYSTEMATICALLY, per
    * returnflag? McNemar's paired χ² over the discordant cells.
    * Exact oracle.
    */
  def t209McNemar(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.mcNemar(Tables.lineitem(spark, sfDir),
        Seq("l_returnflag"),
        col("l_quantity") >= 26,
        round(col("l_extendedprice") * 100, 0) >= 5000000L)
      .withColumnRenamed("l_returnflag", "flag")
      .orderBy(col("flag"))

  /** t210_cuped — CUPED variance reduction on per-user event value:
    * pre-period value sum as the covariate, post-period as the
    * metric, md5 A/B arms. Exact oracle — micro-quantized adjusted
    * metrics, integer variance forms.
    */
  def t210Cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("__d"),
        round(col("value") * 100, 0).cast("long").as("__v"))
    val sp = e.agg(expr("(min(__d) + max(__d)) div 2").as("__cut"))
    val u = e.crossJoin(broadcast(sp))
      .groupBy(col("user_id"))
      .agg(sum(when(col("__d") <= col("__cut"), col("__v"))
          .otherwise(0L)).as("x"),
        sum(when(col("__d") > col("__cut"), col("__v"))
          .otherwise(0L)).as("y"))
    graft.ops.Eval.cuped(u,
        substring(md5(col("user_id").cast("string")), 1, 1) < "8",
        col("x"), col("y"))
      .orderBy(col("arm"))
  }

  /** t211_chapman — capture–recapture population estimate per source
    * from two deterministic md5 "crawl" slices: is the frontier
    * exhausted? Exact oracle.
    */
  def t211Chapman(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.CorpusStats.chapmanEstimate(
        Tables.documents(spark, sfDir), Seq("source"),
        substring(md5(col("doc_id").cast("string")), 1, 1) < "c",
        substring(md5(col("doc_id").cast("string")), 2, 1) < "c")
      .orderBy(col("source"))

  /** t212_chao1 — Chao1 unseen-vocabulary richness per source over
    * bigrams (the unseen-TYPES companion to t173's Good–Turing
    * unseen mass). Exact oracle.
    */
  def t212Chao1(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.CorpusStats.chao1Richness(
        Tables.documents(spark, sfDir), "text", Seq("source"), n = 2)
      .orderBy(col("source"))

  /** t213_seq_monitor — always-valid sequential A/B monitor (mSPRT)
    * over daily event value: the peeking-safe p-value table, one row
    * per day. Exact oracle — cumulative integer moments, fixed IEEE
    * Λ chain, running-max selections.
    */
  def t213SeqMonitor(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.sequentialAbMonitor(
        Tables.events(spark, sfDir),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long"),
        substring(md5(col("user_id").cast("string")), 1, 1) < "8",
        round(col("value") * 100, 0))
      .orderBy(col("period"))

  /** t214_seasonality — day-of-week multiplicative seasonal indices
    * of each event type's daily volume (the dashboard-normalization
    * table). Exact oracle — one divide of exact integer products.
    */
  def t214Seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Trend.seasonalIndices(daily, Seq("event_type"), "d", "x", 7)
      .orderBy(col("event_type"), col("phase"))
  }

  /** t215_entity_resolve — the full entity-resolution pipeline in one
    * query: exact-dup collocation + SNM blocking (t196) + JW ≥ 0.9
    * verification (t194) + pointer-jumping connected components (t18)
    * + canonical election (t38). Exact oracle — the composed CTE
    * chain ends in the shared recursive-reach replay.
    */
  def t215EntityResolve(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val exactPairs = TextDedup.exactClusters(docs, "text", "doc_id")
    val reps = docs.filter(col("text").isNotNull)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val cands = graft.operators.Blocking.sortedNeighborhoodCandidates(
      docs, "text", "doc_id", window = 3)
    val near = graft.operators.TextDedup.jaroWinklerVerify(cands, reps,
        "text", "doc_id", minSim = 0.9)
      .filter(col("accept")).select(col("id_a"), col("id_b"))
    Clustering.labelCorpus(docs, "doc_id",
        exactPairs.unionByName(near), "id_a", "id_b")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"),
           min(struct((-col("n_chars")).as("neg"),
                      col("doc_id").as("id"))).as("best"))
      .select(col("component"), col("best.id").as("canonical_id"),
              (-col("best.neg")).as("n_chars"), col("cluster_size"))
      .orderBy(col("component"))
  }

  /** t216_delta_attribution — which event types explain the
    * first-half → second-half shift in total event value (exact
    * additive decomposition, per-cell shares). Exact oracle.
    */
  def t216DeltaAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .withColumn("__d",
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long"))
    val sp = e.agg(expr("(min(__d) + max(__d)) div 2").as("__cut"))
    graft.ops.Attribution.deltaAttribution(
        e.crossJoin(broadcast(sp)), Seq("event_type"),
        col("__d") <= col("__cut"), round(col("value") * 100, 0))
      .orderBy(col("event_type"))
  }

  /** t217_pool_embed — chunk→document mean-pooling of embeddings
    * (vec_id div 4 = the synthetic doc): per-doc pooled-vector QA
    * summary (norm / mean / max-abs from deterministic left folds).
    * Exact oracle — chunks fold in id order on both engines.
    */
  def t217PoolEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = Tables.embeddings(spark, sfDir)
      .select(expr("vec_id div 4").as("doc"), col("vec_id"),
        col("embedding"))
    val pooled = graft.operators.Similarity.poolChunkEmbeddings(
      chunks, "doc", "vec_id", "embedding", dim = 64)
    pooled.select(col("doc"), col("n_chunks"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x * x)), 6).as("norm"),
        round(aggregate(col("embedding"), lit(0.0), (a, x) => a + x)
          / 64.0, 6).as("mean_val"),
        round(array_max(transform(col("embedding"), x => abs(x))), 6)
          .as("max_abs"))
      .orderBy(col("doc"))
  }

  /** t218_srm — daily sample-ratio-mismatch check of the md5 A/B
    * split (the first A/B validity gate). Exact oracle.
    */
  def t218Srm(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.srmCheck(Tables.events(spark, sfDir),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long"),
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
      .orderBy(col("period"))

  /** t219_win_matrix — pairwise source win-rate matrix on doc length
    * (Mann–Whitney θ per pair, head-to-head): 190 source pairs.
    * Exact oracle — doubled BIGINT win mass over the dense value
    * grid.
    */
  def t219WinMatrix(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.winRateMatrix(Tables.documents(spark, sfDir),
        "source", col("n_chars"))
      .orderBy(col("group_a"), col("group_b"))

  /** t220_neyman — Neyman optimal stratified-sample allocation of a
    * 1,000-sample QA budget across event types (n_h ∝ N_h·σ_h).
    * Exact oracle — micro-rounded weights, one rounded divide each.
    */
  def t220Neyman(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.neymanAllocation(
        Tables.events(spark, sfDir), Seq("event_type"),
        round(col("value") * 100, 0), budget = 1000L)
      .orderBy(col("event_type"))

  /** t221_stream_srm — the t218 SRM gate as a live watermarked
    * streaming monitor (state = days × 2 longs). Exact oracle — the
    * t14 append-emission contract replayed in SQL.
    */
  def t221StreamSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = StreamingSrm.srmAgg(Tables.eventsStream(spark, sfDir), "ts",
      substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    StreamingFlows.runAvailableNow(spark, agg, "t221_srm", statePartitions = 8)
      .orderBy(col("day"))
  }

  /** t222_seasonal_outliers — seasonally-adjusted robust outlier
    * summary of daily volume per event type (divide by the dow index,
    * then median/MAD flags — weekends stop crying wolf). Exact
    * oracle — micro-unit deseasonalized integers through the t188
    * chain.
    */
  def t222SeasonalOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Trend.seasonalOutliers(daily, Seq("event_type"), "d", "x", 7)
      .orderBy(col("event_type"))
  }

  /** t223_column_entropy — Shannon-entropy profile of three derived
    * event columns (type, day-of-week, value bucket): the
    * informativeness table next to q42's null/distinct profile.
    * Exact oracle — micro-log BIGINT terms.
    */
  def t223ColumnEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") % 7).as("dow"),
        floor(col("value") / 50).cast("long").as("value_bucket"))
    graft.ops.Profiling.columnEntropy(base,
        Seq("event_type", "dow", "value_bucket"))
      .orderBy(col("col_name"))
  }

  /** t224_fd_mine — functional-dependency sweep over four lineitem
    * columns (12 ordered rules in one chain): which columns determine
    * which, with violation counts and majority-mass confidence.
    * Exact oracle.
    */
  def t224FdMine(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.fdMine(
        Tables.lineitem(spark, sfDir)
          .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
          .withColumn("qty", col("l_quantity").cast("long")),
        Seq("l_returnflag", "l_linestatus", "ship_month", "qty"))
      .orderBy(col("rule"))

  /** t225_winsorized — 10%-each-side winsorized mean of price cents
    * per returnflag (tails clipped to the boundary order statistics,
    * every row still counts). Exact oracle. Consumes the shared
    * [[priceCentCum]] census.
    */
  def t225Winsorized(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.winsorizedMeanFromCum(priceCentCum(spark, sfDir),
        Seq("l_returnflag"), winsorFrac = 0.1)
      .withColumnRenamed("l_returnflag", "flag")
      .orderBy(col("flag"))

  /** t226_label_separation — do the embeddings encode their labels?
    * Per label: mean intra-label vs inter-label dot product via the
    * centroid identity (nothing pairwise materialized), on
    * micro-quantized components. Exact oracle.
    */
  def t226LabelSeparation(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Similarity.labelSeparation(
        Tables.embeddings(spark, sfDir), "label", "embedding", dim = 64)
      .orderBy(col("label"))

  /** t227_chi2_residuals — WHICH (returnflag, linestatus) cells drive
    * the per-month association t197 scores: standardized residuals
    * over the full grid, |r| > 2 notable. Exact oracle.
    */
  def t227Chi2Residuals(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.chiSquareResiduals(
        Tables.lineitem(spark, sfDir)
          .withColumn("mon", date_format(col("l_shipdate"), "yyyy-MM")),
        Seq("mon"), "l_returnflag", "l_linestatus")
      .orderBy(col("mon"), col("a"), col("b"))

  /** t228_info_gain — which derived event features predict (or leak)
    * the event type: information gain per feature. Exact oracle —
    * micro-log entropies.
    */
  def t228InfoGain(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") % 7).as("dow"),
        floor(col("value") / 100).cast("long").as("value_bucket"),
        (col("user_id") % 10).as("user_mod"))
    graft.ops.Profiling.infoGain(base, "event_type",
        Seq("dow", "value_bucket", "user_mod"))
      .orderBy(col("feat"))
  }

  /** t229_dedup_savings — the business case for the dedup pipeline in
    * one row: bytes before vs after collapsing exact + near-dup
    * clusters (t18's components, t38's longest-text canonical).
    * Exact oracle — the shared recursive-reach replay plus byte sums.
    */
  def t229DedupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clusters = nearDupLabelsCensus(spark, sfDir)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("__sz"), max(col("n_chars")).as("__keep"),
        sum(col("n_chars")).as("__tot"))
    clusters.agg(sum(col("__sz")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(col("__tot")).as("bytes_before"),
        sum(col("__keep")).as("bytes_after"))
      .select(col("n_docs"), col("n_clusters"), col("bytes_before"),
        col("bytes_after"),
        round(lit(1.0) - col("bytes_after").cast("double") /
          col("bytes_before").cast("double"), 6).as("savings"))
  }

  /** t230_ratio_ci — value-per-event ratio metric per event type with
    * the cluster-robust (per-user) delta-method 95% CI. Exact
    * oracle — unit moments exact, fixed IEEE chain.
    */
  def t230RatioCI(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100, 0)).cast("long").as("y"))
    graft.ops.Eval.ratioMetricCI(u, Seq("event_type"),
        col("x"), col("y"))
      .orderBy(col("event_type"))
  }

  /** t231_mde — minimum-detectable-effect sizing table per event
    * type (α 0.05 two-sided, power 0.8, 50/50 split of the observed
    * users): the go/no-go readout before launching the A/B the
    * t213/t218 monitors then guard. Exact oracle.
    */
  def t231Mde(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(round(col("value") * 100, 0)).cast("long").as("y"))
    graft.ops.Eval.mdeTable(u, Seq("event_type"), col("y"))
      .orderBy(col("event_type"))
  }

  /** t232_influence — which event type MOVES the corpus mean value:
    * leave-one-group-out influence per type. Exact oracle.
    */
  def t232Influence(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.leaveOneOutInfluence(
        Tables.events(spark, sfDir), Seq("event_type"),
        round(col("value") * 100, 0))
      .orderBy(col("event_type"))

  /** t233_damerau_verify — transposition-aware edit-distance judgment
    * of the SNM candidate pairs (full Damerau–Levenshtein, accept at
    * sim ≥ 0.8): the third member of the verification family next to
    * t177 (Levenshtein) and t194 (Jaro–Winkler). Exact oracle — the
    * native kernel is bit-identical to DuckDB's damerau_levenshtein.
    */
  def t233DamerauVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val reps = docs.filter(col("text").isNotNull)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    // honor the verify contract: shortlist by cheap hash-set Jaccard
    // (>= 0.3) before the O(|a|*|b|) DP ever runs
    val shortlist = graft.operators.Blocking.sortedNeighborhoodPairs(
        docs, "text", "doc_id", window = 3, minJaccard = 0.3)
      .select(col("id_a"), col("id_b"))
    graft.operators.TextDedup.damerauVerify(shortlist, reps,
        "text", "doc_id", minSim = 0.8)
      // pinned before the sort — the range exchange samples its child;
      // without the pin the DL DP over the shortlist ran twice (t194
      // rationale). Survivor-pair cardinality, bounded by candidates.
      .localCheckpoint(true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** t234_concentration — HHI + CR4 of per-user event mass per event
    * type (the regulator-style concentration pair completing the
    * Theil/Lorenz family). Exact oracle — integer Σx²/X², bounded-
    * heap top-4 share.
    */
  def t234Concentration(spark: SparkSession, sfDir: String): DataFrame = {
    val uc = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Profiling.concentrationProfile(uc, Seq("event_type"),
        "user_id", "x", topK = 4)
      .orderBy(col("event_type"))
  }

  /** The t192 parts-bought-together graph, shared by the triangle
    * family (exact t192, Doulion t235, the t236 gate). */
  private def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
    val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
    a.join(b, "ok").filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb"))
  }

  /** The COLLAPSED co-purchase edge table (Graph.collapsedEdges over
    * [[coPurchaseEdges]]), checkpointed ONCE per (session, sfDir):
    * four fixtures start from this identical (u, v)-distinct frame —
    * t192's exact census, t235's and t236's Doulion closures, and
    * t200's assortativity — and each used to pay the input-sized
    * lineitem self-join + distinct collapse alone (the most expensive
    * stage of all four at bench scale). One shared checkpoint, every
    * gate still enforces on the same graph.
    */
  private val coPurchaseE0Cache = new graft.SessionCache[DataFrame]
  private def coPurchaseCollapsed(spark: SparkSession,
                                  sfDir: String): DataFrame =
    coPurchaseE0Cache.getOrElseUpdate(spark, sfDir) {
      graft.operators.Graph.collapsedEdges(
          coPurchaseEdges(spark, sfDir), "pa", "pb")
        .localCheckpoint(true)
    }

  /** The exact triangle census, computed ONCE per (session, sfDir) and
    * shared by t192 and its t236 approximation gate: t236 re-ran the
    * full O(m^1.5) closure beside t192's own run every battery
    * (19.5 s + 11.7 s on the round-10 driver) even though both gates
    * are defined on the SAME graph — one localCheckpoint'd 1-row frame
    * serves both, both gates still enforce.
    */
  private def exactTriangleCensus(spark: SparkSession,
                                  sfDir: String): DataFrame =
    sharedCensus(spark, sfDir, "triangle_census")(
      graft.operators.Graph.triangleStatsOnCollapsed(
        coPurchaseCollapsed(spark, sfDir)))

  /** t235_triangle_doulion — the 100×-scale member of the t192
    * triangle family: Doulion edge-sampling (keep probability 0.2 by
    * seeded md5 coin → the m^1.5 closure runs on a 5×-thinned graph,
    * ~11× cheaper wedge join) with the unbiased 1/p³ count scale-up;
    * node/edge/wedge counts stay exact from the full graph. Estimate-
    * typed → rows-only; t236 is the ENFORCED relative-error gate vs
    * the exact t192 census on the same graph, and the direct
    * structural gate pins the row's internal consistency.
    */
  def t235TriangleDoulion(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Graph.triangleStatsApproxOnCollapsed(
      coPurchaseCollapsed(spark, sfDir), p = 0.2,
      seed = "doulion-t235")

  /** t236_triangle_approx_check — the enforced Doulion contract
    * (justifying t235's rows-only row): run the EXACT degree-ordered
    * census and the p = 0.5 Doulion estimate on the same co-purchase
    * graph and emit (check, value) rows:
    *
    *  - `n_triangles_exact`: the exact count (> 0 — vacuity guard);
    *  - `rel_err`: |est − exact| / exact. The estimator is unbiased
    *    with rel. std ≈ √((1/p³−1)/T) = √(7/T) — ≈ 0.006 at the
    *    sf0.01 census (T ≈ 188k) — so the 0.05 gate is ~8σ of honest
    *    headroom while still catching any scaling/orientation bug;
    *  - `sample_frac`: kept/total edges — must sit near p (±0.1
    *    absolute), proving the coin actually thins the closure input
    *    rather than decorating it.
    *
    * The audit runs at p = 0.5 (tighter variance for a sharper gate);
    * t235's production row uses p = 0.2 for the cost story — the
    * contract is p-independent (the same 1/p³ unbiasedness).
    */
  def t236TriangleApproxCheck(spark: SparkSession, sfDir: String): DataFrame = {
    // the exact side comes from the SHARED census fixture (one
    // computation per battery serves t192 and this gate — both still
    // enforce on the same graph); the approx side starts from the
    // shared collapsed-edge checkpoint for the same reason
    val exact = exactTriangleCensus(spark, sfDir)
      .select(col("n_triangles"))
    val approx = graft.operators.Graph.triangleStatsApproxOnCollapsed(
      coPurchaseCollapsed(spark, sfDir), p = 0.5, seed = "doulion-t236")
    val j = exact.crossJoin(approx).localCheckpoint(true)
    val nEx = j.select(lit("n_triangles_exact").as("check"),
      col("n_triangles").cast("double").as("value"))
    val relErr = j.select(lit("rel_err").as("check"),
      round(abs(col("n_triangles_est") - col("n_triangles")) /
        col("n_triangles").cast("double"), 6).as("value"))
    val frac = j.select(lit("sample_frac").as("check"),
      round(col("n_edges_sampled").cast("double") /
        col("n_edges"), 6).as("value"))
    nEx.unionByName(relErr).unionByName(frac).orderBy(col("check"))
  }

  /** t237_png_phash — the REAL-codec image near-dup contract (the
    * t115 harness on compressed containers): synthesize one PNG per
    * distinct document (JDK ImageIO encoder — deflate-compressed, so
    * container BYTES share no structure between near-duplicate
    * images and byte-level dedup is useless), plant TWO perturbed
    * copies per image —
    *
    *  - a NOISE copy (+1M ids): every 7th payload byte bumped before
    *    encoding — the t115 pixel-noise shape, now surviving a full
    *    decode→DCT path rather than raw byte pokes;
    *  - a BRIGHTNESS copy (+2M ids): +16 on every channel — the
    *    perturbation class aHash's spatial-mean threshold is exposed
    *    to but pHash's AC block is invariant to (Σ cos over a
    *    constant shift is 0);
    *
    * hash everything with the 32×32-DCT pHash and recover pairs at
    * Hamming ≤ 3. Checks: n_images (> 0), recovered_noise_frac and
    * recovered_bright_frac (≥ 0.9), extra_frac (≤ 0.2 — tiny
    * synthetic images genuinely collide; the bound keeps a kernel
    * regression from hiding in the extras).
    */
  def t237PngPhash(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val images = docs.map { case (id, text) =>
      val t = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Multimodal.MediaRecord(id, "image",
        Multimodal.SynthMedia.png(16 + (t.length % 17), 12 + (t.length % 11), t))
    }
    val noise = docs.map { case (id, text) =>
      val t = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).clone()
      var i = 0
      while (i < t.length) { if (i % 7 == 0) t(i) = (t(i) + 1).toByte; i += 1 }
      Multimodal.MediaRecord(id + 1000000L, "image",
        Multimodal.SynthMedia.png(16 + (text.getBytes("UTF-8").length % 17),
          12 + (text.getBytes("UTF-8").length % 11), t))
    }
    val bright = docs.map { case (id, text) =>
      val t = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => math.min(255, (b & 0xff) + 16).toByte)
      Multimodal.MediaRecord(id + 2000000L, "image",
        Multimodal.SynthMedia.png(16 + (text.getBytes("UTF-8").length % 17),
          12 + (text.getBytes("UTF-8").length % 11), t))
    }
    val hashes = Multimodal.imagePHash(images.union(noise).union(bright))
      .localCheckpoint(true)
    val pairs = Multimodal.imageNearDups(hashes, maxHamming = 3)
      .localCheckpoint(true)
    val n = hashes.filter(col("doc_id") < 1000000)
      .agg(count(lit(1)).cast("double").as("n"))
    // same-image families share id mod 1M (original x, noise x+1M,
    // bright x+2M) — the noise↔bright pair of ONE image must count
    // neither as a planted recovery nor as a collision extra
    val sameFam = col("id_a") % 1000000L === col("id_b") % 1000000L
    val stats = pairs.agg(
        sum(when(sameFam && col("id_a") < 1000000L &&
                 col("id_b") === col("id_a") + 1000000L, 1.0)
          .otherwise(0.0)).as("rec_noise"),
        sum(when(sameFam && col("id_a") < 1000000L &&
                 col("id_b") === col("id_a") + 2000000L, 1.0)
          .otherwise(0.0)).as("rec_bright"),
        sum(when(!sameFam, 1.0).otherwise(0.0)).as("extra"))
      .crossJoin(broadcast(n))
    val rows = Seq(
      ("recovered_noise_frac", col("rec_noise")),
      ("recovered_bright_frac", col("rec_bright")),
      ("extra_frac", col("extra"))).map { case (name, c) =>
      stats.select(lit(name).as("check"),
        round(coalesce(c, lit(0.0)) / col("n"), 6).as("value"))
    }
    val nRow = n.select(lit("n_images").as("check"),
      col("n").as("value"))
    rows.reduce(_ unionByName _).unionByName(nRow).orderBy(col("check"))
  }

  /** t240_cliffs_delta — Cliff's δ effect size per source: is English
    * document LENGTH actually shifted vs the other languages, and by
    * how much — the magnitude readout t176's z alone doesn't give (on
    * a large corpus everything is "significant"; δ says whether it
    * matters). Exact oracle: the t176 doubled-midrank BIGINT
    * accumulator, δ = (2U − n₁n₂)/(n₁n₂) one IEEE chain, Romano
    * magnitude labels on the 6dp-rounded value.
    */
  def t240CliffsDelta(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.cliffsDelta(Tables.documents(spark, sfDir),
        Seq("source"), col("lang") === "en", "n_chars")
      .orderBy(col("source"))

  /** t241_cochran_q — Cochran's Q per source over three CANDIDATE
    * keep/drop rules rating the same documents (chars > 300,
    * tokens > 45, distinct tokens > 25): do the rules flag at the
    * same rate, respecting that they rate the SAME items — the
    * k-rater generalization of t209's McNemar, the "which quality
    * rule to ship" readout. Exact oracle: one integer reduction,
    * DECIMAL/HUGEINT products, the shared χ² literal (df = 2).
    */
  def t241CochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(TextDedup.tokens(col("text")), x => length(x) > 0)
    graft.operators.Agreement.cochranQ(
        Tables.documents(spark, sfDir)
          .filter(col("text").isNotNull && col("n_chars").isNotNull),
        Seq("source"),
        Seq(col("n_chars") > 300,
            size(toks) > 45,
            size(array_distinct(toks)) > 25))
      .orderBy(col("source"))
  }

  /** t242_krippendorff — Krippendorff's α (nominal) per source over a
    * ratings frame with REAL missingness: three heuristic raters
    * bucket each document into short/mid/long (by chars, by tokens,
    * by distinct tokens), and the third ABSTAINS on doc_id ≡ 0 mod 7
    * — the irregular-rater-count shape neither t150's κ (two raters)
    * nor t186's Fleiss (constant count) admits. Exact oracle: the
    * coincidence-matrix closed form with per-unit disagreement terms
    * micro-rounded before the sum.
    */
  def t242Krippendorff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
    val toks = filter(TextDedup.tokens(col("text")), x => length(x) > 0)
    def bucket(v: org.apache.spark.sql.Column, lo: Int,
               hi: Int): org.apache.spark.sql.Column =
      when(v <= lo, "short").when(v <= hi, "mid").otherwise("long")
    val r1 = docs.select(col("source"), col("doc_id").as("unit"),
      bucket(col("n_chars"), 250, 350).as("category"))
    val r2 = docs.select(col("source"), col("doc_id").as("unit"),
      bucket(size(toks), 40, 55).as("category"))
    val r3 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("source"), col("doc_id").as("unit"),
        bucket(size(array_distinct(toks)), 22, 28).as("category"))
    graft.operators.Agreement.krippendorffAlpha(
        r1.unionByName(r2).unionByName(r3),
        Seq("source"), "unit", "category")
      .orderBy(col("source"))
  }

  /** t243_source_overlap — pairwise 3-gram-vocabulary Jaccard between
    * sources: the "which sources are redundant" quota-assignment
    * readout and the re-host provenance screen (vocabulary-subset
    * sources show high overlap coefficient at moderate Jaccard).
    * Exact oracle — the shared 48-bit gram digest replays as
    * CAST('0x' || substr(md5(g),1,12)), the t212 convention.
    */
  def t243SourceOverlap(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.sourceOverlapMatrix(Tables.documents(spark, sfDir),
        "text", "source", n = 3)
      .orderBy(col("source_a"), col("source_b"))

  /** t244_token_fertility — tokenizer fertility per language:
    * BPE-ish tokens per whitespace word and chars per token, the
    * "does the tokenizer serve this language fairly" readout a
    * multilingual mixing budget corrects by. Exact oracle — the t49
    * regexp token replay + filtered whitespace split, four BIGINT
    * sums, two divides.
    */
  def t244TokenFertility(spark: SparkSession, sfDir: String): DataFrame =
    CorpusStats.tokenizerFertility(Tables.documents(spark, sfDir),
        "text", Seq("lang"))
      .orderBy(col("lang"))

  /** t245_median_of_means — median-of-means robust mean of event
    * value per event type (16 md5 shards): the heavy-tail-proof
    * location estimate reported NEXT TO the plain mean, so the gap
    * between them is itself the outlier-contamination readout. Exact
    * oracle: shard coin = the shared 48-bit md5 digest of event_id,
    * exact cents sums, left-median of the 16 shard means.
    */
  def t245MedianOfMeans(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.medianOfMeans(
        Tables.events(spark, sfDir).filter(col("value").isNotNull),
        Seq("event_type"), round(col("value") * 100, 0), "event_id",
        buckets = 16, scale = 100.0)
      .orderBy(col("event_type"))

  /** t246_hill_tail — Hill tail-index of event value per event type
    * (k = 50 top order statistics): is the value distribution's tail
    * integrable — α > 1 means the mean exists, α > 2 the variance —
    * the screen to run before trusting any mean/variance monitor on
    * the column. Exact oracle: bounded-heap top-51 replayed as the
    * window cut (ties share a value, so the tie-arbitrary row choice
    * cannot move the statistic), micro-rounded log terms.
    */
  def t246HillTail(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.hillTailIndex(
        Tables.events(spark, sfDir).filter(col("value") > 0),
        Seq("event_type"), round(col("value") * 100, 0), k = 50)
      .orderBy(col("event_type"))

  /** t247_stream_mom — the STREAMING form of t245: per-day robust
    * value means maintained incrementally. Shard sums/counts are
    * commutative monoids, so they live directly in watermarked
    * streaming aggregation state — (day, type, shard) keys, each a
    * pair of longs, never raw events — and the median-of-means
    * readout is a bucket-bounded batch fold over the FINALIZED shard
    * rows. Hash-exact: append mode emits exactly the windows with
    * end ≤ max(event time) − 1 day, which the DuckDB oracle replays
    * as plain SQL (the t14 convention), and every shard statistic is
    * an exact integer.
    */
  def t247StreamMom(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, sfDir)
      .filter(col("value").isNotNull)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .withColumn("shard",
        graft.ops.SnapshotDiff.portableDigest(Seq(col("event_id"))) % 16)
    val agg = stream.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        col("shard"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("c"))
      .select(col("w.start").as("day"), col("event_type"), col("shard"),
        col("s"), col("c"))
    val shardRows = StreamingFlows.runAvailableNow(spark, agg,
        "t247_mom", statePartitions = 8)
    shardRows
      .withColumn("__m", col("s").cast("double") / col("c") / lit(100.0))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("k_buckets"),
        sort_array(collect_list(col("__m"))).as("__ms"))
      .select(col("day"), col("event_type"), col("n_rows"),
        col("k_buckets"),
        round(element_at(col("__ms"),
          expr("(k_buckets + 1) div 2").cast("int")), 6).as("mom"))
      .orderBy(col("day"), col("event_type"))
  }

  /** t248_mom_rolling — 7-day rolling median-of-means of event value:
    * the ROBUST member of the rolling family (t91 distinct / t99
    * quantiles / this), and unlike those two it is exact end-to-end —
    * per-day shard sums are mergeable longs, so the window re-slice
    * touches |days|·16 pairs of longs, never raw history. Exact
    * oracle: range-join replay of the window merge + the t245 shard
    * arithmetic.
    */
  def t248MomRolling(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Eval.rollingMedianOfMeans(
        Tables.events(spark, sfDir).filter(col("value").isNotNull),
        "ts", round(col("value") * 100, 0), "event_id",
        windowDays = 7, buckets = 16, scale = 100.0)
      .orderBy(col("day"))

  /** t249_video_phash — video CONTENT near-dup, closing the codec
    * family (image: PNG deflate via ImageIO; audio: PCM16; video was
    * header-arithmetic only until round 11): synthesize one Y4M per
    * distinct document with per-frame-varying content
    * (SynthMedia.y4mVaried keys frame planes by ABSOLUTE frame index),
    * decode every luma plane, per-frame 32×32-DCT pHash — the frame-
    * hash sequence is the video signature — then recover planted
    * copies through the banded-Hamming shingle pipeline:
    *
    *  - a CLIPPED copy (+1M ids): the same video minus its first two
    *    frames — bit-identical remaining frames, so the clip-side
    *    directional containment is 1.0 by construction;
    *  - a BRIGHTNESS copy (+2M ids): +16 on every luma byte (chroma
    *    untouched) — the perturbation the DCT AC block is invariant
    *    to (text-derived bytes stay ≤ 142, so no clamp nonlinearity).
    *
    * Checks: n_videos (> 0), recovered_clip_frac / recovered_bright_
    * frac (≥ 0.9 at match_frac ≥ 0.9), extra_frac (≤ 0.2 — tiny
    * synthetic frames genuinely collide; the bound keeps a kernel or
    * shingle regression from hiding in the extras).
    */
  def t249VideoPhash(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    def video(id: Long, text: String, clip: Int, lumaShift: Int) = {
      val t = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = 4 + (t.length % 5) // 4..8 frames; clip leaves >= 2
      Multimodal.MediaRecord(id, "video",
        Multimodal.SynthMedia.y4mVaried(16 + (t.length % 17),
          12 + (t.length % 11), 25, clip until n, t, lumaShift))
    }
    val originals = docs.map { case (id, text) => video(id, text, 0, 0) }
    val clipped = docs.map { case (id, text) =>
      video(id + 1000000L, text, 2, 0) }
    val bright = docs.map { case (id, text) =>
      video(id + 2000000L, text, 0, 16) }
    val hashes = Multimodal.videoFrameHashes(
      originals.union(clipped).union(bright)).localCheckpoint(true)
    val pairs = Multimodal.videoNearDups(hashes, maxHamming = 3,
      minMatchFrac = 0.9).localCheckpoint(true)
    val n = hashes.select(col("doc_id")).filter(col("doc_id") < 1000000)
      .distinct().agg(count(lit(1)).cast("double").as("n"))
    // same-video families share id mod 1M; the clip↔bright pair of ONE
    // video counts neither as a planted recovery nor as an extra
    val sameFam = col("id_a") % 1000000L === col("id_b") % 1000000L
    val stats = pairs.agg(
        sum(when(sameFam && col("id_a") < 1000000L &&
                 col("id_b") === col("id_a") + 1000000L, 1.0)
          .otherwise(0.0)).as("rec_clip"),
        sum(when(sameFam && col("id_a") < 1000000L &&
                 col("id_b") === col("id_a") + 2000000L, 1.0)
          .otherwise(0.0)).as("rec_bright"),
        sum(when(!sameFam, 1.0).otherwise(0.0)).as("extra"))
      .crossJoin(broadcast(n))
    val rows = Seq(
      ("recovered_clip_frac", col("rec_clip")),
      ("recovered_bright_frac", col("rec_bright")),
      ("extra_frac", col("extra"))).map { case (name, c) =>
      stats.select(lit(name).as("check"),
        round(coalesce(c, lit(0.0)) / col("n"), 6).as("value"))
    }
    val nRow = n.select(lit("n_videos").as("check"), col("n").as("value"))
    rows.reduce(_ unionByName _).unionByName(nRow).orderBy(col("check"))
  }

  /** t250_model_roundtrip — the remaining driver-held model state
    * made durable (the t103 IVF-PQ move applied to the tokenizer and
    * the importance sampler): BPE merge rules and the DSIR bucket
    * model persist as parquet relations with VALIDATION on read, and
    * a fresh load must encode/score BIT-IDENTICALLY to the in-session
    * fit — restart a cluster, keep the model.
    *
    *  - BPE: learnMerges → saveRules → loadRules (contract re-checked
    *    at load: contiguous steps, merged = left||right, residual 0)
    *    → encode; compared row-by-row against encoding with the
    *    fresh in-session rules.
    *  - DSIR: dsirFit (the model TABLE with auditable raw counts) →
    *    saveModel → loadModel (contiguous buckets, finite ratios) →
    *    dsirScore; compared row-by-row against dsirWeights' direct
    *    output (t54's hash-exact path).
    *
    * Checks: bpe_rules_n (> 0), bpe_encode_mismatch (== 0),
    * dsir_buckets_n (== 64), dsir_score_mismatch (== 0). Mismatch
    * counts use full outer joins, so a dropped or duplicated row
    * counts, not just a changed one.
    */
  def t250ModelRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = graft.io.TempDirs.create("graft_t250")
    // BPE: save, validated load, both encodes (rules from the shared
    // bpeRules12 census — identical training, see t55's scaladoc)
    val rules = bpeRules12(spark, sfDir)
    graft.operators.Bpe.saveRules(rules, s"$dir/bpe_rules")
    val loadedRules = graft.operators.Bpe.loadRules(spark, s"$dir/bpe_rules")
    val freshRules = rules.orderBy(col("step"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val encFresh = graft.operators.Bpe.encode(docs, "doc_id", "text", freshRules)
    val encLoaded = graft.operators.Bpe.encode(docs, "doc_id", "text", loadedRules)
    // DSIR: fit the model table, save, validated load, both scores
    val model = Importance.dsirFit(docs, "doc_id", "text",
      target = col("lang") === "en").localCheckpoint(true)
    Importance.saveModel(model, s"$dir/dsir_model")
    val lr = Importance.loadModel(spark, s"$dir/dsir_model")
    val scoredLoaded = Importance.dsirScore(docs, "doc_id", "text", lr)
    val scoredDirect = Importance.dsirWeights(docs, "doc_id", "text",
      target = col("lang") === "en")
    // loads are eager collects — the files are no longer needed
    graft.io.TempDirs.deleteRecursively(dir)
    def mismatches(a: DataFrame, b: DataFrame): DataFrame = {
      val cols = a.columns.filter(_ != "doc_id").toSeq
      def packed(df: DataFrame, as: String) = df.select(col("doc_id"),
        struct(cols.map(col): _*).as(as))
      packed(a, "__a").join(packed(b, "__b"), Seq("doc_id"), "full")
        .agg(sum(when(col("__a").isNull || col("__b").isNull ||
          col("__a") =!= col("__b"), 1.0).otherwise(0.0)).as("v"))
        .select(coalesce(col("v"), lit(0.0)).as("value"))
    }
    val rows = Seq(
      ("bpe_rules_n", rules.agg(count(lit(1)).cast("double").as("value"))
        .select(col("value"))),
      ("bpe_encode_mismatch", mismatches(encFresh, encLoaded)),
      ("dsir_buckets_n", model.agg(count(lit(1)).cast("double").as("value"))
        .select(col("value"))),
      ("dsir_score_mismatch", mismatches(scoredDirect, scoredLoaded)))
      .map { case (name, df) =>
        df.select(lit(name).as("check"), col("value")) }
    rows.reduce(_ unionByName _).orderBy(col("check"))
  }

  /** t251_lsh_calibration — the "which banding to ship" audit for the
    * MinHash/LSH dedup family: ground-truth pairs (capped n-gram
    * Jaccard ≥ 0.2) binned by true Jaccard, measured ≥-1-band
    * collision recall per candidate banding of the shared 64-hash
    * signature (8×8, 16×4, 32×2) laid beside the analytic
    * 1−(1−s^r)^b at each bin midpoint. Rows-only (minhash signatures
    * are not SQL-replayable — the t2 convention); the enforced gates
    * pin the structure: shared truth (identical per-banding pair
    * totals), high-similarity recall at the finest banding, and
    * finest ≥ coarsest in the top bin.
    */
  def t251LshCalibration(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.lshCalibration(Tables.documents(spark, sfDir), "text",
      "doc_id", shingleK = 3, numHashes = 64,
      bandsOptions = Seq(8, 16, 32), minJaccard = 0.2, maxDf = 10,
      nBins = 5)

  /** t252_ranking_metrics — the EVAL member of the retrieval family:
    * recall@20 / precision@20 / MRR / nDCG@20 for the t94 stack's
    * three legs (BM25 sparse, dense cosine, RRF fused) against one
    * deterministic relevance set (documents containing ≥ 2 distinct
    * query terms). Hash-exact oracle: the list replay reuses t94's
    * proven arithmetic; DCG/IDCG terms are micro-rounded BIGINTs
    * (the t228 log convention), so every metric is rank arithmetic
    * plus one IEEE divide of exact integers.
    */
  def t252RankingMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val queryTerms = Seq("hash", "join", "window")
    val sparseW = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("id").asc)
    val sparseIR = Retrieval.bm25(docs, "doc_id", "text", queryTerms)
      .orderBy(col("bm25").desc, col("id").asc).limit(50)
      .withColumn("rank", row_number().over(sparseW))
      .select(col("id"), col("rank"))
      .localCheckpoint(true) // feeds its own leg AND the fusion
    val emb = Tables.embeddings(spark, sfDir)
    val denseIR = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 50)
      .select(col("id"), col("rank"))
      .localCheckpoint(true)
    val fusedIR = Retrieval.rrfFuse(Seq(sparseIR, denseIR), k = 60)
      .filter(col("fused_rank") <= 20)
      .select(col("id"), col("fused_rank").as("rank"))
    val lists = sparseIR.select(lit("sparse").as("leg"), col("id"), col("rank"))
      .unionByName(denseIR.select(lit("dense").as("leg"), col("id"), col("rank")))
      .unionByName(fusedIR.select(lit("fused").as("leg"), col("id"), col("rank")))
    val rel = docs.select(col("doc_id").as("id"),
        explode(TextDedup.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0 &&
        col("term").isin(queryTerms: _*))
      .groupBy(col("id"))
      .agg(countDistinct(col("term")).as("c"))
      .filter(col("c") >= 2)
    Retrieval.rankingMetrics(lists, "leg", "id", "rank", rel, "id", k = 20)
      .withColumnRenamed("list", "leg")
      .withColumnRenamed("precision", "prec")
      .orderBy(col("leg"))
  }

  /** t253_winnowing — per-document winnowing fingerprint profile
    * (Schleimer–Wilkerson–Aiken k=8/w=4): gram count, fingerprint
    * count, density vs the 2/(w+1) guarantee. All in-row expression
    * work (no explode); exact oracle — DuckDB replays the 48-bit md5
    * gram digests, window minima, and distinct collapse verbatim.
    */
  def t253Winnowing(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.winnowingFingerprints(Tables.documents(spark, sfDir),
        "text", "doc_id", k = 8, w = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** t254_winnow_pairs — cross-document winnowing matches (the
    * quotation/plagiarism detector whole-document MinHash misses): a
    * shared substring of ≥ k+w−1 chars leaves ≥ 1 shared fingerprint;
    * pairs at ≥ 2 shared fingerprints scored by fingerprint Jaccard.
    * Posting lists df-capped through the saturating buckets. Exact
    * oracle — same digest replay plus the posting join.
    */
  def t254WinnowPairs(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.winnowingPairs(Tables.documents(spark, sfDir), "text",
        "doc_id", k = 8, w = 4, minShared = 2, maxDf = 10)
      .orderBy(col("id_a"), col("id_b"))

  /** t255_datacard — the per-source corpus profile a dataset release
    * ships: volume, language share, exact-dup fraction, winnowing
    * density, all exact integer ratios. Exact oracle (plain SQL
    * replay of every leg, including the t253 winnowing arithmetic).
    */
  def t255Datacard(spark: SparkSession, sfDir: String): DataFrame =
    sharedCensus(spark, sfDir, "t255_datacard") {
      graft.operators.CorpusStats.datacard(Tables.documents(spark, sfDir),
        "text", "doc_id", "source", "lang")
    }.orderBy(col("source"))

  /** t256_stream_decontam — ingest-time decontamination: every
    * streamed document (the 4-batch ranged fixture, originals then
    * id-shifted copies) is flagged against the eval set's winnowing
    * fingerprint union (doc_id % 97 — the t48 eval convention) BEFORE
    * landing. Stateless per row → append mode with NO streaming
    * state, result independent of arrival order → HASH-EXACT against
    * a plain batch SQL replay (no gate, no watermark). The reference
    * union is model-sized driver state (the centroid/BPE-rules
    * class).
    */
  def t256StreamDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val ref = TextDedup.winnowingSets(
        docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", 8, 4)
      .select(explode(col("fps")).as("h")).distinct()
      .collect().map(_.getLong(0))
    val flagged = StreamDecontam.flag(rangedDocsStream(docs, sfDir),
      "text", "doc_id", ref, k = 8, w = 4, minShared = 2)
    StreamingFlows.runAvailableNow(spark, flagged, "t256_decontam")
      .orderBy(col("doc_id"))
  }

  /** t257_cluster_quality — per-cluster quality audit of the nearest-
    * centroid partition over the embeddings (k = 8 md5-seeded
    * centroids): members, inertia, simplified silhouette, mean root
    * distance, Davies–Bouldin worst term. Exact integer contract
    * (micro-quantized components, per-point micro-rounded ratios, one
    * IEEE divide per output) → hash-exact DuckDB oracle.
    */
  def t257ClusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    sharedCensus(spark, sfDir, "t257_cluster_quality") {
      val cents = graft.operators.ClusterEval.seedByMd5(
        emb, "vec_id", "embedding", k = 8)
      graft.operators.ClusterEval.clusterQuality(
        emb, "vec_id", "embedding", cents)
    }
  }

  /** t258_lloyd_gain — does Lloyd refinement earn its keep on this
    * corpus? The spherical k-means objective (mean cosine to the
    * argmax centroid) at the seeds vs after 2 refinement passes.
    * Rows-only; the Verify gate enforces the monotonicity contract
    * (refined ≥ seed up to ulps) the update step guarantees.
    */
  def t258LloydGain(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.ClusterEval.lloydGain(
      Tables.embeddings(spark, sfDir), "embedding", nlist = 8, iters = 2)

  /** t259_canonical_dedup — Unicode-canonical duplicate groups: the
    * corpus plus two planted variant families per doc_id % 11 == 0
    * (an NFD-DECOMPOSED suffix with doubled spaces, and the same
    * suffix composed with a tab) that differ as byte strings but
    * collapse under NFC + casefold + whitespace canonicalization.
    * Exact oracle (DuckDB nfc_normalize replays the JDK normalizer —
    * same Unicode composition tables).
    */
  def t259CanonicalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 11 === 0)
    val decomposed = base.select(
      (col("doc_id") + 200000).as("doc_id"),
      concat(col("text"), lit(" Cafe\u0301  U\u0308BER")).as("text"))
    val composed = base.select(
      (col("doc_id") + 300000).as("doc_id"),
      concat(col("text"), lit("\tcaf\u00e9 \u00fcber ")).as("text"))
    sharedCensus(spark, sfDir, "t259_canonical_dedup") {
      TextDedup.canonicalGroups(
        docs.unionByName(decomposed).unionByName(composed),
        "text", "doc_id")
    }.orderBy(col("kept_id"))
  }

  /** t260_stream_quality — the ingest-time quality gate: every
    * streamed document (the 4-batch ranged fixture) scored against
    * the Gopher/C4 heuristics + PII counters BEFORE landing.
    * Stateless per row → append mode, no state, arrival-order
    * independent → HASH-EXACT against the batch SQL replay (the t256
    * convention).
    */
  def t260StreamQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val gated = IngestQuality.gate(
      rangedDocsStream(Tables.documents(spark, sfDir), sfDir), "text", "doc_id")
    StreamingFlows.runAvailableNow(spark, gated, "t260_quality")
      .orderBy(col("doc_id"))
  }

  /** t261_embedding_card — per-label embedding HEALTH card over the
    * embeddings table plus five planted defects (a NULL vector, an
    * all-zero vector, a wrong-dimension vector, a NaN element, a NULL
    * element) under label 99: defect counts + the exact micro-norm
    * distribution of the healthy rows. Exact oracle (quantile_cont
    * interpolation on integers — the t141 convention).
    */
  def t261EmbeddingCard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val nanVec = { val a = Array.fill(64)(0.1f); a(0) = Float.NaN; a }
    val bad = Seq(
      (100001L, null.asInstanceOf[Array[Float]], 99),
      (100002L, Array.fill(64)(0.0f), 99),
      (100003L, Array(1.0f, 2.0f, 3.0f), 99),
      (100004L, nanVec, 99)
    ).toDF("vec_id", "embedding", "label")
      // fifth defect: a NULL ELEMENT inside a correctly-sized vector
      // (Array[Float] can't carry one — plant it via transform)
      .unionByName(Seq((100005L, Array.fill(64)(0.1f), 99))
        .toDF("vec_id", "embedding", "label")
        .withColumn("embedding", expr(
          "transform(embedding, (x, i) -> " +
          "CASE WHEN i = 0 THEN CAST(NULL AS FLOAT) ELSE x END)")))
    sharedCensus(spark, sfDir, "t261_embedding_card") {
      graft.operators.Pca.embeddingCard(emb.unionByName(bad),
        Seq("label"), "embedding", d = 64)
    }
  }

  /** t262_corpus_diff — the release-to-release snapshot delta: v2 =
    * documents minus doc_id % 7 == 0 (removed), with doc_id % 5 == 0
    * texts edited (changed), plus doc_id % 13 == 0 re-issued under
    * id + 500000 (added). Per-source added/removed/changed/unchanged
    * counts; bodies reduce to digests before the full-outer join.
    * Exact oracle.
    */
  def t262CorpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" brand new")).as("text"),
          col("source")))
    sharedCensus(spark, sfDir, "t262_corpus_diff") {
      graft.operators.CorpusStats.corpusDiff(docs, v2,
        "doc_id", "text", "source")
    }
  }

  /** t263_common_component — all-but-the-top common-component removal
    * (Mu & Viswanath): fit top-2 principal directions, subtract them
    * from every centered vector, then AUDIT the claim — every
    * residual is orthogonal to the removed directions (max |dot| at
    * float-epsilon scale), and the residual corpus' own top variance
    * has dropped below the removed top (rows-only; the Verify gate
    * enforces both).
    */
  def t263CommonComponent(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull)
    val model = graft.operators.Pca.fit(emb, "embedding", d = 64, k = 2)
    val resid = graft.operators.Pca.removeTop(emb, "embedding", model,
      "residual")
    val maxDot = resid.agg(
      max(greatest(model.eigVecs.toIndexedSeq.map { v =>
        abs(aggregate(zip_with(col("residual"), typedLit(v.toSeq),
          (x, c) => x * c), lit(0.0), (a, x) => a + x))
      }: _*)).as("v")).head().getDouble(0)
    val after = graft.operators.Pca.fit(resid.select(col("residual")),
      "residual", d = 64, k = 1)
    val spark2 = spark
    import spark2.implicits._
    Seq(
      ("n", model.n.toDouble),
      ("max_abs_dot_removed_dirs", maxDot),
      ("var_top_before", model.eigVals(0)),
      ("var_top_after", after.eigVals(0)),
      ("removed_var_frac", model.explainedFrac)
    ).toDF("check", "value").orderBy(col("check"))
  }

  /** The k-core decomposition of the co-purchase graph, computed ONCE
    * per (session, sfDir) and shared by t264 and its t265 audit (the
    * t192/t236 shared-census convention — the audit gates the SAME
    * run the driver records, and the h-index loop doesn't run twice
    * per battery).
    */
  // graft.SessionCache: stopped-session sweep + application-end
  // listener eviction (the viewCache convention).
  private val kCoreCache = new graft.SessionCache[DataFrame]
  /** t264/t265's graph: co-purchase edges over a deterministic third
    * of the orders. The h-index loop's wall time is rounds × per-round
    * job latency (one Spark job per round), and rounds grow with core
    * depth — the FULL co-purchase graph converges in ~38 rounds at
    * sf0.1 on a 20k-node graph, all scheduling overhead, no data. The
    * thinned graph keeps every structural property the audit needs
    * (multi-level cores, max_core 9 at sf0.1) in 16 rounds; the operator
    * itself is fixture-independent.
    */
  private def kCoreEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 3 === 0)
    val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
    val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
    a.join(b, "ok").filter(col("pa") < col("pb"))
      // node-level thinning (parts ≡ 0 mod 3 on both endpoints):
      // h-index rounds grow with CORE DEPTH, and the un-thinned
      // co-purchase graph converges in ~40 rounds of pure scheduling
      // latency on a 20k-node graph; thinning nodes cuts hub density
      // (and so depth), where an edge coin leaves hubs dense
      .filter(col("pa") % 3 === 0 && col("pb") % 3 === 0)
      .select(col("pa"), col("pb"))
  }
  private def coPurchaseKCore(spark: SparkSession,
                              sfDir: String): DataFrame =
    kCoreCache.getOrElseUpdate(spark, sfDir) {
      // eager checkpoint FIRST, then free the h-index loop's
      // persisted state (the labels RDD + undirected edge table the
      // public kCore strands) — the fixture pins exactly one copy
      val (df, release) = graft.operators.Graph.kCoreWithRelease(
        kCoreEdges(spark, sfDir), "pa", "pb")
      val out = df.localCheckpoint(true)
      release()
      out
    }

  /** t264_kcore — exact core numbers for the co-purchase graph via
    * distributed h-index iteration (no peeling, no driver node
    * state). Fixpoint-typed → rows-only; t265 is the ENFORCED audit
    * (h-index fixpoint + the ≥c-neighbors-of-core-≥c support
    * invariant + core ≤ degree), and the direct gate pins the row
    * shape.
    */
  def t264Kcore(spark: SparkSession, sfDir: String): DataFrame =
    coPurchaseKCore(spark, sfDir).orderBy(col("node"))

  /** t265_kcore_check — the audit justifying t264's rows-only row:
    * one MORE h-index round over the final cores changes nothing
    * (fixpoint ⇔ core numbers, by the h-index theorem), every node
    * has ≥ core(v) neighbors of core ≥ core(v) (the k-core support
    * invariant), and no core exceeds its degree.
    */
  def t265KcoreCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val cores = coPurchaseKCore(spark, sfDir)
    // the SAME normalization kCore used (Graph.undirect — a hand-rolled
    // copy here could silently audit a different graph), checkpointed
    // once because both audit branches below walk it
    val und = graft.operators.Graph.undirect(
        kCoreEdges(spark, sfDir), "pa", "pb")
      .localCheckpoint(true)
    val labels = cores.select(col("node"), col("core").as("c"))
    val next = graft.operators.Graph.hIndexRound(und, labels)
      .withColumnRenamed("c", "c_next")
    val fixpoint = labels.join(next, "node")
      .agg(sum(when(col("c") =!= col("c_next"), 1L).otherwise(0L))
        .as("v")).select(lit("fixpoint_violations").as("check"),
        col("v").cast("double").as("value"))
    val support = und
      .join(cores.select(col("node").as("src"), col("core").as("c_src")),
        "src")
      .join(cores.select(col("node").as("dst"), col("core").as("c_dst")),
        "dst")
      .groupBy(col("dst").as("node"), col("c_dst"))
      .agg(sum(when(col("c_src") >= col("c_dst"), 1L).otherwise(0L))
        .as("n_sup"))
      .agg(sum(when(col("n_sup") < col("c_dst"), 1L).otherwise(0L))
        .as("v"))
      .select(lit("support_violations").as("check"),
        col("v").cast("double").as("value"))
    val shape = cores.agg(
        count(lit(1)).as("n"), max(col("core")).as("mx"),
        sum(when(col("core") > col("degree"), 1L).otherwise(0L)).as("gt"),
        sum(when(col("core") < 1, 1L).otherwise(0L)).as("lt"))
      .select(explode(map(
        lit("n_nodes"), col("n").cast("double"),
        lit("max_core"), col("mx").cast("double"),
        lit("core_gt_degree"), col("gt").cast("double"),
        lit("core_lt_one"), col("lt").cast("double")))
        .as(Seq("check", "value")))
    fixpoint.unionByName(support).unionByName(shape)
      .orderBy(col("check"))
  }

  /** The (returnflag, price-cent)-cell cumulative-count frame shared
    * by the whole robust-location family — t203 (trimmed mean), t206
    * (median CI), t225 (winsorized mean) all consume the IDENTICAL
    * `Profiling.countCellsCum` relation over lineitem price cents,
    * and each was paying the corpus collapse plus cumulativeCells'
    * three sequential jobs alone: the latency-bound class behind the
    * r13 driver battery's watch list (docs/PERF_NOTES.md, round 14).
    * Computed once per (session, sfDir), checkpointed (cell-sized:
    * |distinct (flag, cents)| rows); each fixture after that is ONE
    * cell-sized job. ScaleStress keeps timing the RAW operators
    * (w206-family entries build uncached).
    */
  private val priceCumCache = new graft.SessionCache[DataFrame]
  private[graft] def priceCentCum(spark: SparkSession,
                                  sfDir: String): DataFrame =
    priceCumCache.getOrElseUpdate(spark, sfDir) {
      graft.ops.Profiling.countCellsCum(Tables.lineitem(spark, sfDir),
          Seq("l_returnflag"), round(col("l_extendedprice") * 100, 0))
        .localCheckpoint(true)
    }

  /** The per-(event_type, user) event-mass table shared by t204
    * (Theil) and t208 (Lorenz deciles) — the corpus-sized entity
    * collapse both concentration fixtures start from. Same round-14
    * shared-census rationale as [[priceCentCum]].
    */
  private val userMassCache = new graft.SessionCache[DataFrame]
  private[graft] def userMassCells(spark: SparkSession,
                                   sfDir: String): DataFrame =
    userMassCache.getOrElseUpdate(spark, sfDir) {
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(true)
    }

  /** The prefix-filtered all-pairs Jaccard pair table, computed ONCE
    * per (session, sfDir) and shared by t266 and the SqlFacade
    * `prefix_jaccard` view (the t192/t236 shared-census convention):
    * the round-12 view recomputed the full prefix join per SQL query
    * — q63 cost 7.4 s on the r12 driver battery against t266's 2.3 s
    * for the identical relation. Session-keyed the kCoreCache way.
    */
  private val prefixJaccardCache = new graft.SessionCache[DataFrame]
  private[graft] def prefixJaccardPairs(spark: SparkSession,
                                        sfDir: String): DataFrame =
    prefixJaccardCache.getOrElseUpdate(spark, sfDir) {
      graft.operators.TextDedup.prefixFilterPairs(
          Tables.documents(spark, sfDir), "text", "doc_id",
          shingleK = 3, threshold = 0.6)
        .localCheckpoint(true)
    }

  /** t266_prefix_jaccard — EXACT all-pairs Jaccard join via prefix
    * filtering (Bayardo WWW'07): rarest-first global-df prefixes
    * generate candidates, exact sorted-merge Jaccard verifies. The
    * oracle is the NAIVE uncapped all-pairs replay — algorithm-
    * independent ground truth, so any prefix-pruning recall loss is a
    * hash mismatch, not a silent gap. Exact oracle. The pair table is
    * the shared (session, sfDir)-cached census above.
    */
  def t266PrefixJaccard(spark: SparkSession, sfDir: String): DataFrame =
    prefixJaccardPairs(spark, sfDir)
      .orderBy(col("id_a"), col("id_b"))

  /** t269_substr_dedup — EXACT character-level duplicated-substring
    * spans (the Lee et al. 2021 ExactSubstr criterion) via prefix-
    * doubling rank classes — the digest-free suffix-array complement
    * of t31/t50's hash-prefiltered token spans: every maximal per-doc
    * run of length-40 windows occurring ≥ 2 times anywhere in the
    * corpus. minLen = 40 is deliberately NOT a power of two so the
    * overlapping-pair cap level is exercised. Exact oracle: DuckDB
    * groups the literal 40-char substrings — algorithm-independent
    * ground truth with no digest anywhere on either side.
    */
  def t269SubstrDedup(spark: SparkSession, sfDir: String): DataFrame =
    substrSpans(spark, sfDir).orderBy(col("doc_id"), col("span_start"))

  /** The t269 span table, computed ONCE per (session, sfDir) and
    * shared with the SqlFacade `substr_dup_spans` view (the
    * t266/q63 shared-census convention — the prefix-doubling
    * pipeline is eager, so without the cache every SQL query on the
    * view would replay its final joins).
    */
  private val substrSpansCache = new graft.SessionCache[DataFrame]
  private[graft] def substrSpans(spark: SparkSession,
                                 sfDir: String): DataFrame =
    substrSpansCache.getOrElseUpdate(spark, sfDir) {
      graft.operators.SubstrDedup.duplicatedSpans(
          Tables.documents(spark, sfDir), "text", "doc_id", minLen = 40)
        .localCheckpoint(true)
    }

  /** t270_rerank — cross-encoder-style SECOND-STAGE rerank over the
    * t94 hybrid-retrieval stack: the fused top-20 candidates re-score
    * under the deterministic pair scorer (ordered query-term
    * adjacency — the phrase signal BM25's bag-of-words cannot see —
    * plus coverage, minus a length tiebreak; the model-serving slot a
    * production cross-encoder plugs into) and re-rank to top-10 with
    * a rank-shift audit. Per-row scoring cost is safe BECAUSE the
    * input is the first stage's bounded top-k — the two-stage
    * asymmetry this operator exists to exploit. Exact oracle: DuckDB
    * replays t94's proven fused ranking, then the integer pair score
    * bit-for-bit (fused ids without a document row score as empty
    * text on both sides).
    */
  def t270Rerank(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val first = t94HybridSearch(spark, sfDir)
      .select(col("id"), col("fused_rank"))
    val cands = first
      .join(docs.select(col("doc_id").as("id"), col("text")),
        Seq("id"), "left")
      .withColumn("query_id", lit(0L))
    Retrieval.rerank(cands, Seq("query_id"), "id", "fused_rank",
        Retrieval.proximityScore(col("text"),
          Seq("hash", "join", "window")), topK = 10)
      .orderBy(col("rerank"))
  }

  /** t271_langid_nb — the TRAINABLE language-ID classifier
    * (TextAnalysis.nbLangTrain/nbLangPredict): multinomial naive
    * Bayes over hashed character bigrams, fastText-shaped, trained
    * IN-ENGINE on the even-doc_id half of the documents table and
    * evaluated on every doc as a (lang, pred, n) confusion matrix —
    * the model-based upgrade of t8's fixed char-class heuristic.
    *
    * The synthetic corpus carries NO language signal (every lang
    * label shares one English-ish vocabulary — trained raw, the
    * Bayes-optimal answer is the majority prior for every doc), so
    * the fixture PLANTS a deterministic per-language marker phrase
    * in each text ([[langidMarker]], Chinese markers exercising the
    * multibyte decoder) and the classifier must LEARN the markers
    * from the training half and recover them on the held-out half —
    * the confusion matrix pins full discrimination, not a prior
    * readout. NbLangSpec holds the no-plant unit proof.
    *
    * Exact oracle: the FULL train-and-score pipeline — counts,
    * Laplace micro-log weights (t163 convention), priors, BIGINT
    * score sums, argmax ties to the later language code — re-derived
    * independently in DuckDB, marker concat included.
    *
    * Scale shape: training = one kernel pass + a map-side-combinable
    * (lang, bucket) count collapse (≤ |langs|·4096 rows after
    * combine); the model is |langs|×4096 longs on the driver (the
    * centroid convention), trained once per (session, sfDir) and
    * shared with the q72 view; inference = one codegen'd pass per
    * row, no explode/join on the inference path.
    */
  def t271LangidNb(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = langidDocs(spark, sfDir)
    val model = langidModel(spark, sfDir)
    docs
      .select(col("lang"),
        TextAnalysis.nbLangPredict(col("__t"), model).as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))
  }

  /** The planted per-language marker phrase (see [[t271LangidNb]]) —
    * mirrored verbatim by the oracle's CASE concat.
    */
  private def langidMarker: org.apache.spark.sql.Column =
    when(col("lang") === "de", " der die das und ist")
      .when(col("lang") === "es", " el la de que y")
      .when(col("lang") === "fr", " le la de et un")
      .when(col("lang") === "zh", " 的 是 在 了 不")
      .otherwise(" the of and is a")

  /** Marker mass matters: multinomial NB's +1/+B Laplace smoothing
    * systematically favors the LARGER class on shared-vocabulary
    * grams (w_big − w_small ≈ ln((t_small+B)/(t_big+B) · c_big/c_small)
    * > 0 when proportional counts meet unequal totals), ≈ +0.5 micro-
    * log units per shared bigram here — ~300-char docs give the
    * majority class a ~+170 head start. One marker phrase (~20
    * bigrams at ~+4.8 each) loses that race; ×8 (~150 marker bigrams,
    * ~+700) decisively wins it for every doc length in the fixture.
    */
  private def langidDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        concat(coalesce(col("text"), lit("")),
          repeat(langidMarker, 8)).as("__t"))

  // the trained model is (session, sfDir)-cached (the shared-census
  // convention): t271 and the q72 view share ONE training pass
  private val langidModelCache =
    new graft.SessionCache[TextAnalysis.NbLangModel]
  private def langidModel(spark: SparkSession,
                          sfDir: String): TextAnalysis.NbLangModel =
    langidModelCache.getOrElseUpdate(spark, sfDir) {
      TextAnalysis.nbLangTrain(
        langidDocs(spark, sfDir).filter(col("doc_id") % 2 === 0),
        "__t", "lang", buckets = 4096)
    }

  /** t267_repetition — the Gopher repetition report per source:
    * duplicated-line fractions + top/duplicated n-gram character-mass
    * fractions, every numerator/denominator an exact BIGINT mass from
    * one kernel call per row. Exact oracle.
    */
  def t267Repetition(spark: SparkSession, sfDir: String): DataFrame =
    sharedCensus(spark, sfDir, "t267_repetition") {
      TextAnalysis.repetitionReport(
        Tables.documents(spark, sfDir), "text", Seq("source"))
    }.orderBy(col("source"))

  /** t268_mink_prob — min-k% prob membership probe (Shi et al. 2023)
    * on the corpus bigram LM: per doc, the mean NLL of its 20% most
    * surprising bigram instances — the duplicated/memorized-text red
    * flag the plain average smooths away. Exact oracle (micro-log
    * integers, interval-clip selection).
    */
  def t268MinkProb(spark: SparkSession, sfDir: String): DataFrame =
    minKProbCensus(spark, sfDir).orderBy(col("doc_id"))

  /** The min-k% prob table, computed ONCE per (session, sfDir) and
    * shared by t268 and the SqlFacade `mink_prob` view (the
    * prefixJaccardPairs convention — the view recomputed the full
    * bigram-LM probe per SQL query: q64 cost 3.5 s beside t268's
    * 2.8 s for the identical relation on the r14 battery).
    */
  private val minKProbCache = new graft.SessionCache[DataFrame]
  private def minKProbCensus(spark: SparkSession,
                             sfDir: String): DataFrame =
    minKProbCache.getOrElseUpdate(spark, sfDir) {
      CorpusStats.minKProb(Tables.documents(spark, sfDir), "doc_id", "text")
        .localCheckpoint(true)
    }

  /** t12_multimodal — binary media plumbing end-to-end: synthesize
    * binary rows from documents, batch-decode (stub codec), aggregate
    * decoded metadata per media type.
    */
  def t12Multimodal(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = Multimodal.synthesize(Tables.documents(spark, sfDir), "doc_id", "text")
    Multimodal.decodeAll(media).toDF()
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("byte_len")).as("total_bytes"),
           max(col("width")).as("max_width"),
           max(col("duration_ms")).as("max_duration_ms"))
      .orderBy(col("media_type"))
  }
}
