package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.toolSession(defaultCpus = "32")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try dump(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    val gateFailures = qualityGate(spark, outDir)
    spark.stop()
    if (gateFailures.nonEmpty) {
      gateFailures.foreach(f => System.err.println(s"[verify] GATE FAIL: $f"))
      sys.exit(1)
    }
  }

  /** One query's result as the driver reads it: a single parquet file
    * under `path`. */
  def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** `outDir/oracle_sql.json`: name → oracle SQL, one JSON object. */
  def writeOracleSql(outDir: String, sql: Iterable[(String, String)]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Enforced quality floors for the approximate paths whose driver rows
    * are `no_oracle`: the cross-check queries that JUSTIFY those rows
    * (t16 ANN recall, t21 LSH candidate recall, t25/t27 violation
    * counts) must actually hold, not just be reported. Reads back the
    * parquet this run just wrote, so the gate checks exactly what the
    * driver will record. Returns human-readable failure strings; empty
    * means the gate passed.
    */
  private def qualityGate(spark: SparkSession, outDir: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    def rows(name: String) =
      try Right(spark.read.parquet(s"$outDir/$name").collect())
      catch { case e: Throwable => Left(s"$name unreadable: ${e.getMessage}") }
    val checks = Seq[(String, Either[String, Boolean])](
      // nprobe = nlist degenerates to brute force: recall must be exactly 1
      "t16 ivf nprobe=16 recall == 1.0" -> rows("t16_ann_recall").map(
        _.exists(r => r.getAs[String]("method") == "ivf_topk" &&
          r.getAs[String]("params").contains("nprobe=16") &&
          r.getAs[Double]("recall_at_5") == 1.0)),
      // wide-recall LSH setting: pinned floor 0.9
      "t16 lsh bits=2,tables=32 recall >= 0.9" -> rows("t16_ann_recall").map(
        _.exists(r => r.getAs[String]("method") == "lsh_topk" &&
          r.getAs[String]("params") == "bits=2,tables=32" &&
          r.getAs[Double]("recall_at_5") >= 0.9)),
      // the PRODUCTION serving point (ivfTopK defaults nlist=16,
      // nprobe=4), not just the degenerate all-cells setting: floor
      // pinned from the recorded sweep (0.54 on the near-orthogonal
      // synthetic corpus — see t16AnnRecall's scaladoc for why tight
      // params are inherently low here; the STRONG serving-point
      // contract is the t80 gate below — same setting, >= 0.7 on a
      // corpus with real cluster structure)
      "t16 ivf nlist=16,nprobe=4 recall >= 0.5" -> rows("t16_ann_recall").map(
        _.exists(r => r.getAs[String]("method") == "ivf_topk" &&
          r.getAs[String]("params") == "nlist=16,nprobe=4" &&
          r.getAs[Double]("recall_at_5") >= 0.5)),
      // widening the probe set must not lose recall (curve sanity)
      "t16 ivf recall(nprobe=16) >= recall(nprobe=4)" ->
        rows("t16_ann_recall").map { rs =>
          def recall(p: String) = rs.find(r =>
            r.getAs[String]("method") == "ivf_topk" &&
            r.getAs[String]("params") == p).map(_.getAs[Double]("recall_at_5"))
          (recall("nlist=16,nprobe=16"), recall("nlist=16,nprobe=4")) match {
            case (Some(wide), Some(tight)) => wide >= tight
            case _ => false
          }
        },
      // MinHash banding at the default params must surface >= 90% of the
      // df-capped exact-Jaccard pair set
      "t21 lsh candidate recall >= 0.9" -> rows("t21_lsh_recall").map(
        _.exists(r => r.getAs[Double]("recall") >= 0.9)),
      "t25 minhash precision violations == 0" -> rows("t25_minhash_precision")
        .map(_.exists(r => r.getAs[Long]("n_violations") == 0L)),
      "t27 simhash recovery violations == 0" -> rows("t27_simhash_recovery")
        .map(_.exists(r => r.getAs[Long]("n_violations") == 0L)),
      // SemDeDup structural contract (keeper<removed, no same-cell
      // survivor pair above threshold, identical vectors collapse) —
      // the cross-check justifying t46's rows-only row
      "t47 semdedup violations == 0" -> rows("t47_semdedup_check")
        .map(_.exists(r => r.getAs[Long]("n_violations") == 0L)),
      // PQ contract — the cross-check justifying t57's rows-only row:
      // a full codebook must reconstruct every vector exactly, the ADC
      // kernel must be bit-equal to the exact cosine under exact
      // reconstruction, and the production m=8,ksub=16 setting must
      // hold its pinned recall floor (near-orthogonal synthetic corpus
      // — see t16's rationale for why tight-param floors sit low)
      "t58 pq roundtrip violations == 0" -> rows("t58_pq_check").map(
        _.exists(r => r.getAs[String]("check") == "roundtrip_violations" &&
          r.getAs[Double]("value") == 0.0)),
      "t58 pq adc identity mismatches == 0" -> rows("t58_pq_check").map(
        _.exists(r => r.getAs[String]("check") == "adc_mismatches" &&
          r.getAs[Double]("value") == 0.0)),
      "t58 pq recall(m=8,ksub=16,rerank=8) >= 0.7" -> rows("t58_pq_check").map(
        _.exists(r => r.getAs[String]("check") == "recall_at_5" &&
          r.getAs[Double]("value") >= 0.7)),
      // DEFLATE codec contract — justifies t74's rows-only row: the
      // zlib roundtrip must reproduce every document byte-exactly,
      // with size fields sane (deflated > 0 whenever raw > 0)
      "t74 deflate roundtrip + size sanity hold" -> rows("t74_compress_ratio")
        .map(rs => rs.nonEmpty && rs.forall { r =>
          r.getAs[Boolean]("roundtrip_ok") &&
          (r.getAs[Int]("n_bytes") == 0 || r.getAs[Int]("n_deflated") > 0)
        }),
      // STREAMING Misra–Gries contract — justifies t71's rows-only
      // row: the sketch maintained in streaming aggregation state
      // satisfies presence/bounds/capacity per finalized window
      "t72 streaming mg contract violations == 0" -> rows("t72_stream_hh_check")
        .map(rs => rs.length == 4 &&
          rs.forall(_.getAs[Double]("value") == 0.0)),
      // Misra–Gries contract — the cross-check justifying t65's
      // rows-only row: presence of every >N/(k+1) token, two-sided
      // estimate bounds, and the capacity cap, all zero-violation
      "t66 misra-gries contract violations == 0" -> rows("t66_hh_check")
        .map(rs => rs.length == 4 &&
          rs.forall(_.getAs[Double]("value") == 0.0)),
      // BPE encode contract — the cross-check justifying t68's
      // rows-only row: every document's encoded symbols concatenate
      // back to its exact token stream, and symbol counts sit between
      // word count and char count
      "t68 bpe encode roundtrip + bounds hold" -> rows("t68_bpe_encode")
        .map(rs => rs.nonEmpty && rs.forall { r =>
          r.getAs[Boolean]("roundtrip_ok") &&
          r.getAs[Int]("n_words") <= r.getAs[Int]("n_bpe_tokens") &&
          r.getAs[Int]("n_bpe_tokens") <= r.getAs[Int]("n_chars")
        }),
      // marginMine's pluggable ANN candidate path (t76): the
      // brute-force baseline must accept pairs (else the recall row is
      // vacuous), the wide-recall LSH provider must recover >= 0.9 of
      // the brute-force-accepted pairs, and margins on pairs both
      // paths mined must agree within 0.05 (measured at sf0.01:
      // recall 1.0, drift 0.0 — the floors leave honest headroom)
      "t76 margin bf_accepted > 0" -> rows("t76_margin_ann_check").map(
        _.exists(r => r.getAs[String]("check") == "bf_accepted" &&
          r.getAs[Double]("value") > 0)),
      "t76 margin ann pair recall >= 0.9" -> rows("t76_margin_ann_check").map(
        _.exists(r => r.getAs[String]("check") == "pair_recall" &&
          r.getAs[Double]("value") >= 0.9)),
      "t76 margin drift <= 0.05" -> rows("t76_margin_ann_check").map(
        _.exists(r => r.getAs[String]("check") == "margin_drift_max" &&
          r.getAs[Double]("value") <= 0.05)),
      // IVF-PQ contract (t78, justifying t77's rows-only row): pinned
      // recall floor at the t77 production setting (measured 0.62 on
      // the near-orthogonal corpus — see t16's rationale; the
      // structured-corpus contract is t80), plus the PRUNE WITNESS:
      // the probed-cell ADC scan must stay near nprobe/nlist = 0.5 of
      // the full scan (0.55 allows cell-size skew), proving the cell
      // join prunes rather than decorates
      "t78 ivfpq recall >= 0.55" -> rows("t78_ivfpq_check").map(
        _.exists(r => r.getAs[String]("check") == "recall_at_5" &&
          r.getAs[Double]("value") >= 0.55)),
      "t78 ivfpq scan_fraction <= 0.55" -> rows("t78_ivfpq_check").map(
        _.exists(r => r.getAs[String]("check") == "scan_fraction" &&
          r.getAs[Double]("value") <= 0.55)),
      // the IVF serving point (nlist=16, nprobe=4) on a corpus with
      // REAL neighbor structure (eight blended clusters — t80): >= 0.7,
      // the floor the PQ gate pins, where t16's 0.5 on the
      // near-orthogonal corpus is honest but weak (measured 1.0)
      "t80 ivf clustered recall >= 0.7" -> rows("t80_ivf_clustered_recall")
        .map(_.exists(r =>
          r.getAs[String]("check") == "recall_at_5_nlist16_nprobe4" &&
          r.getAs[Double]("value") >= 0.7)),
      // IVF-PQ index APPEND contract (t81): appending a new batch to a
      // fixed index must assign bit-identically to a full-corpus build
      // (pure per-row assignment — batch boundaries can never leak),
      // and the appended index must serve at the same pinned floor as
      // t78 (measured 0.62 with centroids trained on 6/7 of the data)
      "t81 append parity violations == 0" -> rows("t81_ivfpq_append").map(
        _.exists(r => r.getAs[String]("check") == "append_parity_violations" &&
          r.getAs[Double]("value") == 0.0)),
      "t81 appended-index recall >= 0.55" -> rows("t81_ivfpq_append").map(
        _.exists(r => r.getAs[String]("check") == "recall_at_5" &&
          r.getAs[Double]("value") >= 0.55)),
      // streaming index maintenance (t84): the final streamed state
      // must be BIT-identical to the one-shot batch build (pure
      // per-row assignment — micro-batch boundaries can never leak),
      // with a non-empty state so parity is never vacuous
      "t84 stream index parity violations == 0" ->
        rows("t84_stream_index_append").map(
          _.exists(r => r.getAs[String]("check") == "index_parity_violations" &&
            r.getAs[Double]("value") == 0.0)),
      "t84 stream index state_rows > 0" ->
        rows("t84_stream_index_append").map(
          _.exists(r => r.getAs[String]("check") == "state_rows" &&
            r.getAs[Double]("value") > 0)),
      // ANN margin mining at PRODUCTION LSH params on the clustered
      // corpus (t85): neighbor-list recall and argmax-choice agreement
      // vs brute force, both >= 0.85 (measured 0.936/0.932 — the
      // (1-θ/π)^bits OR-composition predicts ~0.9 at cos 0.97).
      // Accepted-pair parity is deliberately NOT the contract here —
      // within-cluster margins sit at ≈1.0 by construction, so
      // acceptance at threshold 1.0 is knife-edge; t76 pins exact
      // parity at the wide-recall setting instead
      "t85 clustered nn_recall >= 0.85" -> rows("t85_margin_ann_clustered")
        .map(_.exists(r => r.getAs[String]("check") == "nn_recall" &&
          r.getAs[Double]("value") >= 0.85)),
      "t85 clustered choice agreement >= 0.85" ->
        rows("t85_margin_ann_clustered").map(
          _.exists(r => r.getAs[String]("check") == "choice_agreement" &&
            r.getAs[Double]("value") >= 0.85)),
      // the cell-routed IVF-PQ candidate pass for bitext mining
      // (t272): the same recall/agreement floors as t85's LSH gate
      // (measured 1.0/1.0 at verify scale, 0.93 recall at sf0.1's
      // denser clusters) PLUS the witness LSH cannot give — the ADC
      // scan must actually prune to ~nprobe/nlist of the cross
      // product (measured 0.502 at nprobe=8/nlist=16; > 0.55 means
      // the prune broke, ~0 means the index scanned nothing)
      "t272 ivfpq nn_recall >= 0.85" -> rows("t272_margin_ivfpq").map(
        _.exists(r => r.getAs[String]("check") == "nn_recall" &&
          r.getAs[Double]("value") >= 0.85)),
      "t272 ivfpq choice agreement >= 0.85" ->
        rows("t272_margin_ivfpq").map(
          _.exists(r => r.getAs[String]("check") == "choice_agreement" &&
            r.getAs[Double]("value") >= 0.85)),
      "t272 ivfpq scan fraction in (0, 0.55]" ->
        rows("t272_margin_ivfpq").map(
          _.exists(r => r.getAs[String]("check") == "scan_fraction" &&
            r.getAs[Double]("value") > 0 &&
            r.getAs[Double]("value") <= 0.55)),
      "t272 ivfpq n_src > 0" -> rows("t272_margin_ivfpq").map(
        _.exists(r => r.getAs[String]("check") == "n_src" &&
          r.getAs[Double]("value") > 0)),
      // mergeable-HLL rolling distinct (t91): the t92 audit recounts
      // the SAME windows exactly and pins the estimate error. lgK=12
      // standard error is ~1.6% (gate 0.05 gives headroom); below the
      // sketch's dense-promotion threshold the estimator is exact
      // (measured 0.0 at sf0.01)
      "t92 hll n_days > 0" -> rows("t92_hll_check").map(
        _.exists(r => r.getAs[String]("check") == "n_days" &&
          r.getAs[Double]("value") > 0)),
      "t92 hll max_rel_err <= 0.05" -> rows("t92_hll_check").map(
        _.exists(r => r.getAs[String]("check") == "max_rel_err" &&
          r.getAs[Double]("value") <= 0.05)),
      "t92 hll min_approx > 0" -> rows("t92_hll_check").map(
        _.exists(r => r.getAs[String]("check") == "min_approx" &&
          r.getAs[Double]("value") > 0)),
      // q67's hash-exact oracle PRECONDITION (r13 ADVICE): the
      // exact-recount oracle is only valid while verify-scale windows
      // stay deep inside the coupon-exact regime (measured exact at
      // ≤ 150 distinct/window; off by 2 at 1338 at sf0.1). A testdata
      // regen past 512 must fail HERE, by name, instead of surfacing
      // as a q67 hash mismatch that reads like an engine bug.
      "t92 hll max_exact_window <= 512 (q67 exact-regime precondition)" ->
        rows("t92_hll_check").map(
          _.exists(r => r.getAs[String]("check") == "max_exact_window" &&
            r.getAs[Double]("value") <= 512)),
      // streaming sketch maintenance (t96): the stream-accreted HLL
      // must estimate IDENTICALLY to the batch build (register-max
      // union is order-independent — equality, not closeness)
      "t96 stream sketch n_days > 0" -> rows("t96_stream_sketch").map(
        _.exists(r => r.getAs[String]("check") == "n_days" &&
          r.getAs[Double]("value") > 0)),
      "t96 stream sketch n_mismatch == 0" -> rows("t96_stream_sketch").map(
        _.exists(r => r.getAs[String]("check") == "n_mismatch" &&
          r.getAs[Double]("value") == 0.0)),
      // grouped rolling distinct (t109): the per-dimension rollup
      // holds the same audited error contract as t92
      "t109 grouped n_cells > 0" -> rows("t109_grouped_rolling").map(
        _.exists(r => r.getAs[String]("check") == "n_cells" &&
          r.getAs[Double]("value") > 0)),
      "t109 grouped max_rel_err <= 0.05" -> rows("t109_grouped_rolling").map(
        _.exists(r => r.getAs[String]("check") == "max_rel_err" &&
          r.getAs[Double]("value") <= 0.05)),
      "t109 grouped min_approx > 0" -> rows("t109_grouped_rolling").map(
        _.exists(r => r.getAs[String]("check") == "min_approx" &&
          r.getAs[Double]("value") > 0)),
      // right-to-be-forgotten propagation (t106): the scrub must
      // actually delete, touch only affected partitions, and converge
      // to the full-rebuild standard
      "t106 forget n_forgotten > 0" -> rows("t106_forget_flow").map(
        _.exists(r => r.getAs[String]("check") == "n_forgotten" &&
          r.getAs[Double]("value") > 0)),
      "t106 forget affected_days > 0" -> rows("t106_forget_flow").map(
        _.exists(r => r.getAs[String]("check") == "affected_days" &&
          r.getAs[Double]("value") > 0)),
      "t106 forget leftover_rows == 0" -> rows("t106_forget_flow").map(
        _.exists(r => r.getAs[String]("check") == "leftover_rows" &&
          r.getAs[Double]("value") == 0.0)),
      "t106 forget n_mismatch == 0" -> rows("t106_forget_flow").map(
        _.exists(r => r.getAs[String]("check") == "n_mismatch" &&
          r.getAs[Double]("value") == 0.0)),
      // index persistence (t103): serving from the parquet-round-
      // tripped index must be BIT-identical to the in-memory one
      "t103 roundtrip served_rows > 0" -> rows("t103_index_roundtrip").map(
        _.exists(r => r.getAs[String]("check") == "served_rows" &&
          r.getAs[Double]("value") > 0)),
      "t103 roundtrip parity_violations == 0" ->
        rows("t103_index_roundtrip").map(
          _.exists(r => r.getAs[String]("check") == "parity_violations" &&
            r.getAs[Double]("value") == 0.0)),
      // index drift monitor (t104): no false alarms on same-
      // distribution ingest, real shift must move the needle
      "t104 drift same_ratio <= 1.5" -> rows("t104_index_drift").map(
        _.exists(r => r.getAs[String]("check") == "same_ratio" &&
          r.getAs[Double]("value") <= 1.5)),
      "t104 drift shifted_ratio > same_ratio" ->
        rows("t104_index_drift").map { rs =>
          def v(c: String) = rs.find(_.getAs[String]("check") == c)
            .map(_.getAs[Double]("value"))
          (v("shifted_ratio"), v("same_ratio")) match {
            case (Some(s), Some(m)) => s > m
            case _ => false
          }
        },
      // filtered IVF-PQ serving (t101): predicate-pruned ADC scan must
      // hold the t78 production recall floor vs the exact filtered
      // baseline (measured 0.66 at sf0.01, consistent with t78's 0.62
      // at the same nprobe=8/nlist=16 setting on this corpus)
      "t101 filtered serve n_expected > 0" ->
        rows("t101_filtered_serve").map(
          _.exists(r => r.getAs[String]("check") == "n_expected" &&
            r.getAs[Double]("value") > 0)),
      "t101 filtered serve recall >= 0.55" ->
        rows("t101_filtered_serve").map(
          _.exists(r => r.getAs[String]("check") == "recall_at_5" &&
            r.getAs[Double]("value") >= 0.55)),
      // incremental sketch-state maintenance (t97): the mergeAggregate
      // path must converge to the full-history rebuild, and the
      // mid-day cut must actually exercise the combine branch
      "t97 sketch append n_days > 0" -> rows("t97_sketch_append").map(
        _.exists(r => r.getAs[String]("check") == "n_days" &&
          r.getAs[Double]("value") > 0)),
      "t97 sketch append overlap_days >= 1" -> rows("t97_sketch_append").map(
        _.exists(r => r.getAs[String]("check") == "overlap_days" &&
          r.getAs[Double]("value") >= 1)),
      "t97 sketch append n_mismatch == 0" -> rows("t97_sketch_append").map(
        _.exists(r => r.getAs[String]("check") == "n_mismatch" &&
          r.getAs[Double]("value") == 0.0)),
      // mergeable KLL rolling quantiles (t99): the t100 audit counts
      // exact ranks of the sketch-returned values per window —
      // distribution-free, gate at 3x KLL's k=200 stated bound
      "t100 kll n_days > 0" -> rows("t100_kll_check").map(
        _.exists(r => r.getAs[String]("check") == "n_days" &&
          r.getAs[Double]("value") > 0)),
      "t100 kll max_rank_err_p50 <= 0.05" -> rows("t100_kll_check").map(
        _.exists(r => r.getAs[String]("check") == "max_rank_err_p50" &&
          r.getAs[Double]("value") <= 0.05)),
      "t100 kll max_rank_err_p95 <= 0.05" -> rows("t100_kll_check").map(
        _.exists(r => r.getAs[String]("check") == "max_rank_err_p95" &&
          r.getAs[Double]("value") <= 0.05)),
      // Z-order layout (t95): the oracle replays the arithmetic; this
      // gate pins the CLAIM — the Morton layout's worst-dimension
      // coverage must be at most half the linear sort's (measured
      // ~0.26 vs ~1.0 at 16 buckets)
      "t95 zorder worst_dim_frac <= 0.5x linear" ->
        rows("t95_zorder_layout").map { rs =>
          def worst(l: String) = rs.find(_.getAs[String]("layout") == l)
            .map(_.getAs[Double]("worst_dim_frac"))
          (worst("zorder"), worst("linear_x")) match {
            case (Some(z), Some(lx)) => z <= 0.5 * lx
            case _ => false
          }
        },
      // BPE merge-apply contract — the cross-check justifying t55's
      // rows-only row: steps contiguous from 1, merged = left||right,
      // every pass merged something (0 < applied ≤ pair_count — the
      // strict inequality holds because the winning pair must occur),
      // and NO (left,right) adjacency survives its own merge pass
      "t55 bpe merge contract holds" -> rows("t55_bpe").map { rs =>
        rs.nonEmpty &&
        rs.map(_.getAs[Int]("step")).sorted.toSeq == (1 to rs.length) &&
        rs.forall { r =>
          r.getAs[String]("merged") ==
            r.getAs[String]("left") + r.getAs[String]("right") &&
          r.getAs[Long]("applied") > 0L &&
          r.getAs[Long]("applied") <= r.getAs[Long]("pair_count") &&
          r.getAs[Long]("residual_pairs") == 0L
        }
      },
      // image perceptual-hash near-dup (t115): every planted
      // pixel-perturbed copy must pair with its original at
      // Hamming <= 3 (measured 1.0), and collision pairs between
      // DIFFERENT source images stay bounded (measured 0.024 at
      // sf0.01 — tiny synthetic images genuinely collide; the bound
      // keeps a hash regression from hiding in the extras)
      "t115 phash n_images > 0" -> rows("t115_image_phash").map(
        _.exists(r => r.getAs[String]("check") == "n_images" &&
          r.getAs[Double]("value") > 0)),
      "t115 phash recovered_frac >= 0.9" -> rows("t115_image_phash").map(
        _.exists(r => r.getAs[String]("check") == "recovered_frac" &&
          r.getAs[Double]("value") >= 0.9)),
      "t115 phash extra_frac <= 0.2" -> rows("t115_image_phash").map(
        _.exists(r => r.getAs[String]("check") == "extra_frac" &&
          r.getAs[Double]("value") <= 0.2)),
      // count-min sketch (t118): the CMS contract — NEVER undercounts
      // (deterministic: every cell the item hashes to received all its
      // increments), and overcounts stay within the analytic ε·N bound
      // (ε = 0.0005 as configured in the query; the 0.99-confidence
      // bound holds per-probe here because the seed is fixed and
      // measured)
      "t118 cms has probes incl. absent token" -> rows("t118_cms_counts")
        .map(rs => rs.length >= 8 &&
          rs.exists(r => r.getAs[String]("token") == "quantum" &&
            r.getAs[Long]("true_count") == 0L)),
      "t118 cms never undercounts" -> rows("t118_cms_counts").map(
        _.forall(r => r.getAs[Long]("est") >= r.getAs[Long]("true_count"))),
      "t118 cms overcount <= eps*N" -> rows("t118_cms_counts").map(
        _.forall(r => r.getAs[Long]("est") - r.getAs[Long]("true_count")
          <= math.ceil(0.0005 * r.getAs[Long]("n_total")).toLong)),
      // PCA whitening (t123): the whitened corpus must actually BE
      // whitened — a second CovMoments pass over the projection reads
      // near-identity covariance; eigenvalues positive and descending;
      // top-8-of-64 explained variance in (0, 1]
      "t123 pca whitened diag within 0.05 of 1" -> rows("t123_pca_whiten")
        .map(_.exists(r => r.getAs[String]("check") == "max_diag_dev" &&
          r.getAs[Double]("value") <= 0.05)),
      "t123 pca whitened offdiag <= 0.05" -> rows("t123_pca_whiten")
        .map(_.exists(r => r.getAs[String]("check") == "max_offdiag" &&
          r.getAs[Double]("value") <= 0.05)),
      "t123 pca eigs positive descending" -> rows("t123_pca_whiten")
        .map(rs => rs.exists(r => r.getAs[String]("check") == "min_eig" &&
            r.getAs[Double]("value") > 0) &&
          rs.exists(r => r.getAs[String]("check") == "eig_descending" &&
            r.getAs[Double]("value") == 1.0)),
      "t123 pca explained_frac in (0,1]" -> rows("t123_pca_whiten")
        .map(_.exists(r => r.getAs[String]("check") == "explained_frac" &&
          r.getAs[Double]("value") > 0 && r.getAs[Double]("value") <= 1.0)),
      // JL random projection (t126): measured pairwise squared-distance
      // distortion over consecutive-id pairs — k=32 of d=64 at 500
      // vectors supports a loose but real contract (measured mean ~0.1)
      "t126 jl n_pairs > 0" -> rows("t126_jl_project").map(
        _.exists(r => r.getAs[String]("check") == "n_pairs" &&
          r.getAs[Double]("value") > 0)),
      // measured at sf0.01: mean 0.200, max 0.932 — right on the
      // Rademacher-JL theory line (std ≈ √(2/k) = 0.25 per pair)
      "t126 jl mean distortion <= 0.3" -> rows("t126_jl_project").map(
        _.exists(r => r.getAs[String]("check") == "mean_distortion" &&
          r.getAs[Double]("value") <= 0.3)),
      "t126 jl max distortion <= 1.5" -> rows("t126_jl_project").map(
        _.exists(r => r.getAs[String]("check") == "max_distortion" &&
          r.getAs[Double]("value") <= 1.5)),
      // audio fingerprint near-dup (t132): the t115 contract for the
      // audio modality — every planted byte-perturbed copy pairs with
      // its original at Hamming <= 3, collision extras bounded
      "t132 audio n_audio > 0" -> rows("t132_audio_fingerprint").map(
        _.exists(r => r.getAs[String]("check") == "n_audio" &&
          r.getAs[Double]("value") > 0)),
      "t132 audio recovered_frac >= 0.9" -> rows("t132_audio_fingerprint")
        .map(_.exists(r => r.getAs[String]("check") == "recovered_frac" &&
          r.getAs[Double]("value") >= 0.9)),
      "t132 audio extra_frac <= 0.2" -> rows("t132_audio_fingerprint").map(
        _.exists(r => r.getAs[String]("check") == "extra_frac" &&
          r.getAs[Double]("value") <= 0.2)),
      // sketch-edge binned KS (t146): approx (Greenwald–Khanna) edges
      // must stay a valid lower bound of the exact full KS (any-edge
      // binned D̂ ≤ D; 1e-6 slack for the 6dp boundary rounds) and land
      // within the 1/nBins resolution of the exact-percentile edges
      // (measured 0.001056 worst at sf0.01; gate at the documented
      // bound, not the lucky draw)
      "t146 every group: ks_approx <= ks_full + 1e-6" ->
        rows("t146_ks_approx_edges").map(rs => rs.nonEmpty && rs.forall(r =>
          r.getAs[Double]("ks_approx_edges") <=
            r.getAs[Double]("ks_full") + 1e-6)),
      "t146 every group: |ks_approx - ks_exact_edges| <= 0.1" ->
        rows("t146_ks_approx_edges").map(rs => rs.nonEmpty && rs.forall(
          _.getAs[Double]("abs_diff") <= 0.1)),
      // Doulion approximate triangle census (t236, justifying t235's
      // rows-only row): the seeded-coin estimate must sit within 5%
      // of the exact degree-ordered count on the same graph
      // (deterministic per dataset — measured 0.0185 at sf0.01,
      // 0.00065 at sf0.1; unbiased estimator, so the bound is ~5
      // rel-std of honest headroom), and the coin must actually thin
      // the closure input to ~p of the edges
      "t236 doulion n_triangles_exact > 0" ->
        rows("t236_triangle_approx_check").map(
          _.exists(r => r.getAs[String]("check") == "n_triangles_exact" &&
            r.getAs[Double]("value") > 0)),
      "t236 doulion rel_err <= 0.05" ->
        rows("t236_triangle_approx_check").map(
          _.exists(r => r.getAs[String]("check") == "rel_err" &&
            r.getAs[Double]("value") <= 0.05)),
      "t236 doulion |sample_frac - 0.5| <= 0.1" ->
        rows("t236_triangle_approx_check").map(
          _.exists(r => r.getAs[String]("check") == "sample_frac" &&
            math.abs(r.getAs[Double]("value") - 0.5) <= 0.1)),
      // PNG pHash near-dup contract (t237): both planted perturbation
      // families — pixel noise and a +16 brightness shift, each
      // surviving a REAL deflate decode → DCT path — must pair with
      // their originals at Hamming <= 3 (measured 1.0/1.0 at both
      // SFs); cross-image collision extras stay bounded (measured 0
      // at sf0.01, 0.083 at sf0.1)
      "t237 png phash n_images > 0" -> rows("t237_png_phash").map(
        _.exists(r => r.getAs[String]("check") == "n_images" &&
          r.getAs[Double]("value") > 0)),
      "t237 png phash recovered_noise_frac >= 0.9" ->
        rows("t237_png_phash").map(
          _.exists(r => r.getAs[String]("check") == "recovered_noise_frac" &&
            r.getAs[Double]("value") >= 0.9)),
      "t237 png phash recovered_bright_frac >= 0.9" ->
        rows("t237_png_phash").map(
          _.exists(r => r.getAs[String]("check") == "recovered_bright_frac" &&
            r.getAs[Double]("value") >= 0.9)),
      "t237 png phash extra_frac <= 0.2" -> rows("t237_png_phash").map(
        _.exists(r => r.getAs[String]("check") == "extra_frac" &&
          r.getAs[Double]("value") <= 0.2)),
      // video content near-dup contract (t249): both planted copy
      // families — a 2-frame CLIP (directional containment 1.0 by
      // construction) and a +16 uniform luma shift (DCT AC block
      // invariant) — must recover through frame decode → per-frame
      // pHash → banded-Hamming shingles at match_frac >= 0.9;
      // cross-video collision extras stay bounded
      "t249 video phash n_videos > 0" -> rows("t249_video_phash").map(
        _.exists(r => r.getAs[String]("check") == "n_videos" &&
          r.getAs[Double]("value") > 0)),
      "t249 video phash recovered_clip_frac >= 0.9" ->
        rows("t249_video_phash").map(
          _.exists(r => r.getAs[String]("check") == "recovered_clip_frac" &&
            r.getAs[Double]("value") >= 0.9)),
      "t249 video phash recovered_bright_frac >= 0.9" ->
        rows("t249_video_phash").map(
          _.exists(r => r.getAs[String]("check") == "recovered_bright_frac" &&
            r.getAs[Double]("value") >= 0.9)),
      "t249 video phash extra_frac <= 0.2" -> rows("t249_video_phash").map(
        _.exists(r => r.getAs[String]("check") == "extra_frac" &&
          r.getAs[Double]("value") <= 0.2)),
      // model persistence roundtrips (t250): a parquet-saved BPE rule
      // table / DSIR bucket model must reload (validated) and
      // encode/score BIT-IDENTICALLY to the in-session fit — the t103
      // parity contract for the remaining driver-held model state
      "t250 bpe_rules_n > 0" -> rows("t250_model_roundtrip").map(
        _.exists(r => r.getAs[String]("check") == "bpe_rules_n" &&
          r.getAs[Double]("value") > 0)),
      "t250 bpe_encode_mismatch == 0" -> rows("t250_model_roundtrip").map(
        _.exists(r => r.getAs[String]("check") == "bpe_encode_mismatch" &&
          r.getAs[Double]("value") == 0.0)),
      "t250 dsir_buckets_n == 64" -> rows("t250_model_roundtrip").map(
        _.exists(r => r.getAs[String]("check") == "dsir_buckets_n" &&
          r.getAs[Double]("value") == 64.0)),
      "t250 dsir_score_mismatch == 0" -> rows("t250_model_roundtrip").map(
        _.exists(r => r.getAs[String]("check") == "dsir_score_mismatch" &&
          r.getAs[Double]("value") == 0.0)),
      // LSH banding calibration (t251): every banding audits the SAME
      // truth pairs (identical per-banding totals), the finest banding
      // recalls >= 0.9 of the top-Jaccard bin, and finer never loses
      // to coarser there (the S-curve's defining monotonicity)
      "t251 calibration shares one truth set across bandings" ->
        rows("t251_lsh_calibration").map { rs =>
          val totals = rs.groupBy(_.getAs[Int]("bands"))
            .map { case (_, r) => r.map(_.getAs[Long]("n_pairs")).sum }
          totals.nonEmpty && totals.toSet.size == 1 && totals.head > 0
        },
      "t251 finest banding top-bin recall >= 0.9" ->
        rows("t251_lsh_calibration").map { rs =>
          val top = rs.filter(r => r.getAs[Int]("bands") == 32)
            .maxByOption(_.getAs[Int]("bin"))
          top.exists(_.getAs[Double]("recall") >= 0.9)
        },
      "t251 finest >= coarsest in the top bin" ->
        rows("t251_lsh_calibration").map { rs =>
          def topRecall(b: Int) = rs.filter(_.getAs[Int]("bands") == b)
            .maxByOption(_.getAs[Int]("bin"))
            .map(_.getAs[Double]("recall"))
          (for (f <- topRecall(32); c <- topRecall(8)) yield f >= c)
            .getOrElse(false)
        }) ++ directGates(rows)
    checks.collect {
      case (desc, Left(err)) => s"$desc — $err"
      case (desc, Right(false)) => desc
    }
  }

  /** DIRECT structural reads of every rows-only output whose
    * correctness was previously justified only TRANSITIVELY by a
    * paired cross-check (t2/t21, t46/t47, t57/t58, …): the paired
    * gates stay the quantitative contract, but each no_oracle row now
    * also has its own read-back — non-empty, schema-field access, and
    * the operator's internal invariants — so a silent regression in
    * the un-gated twin can no longer hide behind a green pair.
    */
  private def directGates(
      rows: String => Either[String, Array[org.apache.spark.sql.Row]])
      : Seq[(String, Either[String, Boolean])] = {
    import org.apache.spark.sql.Row
    // (qid, rank, id, cosine) top-k contract shared by the ANN family:
    // per query the ranks are contiguous from 1, cosine is
    // non-increasing in rank, and no result echoes its own query id
    def topK(rs: Array[Row], k: Int): Boolean =
      rs.nonEmpty && rs.groupBy(_.getAs[Long]("qid")).values.forall { g =>
        val sorted = g.sortBy(_.getAs[Int]("rank"))
        sorted.map(_.getAs[Int]("rank")).toSeq == (1 to g.length) &&
        g.length <= k &&
        sorted.sliding(2).forall(w => w.length < 2 ||
          w(0).getAs[Double]("cosine") >= w(1).getAs[Double]("cosine")) &&
        g.forall(r => r.getAs[Long]("id") != r.getAs[Long]("qid"))
      }
    Seq[(String, Either[String, Boolean])](
      "t2 direct: pairs ordered, jaccard in [0.8, 1]" ->
        rows("t2_dedup_minhash").map(rs => rs.nonEmpty && rs.forall { r =>
          r.getAs[Long]("id_a") < r.getAs[Long]("id_b") &&
          r.getAs[Double]("jaccard") >= 0.8 - 1e-9 &&
          r.getAs[Double]("jaccard") <= 1.0 + 1e-9
        }),
      "t3 direct: pairs ordered, hamming in [0, 3]" ->
        rows("t3_dedup_simhash").map(rs => rs.nonEmpty && rs.forall { r =>
          r.getAs[Long]("id_a") < r.getAs[Long]("id_b") &&
          r.getAs[Int]("hamming") >= 0 && r.getAs[Int]("hamming") <= 3
        }),
      "t6 direct: lsh top-k per-query rank/order contract" ->
        rows("t6_embed_ann").map(topK(_, 5)),
      "t7 direct: pairs ordered, cosine >= threshold 0.4" ->
        rows("t7_embed_neardup").map(rs => rs.nonEmpty && rs.forall { r =>
          r.getAs[Long]("id_a") < r.getAs[Long]("id_b") &&
          r.getAs[Double]("cosine") >= 0.4 - 1e-9 &&
          r.getAs[Double]("cosine") <= 1.0 + 1e-9
        }),
      "t15 direct: ivf top-k per-query rank/order contract" ->
        rows("t15_embed_ivf").map(topK(_, 5)),
      "t46 direct: keeper < removed, removed ids unique, no removed " +
        "id survives as a keeper" ->
        rows("t46_semdedup").map { rs =>
          val removed = rs.map(_.getAs[Long]("removed_id"))
          val removedSet = removed.toSet
          rs.nonEmpty &&
          rs.forall(r => r.getAs[Long]("keeper_id") <
            r.getAs[Long]("removed_id")) &&
          removedSet.size == removed.length &&
          !rs.exists(r => removedSet.contains(r.getAs[Long]("keeper_id")))
        },
      "t57 direct: pq top-k per-query rank/order contract" ->
        rows("t57_pq_topk").map(topK(_, 5)),
      "t65 direct: <= capacity rows, ranks contiguous, est positive " +
        "non-increasing" ->
        rows("t65_heavy_hitters").map { rs =>
          val sorted = rs.sortBy(_.getAs[Int]("rank"))
          rs.nonEmpty && rs.length <= 16 &&
          sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length) &&
          sorted.forall(_.getAs[Long]("est") > 0L) &&
          sorted.sliding(2).forall(w => w.length < 2 ||
            w(0).getAs[Long]("est") >= w(1).getAs[Long]("est"))
        },
      "t71 direct: per finalized window <= capacity entries, ranks " +
        "contiguous, 0 < est <= window total" ->
        rows("t71_stream_hh").map { rs =>
          rs.nonEmpty && rs.groupBy(_.getAs[java.sql.Timestamp]("day"))
            .values.forall { g =>
              val sorted = g.sortBy(_.getAs[Int]("rank"))
              g.length <= 4 &&
              sorted.map(_.getAs[Int]("rank")).toSeq == (1 to g.length) &&
              g.forall(r => r.getAs[Long]("est") > 0L &&
                r.getAs[Long]("est") <= r.getAs[Long]("n_events"))
            }
        },
      "t77 direct: ivf-pq top-k per-query rank/order contract" ->
        rows("t77_ivfpq_topk").map(topK(_, 5)),
      "t91 direct: one row per day, window_days = 7, estimates > 0" ->
        rows("t91_hll_rolling").map { rs =>
          val days = rs.map(_.getAs[java.sql.Date]("day").toString)
          rs.nonEmpty && days.distinct.length == days.length &&
          rs.forall(r => r.getAs[Int]("window_days") == 7 &&
            r.getAs[Long]("approx_distinct") > 0L)
        },
      "t99 direct: one row per day, window_days = 7, p50 <= p95" ->
        rows("t99_kll_rolling").map { rs =>
          val days = rs.map(_.getAs[java.sql.Date]("day").toString)
          rs.nonEmpty && days.distinct.length == days.length &&
          rs.forall(r => r.getAs[Int]("window_days") == 7 &&
            r.getAs[Double]("p50") <= r.getAs[Double]("p95"))
        },
      "t75 direct: one row per source, margins finite, accepted " +
        "consistent with threshold 1.0, sides respect the parity split" ->
        rows("t75_margin_mine").map { rs =>
          val srcs = rs.map(_.getAs[Long]("src_id"))
          rs.nonEmpty && srcs.distinct.length == srcs.length &&
          rs.forall { r =>
            val m = r.getAs[Double]("margin")
            !m.isNaN && !m.isInfinite &&
            r.getAs[Boolean]("accepted") == (m >= 1.0) &&
            r.getAs[Long]("src_id") % 2 == 0 &&
            r.getAs[Long]("tgt_id") % 2 != 0
          }
        },
      // Lloyd refinement monotonicity (t258): the spherical k-means
      // objective (mean cosine to the argmax centroid) must not
      // decrease from the seeds to the refined centroids — the
      // assign/update steps each guarantee it in exact arithmetic
      // (1e-9 ulp slack); plus the structural read-back
      "t258 direct: 2 stages, n equal > 0, mean_cos in [-1,1], " +
        "refined >= seed - 1e-9" ->
        rows("t258_lloyd_gain").map { rs =>
          def stage(s: String) = rs.find(_.getAs[String]("stage") == s)
          (stage("seed"), stage("refined")) match {
            case (Some(a), Some(b)) =>
              rs.length == 2 &&
              a.getAs[Long]("n") == b.getAs[Long]("n") &&
              a.getAs[Long]("n") > 0L &&
              Seq(a, b).forall { r =>
                val m = r.getAs[Double]("mean_cos")
                !m.isNaN && m >= -1.0 - 1e-9 && m <= 1.0 + 1e-9
              } &&
              b.getAs[Double]("mean_cos") >=
                a.getAs[Double]("mean_cos") - 1e-9
            case _ => false
          }
        },
      // k-core decomposition (t265, justifying t264's rows-only row):
      // the h-index fixpoint holds (one more round changes nothing —
      // fixpoint = core numbers by the h-index theorem), every node
      // has >= core(v) neighbors of core >= core(v), and cores sit in
      // [1, degree]
      "t265 kcore fixpoint_violations == 0" -> rows("t265_kcore_check")
        .map(_.exists(r => r.getAs[String]("check") == "fixpoint_violations"
          && r.getAs[Double]("value") == 0.0)),
      "t265 kcore support_violations == 0" -> rows("t265_kcore_check")
        .map(_.exists(r => r.getAs[String]("check") == "support_violations"
          && r.getAs[Double]("value") == 0.0)),
      "t265 kcore bounds hold, max_core > 0" -> rows("t265_kcore_check")
        .map { rs =>
          def v(c: String) = rs.find(_.getAs[String]("check") == c)
            .map(_.getAs[Double]("value"))
          v("core_gt_degree").contains(0.0) &&
          v("core_lt_one").contains(0.0) &&
          v("n_nodes").exists(_ > 0) && v("max_core").exists(_ > 0)
        },
      // common-component removal (t263): the residuals must actually
      // be orthogonal to the removed directions (float-epsilon scale
      // — 1e-9 is ~1000x the measured magnitude), and the residual
      // corpus' top variance must sit at or below the removed top
      "t263 direct: 5 checks, orthogonal residuals, variance dropped" ->
        rows("t263_common_component").map { rs =>
          def v(c: String) = rs.find(_.getAs[String]("check") == c)
            .map(_.getAs[Double]("value"))
          rs.length == 5 &&
          v("n").exists(_ > 0) &&
          v("max_abs_dot_removed_dirs").exists(_ <= 1e-9) &&
          (for (b <- v("var_top_before"); a <- v("var_top_after"))
            yield a <= b && a >= 0 && b > 0).getOrElse(false) &&
          v("removed_var_frac").exists(f => f > 0 && f <= 1.0)
        },
      "t264 direct: unique nodes, 1 <= core <= degree" ->
        rows("t264_kcore").map { rs =>
          val nodes = rs.map(_.getAs[Long]("node"))
          rs.nonEmpty && nodes.distinct.length == nodes.length &&
          rs.forall { r =>
            val c = r.getAs[Long]("core")
            c >= 1L && c <= r.getAs[Long]("degree")
          }
        },
      "t235 direct: one row, sampled <= edges, estimate and cc sane" ->
        rows("t235_triangle_doulion").map(rs => rs.length == 1 && {
          val r = rs.head
          r.getAs[Long]("n_edges_sampled") <= r.getAs[Long]("n_edges") &&
          r.getAs[Long]("n_edges_sampled") > 0L &&
          r.getAs[Double]("n_triangles_est") >= 0.0 &&
          r.getAs[Long]("n_wedges") > 0L &&
          r.getAs[Double]("global_cc_est") >= 0.0 &&
          r.getAs[Double]("global_cc_est") <= 1.5
        }))
  }
}
