package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All column
  * expressions (codegen'd builtins + native expressions) — they run
  * per-row with no shuffle, so they cost one scan at any corpus size.
  */
object TextAnalysis {

  /** Heuristic language ID over character-class n-gram evidence:
    * scores each candidate language by its marker profile (stopword
    * hits + characteristic character classes) and returns the argmax.
    * A real model would broadcast trained n-gram profiles; the scoring
    * plumbing — per-language score columns, greatest-of argmax — is the
    * same shape.
    */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq.empty) // zh matched by charset below

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = split(lower(text), "\\s+")
    stopwords.toSeq.map { case (lang, words) =>
      // count marker hits by probing the (tiny) marker array against the
      // token array — no per-language distinct-set materialization
      val stopHits =
        if (words.isEmpty) lit(0)
        else words.map(w => when(array_contains(toks, w), 1).otherwise(0))
               .reduce(_ + _)
      val charBoost = lang match {
        case "zh" => when(text.rlike("[\\u4e00-\\u9fff]"), 10).otherwise(0)
        case "de" => when(text.rlike("[äöüß]"), 2).otherwise(0)
        case "fr" => when(text.rlike("[àâçéèêëîïôûù]"), 2).otherwise(0)
        case "es" => when(text.rlike("[áéíóúñ¿¡]"), 2).otherwise(0)
        case _ => lit(0)
      }
      lang -> (stopHits + charBoost)
    }
  }

  /** Predicted language column: argmax of langScores, 'und' when no
    * evidence. Tied scores deterministically take the LATER language
    * code (struct-ordering comparison on (score, lang)).
    */
  def langId(text: Column): Column = {
    // array_max argmax on (score, lang) structs — linear expression
    // size (a when(...)-chain reduce duplicates the accumulated subtree
    // per step). Struct ordering compares score then lang, so tied
    // scores deterministically take the later language code.
    val scores = langScores(text).sortBy(_._1)
    val best = array_max(array(scores.map { case (lang, s) =>
      struct(s.as("s"), lit(lang).as("l")) }: _*))
    when(best.getField("s") <= 0, "und").otherwise(best.getField("l"))
  }

  /** Quality metrics (length / punctuation / stopword ratios — the
    * standard cheap filters before expensive pipeline stages).
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = split(t, "\\s+")
    val nChars = length(t)
    val nTokens = size(toks)
    val enStop = array(stopwords("en").map(lit): _*)
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len",
        round((nChars - (nTokens - 1)).cast("double") / nTokens, 6))
      .withColumn("punct_ratio",
        round((nChars - length(regexp_replace(t, "[\\.,;:!\\?]", "")))
          .cast("double") / nChars, 6))
      .withColumn("stopword_ratio",
        round(size(filter(transform(toks, lower _), w => array_contains(enStop, w)))
          .cast("double") / nTokens, 6))
  }

  /** Ratio of `textCol`'s characters removed by deleting everything
    * matching `charClass` — shared delete-and-diff shape for the
    * punctuation/symbol density metrics. 0.0 on empty text (a
    * curation operator must not DIVIDE_BY_ZERO under ANSI mode on the
    * empty docs every web corpus contains).
    */
  private def removedCharRatio(t: Column, charClass: String): Column =
    when(length(t) === 0, lit(0.0)).otherwise(
      (length(t) - length(regexp_replace(t, charClass, "")))
        .cast("double") / length(t))

  /** Gopher/C4-style heuristic quality flags — the rule battery
    * curation pipelines apply before expensive stages: token-count
    * bounds, mean-word-length bounds, symbol density, and
    * within-document repetition (duplicate-bigram fraction — boilerplate
    * and template spam repeat themselves locally). Every column is a
    * per-row codegen'd expression (one scan at any corpus size) built
    * from engine-portable pieces, so the whole output is
    * oracle-checkable; thresholds are parameters, defaults roughly in
    * the published ranges scaled to short synthetic docs.
    *
    * Definitions are multilingual- and whitespace-robust: tokens come
    * from the TRIMMED text (no phantom empty edge tokens), mean word
    * length averages ACTUAL token lengths (repeated separators don't
    * distort it), and "symbol" means not-a-letter/digit by UNICODE
    * class — CJK and accented characters are letters, not symbols.
    */
  def qualityFlags(df: DataFrame, textCol: String,
                   minTokens: Int = 5, maxTokens: Int = 10000,
                   minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                   maxSymbolRatio: Double = 0.3,
                   maxDupBigramFrac: Double = 0.3): DataFrame = {
    val t = col(textCol)
    val toks = split(trim(lower(t)), "\\s+")
    val nTokens = size(toks)
    val meanLen = when(nTokens === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0), (acc, x) => acc + length(x))
        .cast("double") / nTokens)
    val symbolRatio = removedCharRatio(t, "[^\\p{L}\\p{N}\\s]")
    // adjacent-token bigrams; a doc of < 2 tokens has no bigrams and
    // counts as non-repetitive. DISTINCT bigram count comes from the
    // native one-pass shingle kernel (sorted distinct xxhash64 of word
    // 2-shingles) — the lambda form (transform(sequence) + element_at
    // + array_distinct) was 24 s for 5k docs at sf0.1, the known
    // interpreted-lambda trap; distinct-by-hash matches distinct-by-
    // string modulo 64-bit collisions (none at oracle scale)
    val dupFrac = when(nTokens < 2, lit(0.0))
      .otherwise(lit(1.0) -
        size(TextFunctions.hashed_shingles(trim(t), 2)).cast("double") /
          (nTokens - 1))
    df.withColumn("n_tokens", nTokens)
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("symbol_ratio", round(symbolRatio, 6))
      .withColumn("dup_bigram_frac", round(dupFrac, 6))
      .withColumn("ok_word_count", nTokens.between(minTokens, maxTokens))
      .withColumn("ok_mean_len", meanLen.between(minMeanLen, maxMeanLen))
      .withColumn("ok_symbols", symbolRatio <= maxSymbolRatio)
      .withColumn("ok_repetition", dupFrac <= maxDupBigramFrac)
      // the summary references the flag COLUMNS — restating the four
      // predicates would let a threshold tweak desynchronize them
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_len") &&
          col("ok_symbols") && col("ok_repetition"))
  }

  /** Token counts: whitespace tokens + BPE-ish pieces (letter runs /
    * digit runs / single other-glyphs — the pre-tokenization most BPE
    * vocabularies assume). The piece count runs through the native
    * single-pass kernel (TextExpressions.BpeishTokenCount) rather than
    * `size(regexp_extract_all(...))` — same value (spec-pinned against
    * the regex form), but no per-match string materialization.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(split(t, "\\s+")))
      .withColumn("bpeish_tokens", TextFunctions.bpeish_token_count(t))
  }

  /** PII redaction patterns — deliberately restricted to regex syntax
    * with identical semantics in Java's engine and RE2-family engines
    * (character classes + bounded/greedy quantifiers, no backrefs or
    * lookaround), so a SQL engine can replay the redaction exactly
    * (oracle t19). Greedy-only patterns match the same spans under
    * Java's leftmost-first and RE2's leftmost-longest rules.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberRunPattern = "[0-9]{3,}"

  /** Redact emails then digit runs (order matters: email local parts
    * contain digits — masking emails first keeps one `<EMAIL>` token
    * instead of `<NUM>`-riddled fragments). Pure per-row codegen'd
    * regexp_replace — one scan at any corpus size.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      NumberRunPattern, "<NUM>")

  /** Count of redactable spans, for audit columns next to the redacted
    * text: emails on the raw text, digit runs AFTER email masking (so
    * digits inside a masked email aren't double-counted).
    */
  def piiCounts(text: Column): (Column, Column) = {
    val emailsMasked = regexp_replace(text, EmailPattern, "<EMAIL>")
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))),
     size(regexp_extract_all(emailsMasked, lit(NumberRunPattern), lit(0))))
  }

  /** Blocklist-term audit — the C4/Gopher "bad-words" filter as one
    * Aho–Corasick automaton pass per document
    * ([[graft.functions.MultiContainsExpr]]): O(n + matches) per row
    * whatever the blocklist size, where the naive
    * `contains(t1) OR contains(t2) OR …` plan costs O(P·n) AND regrows
    * the generated code linearly in P (the same codegen-collapse shape
    * the IVF cell kernels exist to avoid). Per-term hit counts are
    * greedy leftmost non-overlapping — the `replace`-arithmetic a SQL
    * oracle replays exactly. Output adds (n_terms, total_hits,
    * blocked) to each row; no shuffle, one scan.
    */
  def blocklistAudit(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    docs
      .withColumn("__s",
        graft.functions.BlocklistFunctions.multi_contains(col(textCol), terms))
      .select(col(idCol), col("__s.n_terms").as("n_terms"),
        col("__s.total_hits").as("total_hits"),
        col("__s.blocked").as("blocked"))
  }

  /** Document fingerprints (content-defined, order sensitive): a
    * modular code-point rolling hash plus an md5 digest. Both columns
    * are engine-portable — any SQL engine can recompute them, so the
    * whole output is oracle-checkable (the raw wrapping-Long
    * rolling_hash remains available in TextFunctions for JVM-only
    * consumers).
    */
  def fingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      TextFunctions.rolling_hash_mod(col(textCol)).as("fingerprint"),
      md5(col(textCol)).as("digest"))

  /** Token-window chunking — the context-construction step between
    * curation and embedding/training: each document splits into
    * windows of `chunkTokens` whitespace tokens advancing by `stride`
    * tokens (stride < chunkTokens ⇒ overlapping windows, the shape
    * retrieval pipelines use so no sentence straddles a boundary
    * unseen). A document of n tokens yields
    * 1 + ceil((n - chunkTokens) / stride) chunks (min 1 — short docs
    * are one whole-text chunk); the last chunk may be short rather
    * than dropped, so every token lands in at least one chunk.
    *
    * Output: (id, chunk_id, chunk_text, n_tokens) — one row per
    * window, chunk_id 0-based in document order.
    *
    * Scale shape: pure per-row expressions (split + sequence +
    * transform + posexplode) — one scan, no shuffle, codegen end to
    * end; output size is input tokens × (chunkTokens/stride) by
    * construction, the caller's chosen duplication factor. Exactly
    * replayable in SQL (list slicing), so it oracle-checks.
    */
  def tokenChunks(df: DataFrame, textCol: String, idCol: String,
                  chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(stride > 0 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride")
    val toks = split(col(textCol), "\\s+")
    val n = size(toks)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - chunkTokens).cast("double") / stride).cast("int") + 1)
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(toks, i * stride + 1, lit(chunkTokens))))
          .as(Seq("chunk_id", "c")))
      .select(col(idCol), col("chunk_id"),
        array_join(col("c"), " ").as("chunk_text"),
        size(col("c")).as("n_tokens"))
  }

  /** Within-document repetition removal: collapse every run of
    * consecutive identical tokens to a single occurrence — the cheap
    * intra-doc cleanup (stutter, boilerplate echo, generation loops)
    * that runs before corpus-level dedup ever sees the text. Reports
    * the audit stats curation pipelines threshold on (tokens before /
    * after, longest run).
    *
    * Output: (id, n_tokens, n_after, max_run, clean_text).
    *
    * Scale shape: one scan, no shuffle, at any corpus size — the whole
    * stat struct comes from the native one-pass kernel
    * (TextExpressions.CollapseRunsExpr), which stays inside
    * whole-stage codegen; the equivalent lambda composition (indexed
    * `filter` for run heads + ordered `aggregate` fold for the longest
    * run, kept below as [[collapseRunsLambda]] and spec-pinned against
    * the kernel) runs interpreted per element and was 6.2 s for 5k
    * docs at sf0.1 — the known interpreted-lambda trap. The DuckDB
    * oracle recomputes the semantics through a THIRD formulation
    * (gaps-and-islands over position windows), so agreement checks the
    * semantics, not the transcription.
    */
  def collapseRuns(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val s = TextFunctions.collapse_runs(col(textCol))
    df.select(col(idCol),
      s.getField("n_tokens").as("n_tokens"),
      s.getField("n_after").as("n_after"),
      s.getField("max_run").as("max_run"),
      s.getField("clean_text").as("clean_text"))
  }

  /** The declarative-lambda formulation of [[collapseRuns]] — same
    * output, interpreted evaluation. Retained as the semantic
    * reference the kernel is spec-pinned against.
    */
  def collapseRunsLambda(df: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    // run heads: index 0, or differs from predecessor. `get` is 0-based
    // and NULL out of range, so the i=0 probe never trips ANSI bounds;
    // <=> makes the NULL compare false rather than NULL.
    val heads = filter(toks, (x, i) => (i === 0) || !(x <=> get(toks, i - 1)))
    val zero = struct(lit(null).cast("string").as("prev"),
                      lit(0).as("run"), lit(0).as("best"))
    val longest = aggregate(toks, zero,
      (s, x) => {
        val run = when(s.getField("prev") <=> x, s.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
               greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
    df.select(col(idCol),
      size(toks).as("n_tokens"),
      size(heads).as("n_after"),
      longest.as("max_run"),
      array_join(heads, " ").as("clean_text"))
  }

  /** Model-based quality scoring (fastText / DCLM-classifier shape):
    * hash each token into one of `buckets` feature buckets, average
    * the bucket weights, squash through a sigmoid — the linear
    * text-classifier score production pipelines threshold on to keep
    * or drop documents. The weight table here is the deterministic
    * `TextKernels.bowWeight` scramble (so the DuckDB oracle reproduces
    * every score with plain arithmetic); a trained model swaps that
    * one function and keeps the identical Spark plan.
    *
    * Output: (id, n_tokens, score, keep) — score rounded to 6 dp,
    * keep = mean weight >= 0 (i.e. score >= 0.5). A tokenless
    * document scores exactly 0.5 and is kept.
    *
    * Scale shape: one codegen'd per-row scan
    * (TextExpressions.HashedBowScoreExpr — the token stream never
    * materializes), no shuffle at any corpus size.
    */
  /** Character-distribution quality profile (one native kernel pass,
    * no shuffle — see CharEntropyExpr): Shannon entropy in bits,
    * distinct code points, and the modal character's share. Low
    * entropy / high modal share is the classic repeated-character
    * garbage signal; `lowQuality` flags docs under `minEntropy` bits
    * or over `maxTopRatio` modal share, both judged on the 6dp-rounded
    * values so engine ulp drift can't flip the flag.
    */
  def charEntropyProfile(df: DataFrame, textCol: String, idCol: String,
                         minEntropy: Double = 2.0,
                         maxTopRatio: Double = 0.5): DataFrame = {
    val s = TextFunctions.char_entropy(col(textCol))
    df.select(col(idCol), s.as("s"))
      .select(col(idCol),
        round(col("s").getField("entropy"), 6).as("entropy"),
        col("s").getField("unique_chars").as("unique_chars"),
        round(col("s").getField("top_char_ratio"), 6).as("top_char_ratio"))
      .withColumn("low_quality",
        col("entropy") < minEntropy || col("top_char_ratio") > maxTopRatio)
  }

  /** DEFLATE-compressibility quality signal (one zlib pass per row —
    * see CompressionProfileExpr): `ratio` = deflated/raw bytes; text
    * far below natural-prose ratios is repetitive boilerplate.
    * `too_compressible` flags ratio < `flagBelow` on the 6dp-rounded
    * value; empty docs get ratio 0 and are NOT flagged (nothing to
    * judge). `roundtrip_ok` reports the codec self-check the t74 gate
    * enforces corpus-wide.
    */
  def compressionRatio(df: DataFrame, textCol: String, idCol: String,
                       flagBelow: Double = 0.4): DataFrame = {
    val p = TextFunctions.compression_profile(col(textCol))
    df.select(col(idCol), p.as("p"))
      .select(col(idCol),
        col("p").getField("n_bytes").as("n_bytes"),
        col("p").getField("n_deflated").as("n_deflated"),
        when(col("p").getField("n_bytes") === 0, 0.0)
          .otherwise(round(col("p").getField("n_deflated") /
            col("p").getField("n_bytes").cast("double"), 6)).as("ratio"),
        col("p").getField("roundtrip_ok").as("roundtrip_ok"))
      .withColumn("too_compressible",
        col("n_bytes") > 0 && col("ratio") < flagBelow)
  }

  def bowQualityScore(df: DataFrame, textCol: String, idCol: String,
                      buckets: Int = 64): DataFrame = {
    val s = TextFunctions.hashed_bow_stats(col(textCol), buckets)
    df.select(col(idCol), s.as("s"))
      .select(col(idCol),
        col("s").getField("n_tokens").as("n_tokens"),
        round(lit(1.0) / (lit(1.0) + exp(-col("s").getField("mean_w"))), 6)
          .as("score"),
        (col("s").getField("mean_w") >= 0.0).as("keep"))
  }

  /** Lexical DIVERSITY report per group: n-gram type–token ratios
    * (distinct / total n-grams) for n = 1…maxN — the mode-collapse /
    * templated-content detector a synthetic-data pipeline runs per
    * source (distilled or boilerplate corpora show depressed 2/3-gram
    * TTRs long before eyeballing catches it).
    *
    * N-grams follow the TextDedup.shingles contract (lowercase
    * whitespace tokens; a doc shorter than n contributes its whole
    * text as one gram) and collapse to 48-bit engine-portable md5
    * digests, so the distinct count is over digests — deterministic
    * on both engines, collision-folding ≈ total²/2⁴⁸ expected (≪ 1
    * row at any per-group cardinality the exact count itself can
    * hold). Scale shape: ONE corpus scan — the
    * [[graft.functions.TextKernels.gramDigestCounts]] native kernel
    * emits every n's per-doc (n, digest, count) rows in one byte-walk
    * (the prior form ran maxN unioned explode-shingle passes, rows ×
    * tokens × maxN records each through its own md5 expression tree —
    * t157's 13.8 s hot span) — then TWO map-side-combinable stages:
    * groupBy(group, n, digest) summing per-doc counts, then
    * groupBy(group, n). Shuffles carry 8-byte digests and counts,
    * never gram strings, and there is no count-distinct expand. At
    * truly unbounded gram cardinality swap stage one for the HLL
    * sketch path (t91) — same report, bounded state.
    */
  def diversityReport(docs: DataFrame, textCol: String,
                      groupCols: Seq[String], maxN: Int = 3): DataFrame = {
    require(maxN >= 1, "need maxN >= 1")
    val g = groupCols.map(col)
    docs.filter(col(textCol).isNotNull)
      .select(g :+ explode(graft.functions.TextFunctions
        .gram_digest_counts(col(textCol), maxN)).as("__gc"): _*)
      .select(g :+ col("__gc.n").as("n") :+ col("__gc.h").as("__h") :+
        col("__gc.c").as("__dc"): _*)
      .groupBy(g :+ col("n") :+ col("__h"): _*)
      .agg(sum(col("__dc")).as("__c"))
      .groupBy(g :+ col("n"): _*)
      .agg(sum(col("__c")).as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      .withColumn("ttr", round(col("distinct_grams").cast("double")
        / col("total_grams"), 6))
  }

  /** Gopher-style REPETITION report per group (Rae et al. 2021's
    * repetitious-text filters, the quality battery's within-doc
    * member): fraction of line occurrences belonging to duplicated
    * line texts (and their character mass), the "most common n-gram"
    * character-mass fraction for n = 2, 3 (max count × length — the
    * deterministic tie-free form), and the duplicated-5-gram mass
    * fraction. Boilerplate, templated spam, and decoding loops all
    * light these up long before perplexity moves.
    *
    * Exactness: every numerator/denominator is an exact BIGINT mass
    * summed per group (one [[graft.functions.TextKernels
    * .repetitionStats]] kernel call per row — no explode, no gram
    * strings in the plan), ONE IEEE divide each at the 6dp boundary.
    * Scale shape: a per-row codegen'd projection into one
    * map-side-combinable |groups|-row aggregate — nothing after the
    * scan is corpus-sized.
    *
    * Output: (groups…, n_docs, dup_line_frac, dup_line_char_frac,
    * top2gram_mass_frac, top3gram_mass_frac, dup5gram_mass_frac).
    */
  def repetitionReport(docs: DataFrame, textCol: String,
                       groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    def frac(num: Column, den: Column) =
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
    docs.filter(col(textCol).isNotNull)
      .select(g :+ graft.functions.TextFunctions
        .repetition_stats(col(textCol)).as("__r"): _*)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__r.n_lines")).as("__nl"),
        sum(col("__r.dup_lines")).as("__dl"),
        sum(col("__r.line_chars")).as("__lc"),
        sum(col("__r.dup_line_chars")).as("__dlc"),
        sum(col("__r.top2_mass")).as("__t2"),
        sum(col("__r.mass2")).as("__m2"),
        sum(col("__r.top3_mass")).as("__t3"),
        sum(col("__r.mass3")).as("__m3"),
        sum(col("__r.dup5_mass")).as("__d5"),
        sum(col("__r.mass5")).as("__m5"))
      .select(g :+ col("n_docs") :+
        frac(col("__dl"), col("__nl")).as("dup_line_frac") :+
        frac(col("__dlc"), col("__lc")).as("dup_line_char_frac") :+
        frac(col("__t2"), col("__m2")).as("top2gram_mass_frac") :+
        frac(col("__t3"), col("__m3")).as("top3gram_mass_frac") :+
        frac(col("__d5"), col("__m5")).as("dup5gram_mass_frac"): _*)
  }

  /** Cross-source n-gram CONTAINMENT matrix: for every source pair,
    * |grams_a ∩ grams_b| / min(|grams_a|, |grams_b|) over distinct
    * k-shingle digests — the mirroring / republication / common-crawl
    * overlap detector (containment, not Jaccard, so a small source
    * fully swallowed by a large one still scores 1.0; the asymmetric
    * question "is A inside B" made symmetric by the min).
    *
    * Scale shape: the corpus collapses to DISTINCT (source, 48-bit
    * digest) rows first — doc counts and duplication drop out — then
    * the digest-keyed self-join fans out at most |sources|²/2 pairs
    * per digest (sources are a handful to hundreds; the join key is
    * 8 bytes, the shuffled rows carry two source strings). Pair
    * aggregation and the two broadcast size joins are
    * |sources|²-bounded. Only pairs sharing ≥ 1 gram emit.
    */
  def crossSourceContainment(docs: DataFrame, textCol: String,
                             srcCol: String,
                             shingleK: Int = 3): DataFrame = {
    // per-doc distinct digests from ONE native kernel pass — the
    // explode carries 8-byte longs only (no gram strings, no per-gram
    // md5 expression trees); cross-doc distinct follows
    val grams = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"),
        explode(graft.functions.TextFunctions
          .md5_shingles(col(textCol), shingleK)).as("__h"))
      .distinct()
    val sizes = grams.groupBy(col("__s")).agg(count(lit(1)).as("n"))
    val pairs = grams.select(col("__s").as("source_a"), col("__h"))
      .join(grams.select(col("__s").as("source_b"), col("__h")),
        Seq("__h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("__s").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("__s").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double")
          / least(col("n_a"), col("n_b")), 6).as("containment"))
  }

  /** Zipf-law fit per group: OLS of ln(term frequency) on ln(rank)
    * over the top-k tokens — the corpus-health lens that separates
    * natural text (slope ≈ −1, high r²) from templated / synthetic /
    * mode-collapsed corpora (flat slopes, ragged fits) with one number
    * per source.
    *
    * Pipeline: tokens (the shared lowercase-whitespace contract) count
    * per (group, 48-bit token digest) — map-side combinable, 8-byte
    * shuffle keys — then the top-k per group via the BOUNDED-HEAP
    * [[graft.functions.TopKFunctions.top_k_by_score]] aggregate
    * (score = count, id = digest, smallest-digest tiebreak; shuffle =
    * O(partitions · groups · k), never a vocabulary-sized window
    * funnel), posexplode to (rank, count), and the closed-form OLS on
    * exact integer moments.
    *
    * Arithmetic contract: x = round(ln(rank)·10⁶) and
    * y = round(ln(count)·10⁶) are BIGINT micro-log values, so all six
    * OLS moments are EXACT integers and the derived slope/intercept/r²
    * are bit-identical across engines (the t127 integral-moment
    * contract; ln's ≤ 1-ulp libm skew cannot move a value across the
    * 0.5-micro rounding boundary except with ~2⁻³⁰ luck per term).
    *
    * Output: (groups…, n_terms, slope, intercept, r2) — 6dp;
    * intercept in ln-count units. Groups with < 2 distinct terms drop
    * (no line to fit).
    */
  def zipfFit(docs: DataFrame, textCol: String, groupCols: Seq[String],
              k: Int = 100): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(k >= 2, "need k >= 2")
    val g = groupCols.map(col)
    val counts = docs
      .filter(col(textCol).isNotNull)
      .select(g :+ explode(TextDedup.tokens(col(textCol))).as("__t"): _*)
      .filter(col("__t") =!= "")
      .groupBy(g :+ graft.ops.SnapshotDiff.portableDigest(Seq(col("__t")))
        .as("__h"): _*)
      .agg(count(lit(1)).as("__c"))
    val top = counts
      .groupBy(g: _*)
      .agg(graft.functions.TopKFunctions.top_k_by_score(
        col("__c").cast("double"), col("__h"), k).as("__top"))
      .select(g :+ posexplode(col("__top")).as(Seq("__i", "__e")): _*)
      .select(g :+
        (col("__i") + 1).cast("long").as("__rank") :+
        col("__e.score").cast("long").as("__cnt"): _*)
    val xy = top.select(g :+
      round(log(col("__rank").cast("double")) * 1e6, 0).cast("long")
        .as("__x") :+
      round(log(col("__cnt").cast("double")) * 1e6, 0).cast("long")
        .as("__y"): _*)
    val m = xy.groupBy(g: _*)
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    val covN = col("n_terms") * col("__sxy") - col("__sx") * col("__sy")
    val varXN = col("n_terms") * col("__sxx") - col("__sx") * col("__sx")
    val varYN = col("n_terms") * col("__syy") - col("__sy") * col("__sy")
    m.filter(col("n_terms") >= 2 && varXN > 0)
      .withColumn("slope", covN.cast("double") / varXN.cast("double"))
      .select(g :+ col("n_terms") :+
        round(col("slope"), 6).as("slope") :+
        round((col("__sy").cast("double") - col("slope") * col("__sx"))
          / col("n_terms") / 1e6, 6).as("intercept") :+
        round(when(varYN > 0, (covN.cast("double") * covN.cast("double"))
          / (varXN.cast("double") * varYN.cast("double"))), 6)
          .as("r2"): _*)
  }

  /** Collocation mining by Dunning's log-likelihood ratio (Dunning
    * 1993) over adjacent-token bigrams: for each bigram seen ≥
    * `minCount` times, the G² statistic of its 2×2 contingency
    * (bigram count vs the first-/second-position unigram margins) —
    * the classic "are these two words a PHRASE or a coincidence"
    * ranking, robust at the rare-event counts where PMI (t169)
    * saturates. High-LLR bigrams are the corpus's template skeleton.
    *
    * Scale shape: the corpus-sized shuffles are three map-side-
    * combinable counts — bigrams keyed by the 48-bit pair digest and
    * the two position margins keyed by token digests (the partial
    * aggregate collapses each partition to its distinct bigrams
    * before the exchange, so the bigram strings riding as min()
    * payload cost vocabulary × partitions, not corpus). The margin
    * joins and the LLR arithmetic run on the bigram-vocabulary frame.
    *
    * Arithmetic contract: all nine x·ln x terms take EXACT BIGINT
    * counts through one fixed IEEE expression mirrored term-for-term
    * by the oracle; 6dp at the boundary.
    *
    * Output: (w1, w2, n12, n1, n2, llr) — callers order/limit.
    */
  def llrCollocations(docs: DataFrame, textCol: String,
                      minCount: Int = 20): DataFrame = {
    val toks = filter(TextDedup.tokens(col(textCol)), t => t =!= "")
    val occ = docs.filter(col(textCol).isNotNull)
      .select(toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2")))).as("__b"))
      .select(col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
      .select(col("__w1"), col("__w2"),
        graft.ops.SnapshotDiff.portableDigest(
          Seq(col("__w1"), col("__w2"))).as("__h12"),
        graft.ops.SnapshotDiff.portableDigest(Seq(col("__w1"))).as("__h1"),
        graft.ops.SnapshotDiff.portableDigest(Seq(col("__w2"))).as("__h2"))
    val c12 = occ.groupBy(col("__h12"))
      .agg(min(col("__w1")).as("w1"), min(col("__w2")).as("w2"),
        min(col("__h1")).as("__h1"), min(col("__h2")).as("__h2"),
        count(lit(1)).as("n12"))
      .filter(col("n12") >= minCount)
    val c1 = occ.groupBy(col("__h1")).agg(count(lit(1)).as("n1"))
    val c2 = occ.groupBy(col("__h2")).agg(count(lit(1)).as("n2"))
    val nn = occ.agg(count(lit(1)).as("__n"))
    def xlx(x: Column): Column =
      when(x > 0, x.cast("double") * log(x.cast("double")))
        .otherwise(lit(0.0))
    val m = c12.join(c1, Seq("__h1")).join(c2, Seq("__h2"))
      .crossJoin(broadcast(nn))
    val k11 = col("n12")
    val k12 = col("n1") - col("n12")
    val k21 = col("n2") - col("n12")
    val k22 = col("__n") - col("n1") - col("n2") + col("n12")
    m.select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
      round(lit(2.0) * ((xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22))
        - (xlx(col("n1")) + xlx(col("__n") - col("n1"))
           + xlx(col("n2")) + xlx(col("__n") - col("n2")))
        + xlx(col("__n"))), 6).as("llr"))
  }

  /** Readability report per group — a Flesch-reading-ease-shaped
    * heuristic over corpus text: per doc,
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * the DEFINED portable proxies: words = nonempty whitespace tokens
    * (the shared contract), sentences = runs of [.!?] (min 1),
    * syllables = vowel-group runs [aeiouy]+ in the lowercased text
    * (min 1 — a corpus-level proxy for per-word syllable counting,
    * which whole-text regexes can't floor per word). The curation
    * lens: training mixes routinely target readability bands, and a
    * source whose average dives or spikes is template/boilerplate
    * suspect.
    *
    * Arithmetic contract: the per-doc score is one fixed IEEE
    * expression rounded to a BIGINT micro value, so the per-group
    * mean is an order-independent integer sum with one final divide
    * (the t167 convention). Scale shape: pure per-row expressions
    * (codegen'd regexp_count) + one map-side-combinable group
    * aggregate.
    *
    * Output: (groups…, n_docs, flesch_avg) — 6dp.
    */
  def readabilityReport(docs: DataFrame, textCol: String,
                        groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val w = size(filter(TextDedup.tokens(col(textCol)), t => t =!= ""))
      .cast("long")
    val snt = greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
      .cast("long")
    val syl = greatest(regexp_count(lower(col(textCol)), lit("[aeiouy]+")),
      lit(1)).cast("long")
    docs.filter(col(textCol).isNotNull)
      .select(g :+ w.as("__w") :+ snt.as("__snt") :+ syl.as("__syl"): _*)
      .filter(col("__w") > 0)
      .withColumn("__micro",
        round((lit(206.835)
          - lit(1.015) * (col("__w").cast("double") / col("__snt"))
          - lit(84.6) * (col("__syl").cast("double") / col("__w")))
          * lit(1e6), 0).cast("long"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("__micro")).as("__msum"))
      .select(g :+ col("n_docs") :+
        round(col("__msum").cast("double") / col("n_docs") / 1e6, 6)
          .as("flesch_avg"): _*)
  }

  /** Good–Turing unseen-mass report per group: from the frequency-of-
    * frequencies profile — how many token types occur exactly once
    * (N₁), exactly twice (N₂) — the Good–Turing estimate of the
    * probability mass the corpus has NOT seen yet, p₀ = N₁/N, and the
    * smoothed count for hapaxes r₁* = 2·N₂/N₁. The "is this source's
    * vocabulary exhausted or still surprising" number: scraped natural
    * text keeps a fat hapax tail (p₀ ≫ 0), templated/synthetic
    * sources run dry (p₀ → 0) — the probabilistic sibling of the
    * Heaps growth fit.
    *
    * Scale shape: one (group, 48-bit token digest) count — map-side
    * combinable, 8-byte shuffle keys, the only corpus-sized stage —
    * then one count-of-counts aggregate per group. All counts exact
    * BIGINTs; the two ratios are single IEEE divides at the 6dp
    * boundary.
    *
    * Output: (groups…, n_tokens, v, n1, n2, p_unseen, r1_star) —
    * r1_star NULL when the group has no hapaxes.
    */
  def goodTuringReport(docs: DataFrame, textCol: String,
                       groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    docs.filter(col(textCol).isNotNull)
      .select(g :+ explode(filter(TextDedup.tokens(col(textCol)),
        t => t =!= "")).as("__t"): _*)
      .groupBy(g :+ graft.ops.SnapshotDiff.portableDigest(Seq(col("__t")))
        .as("__hv"): _*)
      .agg(count(lit(1)).as("__r"))
      .groupBy(g: _*)
      .agg(sum(col("__r")).as("n_tokens"), count(lit(1)).as("v"),
        sum(when(col("__r") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__r") === 2, 1L).otherwise(0L)).as("n2"))
      .select(g :+ col("n_tokens") :+ col("v") :+ col("n1") :+ col("n2") :+
        round(col("n1").cast("double") / col("n_tokens"), 6)
          .as("p_unseen") :+
        when(col("n1") > 0,
          round(lit(2.0) * col("n2") / col("n1"), 6)).as("r1_star"): _*)
  }

  /** Mutual information between token PRESENCE and a document label
    * (I(T; L) over the 2 × |labels| contingency of each top-k token)
    * — the feature-selection ranking for label classifiers and the
    * "which tokens give the source away" leakage probe: a token with
    * high MI predicts the label; near-zero MI means it's label-blind
    * boilerplate.
    *
    * Same scale skeleton as [[pmiPairs]]: doc-frequency counts over
    * 8-byte digests, bounded-heap top-k (k longs of driver state),
    * presence filtered map-side against the broadcast digest set;
    * the contingency then collapses to (token, label) counts and the
    * MI arithmetic runs on the k × |labels| grid (absent cells score
    * via the label totals — a broadcast cross of two bounded
    * dimensions). Each MI term routes through the BIGINT micro-log
    * boundary (t167 convention) so the per-token sum is
    * order-independent; zero cells contribute exactly 0.
    *
    * Output: (token, n_doc, mi) — mi in nats, 6dp, sorted by the
    * caller.
    */
  def labelMi(docs: DataFrame, textCol: String, idCol: String,
              labelCol: String, k: Int = 30): DataFrame = {
    require(k >= 1, "need k >= 1")
    val base = docs.filter(col(textCol).isNotNull)
    val posting = base
      .select(col(idCol).as("__doc"), col(labelCol).as("__lbl"),
        explode(array_distinct(filter(TextDedup.tokens(col(textCol)),
          t => t =!= ""))).as("__tok"))
      .withColumn("__hv",
        graft.ops.SnapshotDiff.portableDigest(Seq(col("__tok"))))
    val topHv: Seq[Long] = posting.groupBy(col("__hv"))
      .agg(count(lit(1)).as("__nd"))
      .agg(graft.functions.TopKFunctions.top_k_by_score(
        col("__nd").cast("double"), col("__hv"), k).as("__top"))
      .select(explode(col("__top")).as("__e"))
      .select(col("__e.id").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val pres = posting.filter(col("__hv").isin(topHv: _*))
    val dim = pres.groupBy(col("__hv"))
      .agg(min(col("__tok")).as("token"), count(lit(1)).as("n_t"))
    val presTs = pres.groupBy(col("__hv"), col("__lbl"))
      .agg(count(lit(1)).as("n_ts"))
    val labelN = base.groupBy(col(labelCol).as("__lbl"))
      .agg(count(lit(1)).as("n_s"))
    val nDocs = base.agg(count(lit(1)).as("__n"))
    val microOf = (nts: Column, nt: Column, ns: Column, nn: Column) =>
      when(nts > 0,
        round((nts.cast("double") / nn)
          * log((nts * nn).cast("double") / (nt * ns).cast("double"))
          * lit(1e6), 0).cast("long")).otherwise(lit(0L))
    broadcast(dim).crossJoin(broadcast(labelN)).crossJoin(broadcast(nDocs))
      .join(presTs, Seq("__hv", "__lbl"), "left")
      .withColumn("__nts", coalesce(col("n_ts"), lit(0L)))
      .withColumn("__micro",
        microOf(col("__nts"), col("n_t"), col("n_s"), col("__n")) +
        when(col("__n") - col("n_t") > 0,
          microOf(col("n_s") - col("__nts"), col("__n") - col("n_t"),
            col("n_s"), col("__n"))).otherwise(lit(0L)))
      .groupBy(col("token"), col("n_t").as("n_doc"))
      .agg(sum(col("__micro")).as("__msum"))
      .select(col("token"), col("n_doc"),
        round(col("__msum").cast("double") / 1e6, 6).as("mi"))
  }

  /** PMI co-occurrence pairs over the corpus's top-k tokens:
    * pmi(a,b) = ln( n_ab · N / (n_a · n_b) ) over DOC-LEVEL presence
    * (n_a = docs containing a, n_ab = docs containing both) — the
    * association-mining readout that separates compositional phrases
    * and templated co-occurrence (high PMI) from tokens that merely
    * happen to both be frequent (PMI ≈ 0). Restricting to the top-k
    * vocabulary is the standard guard: PMI of rare pairs is noise,
    * and it is also what bounds the pair space.
    *
    * Scale shape: document-frequency counts shuffle 8-byte digests
    * (map-side combinable); the top-k selection is the BOUNDED-HEAP
    * `top_k_by_score` aggregate (count-desc, smallest-digest tie) —
    * k longs of driver state, the model-sized collect this repo's
    * ANN/PQ machinery already budgets for. Presence rows then filter
    * map-side against the broadcast k-digest set, collapse to one
    * sorted ≤ k-element array per doc, and pairs expand IN-ARRAY
    * (the Buckets shape — no posting self-join); pair counts are
    * map-side combinable over a ≤ k² key space. Token strings ride
    * no corpus shuffle: they're recovered for the k survivors only.
    *
    * Arithmetic: all counts exact BIGINTs; pmi is one ln of one
    * IEEE divide, 6dp at the boundary.
    *
    * Output: (tok_a, tok_b, n_a, n_b, n_ab, pmi), digests ordered
    * (tok_a's digest < tok_b's), pairs with n_ab < minCount dropped.
    */
  def pmiPairs(docs: DataFrame, textCol: String, idCol: String,
               k: Int = 30, minCount: Int = 10): DataFrame = {
    require(k >= 2, "need k >= 2")
    val posting = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        explode(array_distinct(filter(TextDedup.tokens(col(textCol)),
          t => t =!= ""))).as("__tok"))
      .withColumn("__hv",
        graft.ops.SnapshotDiff.portableDigest(Seq(col("__tok"))))
    val counts = posting.groupBy(col("__hv"))
      .agg(count(lit(1)).as("n_doc"))
    val topHv: Seq[Long] = counts
      .agg(graft.functions.TopKFunctions.top_k_by_score(
        col("n_doc").cast("double"), col("__hv"), k).as("__top"))
      .select(explode(col("__top")).as("__e"))
      .select(col("__e.id").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val pres = posting.filter(col("__hv").isin(topHv: _*))
    // k-row dimension: digest -> (token, doc frequency); strings leave
    // the corpus only here, for the k survivors
    val dim = pres.groupBy(col("__hv"))
      .agg(min(col("__tok")).as("token"), count(lit(1)).as("n_doc"))
    val pairs = pres.groupBy(col("__doc"))
      .agg(sort_array(collect_set(col("__hv"))).as("__hs"))
      .select(explode(flatten(transform(col("__hs"), a =>
        transform(filter(col("__hs"), b => b > a),
          b => struct(a.as("ha"), b.as("hb")))))).as("__p"))
      .groupBy(col("__p.ha").as("__ha"), col("__p.hb").as("__hb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val nDocs = docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("__n_docs"))
    pairs
      .join(broadcast(dim.select(col("__hv").as("__ha"),
        col("token").as("tok_a"), col("n_doc").as("n_a"))), Seq("__ha"))
      .join(broadcast(dim.select(col("__hv").as("__hb"),
        col("token").as("tok_b"), col("n_doc").as("n_b"))), Seq("__hb"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        round(log((col("n_ab") * col("__n_docs")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")), 6).as("pmi"))
  }

  /** Heaps-law vocabulary-growth fit per source: OLS of ln(distinct
    * vocabulary) on ln(token mass) sampled at power-of-2 document
    * checkpoints — V(n) ≈ K·n^β. Natural text grows β ≈ 0.4–0.6;
    * templated / mode-collapsed sources flatten early (β → 0) and
    * boilerplate-free synthetic babble inflates toward β → 1, so one
    * (β, r²) pair per source is the "is the vocabulary still growing
    * the way language does" corpus-health check — the GROWTH-CURVE
    * complement of [[zipfFit]]'s static rank-frequency lens.
    *
    * Scale shape — no corpus-wide window and no per-checkpoint
    * corpus rescan:
    *  1. per-source dense doc ranks via [[Ids.denseIds]] (range
    *     repartition + per-partition ranks; one long of driver state
    *     per partition) minus broadcast per-source offsets — NOT a
    *     `row_number` over a per-source window, which would funnel
    *     each source's whole slice through one task;
    *  2. vocabulary first-sightings collapse to (source, 48-bit token
    *     digest) → min rank — an 8-byte-key map-side-combinable
    *     shuffle, the only corpus-sized exchange;
    *  3. every rank/first-sighting lands in ONE checkpoint bucket
    *     g₀ = ⌈log₂ r⌉ (computed exactly from the binary-string
    *     length, no float log), so checkpoint totals are a
    *     ≤ 63-rows-per-source cumulative sum — the naive
    *     "join every row to every checkpoint ≥ it" range join never
    *     materializes.
    *
    * Arithmetic contract: checkpoint totals are exact BIGINTs;
    * x = round(ln(tokens)·10⁶), y = round(ln(vocab)·10⁶) BIGINT
    * micro-logs make all six OLS moments exact integers (the t163
    * contract — bit-identical slope/intercept/r² across engines).
    *
    * Output: (source, n_points, beta, ln_k, r2) — 6dp; ln_k in
    * ln-vocabulary units; sources with < 2 usable checkpoints drop.
    */
  def heapsFit(docs: DataFrame, textCol: String, idCol: String,
               srcCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = col(srcCol)
    val base = docs.filter(col(textCol).isNotNull)
      .select(s, col(idCol),
        filter(TextDedup.tokens(col(textCol)), t => t =!= "").as("__t"))
    val ranked = Ids.denseIds(base, "__gid", Seq(col(srcCol), col(idCol)))
    val offs = ranked.groupBy(s).agg(min(col("__gid")).as("__off"),
      (max(col("__gid")) - min(col("__gid")) + 1L).as("__maxrk"))
    val withRk = ranked
      .join(broadcast(offs.select(s, col("__off"))), Seq(srcCol))
      .withColumn("__rk", col("__gid") - col("__off") + 1L)
    // smallest checkpoint exponent g ≥ 1 with 2^g ≥ r, exactly:
    // len(bin(r−1)) = ⌈log₂ r⌉ for r ≥ 2, and r = 1 clamps to 1
    def g0(r: Column): Column =
      greatest(lit(1), length(bin(r - 1))).cast("int")
    val vbuck = withRk
      .select(s, col("__rk"), explode(col("__t")).as("__tok"))
      .groupBy(s, graft.ops.SnapshotDiff.portableDigest(Seq(col("__tok")))
        .as("__hv"))
      .agg(min(col("__rk")).as("__fr"))
      .groupBy(s, g0(col("__fr")).as("__g"))
      .agg(count(lit(1)).as("__vc"))
    val nbuck = withRk
      .select(s, g0(col("__rk")).as("__g"),
        size(col("__t")).cast("long").as("__ntok"))
      .groupBy(s, col("__g"))
      .agg(sum(col("__ntok")).as("__nc"))
    val grid = offs
      .filter(col("__maxrk") >= 2)
      .select(s, explode(sequence(lit(1),
        (length(bin(col("__maxrk"))) - 1).cast("int"))).as("__g"))
    val wCum = Window.partitionBy(s).orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xy = grid
      .join(vbuck, Seq(srcCol, "__g"), "left")
      .join(nbuck, Seq(srcCol, "__g"), "left")
      .withColumn("__v", sum(coalesce(col("__vc"), lit(0L))).over(wCum))
      .withColumn("__n", sum(coalesce(col("__nc"), lit(0L))).over(wCum))
      .filter(col("__v") > 0 && col("__n") > 0)
      .select(s,
        round(log(col("__n").cast("double")) * 1e6, 0).cast("long")
          .as("__x"),
        round(log(col("__v").cast("double")) * 1e6, 0).cast("long")
          .as("__y"))
    val m = xy.groupBy(s)
      .agg(count(lit(1)).as("n_points"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    val covN = col("n_points") * col("__sxy") - col("__sx") * col("__sy")
    val varXN = col("n_points") * col("__sxx") - col("__sx") * col("__sx")
    val varYN = col("n_points") * col("__syy") - col("__sy") * col("__sy")
    m.filter(col("n_points") >= 2 && varXN > 0)
      .withColumn("__beta", covN.cast("double") / varXN.cast("double"))
      .select(s, col("n_points"),
        round(col("__beta"), 6).as("beta"),
        round((col("__sy").cast("double") - col("__beta") * col("__sx"))
          / col("n_points") / 1e6, 6).as("ln_k"),
        round(when(varYN > 0, (covN.cast("double") * covN.cast("double"))
          / (varXN.cast("double") * varYN.cast("double"))), 6)
          .as("r2"))
  }

  /** A trained hashed-character-bigram multinomial-naive-Bayes
    * language model ([[nbLangTrain]]): `langs` sorted ascending,
    * one micro-log BIGINT prior and one `buckets`-wide micro-log
    * BIGINT weight row per language. Model size is |langs| × buckets
    * longs — driver-bounded by construction (the centroid/codebook
    * convention), and it rides inference codegen as a reference
    * object ([[graft.functions.NbArgmaxExpr]]).
    */
  case class NbLangModel(langs: Seq[String], priors: Seq[Long],
                         weights: Seq[Seq[Long]], buckets: Int)

  /** Train the fastText-shaped LANGUAGE-ID classifier IN-ENGINE — the
    * model-based upgrade of [[langId]]'s fixed heuristic: multinomial
    * naive Bayes over hashed character bigrams
    * (bucket = (cp₁ + 2·cp₂) mod buckets, the
    * [[graft.functions.TextKernels.charBigramBuckets]] contract),
    * Laplace-smoothed, all arithmetic on the micro-log BIGINT
    * boundary so training and inference are hash-exact replayable:
    *
    *   w(ℓ,b)  = round(10⁶·ln((c(ℓ,b) + 1)/(t(ℓ) + buckets)))
    *   prior ℓ = round(10⁶·ln(d(ℓ)/D))
    *
    * with c = training gram counts, t = Σ_b c, d = training docs of
    * ℓ, D = total training docs. Unseen (ℓ,b) cells get the c = 0
    * smoothed weight. Every ln runs through Spark's own `log`
    * expression (the proven DuckDB-parity chain), never driver math.
    *
    * Scale shape: training is ONE kernel pass per row emitting Int
    * buckets + a map-side-combinable (lang, bucket) count — the
    * TF-IDF collapse shape, ≤ |langs|·buckets rows after combine —
    * plus a |langs|-row doc count; the collected model is
    * |langs| × buckets longs. Inference ([[nbLangPredict]]) is one
    * codegen'd pass per row with NO explode, join, or per-gram
    * allocation.
    */
  def nbLangTrain(train: DataFrame, textCol: String, langCol: String,
                  buckets: Int = 4096): NbLangModel = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val g = train
      .select(col(langCol).cast("string").as("__l"),
        explode(TextFunctions.char_bigram_buckets(
          coalesce(col(textCol), lit("")), buckets)).as("__b"))
      .groupBy(col("__l"), col("__b")).agg(count(lit(1)).as("__c"))
    val tot = g.groupBy(col("__l")).agg(sum(col("__c")).as("__t"))
    val seenRows = g.join(tot, "__l")
      .select(col("__l"), col("__b"),
        round(lit(1e6) * log((col("__c") + 1.0) /
          (col("__t") + buckets.toDouble)), 0).cast("long").as("__w"))
      .collect()
    val defaultRows = tot
      .select(col("__l"),
        round(lit(1e6) * log(lit(1.0) /
          (col("__t") + buckets.toDouble)), 0).cast("long").as("__w0"))
      .collect()
    val docs = train
      .groupBy(col(langCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__d"))
    val priorRows = docs
      .crossJoin(docs.agg(sum(col("__d")).as("__dd")))
      .select(col("__l"),
        round(lit(1e6) * log(col("__d").cast("double") /
          col("__dd").cast("double")), 0).cast("long").as("__p"))
      .collect()
    // a language can appear with zero grams (all its training texts
    // shorter than 2 chars): it still has a prior and an all-default
    // weight row — ln(1/buckets) per unseen bucket with t = 0, which
    // the frames above only emit for languages WITH grams. Align on
    // the PRIOR language set (every training doc has a language).
    val langs = priorRows.map(_.getString(0)).toSeq.sorted
    require(langs.nonEmpty, "training set must be non-empty")
    val defaults = defaultRows
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val zeroDefault = math.round(1e6 * math.log(1.0 / buckets.toDouble))
    val seen = seenRows
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val priors = priorRows
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = langs.map { l =>
      val d = defaults.getOrElse(l, zeroDefault)
      (0 until buckets).map(b => seen.getOrElse((l, b), d))
    }
    NbLangModel(langs, langs.map(priors), weights, buckets)
  }

  /** Predicted-language column under a trained [[NbLangModel]]:
    * argmax of the exact BIGINT micro-log scores, ties to the
    * lexicographically LATER language code (the [[langId]]
    * convention — model.langs is sorted ascending and the kernel
    * breaks ties to the larger index). NULL text predicts NULL.
    */
  def nbLangPredict(text: Column, model: NbLangModel): Column = {
    val langArr = array(model.langs.map(lit): _*)
    // the explicit null branch matters: element_at over a
    // containsNull=false literal array mis-computes nullability when
    // only its INDEX is null, and the local-relation projection then
    // NPEs copying the "non-null" string — route the null through
    // CaseWhen instead of through element_at
    when(text.isNotNull,
      element_at(langArr,
        TextFunctions.nb_argmax(text, model.weights, model.priors,
          model.buckets) + 1))
  }
}
