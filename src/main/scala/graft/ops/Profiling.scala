package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One-pass column profiling — the data-quality summary every ingest
  * pipeline runs before expensive stages: per column, the null count,
  * distinct count, and min/max rendered as strings so heterogeneous
  * column types share one result schema.
  *
  * Scale shape: a single global aggregate — map-side partials, one
  * 1-row exchange. The only scale caveat is `profile`'s EXACT distinct
  * counts, which plan as one Expand branch per profiled column (rows ×
  * |columns| before partial aggregation); `profileApprox` swaps in
  * HyperLogLog sketches (`approx_count_distinct`) — same plan minus
  * the Expand, the form to run at 100 TB. The exact form is kept
  * because the oracle checks exact values (q42); the approx form is
  * bounds-checked in ProfilingSpec (timings in docs/PERF_NOTES.md).
  *
  * Both variants build the result with the Column API only — column
  * names are carried as struct-field literals, never interpolated into
  * generated SQL, so names containing quotes/backticks/dots profile
  * fine.
  */
object Profiling {

  private def renderer(df: DataFrame, c: String): Column => Column =
    df.schema(c).dataType match {
      // floating-point min/max render through DECIMAL(18,2) so the
      // string form is engine-portable (raw double→string is not)
      case DoubleType | FloatType => _.cast("decimal(18,2)").cast("string")
      case _ => _.cast("string")
    }

  /** Reference a top-level column by its LITERAL name: backtick-quoted
    * (embedded backticks doubled), so dots/quotes in the name are data,
    * not attribute-path syntax.
    */
  private def byName(c: String): Column =
    col("`" + c.replace("`", "``") + "`")

  private def profileWith(df: DataFrame, columns: Seq[String],
                          distinctAgg: Column => Column): DataFrame = {
    require(columns.nonEmpty, "profile needs at least one column")
    // one struct-valued aggregate per column, aliased positionally —
    // the data column name never enters an identifier or SQL string
    val aggs = columns.zipWithIndex.map { case (c, i) =>
      val toStr = renderer(df, c)
      val src = byName(c)
      struct(
        count(when(src.isNull, 1)).as("n_nulls"),
        distinctAgg(src).as("n_distinct"),
        toStr(min(src)).as("min_str"),
        toStr(max(src)).as("max_str")).as(s"__p$i")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(columns.zipWithIndex.map { case (c, i) =>
        struct(
          lit(c).as("col_name"),
          col(s"__p$i").getField("n_nulls").as("n_nulls"),
          col(s"__p$i").getField("n_distinct").as("n_distinct"),
          col(s"__p$i").getField("min_str").as("min_str"),
          col(s"__p$i").getField("max_str").as("max_str"))
      }: _*)).as("r"))
      .select(col("r.*"))
  }

  /** Profile `columns` of `df` into one row per column:
    * (col_name, n_nulls, n_distinct, min_str, max_str) with EXACT
    * distinct counts.
    */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame =
    profileWith(df, columns, count_distinct(_))

  /** `profile` with approximate (HLL) distinct counts — identical
    * schema, no per-column Expand branch: the variant to run at corpus
    * scale. `rsd` is the HLL relative standard deviation (Spark's
    * default 0.05).
    */
  def profileApprox(df: DataFrame, columns: Seq[String],
                    rsd: Double = 0.05): DataFrame =
    profileWith(df, columns, approx_count_distinct(_, rsd))

  /** Exact WEIGHTED quantiles per group — the smallest value v whose
    * cumulative weight reaches q·W (the left-continuous weighted
    * order statistic): the sample-weight-aware percentile every
    * mixture-weighted corpus needs, where the unweighted percentile
    * (t13/t120) silently over-represents down-weighted rows. Emits
    * the p25/p50/p75 trio.
    *
    * Exactness: values collapse to (group, value) blocks with exact
    * weight sums; the rank test `cw·k ≥ W·m` is pure integer
    * arithmetic (no q·W float product to straddle), and the selected
    * values are DATA values — no interpolation, engine-identical by
    * construction.
    *
    * Scale shape: one map-side-combinable block collapse, then
    * [[cumulativeCells]] (range-repartitioned within-partition
    * cumulative weights + broadcast offsets — never a |groups|-task
    * sort funnel). EAGER at construction — building the frame runs
    * the cell-collapse job (see [[cumulativeCells]]).
    * Output: (groups…, total_weight, p25, p50, p75).
    */
  def weightedQuantiles(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, weightCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val blocks = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    cumulativeCells(blocks, groupCols, "__v", Seq("__w"))
      .groupBy(g: _*)
      .agg(max(col("__w_tot")).as("total_weight"),
        min(when(col("__w_cum") * 4 >= col("__w_tot"), col("__v"))).as("p25"),
        min(when(col("__w_cum") * 2 >= col("__w_tot"), col("__v"))).as("p50"),
        min(when(col("__w_cum") * 4 >= col("__w_tot") * 3, col("__v")))
          .as("p75"))
  }

  /** Benford's-law conformance audit per group: the leading-digit
    * distribution of a positive numeric column against the Benford
    * expectation P(d) = log₁₀(1 + 1/d), summarized as the mean
    * absolute deviation over all nine digits — the classic
    * fabricated-/synthetic-numbers tripwire (hand-typed and
    * template-generated amounts flatten the leading-digit curve long
    * before any distributional test sees it).
    *
    * Leading digit extraction is integer-exact and engine-portable:
    * values scale to BIGINT cents (one IEEE multiply + half-away
    * round on both engines), and the digit is the first character of
    * the decimal string — no float log₁₀ near power-of-ten
    * boundaries. Every group scores ALL nine digits: absent digits
    * contribute their full |0 − P(d)| via a broadcast 9-row digit
    * grid, so a group stuck on one digit is maximally penalized
    * rather than silently under-measured. Deviation terms route
    * through the BIGINT micro boundary (t167 convention) so the MAD
    * sum is order-independent.
    *
    * Scale shape: one map-side-combinable (group, digit) count — the
    * only corpus-sized stage; the grid join and MAD arithmetic run on
    * ≤ 9 rows per group. Output: (groups…, n_values, k_digits, mad)
    * — mad 6dp; groups with no positive values drop.
    */
  /** Functional-dependency audit for one candidate rule lhs → rhs:
    * does the lhs column determine the rhs column, and how badly does
    * it fail — group count, violating-group count (groups with > 1
    * distinct rhs), and the rule's CONFIDENCE (share of rows kept if
    * each lhs group snapped to its majority rhs: Σ_g max_v n_gv / N,
    * the standard FD-mining score). The schema-drift / join-key
    * sanity probe every ingest runs: "event_id determines event_type"
    * breaking is a pipeline bug long before any statistic moves.
    *
    * Scale shape: one map-side-combinable (lhs, rhs) count, one
    * lhs-keyed reduction (max / sum / distinct-count via count of the
    * aggregated frame), one 1-row global roll-up — nothing after the
    * first aggregate is corpus-sized. NULLs group as values on both
    * engines. All counts exact BIGINTs; confidence is one divide.
    *
    * Output: ONE row (n_groups, n_violating, n_rows, confidence,
    * holds) — callers union several audits with a label column.
    */
  def fdAudit(df: DataFrame, lhsCol: String, rhsCol: String): DataFrame = {
    val c = df.groupBy(col(lhsCol), col(rhsCol))
      .agg(count(lit(1)).as("__n"))
    val g = c.groupBy(col(lhsCol))
      .agg(sum(col("__n")).as("__tot"), max(col("__n")).as("__mx"),
        count(lit(1)).as("__k"))
    g.agg(count(lit(1)).as("n_groups"),
        sum(when(col("__k") > 1, 1L).otherwise(0L)).as("n_violating"),
        sum(col("__tot")).as("n_rows"),
        round(sum(col("__mx")).cast("double") / sum(col("__tot")), 6)
          .as("confidence"))
      .withColumn("holds", col("n_violating") === 0L)
  }

  def benfordAudit(df: DataFrame, groupCols: Seq[String],
                   valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .withColumn("__cents", round(col(valueCol) * 100, 0).cast("long"))
      .filter(col("__cents") > 0)
      .groupBy(g :+ substring(col("__cents").cast("string"), 1, 1)
        .cast("long").as("__digit"): _*)
      .agg(count(lit(1)).as("__n"))
    val totals = counts.groupBy(g: _*)
      .agg(sum(col("__n")).as("__tot"))
    val grid = totals.select(g :+ col("__tot") :+
      explode(sequence(lit(1L), lit(9L))).as("__digit"): _*)
    grid.join(counts, groupCols :+ "__digit", "left")
      .withColumn("__nd", coalesce(col("__n"), lit(0L)))
      .withColumn("__micro",
        round(abs(col("__nd").cast("double") / col("__tot")
          - log10(lit(1.0) + lit(1.0) / col("__digit"))) * lit(1e6), 0)
          .cast("long"))
      .groupBy(g: _*)
      .agg(max(col("__tot")).as("n_values"),
        sum(when(col("__nd") > 0, 1L).otherwise(0L)).as("k_digits"),
        sum(col("__micro")).as("__msum"))
      .select(g :+ col("n_values") :+ col("k_digits") :+
        round(col("__msum").cast("double") / 1e6 / 9.0, 6).as("mad"): _*)
  }

  /** ROBUST outlier summary per group — median / MAD flagging on an
    * integer-scaled metric (the modified z-score convention,
    * Iglewicz–Hoaglin): |x − med| > cutoff·1.4826·MAD. The
    * heavy-tail-safe replacement for mean/σ fences, which a single
    * extreme dump value drags wide open (the σ chases the outliers
    * it's meant to catch; the median and MAD don't move).
    *
    * The caller supplies the metric as exact integers (cents,
    * micros, counts — the Benford cents convention), so EVERYTHING
    * is integer arithmetic: both order statistics are the
    * left-continuous weighted form (smallest v with 2·cum ≥ n — the
    * [[weightedQuantiles]] rank test at p = 1/2), and the flag test
    * |x − med|·10⁴ > scaledCutoff·MAD multiplies through the float
    * factor (default 51891 = ⌈3.5·1.4826·10⁴⌉ deci-milli units) so
    * no float compare ever runs — bit-identical across engines.
    *
    * Scale shape: ONE corpus-sized map-side-combinable (group,
    * value) count, pinned; the median window, the deviation
    * re-collapse, the MAD window, and the outlier count all run on
    * that distinct-value frame (windows bounded by per-group
    * distinct-value cardinality — bounded by the quantized domain;
    * bin first past that, the t137 hatch). The med/MAD tables are
    * |groups|-row broadcasts.
    *
    * Output: (groups…, n, med, mad, n_outliers, outlier_frac) —
    * med/mad in the caller's integer units, frac 6dp.
    */
  def robustOutliers(df: DataFrame, groupCols: Seq[String],
                     intCol: Column,
                     scaledCutoff: Long = 51891L): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val W = org.apache.spark.sql.expressions.Window
    val vc = df.select(g :+ intCol.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(g :+ col("__v"): _*).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // distinct-value blocks feed all 3 passes
    def orderStat(blocks: DataFrame, vCol: String): DataFrame = {
      val whole = W.partitionBy(g: _*)
      val ord = whole.orderBy(col(vCol))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      blocks
        .withColumn("__n", sum(col("__c")).over(whole))
        .withColumn("__cw", sum(col("__c")).over(ord))
        .filter(col("__cw") * 2 >= col("__n"))
        .groupBy(g: _*)
        .agg(min(col(vCol)).as("__stat"), max(col("__n")).as("__nn"))
    }
    val med = orderStat(vc, "__v")
      .select(g :+ col("__stat").as("med") :+ col("__nn").as("n"): _*)
    val devBlocks = vc.join(broadcast(med), groupCols)
      .groupBy(g :+ abs(col("__v") - col("med")).as("__d"): _*)
      .agg(sum(col("__c")).as("__c"))
    val mad = orderStat(devBlocks, "__d")
      .select(g :+ col("__stat").as("mad"): _*)
    vc.join(broadcast(med), groupCols).join(broadcast(mad), groupCols)
      .groupBy(g: _*)
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(abs(col("__v") - col("med")) * 10000L >
          lit(scaledCutoff) * col("mad"), col("__c")).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_frac",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6))
  }

  /** CRAMÉR'S V association strength per group between two
    * categorical columns — the effect-size companion to the χ²
    * homogeneity TEST (t142 answers "is the association real?"; V
    * answers "how strong is it?" on the engine-portable [0, 1]
    * scale): V = √(χ² / (n·(min(r,c)−1))) over the full r×c
    * contingency grid, absent cells included (they still contribute
    * their expected mass).
    *
    * Arithmetic contract: each cell's χ² term is
    * (o·n − c_r·c_c)² / (n·c_r·c_c) — both sides exact DECIMAL(38,0)
    * (HUGEINT on the oracle), ONE IEEE divide — then micro-rounded to
    * a BIGINT (term·10⁶) so the χ² SUM is order-independent (the
    * float-sum hazard t142's ≤2-term rows never hit becomes real on
    * an r×c grid). V is one closed-form double of those integers.
    *
    * Scale shape: the only corpus-sized stage is the (group, a, b)
    * cell collapse (map-side combinable); marginals, the r×c grid
    * join, and the verdict are all category-cardinality. Categorical
    * columns are assumed bounded (that's what categorical means) —
    * hash-bucket first at unbounded cardinality.
    *
    * Output: (groups…, n, n_rows, n_cols, v 6dp) — v NULL when
    * min(r,c) = 1 (a constant margin has no association to measure).
    */
  def cramersV(df: DataFrame, groupCols: Seq[String],
               aCol: String, bCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(g :+ col(aCol).as("__a") :+ col(bCol).as("__b"): _*)
      .agg(count(lit(1)).as("__c"))
    val rm = cells.groupBy(g :+ col("__a"): _*)
      .agg(sum(col("__c")).as("__cr"))
    val cm = cells.groupBy(g :+ col("__b"): _*)
      .agg(sum(col("__c")).as("__cc"))
    val tot = rm.groupBy(g: _*)
      .agg(sum(col("__cr")).as("n"), count(lit(1)).as("n_rows"))
      .join(cm.groupBy(g: _*).agg(count(lit(1)).as("n_cols")), groupCols)
    val grid = rm.join(cm, groupCols)
      .join(cells, groupCols :+ "__a" :+ "__b", "left")
      .na.fill(0L, Seq("__c"))
      .join(broadcast(tot), groupCols)
    val diff = (col("__c").cast(dec) * col("n") -
      col("__cr").cast(dec) * col("__cc"))
    val den = col("n").cast(dec) * col("__cr") * col("__cc")
    val micro = grid.select(g :+
      round(diff.cast("double") * diff.cast("double") /
        den.cast("double") * 1000000.0).cast("long").as("__tm"): _*)
      .groupBy(g: _*).agg(sum(col("__tm")).as("__chi2m"))
    val mind = least(col("n_rows"), col("n_cols")) - 1
    tot.join(micro, groupCols)
      .select(g :+ col("n") :+ col("n_rows") :+ col("n_cols") :+
        when(mind > 0, round(sqrt(col("__chi2m").cast("double") / 1e6 /
          (col("n") * mind).cast("double")), 6)).as("v"): _*)
  }

  /** Distribution SHAPE profile per group over a (bounded-length)
    * value series: exact sample skewness g₁ = √n·m₃/m₂^1.5 and excess
    * kurtosis g₂ = n·m₄/m₂² − 3 — the dump-day / heavy-tail readout
    * beyond [[robustOutliers]]' flags (HOW asymmetric, HOW
    * heavy-tailed, as two numbers a drift dashboard can track).
    *
    * Exactness: the mean is multiplied away (y = n·x − S, the t189
    * trick), so m₂/m₃/m₄ are exact DECIMAL(38,0)/HUGEINT integer
    * sums — order-independent — and the two outputs are closed-form
    * doubles of exact integers (scale-invariance of g₁/g₂ absorbs the
    * n-scaling of y). Constant series (m₂ = 0) yield NULLs.
    *
    * Scale shape: callers feed an aggregated series (daily counts —
    * the t158 contract), so the corpus-sized stage is the caller's
    * count collapse; this operator is one broadcast |groups|-row
    * moment join plus one map-side-combinable reduction over
    * calendar-bounded rows.
    *
    * Output: (groups…, n, skewness 6dp, kurtosis 6dp).
    */
  def skewKurtosis(series: DataFrame, groupCols: Seq[String],
                   valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val base = series.select(g :+ col(valueCol).cast("long").as("__x"): _*)
    val st = base.groupBy(g: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
    val ys = base.join(broadcast(st), groupCols)
      .select(g :+ col("__n") :+
        (col("__n") * col("__x") - col("__s")).cast(dec).as("__y"): _*)
    val m = ys.groupBy(g: _*)
      .agg(max(col("__n")).as("n"),
        sum(col("__y") * col("__y")).as("__m2"),
        sum(col("__y") * col("__y") * col("__y")).as("__m3"),
        sum(col("__y") * col("__y") * col("__y") * col("__y")).as("__m4"))
    val m2d = col("__m2").cast("double")
    m.select(g :+ col("n") :+
      when(col("__m2") > 0,
        round(sqrt(col("n").cast("double")) * col("__m3").cast("double") /
          pow(m2d, 1.5), 6)).as("skewness") :+
      when(col("__m2") > 0,
        round(col("n").cast("double") * col("__m4").cast("double") /
          (m2d * m2d) - 3.0, 6)).as("kurtosis"): _*)
  }

  /** TRIMMED MEAN per group — the robust location estimate between
    * the mean (0% trim) and [[robustOutliers]]' median (50%): drop
    * the lowest and highest ⌊trimFrac·n⌋ values exactly and average
    * the middle. The dashboard number that ignores dump-day spikes
    * without the median's total insensitivity to the bulk.
    *
    * Exactness: on the (group, value) count cells, each cell's
    * surviving weight is the interval-overlap clip
    * w = max(0, min(bef+c, n−k) − max(bef, k)) — exact integer
    * arithmetic including partially-trimmed tie blocks — and the
    * mean is ONE IEEE divide of the exact DECIMAL(38,0)/HUGEINT
    * weighted sum by (n − 2k). Empty middles (n ≤ 2k) yield NULL.
    *
    * Scale shape: one map-side-combinable (group, value) cell
    * collapse; cumulative counts via [[cumulativeCells]] (no
    * |groups|-task funnel; EAGER at construction — building the
    * frame runs the collapse job); the weighted reduction is
    * cell-sized.
    *
    * Output: (groups…, n, k_trim, trimmed_mean 6dp).
    */
  def trimmedMean(df: DataFrame, groupCols: Seq[String],
                  valueCol: Column, trimFrac: Double = 0.1): DataFrame =
    trimmedMeanFromCum(countCellsCum(df, groupCols, valueCol),
      groupCols, trimFrac)

  /** [[trimmedMean]] over a pre-built [[countCellsCum]] frame (the
    * round-14 shared-census entry point — see [[medianCIFromCum]]).
    */
  def trimmedMeanFromCum(cum: DataFrame, groupCols: Seq[String],
                         trimFrac: Double = 0.1): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(trimFrac >= 0 && trimFrac < 0.5,
      s"trimFrac must be in [0, 0.5), got $trimFrac")
    val g = groupCols.map(col)
    val denom = math.round(1.0 / trimFrac).toLong
    require(trimFrac == 0 || math.abs(1.0 / denom - trimFrac) < 1e-12,
      s"trimFrac must be a unit fraction (1/m) for exact integer k, got $trimFrac")
    val k = if (trimFrac == 0) lit(0L) else expr(s"__n div $denom")
    val clipped = cum
      .withColumn("__bef", col("__c_cum") - col("__c"))
      .withColumn("__n", col("__c_tot"))
      .withColumn("__k", k)
      .withColumn("__w",
        greatest(least(col("__bef") + col("__c"), col("__n") - col("__k")) -
          greatest(col("__bef"), col("__k")), lit(0L)))
    clipped.groupBy(g: _*)
      .agg(max(col("__n")).as("n"), max(col("__k")).as("k_trim"),
        sum(col("__w").cast("decimal(38,0)") * col("__v")).as("__ws"))
      .select(g :+ col("n") :+ col("k_trim") :+
        when(col("n") - col("k_trim") * 2 > 0,
          round(col("__ws").cast("double") /
            (col("n") - col("k_trim") * 2).cast("double"), 6))
          .as("trimmed_mean"): _*)
  }

  /** THEIL T inequality index per group over pre-aggregated entity
    * masses (per-user event counts, per-source token masses):
    * T = Σᵢ (xᵢ/X)·ln(xᵢ·n/X) ∈ [0, ln n] — the decomposable
    * concentration measure complementing t158's Gini (Theil is
    * additive across subgroups, which is why mixing dashboards
    * prefer it; 0 = perfectly even, ln n = one entity holds all).
    *
    * Portability: each entity's term is micro-rounded —
    * round(10⁶·x·ln(x·n/X)) as BIGINT, ln on the identical IEEE
    * chain both engines evaluate — so the SUM is order-independent,
    * then ONE divide by 10⁶·X at the 6dp boundary (the t163
    * integer micro-log contract).
    *
    * Scale shape: the caller's entity collapse is the corpus-sized
    * stage; this is one broadcast |groups|-row total join plus a
    * map-side-combinable micro-term reduction. Entity masses are
    * positive by construction (counts).
    *
    * Output: (groups…, n_entities, total, theil 6dp).
    */
  def theilIndex(cells: DataFrame, groupCols: Seq[String],
                 valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val base = cells.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(g :+ col(valueCol).cast("long").as("__x"): _*)
    val st = base.groupBy(g: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__xx"))
    base.join(broadcast(st), groupCols)
      .select(g :+ col("__n") :+ col("__xx") :+
        round(lit(1000000.0) * col("__x") *
          log(col("__x").cast("double") * col("__n") / col("__xx")))
          .cast("long").as("__tm"): _*)
      .groupBy(g: _*)
      .agg(max(col("__n")).as("n_entities"), max(col("__xx")).as("total"),
        sum(col("__tm")).as("__s"))
      .select(g :+ col("n_entities") :+ col("total") :+
        round(col("__s").cast("double") / 1e6 / col("total"), 6)
          .as("theil"): _*)
  }

  /** Per-group CUMULATIVE sums over value-ordered distinct cells
    * WITHOUT the |groups|-task window funnel — the shared machinery
    * under [[medianCI]], [[weightedQuantiles]], [[trimmedMean]],
    * [[winsorizedMean]] and [[lorenzDeciles]].
    *
    * The naive `sum(c) OVER (PARTITION BY group ORDER BY v)` sorts
    * each group in ONE task: with few groups (t206 groups lineitem
    * by l_returnflag — 3 tasks) the plan leaves the cluster idle and
    * any per-core contention lands 1:1 on wall time, and a 100×
    * corpus makes it a 20M-row single-task sort. This is the
    * range-repartition + per-partition rank + broadcast-offsets shape
    * of [[graft.operators.Ids.denseIds]] applied to cumulative sums:
    *
    *  1. range-repartition the cells on (group…, value) — one
    *     balanced shuffle; each group spans a contiguous partition
    *     run, so within a partition the group's value order is total;
    *  2. pin the partitioning (`localCheckpoint`) so the offset pass
    *     and the final pass read the SAME partitions — the sampled
    *     range boundaries are not reproducible across jobs, but the
    *     OUTPUT is boundary-independent because the offsets correct
    *     any imbalance;
    *  3. per-(partition, group) partial sums — ≤ partitions + groups
    *     rows total (contiguous runs), never corpus-sized;
    *  4. prefix offsets + group totals over that small frame (a
    *     window over ≤ |partitions| rows per group), broadcast back;
    *  5. within-partition cumulative windows partitioned by
    *     (partition, group) — every sort is at most one data
    *     partition, all cores busy regardless of group count.
    *
    * EAGER AT CONSTRUCTION: the pinning localCheckpoint below runs a
    * full Spark job (the cell collapse + range shuffle) the moment a
    * caller BUILDS its DataFrame — medianCI / weightedQuantiles /
    * trimmedMean / winsorizedMean / lorenzDeciles are therefore not
    * lazily composable like the rest of the library: constructing one
    * to only `.explain` it still pays the corpus scan (plan-only
    * tooling such as `Probe plan` should skip or budget these). A
    * lazy checkpoint is NOT an option — the pinned partitioning is
    * load-bearing (see below) — so this is a documented tradeoff,
    * not an oversight.
    *
    * `cells` must be DISTINCT per (groupCols…, valueCol) — the
    * callers' groupBy collapse guarantees it. For each `s` in
    * `sumCols` (LONG columns) the result carries `s_cum` (cumulative
    * including the current cell, ordered by `valueCol` ascending) and
    * `s_tot` (the group total); all original columns pass through.
    * Downstream rank tests are SELECTIONS of data values, so results
    * are deterministic wherever the sampled boundaries fell.
    */
  private[graft] def cumulativeCells(cells: DataFrame,
      groupCols: Seq[String], valueCol: String,
      sumCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty && sumCols.nonEmpty)
    val g = groupCols.map(col)
    // the checkpoint is LOAD-BEARING, not a cache: the sampled range
    // boundaries are not reproducible across jobs, so the offset pass
    // and the final pass MUST read the same pinned partitions or the
    // offsets describe a partitioning the data no longer has. Like
    // denseIds, the pinned blocks back the returned (lazy) frame and
    // release when the consumer's DataFrame is GC'd.
    val parted = cells
      .repartitionByRange(g :+ col(valueCol): _*)
      .withColumn("__cu_pid", spark_partition_id())
      .localCheckpoint(true)
    val pAggs = sumCols.map(s => sum(col(s)).as(s"__cu_p_$s"))
    val partials = parted.groupBy(col("__cu_pid") +: g: _*)
      .agg(pAggs.head, pAggs.tail: _*)
    val wBef = Window.partitionBy(g: _*).orderBy(col("__cu_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(g: _*)
    // group keys renamed on the offsets side so the join can use
    // NULL-SAFE equality: a NULL group key is a real group to every
    // window/groupBy stage here, and a null-unsafe using-join would
    // silently drop it (the pre-rewrite Window form kept it)
    val offsets = partials.select(
      (col("__cu_pid").as("__cu_pid2") +:
        groupCols.zipWithIndex.map { case (k, i) => col(k).as(s"__cu_k$i") }) ++
      sumCols.map(s => coalesce(sum(col(s"__cu_p_$s")).over(wBef), lit(0L))
        .as(s"__cu_off_$s")) ++
      sumCols.map(s => sum(col(s"__cu_p_$s")).over(wAll)
        .as(s"${s}_tot")): _*)
    val joinCond = (col("__cu_pid") === col("__cu_pid2")) &&
      groupCols.zipWithIndex
        .map { case (k, i) => col(k) <=> col(s"__cu_k$i") }
        .reduce(_ && _)
    val wl = Window.partitionBy(col("__cu_pid") +: g: _*)
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = parted.join(broadcast(offsets), joinCond)
    sumCols.foldLeft(joined) { (d, s) =>
        d.withColumn(s"${s}_cum", col(s"__cu_off_$s") + sum(col(s)).over(wl))
      }
      .drop(Seq("__cu_pid", "__cu_pid2") ++
        groupCols.indices.map(i => s"__cu_k$i") ++
        sumCols.map(s => s"__cu_off_$s"): _*)
  }

  /** The (group, value)-cell CUMULATIVE-COUNT frame shared by the
    * whole robust-location family — [[medianCIFromCum]],
    * [[trimmedMeanFromCum]], [[winsorizedMeanFromCum]] all consume
    * exactly this schema: (groups…, __v BIGINT value, __c cell count,
    * __c_cum cumulative count ≤ __v, __c_tot group total). One
    * corpus-sized collapse + one [[cumulativeCells]] pass serves
    * every downstream rank statistic; callers computing several over
    * the same column should build this ONCE (checkpoint/cache it)
    * and fan out.
    */
  def countCellsCum(df: DataFrame, groupCols: Seq[String],
                    valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val cells = df.filter(valueCol.isNotNull)
      .groupBy(g :+ valueCol.cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    cumulativeCells(cells, groupCols, "__v", Seq("__c"))
  }

  /** Distribution-free MEDIAN with a 95% CONFIDENCE interval from
    * order statistics (the binomial/sign-test CI, normal-approximated
    * ranks) — the uncertainty-honest median the bootstrap family
    * (t141) buys with 200 resample passes, obtained here from ONE
    * pass: lower/upper bounds are the ⌊(n − z√n)/2⌋-th and
    * (n+1−that)-th smallest values, z = 1.959963984540054.
    *
    * Exactness: the rank pair is one fixed IEEE expression of n
    * (mirrored by the oracle), and all three outputs are SELECTIONS
    * of data values via the cumulative-count rank test — never
    * interpolated, engine-identical by construction. The median is
    * the ⌈n/2⌉-th smallest (lower median).
    *
    * Scale shape: one map-side-combinable (group, value) cell
    * collapse, then [[cumulativeCells]] — range-repartitioned
    * within-partition cumulative sums with broadcast prefix offsets,
    * never a |groups|-task sort funnel (the t206 post-mortem: 3
    * groups = 3 tasks with 29 cores idle, and a 100× corpus is a
    * 20M-row single-task sort); one reduction. EAGER at construction
    * — building the frame runs the collapse job ([[cumulativeCells]]).
    * Output: (groups…, n, ci_lo, median, ci_hi).
    */
  def medianCI(df: DataFrame, groupCols: Seq[String],
               valueCol: Column): DataFrame =
    medianCIFromCum(countCellsCum(df, groupCols, valueCol), groupCols)

  /** [[medianCI]] over a PRE-BUILT [[countCellsCum]] frame — the
    * shared-census entry point (round 14): the t203/t206/t225 robust-
    * location fixtures all re-derived the identical (group, value-
    * cell) cumulative frame, so each paid the corpus collapse + the
    * three sequential cumulativeCells jobs alone — precisely the
    * latency-bound class that tripped the r13 driver battery. A
    * caller building several robust statistics over the same
    * (groups, value) now builds ONE cum frame and fans out; each
    * statistic after that is a single cell-sized job.
    */
  def medianCIFromCum(cum: DataFrame, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val z = 1.959963984540054
    val n = col("__c_tot")
    val lo = floor((n - lit(z) * sqrt(n.cast("double"))) / 2.0).cast("long")
    cum
      .withColumn("__lo", lo)
      .withColumn("__hi", n + 1 - lo)
      .withColumn("__mid", expr("(__c_tot + 1) div 2"))
      .groupBy(g: _*)
      .agg(max(col("__c_tot")).as("n"),
        min(when(col("__c_cum") >= col("__lo"), col("__v"))).as("ci_lo"),
        min(when(col("__c_cum") >= col("__mid"), col("__v"))).as("median"),
        min(when(col("__c_cum") >= col("__hi"), col("__v"))).as("ci_hi"))
  }

  /** LORENZ curve deciles per group over pre-aggregated entity masses
    * — the full concentration CURVE behind [[theilIndex]]'s and
    * t158's single numbers: L(d) = (mass held by the poorest
    * ⌊n·d/10⌋ entities) / total, d = 1..10. The "bottom 80% of users
    * contribute 30% of traffic" dashboard table.
    *
    * Exactness: the lower-tail mass uses the interval-overlap clip on
    * distinct-value cells ([[trimmedMean]]'s machinery) — partial tie
    * blocks contribute exactly (k − cum_before)·v, and tie ORDER is
    * irrelevant because tied entities hold equal mass. One exact
    * DECIMAL(38,0) weighted sum per decile, one divide each at 6dp.
    *
    * Scale shape: the caller's entity collapse is the corpus-sized
    * stage; then one (group, mass) cell collapse, cumulative counts
    * via [[cumulativeCells]] (no |groups|-task funnel), and a 10-way
    * clip expansion of the cell frame. EAGER at construction —
    * building the frame runs the collapse job ([[cumulativeCells]]).
    * Output: (groups…, decile, n_entities, mass_share).
    */
  def lorenzDeciles(cells: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val mc = cells.filter(col(valueCol).isNotNull)
      .groupBy(g :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"), sum(col(valueCol).cast("long")).as("__m"))
    val dec = cumulativeCells(mc, groupCols, "__v", Seq("__c", "__m"))
      .withColumn("__bef", col("__c_cum") - col("__c"))
      .withColumn("__n", col("__c_tot"))
      .withColumn("__tot", col("__m_tot"))
      .select(g :+ col("__v") :+ col("__c") :+ col("__bef") :+ col("__n") :+
        col("__tot") :+ explode(sequence(lit(1L), lit(10L))).as("decile"): _*)
    val k = expr("__n * decile div 10")
    dec
      .withColumn("__w",
        greatest(least(col("__bef") + col("__c"), k) -
          least(col("__bef"), k), lit(0L)))
      .groupBy(g :+ col("decile"): _*)
      .agg(max(col("__n")).as("n_entities"), max(col("__tot")).as("__t"),
        sum(col("__w").cast("decimal(38,0)") * col("__v")).as("__ws"))
      .select(g :+ col("decile") :+ col("n_entities") :+
        round(col("__ws").cast("double") / col("__t").cast("double"), 6)
          .as("mass_share"): _*)
  }

  /** COLUMN ENTROPY profile — Shannon entropy (nats) of each listed
    * categorical column plus its ln(k)-normalized form: the
    * one-glance "how informative / how degenerate is this column"
    * table a schema review reads next to [[profile]]'s null/distinct
    * counts (norm_entropy ≈ 0 → near-constant column; ≈ 1 → uniform).
    *
    * Portability: each value's term is micro-rounded —
    * round(10⁶·c·ln(c/n)) as BIGINT (the t167/t204 integer micro-log
    * contract) — so the entropy sum is order-independent, with one
    * divide per column at the 6dp boundary.
    *
    * Scale shape: the |columns| branches union map-side into ONE
    * (column, value) count collapse; everything after is
    * value-cardinality. Values render through CAST(.. AS STRING) so
    * heterogeneous columns share one frame (the [[profile]]
    * convention).
    *
    * Output: (col_name, n, k_distinct, entropy 6dp, norm_entropy
    * 6dp — 0.0 for single-valued columns).
    */
  def columnEntropy(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "need at least one column")
    val u = columns.map { c =>
      df.filter(col(c).isNotNull)
        .select(lit(c).as("col_name"), col(c).cast("string").as("__v"))
    }.reduce(_ unionAll _)
    val cc = u.groupBy(col("col_name"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val t = cc.groupBy(col("col_name")).agg(sum(col("__c")).as("__n"))
    val micro = cc.join(t, "col_name")
      .select(col("col_name"),
        round(lit(1000000.0) * col("__c") *
          log(col("__c").cast("double") / col("__n")))
          .cast("long").as("__tm"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("k_distinct"), sum(col("__tm")).as("__tms"))
    micro.join(t, "col_name")
      .select(col("col_name"), col("__n").as("n"), col("k_distinct"),
        round(-col("__tms").cast("double") / 1e6 / col("__n"), 6)
          .as("entropy"),
        when(col("k_distinct") > 1,
          round(-col("__tms").cast("double") / 1e6 / col("__n") /
            log(col("k_distinct").cast("double")), 6))
          .otherwise(lit(0.0)).as("norm_entropy"))
  }

  /** FUNCTIONAL-DEPENDENCY MINING over a column set — every ordered
    * pair lhs → rhs from `columns` through the [[fdAudit]] formula in
    * ONE generic chain (rule-labeled union → per-(rule, lhs) majority
    * mass): the schema-discovery sweep ("which columns determine
    * which?") where t180 audits one hypothesized rule.
    *
    * Scale shape: |columns|·(|columns|−1) map-side branches union
    * into ONE (rule, lhs, rhs) count collapse; everything after is
    * group-cardinality. Counts exact BIGINTs, confidence one divide.
    *
    * Output: (rule, n_groups, n_violating, n_rows, confidence 6dp,
    * holds), one row per ordered pair.
    */
  def fdMine(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.size >= 2, "need at least two columns")
    val u = (for {
      l <- columns; r <- columns if l != r
    } yield df.filter(col(l).isNotNull && col(r).isNotNull)
      .select(lit(s"$l->$r").as("rule"), col(l).cast("string").as("__l"),
        col(r).cast("string").as("__r"))).reduce(_ unionAll _)
    val c = u.groupBy(col("rule"), col("__l"), col("__r"))
      .agg(count(lit(1)).as("__n"))
    val g = c.groupBy(col("rule"), col("__l"))
      .agg(sum(col("__n")).as("__tot"), max(col("__n")).as("__mx"),
        count(lit(1)).as("__k"))
    g.groupBy(col("rule"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__k") > 1, 1L).otherwise(0L)).as("n_violating"),
        sum(col("__tot")).as("n_rows"),
        round(sum(col("__mx")).cast("double") / sum(col("__tot")), 6)
          .as("confidence"))
      .withColumn("holds", col("n_violating") === 0L)
  }

  /** WINSORIZED MEAN per group — [[trimmedMean]]'s sibling that CLIPS
    * the tails to the boundary order statistics instead of dropping
    * them (every row still counts, extreme rows just stop voting
    * beyond the fence): mean of the series with the lowest k values
    * replaced by the (k+1)-th smallest and the highest k by the
    * (n−k)-th. The robust-location choice when the tail rows carry
    * real mass that shouldn't vanish from the denominator.
    *
    * Exactness: boundary values are rank-test SELECTIONS, the middle
    * mass uses the interval-overlap clip (partial tie blocks exact),
    * and the winsorized sum is exact DECIMAL(38,0) arithmetic with
    * ONE divide by n. Scale shape: identical to [[trimmedMean]] —
    * one cell collapse, cumulative counts via [[cumulativeCells]]
    * (no |groups|-task funnel), one reduction. EAGER at construction
    * — building the frame runs the collapse job ([[cumulativeCells]]).
    *
    * Output: (groups…, n, k_winsor, winsorized_mean 6dp).
    */
  def winsorizedMean(df: DataFrame, groupCols: Seq[String],
                     valueCol: Column, winsorFrac: Double = 0.1): DataFrame =
    winsorizedMeanFromCum(countCellsCum(df, groupCols, valueCol),
      groupCols, winsorFrac)

  /** [[winsorizedMean]] over a pre-built [[countCellsCum]] frame (the
    * round-14 shared-census entry point — see [[medianCIFromCum]]).
    */
  def winsorizedMeanFromCum(cum0: DataFrame, groupCols: Seq[String],
                            winsorFrac: Double = 0.1): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(winsorFrac >= 0 && winsorFrac < 0.5,
      s"winsorFrac must be in [0, 0.5), got $winsorFrac")
    val g = groupCols.map(col)
    val denom = math.round(1.0 / winsorFrac).toLong
    require(winsorFrac == 0 || math.abs(1.0 / denom - winsorFrac) < 1e-12,
      s"winsorFrac must be a unit fraction (1/m), got $winsorFrac")
    val k = if (winsorFrac == 0) lit(0L) else expr(s"__n div $denom")
    val cum = cum0
      .withColumn("__bef", col("__c_cum") - col("__c"))
      .withColumn("__cw", col("__c_cum"))
      .withColumn("__n", col("__c_tot"))
      .withColumn("__k", k)
    cum.groupBy(g: _*)
      .agg(max(col("__n")).as("n"), max(col("__k")).as("k_winsor"),
        min(when(col("__cw") >= col("__k") + 1, col("__v"))).as("__lo"),
        min(when(col("__cw") >= col("__n") - col("__k"), col("__v")))
          .as("__hi"),
        sum(greatest(least(col("__cw"), col("__n") - col("__k")) -
            greatest(col("__bef"), col("__k")), lit(0L))
          .cast("decimal(38,0)") * col("__v")).as("__mid"))
      .select(g :+ col("n") :+ col("k_winsor") :+
        round((col("__mid").cast("double") +
          col("k_winsor").cast("double") * col("__lo") +
          col("k_winsor").cast("double") * col("__hi")) / col("n"), 6)
          .as("winsorized_mean"): _*)
  }

  /** STANDARDIZED χ² cell RESIDUALS per group — the drill-down behind
    * [[cramersV]]/the χ² tests: WHICH cells of the contingency grid
    * drive the association? r = (o − e)/√e per cell (absent cells
    * included — a structurally empty cell can be the finding), with
    * |r| > `flagAt` marking the conventionally notable cells (±2 ≈
    * the 95% band).
    *
    * Arithmetic: r = (o·n − c_r·c_c)/√(n·c_r·c_c) — numerator and
    * radicand exact DECIMAL(38,0)/HUGEINT integers, ONE IEEE
    * divide+sqrt chain, 6dp at the boundary.
    *
    * Scale shape: identical to [[cramersV]] — one (group, a, b) cell
    * collapse, marginals, the r×c grid join; everything after the
    * scan is category-cardinality.
    *
    * Output: (groups…, a, b, o, residual 6dp, notable).
    */
  def chiSquareResiduals(df: DataFrame, groupCols: Seq[String],
                         aCol: String, bCol: String,
                         flagAt: Double = 2.0): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(g :+ col(aCol).as("a") :+ col(bCol).as("b"): _*)
      .agg(count(lit(1)).as("__c"))
    val rm = cells.groupBy(g :+ col("a"): _*).agg(sum(col("__c")).as("__cr"))
    val cm = cells.groupBy(g :+ col("b"): _*).agg(sum(col("__c")).as("__cc"))
    val tot = rm.groupBy(g: _*).agg(sum(col("__cr")).as("__n"))
    val grid = rm.join(cm, groupCols)
      .join(cells, groupCols :+ "a" :+ "b", "left")
      .na.fill(0L, Seq("__c"))
      .join(broadcast(tot), groupCols)
    val resid = round(
      (col("__c").cast(dec) * col("__n") - col("__cr").cast(dec) * col("__cc"))
        .cast("double") /
      sqrt((col("__n").cast(dec) * col("__cr") * col("__cc"))
        .cast("double")), 6)
    grid.select(g :+ col("a") :+ col("b") :+ col("__c").as("o") :+
      resid.as("residual") :+ (abs(resid) > flagAt).as("notable"): _*)
  }

  /** INFORMATION GAIN of each feature column against a label — the
    * feature-screening table (ID3's split criterion as a profiling
    * readout): IG(L; F) = H(L) − H(L|F), where high gain means the
    * feature predicts the label (and, for a training pipeline, that
    * the label LEAKS through it — both readings matter).
    *
    * Portability: both entropies use the micro-log BIGINT contract
    * ([[columnEntropy]]) — H(L) over label counts, H(L|F) over
    * (feature-value, label) cells against per-value totals — so the
    * sums are order-independent; gain is a subtraction of the two
    * 6dp-rounded entropies (re-rounded, the mirrored contract).
    *
    * Scale shape: |features| map-side branches union into ONE
    * (feature, value, label) count collapse; per-value totals and
    * the reductions after it are value-cardinality.
    *
    * Output: (feat, h_label 6dp, h_cond 6dp, info_gain 6dp).
    */
  def infoGain(df: DataFrame, labelCol: String,
               featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val base = df.filter(col(labelCol).isNotNull)
    val u = featureCols.map { f =>
      base.filter(col(f).isNotNull)
        .select(lit(f).as("feat"), col(f).cast("string").as("__v"),
          col(labelCol).cast("string").as("__l"))
    }.reduce(_ unionAll _)
    val c = u.groupBy(col("feat"), col("__v"), col("__l"))
      .agg(count(lit(1)).as("__c"))
    val nv = c.groupBy(col("feat"), col("__v")).agg(sum(col("__c")).as("__nv"))
    val n = c.groupBy(col("feat")).agg(sum(col("__c")).as("__n"))
    val cond = c.join(nv, Seq("feat", "__v"))
      .select(col("feat"),
        round(lit(1000000.0) * col("__c") *
          log(col("__c").cast("double") / col("__nv")))
          .cast("long").as("__tm"))
      .groupBy(col("feat")).agg(sum(col("__tm")).as("__tms"))
    val lab = base.groupBy(col(labelCol)).agg(count(lit(1)).as("__nl"))
    val hl = lab.crossJoin(broadcast(lab.agg(sum(col("__nl")).as("__nt"))))
      .select(round(lit(1000000.0) * col("__nl") *
        log(col("__nl").cast("double") / col("__nt")))
        .cast("long").as("__tm"), col("__nt"))
      .groupBy(col("__nt")).agg(sum(col("__tm")).as("__tms"))
      .select(round(-col("__tms").cast("double") / 1e6 / col("__nt"), 6)
        .as("h_label"))
    cond.join(n, "feat").crossJoin(broadcast(hl))
      .select(col("feat"), col("h_label"),
        round(-col("__tms").cast("double") / 1e6 / col("__n"), 6)
          .as("h_cond"))
      .withColumn("info_gain",
        round(col("h_label") - col("h_cond"), 6))
  }

  /** LEAVE-ONE-GROUP-OUT influence on the global mean — "which source
    * is MOVING the corpus metric?": for each group, the global mean
    * with and without it and their gap (the group-level Cook's-
    * distance-style influence a metrics review reads before blaming a
    * shift on the whole corpus).
    *
    * Arithmetic: group and global sums are exact DECIMAL(38,0)/
    * HUGEINT integers; every mean is one IEEE divide, the influence a
    * mirrored subtraction, 6dp. Groups equal to the whole corpus drop
    * (no "without" to compute).
    *
    * Scale shape: ONE map-side-combinable group-moment collapse; the
    * global total joins back as a broadcast 1-row frame. Output:
    * (groups…, n_g, mean_all, mean_without, influence).
    */
  def leaveOneOutInfluence(df: DataFrame, groupCols: Seq[String],
                           valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val m = df.filter(valueCol.isNotNull)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_g"),
        sum(valueCol.cast("long").cast(dec)).as("__sg"))
    val t = m.agg(sum(col("n_g")).as("__n"), sum(col("__sg")).as("__s"))
    val meanAll = round(col("__s").cast("double") / col("__n"), 6)
    val meanWithout = round((col("__s") - col("__sg")).cast("double") /
      (col("__n") - col("n_g")), 6)
    m.crossJoin(broadcast(t))
      .filter(col("__n") > col("n_g"))
      .select(g :+ col("n_g") :+ meanAll.as("mean_all") :+
        meanWithout.as("mean_without") :+
        round(col("__s").cast("double") / col("__n") -
          (col("__s") - col("__sg")).cast("double") /
          (col("__n") - col("n_g")), 6).as("influence"): _*)
  }

  /** MARKET-CONCENTRATION profile per group — the Herfindahl–
    * Hirschman index Σ(xᵢ/X)² and the CR_k concentration ratio
    * (top-k entities' share) over per-entity masses: the regulator-
    * style pair completing the inequality family ([[theilIndex]] /
    * Lorenz measure the whole curve; HHI/CR_k are the two numbers a
    * mixing dashboard actually thresholds — "no source's users may
    * concentrate past X").
    *
    * Arithmetic: HHI = Σx²/X² — both exact DECIMAL(38,0)/HUGEINT
    * integers, ONE divide; CR_k sums the bounded-heap top-k masses
    * (integer-valued doubles — exact, and tie-invariant because tied
    * entities carry equal mass), one divide. 6dp at the boundary.
    *
    * Scale shape: the caller's entity collapse is the corpus-sized
    * stage; this is ONE map-side-combinable reduction (the top-k is
    * the bounded-heap TypedImperativeAggregate — no window, no sort).
    *
    * Output: (groups…, n_entities, total, hhi, cr_k).
    */
  def concentrationProfile(cells: DataFrame, groupCols: Seq[String],
                           entityCol: String, valueCol: String,
                           topK: Int = 4): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val m = cells.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_entities"),
        sum(col(valueCol).cast("long").cast(dec)).as("__xx"),
        sum(col(valueCol).cast("long").cast(dec) *
          col(valueCol).cast("long")).as("__sq"),
        graft.functions.TopKFunctions.top_k_by_score(
          col(valueCol).cast("double"), col(entityCol).cast("long"), topK)
          .as("__top"))
    m.select(g :+ col("n_entities") :+
      col("__xx").cast("long").as("total") :+
      round(col("__sq").cast("double") /
        (col("__xx") * col("__xx")).cast("double"), 6).as("hhi") :+
      round(aggregate(col("__top"), lit(0.0),
          (acc, s) => acc + s.getField("score")) /
        col("__xx").cast("double"), 6).as("cr_k"): _*)
  }

  /** HILL TAIL-INDEX estimator per group — the heavy-tail exponent of
    * a value distribution from its top-k order statistics
    * (Hill 1975): α̂ = k / Σ_{i≤k} ln(x₍ᵢ₎/x₍ₖ₊₁₎). The number that
    * says whether a metric's tail is integrable (α > 1: the mean
    * exists; α > 2: the variance exists — below that every plain mean
    * or variance monitor on this column is lying) — the screen to run
    * BEFORE trusting t203/t225/t245's location estimates.
    *
    * Scale shape: the top-(k+1) order statistics come from the
    * bounded-heap [[graft.functions.TopKAggregate]] partial aggregate
    * — shuffle O(partitions·groups·k), never the per-group window
    * sort a row_number cut would funnel — and everything after is a
    * (k+1)-element array expression per group. Arithmetic: values
    * ride as exact integer mass (`valueMass`, e.g. cents); each of
    * the k log terms is ONE IEEE expression micro-rounded to BIGINT
    * before the fold (order fixed by the heap's deterministic
    * best-first sort), α̂ one divide at the 6dp boundary.
    *
    * Only strictly-positive masses participate (ln); groups with
    * fewer than k+1 positive rows drop (not enough order statistics —
    * emitting a noisier α̂ silently would be worse). Output:
    * (groups…, n_rows, k, x_k1, hill_alpha 6dp) — `x_k1` is the
    * (k+1)-th largest raw mass, the estimator's threshold statistic.
    */
  def hillTailIndex(df: DataFrame, groupCols: Seq[String],
                    valueMass: Column, k: Int = 50): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(k >= 2, s"k must be >= 2, got $k")
    val g = groupCols.map(col)
    val agg = df
      .select(g :+ valueMass.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull && col("__v") > 0)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.TopKFunctions.top_k_by_score(
          col("__v").cast("double"), col("__v"), k + 1).as("__top"))
      .filter(size(col("__top")) === k + 1)
    val tail = element_at(col("__top"), k + 1).getField("id")
    val lsum = aggregate(slice(col("__top"), 1, k), lit(0L),
      (acc, s) => acc + round(
        log(s.getField("score") / tail.cast("double")) * 1e6, 0)
        .cast("long"))
    agg.select(g ++ Seq(col("n_rows"), lit(k).as("k"),
      tail.as("x_k1"),
      when(lsum > 0,
        round(lit(k) / (lsum.cast("double") / 1e6), 6))
        .as("hill_alpha")): _*)
  }
}
