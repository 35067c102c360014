package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst extension surface (SURVEY.md §7.4): the one optional custom
  * rule the blueprint names — automatic broadcast hints for small
  * dimension legs of a join — packaged both as a
  * `SparkSessionExtensions` installer (for sessions built with
  * `.withExtensions`) and as a live-session hook through
  * `spark.experimental.extraOptimizations`.
  *
  * Why a custom rule when Catalyst already auto-broadcasts: the
  * built-in decision keys off `spark.sql.autoBroadcastJoinThreshold`
  * at physical planning and can be lost when that conf is disabled
  * fleet-wide (a common guard against rogue broadcasts of mis-stated
  * relations). This rule re-enables the safe subset — genuinely tiny
  * legs by logical stats — as explicit hints, the exact pattern of the
  * reference's 121-row wallet_location join (btcolap.sql:429-430).
  */
case class SmallDimBroadcast(thresholdBytes: Long) extends Rule[LogicalPlan] {

  private def small(p: LogicalPlan): Boolean =
    p.stats.sizeInBytes >= 0 && p.stats.sizeInBytes <= thresholdBytes

  // (user hints are already merged into Join.hint before optimizer
  // rules run — EliminateResolvedHint is first — so matching
  // JoinHint.NONE is the complete "no existing hint" guard)
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, _: InnerLike, _, JoinHint.NONE) =>
      if (small(right))
        j.copy(hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
      else if (small(left))
        j.copy(hint = JoinHint(Some(HintInfo(Some(BROADCAST))), None))
      else j
  }
}

/** `.withExtensions(new GraftExtensions)` at session build time:
  * installs the broadcast-hint rule, the native as-of join strategy,
  * and the engine's native expressions as SQL functions — so both the
  * DataFrame and the `spark.sql(...)` surfaces get the whole extension
  * set from one hook.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SmallDimBroadcast(GraftExtensions.DefaultThreshold))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.sqlFunctions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  import graft.functions._

  /** 1 MiB: conservatively tiny — nothing this size can hurt an executor. */
  val DefaultThreshold: Long = 1L << 20

  private def fn(name: String, arity: Int,
                 build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
     new ExpressionInfo("graft.functions", name),
     (args: Seq[Expression]) => {
       require(args.length == arity, s"$name expects $arity arguments")
       build(args)
     })
  // literal int/long parameters arrive as foldable expressions
  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def longArg(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue()
  // a foldable ARRAY of string literals (e.g. array('a', 'b'))
  private def stringSeqArg(e: Expression): Seq[String] =
    e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toSeq[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType)
      .map(_.toString)

  /** The native expressions, SQL-registrable: injected at build time
    * by [[GraftExtensions]], or live via [[install]].
    */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", 2, a => CosineSimilarity(a(0), a(1))),
    fn("dot_product", 2, a => DotProduct(a(0), a(1))),
    fn("hyperplane_sig", 3,
      a => HyperplaneSignature(a(0), intArg(a(1)), longArg(a(2)))),
    fn("simhash64", 1, a => SimHash64(a(0))),
    fn("rolling_hash_mod", 3,
      a => CodePointRollingHash(a(0), longArg(a(1)), longArg(a(2)))),
    fn("hashed_shingles", 2, a => HashedShingles(a(0), intArg(a(1)))),
    fn("minhash_sig", 2, a => MinHashSignature(a(0), intArg(a(1)))),
    fn("sorted_intersect_count", 2, a => SortedIntersectCount(a(0), a(1))),
    fn("collapse_runs", 1, a => CollapseRunsExpr(a(0))),
    fn("bpeish_token_count", 1, a => BpeishTokenCount(a(0))),
    fn("hashed_ngram_counts", 2,
      a => HashedNgramCountsExpr(a(0), intArg(a(1)))),
    fn("top_k_by_score", 3,
      a => TopKByScore(a(0), a(1), intArg(a(2))).toAggregateExpression()),
    fn("char_entropy", 1, a => CharEntropyExpr(a(0))),
    fn("hashed_bow_stats", 2,
      a => HashedBowScoreExpr(a(0), intArg(a(1)))),
    fn("misra_gries", 2,
      a => MisraGriesTokens(a(0), intArg(a(1))).toAggregateExpression()),
    // round 8: CDC chunking, multi-pattern scan, CMS reader, the
    // distinct top-k aggregate, covariance moments (matrix-parameter
    // expressions like project_whiten stay Scala-facade-only — their
    // driver-built reference objects have no SQL literal form)
    fn("content_chunks", 7,
      a => ContentChunksExpr(a(0), intArg(a(1)), longArg(a(2)),
        longArg(a(3)), longArg(a(4)), intArg(a(5)), intArg(a(6)))),
    fn("multi_contains", 2,
      a => MultiContainsExpr(a(0), stringSeqArg(a(1)))),
    fn("cms_estimate", 2, a => CmsEstimateExpr(a(0), a(1))),
    fn("top_k_distinct_by_score", 3,
      a => TopKDistinctByScore(a(0), a(1), intArg(a(2)))
        .toAggregateExpression()),
    fn("cov_moments", 2,
      a => CovMoments(a(0), intArg(a(1))).toAggregateExpression()),
    // round 11: Unicode canonicalization (NFC composition — the
    // normalization step lower/trim don't cover)
    fn("nfc_normalize", 1, a => NfcNormalizeExpr(a(0))),
    // round 9: record-linkage string verifiers
    fn("jaro_winkler", 2, a => JaroWinklerSim(a(0), a(1))),
    fn("damerau_levenshtein", 2,
      a => DamerauLevenshteinDist(a(0), a(1))))

  /** Install on an already-running session: the optimizer rule via
    * extraOptimizations, the as-of strategy via extraStrategies, and
    * the SQL functions straight into the session's function registry
    * (builder extensions can't be added retroactively). The rule is
    * skipped when the optimizer already runs it — a session built with
    * [[GraftExtensions]] has it injected.
    */
  def install(spark: SparkSession): Unit = {
    val rule = SmallDimBroadcast(DefaultThreshold)
    if (!org.apache.spark.sql.graftshim.Bridge.optimizerRules(spark)
        .contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    AsOfJoinStrategy.install(spark)
    sqlFunctions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.graftshim.Bridge.registerFunction(spark, id, info, builder)
    }
  }
}
