package graft.pipeline

import scala.jdk.CollectionConverters._

import graft.{Fixtures, SparkSpec}
import graft.ops.{DailyAgg, Enrich}
import graft.analytics.Ols
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end pipeline test (SURVEY.md §5): mini blockchain → full chain
  * (dedup → explode+join legs → union-distinct → remove-all dedup →
  * signed ledger split pre/post → location enrichment → daily agg →
  * OLS), with hand-computed expectations.
  */
class BtcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val outDir = graft.io.TempDirs.create("btc_pipeline").toString
  private lazy val (pre, post) = new BtcPipeline(spark, outDir).run(
    Fixtures.txDf(spark),
    Fixtures.flatInputsDf(spark),
    Fixtures.flatOutputsDf(spark),
    Fixtures.addressBookDf(spark),
    Enrich.loadWalletLocation(spark, Fixtures.walletLocationPath()))

  test("D2 tracking: every multi-appearance txid vanishes; pre-ledger is empty") {
    // txid_sum union-distinct rows per hash: tx1→2, tx2→2, tx3→3, tx4→1;
    // remove-all-duplicated keeps only tx4, which is post-split — so the
    // pre ledger is EMPTY but still readable with its full schema (the
    // empty-partitioned-write case).
    assert(pre.count() == 0)
    assert(pre.columns.toSeq == Seq("block_timestamp", "txid", "type",
      "location", "wallet", "addr", "val"))
  }

  test("post-ledger: exactly tx4's output leg, located via exchA→China") {
    val rows = post.select("txid", "type", "wallet", "location", "addr", "val")
      .as[(String, String, String, String, String, Double)].collect().toSet
    // tx4's input leg had no addresses (dropped by the INNER lateral
    // explode); its output addrB enriches via exchA → China.
    assert(rows == Set(("tx4", "output", "exchA", "China", "addrB", 0.049)))
  }

  test("ledger partition pruning: location filter reads one partition") {
    val china = post.filter($"location" === "China")
    val scan = china.queryExecution.executedPlan.collectLeaves().head.toString
    assert(china.count() == 1)
    assert(scan.contains("location")) // partition column in the scan spec
  }

  test("daily aggregation + series merge + OLS runs over the flow shape") {
    import graft.ops.Flows
    val all = Flows.simpleFlow(graft.Fixtures.txDf(spark))
    val outflow = DailyAgg.dailyFlow(all.filter($"type" === "input"), negate = true, "x")
    val inflow = DailyAgg.dailyFlow(all.filter($"type" === "output"), negate = false, "y")
    val merged = DailyAgg.merge(outflow, inflow)
    assert(merged.columns.sorted.toSeq == Seq("date", "x", "y"))
    assert(merged.count() == 3) // tx1, tx2, tx3 days have both legs
    val fit = Ols.fit(merged, "x", "y")
    assert(fit.n == 3 && !fit.slope.isNaN)
  }

  test("wallet_location loader keeps messy values verbatim, drops junk column") {
    val dim = Enrich.loadWalletLocation(spark, Fixtures.walletLocationPath())
    assert(!dim.columns.contains("Unnamed: 2"))
    val locs = dim.select("location").as[Option[String]].collect().toSet
    assert(locs.contains(Some("?")))
    assert(locs.contains(Some("Brazil,Zibralter,Mexico")))
    assert(locs.contains(None))
    // US and USA stay distinct opaque strings
    assert(locs.contains(Some("US")) && locs.contains(Some("USA")))
  }

  /** `body`'s result and the executed plans of the queries it runs,
    * final AQE stages included. */
  private def withPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Bridge.drainListeners(spark)
    spark.listenerManager.register(listener)
    val out = try { val r = body; Bridge.drainListeners(spark); r }
    finally spark.listenerManager.unregister(listener)
    (out, plans.asScala.toSeq)
  }

  private object Nodes extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case n => n }
  }

  test("plans: txidSum writes through one shuffle, flowLedger broadcasts no aggregate") {
    val p = new BtcPipeline(spark, graft.io.TempDirs.create("btc_plans").toString)
    val book = p.dedupAddressBook(Fixtures.addressBookDf(spark))
    val inLeg = p.txidLeg(Fixtures.flatInputsDf(spark), book, "txid_input")
    val outLeg = p.txidLeg(Fixtures.flatOutputsDf(spark), book, "txid_output")
    val (tracked, sumPlans) = withPlans(p.txidSum(inLeg, outLeg))
    assert(sumPlans.size == 1)
    val shuffles = Nodes(sumPlans.head).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, sumPlans.head)
    assert((shuffles.head.outputPartitioning match {
      case h: HashPartitioning => h.references.map(_.name).toSet
      case other => Set(other.toString)
    }) == Set("transaction_hash"))

    val (_, flowPlans) = withPlans(p.flowLedger(Fixtures.txDf(spark), tracked, pre = false))
    assert(flowPlans.size == 1)
    val broadcasts = Nodes(flowPlans.head).collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty, flowPlans.head)
    assert(broadcasts.forall(b =>
      !Nodes(b).exists(_.isInstanceOf[BaseAggregateExec])), flowPlans.head)
  }
}
