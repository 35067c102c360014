package olapbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{CohortAnalysis, Ols}
import graft.model.Schemas
import graft.ops.Enrich
import graft.pipeline.BtcPipeline

/** The paper's pipeline on a generated chain, one op per stage of
  * `BtcPipeline.run`, then the pre/post cohort fits around the split
  * date. Each pass writes to its own directory, so every pass's stage
  * outputs stay readable for the check. */
final class BtcLedger(spark: SparkSession, data: String, outRoot: String) extends Workload {
  import BtcLedger._

  private val fits = scala.collection.mutable.ArrayBuffer.empty[(Int, Ols.Fit, Ols.Fit)]

  private def read(name: String, schema: org.apache.spark.sql.types.StructType) =
    spark.read.schema(schema).parquet(s"$data/$name.parquet")

  def pass(k: Int, rng: scala.util.Random): Seq[Op] = {
    val dir = s"$outRoot/p$k"
    val p = new BtcPipeline(spark, dir, SplitDate)
    var book, inLeg, outLeg, tracked, flowPre, flowPost, pre, post: DataFrame = null
    var dim: DataFrame = null
    def written(name: String): (AnyRef, String) => String = (_, _) => s"$dir/$name"
    def dumped: (AnyRef, String) => String = (r, path) => {
      r.asInstanceOf[DataFrame].write.mode("overwrite").parquet(path)
      path
    }
    def stage(name: String, dump: (AnyRef, String) => String)(f: => DataFrame) =
      Op(name, () => f, _ => (), dump)
    Seq(
      stage("ledger.address_book", written("address_book")) {
        book = p.dedupAddressBook(read("address_book", Schemas.addressBook)); book
      },
      stage("ledger.txid_input", written("txid_input")) {
        inLeg = p.txidLeg(read("inputs", Schemas.flatLeg), book, "txid_input"); inLeg
      },
      stage("ledger.txid_output", written("txid_output")) {
        outLeg = p.txidLeg(read("outputs", Schemas.flatLeg), book, "txid_output"); outLeg
      },
      stage("ledger.txid_sum", written("txid_sum")) {
        tracked = p.txidSum(inLeg, outLeg); tracked
      },
      stage("ledger.flow_pre", written("simple_flow_pre")) {
        flowPre = p.flowLedger(read("transactions", Schemas.transactions), tracked, pre = true)
        flowPre
      },
      stage("ledger.flow_post", written("simple_flow_post")) {
        flowPost = p.flowLedger(read("transactions", Schemas.transactions), tracked, pre = false)
        flowPost
      },
      stage("ledger.located_pre", dumped) {
        dim = Enrich.loadWalletLocation(spark, s"$data/wallet_location.ndjson")
        pre = p.locatedLedger(flowPre, book, dim, "ledger_pre"); pre
      },
      stage("ledger.located_post", dumped) {
        post = p.locatedLedger(flowPost, book, dim, "ledger_post"); post
      },
      Op("cohort.prepost",
        () => CohortAnalysis.prePost(pre.unionByName(post), SplitDate, Cohort, Cohort),
        r => {
          val (a, b) = r.asInstanceOf[(CohortAnalysis.Result, CohortAnalysis.Result)]
          Seq(a, b).foreach(_.daily.write.format("noop").mode("overwrite").save())
        },
        (r, path) => {
          val (a, b) = r.asInstanceOf[(CohortAnalysis.Result, CohortAnalysis.Result)]
          fits.synchronized(fits += ((k, a.fit, b.fit)))
          s"fits:$k"
        })
    )
  }

  override def extra(out: Json): Unit = out.arr("fits") { arr =>
    fits.foreach { case (k, a, b) =>
      arr.obj { o =>
        o.num("pass", k)
        Seq("pre" -> a, "post" -> b).foreach { case (side, f) =>
          o.obj(side) { x =>
            x.num("slope", f.slope); x.num("intercept", f.intercept)
            x.num("r2", f.r2); x.num("rmse", f.rmse); x.num("n", f.n.toDouble)
          }
        }
      }
    }
  }
}

object BtcLedger {
  val SplitDate = "2021-09-24"
  val Cohort = "China"
  val StageNames: Seq[String] = Seq("ledger.address_book", "ledger.txid_input",
    "ledger.txid_output", "ledger.txid_sum", "ledger.flow_pre", "ledger.flow_post",
    "ledger.located_pre", "ledger.located_post", "cohort.prepost")
}
