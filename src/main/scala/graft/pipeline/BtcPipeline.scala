package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The reference's staged CTAS chain (SURVEY.md §3 EP1, btcolap.sql) as
  * an explicit, type-checked pipeline: each stage is a DataFrame
  * transform; materialization points write parquet (the CTAS analog,
  * SURVEY §2.1 S4/S5). Dependency order is Scala call order — the same
  * manual sequencing the reference's analyst performed, minus the
  * copy-paste drift.
  *
  * Scale design: the address book, the wallet-location dim and the
  * tracked txid set broadcast, so `run` shuffles twice: (a) the
  * address-book dedup's aggregate on (wallet, address) and (b) one
  * exchange on transaction_hash in `txidSum`, shared by the union
  * distinct and the D2 window — both key-partitioned and AQE-coalesced.
  * The located ledgers partition by location so the analysis read path
  * prunes whole directories (SURVEY §4).
  */
final class BtcPipeline(spark: SparkSession, outDir: String,
                        splitDate: String = "2021-09-24") {

  /** CTAS-style materialization. Read-back pins the writer's schema —
    * an empty result (legal mid-pipeline, e.g. nothing pre-split) writes
    * no data files, and schema inference would otherwise fail.
    */
  private def write(df: DataFrame, name: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
    spark.read.schema(df.schema).parquet(s"$outDir/$name")
  }

  /** Stage 0 (btcolap.sql:1-15): dedup the externally-loaded address
    * book — D1 keep-one-per-(wallet,address).
    */
  def dedupAddressBook(addressBook: DataFrame): DataFrame =
    write(Dedup.keepAny(addressBook, Seq("wallet", "address")), "address_book")

  /** Stages txid_input2/txid_output2 (btcolap.sql:35-85): flatten the
    * flat input/output legs (E1) and attach wallet identity (J1).
    */
  def txidLeg(flatLeg: DataFrame, addressBook: DataFrame, name: String): DataFrame = {
    val exploded = ExplodeOps.flatten(flatLeg, "addresses", "iaddress")
      .select(col("block_timestamp"), col("iaddress"),
              col("transaction_hash"), col("block_number"))
    val joined = Enrich.attachWallet(exploded, addressBook, addrCol = "iaddress")
      .select(col("block_timestamp"), col("wallet"),
              col("iaddress").as("wallet_address"),
              col("transaction_hash"), col("block_number"))
    write(joined, name)
  }

  /** txid_sum2 (btcolap.sql:271-298): UNION DISTINCT of both legs (D5),
    * then D2 remove-all-duplicated transaction hashes.
    */
  def txidSum(input: DataFrame, output: DataFrame): DataFrame = {
    val cols = Seq("block_timestamp", "wallet", "wallet_address", "transaction_hash")
    // one hash exchange on the D2 key serves both steps: the distinct's
    // four-column key and the window's key both contain it
    val unioned = input.select(cols.map(col): _*)
      .unionByName(output.select(cols.map(col): _*))
      .repartition(col("transaction_hash"))
      .distinct()
    write(Dedup.removeAllDuplicated(unioned, Seq("transaction_hash")), "txid_sum")
  }

  /** simple_flow_{pre,post}SAFE (btcolap.sql:316-408): signed two-leg
    * ledger from nested transactions, restricted to the tracked txids,
    * split at the event date. The txid set joins as a broadcast
    * semi-join (J2 — the reference's CTE-filtered key set).
    */
  def flowLedger(tx: DataFrame, txidSum: DataFrame, pre: Boolean): DataFrame = {
    // no distinct: a semi-join ignores duplicate keys, and D2 already
    // left one row per hash
    val txids = txidSum.select(col("transaction_hash"))
    val flow = Flows.simpleFlow(tx)
      .join(broadcast(txids), col("txid") === col("transaction_hash"), "left_semi")
    val split = Flows.splitAt(flow, splitDate, pre)
    write(split, if (pre) "simple_flow_pre" else "simple_flow_post")
  }

  /** *_walletlocation (btcolap.sql:412-451): enrich the ledger with the
    * address book (wallet identity) + wallet→location dimension, then
    * persist partitioned by location so the per-country analysis reads
    * prune (the reference's `location = 'China'` filters,
    * btc_logregression_pre.py:23).
    */
  def locatedLedger(flow: DataFrame, addressBook: DataFrame,
                    walletLocation: DataFrame, name: String): DataFrame = {
    val withWallet = Enrich.attachWallet(flow, addressBook)
    val located = Enrich.attachLocation(withWallet, walletLocation)
      .select(col("block_timestamp"), col("txid"), col("type"),
              col("location"), col("wallet"), col("addr"), col("val"))
    located.write.mode(SaveMode.Overwrite)
      .partitionBy("location").parquet(s"$outDir/$name")
    spark.read.schema(located.schema).parquet(s"$outDir/$name")
  }

  /** Full chain from raw sources to the located pre/post ledgers. */
  def run(tx: DataFrame, inputs: DataFrame, outputs: DataFrame,
          addressBook: DataFrame, walletLocation: DataFrame): (DataFrame, DataFrame) = {
    val book = dedupAddressBook(addressBook)
    val inLeg = txidLeg(inputs, book, "txid_input")
    val outLeg = txidLeg(outputs, book, "txid_output")
    val tracked = txidSum(inLeg, outLeg)
    val pre = flowLedger(tx, tracked, pre = true)
    val post = flowLedger(tx, tracked, pre = false)
    (locatedLedger(pre, book, walletLocation, "ledger_pre"),
     locatedLedger(post, book, walletLocation, "ledger_post"))
  }
}
