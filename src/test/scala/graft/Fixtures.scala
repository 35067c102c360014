package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Transaction, TxLeg}

/** Domain fixtures per FIXTURES.md §A — a mini blockchain covering:
  * 1-in/1-out, n-in/1-out, congruent (in=out count), multi-address inner
  * arrays, an empty address array (explode must drop it), and timestamps
  * straddling the 2021-09-24 split date.
  */
object Fixtures {
  private def t(s: String) = java.sql.Timestamp.valueOf(s)
  private def btc(satoshi: Long) = BigDecimal(satoshi)

  // 1 BTC = 100,000,000 satoshi
  val transactions: Seq[Transaction] = Seq(
    // tx1: 1-in/1-out, pre-split
    Transaction("tx1", t("2021-09-20 10:00:00"), 700001L, 1L, 1L,
      inputs  = Seq(TxLeg(Seq("addrA"), btc(150000000L))),
      outputs = Seq(TxLeg(Seq("addrB"), btc(149000000L)))),
    // tx2: 2-in/1-out fan-in, pre-split; one input has two addresses
    // (multisig-style — double explode fans out)
    Transaction("tx2", t("2021-09-22 12:00:00"), 700002L, 2L, 1L,
      inputs  = Seq(TxLeg(Seq("addrB", "addrC"), btc(50000000L)),
                    TxLeg(Seq("addrD"), btc(25000000L))),
      outputs = Seq(TxLeg(Seq("addrE"), btc(74000000L)))),
    // tx3: congruent 2-in/2-out, post-split
    Transaction("tx3", t("2021-09-26 09:00:00"), 700010L, 2L, 2L,
      inputs  = Seq(TxLeg(Seq("addrE"), btc(30000000L)),
                    TxLeg(Seq("addrA"), btc(10000000L))),
      outputs = Seq(TxLeg(Seq("addrF"), btc(20000000L)),
                    TxLeg(Seq("addrG"), btc(19000000L)))),
    // tx4: empty address array on its input — the correlated UNNEST
    // drops this leg entirely (INNER lateral semantics)
    Transaction("tx4", t("2021-09-27 15:00:00"), 700011L, 1L, 1L,
      inputs  = Seq(TxLeg(Seq.empty, btc(5000000L))),
      outputs = Seq(TxLeg(Seq("addrB"), btc(4900000L)))))

  case class FlatLeg(block_timestamp: java.sql.Timestamp,
                     transaction_hash: String, block_number: Long,
                     addresses: Seq[String])
  val flatInputs: Seq[FlatLeg] = transactions.flatMap(tx =>
    tx.inputs.map(l => FlatLeg(tx.block_timestamp, tx.hash, tx.block_number, l.addresses)))
  val flatOutputs: Seq[FlatLeg] = transactions.flatMap(tx =>
    tx.outputs.map(l => FlatLeg(tx.block_timestamp, tx.hash, tx.block_number, l.addresses)))

  case class BookRow(wallet: String, address: String)
  /** Address book with exact duplicates (the D1 target) and two wallets
    * sharing a prefix but not equal (join must not fuzzy-match).
    */
  val addressBook: Seq[BookRow] = Seq(
    BookRow("exchA", "addrA"), BookRow("exchA", "addrA"), // dup pair
    BookRow("exchA", "addrB"),
    BookRow("exchB", "addrE"),
    BookRow("exchB2", "addrEE"),                          // prefix-sharing
    BookRow("exchC", "addrF"))

  /** Messy wallet→location NDJSON (FIXTURES.md A4): null location, '?',
    * multi-country, junk column, US vs USA.
    */
  val walletLocationNdjson: String =
    """{"wallet":"exchA","location":"China"}
      |{"wallet":"exchB","location":"Russia","Unnamed: 2":"note here"}
      |{"wallet":"exchB2","location":"?"}
      |{"wallet":"exchC","location":null}
      |{"wallet":"exchD","location":"Brazil,Zibralter,Mexico"}
      |{"wallet":"exchE","location":"US"}
      |{"wallet":"exchF","location":"USA"}
      |""".stripMargin

  def txDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    transactions.toDF()
  }
  def flatInputsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    flatInputs.toDF()
  }
  def flatOutputsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    flatOutputs.toDF()
  }
  def addressBookDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    addressBook.toDF()
  }
  def walletLocationPath(): String = {
    val f = graft.io.TempDirs.create("wallet_location").resolve("wallet_location.ndjson")
    java.nio.file.Files.writeString(f, walletLocationNdjson)
    f.toString
  }
}
