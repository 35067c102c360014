package graft.ops

import graft.{Fixtures, SparkSpec}
import org.apache.spark.sql.functions._

class ExplodeFlowsSpec extends SparkSpec {
  import spark.implicits._

  test("E1 flatten: one row per element; empty arrays drop (INNER lateral)") {
    val out = ExplodeOps.flatten(Fixtures.flatInputsDf(spark), "addresses", "iaddress")
    // tx1:1 + tx2:(2+1) + tx3:(1+1) + tx4:0 (empty array drops)
    assert(out.count() == 6)
    assert(out.filter($"transaction_hash" === "tx4").count() == 0)
  }

  test("E2 explodeLeg: double explode keeps struct scalars per address") {
    val out = ExplodeOps.explodeLeg(
      Fixtures.txDf(spark).select($"hash", $"inputs"), "inputs", "addr", "satoshi")
    val tx2 = out.filter($"hash" === "tx2")
      .select($"addr", $"satoshi".cast("long")).as[(String, Long)].collect().toSet
    // the two-address input leg repeats its value for each address
    assert(tx2 == Set(("addrB", 50000000L), ("addrC", 50000000L), ("addrD", 25000000L)))
  }

  test("E3 renest∘explode preserves the multiset of array contents") {
    val flat = ExplodeOps.flatten(Fixtures.flatInputsDf(spark), "addresses", "addr")
    val renested = ExplodeOps.renest(flat, Seq("transaction_hash"), col("addr"), "addrs")
    val m = renested.as[(String, Seq[String])].collect().toMap
    assert(m("tx2").sorted == Seq("addrB", "addrC", "addrD"))
    assert(!m.contains("tx4")) // empty-array tx never survives the explode
  }

  test("Flows.simpleFlow: inputs negative, outputs positive, satoshi scaled to BTC") {
    val flow = Flows.simpleFlow(Fixtures.txDf(spark))
    val tx1 = flow.filter($"txid" === "tx1")
      .select($"type", $"val").as[(String, Double)].collect().toSet
    assert(tx1 == Set(("input", -1.5), ("output", 1.49)))
    // per-tx flow sum = -fee ≤ 0 (sign-convention invariant, SURVEY §5)
    // — except tx4, whose input leg has no addresses: the INNER lateral
    // explode drops it, leaving only the positive output leg.
    val fees = flow.filter($"txid" =!= "tx4")
      .groupBy("txid").agg(sum("val").as("net"))
      .filter($"net" > 1e-12)
    assert(fees.isEmpty)
  }

  test("Flows.simpleFlow keeps every satoshi digit of a DECIMAL(38,9) value") {
    // the reference's NUMERIC(38,9) legs, as the parquet chains store them
    val tx = spark.sql("""SELECT 'tx9' AS hash,
      TIMESTAMP'2021-09-20 10:00:00' AS block_timestamp,
      array(named_struct('addresses', array('addrA'),
        'value', CAST(123456789 AS DECIMAL(38,9)))) AS inputs,
      array(named_struct('addresses', array('addrB'),
        'value', CAST(123456781 AS DECIMAL(38,9)))) AS outputs""")
    val vals = Flows.simpleFlow(tx).select($"type", $"val")
      .as[(String, Double)].collect().toSet
    assert(vals == Set(("input", -1.23456789), ("output", 1.23456781)))
  }

  test("Flows.groupedFlow + congruentConstraint: 1:1 distinct pair or many:1 only") {
    val grouped = Flows.groupedFlow(Flows.simpleFlow(Fixtures.txDf(spark)))
    val kept = Flows.congruentConstraint(grouped).select("txid").as[String].collect().toSet
    // tx1: 1:1 with addrA≠addrB → kept; tx2: 3 exploded inputs:1 output → kept
    // tx3: 2:2 → dropped; tx4: 0:1 → dropped
    assert(kept == Set("tx1", "tx2"))
  }

  test("Flows.splitAt: pre/post partition around the event date") {
    val flow = Flows.simpleFlow(Fixtures.txDf(spark))
    val pre = Flows.splitAt(flow, "2021-09-24", pre = true)
    val post = Flows.splitAt(flow, "2021-09-24", pre = false)
    assert(pre.select("txid").distinct().as[String].collect().toSet == Set("tx1", "tx2"))
    assert(post.select("txid").distinct().as[String].collect().toSet == Set("tx3", "tx4"))
  }
}
