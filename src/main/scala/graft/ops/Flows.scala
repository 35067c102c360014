package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Flow-ledger construction (SURVEY.md §2 "simple_flow" family,
  * btcolap.sql:89-141,316-408): turn nested transactions into a signed
  * per-(txid, address) flow ledger — inputs negative, outputs positive,
  * satoshi → BTC scaling by 1e8 (btcolap.sql:107,126).
  */
object Flows {

  val SatoshisPerBtc = 100000000L

  /** One signed leg: double-explode a transaction leg array and scale.
    * `sign` is -1 for inputs, +1 for outputs. The division happens in
    * DecimalType (value is DECIMAL(38,9)) and only then casts to double
    * — matching the reference's NUMERIC/1e8 semantics without binary
    * rounding surprises (SURVEY §7.3). The sign is applied by negation,
    * which keeps DECIMAL(38,9): multiplying by an integer literal widens
    * past precision 38, so Spark drops the scale to 7 and the quotient
    * loses the last satoshi digit.
    */
  def leg(tx: DataFrame, legCol: String, typeTag: String, sign: Int): DataFrame = {
    val satoshi = if (sign < 0) -col("__satoshi") else col("__satoshi")
    ExplodeOps.explodeLeg(
        tx.select(col("hash").as("txid"), col("block_timestamp"), col(legCol)),
        legCol, addrAs = "addr", valueAs = "__satoshi")
      .select(
        col("block_timestamp"), col("txid"),
        lit(typeTag).as("type"),
        col("addr"),
        (satoshi / lit(SatoshisPerBtc)).cast("double").as("val"))
  }

  /** simple_flow (btcolap.sql:316-360 shape): UNION ALL of the signed
    * input and output legs. unionByName — the reference's positional
    * UNION with identically-authored columns (SURVEY §7.3).
    */
  def simpleFlow(tx: DataFrame): DataFrame =
    leg(tx, "inputs", "input", -1)
      .unionByName(leg(tx, "outputs", "output", +1))

  /** Pre/post event split (the 2021-09-24 SAFE-event date constant,
    * btcolap.sql:97,152,203,322,370) as a parameterized range filter.
    */
  def splitAt(flow: DataFrame, splitDate: String,
              pre: Boolean, lowerBound: Option[String] = None): DataFrame = {
    val d = lit(splitDate).cast("timestamp")
    val base = if (pre) flow.filter(col("block_timestamp") < d)
               else flow.filter(col("block_timestamp") > d)
    lowerBound.fold(base)(lb =>
      base.filter(col("block_timestamp") >= lit(lb).cast("timestamp")))
  }

  /** congruent (btcolap.sql:234-266): flows of transactions whose
    * input_count = output_count, via the grouped-variant constraints
    * (btcolap.sql:229-231): keep a txid when its legs are a clean 1:1
    * pair with distinct endpoints, or a many:1 fan-in.
    */
  def congruentConstraint(grouped: DataFrame): DataFrame =
    grouped.filter(
      (col("input_count") === 1 && col("output_count") === 1 &&
        try_element_at(col("input_addresses"), lit(1)) =!=
        try_element_at(col("output_addresses"), lit(1))) ||
      (col("input_count") > 1 && col("output_count") === 1))

  /** simple_flow v3 grouped shape (btcolap.sql:198-231): per txid,
    * conditional counts + conditional address arrays (ARRAY_AGG … IGNORE
    * NULLS ≡ collect_list dropping CASE nulls), sorted for determinism.
    */
  def groupedFlow(flow: DataFrame): DataFrame =
    flow.groupBy(col("txid"))
      .agg(
        count(when(col("type") === "input", 1)).as("input_count"),
        count(when(col("type") === "output", 1)).as("output_count"),
        sort_array(collect_list(when(col("type") === "input", col("addr"))))
          .as("input_addresses"),
        sort_array(collect_list(when(col("type") === "output", col("addr"))))
          .as("output_addresses"))
}
