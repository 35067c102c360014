package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's analysis read path (EP2, btc_logregression_pre.py /
  * _post.py) as one library call: located-ledger parquet → per-cohort
  * daily flow series → inner merge → min-activity filter → log-log OLS
  * with diagnostics → prediction table.
  *
  * The two Python scripts differ only in their date cohort; here the
  * cohort is a parameter. Both series of every cohort come from ONE
  * aggregate over the ledger, keyed by (cohort, day): a day missing
  * from one series gets a null sum there, which the activity filter
  * drops exactly as the reference's inner merge on date does. That
  * aggregate is the only pass over the ledger. Its rows — one per
  * cohort and day, so O(days) at any ledger size: ~10^3 for the
  * reference's three years — are collected, and each cohort's daily
  * table is a local frame built from them, so the fit (analytics.Ols)
  * and the prediction columns never re-read the ledger.
  */
object CohortAnalysis {

  /** One cohort result: the merged daily table (with predictions) and
    * the fit. */
  final case class Result(daily: DataFrame, fit: Ols.Fit)

  /** @param ledger      located flow ledger (block_timestamp, type,
    *                     location, val — Schemas.flowLedger shape)
    * @param outLocation cohort for the OUTFLOW series (reference:
    *                     'China' inputs, negated to magnitudes)
    * @param inLocationNot cohort predicate for the INFLOW series is
    *                     location != this (reference: abroad = not China)
    * @param minFlow     drop days with outflow below this (the
    *                     reference's `df[df.txid_input > 1]` filter,
    *                     pre.py:28)
    */
  def run(ledger: DataFrame, outLocation: String, inLocationNot: String,
          minFlow: Double = 1.0): Result =
    cohorts(ledger, lit(0), 1, outLocation, inLocationNot, minFlow).head

  /** Pre/post event-date pair — the reference's two scripts in one
    * call, split on the SAFE date (btcolap.sql:97,322,370). Rows at
    * exactly the split instant belong to neither cohort; the cohort is
    * part of the group key, so a split inside a day stays exact.
    */
  def prePost(ledger: DataFrame, splitDate: String, outLocation: String,
              inLocationNot: String, minFlow: Double = 1.0): (Result, Result) = {
    val d = lit(splitDate).cast("timestamp")
    val ts = col("block_timestamp")
    val Seq(pre, post) = cohorts(ledger, when(ts < d, 0).when(ts > d, 1), 2,
      outLocation, inLocationNot, minFlow)
    (pre, post)
  }

  /** One result per cohort 0 until `n`; `cohort` maps a ledger row to
    * its cohort, null for none.
    */
  private def cohorts(ledger: DataFrame, cohort: Column, n: Int,
                      outLocation: String, inLocationNot: String,
                      minFlow: Double): Seq[Result] = {
    val isOut = col("type") === "input" && col("location") === outLocation
    val isIn = col("type") === "output" && col("location") =!= inLocationNot
    // minFlow thresholds the OUTFLOW series only (reference parity:
    // df[df.txid_input > 1], pre.py:28); inflow just needs to be in the
    // log domain (> 0) for the fit. A row of no cohort or of no day
    // (null) never reached the merge either.
    val days = ledger.filter(isOut || isIn)
      .groupBy(cohort.as("cohort"),
               date_trunc("day", col("block_timestamp")).as("date"))
      .agg(sum(when(isOut, -col("val"))).as("outflow"),
           sum(when(isIn, col("val"))).as("inflow"))
      .filter(col("cohort").isNotNull && col("date").isNotNull &&
              col("outflow") > minFlow && col("inflow") > 0.0)
    val schema = StructType(days.schema.drop(1))
    val rows = days.collect().groupBy(_.getInt(0))
    (0 until n).map { c =>
      val daily = rows.getOrElse(c, Array.empty[Row])
        .map(r => Row.fromSeq(r.toSeq.tail))
      fitted(ledger.sparkSession.createDataFrame(daily.toSeq.asJava, schema))
    }
  }

  private def fitted(merged: DataFrame): Result = {
    val fit = Ols.fit(merged, "outflow", "inflow", logLog = true)
    val withPred =
      if (fit.n >= 2)
        merged
          .withColumn("log_x", log(col("outflow")))
          .withColumn("log_y", log(col("inflow")))
          .withColumn("yhat", lit(fit.intercept) + lit(fit.slope) * col("log_x"))
          .withColumn("residual", col("log_y") - col("yhat"))
      else merged
    Result(withPred, fit)
  }
}
