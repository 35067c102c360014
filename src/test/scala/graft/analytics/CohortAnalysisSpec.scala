package graft.analytics

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.ops.DailyAgg
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge

class CohortAnalysisSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic located ledger: 40 days straddling the split; China
    * input magnitudes follow x, abroad outputs follow c·x^1.5 — the
    * log-log fit must recover slope 1.5 on each cohort.
    */
  private def ledger = {
    val base = java.time.LocalDate.parse("2021-09-04")
    (0 until 40).flatMap { d =>
      val day = java.sql.Timestamp.valueOf(base.plusDays(d).atStartOfDay.plusHours(12))
      val x = 10.0 + d
      Seq(
        (day, s"tx$d-in", "input", "China", s"w$d", s"a$d", -x),
        (day, s"tx$d-out", "output", "Russia", s"w$d", s"b$d", 2.0 * math.pow(x, 1.5)),
        // noise rows the filters must exclude:
        (day, s"tx$d-n1", "input", "Russia", s"w$d", s"c$d", -5.0),
        (day, s"tx$d-n2", "output", "China", s"w$d", s"d$d", 7.0))
    }.toDF("block_timestamp", "txid", "type", "location", "wallet", "addr", "val")
  }

  test("prePost recovers the power-law slope on both cohorts and splits days correctly") {
    val (pre, post) = CohortAnalysis.prePost(ledger, "2021-09-24",
      outLocation = "China", inLocationNot = "China")
    // pre: days < 09-24 midnight → d 0..19; post: the noon timestamp on
    // the split day itself is > midnight, so d 20..39
    assert(pre.fit.n == 20 && post.fit.n == 20)
    assert(math.abs(pre.fit.slope - 1.5) < 1e-9)
    assert(math.abs(post.fit.slope - 1.5) < 1e-9)
    assert(pre.fit.r2 > 0.999999)
    // prediction columns present and residuals ~0 on the exact power law
    assert(pre.daily.columns.contains("yhat"))
    assert(pre.daily.selectExpr("max(abs(residual))").head().getDouble(0) < 1e-9)
  }

  test("minFlow filter drops low-activity days like the reference's txid_input > 1") {
    val r = CohortAnalysis.run(ledger, "China", "China", minFlow = 25.0)
    // outflow = x = 10..49 daily; > 25 keeps x in 26..49
    assert(r.fit.n == 24)
  }

  /** The reference formulation, kept as the oracle: per cohort, two
    * daily aggregates, their inner merge on date, then the fit. */
  private def reference(ledger: DataFrame, minFlow: Double = 1.0): (DataFrame, Ols.Fit) = {
    val outflow = DailyAgg.dailyFlow(
      ledger.filter(col("type") === "input" && col("location") === "China"),
      negate = true, as = "outflow")
    val inflow = DailyAgg.dailyFlow(
      ledger.filter(col("type") === "output" && col("location") =!= "China"),
      negate = false, as = "inflow")
    val merged = DailyAgg.merge(outflow, inflow)
      .filter(col("outflow") > minFlow && col("inflow") > 0.0)
    (merged, Ols.fit(merged, "outflow", "inflow", logLog = true))
  }

  private val split = "2021-09-24 15:30:00"

  /** The edge cases of one-scan cohorts, as a parquet ledger: a row at
    * exactly the split instant, the split day holding rows on both sides
    * of a non-midnight split, a null-location output, a day with only
    * outflow and a day whose outflow is exactly minFlow.
    */
  private lazy val edgeLedger = {
    def row(t: String, tpe: String, loc: String, v: Double) =
      (ts(t), s"tx-$t-$tpe-$v", tpe, loc, "w", "a", v)
    val base = java.time.LocalDate.parse("2021-09-14")
    val regular = (0 until 20).flatMap { d =>
      val day = base.plusDays(d).toString
      if (day == "2021-09-24") Nil
      else {
        val x = 3.0 + d * 1.5
        Seq(row(s"$day 08:00:00", "input", "China", -x),
            row(s"$day 20:00:00", "input", "China", -0.5 * x),
            row(s"$day 09:00:00", "output", "Russia", 2.0 * math.pow(x, 1.3) + d % 3),
            row(s"$day 09:00:00", "output", "China", 11.0))
      }
    }
    val edges = Seq(
      row(split, "input", "China", -100.0),
      row(split, "output", "Russia", 100.0),
      row("2021-09-24 10:00:00", "input", "China", -4.0),
      row("2021-09-24 11:00:00", "output", "US", 9.0),
      row("2021-09-24 18:00:00", "input", "China", -6.0),
      row("2021-09-24 19:00:00", "output", "Russia", 13.0),
      row("2021-09-16 12:00:00", "output", null, 1000.0),
      row("2021-10-10 12:00:00", "input", "China", -8.0),
      row("2021-10-11 12:00:00", "input", "China", -1.0),
      row("2021-10-11 13:00:00", "output", "Russia", 5.0))
    val dir = graft.io.TempDirs.create("cohort_spec").resolve("ledger").toString
    (regular ++ edges)
      .toDF("block_timestamp", "txid", "type", "location", "wallet", "addr", "val")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def days(df: DataFrame): Seq[(java.sql.Timestamp, Double, Double)] =
    df.select("date", "outflow", "inflow").as[(java.sql.Timestamp, Double, Double)]
      .collect().toSeq.sortBy(_._1.getTime)

  private def assertSame(got: CohortAnalysis.Result,
                         want: (DataFrame, Ols.Fit)): Unit = {
    val (g, w) = (days(got.daily), days(want._1))
    assert(g.map(_._1) == w.map(_._1))
    g.zip(w).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) < 1e-9 && math.abs(a._3 - b._3) < 1e-9, (a, b))
    }
    def close(a: Double, b: Double) =
      (a.isNaN && b.isNaN) || math.abs(a - b) < 1e-9
    val (f, r) = (got.fit, want._2)
    assert(f.n == r.n, (f, r))
    Seq(f.slope -> r.slope, f.intercept -> r.intercept, f.r2 -> r.r2,
        f.rmse -> r.rmse, f.slopeStdErr -> r.slopeStdErr, f.tStat -> r.tStat)
      .foreach { case (a, b) => assert(close(a, b), (f, r)) }
  }

  test("prePost and run match the two-aggregate reference on the edge cases") {
    val d = lit(split).cast("timestamp")
    val t: Column = col("block_timestamp")
    val (pre, post) = CohortAnalysis.prePost(edgeLedger, split, "China", "China")
    assertSame(pre, reference(edgeLedger.filter(t < d)))
    assertSame(post, reference(edgeLedger.filter(t > d)))
    // the split day is in both cohorts, each with its own side's sums
    val splitDay = ts("2021-09-24 00:00:00")
    assert(days(pre.daily).filter(_._1 == splitDay).map(r => (r._2, r._3)) == Seq((4.0, 9.0)))
    assert(days(post.daily).filter(_._1 == splitDay).map(r => (r._2, r._3)) == Seq((6.0, 13.0)))
    assert(pre.fit.n >= 3 && post.fit.n >= 3)
    assertSame(CohortAnalysis.run(edgeLedger, "China", "China"), reference(edgeLedger))
    assertSame(CohortAnalysis.run(edgeLedger, "China", "China", minFlow = 12.0),
      reference(edgeLedger, minFlow = 12.0))
    // prediction columns keep their names and types
    assert(pre.daily.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "date" -> "timestamp", "outflow" -> "double", "inflow" -> "double",
      "log_x" -> "double", "log_y" -> "double", "yhat" -> "double",
      "residual" -> "double"))
  }

  test("prePost plus both daily writes runs at most 8 Spark jobs") {
    val ledger = edgeLedger
    ledger.count() // the spec's own parquet write and read are not counted
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (pre, post) = CohortAnalysis.prePost(ledger, split, "China", "China")
      Seq(pre, post).foreach(_.daily.write.format("noop").mode("overwrite").save())
      Bridge.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 8, s"${jobs.get} jobs")
  }
}
