package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The round-9 monitoring compositions: t153 (streaming CUSUM) must
  * agree with its batch replay, and t154 (drift panel) must be a
  * faithful join of the three detectors it composes.
  */
class MonitorComposeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("t153: streaming CUSUM equals the batch CUSUM over watermark-finalized days") {
    val streamed = TrainingQueries.t153StreamCusum(spark, sfDir)
      .collect().map(_.toSeq).toSeq

    // Batch replay: same daily counts restricted to windows whose end
    // is at or below max(ts) - 1 day (the availableNow watermark), then
    // the identical CUSUM chain.
    val e = graft.Tables.events(spark, sfDir)
    val wm = e.agg(max(col("ts"))).head().getTimestamp(0).toInstant
      .minusSeconds(86400)
    val daily = e
      .withColumn("day", date_trunc("day", col("ts")))
      .filter(col("day") + expr("INTERVAL 1 DAY") <= lit(java.sql.Timestamp.from(wm)))
      .groupBy(col("event_type"), col("day").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
    val batch = graft.ops.Trend
      .cusumChangePoint(daily, Seq("event_type"), "day", "x")
      .orderBy(col("event_type"))
      .collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("t154: panel rows reproduce the three detectors and the any-flag is their disjunction") {
    val panel = TrainingQueries.t154DriftPanel(spark, sfDir).collect()
    assert(panel.nonEmpty)
    panel.foreach { r =>
      assert(r.getAs[Boolean]("any_drifted") ==
        (r.getAs[Boolean]("ks_drifted") || r.getAs[Boolean]("psi_drifted")
          || r.getAs[Boolean]("chi2_drifted")))
    }

    // The KS column must match the detector run standalone on the same
    // split — guards the join/select wiring against silent column drift.
    val events = graft.Tables.events(spark, sfDir)
    val side = datediff(to_date(col("ts")),
      lit("1970-01-01").cast("date")) % 2 === 0
    val ks = graft.ops.Drift.ksStatistic(events, Seq("event_type"), side, "value")
      .select(col("event_type"), col("ks_d"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    panel.foreach { r =>
      assert(r.getAs[Double]("ks_d") == ks(r.getAs[String]("event_type")))
    }
  }

  test("t154: a planted shift trips every detector; identical halves trip none") {
    import spark.implicits._
    // 400 rows/side/group: "shifted" moves mass 10..50 -> 310..350,
    // "same" repeats the identical values on both sides.
    val rows =
      (0 until 400).map(i => ("shifted", true, 10.0 + (i % 41))) ++
      (0 until 400).map(i => ("shifted", false, 310.0 + (i % 41))) ++
      (0 until 400).map(i => ("same", true, 10.0 + (i % 41) * 6)) ++
      (0 until 400).map(i => ("same", false, 10.0 + (i % 41) * 6))
    val df = rows.toDF("g", "sa", "v")
    val side = col("sa")
    val edges = Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0, 400.0)

    val ks = graft.ops.Drift.ksStatistic(df, Seq("g"), side, "v")
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Boolean]("drifted")).toMap
    val psi = graft.ops.Drift.psi(df, Seq("g"), side, "v", edges)
      .collect().map(r => r.getAs[String]("g") -> !r.getAs[Boolean]("stable")).toMap
    val chi = graft.ops.Drift.chiSquareDrift(
        df.withColumn("__vb", least(floor(col("v") / 100), lit(4)).cast("int")),
        Seq("g"), side, "__vb")
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Boolean]("drifted")).toMap

    assert(ks("shifted") && psi("shifted") && chi("shifted"))
    assert(!ks("same") && !psi("same") && !chi("same"))
  }
}
