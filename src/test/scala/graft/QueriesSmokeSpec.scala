package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll

import graft.plans.PlanShape

/** Smoke guard over the whole driver contract: every query in
  * SparkEntry.queries must execute and produce rows on the sf0.001
  * tables (the driver's t1 smoke scale), and the flagship entry too.
  * Catches regressions that the per-operator specs don't see (wiring,
  * table schemas, empty-result drift).
  *
  * Each query's [[PlanShape]] row must also equal its row in
  * `docs/plan_shape.tsv`, so a plan change fails here as a diff. The
  * actual rows go to `target/plan_shape.tsv`: to accept a plan change,
  * review the diff and copy that file over the baseline.
  */
class QueriesSmokeSpec extends SparkSpec with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val baselineFile = "docs/plan_shape.tsv"
  private val actualFile = "target/plan_shape.tsv"

  private lazy val baselineRows =
    Files.readAllLines(Paths.get(baselineFile)).asScala.toSeq
  private lazy val baseline: Map[String, String] =
    baselineRows.drop(1).map(r => r.takeWhile(_ != '\t') -> r).toMap
  private val actual = mutable.Map.empty[String, String]

  override def afterAll(): Unit = {
    val rows = PlanShape.Header +: actual.toSeq.sortBy(_._1).map(_._2)
    Files.write(Paths.get(actualFile), rows.mkString("", "\n", "\n").getBytes)
    super.afterAll()
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      val conf = spark.conf.getAll
      val df = fn(spark, sfDir)
      val shape = PlanShape.row(name, df)
      actual(name) = shape
      assert(df.count() > 0)
      // building and running a query leaves the shared session's conf
      // as it found it
      val after = spark.conf.getAll
      val changed = (conf.keySet ++ after.keySet).filter(k => conf.get(k) != after.get(k))
      assert(changed.isEmpty, s"$name changed the session conf: " +
        changed.map(k => s"$k: ${conf.get(k)} -> ${after.get(k)}").mkString(", "))
      val expected = baseline.getOrElse(name, "(no row)")
      assert(shape == expected, s"plan shape of $name differs from " +
        s"$baselineFile (all rows: $actualFile)\n" +
        s"expected: $expected\nactual:   $shape")
    }
  }

  test("docs/plan_shape.tsv has the current header, one row per query, no stale rows") {
    assert(baselineRows.head == PlanShape.Header)
    assert(baseline.size == baselineRows.size - 1, "duplicate query rows")
    val stale = baseline.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows for queries that no longer exist: $stale")
  }

  test("PlanShape counts a hand-built sort-merge join, broadcast join and sort, and pins") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val li = Tables.lineitem(spark, sfDir)
    val orders = Tables.orders(spark, sfDir).hint("merge")
    val nation = Tables.nation(spark, sfDir)
    val df = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(nation), col("o_custkey") % 25 === col("n_nationkey"))
      .orderBy("o_orderdate")
    // query, range/hash/other shuffles, broadcast exchanges, broadcast
    // joins, sort-merge joins, sorts (2 under the merge join + the
    // orderBy), scans per table, RDD scans, in-memory scans
    assert(PlanShape.row("hand", df) ==
      "hand\t1\t2\t0\t1\t1\t1\t3\tlineitem:1,nation:1,orders:1\t0\t0")
    val cached = spark.range(3).toDF("k").cache()
    val pinned = spark.range(3).toDF("k").localCheckpoint()
    assert(PlanShape.row("pins", cached.join(pinned, "k")) ==
      "pins\t0\t0\t0\t1\t1\t0\t0\t-\t1\t1")
    cached.unpersist()
  }

  test("every oracle key corresponds to a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("approx_percentile (the cluster-scale substitute for q32) lands near the exact value") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sfDir)
    val r = li.agg(
        percentile(col("l_quantity"), lit(0.5)).as("exact"),
        approx_percentile(col("l_quantity"), lit(0.5), lit(1000)).as("approx"))
      .head()
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(exact - approx) <= 0.05 * math.max(1.0, exact),
      s"approx $approx too far from exact $exact")
  }
  test("session_window boundary is INCLUSIVE: exactly-gap event merges; one tick past splits") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def plusMs(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    val hour = 3600000L
    // +0 and exactly +1h merge (inclusive boundary — the q38 oracle's
    // strictly-greater break mirrors this); +1h+1ms past that splits
    val ev = Seq((1L, t0), (1L, plusMs(hour)), (1L, plusMs(2 * hour + 1)))
      .toDF("user_id", "ts")
    val sessions = ev.groupBy(session_window($"ts", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("s"), $"n")
      .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
    assert(sessions.map(_._2).toSeq == Seq(2L, 1L))
    assert(sessions(1)._1 == plusMs(2 * hour + 1))
  }

}
