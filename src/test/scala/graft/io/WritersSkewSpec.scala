package graft.io

import graft.SparkSpec
import graft.ops.Skew
import org.apache.spark.sql.functions._

class WritersSkewSpec extends SparkSpec {
  import spark.implicits._

  /** Count shuffle exchanges in the FINAL (AQE-finalized) plan — via
    * the plan string, which renders nodes inside AQE query stages too.
    */
  private def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
  }

  test("bucketed tables join with no shuffle exchange; aggregation on the bucket key too") {
    // (warehouse dir is a temp dir — set statically in TestSpark)
    // 100 keys; 10 rows/key left, 5 rows/key right → join = 5000 rows
    val left = (1 to 1000).map(i => (i.toLong % 100, s"l$i")).toDF("k", "lv")
    val right = (1 to 500).map(i => (i.toLong % 100, s"r$i")).toDF("k", "rv")
    val lb = Writers.bucketed(left, "graft_left_b", 8, Seq("k"))
    val rb = Writers.bucketed(right, "graft_right_b", 8, Seq("k"))

    // force the non-broadcast path (both the static and the AQE-runtime
    // broadcast thresholds, and a merge hint, which the engine's
    // SmallDimBroadcast rule leaves alone): an unbucketed plan would
    // shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = lb.join(rb.hint("merge"), "k")
      assert(joined.count() == 5000)
      assert(countShuffles(joined) == 0)

      val agg = lb.groupBy("k").agg(count(lit(1)).as("n"))
      assert(agg.count() == 100)
      assert(countShuffles(agg) == 0)

      // control: the same join on the unbucketed frames DOES shuffle
      assert(countShuffles(left.join(right.hint("merge"), "k")) > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_left_b")
      spark.sql("DROP TABLE IF EXISTS graft_right_b")
    }
  }

  test("saltedJoin matches the plain join result on a skewed key distribution") {
    // 90% of rows share one hot key
    val large = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i)).toDF("k", "v")
    val small = Seq(("HOT", "dim0"), ("k10", "dim1"), ("k20", "dim2"))
      .toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
      .as[(String, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(large, small, "k", salts = 8)
      .select("k", "v", "name").as[(String, Int, String)].collect().toSet
    assert(salted == plain)
    assert(salted.count(_._1 == "HOT") == 1800)
  }

  test("saltedAgg two-phase sum equals direct groupBy sum") {
    val df = (1 to 5000).map(i => (if (i % 5 == 0) "HOT" else s"k${i % 50}", i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("agg"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedAgg(df, "k", salts = 8,
        partial = sum(col("v")), merge = c => sum(c))
      .as[(String, Long)].collect().toMap
    assert(salted == direct)
  }
}
