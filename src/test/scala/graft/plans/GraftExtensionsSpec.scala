package graft.plans

import graft.{SparkSpec, SqlFacade}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("SmallDimBroadcast hints tiny join legs when built-in auto-broadcast is off") {
    GraftExtensions.install(spark)
    // disable BOTH built-in broadcast paths — only the rule's hint remains
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = (1 to 10000).map(i => (i.toLong % 50, i)).toDF("k", "v")
      val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("k", "name")
        .cache() // cached relation carries exact (tiny) logical stats
      dim.count()
      val joined = fact.join(dim, "k")
      joined.collect()
      val physical = joined.queryExecution.executedPlan.toString
      assert(physical.contains("BroadcastHashJoin"),
        s"expected a broadcast join from the rule's hint, got:\n$physical")
      assert(joined.count() == 10000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[SmallDimBroadcast])
    }
  }

  test("rule leaves large-large joins alone") {
    val a = (1 to 5000).map(i => (i.toLong % 100, i)).toDF("k", "v")
    val b = (1 to 5000).map(i => (i.toLong % 100, -i)).toDF("k", "w")
    val analyzed = a.join(b, "k").queryExecution.analyzed
    def hints(p: LogicalPlan) = p.collect { case j: Join => j.hint }
    assert(hints(analyzed) == Seq(JoinHint.NONE))
    // under a 1-byte threshold nothing is 'small': no leg gets a hint
    assert(hints(SmallDimBroadcast(1)(analyzed)) == Seq(JoinHint.NONE),
      s"rule must not hint with an impossible threshold:\n$analyzed")
    // control: the same join's legs are small under the default
    assert(hints(SmallDimBroadcast(GraftExtensions.DefaultThreshold)(analyzed))
      .exists(_ != JoinHint.NONE))
  }
  private def smallDimRules(s: SparkSession): Int =
    Bridge.optimizerRules(s).count(_.isInstanceOf[SmallDimBroadcast])

  test("registerTables adds no second SmallDimBroadcast to a session built with the extensions") {
    val before = smallDimRules(spark)
    assert(before >= 1)
    SqlFacade.registerTables(spark, "/root/testdata/sf0.001")
    GraftExtensions.install(spark)
    assert(smallDimRules(spark) == before)
  }

  test("install adds SmallDimBroadcast once to a session built without the extensions") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = try graft.GraftSession.builder(extensions = false).getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(plain ne spark)
    assert(smallDimRules(plain) == 0)
    GraftExtensions.install(plain)
    assert(smallDimRules(plain) == 1)
    GraftExtensions.install(plain)
    assert(smallDimRules(plain) == 1)
  }

  test("native expressions are callable from SQL after live install") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT round(cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS c,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       rolling_hash_mod('ab', 31L, 97L) AS rh,
        |       size(hashed_shingles('the quick brown fox jumps', 3)) AS nsh,
        |       sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS ic
        |""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == (('a'.toLong * 31 + 'b') % 97))
    assert(r.getInt(3) == 3)
    assert(r.getInt(4) == 2)
  }

  test("top_k_by_score aggregate works through SQL") {
    GraftExtensions.install(spark)
    Seq(("a", 0.5, 1L), ("a", 0.9, 2L), ("a", 0.7, 3L), ("b", 0.1, 4L))
      .toDF("g", "s", "i").createOrReplaceTempView("tk")
    val out = spark.sql(
      "SELECT g, top_k_by_score(s, i, 2) AS t FROM tk GROUP BY g")
      .selectExpr("g", "transform(t, e -> e.id) AS ids")
      .as[(String, Seq[Long])].collect().toMap
    assert(out("a") == Seq(2L, 3L))
    assert(out("b") == Seq(4L))
  }

  test("round-7 kernels reachable through SQL: char_entropy, bow stats, misra_gries") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT char_entropy('abab').entropy AS e,
        |       char_entropy('abab').unique_chars AS u,
        |       hashed_bow_stats('a b c', 64).n_tokens AS nt
        |""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(1) == 2)
    assert(r.getInt(2) == 3)
    Seq(Seq("a", "b", "a"), Seq("a", "c")).toDF("toks")
      .createOrReplaceTempView("mg")
    val hh = spark.sql(
      "SELECT misra_gries(toks, 10) AS s FROM mg")
      .selectExpr("transform(s, e -> concat(e.token, ':', e.est)) AS x")
      .as[Seq[String]].head()
    assert(hh == Seq("a:3", "b:1", "c:1"))
  }

  test("round-8 kernels reachable through SQL") {
    GraftExtensions.install(spark)
    // content_chunks: concatenation of chunks round-trips the text
    val rebuilt = spark.sql(
      """SELECT concat_ws('', transform(
        |  content_chunks('the quick brown fox jumps over the lazy dog and keeps running far away', 16, 257, 2147483647, 32, 24, 96),
        |  c -> c.chunk)) AS t""".stripMargin).as[String].head()
    assert(rebuilt ==
      "the quick brown fox jumps over the lazy dog and keeps running far away")
    // multi_contains: counts and the blocked flag
    val mc = spark.sql(
      "SELECT multi_contains('aa b aa', array('aa', 'zz')) AS s")
      .selectExpr("s.n_terms", "s.total_hits", "s.blocked").head()
    assert(mc.getInt(0) == 1 && mc.getLong(1) == 2L && mc.getBoolean(2))
    // cms aggregate + scalar reader compose in one statement
    spark.range(100).selectExpr("id % 7 AS k").createOrReplaceTempView("cm")
    val est = spark.sql(
      """SELECT cms_estimate(count_min_sketch(k, CAST(0.001 AS DOUBLE),
        |  CAST(0.99 AS DOUBLE), 7), CAST(3 AS BIGINT)) AS e FROM cm"""
        .stripMargin).head().getLong(0)
    assert(est >= 14L) // true count 14; CMS never undercounts
    // distinct top-k: duplicate pairs occupy one slot
    val ids = spark.sql(
      """SELECT top_k_distinct_by_score(s, id, 2) AS p FROM VALUES
        |  (1.0D, 10L), (1.0D, 10L), (0.5D, 20L) AS t(s, id)""".stripMargin)
      .selectExpr("transform(p, e -> e.id) AS x").as[Seq[Long]].head()
    assert(ids == Seq(10L, 20L))
    // covariance moments: n, sums, upper triangle
    val m = spark.sql(
      """SELECT cov_moments(v, 2) AS m FROM VALUES
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |  (array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS t(v)"""
        .stripMargin).as[Seq[Double]].head()
    assert(m == Seq(2.0, 4.0, 6.0, 10.0, 14.0, 20.0))
  }

}
