package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}

class VerifySpec extends SparkSpec {
  private val schema = new StructType()
    .add("check", StringType).add("value", DoubleType)
  private def rows(kv: (String, Double)*): Array[Row] =
    kv.map { case (c, v) => new GenericRowWithSchema(Array(c, v), schema): Row }
      .toArray

  test("every gate is keyed by a SparkEntry query") {
    val unknown = Verify.gates.map(_.query).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, unknown)
  }

  test("the table holds 114 gates over 57 queries") {
    assert(Verify.gates.size == 114)
    assert(Verify.gates.map(_.query).distinct.size == 57)
  }

  test("a (check, value) gate passes at its bound, fails just past it and without its row") {
    import Math.{nextDown, nextUp}
    def holds(cmp: String, v: Double) = Verify.check("q", "c", cmp).holds(rows("c" -> v))
    assert(holds("== 0", 0.0) && !holds("== 0", nextUp(0.0)))
    assert(holds(">= 0.7", 0.7) && !holds(">= 0.7", nextDown(0.7)))
    assert(holds("<= 0.55", 0.55) && !holds("<= 0.55", nextUp(0.55)))
    assert(holds("> 0", nextUp(0.0)) && !holds("> 0", 0.0))
    assert(holds("in (0, 0.55]", 0.55) && holds("in (0, 0.55]", nextUp(0.0)) &&
      !holds("in (0, 0.55]", 0.0) && !holds("in (0, 0.55]", nextUp(0.55)))
    // t236's interval is its old |v - 0.5| <= 0.1 on every double near the ends
    for (end <- Seq(0.4, 0.6); v <- Seq(nextDown(end), end, nextUp(end)))
      assert(holds("in [0.4, 0.6]", v) == (math.abs(v - 0.5) <= 0.1), v)

    val g = Verify.check("q", "recall", ">= 0.9")
    assert(g.desc == "recall >= 0.9")
    assert(!g.holds(rows("other" -> 1.0)) && !g.holds(Array.empty[Row]))
    assert(g.holds(rows("other" -> 0.0, "recall" -> 0.95)))
    assertThrows[IllegalArgumentException](Verify.check("q", "c", "~ 1"))
  }

  test("a missing result fails each of its gates with the read error; a written one is read once") {
    val out = graft.io.TempDirs.create("verify_spec").toString
    val missing = Verify.gateFailures(spark, out, Seq("t58_pq_check", "q1_agg"))
    assert(missing.size == 3, missing)
    assert(missing.forall(f => f.startsWith("t58_pq_check ") &&
      f.contains("t58_pq_check unreadable:")), missing)

    import spark.implicits._
    def write(kv: (String, Double)*): Unit = Verify.dump(
      kv.toDF("check", "value"), s"$out/t58_pq_check")
    write("roundtrip_violations" -> 0.0, "adc_mismatches" -> 0.0,
      "recall_at_5" -> 0.7)
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains(out)) reads.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Bridge.drainListeners(spark) // the dump's own events are not reads
    spark.listenerManager.register(listener)
    try {
      assert(Verify.gateFailures(spark, out, Seq("t58_pq_check")).isEmpty)
      Bridge.drainListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(reads.get == 1, "three gates, one read")
    write("roundtrip_violations" -> 0.0, "adc_mismatches" -> 2.0,
      "recall_at_5" -> 0.7)
    assert(Verify.gateFailures(spark, out, Seq("t58_pq_check")) ==
      Seq("t58_pq_check adc_mismatches == 0"))
  }
}
