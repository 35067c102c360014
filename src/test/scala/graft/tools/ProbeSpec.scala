package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.graftshim.Bridge

import graft.{SparkEntry, SparkSpec}

class ProbeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("Probe time: one line per query; a failure reports and the loop goes on; the census detaches") {
    val queries: Map[String, Probe.Query] = Map(
      "boom" -> ((_, _) => throw new IllegalStateException("planted failure")),
      "q1_agg" -> SparkEntry.queries("q1_agg"))
    val lines = mutable.ArrayBuffer.empty[String]
    val census = Probe.run(spark, "time", sfDir, "",
      Seq("boom", "no_such_query", "q1_agg"), queries.get, lines += _)

    assert(lines.size == 3, lines)
    assert(lines(0).startsWith("[probe] boom") &&
      lines(0).contains("FAILED: planted failure"))
    assert(lines(1).startsWith("[probe] no_such_query") &&
      lines(1).contains("unknown query"))
    assert(lines(2).startsWith("[probe] q1_agg") && lines(2).contains(" s  jobs="))
    val (jobs, stages, tasks) = census.counts
    assert(jobs >= 1 && stages >= 1 && tasks >= 1, census.counts)

    // detached: a job after the loop leaves the measured pass's counts
    spark.range(10).count()
    Bridge.drainListeners(spark)
    assert(census.counts == ((jobs, stages, tasks)))
  }

  test("Probe prewarm says one line with its seconds and jobs, its job lines under trace") {
    val lines = mutable.ArrayBuffer.empty[String]
    val census = Probe.prewarm(spark, sfDir, trace = true, lines += _)
    val (jobs, _, _) = census.counts
    assert(jobs >= 1, lines)
    assert(lines.last.startsWith("[probe] prewarm ") &&
      lines.last.contains(s" s  jobs=$jobs "), lines.last)
    val (jobLines, stepLines) = lines.init.partition(_.startsWith("[probe]   job "))
    assert(jobLines.size == jobs, lines)
    assert(jobLines.exists(_.contains(" prewarm | ")), jobLines)
    // one row per step, in order: warmUp, then the fixture steps; their
    // jobs add up to the total
    val steps = "warmup" +: graft.queries.TrainingQueries.prewarmSteps.map(_._1)
    assert(stepLines.map(_.split("\\s+")(1)) == steps.map("prewarm:" + _), stepLines)
    val stepJobs = stepLines.map(l => "jobs=(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt)
    assert(stepJobs.sum == jobs && stepJobs.head >= 1, stepLines)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("Probe verify writes each result and reports its gates") {
    import spark.implicits._
    val out = graft.io.TempDirs.create("probe_verify").toString
    // a planted t58 result that breaks one of its three gates and lacks
    // the row of another
    val queries: Map[String, Probe.Query] = Map(
      "t58_pq_check" -> ((_, _) => Seq("roundtrip_violations" -> 1.0,
        "adc_mismatches" -> 0.0).toDF("check", "value")),
      "t74_compress_ratio" -> SparkEntry.queries("t74_compress_ratio"),
      "q1_agg" -> SparkEntry.queries("q1_agg"))
    val lines = mutable.ArrayBuffer.empty[String]
    Probe.run(spark, "verify", sfDir, out,
      Seq("t58_pq_check", "t74_compress_ratio", "q1_agg"), queries.get, lines += _)

    assert(lines.filter(_.contains("GATE FAIL")) == Seq(
      "[probe]   GATE FAIL: t58_pq_check roundtrip_violations == 0",
      "[probe]   GATE FAIL: t58_pq_check recall_at_5 >= 0.7"), lines)
    val results = lines.filterNot(_.contains("GATE FAIL"))
    assert(results.size == 3, lines)
    assert(results(0).endsWith(s"wrote $out/t58_pq_check, gates 1/3 pass"), results)
    assert(results(1).endsWith(s"wrote $out/t74_compress_ratio, gates 1/1 pass"), results)
    assert(results(2).endsWith(s"wrote $out/q1_agg, gates 0/0 pass"), results)
  }

  test("Probe trace names every job of the measured pass by query and phase") {
    val lines = mutable.ArrayBuffer.empty[String]
    Probe.run(spark, "trace", sfDir, "", Seq("q1_agg"),
      SparkEntry.queries.get, lines += _)
    val jobs = lines.filter(_.startsWith("[probe]   job "))
    assert(jobs.nonEmpty, lines)
    val phases = jobs.map { l =>
      Seq("build", "action").find(p => l.contains(s" q1_agg $p | "))
        .getOrElse(fail(s"job line without query and phase: $l"))
    }
    assert(phases.toSet == Set("build", "action"), jobs)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }
}
