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
    assert(lines.last.startsWith("[probe] prewarm") &&
      lines.last.contains(s" s  jobs=$jobs "), lines.last)
    val jobLines = lines.init
    assert(jobLines.size == jobs && jobLines.forall(_.startsWith("[probe]   job ")),
      lines)
    assert(jobLines.exists(_.contains(" prewarm | ")), jobLines)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
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
