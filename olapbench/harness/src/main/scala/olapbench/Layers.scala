package olapbench

import org.apache.spark.sql.SparkSession

/** Per-layer figures of the traced pass, reduced from its buckets. */
final class Layers {
  var gcS = 0.0
  var heapPeakBytes = 0L
  private var residentMaxBytes = 0L
  private var residentEndBytes = 0L
  private var residentEndRdds = 0

  /** Cached and pinned RDD blocks still held after an op (or the pass). */
  def storageAfter(spark: SparkSession, end: Boolean): Unit = {
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val bytes = held.map(i => i.memSize + i.diskSize).sum
    residentMaxBytes = math.max(residentMaxBytes, bytes)
    if (end) { residentEndBytes = bytes; residentEndRdds = held.length }
  }

  /** `untracedWall`: the untraced pass that ran after the traced one.
    * It runs at least as warm, so `trace.overhead_frac` is an upper
    * bound on the tracing overhead. */
  def report(o: Json, runs: Seq[OpRun], wall: Double, untracedWall: Double,
             setups: Seq[Seq[Double]], spark: SparkSession): Unit = {
    val mb = 1048576.0
    val builds = runs.map(_.build)
    val actions = runs.map(_.action)
    val all = builds ++ actions
    val jobs = all.flatMap(_.jobs)
    def sum(f: Bucket => Long) = all.map(f).sum.toDouble
    def jobSeconds(js: Seq[JobSpan]) = js.map(j => j.endMs - j.startMs).sum / 1e3
    def opSeconds(name: String) = runs.filter(_.op.name == name).map(_.seconds).sum

    // the first set-up is the JVM's cold one, as setup_s counts it
    o.num("session.start_s", setups.head(0))
    o.num("session.warmup_s", setups.head(1))
    o.num("fixtures.prewarm_s", setups.map(_(2)).max)

    val tableJobs = jobs.filter(_.module == "tables")
    o.num("tables.schema_jobs", tableJobs.size)
    o.num("tables.schema_s", jobSeconds(tableJobs))

    o.num("query.build_s", runs.map(_.buildS).sum)
    o.num("query.build_jobs", builds.map(_.jobs.size).sum)
    o.num("query.action_s", runs.map(_.actionS).sum)
    o.num("query.action_jobs", actions.map(_.jobs.size).sum)

    o.num("spark.jobs", jobs.size)
    o.num("spark.stages", sum(_.stages))
    o.num("spark.tasks", sum(_.tasks))
    o.num("spark.job_s", jobSeconds(jobs))
    o.num("spark.task_run_s", sum(_.taskRunMs) / 1e3)
    o.num("spark.task_cpu_s", sum(_.taskCpuNs) / 1e9)
    o.num("spark.task_gc_s", sum(_.taskGcMs) / 1e3)
    o.num("spark.job_overlap", Layers.overlap(jobs))

    o.num("plan.analyze_s", sum(_.analyzeMs) / 1e3)
    o.num("plan.optimize_s", sum(_.optimizeMs) / 1e3)
    o.num("plan.physical_s", sum(_.planMs) / 1e3)
    o.num("plan.range_exchanges", sum(_.rangeExchanges))
    o.num("plan.hash_exchanges", sum(_.hashExchanges))
    o.num("plan.sorts", sum(_.sorts))
    o.num("plan.broadcast_joins", sum(_.broadcastJoins))
    o.num("plan.sort_merge_joins", sum(_.sortMergeJoins))
    o.num("plan.scans", sum(_.scans))
    o.num("plan.checkpoint_scans", sum(_.checkpointScans))

    val scanMb = sum(_.scanFileBytes) / mb
    o.num("sql.scan_rows", sum(_.inputRows))
    o.num("sql.scan_mb", scanMb)
    o.num("sql.shuffle_write_mb", sum(_.shuffleWriteBytes) / mb)
    o.num("sql.shuffle_read_mb", sum(_.shuffleReadBytes) / mb)
    o.num("sql.spill_mb", sum(_.spillBytes) / mb)
    o.num("sql.peak_exec_mem_mb", all.map(_.peakExecMem).maxOption.getOrElse(0L) / mb)

    BtcLedger.StageNames.foreach(n => o.num(s"${n}_s", opSeconds(n)))

    val writeMb = sum(_.outputBytes) / mb
    o.num("io.write_mb", writeMb)
    o.num("io.files_written", sum(_.outputFiles))
    o.num("io.write_amp", if (scanMb > 0) writeMb / scanMb else 0.0)

    o.num("storage.pin_jobs", jobs.count(j =>
      j.callSite.startsWith("localCheckpoint") || j.callSite.startsWith("checkpoint")))
    o.num("storage.resident_mb_max", residentMaxBytes / mb)
    o.num("storage.resident_mb_end", residentEndBytes / mb)
    o.num("storage.resident_rdds_end", residentEndRdds)

    o.num("streaming.queries", sum(_.streamQueries))
    o.num("streaming.batches", sum(_.streamBatches))
    o.num("streaming.batch_s", sum(_.streamBatchMs) / 1e3)
    o.num("streaming.state_rows", all.map(_.stateRows.values.sum).sum.toDouble)

    Collector.Modules.foreach { m =>
      val js = jobs.filter(_.module == m)
      o.num(s"module.$m.jobs", js.size)
      o.num(s"module.$m.job_s", jobSeconds(js))
    }

    o.num("jvm.gc_s", gcS)
    o.num("jvm.heap_peak_mb", heapPeakBytes / mb)

    o.num("trace.wall_s", wall)
    o.num("trace.untraced_wall_s", untracedWall)
    o.num("trace.overhead_frac", wall / untracedWall - 1.0)
    o.num("trace.op_sum_frac", runs.map(_.seconds).sum / wall)
  }
}

object Layers {

  /** Summed job time over the time covered by at least one job: 1 when
    * jobs never run at the same time, more when they overlap. */
  def overlap(jobs: Seq[JobSpan]): Double = {
    val iv = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > e) { if (e > s) covered += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) covered += e - s
    val total = iv.map { case (a, b) => b - a }.sum
    if (covered > 0) total.toDouble / covered else 1.0
  }
}

/** The traced pass as spans, one JSON line per op:
  * op → build/action → job → stage. */
object Spans {
  def write(path: String, runs: Seq[OpRun]): Unit = {
    val lines = runs.map { r =>
      Json.of { o =>
        o.str("op", r.op.name); o.num("seconds", r.seconds)
        Seq("build" -> (r.buildS, r.build), "action" -> (r.actionS, r.action)).foreach {
          case (phase, (secs, b)) => o.obj(phase) { p =>
            p.num("seconds", secs)
            p.arr("jobs") { js =>
              b.jobs.foreach { j =>
                js.obj { jo =>
                  jo.num("id", j.id); jo.str("module", j.module)
                  jo.str("call_site", j.callSite)
                  jo.num("seconds", (j.endMs - j.startMs) / 1e3)
                  jo.arr("stages") { ss =>
                    j.stages.foreach { s =>
                      ss.obj { so =>
                        so.num("id", s.id); so.num("tasks", s.tasks)
                        so.num("seconds", (s.endMs - s.startMs) / 1e3)
                      }
                    }
                  }
                }
              }
            }
          }
        }
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
