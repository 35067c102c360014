package olapbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One stage of a job, as the span tree's leaf. */
final case class StageSpan(id: Int, name: String, tasks: Int, startMs: Long, endMs: Long)

/** One Spark job: its call site, the engine module that call site
  * belongs to, and its stages. */
final class JobSpan(val id: Int, val startMs: Long, val module: String,
                    val callSite: String) {
  var endMs: Long = startMs
  val stages = mutable.ArrayBuffer.empty[StageSpan]
}

/** Everything observed while one phase ran: an op's build or its
  * action, or the time between ops. Counters are summed over the phase. */
final class Bucket {
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  var stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var inputRows, scanFileBytes, outputBytes, outputFiles = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var peakExecMem = 0L
  var analyzeMs, optimizeMs, planMs = 0L
  var rangeExchanges, hashExchanges, sorts = 0L
  var broadcastJoins, sortMergeJoins, scans, checkpointScans = 0L
  var streamQueries, streamBatches, streamBatchMs = 0L
  val stateRows = mutable.Map.empty[String, Long]
}

/** Physical-plan shape counts. AdaptiveSparkPlanHelper descends into
  * adaptive plans, query stages and subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan, b: Bucket): Unit =
    collectWithSubqueries(plan) { case n => n }.foreach {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case _: RangePartitioning => b.rangeExchanges += 1
        case _: HashPartitioning => b.hashExchanges += 1
        case _ =>
      }
      case _: SortExec => b.sorts += 1
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
        b.broadcastJoins += 1
      case _: SortMergeJoinExec => b.sortMergeJoins += 1
      case s: FileSourceScanExec =>
        b.scans += 1
        // the scan's "size of files read"; tasks' bytesRead misses the
        // parquet reader's vectored reads
        b.scanFileBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      case _: BatchScanExec => b.scans += 1
      case _: RDDScanExec => b.checkpointScans += 1
      case w: DataWritingCommandExec =>
        b.outputFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
}

/** The benchmark's own listeners on the engine: a SparkListener for
  * jobs, stages and tasks, a QueryExecutionListener for planning phases
  * and plan shapes, and a StreamingQueryListener for micro-batches.
  * Events land in the current bucket; `switchTo` drains the listener
  * bus first, so each bucket holds exactly its own phase's events.
  */
final class Collector(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var current = new Bucket
  private val jobs = mutable.Map.empty[Int, JobSpan]
  private val executionModule = mutable.Map.empty[Long, String]
  private val stageToJob = mutable.Map.empty[Int, JobSpan]

  def switchTo(b: Bucket): Unit = {
    org.apache.spark.olapbench.Bus.drain(sc)
    current = b
  }

  // listener callbacks arrive on several bus threads
  private def locked[T](f: => T): T = this.synchronized(f)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val site = result.map(_.details).getOrElse("")
      // adaptive query stages run their jobs from Spark's own threads;
      // those are charged to the call site of their SQL execution
      val module = Collector.module(site) match {
        case "other" => Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => executionModule.get(id.toLong)).getOrElse("other")
        case m => m
      }
      val j = new JobSpan(e.jobId, e.time, module, result.map(_.name).getOrElse(""))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageToJob(_) = j)
      current.jobs += j
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => locked {
        executionModule(s.executionId) = Collector.module(s.details)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.remove(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val s = e.stageInfo
      current.stages += 1
      stageToJob.remove(s.stageId).foreach(_.stages += StageSpan(s.stageId,
        s.name, s.numTasks, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val b = current
      b.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        b.taskRunMs += m.executorRunTime
        b.taskCpuNs += m.executorCpuTime
        b.taskGcMs += m.jvmGCTime
        b.inputRows += m.inputMetrics.recordsRead
        b.outputBytes += m.outputMetrics.bytesWritten
        b.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        b.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        b.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        b.peakExecMem = math.max(b.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = locked {
      val b = current
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      b.analyzeMs += ms("analysis")
      b.optimizeMs += ms("optimization")
      b.planMs += ms("planning")
      try PlanShape.count(qe.executedPlan, b)
      catch { case _: Exception => () }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = locked {
      current.streamQueries += 1
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = locked {
      val b = current
      val p = e.progress
      b.streamBatches += 1
      b.streamBatchMs += p.batchDuration
      b.stateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): this.type = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    this
  }

  def detach(): Unit = {
    org.apache.spark.olapbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Collector {

  /** The engine modules a job can be charged to: the directories under
    * src/main/scala/graft, plus `tables` for graft/Tables.scala. */
  val Modules: Seq[String] = Seq("tables", "queries", "operators", "ops",
    "pipeline", "analytics", "streaming", "util", "io")

  /** The module of a job: the innermost engine frame of its call site.
    * A frame `graft.<dir>.<Class>` belongs to src/main/scala/graft/<dir>;
    * a top-level `graft.<Class>` to its own file, named in lower case
    * (graft/Tables.scala is `tables`). Jobs with no engine frame (the
    * harness's own, or ones run from Spark's own threads) are `other`.
    */
  def module(callSiteLong: String): String =
    callSiteLong.linesIterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1)
        if (cls.length >= 3) cls(1) else cls(1).stripSuffix("$").toLowerCase
    }.getOrElse("other")

  /** Process-wide JVM figures. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Driver resident-set high-water mark (VmHWM), in bytes. */
  def vmHwmBytes: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toLong * 1024L
    }.getOrElse(0L)
    finally src.close()
  }
}
