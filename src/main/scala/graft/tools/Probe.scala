package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd,
  StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.Bridge

import graft.{GraftSession, SparkEntry, SqlFacade, Verify}
import graft.plans.PlanShape

/** Dev tool: per-query diagnostics on one tool session and one listener.
  *
  *   scripts/run_main.sh graft.tools.Probe time   [sfDir] [query…]
  *   scripts/run_main.sh graft.tools.Probe trace  [sfDir] [query…]
  *   scripts/run_main.sh graft.tools.Probe plan   [sfDir] [query…]
  *   scripts/run_main.sh graft.tools.Probe verify <sfDir> <outDir> [query…]
  *   scripts/run_main.sh graft.tools.Probe sql    "<SELECT …>" [sfDir]
  *
  *  - `time`: first one `[probe] prewarm` line for the session set-up
  *    (`warmUp` + `prewarmFixtures`, e.g. the k-core fixture); then, per
  *    query, a warm pass (codegen, IO and shared census builds) and a
  *    measured pass into the noop sink, reporting its wall seconds and
  *    Spark jobs, stages and tasks. At bench scale every query is
  *    latency-bound, wall ≈ jobs × the per-job floor, so the job count
  *    is the cost model.
  *  - `trace`: `time`, with each result line preceded by one line per
  *    job of the prewarm or measured pass: wall, tasks, description
  *    (`prewarm`, `<query> build` or `<query> action`), and each
  *    stage's tasks and seconds.
  *  - `plan`: the formatted plan (building the DataFrame runs any eager
  *    jobs the query pays before its action), then its
  *    [[graft.plans.PlanShape]] row — the row `docs/plan_shape.tsv`
  *    holds at sf0.001.
  *  - `verify`: each result as [[graft.Verify]] writes it, plus an
  *    `oracle_sql.json` holding only the named queries, for
  *    `scripts/check_oracle.py <sfDir> <outDir>`.
  *  - `sql`: the first 20 rows and the row count of one SQL statement
  *    over the tables registered as views (SqlFacade).
  *
  * sfDir defaults to sf0.1 and the query list to every SparkEntry query.
  * Each query prints one `[probe]` result line; a failing query reports
  * its error and the run goes on.
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  private val Usage = "usage: Probe time|trace|plan [sfDir] [query...]\n" +
    "       Probe verify <sfDir> <outDir> [query...]\n" +
    "       Probe sql \"<SELECT ...>\" [sfDir]"

  def main(args: Array[String]): Unit = {
    val (mode, dirs, rest) = args.toList match {
      case "sql" :: query :: dir if dir.size <= 1 => ("sql", dir, List(query))
      case m :: r if Seq("time", "trace", "plan", "verify").contains(m) =>
        val ds = r.takeWhile(_.startsWith("/"))
        (m, ds, r.drop(ds.size))
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val (sfDir, outDir) = (mode, dirs) match {
      case ("verify", Seq(sf, out)) => (sf, out)
      case (m, ds) if m != "verify" && ds.size <= 1 =>
        (ds.headOption.getOrElse("/root/testdata/sf0.1"), "")
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val names = Some(rest).filter(_.nonEmpty)
      .getOrElse(SparkEntry.queries.keys.toList)
    val spark = GraftSession.toolSession(defaultCpus = "32")
    try {
      if (mode == "time" || mode == "trace")
        prewarm(spark, sfDir, mode == "trace", println)
      if (mode == "verify") new java.io.File(outDir).mkdirs()
      if (mode == "sql") {
        SqlFacade.registerTables(spark, sfDir)
        val df = spark.sql(names.head)
        df.show(20, truncate = false)
        println(s"ROWS=${df.count()}")
      } else
        run(spark, mode, sfDir, outDir, names, SparkEntry.queries.get, println)
      if (mode == "verify")
        Verify.writeOracleSql(outDir,
          SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    } finally spark.stop()
  }

  /** Runs `warmUp` + `prewarmFixtures` with a [[Census]] attached and
    * says one `[probe] prewarm` line with their seconds and Spark jobs,
    * stages and tasks, after one line per job under `trace`; returns
    * the census. Its jobs carry the description `prewarm`.
    */
  private[graft] def prewarm(spark: SparkSession, sfDir: String,
      trace: Boolean, say: String => Unit): Census = {
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    val wall = try {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription("prewarm")
      try {
        GraftSession.warmUp(spark, sfDir)
        graft.queries.TrainingQueries.prewarmFixtures(spark, sfDir)
      } finally spark.sparkContext.setJobDescription(null)
      val w = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(spark)
      w
    } finally spark.sparkContext.removeSparkListener(census)
    if (trace) census.jobLines.foreach(say)
    say(f"[probe] ${"prewarm"}%-28s ${census.summary(wall)}")
    census
  }

  /** Runs `mode` over `names` with a [[Census]] attached for the loop
    * only, saying one result line per name; returns the census, which
    * holds the last measured pass. Jobs run while a query's DataFrame
    * is built carry the description `<query> build`, and jobs of its
    * action `<query> action`.
    */
  private[graft] def run(spark: SparkSession, mode: String, sfDir: String,
      outDir: String, names: Seq[String], lookup: String => Option[Query],
      say: String => Unit): Census = {
    val census = new Census
    def probe(name: String, fn: Query): String = {
      def phase[T](p: String)(body: => T): T = {
        spark.sparkContext.setJobDescription(s"$name $p")
        try body finally spark.sparkContext.setJobDescription(null)
      }
      def build(): DataFrame = phase("build")(fn(spark, sfDir))
      def noop(df: DataFrame): Unit =
        phase("action")(df.write.format("noop").mode("overwrite").save())
      mode match {
        case "time" | "trace" =>
          noop(build())
          Bridge.drainListeners(spark)
          census.reset()
          val t0 = System.nanoTime()
          noop(build())
          val wall = (System.nanoTime() - t0) / 1e9
          Bridge.drainListeners(spark)
          if (mode == "trace") census.jobLines.foreach(say)
          census.summary(wall)
        case "plan" =>
          val df = build()
          val plan = df.queryExecution.explainString(FormattedMode)
          say(plan)
          say(PlanShape.Header)
          say(PlanShape.row(name, df))
          s"plan, ${plan.linesIterator.size} lines"
        case "verify" =>
          val df = build()
          phase("action")(Verify.dump(df, s"$outDir/$name"))
          s"wrote $outDir/$name"
      }
    }
    spark.sparkContext.addSparkListener(census)
    try names.foreach { name =>
      val result = lookup(name) match {
        case None => "unknown query"
        case Some(fn) =>
          try probe(name, fn)
          catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      }
      say(f"[probe] $name%-28s $result")
    } finally spark.sparkContext.removeSparkListener(census)
    census
  }

  /** Counts the jobs, stages and tasks the listener bus reports, and
    * keeps one line per finished job: its wall time, task count,
    * description, and each stage's name, tasks and seconds (a stage
    * whose output was reused shows as skipped).
    */
  final class Census extends SparkListener {
    private var jobs, stages = 0
    private var tasks = 0L
    private val open = mutable.Map.empty[Int, (Long, String, Seq[StageInfo])]
    private val stageSeconds = mutable.Map.empty[Int, Double]
    private val lines = mutable.ArrayBuffer.empty[String]

    def counts: (Int, Int, Long) = synchronized((jobs, stages, tasks))
    def summary(wall: Double): String = synchronized(
      f"$wall%8.2f s  jobs=$jobs%-4d stages=$stages%-5d tasks=$tasks%-6d")
    def jobLines: Seq[String] = synchronized(lines.toList)
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0L
      open.clear(); stageSeconds.clear(); lines.clear()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("?")
      open(j.jobId) = (j.time, desc, j.stageInfos)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        val i = s.stageInfo
        for (a <- i.submissionTime; b <- i.completionTime)
          stageSeconds(i.stageId) = (b - a) / 1e3
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      synchronized { tasks += 1 }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (t0, desc, infos) =>
        val legs = infos.map { s =>
          val secs = stageSeconds.get(s.stageId).fold("skipped")(x => f"$x%.3f s")
          s"${s.name.takeWhile(_ != '\n').take(40)}(${s.numTasks}, $secs)"
        }
        lines += f"[probe]   job ${e.jobId}%-4d ${(e.time - t0) / 1e3}%7.3f s " +
          f"tasks=${infos.map(_.numTasks).sum}%-4d $desc | ${legs.mkString(" <- ")}"
      }
    }
  }
}
