package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the
  * entry point for a user switching from the reference pipeline.
  *
  * Local mode gets core-count shuffle partitions (the 200 default is
  * pure overhead in one JVM); cluster mode keeps the caller's/cluster's
  * sizing. AQE stays on for runtime re-planning (skew-join splitting,
  * exchange coalescing, runtime broadcast). The nanos-timestamp flag
  * covers TIMESTAMP(NANOS) parquet (Tables.events). The graft
  * optimizer rule set (plans.GraftExtensions) installs via
  * `withExtensions`.
  */
object GraftSession {

  def builder(appName: String = "graft",
              master: Option[String] = None,
              extensions: Boolean = true): SparkSession.Builder = {
    var b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.foreach { m =>
      b = b.master(m)
      if (m.startsWith("local")) {
        val cores = Runtime.getRuntime.availableProcessors()
        b = b.config("spark.sql.shuffle.partitions", cores.toString)
      }
    }
    if (extensions) b = b.withExtensions(new plans.GraftExtensions)
    b
  }

  /** Local session sized to this machine. */
  def local(appName: String = "graft"): SparkSession =
    builder(appName, Some(s"local[*]")).getOrCreate()

  /** The ONE session configuration for the mains (Bench, Verify, Probe,
    * ScaleStress): [[builder]] with the extensions on — the engine
    * as it ships — on a local master sized by SPARK_GRAFT_CPUS, shuffle
    * partitions = cores, UI off.
    */
  def toolSession(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = builder(master = Some(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shared measurement warm-up: pay one-time session costs (codegen
    * compiler init, datasource/parquet footer setup) outside any
    * query's timing window.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).write
      .format("noop").mode("overwrite").save()
  }
}
