package graft

/** Local smoke runner: drives SparkEntry.entry (the driver's t1 smoke),
  * a named query's formatted plan, or ad-hoc SQL over registered views.
  *
  *   java -cp ... graft.Smoke                    → run entry, show rows
  *   java -cp ... graft.Smoke q1_agg [sfDir]     → explain + run one query
  *   java -cp ... graft.Smoke sql "SELECT..." [sfDir] → SQL over the tables
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.toolSession(defaultCpus = "4")
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "sql" :: query :: rest =>
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
        SqlFacade.registerTables(spark, sfDir)
        val df = SqlFacade.sql(spark, query)
        df.show(20, truncate = false)
        println(s"ROWS=${df.count()}")
      case name :: rest =>
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.explain("formatted")
        df.show(20, truncate = false)
        println(s"ROWS=${df.count()}")
      case Nil =>
        val df = SparkEntry.entry(spark)
        df.show(10, truncate = false)
        println(s"ROWS=${df.count()}")
    }
    spark.stop()
  }
}
