package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks a
  * single test JVM, so every suite reuses this session). Built by the
  * engine's own factory, so the extensions are on from the first test
  * and no plan depends on which suites ran before.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", master = Some("local[4]"))
      .config("spark.sql.warehouse.dir",
        graft.io.TempDirs.create("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
