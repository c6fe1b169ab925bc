package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (mirrors the reference suites'
  * single-SparkContext style [ref: wikipedia/…/WikipediaSuite.scala]).
  * Built from `GraftSession.builder()`, like Verify and Bench, so the
  * specs run the same session configuration as the mains and library users.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest driver-generated scale factor — fast enough for unit tests. */
  val sfDir = "/root/testdata/sf0.001"
}
