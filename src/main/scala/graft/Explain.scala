package graft

/** Plan-audit utility: `sbt "runMain graft.Explain q1,q2"` prints each
  * query's formatted physical plan at sf0.001 — the iteration loop for
  * checking pushdown, broadcast choices, exchange counts, and codegen
  * coverage before a query is declared scale-ready.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_TERMINAL_SORT=false prints the deployment-shape plans
    // (oracle ordering contract elided) — the PLANS.md before/after artifact.
    sys.env.get("SPARK_GRAFT_TERMINAL_SORT")
      .foreach(v => spark.conf.set("graft.terminalSort", v))
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    for (name <- names) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
