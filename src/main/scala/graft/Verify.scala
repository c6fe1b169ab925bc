package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * SPARK_GRAFT_ONLY=q1,q2 restricts the dump (single-query iteration aid);
  * the driver sets no filter and gets everything.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_TERMINAL_SORT=false dumps the DEPLOYMENT shape (terminal
    // oracle sorts elided plan-wide) for the order-INSENSITIVE gate
    // (tools/selfcheck.py --unordered): proves the ~26%-faster production
    // plan computes the same row MULTISET, not just that the sorted shape
    // does (round-7 VERDICT next-round #1).
    sys.env.get("SPARK_GRAFT_TERMINAL_SORT")
      .foreach(v => spark.conf.set("graft.terminalSort", v))
    // SPARK_GRAFT_RESIZE_MOD=N gates multimodal_resize on the doc_id % N = 0
    // subset (100× oracle tractability — SparkEntry.resizeGateWhere reads
    // the SAME env for the dumped SQL, so both sides cover one subset)
    sys.env.get("SPARK_GRAFT_RESIZE_MOD")
      .foreach(v => spark.conf.set(graft.operators.VectorOps.ResizeGateModConf, v))
    run(spark, sfDir, outDir, sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet))
    spark.stop()
  }

  /** Testable core (VerifySpec runs it on the shared test session). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle map as one JSON object (driver contract artifact). */
  def oracleSqlJson: String =
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
