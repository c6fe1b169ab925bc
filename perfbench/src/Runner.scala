package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** One benchmark run in its own JVM, driven only through graft's public
  * entry points: `GraftSession.builder`, `SparkEntry.queries`,
  * `Dataset.queryExecution`, `toRdd`, `DataFrameWriter`, and Spark
  * listeners keyed by job group.
  *
  * Set-up ends with pass 0, which runs every query cold and records its
  * output's row count and order-independent content hash, and the
  * workload's further warm-up passes. Then the measured passes run, each
  * in its own seeded query order. Every
  * sample is kept: nothing is re-run or replaced. The raw samples (and,
  * when tracing, spans and per-job-group task counters) go to one JSON
  * file that `run.py` checks and turns into metrics.
  *
  * Usage: perfbench.Runner key=value ...  (see `run.py` for the keys)
  */
object Runner {

  /** Epoch time in microseconds, with nanoTime resolution. */
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument must be key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    if (kv.contains("hash-dir")) hashDir(kv, kv("hash-dir")) else run(kv)
  }

  private def session(kv: Map[String, String]): SparkSession = {
    val cores = kv("cores")
    val s = GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", kv("work") + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(kv: Map[String, String]): Unit = {
    val queries = kv("queries").split(",").toVector
    val mode = kv("mode")
    require(mode == "count" || mode == "sink", s"mode must be count or sink, got $mode")
    val passes = kv("passes").toInt
    val trace = kv("trace") == "1"
    val seed = kv("seed").toLong
    val work = kv("work")
    val cores = kv("cores").toInt

    val tSession0 = nowUs()
    val spark = session(kv)
    val sc = spark.sparkContext
    kv.get("terminal-sort").foreach(v => spark.conf.set("graft.terminalSort", v))
    val tSession1 = nowUs()
    val data = kv("data")

    val tracer = new Tracer
    val actions = new ConcurrentLinkedQueue[(String, Map[String, (Long, Long)])]
    val actionListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = actions.add((f, phasesOf(qe)))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val samples = Vector.newBuilder[String]

    def sinkPath(q: String) = s"$work/sink/$q"

    /** One timed query run, as a JSON sample. The marks are the query's
      * start, the build, plan and exec calls' start and end, and the
      * query's end: the layer calls are timed exactly, and the benchmark's
      * own work between them is the residual.
      * With `check` the count-mode execution also hashes every row it
      * produces (same physical plan, so pass 0 warms what later passes
      * run); a sink's output is read back and hashed after the query ends.
      */
    def sample(q: String, pass: Int, traced: Boolean, check: Boolean): String = {
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(actionListener)
      }
      val tag = s"$pass/$q"
      val mark = Array.fill(8)(-1L)
      var rows = -1L
      var hash = ""
      var error = ""
      var phases = Map.empty[String, (Long, Long)]
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      mark(0) = nowUs()
      try {
        sc.setJobGroup(s"$tag/build", q, interruptOnCancel = false)
        mark(1) = nowUs()
        val df = SparkEntry.queries(q)(spark, data)
        mark(2) = nowUs()
        if (mode == "count") {
          sc.setJobGroup(s"$tag/plan", q, interruptOnCancel = false)
          mark(3) = nowUs()
          df.queryExecution.executedPlan
          mark(4) = nowUs()
          sc.setJobGroup(s"$tag/exec", q, interruptOnCancel = false)
          mark(5) = nowUs()
          if (check) { val (n, h) = contentHash(df); rows = n; hash = h }
          else rows = df.queryExecution.toRdd.count()
          mark(6) = nowUs()
          phases = phasesOf(df.queryExecution)
        } else {
          sc.setJobGroup(s"$tag/exec", q, interruptOnCancel = false)
          mark(3) = nowUs(); mark(4) = mark(3); mark(5) = mark(3)
          df.write.mode("overwrite").parquet(sinkPath(q))
          mark(6) = nowUs()
          // The write plans its own QueryExecution; only the analysis of
          // the query's DataFrame happens in the build.
          phases = phasesOf(df.queryExecution).filter(_._1 == "analysis")
        }
      } catch {
        case NonFatal(e) => error = String.valueOf(e.getMessage).take(300)
      } finally sc.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      mark(7) = nowUs()
      for (i <- 1 until 7 if mark(i) < 0) mark(i) = mark(7)
      if (traced) {
        drainListenerBus(spark)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(actionListener)
      }
      if (error.isEmpty && mode == "sink")
        try {
          val back = spark.read.parquet(sinkPath(q))
          if (check) { val (n, h) = contentHash(back); rows = n; hash = h }
          else rows = back.count()
        } catch { case NonFatal(e) => error = String.valueOf(e.getMessage).take(300) }
      val files =
        if (mode == "sink") Option(new File(sinkPath(q)).listFiles()).map(
          _.count(f => f.getName.startsWith("part-"))).getOrElse(0)
        else 0
      val ph = phases.map { case (k, (s, e)) => s""""$k":[$s,$e]""" }.mkString("{", ",", "}")
      s"""{"q":${str(q)},"pass":$pass,"traced":$traced,"ok":${error.isEmpty},""" +
        s""""error":${str(error)},"rows":$rows,"hash":"$hash","t":${mark.mkString("[", ",", "]")},""" +
        s""""compiles":$compiles,"files":$files,"phases":$ph}"""
    }

    // Pass 0: cold run of every query, with the output check, then the
    // workload's further warm-up passes; all of it is set-up.
    for (q <- new scala.util.Random(seed).shuffle(queries))
      samples += sample(q, 0, traced = false, check = true)
    for (w <- 1 to kv.getOrElse("warmup", "0").toInt;
         q <- new scala.util.Random(seed - w).shuffle(queries))
      samples += sample(q, 0, traced = false, check = false)
    // Measured passes: a fixed number, so every run of the workload has the
    // same samples and the tail is always the same percentile, however fast
    // the machine or the program. In a traced run every other query is
    // traced, alternating between passes, so each query has traced and
    // untraced samples from the same run and the tracing overhead is their
    // difference.
    val tMeasure0 = nowUs()
    var pass = 0
    while (pass < passes) {
      pass += 1
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      for (q <- order)
        samples += sample(q, pass, trace && (pass + queries.indexOf(q)) % 2 == 0, check = false)
    }
    val tEnd = nowUs()
    val rss = peakRssKb()
    spark.stop()

    val sb = new StringBuilder
    sb ++= s"""{"cores":$cores,"passes":$pass,"""
    sb ++= s""""t_session":[$tSession0,$tSession1],"t_measure":[$tMeasure0,$tEnd],"""
    sb ++= s""""peak_rss_kb":$rss,"""
    sb ++= samples.result().mkString("\"samples\":[", ",\n", "]")
    if (trace) {
      sb ++= ",\"actions\":" + actions.asScala.map { case (f, ph) =>
        s"""{"func":${str(f)},"phases":${ph.map { case (k, (a, b)) => s""""$k":[$a,$b]""" }.mkString("{", ",", "}")}}"""
      }.mkString("[", ",\n", "]")
      sb ++= ",\"trace\":" + tracer.json
    }
    sb ++= "}\n"
    Files.writeString(Paths.get(kv("out")), sb.toString)
  }

  /** Waits until every posted listener event has been delivered, so a
    * listener can be removed without losing a traced query's last events.
    * The bus accessor is private[spark] in source but public in bytecode.
    */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(sys.error("LiveListenerBus.waitUntilEmpty not found"))
      .invoke(bus)
  }

  /** Planning phases of a QueryExecution, as epoch-microsecond spans. */
  private def phasesOf(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs * 1000L, p.endTimeMs * 1000L) }

  /** Hashes every query's output in a directory of parquet datasets (one
    * sub-directory per query), for tying an external dump to the pinned
    * expected results.
    */
  private def hashDir(kv: Map[String, String], dir: String): Unit = {
    val spark = session(kv)
    val names = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.getName).sorted
    val lines = names.map { q =>
      val (n, h) = contentHash(spark.read.parquet(s"$dir/$q"))
      s"""{"q":${str(q)},"rows":$n,"hash":"$h"}"""
    }
    spark.stop()
    Files.writeString(Paths.get(kv("out")), lines.mkString("[", ",\n", "]\n"))
  }

  /** (row count, multiset hash): the wrapping sum of one 64-bit hash per
    * row, so row order and partitioning do not matter. Floating values are
    * rounded to 9 significant digits first, so a last-bit difference from
    * summation order does not count as a different result.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var c, s = 0L
      it.foreach { r => c += 1; s += rowHash(toRow(r).asInstanceOf[Row]) }
      Iterator((c, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, f"$h%016x")
  }

  private def rowHash(r: Row): Long = {
    val s = canon(r)
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case d: java.sql.Date => s"d${d.toLocalDate}"
    case t: java.time.Instant => s"ts${t.toEpochMilli}.${t.getNano}"
    case t: java.time.temporal.Temporal => t.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case NonFatal(_) => 0L }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Job, stage and task events of the traced passes, keyed by job group
  * ("<pass>/<query>/<build|plan|exec>") so every counter is attributed to
  * the query and layer that caused it, whatever the delivery delay.
  */
class Tracer extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[String]
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]
  private val stageGroup = new ConcurrentHashMap[Int, (String, Int)]
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]
  private val stages = new ConcurrentLinkedQueue[String]
  private val counters = new ConcurrentHashMap[String, Array[Long]]

  /** Per-group counter slots, in this order. */
  val Fields = Vector("tasks", "failed_tasks", "task_wait_ms", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "spill_b", "scan_b", "scan_rows",
    "out_b", "out_rows")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, (g, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.get(e.jobId)).foreach { case (g, t0) =>
      jobs.add(s"""{"job":${e.jobId},"group":${Runner.str(g)},"t":[${t0 * 1000},${e.time * 1000}]}""")
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmit.put((i.stageId, i.attemptNumber()), i.submissionTime.getOrElse(0L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageGroup.get(i.stageId)).foreach { case (g, job) =>
      val s = i.submissionTime.getOrElse(0L) * 1000
      val c = i.completionTime.getOrElse(0L) * 1000
      stages.add(s"""{"stage":${i.stageId},"attempt":${i.attemptNumber()},"job":$job,""" +
        s""""group":${Runner.str(g)},"tasks":${i.numTasks},"t":[$s,$c]}""")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { case (g, _) =>
      val c = counters.computeIfAbsent(g, _ => new Array[Long](Fields.size))
      val info = e.taskInfo
      val submit = Option(stageSubmit.get((e.stageId, e.stageAttemptId))).getOrElse(info.launchTime)
      c.synchronized {
        c(0) += 1
        if (info.failed || info.killed) c(1) += 1
        c(2) += math.max(0L, info.launchTime - submit)
        val m = e.taskMetrics
        if (m != null) {
          c(3) += m.executorRunTime
          c(4) += m.executorCpuTime
          c(5) += m.jvmGCTime
          c(6) += m.shuffleWriteMetrics.bytesWritten
          c(7) += m.shuffleReadMetrics.totalBytesRead
          c(8) += m.shuffleReadMetrics.fetchWaitTime
          c(9) += m.memoryBytesSpilled + m.diskBytesSpilled
          c(10) += m.inputMetrics.bytesRead
          c(11) += m.inputMetrics.recordsRead
          c(12) += m.outputMetrics.bytesWritten
          c(13) += m.outputMetrics.recordsWritten
        }
      }
    }

  def json: String = {
    val cs = counters.asScala.toSeq.sortBy(_._1).map { case (g, a) =>
      Runner.str(g) + ":" + a.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    s"""{"fields":${Fields.map(Runner.str).mkString("[", ",", "]")},"counters":$cs,""" +
      s""""jobs":${jobs.asScala.mkString("[", ",\n", "]")},""" +
      s""""stages":${stages.asScala.mkString("[", ",\n", "]")}}"""
  }
}
