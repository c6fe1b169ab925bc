package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` infers a path's schema once: later loads plan the same
  * relation without a Spark job, and any change to the path's files or to
  * the session's inference confs re-infers. The named loaders read a table
  * with fewer row groups than cores from an N-file copy.
  */
class TablesSchemaCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.{spark, sfDir}

  private val sf01Dir = sfDir.replace("sf0.001", "sf0.1")

  /** Jobs started while `body` runs. A sentinel job in its own group marks
    * the end: the listener bus delivers in order, so once the sentinel is
    * seen every earlier job start has been counted.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sentinel = "tables-schema-cache-sentinel"
    val jobs = new AtomicInteger
    val sawSentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == sentinel) sawSentinel.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobGroup(sentinel, sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(sawSentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val temps = new ConcurrentLinkedQueue[String]()

  private def tempDir(): String = {
    val p = Files.createTempDirectory("graft-schema-cache").toString
    temps.add(p)
    p
  }

  /** The staged copies of tables under source dir `dir`: the `by/<digest>`
    * roots whose `_GRAFT_DONE` key (`dir|tag|fingerprint`) names `dir`.
    */
  private def stagedCopies(dir: String): Seq[java.nio.file.Path] =
    Tables.all.map(_._1).flatMap { name =>
      val by = new java.io.File(s"${Tables.CopyStageDir}/$name/by")
      Option(by.listFiles()).toSeq.flatten.map(_.toPath).filter { root =>
        val done = root.resolve("_GRAFT_DONE")
        Files.exists(done) && Files.readString(done).startsWith(s"$dir|")
      }
    }

  override def afterAll(): Unit = temps.asScala.foreach { dir =>
    stagedCopies(dir).foreach(Staging.deleteTree)
    Staging.deleteTree(Paths.get(dir))
  }

  private def footer(path: String) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  test("after one warm call, building agg_cube and join_outer starts no Spark job") {
    Seq("agg_cube", "join_outer").foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
      val (_, jobs) = jobsDuring(SparkEntry.queries(name)(spark, sfDir))
      assert(jobs == 0, s"$name construction started $jobs job(s) after a warm call")
    }
  }

  test("every loader at sf0.001 and sf0.1: schema as inferred fresh, rows and footers as the source from an N-file copy, no job when warm") {
    val n = spark.sparkContext.defaultParallelism
    for (dir <- Seq(sfDir, sf01Dir); (name, load) <- Tables.all) {
      val path = s"$dir/$name.parquet"
      val fresh = spark.read.parquet(path).schema
      Tables.parquet(spark, path)
      val (cached, jobs) = jobsDuring(Tables.parquet(spark, path).schema)
      assert(jobs == 0, s"$path: a warm load started $jobs job(s)")
      // StructType equality compares names, types, nullability and metadata
      assert(cached == fresh, s"$path: cached\n${cached.treeString}\nfresh\n${fresh.treeString}")
      if (name == "events") assert(load(spark, dir).schema("ts").dataType == TimestampType)
      else assert(load(spark, dir).schema == fresh, s"$path: loader schema diverges")

      // the single-row-group fixture loads from a staged N-file copy
      val source = footer(path)
      assert(source.getBlocks.size < n, s"$path: the fixture is expected to be one row group")
      val df = load(spark, dir)
      assert(df.rdd.getNumPartitions == n, s"$path: scan partitions")
      val files = df.inputFiles.toSeq
      assert(files.size == n && files.forall(_.contains(s"${Tables.CopyStageDir}/$name/by/")),
        s"$path loaded from $files")
      files.foreach { f =>
        val staged = footer(f).getFileMetaData
        assert(staged.getSchema == source.getFileMetaData.getSchema, f)
        assert(staged.getKeyValueMetaData == source.getFileMetaData.getKeyValueMetaData, f)
      }
      val (copy, orig) = (spark.read.parquet(files: _*), spark.read.parquet(path))
      assert(copy.count() == orig.count(), path)
      assert(copy.exceptAll(orig).isEmpty && orig.exceptAll(copy).isEmpty, s"$path: rows differ")
      val (_, loadJobs) = jobsDuring(load(spark, dir))
      assert(loadJobs == 0, s"$path: a warm loader call started $loadJobs job(s)")
    }
  }

  test("a table with N or more files loads in place and stages nothing") {
    val dir = tempDir()
    Tables.lineitem(spark, sfDir).repartition(7).write.parquet(s"$dir/lineitem.parquet")
    val df = Tables.lineitem(spark, dir)
    assert(df.inputFiles.length == 7 && df.inputFiles.forall(_.contains(s"$dir/lineitem.parquet")),
      df.inputFiles.toSeq)
    assert(df.count() == Tables.lineitem(spark, sfDir).count())
    assert(stagedCopies(dir).isEmpty)
  }

  test("a table of one scan split or more loads in place; below a split it loads from the copy") {
    val dir = tempDir()
    val path = s"$dir/lineitem.parquet"
    Files.copy(Paths.get(s"$sfDir/lineitem.parquet"), Paths.get(path))
    val splitBelowTable = spark.newSession()
    splitBelowTable.conf.set("spark.sql.files.maxPartitionBytes",
      (Files.size(Paths.get(path)) - 1).toString)
    val inPlace = Tables.lineitem(splitBelowTable, dir)
    assert(inPlace.inputFiles.length == 1 && inPlace.inputFiles.head.endsWith(path),
      inPlace.inputFiles.toSeq)
    assert(stagedCopies(dir).isEmpty)
    // the same listing under the default split: the layout cache keys the split size
    val copied = Tables.lineitem(spark, dir)
    assert(copied.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(stagedCopies(dir).size == 1)
    assert(inPlace.count() == copied.count())
  }

  test("rewriting a dataset at the same path re-infers its schema and reads the new rows") {
    import spark.implicits._
    val path = s"${tempDir()}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("id", "name"))
    assert(Tables.parquet(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))

    Seq((3.5, 7, true)).toDF("score", "rank", "keep").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.schema.fieldNames.toSeq == Seq("score", "rank", "keep"))
    assert(df.as[(Double, Int, Boolean)].collect().toSeq == Seq((3.5, 7, true)))

    // an append adds files under the same path: the new listing re-infers too
    Seq((4.5, 8, false)).toDF("score", "rank", "keep").write.mode("append").parquet(path)
    assert(Tables.parquet(spark, path).count() == 2)
  }

  /** An events table whose `ts` is INT64 TIMESTAMP(NANOS) — the encoding
    * Spark rejects unless `spark.sql.legacy.parquet.nanosAsLong` is set.
    */
  private def writeNanosEvents(dir: String, tsNanos: Seq[Long]): Unit = {
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try tsNanos.zipWithIndex.foreach { case (ts, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ts))
    } finally w.close()
  }

  test("events: ts loads correctly with nanosAsLong true and false; the NANOS message is never cached") {
    val bare = spark.newSession()
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")

    // the fixture's micros encoding loads under either conf, cached or not
    for (s <- Seq(spark, bare, spark, bare))
      assert(Tables.events(s, sfDir).schema("ts").dataType == TimestampType)

    val dir = tempDir()
    val ts = Seq(1700000000123456789L, 1700000001000000999L)
    writeNanosEvents(dir, ts)
    def nanosRejected(s: SparkSession): Unit = {
      val e = intercept[IllegalArgumentException](Tables.events(s, dir))
      assert(e.getMessage.contains("TIMESTAMP(NANOS)") &&
        e.getMessage.contains("nanosAsLong=true"), e.getMessage)
    }
    nanosRejected(bare)
    for (_ <- 1 to 2) { // the second load is a cache hit
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType)
      // truncated (not rounded) to microseconds
      val micros = df.orderBy("event_id").selectExpr("unix_micros(ts)")
        .collect().map(_.getLong(0)).toSeq
      assert(micros == ts.map(_ / 1000))
    }
    // the other conf's cached entry never answers for this session
    nanosRejected(bare)
  }

  test("a missing path throws at load time; a load after the file appears succeeds") {
    import spark.implicits._
    val path = s"${tempDir()}/later.parquet"
    for (_ <- 1 to 2) {
      val e = intercept[AnalysisException](Tables.parquet(spark, path))
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    }
    Seq(1L, 2L, 3L).toDF("id").write.parquet(path)
    assert(Tables.parquet(spark, path).count() == 3)
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema)
  }

  test("concurrent loads from several sessions agree with a fresh inference") {
    val path = s"$sfDir/lineitem.parquet"
    val fresh = spark.read.parquet(path).schema
    val sessions = Seq.fill(4)(spark.newSession())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 16).map { i =>
        pool.submit(() => Tables.parquet(sessions(i % 4), path).schema)
      }
      futures.foreach(f => assert(f.get() == fresh))
    } finally pool.shutdown()
  }
}
