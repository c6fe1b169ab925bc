package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A2-family source parity: the engine's operators are source-agnostic —
  * the same rows arrive from CSV and JSON with an explicit schema (no
  * inference, the reference's `dfSchema` discipline) as from parquet.
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  private def parquetDocs = Tables.documents(spark, sfDir)
    .select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id")

  test("CSV source with explicit schema yields the same rows as parquet") {
    val dir = "/tmp/graft_test_csv_docs"
    parquetDocs.write.mode("overwrite").option("header", "true").csv(dir)
    val csv = spark.read.schema(docSchema).option("header", "true").csv(dir)
      .orderBy("doc_id")
    assert(csv.collect().toSeq == parquetDocs.collect().toSeq)
  }

  test("scan_csv: staged CSV mirror parses back to exactly the parquet part rows") {
    val got = graft.operators.Relational.scanCsv(spark, sfDir).collect().toSeq
    val want = Tables.part(spark, sfDir)
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .orderBy("p_partkey").collect().toSeq
    assert(got == want)
  }

  test("CSV staging dialect round-trips quotes/commas under RFC-4180 doubled-quote escaping") {
    import spark.implicits._
    // the dialect scan_csv pins (escape = '"') so DuckDB's read_csv default
    // parses the same bytes — fields exercising every quoting edge
    val rows = Seq(
      (1L, """plain"""), (2L, """with "quoted" middle"""),
      (3L, "comma, inside"), (4L, """both "q", and comma"""), (5L, ""))
    val dir = "/tmp/graft_test_csv_dialect"
    rows.toDF("id", "v").coalesce(1)
      .write.mode("overwrite").option("header", "true").option("escape", "\"").csv(dir)
    val back = spark.read
      .schema("id LONG, v STRING")
      .option("header", "true").option("escape", "\"").csv(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    assert(back.toSeq == rows)
    // the raw bytes must use RFC doubled quotes, never a backslash escape
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .filter(_.toString.endsWith(".csv")).findFirst().get()))
    assert(raw.contains("\"with \"\"quoted\"\" middle\""), raw)
    assert(!raw.contains("\\\""), raw)
  }

  test("scan_partitioned prunes at plan time and round-trips the partitioned layout") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val q = graft.operators.Relational.scanPartitioned(spark, sfDir)
    // sparkPlan, not executedPlan: the oracle-sort exchange makes AQE wrap
    // the plan in AdaptiveSparkPlanExec, which hides its leaves until run
    val scan = q.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail("no file scan in plan"))
    assert(scan.partitionFilters.nonEmpty, scan.toString) // pruning is plan-time
    val want = Tables.documents(spark, sfDir).filter(col("lang") === "en")
      .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id").collect().toSeq
    assert(q.collect().toSeq == want)
  }

  test("JSON lines source with explicit schema yields the same rows as parquet") {
    val dir = "/tmp/graft_test_json_docs"
    parquetDocs.write.mode("overwrite").json(dir)
    val json = spark.read.schema(docSchema).json(dir).orderBy("doc_id")
    assert(json.collect().toSeq == parquetDocs.collect().toSeq)
  }

  test("ORC source with explicit schema yields the same rows as parquet") {
    val dir = "/tmp/graft_test_orc_docs"
    parquetDocs.write.mode("overwrite").orc(dir)
    val orc = spark.read.schema(docSchema).orc(dir).orderBy("doc_id")
    assert(orc.collect().toSeq == parquetDocs.collect().toSeq)
  }

  test("delimited text source parsed with Catalyst expressions (the reference's A1 .dat path)") {
    // The reference's wikipedia loader reads a raw text file and splits each
    // line into (title, text) imperatively; the Spark-native form is
    // spark.read.text + expression-level parsing — stays in codegen, no UDF.
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_test_dat_docs"
    parquetDocs
      .select(concat_ws("", col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").text(dir)
    val parsed = spark.read.text(dir)
      .select(split(col("value"), "").as("f"))
      .select(
        element_at(col("f"), 1).cast(LongType).as("doc_id"),
        element_at(col("f"), 2).as("lang"),
        element_at(col("f"), 3).as("text"))
      .orderBy("doc_id")
    val expect = parquetDocs.select("doc_id", "lang", "text")
    assert(parsed.collect().toSeq == expect.collect().toSeq)
  }

  test("scan_binaryfile: file-per-payload ingest round-trips byte-exact with path→id binding (A2″)") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Relational.scanBinaryfile(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // cross-check against the row form computed ENGINE-side (the oracle
    // checks the same identity against DuckDB — this pins it without the
    // gate, and on a different SF than Verify runs)
    val want = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("checksum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet == want.keySet, s"ids differ: ${got.size} files vs ${want.size} rows")
    got.foreach { case (id, v) => assert(v == want(id), s"doc $id: $v != ${want(id)}") }
  }

  test("scan_evolved: mergeSchema backfills the added column as NULL for pre-evolution rows (A1‴)") {
    import org.apache.spark.sql.functions.col
    val rows = graft.operators.Relational.scanEvolved(spark, sfDir).collect()
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.length.toLong == total, "evolution scan lost rows")
    rows.foreach { r =>
      val pre = r.getLong(0) % 2 == 0
      assert(r.isNullAt(3) == pre,
        s"doc ${r.getLong(0)}: source null=${r.isNullAt(3)} but pre-evolution=$pre")
    }
    // without mergeSchema the column set depends on which file wins schema
    // inference — the merged read is what makes evolution deterministic
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("doc_id", "lang", "n_chars", "source"))
  }

  test("malformed JSONL rows: PERMISSIVE captures them in _corrupt_record, FAILFAST dies loudly") {
    // the ingest-robustness contract a 100 TB backfill depends on: a bad
    // row must be QUARANTINED (visible, countable) or FATAL — never
    // silently dropped or type-widened. Spark's JSON modes implement it;
    // this pins the behavior the engine's explicit-schema scans rely on.
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft_test_corrupt/docs.jsonl"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir),
      """{"doc_id": 1, "text": "ok"}
        |this is not json at all
        |{"doc_id": "NaN-ish", "text": 7}
        |{"doc_id": 3, "text": "also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    // Spark refuses corrupt-column-only queries on raw JSON — collect the
    // parsed rows once and assert in memory (the documented pattern)
    val permissive = spark.read.schema(schema).json(dir).collect()
    assert(permissive.length == 4, "PERMISSIVE must keep every input line")
    // exactly the two malformed lines are quarantined, the clean rows parse
    assert(permissive.count(r => !r.isNullAt(r.fieldIndex("_corrupt_record"))) == 2)
    assert(permissive.count(r => !r.isNullAt(r.fieldIndex("doc_id"))) >= 2)
    val failfast = spark.read.schema(
      StructType(schema.fields.filterNot(_.name == "_corrupt_record")))
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException](failfast.collect())
  }

  test("scan_nested: nested-field pruning reaches the parquet reader (A1⁗)") {
    import org.apache.spark.sql.functions._
    // run the registered query once so the staged mirror exists
    val full = operators.Relational.scanNested(spark, sfDir)
    assert(full.count() > 0)
    // a projection touching ONLY meta.lang must prune the struct: the scan
    // schema carries the one leaf, not source/n_chars (nor tokens)
    val pruned = spark.read
      .parquet(s"${Staging.stagedRoot(operators.Relational.NestedStageDir)}/documents")
      .select(col("doc_id"), col("meta.lang").as("lang"))
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val schemaTxt = scan.requiredSchema.catalogString
    assert(schemaTxt.contains("lang"), schemaTxt)
    assert(!schemaTxt.contains("n_chars") && !schemaTxt.contains("tokens"),
      s"nested pruning failed — struct read whole: $schemaTxt")
  }

  test("sim_mrl: stage 1 reads ONLY the prefix column family off the staged mirror (K3g)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val df = graft.operators.VectorOps.simMrl(spark, sfDir)
    assert(df.collect().nonEmpty)
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft_mrl_prefix")) => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val fields = scans.map(_.requiredSchema.fieldNames.toSet)
    // stage 1 (corpus + query prefix sides): the scan schema is EXACTLY
    // id + prefix — the 64-float embedding family is never decoded, which
    // is the 4× scan-bytes claim (footer-measured in mrl_bytes_r14.json)
    val stage1 = fields.filter(_.contains("prefix"))
    assert(stage1.nonEmpty, s"no prefix-family scan: $fields")
    stage1.foreach(fs => assert(fs == Set("vec_id", "prefix"),
      s"stage-1 scan reads beyond the prefix family: $fs"))
    // stage 2 (full-dim rerank + query embeddings): id + embedding, never
    // the prefix — the two column families never fuse into one fat scan
    val stage2 = fields.filter(_.contains("embedding"))
    assert(stage2.nonEmpty, s"no full-dim scan: $fields")
    stage2.foreach(fs => assert(fs == Set("vec_id", "embedding"),
      s"stage-2 scan reads beyond the full-dim family: $fs"))
  }

  test("sim_hamming: stage 1 reads ONLY the signature column family off the staged mirror (K3j)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val df = graft.operators.VectorOps.simHamming(spark, sfDir)
    assert(df.collect().nonEmpty)
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft_ham_bits")) => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val fields = scans.map(_.requiredSchema.fieldNames.toSet)
    // stage 1 (corpus + query signature sides): the scan schema is EXACTLY
    // id + the two signature words — 16 bytes/row instead of Dim floats,
    // the ~16x scan-bytes claim (footer-measured in ham_bytes_r14.json)
    val stage1 = fields.filter(_.contains("bits_lo"))
    assert(stage1.nonEmpty, s"no signature-family scan: $fields")
    stage1.foreach(fs => assert(fs == Set("vec_id", "bits_lo", "bits_hi"),
      s"stage-1 scan reads beyond the signature family: $fs"))
    // stage 2 (full-dim rerank + query embeddings): id + embedding, never
    // the signature words — the column families never fuse into one scan
    val stage2 = fields.filter(_.contains("embedding"))
    assert(stage2.nonEmpty, s"no full-dim scan: $fields")
    stage2.foreach(fs => assert(fs == Set("vec_id", "embedding"),
      s"stage-2 scan reads beyond the full-dim family: $fs"))
  }

  test("sim_hnsw: query-time scans touch ONLY the staged graph families " +
       "plus the tiny query-side slice — the corpus embedding column is " +
       "never rescanned (K3n)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val df = graft.operators.VectorOps.simHnsw(spark, sfDir)
    assert(df.collect().nonEmpty)
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    val (staged, original) = scans.partition(_.relation.location.rootPaths
      .exists(_.toString.contains("graft_hnsw_graph")))
    // staged families carry all corpus bytes the search reads: edges
    // (with dst_emb inline) and portals
    assert(staged.nonEmpty, df.queryExecution.executedPlan.toString)
    val stagedFields = staged.map(_.requiredSchema.fieldNames.toSet)
    stagedFields.foreach(fs => assert(
      fs.subsetOf(Set("src", "dst", "dst_emb")) ||
        fs.subsetOf(Set("b", "vec_id", "embedding")),
      s"unexpected staged-family scan schema: $fs"))
    // the ORIGINAL embeddings table appears only as the query-side slice
    // (vec_id < QuerySetSize pushed to the scan) — every such scan must
    // carry that pushed filter, so the corpus rows never stream again
    original.foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("LessThan(vec_id"),
        s"original-table scan without the query-slice pushdown: $pushed\n$f")
    }
  }

  test("parquet sink round-trips every type the engine emits (A4)") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_test_sink"
    val df = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .orderBy("event_id").limit(100)
    df.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).orderBy("event_id")
    assert(back.collect().toSeq == df.collect().toSeq)
    assert(back.schema == df.schema)
  }
}
