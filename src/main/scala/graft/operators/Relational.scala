package graft.operators

import graft.{Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scans, filters, projections and scalar functions.
  *
  * Capability map (SURVEY §2.A/B/H): the reference's text/CSV scans and
  * closure predicates re-expressed as parquet scans + Catalyst expressions,
  * so predicate pushdown and column pruning reach the scan for free.
  * [ref: wikipedia/…/package.scala#WikipediaArticle.mentionsLanguage,
  *  timeusage/…/TimeUsage.scala#timeUsageSummary]
  *
  * Scale notes: every query here is a narrow scan→filter→project pipeline —
  * no shuffle except where an aggregate/sort requires one. At 100 TB the
  * filters and the projected column set are pushed into the parquet reader
  * (verified via `PushedFilters`/`ReadSchema` in RelationalSpec).
  */
object Relational {

  /** A1: full scan of the documents table (projection = all columns). */
  def scanDocuments(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .oracleSorted("doc_id")

  /** Expected lineitem schema, pinned programmatically like the reference's
    * hand-built `dfSchema` [ref: timeusage/…/TimeUsage.scala#dfSchema].
    * Passing an explicit schema skips inference — mandatory at scale where
    * schema inference would list-and-sample a 100 TB dataset.
    */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType),
  ))

  /** A3: scan with explicit programmatic schema (no inference). */
  def scanSchema(s: SparkSession, dir: String): DataFrame =
    s.read.schema(lineitemSchema).parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic data —
      // the oracle sort must be a TOTAL order over the output columns or
      // tie order diverges between engines once input order is shuffled
      // (caught by the round-8 10x gate on scalar_math; same class here)
      .oracleSorted("l_orderkey", "l_linenumber", "l_quantity")

  /** Expected part-table schema for the CSV scan (explicit, no inference). */
  val partCsvSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType),
  ))

  /** Fixed stage dir of the CSV mirror `scan_csv` reads; see
    * [[graft.Staging.stage]] for the layout and locking of every stage dir.
    */
  val CsvStageDir = "/tmp/graft_scan_csv"

  /** Stage the part table as CSV (the testdata ships parquet only; the
    * staging is fixture plumbing, not the measured capability). The tag
    * names the dialect, so a dialect change re-stages.
    */
  private def stageCsv(s: SparkSession, dir: String): String =
    Staging.stage(CsvStageDir, dir, s"rfc4180|${Tables.scanTag(s)}", s"$dir/part.parquet") { target =>
      // escape = '"' → RFC-4180 doubled-quote escaping. Spark's default
      // escape is backslash, which DuckDB's read_csv (escape = '"') would
      // parse differently the moment a field contains a quote; pinning both
      // engines to the RFC dialect makes the quoting claim true, and
      // SourcesSpec round-trips a quote/comma-bearing frame under these
      // options. The write is parallel (one CSV file per task): the
      // oracle's `read_csv` globs the directory and handles one header per
      // file.
      Tables.part(s, dir)
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(s"$target/part")
    }

  /** A2 `scan_csv`: CSV scan with explicit programmatic schema — the
    * reference's delimited-text ingestion path as a first-class registered
    * query (round-3 VERDICT #5; the JSON/ORC/raw-text variants stay in
    * SourcesSpec). No inference: at 100 TB schema inference would
    * list-and-sample the whole dataset before the first byte of real work.
    * The DuckDB oracle parses the SAME files with `read_csv` under the same
    * explicit column types, so the hash match proves the PARSE (types,
    * quoting, header handling), not just the row count.
    */
  def scanCsv(s: SparkSession, dir: String): DataFrame = {
    val root = stageCsv(s, dir)
    s.read.schema(partCsvSchema)
      .option("header", "true").option("escape", "\"")
      .csv(s"$root/part")
      .oracleSorted("p_partkey")
  }

  /** Expected documents schema for the JSON scan (explicit, no inference). */
  val docsJsonSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  /** Fixed stage dir of the JSONL mirror `scan_json` reads (see
    * [[graft.Staging.stage]]).
    */
  val JsonStageDir = "/tmp/graft_scan_json"

  /** Stage the documents table as newline-delimited JSON once per
    * (sfDir, source content) — fixture plumbing like `stageCsv`: the
    * driver ships parquet only, and the capability being measured is the
    * JSONL PARSE, the interchange format most raw text corpora actually
    * arrive in. Parallel write (one file per task); the oracle globs the
    * directory.
    */
  private def stageJson(s: SparkSession, dir: String): String =
    Staging.stage(JsonStageDir, dir, s"jsonl1|${Tables.scanTag(s)}", s"$dir/documents.parquet") { target =>
      Tables.documents(s, dir)
        .write.mode("overwrite")
        .json(s"$target/documents")
    }

  /** A2′ `scan_json`: newline-delimited JSON scan with explicit
    * programmatic schema — no inference (at 100 TB inference samples the
    * dataset before the first byte of real work; a pinned schema also
    * makes malformed rows a visible contract, not a silent type widen).
    * The DuckDB oracle parses the SAME files with `read_json` under the
    * same column types, so the hash match proves the PARSE — field
    * binding, string unescaping, integer width — not just the row count.
    */
  def scanJson(s: SparkSession, dir: String): DataFrame = {
    s.read.schema(docsJsonSchema)
      .json(s"${stageJson(s, dir)}/documents")
      .oracleSorted("doc_id")
  }

  /** Fixed stage dir of the ORC mirror `scan_orc` reads (see
    * [[graft.Staging.stage]]).
    */
  val OrcStageDir = "/tmp/graft_scan_orc"

  /** Stage the orders table as ORC once per (sfDir, source content) —
    * fixture plumbing like `stageCsv`. Orders is chosen deliberately: it
    * carries a TIMESTAMP column, the one type whose on-disk convention
    * differs between the formats (ORC stores wall-clock local time,
    * parquet instant micros) — the round trip must be value-exact under
    * the pinned-UTC session. Parallel write, one ORC file per task.
    */
  private def stageOrc(s: SparkSession, dir: String): String =
    Staging.stage(OrcStageDir, dir, s"orc1|${Tables.scanTag(s)}", s"$dir/orders.parquet") { target =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .write.mode("overwrite")
        .orc(s"$target/orders")
    }

  /** A2″′ `scan_orc`: ORC scan — the second columnar format a lake-scale
    * engine must ingest (ORC files arrive from Hive/Trino-era pipelines;
    * rewriting 100 TB to parquet first is not a plan). Spark's ORC reader
    * is vectorized and supports the same pushdown surface as parquet.
    * DuckDB has no ORC reader, so the oracle reads the SAME rows from the
    * source parquet table — the hash match therefore pins the ORC
    * write+read ROUND TRIP (integer widths, doubles, strings, and
    * especially the wall-clock timestamp convention) to value-exactness
    * against the parquet original.
    */
  def scanOrc(s: SparkSession, dir: String): DataFrame = {
    s.read.orc(s"${stageOrc(s, dir)}/orders")
      .oracleSorted("o_orderkey")
  }

  /** Fixed stage dir of the nested mirror `scan_nested` reads (see
    * [[graft.Staging.stage]]).
    */
  val NestedStageDir = "/tmp/graft_scan_nested"

  /** Stage documents as NESTED parquet — a STRUCT metadata column and an
    * ARRAY token column — once per (sfDir, source content). Real corpora
    * ship nested (crawl records, request/response envelopes, span
    * annotations); an engine that only reads flat tables makes users
    * flatten 100 TB first.
    */
  private def stageNested(s: SparkSession, dir: String): String =
    Staging.stage(NestedStageDir, dir, s"nested1|${Tables.scanTag(s)}", s"$dir/documents.parquet") { target =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"),
          split(col("text"), " ").as("tokens"))
        .write.mode("overwrite").parquet(s"$target/documents")
    }

  /** A1⁗ `scan_nested`: nested parquet scan — STRUCT field access and
    * ARRAY element access straight off the columnar layout. Parquet stores
    * nested fields as separate column chunks, so `meta.lang` reads ONE
    * leaf column, not the struct (schema pruning — asserted on ReadSchema
    * in SourcesSpec; at 100 TB reading `meta.lang` instead of a 20-field
    * envelope struct is the same order of win as column pruning on flat
    * tables). The DuckDB oracle reads the SAME staged files with its own
    * nested-parquet reader, so the hash pins both engines' struct/array
    * decoding to value-exactness.
    */
  def scanNested(s: SparkSession, dir: String): DataFrame = {
    Tables.parquet(s, s"${stageNested(s, dir)}/documents")
      .select(col("doc_id"),
        col("meta.lang").as("lang"), col("meta.source").as("source"),
        col("meta.n_chars").as("n_chars"),
        size(col("tokens")).as("n_tokens"),
        element_at(col("tokens"), 1).as("first_token"),
        element_at(col("tokens"), -1).as("last_token"))
      .oracleSorted("doc_id")
  }

  /** Fixed stage dir of the schema-evolution mirror `scan_evolved` reads
    * (see [[graft.Staging.stage]]).
    */
  val EvoStageDir = "/tmp/graft_scan_evo"

  /** Stage documents as two parquet batches with DIFFERENT schemas — the
    * second batch carries a `source` column the first predates. This is
    * the data-lake reality every long-lived ingest hits: columns get added
    * mid-stream and old files are never rewritten.
    */
  private def stageEvolved(s: SparkSession, dir: String): String =
    Staging.stage(EvoStageDir, dir, s"evo1|${Tables.scanTag(s)}", s"$dir/documents.parquet") { target =>
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$target/batch1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars", "source")
        .write.mode("overwrite").parquet(s"$target/batch2")
    }

  /** A1‴ `scan_evolved` (round 6): schema-evolution scan — `mergeSchema`
    * unions the per-file schemas at read time, so pre-evolution rows
    * surface the added column as NULL instead of failing or silently
    * dropping it. At 100 TB this is why old files never need rewriting
    * when the schema grows; the cost is footer-reading every file's
    * schema at planning (bounded by file count — exactly the listing the
    * scan already pays). The oracle reconstructs the same evolution from
    * the flat table, so the hash proves the merge semantics including the
    * NULL backfill.
    */
  def scanEvolved(s: SparkSession, dir: String): DataFrame = {
    val root = stageEvolved(s, dir)
    s.read.option("mergeSchema", "true").parquet(s"$root/batch1", s"$root/batch2")
      .select("doc_id", "lang", "n_chars", "source")
      .oracleSorted("doc_id")
  }

  /** Fixed stage dir of the file-per-payload mirror `scan_binaryfile`
    * reads (see [[graft.Staging.stage]]).
    */
  val BinStageDir = "/tmp/graft_scan_bin"

  /** Stage each document's bytes as its own file once per (sfDir, content)
    * — fixture plumbing like `stageCsv`: the capability measured is the
    * OPAQUE-FILE ingest path (image/audio corpora arrive as object-store
    * files, not rows). The write is parallel (executors write their
    * partitions' files; local FS here, shared storage on a cluster).
    */
  private def stageBinary(s: SparkSession, dir: String): String =
    Staging.stage(BinStageDir, dir, "bin1", s"$dir/documents.parquet") { target =>
      import java.nio.file.{Files, Paths}
      val docsDir = s"$target/documents"
      Files.createDirectories(Paths.get(docsDir))
      Tables.documents(s, dir).select("doc_id", "text")
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(docsDir, f"${r.getLong(0)}%08d.txt"),
              r.getString(1).getBytes("UTF-8"))
          }
        }
    }

  /** A2″ `scan_binaryfile` (round 6): whole-file binary ingest via Spark's
    * `binaryFile` source — the entry point of every multimodal pipeline
    * whose payloads live as object-store files rather than table rows. The
    * id is recovered from the file path, and the content column feeds the
    * same feature extraction the decode stage runs (here: size + md5, both
    * re-derivable by the oracle from the row form the files were staged
    * from — the hash match proves byte-exact file round-trip, path→id
    * binding included).
    *
    * Scale notes: `binaryFile` lists files on the driver — fine for
    * manifest-driven ingest of bounded batches; a 100 TB backfill packs
    * payloads into parquet binary columns first (the `multimodal_decode`
    * input shape) precisely because millions of tiny files, not bytes, are
    * the bottleneck. Filters on path/length push into the listing; the
    * content bytes never shuffle (narrow projection → aggregate-free plan).
    */
  def scanBinaryfile(s: SparkSession, dir: String): DataFrame = {
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(s"${stageBinary(s, dir)}/documents")
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("checksum"))
      .oracleSorted("doc_id")
  }

  /** Fixed stage dir of the packed-payload parquet mirror `scan_packed`
    * reads (see [[graft.Staging.stage]]).
    */
  val PackStageDir = "/tmp/graft_scan_packed"

  /** The one-time packing backfill: read the per-file binary staging ONCE
    * through the `binaryFile` source and write (doc_id, content) into
    * parquet BINARY columns — the `multimodal_decode` input shape. This is
    * the step `scan_binaryfile`'s scaladoc prescribes for 100 TB: after
    * it, every downstream scan pays parquet column-chunk IO (splittable,
    * footer-pruned, a few thousand row groups) instead of per-file
    * open/list cost over millions of objects.
    */
  private def stagePacked(s: SparkSession, dir: String): String =
    Staging.stage(PackStageDir, dir, "pack1", s"$dir/documents.parquet") { target =>
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
        .load(s"${stageBinary(s, dir)}/documents")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("long").as("doc_id"),
          col("content"))
        .write.mode("overwrite").parquet(s"$target/packed")
    }

  /** A2‴′ `scan_packed` (round 17 — round-16 VERDICT #5): the EXECUTED
    * packing swap. Same feature derivation as `scan_binaryfile` (size +
    * md5 per payload, byte-exact against the oracle's row form), but read
    * from the packed parquet binary columns the one-time [[stagePacked]]
    * backfill wrote from the file staging. The hash gate proves the
    * file→parquet packing round-trip is byte-exact (path→id binding
    * included, since the ids were recovered from paths at pack time);
    * the 100× bench row quantifies the file-count-vs-bytes win against
    * `scan_binaryfile`'s per-file IO floor.
    */
  def scanPacked(s: SparkSession, dir: String): DataFrame = {
    Tables.parquet(s, s"${stagePacked(s, dir)}/packed")
      .select(col("doc_id"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("checksum"))
      .oracleSorted("doc_id")
  }

  /** Fixed stage dir of the hive-partitioned mirror `scan_partitioned`
    * and `scan_dpp` read (see [[graft.Staging.stage]]).
    */
  val PartStageDir = "/tmp/graft_scan_part"

  /** The `scan_dpp` dimension predicate: language-family group derived per
    * distinct lang — 'cjk' selects exactly one of the five language
    * partitions, so runtime pruning has something to prune.
    */
  val DppGroupOf: Column => Column =
    l => when(l === "zh", "cjk").otherwise("latin")

  /** Stage the partitioned mirror and the lang dimension `scan_dpp` joins.
    * Tag `v2`: the dimension joined the layout after the first version.
    */
  private def stagePartitioned(s: SparkSession, dir: String): String =
    Staging.stage(PartStageDir, dir, s"v2|${Tables.scanTag(s)}", s"$dir/documents.parquet") { target =>
      Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
        .write.partitionBy("lang").mode("overwrite")
        .parquet(s"$target/documents")
      // tiny lang dimension (|distinct langs| rows) with a derived
      // attribute the fact side cannot see at plan time — the input that
      // makes dynamic partition pruning the ONLY way to prune
      Tables.documents(s, dir).select(col("lang")).distinct()
        .select(col("lang"), DppGroupOf(col("lang")).as("lang_group"))
        .write.mode("overwrite")
        .parquet(s"$target/langdim")
    }

  /** A1′ `scan_partitioned`: selective scan over a hive-partitioned layout
    * — documents staged once as `lang=<v>/` partition directories, then
    * read with a partition-column predicate. The predicate resolves at
    * PLAN time against directory names (`PartitionFilters` in the scan;
    * asserted in SourcesSpec), so the scan reads |matching partitions|,
    * not |table| — at 100 TB this is the difference between one
    * partition's files and the whole dataset before a single row is
    * decoded. The oracle filters the ORIGINAL flat table, so the hash
    * match also proves the partitioned round-trip preserves the data.
    */
  def scanPartitioned(s: SparkSession, dir: String): DataFrame = {
    Tables.parquet(s, s"${stagePartitioned(s, dir)}/documents")
      .filter(col("lang") === "en")
      .select("doc_id", "lang", "source", "n_chars")
      .oracleSorted("doc_id")
  }

  /** A1″ `scan_dpp`: DYNAMIC partition pruning over the same hive-
    * partitioned layout (round-4 VERDICT "What's missing" #1). The
    * partition-column predicate is NOT known at plan time: the query joins
    * the fact to a lang dimension and filters the dimension's DERIVED
    * attribute (`lang_group = 'cjk'`) — the first thing a star-schema user
    * does at 100 TB. Catalyst inserts a `DynamicPruningExpression` subquery
    * into the fact scan's partition filters (reusing the dimension's
    * broadcast), so at RUNTIME the scan reads only the partitions whose
    * lang survives the dimension filter — 1 of 5 directories here, |matching
    * partitions| of |table| at scale. PlanShapeSpec asserts the
    * DynamicPruningExpression is present and that the executed scan's
    * partitions-read metric shows the pruning actually happened. The oracle
    * rebuilds the dimension from the flat table, so the hash match also
    * proves the staged dimension derivation.
    */
  def scanDpp(s: SparkSession, dir: String): DataFrame = {
    val root = stagePartitioned(s, dir)
    val fact = Tables.parquet(s, s"$root/documents")
    val dim = Tables.parquet(s, s"$root/langdim")
      .filter(col("lang_group") === "cjk")
    fact.join(dim, "lang")
      .select("doc_id", "lang", "source", "n_chars")
      .oracleSorted("doc_id")
  }

  /** B2: equality filter [ref: stackoverflow/…/StackOverflow.scala#groupedPostings]. */
  def filterEq(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .oracleSorted("event_id")

  /** B3: range predicate [ref: timeusage/…/TimeUsage.scala#timeUsageSummary]. */
  def filterRange(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity").between(10, 20) && col("l_discount") < 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      // total order over all outputs — see scanSchema's tie note
      .oracleSorted("l_orderkey", "l_linenumber", "l_quantity", "l_discount")

  /** B1/H1: token-membership predicate — the reference's
    * `text.split(' ').contains(lang)` as pure Catalyst (no UDF)
    * [ref: wikipedia/…/package.scala#WikipediaArticle.mentionsLanguage].
    */
  def filterToken(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(array_contains(split(col("text"), " "), "spark"))
      .select("doc_id", "lang")
      .oracleSorted("doc_id")

  /** B4: conditional projection (when/otherwise 3-way bucket)
    * [ref: timeusage/…/TimeUsage.scala#timeUsageSummary].
    */
  def projectCase(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 1000, "low")
          .when(col("o_totalprice") < 5000, "mid")
          .otherwise("high").as("price_bucket"))
      .oracleSorted("o_orderkey")

  /** B5: arithmetic column-group projection (fold of Columns with arithmetic)
    * [ref: timeusage/…/TimeUsage.scala#timeUsageSummary].
    */
  def projectArith(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.Num.money(
          graft.functions.Num.charged(col("l_extendedprice"), col("l_discount"), col("l_tax")))
          .as("net_price"))
      // total order over all outputs — see scanSchema's tie note
      .oracleSorted("l_orderkey", "l_linenumber", "net_price")

  /** B6: name-driven column classification — the reference partitions 455
    * survey column names into groups by prefix sets and folds each group
    * with `+` [ref: timeusage/…/TimeUsage.scala#classifiedColumns]. Pure
    * driver-side metaprogramming over `df.columns`; the data never moves.
    */
  def classifiedColumns(names: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
    val money = names.filter(_.endsWith("price"))
    val rates = names.filter(n => n == "l_discount" || n == "l_tax")
    val qty   = names.filter(_.contains("quantity"))
    (money, rates, qty)
  }

  /** B6 exercised: classify lineitem's numeric columns by name, then project
    * the per-row fold (sum) of each class — the `classifiedColumns` +
    * column-group-fold capability on our schema. Decimal folds keep the
    * 2-decimal arithmetic exact (see Num).
    */
  def projectClassified(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    val li = Tables.lineitem(s, dir)
    val (money, rates, qty) = classifiedColumns(li.columns.toSeq)
    require(money.nonEmpty && rates.nonEmpty && qty.nonEmpty,
      s"classification must cover all three groups, got $money / $rates / $qty")
    li
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Num.money(money.map(c => Num.dec2(col(c))).reduce(_ + _)).as("money_sum"),
        Num.money(rates.map(c => Num.rate2(col(c))).reduce(_ + _)).as("rate_sum"),
        round(qty.map(col).reduce(_ + _), 2).as("qty_sum"))
      // total order over all outputs — see scanSchema's tie note
      .oracleSorted("l_orderkey", "l_linenumber", "money_sum", "rate_sum", "qty_sum")
  }

  /** H3: math scalars [ref: stackoverflow/…/StackOverflow.scala#euclideanDistance]. */
  def scalarMath(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        ceil(col("l_quantity") / 7).as("qty_ceil"),
        floor(col("l_extendedprice") / 100).as("price_floor"),
        abs(col("l_quantity") - lit(25)).as("qty_dev"))
      // total order over all outputs — see scanSchema's tie note (the
      // round-8 10x gate caught exactly this query's tie divergence)
      .oracleSorted("l_orderkey", "l_linenumber", "sqrt_price", "disc_sq",
        "qty_ceil", "price_floor", "qty_dev")

  /** H2/H7: string scalars + regex [ref: stackoverflow/…/StackOverflow.scala#rawPostings,
    * wikipedia/…/WikipediaData.scala#parse].
    */
  def scalarString(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 5).as("name_pre"),
        concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"))
      .oracleSorted("p_partkey")

  /** H4: date/timestamp functions (testdata extension; no dates in
    * reference). The money sum goes through exact decimals so the result is
    * partition-order independent (see Num).
    */
  def scalarDate(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
           graft.functions.Num.money(
             sum(graft.functions.Num.dec2(col("o_totalprice")))).as("sum_total"))
      .oracleSorted("o_year", "o_month")

  /** H6: JSON extraction from the events.props string column. */
  def scalarJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .oracleSorted("event_type")

  /** `sample_hash` keep-percentage (rows whose hash bucket < this). */
  val SamplePct = 10

  /** `sample_hash`: reproducible Bernoulli sampling — keep a row iff an
    * md5-derived hash of its key lands in the first SamplePct of 100
    * buckets. Unlike `rand()`-based `df.sample`, the decision is a pure
    * function of the key: the same rows are kept on every run, on any
    * cluster size, and in DuckDB (the oracle recomputes the same buckets) —
    * the property a pipeline needs for debuggable, resumable subsampling.
    * Per-row hash + filter, no shuffle; the salt prefix decorrelates this
    * sample from any other hash use of the same key.
    */
  /** The parity-critical salted-hash idiom every deterministic sampler
    * shares: 60-bit md5 prefix of `"<salt>:" + doc_id` as a long. ONE
    * definition (round-5b review: four drifting copies) — it must stay
    * bit-identical to the oracle's
    * `CAST('0x' || substr(md5('<salt>:' || doc_id), 1, 15) AS BIGINT)`.
    */
  private[graft] def saltedHash(salt: String): Column =
    conv(substring(md5(concat(lit(s"$salt:"),
      col("doc_id").cast("string")).cast("binary")), 1, 15), 16, 10).cast("long")

  /** `saltedHash` reduced to a percentage bucket. */
  private[graft] def saltedBucket(salt: String): Column =
    (saltedHash(salt) % 100).cast("int")

  def sampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", saltedBucket("graft"))
      .filter(col("bucket") < SamplePct)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .oracleSorted("doc_id")

  /** `sample_reservoir` size — the exact sample cardinality guaranteed. */
  val ReservoirK = 100

  /** `sample_reservoir` (round 7): exact-k uniform sample without
    * replacement — the guarantee `sample_hash` (Bernoulli, EXPECTED
    * fraction, binomial-variable actual count) cannot give. A seeded
    * reservoir doesn't distribute (merge order changes the kept set);
    * the distributed-and-deterministic equivalent is hash ORDER
    * STATISTICS: the k smallest salted-md5 keys are the first k of a
    * uniform permutation of the corpus, a pure function of the key set —
    * same k rows every run, any cluster size, and in the oracle.
    * Scale: `orderBy(hkey).limit(k)` plans as TakeOrderedAndProject —
    * per-partition k-heaps, merged on the driver, NO global sort (the
    * `topk` plan shape); the rank window runs AFTER the limit, over k
    * rows only (the bounded-window justification of `rank_tokens`).
    */
  def sampleReservoir(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .withColumn("hkey", saltedHash("res"))
      .select(col("doc_id"), col("lang"), col("source"), col("hkey"))
      .orderBy(asc("hkey"), asc("doc_id"))
      .limit(ReservoirK)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(asc("hkey"), asc("doc_id"))).cast("int"))
      .oracleSorted("doc_id")
  }

  /** `sample_weighted` size (exact, like the unweighted reservoir). */
  val WeightedK = 100

  /** `sample_weighted` (round 7): exact-k WEIGHTED sample without
    * replacement — documents drawn with probability proportional to
    * length (the token-budget sampling a corpus-mixing stage runs:
    * sampling documents uniformly under-represents long documents'
    * tokens). Distributed-and-deterministic via the A-ES/Efraimidis-
    * Spirakis priority trick: u = uniform from the salted 60-bit md5 key,
    * priority e = −ln(u)/w (an Exponential(w) draw — the k SMALLEST are
    * the weighted sample), so the decision is again a pure function of
    * the key set: a seeded weighted reservoir would be merge-order
    * dependent; this isn't, and the oracle replays it. Cross-engine float
    * safety: u is the same exact dyadic (hkey+1)/2^60 in both engines and
    * ln of identical doubles matches (the `text_logprob` evidence).
    * Scale: `orderBy(prio).limit(k)` = TakeOrderedAndProject per-partition
    * heaps, one scan, no global sort — the `sample_reservoir` plan.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = (col("hkey") + 1).cast("double") / lit(1.152921504606846976e18)
    Tables.documents(s, dir)
      .where(col("n_chars") > 0)
      .withColumn("hkey", saltedHash("wres"))
      .withColumn("prio", -log(u) / col("n_chars"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("prio"))
      .orderBy(asc("prio"), asc("doc_id"))
      .limit(WeightedK)
      .select(col("doc_id"), col("lang"), col("n_chars"), round(col("prio"), 8).as("prio"))
      .oracleSorted("doc_id")
  }

  /** `sample_split` boundaries: cumulative percentages for train/val/test. */
  val SplitPct: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 95, "test" -> 100)

  /** `sample_split`: deterministic train/val/test assignment — the split
    * EVERY training pipeline does exactly once and must never get wrong.
    * Same contract as `sample_hash` (a salted-md5 bucket is a pure
    * function of the key): a document's split never changes as the corpus
    * grows, across reruns, or across cluster sizes — the property that
    * prevents silent val→train leakage when data is re-ingested. The salt
    * differs from sample_hash's and sample_mix's so the three decisions
    * are independent. Stateless per row: zero shuffle, streaming-safe.
    */
  def sampleSplit(s: SparkSession, dir: String): DataFrame =
    splitLabeled(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
      .oracleSorted("doc_id")

  /** The split decision over ANY (doc_id, …) frame — stateless per row,
    * so the SAME code labels a streaming ingest frame
    * (StreamingParitySpec proves stream labels match batch).
    */
  private[graft] def splitLabeled(df: DataFrame): DataFrame = {
    val label = SplitPct.init.foldRight(lit(SplitPct.last._1)) {
      case ((name, hi), acc) => when(col("bucket") < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("bucket", saltedBucket("split"))
      .withColumn("split", label)
  }

  /** `sample_mix` per-language keep percentages: the data-MIXING stage of
    * a training pipeline — downsample the dominant language, keep all of
    * the scarcest (the standard rebalancing move; weights are the knob a
    * data-mixture experiment turns).
    */
  val MixPct: Seq[(String, Int)] =
    Seq("en" -> 20, "de" -> 60, "es" -> 60, "fr" -> 60, "zh" -> 100)

  /** `sample_mix`: WEIGHTED deterministic sampling — keep a row iff its
    * salted md5 bucket falls under its language's configured rate. The
    * same reproducibility contract as `sample_hash` (pure function of the
    * key: same rows on every run, any cluster size, and in DuckDB), but
    * with per-group rates — uniform sampling can't rebalance a skewed
    * corpus, and `rand()`-based mixing reproduces on neither engine nor
    * across partitionings. Unknown languages default to keep-all (a
    * mixing stage must never silently drop a group nobody configured).
    * Per-row hash + filter, no shuffle.
    */
  def sampleMix(s: SparkSession, dir: String): DataFrame =
    mixKept(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"), col("keep_pct"))
      .oracleSorted("doc_id")

  /** The mixing decision over ANY (doc_id, lang, …) frame — a pure
    * stateless per-row predicate, so the SAME code runs on a streaming
    * ingest frame (StreamingParitySpec proves kept rows match batch).
    */
  private[graft] def mixKept(df: DataFrame): DataFrame = {
    val pct = MixPct.tail.foldLeft(
      when(col("lang") === MixPct.head._1, lit(MixPct.head._2))) {
        case (acc, (l, p)) => acc.when(col("lang") === l, lit(p))
      }.otherwise(lit(100))
    df.withColumn("bucket", saltedBucket("mix"))
      .withColumn("keep_pct", pct)
      .filter(col("bucket") < col("keep_pct"))
  }

  /** `sample_temperature` resolution: keep rates quantized to basis
    * points so the hash-bucket compare is integer-vs-integer (never a
    * float boundary).
    */
  val TempBasis = 10000

  /** K23′ `sample_temperature` (round 11): temperature-based language
    * rebalancing — the multilingual-corpus α-sampling of XLM-R/mT5
    * (Conneau 2020 §3): head languages are downsampled toward
    * p_l^α (α = 0.5 here), tail languages kept whole, so the trained
    * model sees a flatter language mix WITHOUT replicating rare data.
    * Where `sample_mix` (K23) applies FIXED per-language percentages,
    * this derives them FROM THE DATA: with α = ½ the downsample-only
    * keep rate is rate_l = p_l^(α−1) normalized to max 1, which
    * simplifies to sqrt(n_min / n_l) — the rarest language keeps 100%,
    * a 4×-more-common one keeps 50%.
    *
    * Oracle-exactness: n_min/n_l is a division of exact longs and sqrt
    * of identical doubles matches DuckDB (house float rule), so the
    * basis-point threshold floor(√·TempBasis) is engine-identical; the
    * keep decision is then integer bucket < integer threshold (the
    * `sample_hash` md5 discipline at 1/100th-percent resolution — no
    * float compare at the boundary).
    *
    * Scale: one vocabulary-sized language-count aggregation (broadcast
    * back), then a stateless per-row predicate — streaming-safe and
    * shuffle-free over the corpus, like every sampler in the engine.
    */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    val docs = Tables.documents(s, dir)
    // round-17: langN feeds its own min-aggregate and the rate rows — cut
    // so the docs scan+agg runs once (guide §2.4); lang-cardinality-bounded
    val langN = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .localCheckpoint(eager = false)
    val rates = langN.attachScalarRow(langN.agg(min(col("n_l")).as("n_min")))
      .withColumn("keep_bp",
        floor(sqrt(col("n_min").cast("double") / col("n_l").cast("double"))
          * TempBasis).cast("int"))
    docs
      .withColumn("bucket_bp", (saltedHash("temp") % TempBasis).cast("int"))
      .join(broadcast(rates.select("lang", "n_l", "keep_bp")), "lang")
      .filter(col("bucket_bp") < col("keep_bp"))
      .select(col("doc_id"), col("lang"), col("bucket_bp"), col("n_l"), col("keep_bp"))
      .oracleSorted("doc_id")
  }

  /** `stats_histogram` bin width (dollars) and cap (last bin collects the
    * tail). Interpolated into the oracle SQL so the two engines share one
    * definition.
    */
  val HistBinWidth = 500
  val HistMaxBin = 19

  /** `stats_histogram` (round 6): fixed-width value histogram — the
    * distribution profile a data validation stage plots (and the
    * downsampling/binning primitive `quantile_bins` is the rank-based
    * sibling of). One partial-agg pass: bin index is a pure per-row
    * function (`floor(x / width)` capped into the tail bin), so shuffle
    * volume is ≤ |bins| rows per map task — the classic distributed
    * histogram, constant cost at any corpus size. The bin's dollar floor
    * is re-derived from the index (never aggregated), keeping the row a
    * pure function of the bin.
    */
  def statsHistogram(s: SparkSession, dir: String): DataFrame = {
    val bin = least(floor(col("o_totalprice") / HistBinWidth), lit(HistMaxBin)).cast("int")
    Tables.orders(s, dir)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Num.money(
          sum(graft.functions.Num.dec2(col("o_totalprice")))).as("sum_total"))
      .withColumn("bin_lo", (col("bin") * HistBinWidth).cast("double"))
      .oracleSorted("bin")
  }

  /** H8 `scalar_map` (round 7): the MapType surface — the one Spark type
    * family the inventory didn't yet exercise end-to-end: per event type,
    * build a day→count map (`map_from_entries` over a SORTED entry array,
    * so entry order is deterministic), keep the above-average days with
    * `map_filter` (the threshold is the exact integer cross-product
    * `n·n_days > total` — no division, engine-exact), double them with
    * `transform_values`, and emit the result canonicalized to a sorted
    * entry STRING — maps have no cross-engine literal form, so the gate
    * hashes the canonical rendering while the DuckDB oracle reproduces the
    * same content map-free (the oracle checks semantics, not
    * representation). All-equal-day groups legitimately yield an empty
    * busy map (both branches exist at every SF by count noise).
    * Scale: one partial-agg groupBy to the (type, day) grid, then
    * map work over ≤ |days| entries per group.
    */
  def scalarMap(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(
        map_from_entries(array_sort(collect_list(struct(col("day"), col("n")))))
          .as("m"),
        sum("n").as("total"),
        count(lit(1)).as("n_days"))
      .withColumn("m_busy",
        map_filter(col("m"), (_, v) => v * col("n_days") > col("total")))
      .withColumn("m_2x", transform_values(col("m_busy"), (_, v) => v * 2))
      .select(col("event_type"),
        col("n_days").cast("int").as("n_days"),
        size(col("m_busy")).cast("int").as("n_busy_days"),
        array_join(transform(map_entries(col("m_2x")),
          e => concat(e.getField("key"), lit(":"), e.getField("value").cast("string"))),
          ",").as("busy_2x"))
      .oracleSorted("event_type")
  }

  /** `drift_psi` (round 7): population-stability-index distribution drift
    * — the monitor a production pipeline runs between yesterday's and
    * today's feature distribution before trusting a snapshot: bin both
    * periods on the SAME fixed grid (`stats_histogram`'s constants —
    * single-sourced, so a binning edit moves both gates), then
    * PSI = Σ (qᵢ−pᵢ)·ln(qᵢ/pᵢ) over bins populated in BOTH periods (the
    * both-support convention; ε-filling is the alternative, documented
    * not silently chosen). Per-bin terms are one ln of a ratio of two
    * exact-integer proportions (deterministic cross-engine), the total
    * crosses bins through exact DECIMAL(28,18) (the `text_logprob`
    * discipline). Scale: two partial-agg histogram scans (shuffle ≤ bins
    * per map task) + bin-count-sized arithmetic — constant beyond the
    * scans at any corpus size.
    */
  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(s, dir).select(col("o_orderdate").as("d"), col("o_totalprice").as("x"))
    def hist(lo: String, hi: String, n: String) =
      o.where(col("d") >= lit(lo).cast("timestamp") && col("d") < lit(hi).cast("timestamp"))
        .groupBy(least(floor(col("x") / HistBinWidth), lit(HistMaxBin)).cast("int").as("bin"))
        .agg(count(lit(1)).as(n))
    // round-17 (guide §2.4): ref/cur each feed their own total AND the term
    // join, and terms feeds the PSI sum AND the final rows — without the
    // cuts the orders scan re-ran ~6× in one plan. All three frames are
    // bin-bounded (≤ HistMaxBin+1 rows).
    val ref = hist("1995-01-01", "1996-01-01", "n_ref").localCheckpoint(eager = false)
    val cur = hist("1996-01-01", "1997-01-01", "n_cur").localCheckpoint(eager = false)
    val totals = ref.agg(sum("n_ref").as("t_ref"))
      .attachScalarRow(cur.agg(sum("n_cur").as("t_cur")))
    val terms = ref.join(cur, "bin")
      .attachScalarRow(totals)
      .withColumn("p", col("n_ref").cast("double") / col("t_ref"))
      .withColumn("q", col("n_cur").cast("double") / col("t_cur"))
      .withColumn("term", (col("q") - col("p")) * log(col("q") / col("p")))
      .localCheckpoint(eager = false)
    val psi = terms.agg(
      sum(col("term").cast(DecimalType(28, 18))).cast("double").as("psi_raw"))
    terms.attachScalarRow(psi)
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("term"), 6).as("psi_term"), round(col("psi_raw"), 6).as("psi_total"))
      .oracleSorted("bin")
  }

  /** Columns profiled by `stats_profile`. */
  val ProfileCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** `stats_profile`: per-column data-quality profile (row count, nulls,
    * exact distinct count, min/max) for a set of numeric columns, in ONE
    * scan — the validation stage that gates a training-data ingest.
    *
    * Shape: a single global aggregate computes every per-column statistic,
    * then one row per column is exploded out of the 1-row result. Multiple
    * exact `count_distinct`s rewrite to an Expand (|cols|+1 replicas before
    * partial aggregation) — the documented exact-profile cost; at 100 TB
    * the swap is `approx_count_distinct` (mergeable HLL sketches, no
    * Expand), which `agg_approx_distinct` demonstrates with an ε-bound
    * test. min/max/count compare exactly across engines (no arithmetic on
    * the values).
    */
  def statsProfile(s: SparkSession, dir: String): DataFrame = {
    // Round-17 restructure (guide §2.3/§2.5). The round-7 form was ONE
    // global aggregate with four exact count_distincts, which rewrites to
    // Expand (5 replicas/row) + a value-map partial aggregate. This form computes the SAME four numbers
    // per column from an explicit (col, value) two-level aggregation —
    // the textbook distinct-agg decomposition:
    //   level 1  groupBy(col, value) → per-value count   (shuffle ∝
    //            distinct (col, value) pairs)
    //   level 2  groupBy(col): n = Σcnt, nulls = Σcnt[v IS NULL],
    //            distinct = COUNT(v) over the per-value rows (non-null
    //            distinct values, = count_distinct's semantics),
    //            min/max over the value domain (null-ignoring, same as
    //            min/max over rows).
    // Identical output, exact integers — and both levels partial-aggregate.
    val perVal = Tables.lineitem(s, dir)
      .select(explode(array(ProfileCols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("cid"), col(c).as("v")) }: _*)).as("p"))
      .groupBy(col("p.cid").as("cid"), col("p.v").as("v"))
      .agg(count(lit(1)).as("cnt"))
    perVal.groupBy("cid")
      .agg(sum("cnt").as("n_rows"),
        sum(when(col("v").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
        count(col("v")).as("n_distinct"),
        min("v").as("min_val"), max("v").as("max_val"))
      .select(element_at(array(ProfileCols.map(lit): _*), col("cid") + 1).as("col_name"),
        col("n_rows"), col("n_nulls"), col("n_distinct"), col("min_val"), col("max_val"))
      .oracleSorted("col_name")
  }

  /** Columns profiled by `stats_moments`. */
  val MomentCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** `stats_moments`: distribution-shape profile — mean, population
    * variance, skewness (g1) and excess kurtosis (g2) per column, from one
    * scan of four EXACT integer moment sums per column. Values enter as
    * integer cents (2-dec DECIMAL × 100 → DECIMAL(38,0)), so every power
    * and sum is exact integer arithmetic — associative, identical on any
    * partition count (the agg_corr argument, extended to 4th moments:
    * cents⁴ ≈ 10²⁸ per row sums safely inside 38 digits at any tested SF;
    * the DuckDB oracle uses int128 HUGEINT for the same sums). The combine
    * is one shared double expression; skew/kurtosis are scale-invariant so
    * the cents scaling cancels, and mean is rescaled by /100. Outputs
    * rounded to 6 (the DECIMAL→DOUBLE cast here is scale-0, single-rounded
    * in both engines, but the rounding keeps the discipline uniform).
    */
  def statsMoments(s: SparkSession, dir: String): DataFrame = {
    def cents(c: Column): Column =
      (c.cast(DecimalType(12, 2)) * 100).cast(DecimalType(38, 0))
    val aggs = MomentCols.flatMap { name =>
      val c = cents(col(name))
      val c2 = (c * c).cast(DecimalType(38, 0))
      Seq(
        sum(c).cast("double").as(s"${name}_s1"),
        sum(c2).cast("double").as(s"${name}_s2"),
        sum((c2 * c).cast(DecimalType(38, 0))).cast("double").as(s"${name}_s3"),
        sum((c2 * c2).cast(DecimalType(38, 0))).cast("double").as(s"${name}_s4"))
    }
    Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(explode(array(MomentCols.map { c =>
        struct(lit(c).as("col_name"), col("n"),
          col(s"${c}_s1").as("s1"), col(s"${c}_s2").as("s2"),
          col(s"${c}_s3").as("s3"), col(s"${c}_s4").as("s4"))
      }: _*)).as("p"))
      .select(col("p.*"))
      // the shared combine — the SAME expression tree as the oracle's CTE,
      // so the doubles are bit-identical before the terminal rounding
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
      .withColumn("m3", col("s3") / col("n") - lit(3) * col("mu") * (col("s2") / col("n"))
        + lit(2) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4", col("s4") / col("n") - lit(4) * col("mu") * (col("s3") / col("n"))
        + lit(6) * col("mu") * col("mu") * (col("s2") / col("n"))
        - lit(3) * col("mu") * col("mu") * col("mu") * col("mu"))
      .select(
        col("col_name"), col("n"),
        round(col("mu") / 100, 6).as("mean"),
        round(sqrt(col("m2")) / 100, 6).as("stddev_pop"),
        // m2*sqrt(m2), not pow(m2,1.5): sqrt and * are correctly-rounded
        // IEEE ops in both engines; libm pow is not and can differ 1 ulp
        round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - 3, 6).as("kurtosis"))
      .oracleSorted("col_name")
  }
}
