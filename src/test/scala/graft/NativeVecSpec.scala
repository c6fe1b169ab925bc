package graft

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd FloatVecDot must be bitwise-identical to the HOF
  * fold (same sequential float64 accumulation) in BOTH execution paths:
  * interpreted eval and generated code.
  */
class NativeVecSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("native dot == HOF dot bitwise on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val rows = vecs.toDF("a", "b")
      .select(Vec.dot(col("a"), col("b")).as("hof"), Vec.dotF(col("a"), col("b")).as("native"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("native l2/cosine == HOF l2/cosine bitwise on the embeddings table") {
    val rows = Tables.embeddings(spark, sfDir)
      .select(
        Vec.l2(col("embedding")).as("h_l2"), Vec.l2F(col("embedding")).as("n_l2"),
        Vec.cosine(col("embedding"), col("embedding")).as("h_cos"),
        Vec.cosineF(col("embedding"), col("embedding")).as("n_cos"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("GraftExtensions registers vec_dot on the SQL path") {
    import org.apache.spark.sql.SparkSession
    val base = spark
    // Extensions apply at session construction. `spark.sql.extensions` is a
    // STATIC conf read from the SparkContext (ignored on a sibling-session
    // builder), so inject the class directly — same code path as the conf.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
        .createOrReplaceTempView("graft_vec_dot_v")
      val r = s2.sql("SELECT vec_dot(a, b) AS d FROM graft_vec_dot_v").collect()
      assert(r.length == 1 && r(0).getDouble(0) == 11.0)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("native sqDist == HOF sqDist bitwise, for float-float and float-double mixes") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    // float vs float
    val ff = pairs.toDF("a", "b")
      .select(Vec.sqDist(col("a"), col("b")).as("hof"), Vec.sqDistF(col("a"), col("b")).as("native"))
      .collect()
    ff.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
    // float vs double (the kmeans/IVF centroid mix: corpus f32, centers f64)
    val fd = pairs.map { case (a, b) => (a, b.map(_.toDouble)) }.toDF("a", "b")
      .select(Vec.sqDist(col("a"), col("b")).as("hof"), Vec.sqDistF(col("a"), col("b")).as("native"))
      .collect()
    fd.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("GraftExtensions registers vec_sq_dist on the SQL path") {
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
        .createOrReplaceTempView("graft_vec_sqdist_v")
      val r = s2.sql("SELECT vec_sq_dist(a, b) AS d FROM graft_vec_sqdist_v").collect()
      assert(r.length == 1 && r(0).getDouble(0) == 8.0)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("HashedGrams == HOF hashed-gram chain bitwise, word and char modes") {
    import spark.implicits._
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.{array_distinct, transform}
    val rnd = new scala.util.Random(17)
    // random token texts incl. edge cases: empty, single word, double spaces
    val texts = Seq("", "one", "a b", "a  b c") ++
      Seq.fill(100)(Seq.fill(rnd.nextInt(20) + 1)("tok" + rnd.nextInt(30)).mkString(" "))
    val df = texts.toDF("text")
    val words = df.select(
        TextOps.hashedShingles(col("text"), 3).as("native"),
        TextOps.hashedShinglesHof(col("text"), 3).as("hof"))
      .collect()
    words.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    val chars = df.select(
        graft.plans.Kernels.charGrams(col("text"), 4).as("native"),
        array_distinct(transform(TextOps.charGrams(col("text"), 4),
          x => TextOps.shingleHash(x))).as("hof"))
      .collect()
    chars.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    // wide (no mod-p) variant: == the unreduced 60-bit HOF hash
    val wide = df.select(
        graft.plans.Kernels.charGramsWide(col("text"), 32).as("native"),
        array_distinct(transform(TextOps.charGrams(col("text"), 32),
          x => org.apache.spark.sql.functions.conv(
            org.apache.spark.sql.functions.substring(
              org.apache.spark.sql.functions.md5(x.cast("binary")), 1, 15), 16, 10)
            .cast("long"))).as("hof"))
      .collect()
    wide.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    val minMd5 = df.select(
        graft.plans.Kernels.minGramMd5(col("text"), 3).as("native"),
        org.apache.spark.sql.functions.array_min(transform(
          array_distinct(TextOps.shinglesHof(col("text"), 3)),
          x => org.apache.spark.sql.functions.md5(x.cast("binary")))).as("hof"))
      .collect()
    minMd5.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("WordShingles kernel == HOF shingle chain bitwise (edge cases, UTF-8, real corpus)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(31)
    // byte-slicing correctness depends on 0x20 never splitting a multi-byte
    // sequence — exercise 2-, 3-, and 4-byte UTF-8 plus empty-word runs
    val texts = Seq("", "one", "a b", "a  b c", " lead", "trail ", "  ",
      "héllo wörld ünïcode", "文字 テスト 漢字", "a 𝄞 b 𝄞𝄞 c") ++
      Seq.fill(120)(Seq.fill(rnd.nextInt(25) + 1)("tok" + rnd.nextInt(40)).mkString(" "))
    for (n <- Seq(2, 3, 8)) {
      val rows = texts.toDF("text").select(
          TextOps.shingles(col("text"), n).as("native"),
          TextOps.shinglesHof(col("text"), n).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n: $r"))
    }
    // the real corpus, full table (the consumers' actual input distribution)
    val corpus = Tables.documents(spark, sfDir).select(
        TextOps.shingles(col("text"), 2).as("native"),
        TextOps.shinglesHof(col("text"), 2).as("hof"))
      .collect()
    assert(corpus.nonEmpty)
    corpus.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }

  test("HilbertKey kernel == the per-level fragment chain bitwise over the full orders table") {
    import graft.operators.Lakehouse
    val prepared = Tables.orders(spark, sfDir).select(
      col("o_custkey"),
      org.apache.spark.sql.functions.datediff(
        org.apache.spark.sql.functions.to_date(col("o_orderdate")),
        org.apache.spark.sql.functions.lit("1992-01-01").cast("date")).as("day_nr"))
    val both = Lakehouse.hilbertKey(prepared, "o_custkey", "day_nr")
      .withColumnRenamed("hkey", "k_native")
      .transform(df => Lakehouse.hilbertKeyFragments(df, "o_custkey", "day_nr"))
      .select(col("k_native"), col("hkey").as("k_frag"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // mask edge: values beyond the 16-bit lane wrap identically
    val edge = Seq((-1L, 70000L), (65535L, 65536L), (0L, 0L))
    edge.foreach { case (x, y) =>
      import spark.implicits._
      val df = Seq((x, y)).toDF("x", "y")
      val n = Lakehouse.hilbertKey(df, "x", "y").collect()(0).getLong(2)
      val f = Lakehouse.hilbertKeyFragments(df, "x", "y").collect()(0).getLong(2)
      assert(n == f, s"edge ($x, $y): $n != $f")
    }
  }

  test("HashedBow == HOF per-dimension filter chain bitwise (rag_retrieve's embedding)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(23)
    // edge cases: empty text (one empty token), repeated spaces, unicode
    val texts = Seq("", "one", "a b", "a  b c", "héllo wörld") ++
      Seq.fill(100)(Seq.fill(rnd.nextInt(40) + 1)("tok" + rnd.nextInt(30)).mkString(" "))
    val rows = texts.toDF("text").select(
        graft.plans.Kernels.hashedBow(col("text"), TextOps.RagDims).as("native"),
        TextOps.hashedBowHof("text").as("hof"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Float](0) == r.getSeq[Float](1), r.toString))
    // counts conserve the token total (split keeps empties — limit -1)
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Float](0).sum == t.split(" ", -1).length.toFloat)
    }
  }

  test("WinnowedGramPos == HOF positional hash-then-filter chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, filter, greatest, length, lit, sequence, struct, transform}
    val rnd = new scala.util.Random(29)
    val texts = Seq("", "x", "ab") ++
      Seq.fill(100)(Seq.fill(rnd.nextInt(40) + 1)("tok" + rnd.nextInt(25)).mkString(" "))
    val (n, m) = (graft.operators.TextOps.SubstrGramN, graft.operators.TextOps.SubstrWinnowMod)
    def hash60w(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.functions.conv(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    val rows = texts.toDF("text").select(
        graft.plans.Kernels.winnowedGramPos(col("text"), n, m).as("native"),
        filter(transform(
          sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(1))),
          i => struct(i.cast("int").as("pos"), hash60w(col("text").substr(i, lit(n))).as("g"))),
          s => org.apache.spark.sql.functions.pmod(s.getField("g"), lit(m)) === 0).as("hof"))
      .collect()
    rows.foreach { r =>
      val a = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getInt(0), x.getLong(1)))
      val b = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1)))
      assert(a == b, r.toString)
    }
  }

  test("TopGramCount == the explode/groupBy max-count form") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(29)
    val texts = Seq("", "one", "a a a a", "x y x y x") ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(30) + 1)("t" + rnd.nextInt(8)).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        graft.plans.Kernels.topGramCount(col("text"), 2).as("top"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = df
      .select(col("doc_id"), explode(TextOps.shinglesHof(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(max("count").as("top"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
    assert(native(2L) == 3L) // "a a a a" → "a a" three times
  }

  test("SimHash16 == HOF simhash bitwise") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(23)
    val texts = Seq("", "one", "a  b") ++
      Seq.fill(80)(Seq.fill(rnd.nextInt(25) + 1)("t" + rnd.nextInt(50)).mkString(" "))
    val rows = texts.toDF("text")
      .select(graft.plans.Kernels.simhash(col("text"), 8, 16).as("native"),
        TextOps.simhashHof(col("text")).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("SimHash60 == HOF 60-bit simhash bitwise, and sigs stay in [0, 2^60)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(37)
    val texts = Seq("", "one", "a  b") ++
      Seq.fill(80)(Seq.fill(rnd.nextInt(25) + 1)("t" + rnd.nextInt(50)).mkString(" "))
    val rows = texts.toDF("text")
      .select(graft.plans.Kernels.simhash(col("text"), 15, 60).as("native"),
        TextOps.simhash60Hof(col("text")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), r.toString)
      assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60), r.toString)
    }
    // wide sigs must actually exercise the high bits (past the 16-bit space)
    assert(rows.exists(_.getLong(0) >= (1L << 16)))
  }

  test("BandSigs == HOF band signatures bitwise (incl. null sig for 1-shingle docs)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(19)
    val texts = Seq("one", "a b c") ++  // 1-shingle docs → null sigs
      Seq.fill(60)(Seq.fill(rnd.nextInt(30) + 4)("w" + rnd.nextInt(40)).mkString(" "))
    val hv = texts.toDF("text")
      .select(monotonically_increasing_id().as("doc_id"),
        TextOps.hashedShingles(col("text"), 3).as("hv"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(rowsOf(TextOps.bandSignatures(hv)) == rowsOf(TextOps.bandSignaturesHof(hv)))
    assert(rowsOf(TextOps.bandSignatures(hv)).nonEmpty)
  }

  test("GraftExtensions registers the text kernels on the SQL path") {
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      Seq(("a b c d a b", 0L)).toDF("text", "junk")
        .createOrReplaceTempView("graft_textk_v")
      val r = s2.sql(
        """SELECT size(hashed_word_grams(text, 3)) AS nw,
          |       size(hashed_char_grams(text, 4)) AS nc,
          |       hashed_char_grams_wide(text, 4) AS wide,
          |       hashed_char_grams(text, 4) AS narrow,
          |       min_gram_md5(text, 3) AS mg,
          |       top_gram_count(text, 2) AS tg,
          |       simhash16(text) AS s16,
          |       simhash60(text) AS s60,
          |       size(band_sigs(hashed_word_grams(text, 3), 4)) AS nb
          |FROM graft_textk_v""".stripMargin).collect().head
      // the wide registration must NOT mod-p-reduce: same grams, and each
      // narrow value is its wide counterpart mod the Mersenne prime
      val wide = r.getSeq[Long](r.fieldIndex("wide"))
      val narrow = r.getSeq[Long](r.fieldIndex("narrow"))
      assert(wide.map(_ % graft.operators.TextOps.MinhashP) == narrow)
      assert(wide.exists(_ >= graft.operators.TextOps.MinhashP),
        s"wide values all below 2^31 — modP wiring suspect: $wide")
      assert(r.getAs[Int]("nw") == 4)   // "a b c","b c d","c d a","d a b"
      assert(r.getAs[Long]("tg") == 2L) // "a b" appears twice
      assert(r.getAs[String]("mg").length == 32)
      assert(r.getAs[Int]("nb") == 4)
      assert(r.getAs[Long]("s16") >= 0L && r.getAs[Long]("s60") >= 0L)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("FloatVecDot appears codegen'd in the physical plan") {
    val df = Tables.embeddings(spark, sfDir)
      .select(Vec.dotF(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("float_vec_dot"), plan)
    // the projection stage is inside a WholeStageCodegen span (starred)
    assert(plan.contains("*(1) Project"), plan)
  }

  test("every native kernel plans inside whole-stage codegen, evaluates the same interpreted, and maps null to null") {
    import spark.implicits._
    import graft.plans.{Kernels, VecOp}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val rnd = new scala.util.Random(41)
    val texts = Seq("", "one", "a b", "a  b c", "héllo wörld", "x y x y x") ++
      Seq.fill(40)(Seq.fill(rnd.nextInt(30) + 1)("t" + rnd.nextInt(12)).mkString(" "))
    val rows = texts.map { t =>
      (Option(t), Option(Seq.fill(rnd.nextInt(6))(rnd.nextInt(1000).toLong)),
        Option(rnd.nextLong() % 100000L), Option(rnd.nextInt(70000).toLong),
        Option(Seq.fill(8)(rnd.nextFloat() - 0.5f)), Option(Seq.fill(8)(rnd.nextDouble() - 0.5)))
    } :+ (None, None, None, None, None, None) // the all-null row
    // a file scan, so the projection is not folded into a local relation
    val path = java.nio.file.Files.createTempDirectory("graft-kernels").resolve("t").toString
    rows.toDF("text", "hv", "x", "y", "f", "d").write.parquet(path)
    val df = spark.read.parquet(path)
    val kernels = Seq(
      "wordGrams" -> Kernels.wordGrams(col("text"), 3),
      "charGrams" -> Kernels.charGrams(col("text"), 4),
      "charGramsWide" -> Kernels.charGramsWide(col("text"), 4),
      "minGramMd5" -> Kernels.minGramMd5(col("text"), 3),
      "topGramCount" -> Kernels.topGramCount(col("text"), 2),
      "wordShingles" -> Kernels.wordShingles(col("text"), 2),
      "winnowedGramPos" -> Kernels.winnowedGramPos(col("text"), 3, 2),
      "simhash16" -> Kernels.simhash(col("text"), 8, 16),
      "simhash60" -> Kernels.simhash(col("text"), 15, 60),
      "bandSigs" -> Kernels.bandSigs(col("hv"), 4),
      "hashedBow" -> Kernels.hashedBow(col("text"), 16),
      "hilbertKey" -> Kernels.hilbertKey(col("x"), col("y"), 16),
      "dot" -> VecOp.dot(col("f"), col("f")),
      "sqDist" -> VecOp.sqDist(col("f"), col("d")))
    def interpreted[T](body: => T): T = {
      val confs = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    try kernels.foreach { case (name, kernel) =>
      val q = df.select(col("text").isNull.as("null_in"), kernel.as("v"))
      val plan = q.queryExecution.executedPlan
      val inStage = plan.collect { case w: WholeStageCodegenExec => w.child }.exists {
        case p: ProjectExec => p.projectList.exists(_.find {
          case _: StaticInvoke | _: VecOp => true
          case _ => false
        }.isDefined)
        case _ => false
      }
      assert(inStage, s"$name is not inside a whole-stage codegen stage:\n$plan")
      val generated = q.collect().toSeq
      val evaluated = interpreted(df.select(col("text").isNull.as("null_in"), kernel.as("v")).collect().toSeq)
      assert(generated == evaluated, s"$name: interpreted values differ from generated code")
      val nulls = generated.filter(_.getBoolean(0))
      assert(nulls.length == 1 && nulls.head.isNullAt(1), s"$name: null input did not give null")
      assert(generated.exists(r => !r.getBoolean(0) && !r.isNullAt(1)), s"$name: no non-null values")
    } finally Staging.deleteTree(java.nio.file.Paths.get(path).getParent)
    assert(!spark.conf.getOption("spark.sql.codegen.factoryMode").contains("NO_CODEGEN"))
    assert(!spark.conf.getOption("spark.sql.codegen.wholeStage").contains("false"))
  }
}
