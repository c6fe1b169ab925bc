package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("shingles produce overlapping n-word windows") {
    import spark.implicits._
    val got = Seq("a b c d").toDF("text")
      .select(TextOps.shingles(col("text"), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
  }

  test("shingles of a short doc fall back to one whole-text shingle") {
    import spark.implicits._
    val got = Seq("a b").toDF("text")
      .select(TextOps.shingles(col("text"), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(got == Seq("a b"))
  }

  test("dedup_minhash finds planted near-duplicates and no clean pairs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 38).map(i => s"tok$i") ++ Seq("other1", "other2")).mkString(" ")
    val unrelated = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated)).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_minhash/documents.parquet")
    val pairs = TextOps.dedupMinhash(spark, "/tmp/graft_test_minhash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((0L, 1L)))
  }

  test("dedup_simhash_pairs == brute-force distinct-signature pairs within Hamming <= k") {
    // band-rotation candidates have EXACT recall inside the radius
    // (pigeonhole: ≤3 differing bits over 4 bands leave one band identical),
    // so the output must equal the brute-force pair set over distinct sigs.
    val sigs = Tables.documents(spark, sfDir)
      .select(graft.plans.Kernels.simhash(col("text"), 8, 16).as("sig"))
      .distinct().collect().map(_.getLong(0)).sorted
    val expected = (for {
      i <- sigs.indices
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      if h <= TextOps.SimhashHammingK
    } yield (sigs(i), sigs(j), h)).toSet
    val got = TextOps.dedupSimhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(r.fieldIndex("sig_a")), r.getLong(r.fieldIndex("sig_b")),
        r.getInt(r.fieldIndex("hamming")))).toSet
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
  }

  test("dedup_simhash_wide == brute-force distinct-60-bit-signature pairs within Hamming <= k") {
    val sigs = Tables.documents(spark, sfDir)
      .select(graft.plans.Kernels.simhash(col("text"), 15, 60).as("sig"))
      .distinct().collect().map(_.getLong(0)).sorted
    val expected = (for {
      i <- sigs.indices
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      if h <= TextOps.SimhashHammingK
    } yield (sigs(i), sigs(j), h)).toSet
    val got = TextOps.dedupSimhashWide(spark, sfDir).collect()
      .map(r => (r.getLong(r.fieldIndex("sig_a")), r.getLong(r.fieldIndex("sig_b")),
        r.getInt(r.fieldIndex("hamming")))).toSet
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
  }

  test("minhash r=2 banding keeps candidates within 2x of verified near-dups at sf0.1") {
    // executes the TextOps banding claim (candidates ≈ true near-dups) as an
    // assertion on the full sf0.1 corpus (round-2 VERDICT #8)
    val dir = "/root/testdata/sf0.1"
    val hv = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.hashedShingles(col("text"), 3).as("hv"))
      .localCheckpoint()
    val sigs = TextOps.bandSignatures(hv)
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val verified = TextOps.dedupMinhash(spark, dir).count()
    assert(cand <= 2L * math.max(verified, 1L),
      s"candidate pairs $cand vs verified near-dups $verified")
  }

  test("bandSigOf (state-side band signature) is bit-identical to the column form on the real corpus") {
    // the streaming minhash fold's pair-OWNERSHIP rule recomputes band
    // signatures driver/state-side via bandSigOf; any drift from the
    // column kernel would mis-route pairs between buckets (dropped or
    // doubled emissions), so the two implementations are pinned value-
    // for-value over every (doc, band) of the fixture corpus
    val dir = SparkTestSession.sfDir
    val hv = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.hashedShingles(col("text"), 3).as("hv"))
      .localCheckpoint()
    val colForm = TextOps.bandSignatures(hv).collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("band"))) ->
        (if (r.isNullAt(r.fieldIndex("sig"))) None else Some(r.getLong(r.fieldIndex("sig")))))
      .toMap
    val hvMap = hv.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(colForm.nonEmpty && hvMap.nonEmpty)
    for ((doc, hvs) <- hvMap; b <- 0 until TextOps.MinhashBands)
      assert(TextOps.bandSigOf(hvs, b) == colForm((doc, b)),
        s"bandSigOf drift at doc=$doc band=$b")
  }

  test("semLshBitsOf ladder: floored at the pinned width, grows with the corpus") {
    import graft.operators.VectorOps
    assert(VectorOps.semLshBitsOf(3) == VectorOps.SemLshBits, "tiny fixtures keep the pinned geometry")
    assert(VectorOps.semLshBitsOf(500) == VectorOps.SemLshBits, "sf0.001/0.01 unchanged")
    assert(VectorOps.semLshBitsOf(2000) == VectorOps.SemLshBits, "sf0.1 unchanged")
    assert(VectorOps.semLshBitsOf(20000) == 9, "10x staging: 512 buckets")
    assert(VectorOps.semLshBitsOf(200000) == 12, "100x staging: 4096 buckets")
  }

  test("text_repetition flags boilerplate and passes diverse text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now buy now"), // pure boilerplate
      (2L, "a quick brown fox jumps over the lazy sleeping dog")) // all-distinct
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_rep/documents.parquet")
    val rows = TextOps.textRepetition(spark, "/tmp/graft_test_rep")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(3), r.getInt(4))).toMap
    val (rep2Spam, topSpam, flagSpam) = rows(1L)
    assert(rep2Spam > 0.7 && topSpam > 0.4 && flagSpam == 1, rows(1L).toString)
    val (rep2Ok, _, flagOk) = rows(2L)
    assert(rep2Ok == 0.0 && flagOk == 0, rows(2L).toString)
  }

  test("decontaminate flags a train doc sharing an 8-gram with the eval set") {
    import spark.implicits._
    val evalText = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (0L, evalText), // doc_id % 97 == 0 → eval set
      (1L, "intro " + evalText + " outro"), // shares 8-word windows → contaminated
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11")) // clean
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_decon/documents.parquet")
    val rows = TextOps.decontaminate(spark, "/tmp/graft_test_decon")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("n_hit")), r.getInt(r.fieldIndex("contaminated")))).toMap
    assert(!rows.contains(0L)) // eval docs are not scored
    assert(rows(1L)._1 >= 1 && rows(1L)._2 == 1, rows(1L).toString)
    assert(rows(2L) == ((0L, 0)), rows(2L).toString)
  }

  test("pack_sequences: start offsets are exact per-shard prefix sums, chunks at capacity") {
    val rows = TextOps.packSequences(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._2).values.foreach { shard =>
      var acc = 0L
      shard.sortBy(_._1).foreach { case (_, _, nTok, startOff, seqId) =>
        assert(startOff == acc, s"offset $startOff != cumsum $acc")
        assert(seqId == startOff / TextOps.PackCapacity)
        acc += nTok
      }
    }
    assert(rows.nonEmpty)
  }

  test("text_pii redacts emails and phones and counts them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@example.com or 555-123-4567 now"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.org one phone 111-222-3333"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_pii/documents.parquet")
    val rows = TextOps.textPii(spark, "/tmp/graft_test_pii")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(rows(0) == ((1L, 1, 1, "contact <EMAIL> or <PHONE> now")))
    assert(rows(1) == ((2L, 0, 0, "no pii here at all")))
    assert(rows(2) == ((3L, 2, 1, "two mails <EMAIL> <EMAIL> one phone <PHONE>")))
  }

  test("dedup_exact groups identical contents, keeps lowest id (idempotence)") {
    import spark.implicits._
    val docs = Seq((5L, "same text"), (9L, "same text"), (7L, "different"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_exact/documents.parquet")
    val got = TextOps.dedupExact(spark, "/tmp/graft_test_exact")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((5L, 2L), (7L, 1L)))
    // idempotence: deduping the kept set changes nothing
    val kept = docs.filter(col("doc_id").isin(5L, 7L))
    kept.write.mode("overwrite").parquet("/tmp/graft_test_exact2/documents.parquet")
    val again = TextOps.dedupExact(spark, "/tmp/graft_test_exact2")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(again == Seq((5L, 1L), (7L, 1L)))
  }

  test("dedup_simhash puts identical docs in the same bucket") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_simhash/documents.parquet")
    val buckets = TextOps.dedupSimhash(spark, "/tmp/graft_test_simhash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dupBucket = buckets.filter(_._2 == 2L)
    assert(dupBucket.length == 1 && dupBucket.head._3 == 1L, buckets.mkString(","))
  }

  test("rank_tokens counts mentioning documents once per doc, ranked desc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark query"), // spark counted once for this doc
      (2L, "spark join"),
      (3L, "join query zzz"),
    ).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_rank/documents.parquet")
    val got = TextOps.rankTokens(spark, "/tmp/graft_test_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("join", 2L, 1), ("query", 2L, 1), ("spark", 2L, 1)))
  }

  test("text_tfidf: corpus-wide tokens get zero idf, rare tokens positive") {
    val tfidf = TextOps.textTfidf(spark, sfDir)
    val byDf = tfidf.select("df", "tfidf").collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    byDf.foreach { r =>
      val (df, v) = (r.getLong(0), r.getDouble(1))
      if (df == nDocs) assert(v == 0.0, s"df=$df should give idf 0, got $v")
      else assert(v >= 0.0)
    }
  }

  test("text_logprob: rare-token salad scores higher than common-token prose") {
    import spark.implicits._
    val common = Seq.fill(30)("the quick fox").mkString(" ") // tokens repeat corpus-wide
    val docs = Seq(
      (1L, common),
      (2L, common),
      (3L, (1 to 90).map(i => s"rare$i").mkString(" "))) // every token unique
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_lp/documents.parquet")
    val rows = TextOps.textLogprob(spark, "/tmp/graft_test_lp")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows(3L) > rows(1L), s"salad ${rows(3L)} should out-score prose ${rows(1L)}")
    assert(rows(1L) == rows(2L)) // identical docs score identically
    assert(rows.values.forall(_ > 0.0))
  }

  test("text_logprob under a hot token: scores match a driver-side model exactly") {
    import spark.implicits._
    // one token is ~half of all occurrences — the skewed scoring-join case
    // (AQE skew-split territory at scale); values must still match the
    // closed-form unigram model
    val docs = Seq(
      (1L, (Seq.fill(50)("the") ++ (1 to 10).map(i => s"u$i")).mkString(" ")),
      (2L, Seq.fill(40)("the").mkString(" ")),
      (3L, (11 to 30).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_lp_skew/documents.parquet")
    val texts = Map(1L -> (Seq.fill(50)("the") ++ (1 to 10).map(i => s"u$i")),
      2L -> Seq.fill(40)("the"), 3L -> (11 to 30).map(i => s"u$i").toSeq)
    val tf = texts.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = tf.values.sum.toDouble
    val rows = TextOps.textLogprob(spark, "/tmp/graft_test_lp_skew")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    texts.foreach { case (id, toks) =>
      val want = toks.map(t => -math.log(tf(t) / total)).sum / toks.size
      val (n, got) = rows(id)
      assert(n == toks.size)
      assert(math.abs(got - want) < 1e-6, s"doc $id: got $got want $want")
    }
  }

  test("text_logprob2: word-order salad pays the backoff penalty a unigram " +
       "LM cannot see, and scores match a driver-side model (K22', r15)") {
    import spark.implicits._
    // prose: a 40-word sequence repeated 3x per doc, so every forward
    // transition clears the support floor; salad: the SAME tokens in
    // REVERSE order, once — every reversed transition appears exactly
    // once corpus-wide (below the floor) and none coincides with a
    // forward one. Token frequencies are uniform, so a unigram LM's
    // per-doc MEAN cannot separate the two — the bigram LM must, via
    // backoff on every salad transition
    val seqWords = (1 to 40).map(i => s"w$i")
    val prose = Seq.fill(3)(seqWords).flatten.mkString(" ")
    val salad = seqWords.reverse.mkString(" ")
    val docs = Seq((1L, prose), (2L, prose), (3L, salad))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_lp2/documents.parquet")
    val rows = TextOps.textLogprob2(spark, "/tmp/graft_test_lp2")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

    // unigram control: identical scores for prose and salad
    val uniRows = TextOps.textLogprob(spark, "/tmp/graft_test_lp2")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uniRows(1L) == uniRows(3L),
      "fixture broken: unigram LM separated the permuted doc")
    // bigram LM separates them, and the salad's transitions back off
    assert(rows(3L)._3 > rows(1L)._3,
      s"salad ${rows(3L)} should out-score prose ${rows(1L)}")
    assert(rows(3L)._2 > 0, "backoff vacuous on the salad doc")
    assert(rows(1L)._2 < rows(1L)._1, "every prose bigram backed off")
    assert(rows(1L) == rows(2L), "identical docs score differently")

    // driver-side stupid-backoff model, exact to the round-6 output
    val texts = Map(1L -> prose, 2L -> prose, 3L -> salad)
    val toks = texts.view.mapValues(_.split(" ", -1).toSeq).toMap
    val uni = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = uni.values.sum.toDouble
    val bi = toks.values.flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= TextOps.BigramLmMinSupport).toMap
    texts.keys.foreach { id =>
      val pairs = toks(id).zip(toks(id).tail)
      val want = pairs.map { case (x, y) =>
        bi.get((x, y)) match {
          case Some(cxy) => math.log(uni(x).toDouble) - math.log(cxy.toDouble)
          case None =>
            math.log(total) - math.log(uni(y).toDouble) + math.log(2.5)
        }
      }.sum / pairs.size
      val (n, _, got) = rows(id)
      assert(n == pairs.size, s"doc $id bigram count $n != ${pairs.size}")
      assert(math.abs(got - want) < 2e-6, s"doc $id: got $got want $want")
    }
  }

  test("text_langid prediction is one of the profiled languages") {
    val langs = TextOps.langProfiles.map(_._1).toSet + "und"
    val preds = TextOps.textLangid(spark, sfDir)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(langs), preds.mkString(","))
  }

  test("clusterLabels converges on a duplicate chain of diameter 11 → ONE component") {
    // Round-3 ran a FIXED 4 iterations, silently splitting any chain of
    // diameter > 4 (round-3 VERDICT "What's wrong" #1). A 12-node path graph
    // (diameter 11) must now collapse to a single component labelled by its
    // minimum member.
    import spark.implicits._
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = TextOps.clusterLabels(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (1L to 12L).toSet)
    assert(labels.values.toSet == Set(1L), s"split components: $labels")
  }

  test("clusterLabels pointer jumping: a 200-node chain (diameter 199) converges under the cap") {
    // pure one-hop propagation needs 199 iterations — far over the 50 cap;
    // the label-of-label jump doubles effective hop distance per round, so
    // this must converge in O(log2 199) ≈ 8-ish iterations to ONE component
    import spark.implicits._
    val chain = (1L to 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = TextOps.clusterLabels(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (1L to 200L).toSet)
    assert(labels.values.toSet == Set(1L), s"split: ${labels.values.toSet}")
  }

  test("clusterLabels on random graphs == driver-side union-find (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(25)((rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1))
        .collect { case (a, b) if a != b => (a min b, a max b) }.distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val expected = parent.keys.map(d => d -> find(d)).toMap
      val got = TextOps.clusterLabels(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("clusterLabels fixpoint on a forest: per-component minimum, no cross-talk") {
    import spark.implicits._
    // two chains (10..15, 20..23) and one isolated pair (30,31)
    val pairs = ((10L to 14L).map(i => (i, i + 1)) ++
      (20L to 22L).map(i => (i, i + 1)) :+ ((30L, 31L))).toDF("doc_a", "doc_b")
    val labels = TextOps.clusterLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 15L).forall(labels(_) == 10L))
    assert((20L to 23L).forall(labels(_) == 20L))
    assert(labels(30L) == 30L && labels(31L) == 30L)
  }

  test("clusterLabels invariant: every label is a live doc_id, so the inner attach keeps every node") {
    // The attach join in clusterLabels' loop is INNER: a node survives an
    // iteration only through a probe that resolves, and the loop relies on
    // every label being a labelled doc_id (the self-probe). A broken
    // invariant drops nodes or emits labels naming no node, silently in the
    // engine path; here it fails: the output must label exactly the graph's
    // nodes, once each, with labels drawn from those nodes.
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val graphs = Seq(
      "chain" -> (1L to 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      "star" -> (2L to 30L).map(i => (1L, i)).toDF("doc_a", "doc_b"),
      "random" -> Seq.fill(60)((rnd.nextInt(50).toLong + 1, rnd.nextInt(50).toLong + 1))
        .collect { case (a, b) if a != b => (a min b, a max b) }.distinct
        .toDF("doc_a", "doc_b"),
      "dedup_cluster pairs" -> TextOps.minhashPairs(Tables.documents(spark, sfDir))
        .select("doc_a", "doc_b").localCheckpoint())
    graphs.foreach { case (what, pairs) =>
      val nodes = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(nodes.nonEmpty, s"$what: empty graph checks nothing")
      val labels = TextOps.clusterLabels(pairs).collect().map(r => r.getLong(0) -> r.getLong(1))
      val docs = labels.map(_._1)
      assert(docs.length == docs.toSet.size, s"$what: a doc_id is labelled twice")
      assert(docs.toSet == nodes,
        s"$what: clusterLabels lost nodes ${(nodes -- docs).toSeq.sorted.take(10)}")
      assert(labels.forall { case (d, l) => nodes(l) && l <= d },
        s"$what: a label is not a member node at or below its doc_id")
    }
  }

  test("dedup_substring finds a verbatim copied paragraph inside unrelated documents") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def prose(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val paragraph = prose(40) // ~250 chars — far above the 32-char window
    val docs = Seq(
      (1L, prose(60) + " " + paragraph + " " + prose(60)), // source
      (2L, prose(80) + " " + paragraph),                   // copied the paragraph
      (3L, prose(120)))                                    // unrelated
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_substr/documents.parquet")
    val got = TextOps.dedupSubstring(spark, "/tmp/graft_test_substr")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // MinHash-style whole-doc similarity would score this pair ~J=0.25 and
    // miss it at tau=0.5 — the exact-substring fingerprints must not
    assert(got.contains((1L, 2L)), s"copied paragraph not found: $got")
    assert(got((1L, 2L)) >= 10, s"overlap mass too low: ${got((1L, 2L))}")
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)), got.toString)
  }

  test("dedup_incremental reports batch-vs-index matches ONLY — never batch x batch") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 38).map(i => s"tok$i") ++ Seq("o1", "o2")).mkString(" ")
    val other = (200 to 240).map(i => s"alt$i").mkString(" ")
    // doc_id % 3 == 0 → incoming batch; else index.
    val docs = Seq(
      1L -> base,          // index
      3L -> near,          // batch: near-dup of index doc 1 → MUST be found
      6L -> base,          // batch: exact dup of index doc 1 → MUST be found
      9L -> near,          // batch: near-dup of BATCH docs 3/6 via doc 1 too
      2L -> other,         // index, unrelated
      12L -> other,        // batch: dup of INDEX doc 2 → found
      5L -> (300 to 340).map(i => s"x$i").mkString(" ")) // index, clean
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_incr/documents.parquet")
    val got = TextOps.dedupIncremental(spark, "/tmp/graft_test_incr")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all pairs point batch → index
    assert(got.forall { case (n, i) => n % 3 == 0 && i % 3 != 0 }, got.toString)
    assert(got.contains((3L, 1L)) && got.contains((6L, 1L)) && got.contains((12L, 2L)), got.toString)
    // batch×batch pairs (3,6), (3,9), (6,9) are near-dups but NOT this
    // operator's job (they dedupe among themselves in the batch's own
    // dedup pass) — the asymmetric join must not emit them
    assert(!got.exists { case (a, b) => a % 3 == 0 && b % 3 == 0 }, got.toString)
    // the clean index doc matches nothing
    assert(!got.exists(_._2 == 5L))
  }

  test("decontaminate: broadcast and shuffle-join paths are byte-identical") {
    // round-4 VERDICT #4: the size gate must switch STRATEGY, never results
    // sparkPlan is pre-EnsureRequirements (no Exchange nodes yet) — the
    // strategy switch shows as the JOIN operator choice. Auto-broadcast is
    // disabled for both runs so the plan reflects ONLY what the gate
    // controls (on test-sized data Catalyst would otherwise size-broadcast
    // the hintless side too — at real scale the size estimate does the
    // same gating, which is the point).
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val base = TextOps.decontaminate(spark, sfDir)
      assert(base.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "default path must force-broadcast the (small) eval-gram set")
      val fallback = TextOps.decontaminateAt(spark, sfDir, 0L)
      // no broadcast join anywhere in the gated plan (AQE may still
      // re-broadcast at RUNTIME from observed sizes — that is its job)
      assert(!fallback.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "limit=0 must drop the broadcast hint")
      assert(fallback.collect().toSeq.map(_.toString) ==
        base.collect().toSeq.map(_.toString))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  // ---- dedup_substring_spans laws (round-4 VERDICT "What's missing" #2) ----

  /** Driver-side mirror of the positional winnowed fingerprints:
    * (1-based pos, 60-bit md5-prefix hash) of every window whose hash
    * survives the 1/8 winnow.
    */
  private def winnowedWindows(text: String): Seq[(Int, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = TextOps.SubstrGramN
    (1 to math.max(text.length - (n - 1), 1)).map { i =>
      val sub = text.substring(i - 1, math.min(i - 1 + n, text.length))
      md.reset()
      val hex = md.digest(sub.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (i, java.lang.Long.parseLong(hex.take(15), 16))
    }.filter(_._2 % TextOps.SubstrWinnowMod == 0)
  }

  /** Driver-side mirror of the whole spans pipeline: shared set, semi-join,
    * gaps-and-islands merge — the independent expectation the Spark result
    * must equal exactly.
    */
  private def expectedSpans(docs: Map[Long, String]): Set[(Long, Int, Int, Long)] = {
    val n = TextOps.SubstrGramN
    val w = docs.toSeq.flatMap { case (id, t) =>
      winnowedWindows(t).map { case (p, g) => (id, p, g) } }
    val shared = w.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    w.filter(t => shared(t._3)).groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      val ps = rows.map(_._2).distinct.sorted
      val islands = ps.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
        if (acc.nonEmpty && p - acc.last.last <= n) acc.init :+ (acc.last :+ p)
        else acc :+ Vector(p)
      }
      islands.map(is => (id, is.head, is.last + n - 1,
        rows.count(r => r._2 >= is.head && r._2 <= is.last).toLong))
    }.toSet
  }

  test("dedup_substring_spans emits cut ranges covering the copied paragraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def prose(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val paragraph = prose(40) // ~250 chars of verbatim duplicated run
    val d1 = prose(60) + " " + paragraph + " " + prose(60)
    val d2 = prose(80) + " " + paragraph
    val d3 = prose(120)
    val docs = Map(1L -> d1, 2L -> d2, 3L -> d3)
    docs.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_spans/documents.parquet")

    val got = TextOps.dedupSubstringSpans(spark, "/tmp/graft_test_spans")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // exact match against the independent driver-side recomputation
    assert(got == expectedSpans(docs), s"got $got\nexpected ${expectedSpans(docs)}")
    // both sharing docs emit spans, the clean doc emits none
    assert(got.exists(_._1 == 1L) && got.exists(_._1 == 2L))
    assert(!got.exists(_._1 == 3L))
    // every span lies inside the copied paragraph's char range (the only
    // verbatim-shared run), for both docs
    for ((id, start, end, _) <- got) {
      val pStart = docs(id).indexOf(paragraph) + 1 // 1-based
      val pEnd = pStart + paragraph.length - 1
      assert(start >= pStart && end <= pEnd, s"span ($id,$start,$end) outside paragraph [$pStart,$pEnd]")
    }
  }

  test("cutting the emitted spans removes every cross-document shared window") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    def prose(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(5000)}").mkString(" ")
    val parA = prose(50)
    val parB = prose(35)
    // two distinct duplicated runs across three docs + a clean doc
    val docs = Map(
      1L -> (prose(40) + " " + parA + " " + prose(30) + " " + parB),
      2L -> (parA + " " + prose(70)),
      3L -> (prose(55) + " " + parB + " " + prose(20)),
      4L -> prose(90))
    docs.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_spans2/documents.parquet")

    val spans = TextOps.dedupSubstringSpans(spark, "/tmp/graft_test_spans2")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sortBy(-_._1)).toMap

    // the originally-shared fingerprint set (≥2 docs)
    val orig = docs.toSeq.flatMap { case (id, t) => winnowedWindows(t).map(w => (id, w._2)) }
    val sharedG = orig.groupBy(_._2).filter(_._2.map(_._1).distinct.size >= 2).keySet
    assert(sharedG.nonEmpty, "fixture must plant shared windows")

    // apply the cut lists (descending start keeps offsets valid)
    val cut = docs.map { case (id, t) =>
      id -> spans.getOrElse(id, Array.empty[(Int, Int)]).foldLeft(t) {
        case (acc, (s, e)) => acc.substring(0, s - 1) + acc.substring(math.min(e, acc.length))
      }
    }
    // THE LAW: no originally-shared window hash survives in any cut doc
    for ((id, t) <- cut; (_, g) <- winnowedWindows(t))
      assert(!sharedG.contains(g), s"doc $id still contains shared window $g after cutting")
  }

  test("dedup_substring_clean == manually cutting the emitted spans") {
    import spark.implicits._
    val rnd = new scala.util.Random(59) // same fixture as the cut law above
    def prose(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(5000)}").mkString(" ")
    val parA = prose(50)
    val parB = prose(35)
    val docs = Map(
      1L -> (prose(40) + " " + parA + " " + prose(30) + " " + parB),
      2L -> (parA + " " + prose(70)),
      3L -> (prose(55) + " " + parB + " " + prose(20)),
      4L -> prose(90))
    docs.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_spans3/documents.parquet")

    val spans = TextOps.dedupSubstringSpans(spark, "/tmp/graft_test_spans3")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sortBy(-_._1)).toMap
    val manual = docs.map { case (id, t) =>
      id -> spans.getOrElse(id, Array.empty[(Int, Int)]).foldLeft(t) {
        case (acc, (s, e)) => acc.substring(0, s - 1) + acc.substring(math.min(e, acc.length))
      }
    }
    val got = TextOps.dedupSubstringClean(spark, "/tmp/graft_test_spans3")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    for ((id, t) <- docs) {
      assert(got(id)._1 == manual(id), s"doc $id clean_text mismatch")
      assert(got(id)._2 == spans.getOrElse(id, Array.empty[(Int, Int)]).length)
      assert(got(id)._3 == docs(id).length - manual(id).length,
        s"doc $id n_cut_chars ${got(id)._3} vs actual ${docs(id).length - manual(id).length}")
    }
    // clean docs flow through untouched
    assert(got(4L) == ((docs(4L), 0, 0)))
  }

  test("dedup_pipeline: exact dups drop as exact_dup, near dups as near_dup, clean docs keep") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 38).map(i => s"tok$i") ++ Seq("other1", "other2")).mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "  " + base.toUpperCase + "  "), // exact dup after normalization
      (3L, nearDup),                        // near dup of doc 1's representative
      (4L, (100 to 140).map(i => s"tok$i").mkString(" "))) // clean
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_pipe/documents.parquet")
    val got = TextOps.dedupPipeline(spark, "/tmp/graft_test_pipe")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), Option(r.getString(3)))).toMap
    assert(got(1L) == ((1L, "keep", None)))
    assert(got(2L) == ((1L, "drop", Some("exact_dup"))))
    assert(got(3L) == ((1L, "drop", Some("near_dup"))))
    assert(got(4L) == ((4L, "keep", None)))
  }

  test("dedup_cluster labels equal driver-side union-find on the same pairs") {
    val pairs = TextOps.dedupMinhash(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(d => d -> find(d)).toMap
    val got = TextOps.dedupCluster(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // canonical is the minimum member of its cluster
    got.groupBy(_._2).foreach { case (canon, members) =>
      assert(members.keys.min == canon)
    }
  }

  test("text_normalize is idempotent") {
    import org.apache.spark.sql.functions._
    val once = TextOps.textNormalize(spark, sfDir)
    val twice = once.select(col("doc_id"),
        regexp_replace(trim(lower(col("norm_text"))), " +", " ").as("renorm"))
    val j = once.join(twice, "doc_id")
      .filter(col("norm_text") =!= col("renorm")).count()
    assert(j == 0)
  }

  test("jaccard in dedup_ngram is bounded in (0, 1]") {
    val vals = TextOps.dedupNgram(spark, sfDir)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(vals.forall(v => v > 0.0 && v <= 1.0))
  }

  test("explode_tokens round-trips: rejoining tokens by pos rebuilds text") {
    import org.apache.spark.sql.functions._
    val rebuilt = TextOps.explodeTokens(spark, sfDir)
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
        x => x.getField("token")), " ").as("rebuilt"))
    val bad = graft.Tables.documents(spark, sfDir)
      .join(rebuilt, "doc_id")
      .filter(col("text") =!= col("rebuilt")).count()
    assert(bad == 0)
  }

  test("text_chunk covers every document exactly: stride prefixes + last chunk rebuild text") {
    import org.apache.spark.sql.functions._
    val S = TextOps.ChunkStride
    val chunks = TextOps.textChunk(spark, sfDir)
    // all but the final chunk contribute their first `stride` chars; the
    // final chunk contributes itself — concatenated in chunk order this
    // must be the original document
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val rebuilt = chunks
      .withColumn("last_id", max("chunk_id").over(w))
      .withColumn("piece", when(col("chunk_id") < col("last_id"),
        col("chunk").substr(lit(1), lit(S))).otherwise(col("chunk")))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("chunk_id"), col("piece")))),
        x => x.getField("piece")), "").as("rebuilt"))
    val bad = graft.Tables.documents(spark, sfDir)
      .join(rebuilt, "doc_id")
      .filter(col("text") =!= col("rebuilt")).count()
    assert(bad == 0)
    // overlap law: chunk i's tail re-appears as chunk i+1's head
    val lens = chunks.filter(length(col("chunk")) > TextOps.ChunkLen).count()
    assert(lens == 0)
  }

  test("corpus_pipeline == intersection of its standalone stages with their labels (K28)") {
    val rows = TextOps.corpusPipeline(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getString(3))).toMap
    // expected membership from the STANDALONE operators (the oracle checks
    // the same identity against DuckDB; this pins it engine-side on a
    // different SF)
    val kept = TextOps.dedupPipeline(spark, sfDir).collect()
      .filter(_.getString(2) == "keep").map(_.getLong(0)).toSet
    val tq = TextOps.textQuality(spark, sfDir).collect()
    val ok = tq.filter(_.getString(5) == "ok").map(_.getLong(0)).toSet
    val nTok = tq.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val mixed = graft.operators.Relational.sampleMix(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val split = graft.operators.Relational.sampleSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val want = kept & ok & mixed
    assert(rows.keySet == want,
      s"membership drift: extra=${rows.keySet -- want} missing=${want -- rows.keySet}")
    rows.foreach { case (id, (_, n, sp)) =>
      assert(sp == split(id), s"doc $id: split $sp != standalone ${split(id)}")
      assert(n == nTok(id), s"doc $id: n_tokens $n != standalone ${nTok(id)}")
    }
    assert(rows.nonEmpty)
  }

  test("vocab_oov: rates in [0,1], token totals match the stream, vocab hits score 0 (K5f)") {
    val rows = TextOps.vocabOov(spark, sfDir).collect()
    val totalTokens = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " "))).count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_tokens"))).sum == totalTokens)
    rows.foreach { r =>
      val (n, oov, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(oov >= 0 && oov <= n)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - math.rint(oov.toDouble / n * 1e6) / 1e6) < 1e-9)
    }
    // the vocabulary covers the corpus head: overall OOV mass is a minority
    val oovMass = rows.map(_.getLong(2)).sum.toDouble / totalTokens
    assert(oovMass < 0.5, s"top-${TextOps.VocabK} vocab covers under half the stream ($oovMass)")
  }

  test("corpus_report rows are exactly the aggregation of the corpus_pipeline manifest (K29)") {
    val manifest = TextOps.corpusPipeline(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(3), r.getInt(2)))
    val want = manifest.groupBy(m => (m._1, m._2)).map { case (k, ms) =>
      k -> (ms.length.toLong, ms.map(_._3.toLong).sum)
    }
    val got = TextOps.corpusReport(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(r.fieldIndex("n_docs")), r.getLong(r.fieldIndex("n_tokens_total")),
         r.getDouble(r.fieldIndex("mean_tokens")), r.getDouble(r.fieldIndex("lang_keep_rate"))))
      .toMap
    assert(got.keySet == want.keySet, "datasheet cells diverge from the manifest")
    got.foreach { case (k, (n, tot, mean, rate)) =>
      val (wn, wtot) = want(k)
      assert(n == wn && tot == wtot, s"$k: ($n, $tot) vs manifest ($wn, $wtot)")
      assert(math.abs(mean - wtot.toDouble / wn) < 1e-3, s"$k: mean $mean")
      assert(rate > 0.0 && rate <= 1.0)
    }
  }

  test("dedup_keepbest: exactly one keeper per cluster, and it is the longest member (K6')") {
    val rows = TextOps.dedupKeepbest(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val nChars = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._2).foreach { case (cl, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $cl: ${keepers.length} keepers")
      val keeper = keepers.head._1
      assert(members.forall(m => m._3 == keeper), s"cluster $cl: keep_id disagrees")
      val maxLen = members.map(m => nChars(m._1)).max
      assert(nChars(keeper) == maxLen, s"cluster $cl: keeper $keeper not longest")
      // min doc_id among the equally-longest wins (the deterministic tiebreak)
      assert(keeper == members.map(_._1).filter(id => nChars(id) == maxLen).min)
    }
  }

  test("vocab_bpe learns hand-computed merges and stops when pairs are exhausted") {
    import spark.implicits._
    // words: abab n=2, ab n=3, cd n=1
    //  step1 pairs: (a,b) 2*2+3 = 7, (b,a) 2, (c,d) 1      -> merge (a,b,7)
    //  step2: abab=[ab,ab], cd=[c,d]: (ab,ab) 2, (c,d) 1   -> merge (ab,ab,2)
    //  step3: (c,d) 1                                       -> merge (c,d,1)
    //  step4: no pairs left -> the fixed-k loop must stop, not throw
    Seq("abab ab", "abab ab", "ab cd").toDF("text")
      .write.mode("overwrite").parquet("/tmp/graft_test_bpe/documents.parquet")
    val got = TextOps.vocabBpe(spark, "/tmp/graft_test_bpe")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "b", 7L), (2, "ab", "ab", 2L), (3, "c", "d", 1L)))
  }

  test("vocab_bpe merge fold is greedy left-to-right non-overlapping") {
    import spark.implicits._
    // "aaa": step1 merges (a,a) cnt 2; GREEDY fold gives [aa, a] (not
    // [a, aa]), so step2's winning pair must be (aa, a)
    Seq("aaa").toDF("text")
      .write.mode("overwrite").parquet("/tmp/graft_test_bpe2/documents.parquet")
    val got = TextOps.vocabBpe(spark, "/tmp/graft_test_bpe2")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("vocab_unigram: Viterbi DP equals brute-force segmentation enumeration for every corpus word type (K5j)") {
    // types + seed scores exactly as the operator builds them
    val types = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val subCnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, n) <- types; l <- 1 to TextOps.UniMaxPieceLen; i <- 0 to w.length - l) {
      val p = w.substring(i, i + l)
      subCnt.update(p, subCnt.getOrElse(p, 0L) + n)
    }
    val multi = subCnt.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(TextOps.UniSeedMulti)
    val pieces = subCnt.iterator.filter(_._1.length == 1).toSeq ++ multi
    val score = TextOps.uniScores(spark, pieces)

    // brute force: enumerate EVERY segmentation, pick the best under the
    // DP's total order (score desc, fewer pieces, lexicographic cuts)
    def allSegs(w: String, from: Int): Seq[List[Int]] =
      if (from == w.length) Seq(Nil)
      else (from + 1 to math.min(w.length, from + TextOps.UniMaxPieceLen))
        .filter(to => score.contains(w.substring(from, to)))
        .flatMap(to => allSegs(w, to).map(from :: _))
    for ((w, _) <- types) {
      val best = allSegs(w, 0).map { cuts =>
        val ps = cuts.zipWithIndex.map { case (st, i) =>
          w.substring(st, if (i + 1 < cuts.length) cuts(i + 1) else w.length)
        }
        val s = ps.map(score).reduce(_.add(_))
        (s, ps.size, cuts.map(j => f"$j%02d").mkString, ps)
      }.minBy { case (s, np, cuts, _) => (s.negate, np, cuts) }(
        Ordering.Tuple3(Ordering.by((b: java.math.BigDecimal) => b),
          Ordering.Int, Ordering.String))
      assert(TextOps.uniViterbi(w, score) == best._4,
        s"DP diverged from brute force on '$w'")
    }
  }

  test("vocab_unigram trajectory laws: char coverage, exact prune arithmetic, round chaining, non-vacuity (K5j)") {
    val rows = TextOps.vocabUnigram(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val byRound = rows.groupBy(_._1)
    assert(byRound.keySet == (0 to TextOps.UniRounds).toSet)
    // chars are never pruned (coverage is preserved forever)
    assert(rows.filter(_._2.length == 1).forall(_._4))
    // prune arithmetic: kept multi per round r >= 1 is exactly floor(4m/5)
    for (r <- 1 to TextOps.UniRounds) {
      val multi = byRound(r).filter(_._2.length > 1)
      assert(multi.count(_._4) == multi.size * 4 / 5,
        s"round $r kept ${multi.count(_._4)} of ${multi.size}")
    }
    // round chaining: round r's piece set == round r-1's kept set
    for (r <- 1 to TextOps.UniRounds) {
      val prev = byRound(r - 1).filter(_._4).map(_._2).toSet
      assert(byRound(r).map(_._2).toSet == prev, s"round $r pieces drifted")
    }
    // char-mass conservation: each word's chars are covered exactly once
    // by its Viterbi segmentation, so sum(cnt * len(piece)) at every EM
    // round equals total corpus non-space chars
    val totalChars = Tables.documents(spark, sfDir)
      .select(sum(length(regexp_replace(col("text"), " ", ""))).cast("long"))
      .collect().head.getLong(0)
    for (r <- 1 to TextOps.UniRounds)
      assert(byRound(r).map { case (_, p, c, _) => c * p.length }.sum == totalChars,
        s"round $r char mass broken")
    // non-vacuity: something is pruned, and EM moved the counts
    assert(rows.exists(!_._4))
    assert(byRound(1).map(t => t._2 -> t._3).toMap !=
      byRound(0).map(t => t._2 -> t._3).toMap)
  }

  test("tokenize_unigram: segmentation round-trips every word type; per-doc counts are bounded and the two tokenizer families genuinely differ (K5k)") {
    // round trip: the final vocabulary's Viterbi pieces rebuild each word
    val types = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val (_, finalPieces) = TextOps.uniLearnLocal(spark, types)
    val score = TextOps.uniScores(spark, finalPieces)
    types.foreach { case (w, _) =>
      assert(TextOps.uniViterbi(w, score).mkString == w, s"'$w' did not round-trip")
    }
    // per-doc bounds: words <= unigram tokens <= chars (every piece is a
    // nonempty substring; every word is at least one piece)
    val uni = TextOps.tokenizeUnigram(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(uni.nonEmpty)
    val chars = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(regexp_replace(col("text"), " ", "")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    uni.foreach { case (d, (nw, nu)) =>
      assert(nw <= nu && nu <= chars(d), s"doc $d bounds broken: $nw <= $nu <= ${chars(d)}")
    }
    // the unigram family is not BPE in disguise: token counts differ
    // somewhere (both trained on this corpus)
    val bpe = TextOps.tokenizeBpe(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni.exists { case (d, (_, nu)) => bpe(d) != nu },
      "unigram and BPE token counts identical on every doc — family vacuous")
  }

  test("sample_dsir: selection is the exact Gumbel-top-k of the scored pool and overrepresents the target domain (K23″ DSIR laws)") {
    val pool = TextOps.dsirScored(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val sel = TextOps.sampleDsir(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sel.length == TextOps.DsirK)
    // selection integrity: the query's rows are EXACTLY the pool's k
    // smallest (prio, doc_id) — the Gumbel-top-k contract
    val want = pool.sortBy { case (id, _, _, prio) => (prio, id) }
      .take(TextOps.DsirK).map(_._1).toSet
    assert(sel.map(_._1).toSet == want)
    // importance resampling works: the selected set overrepresents the
    // target domain vs its pool share (measured margin ~10pp at the spec
    // SF — a broken ratio/feature/selection step collapses it to ~0)
    val poolShare = pool.count(_._2 == TextOps.DsirTargetLang).toDouble / pool.length
    val selShare = sel.count(_._2 == TextOps.DsirTargetLang).toDouble / sel.length
    assert(selShare > poolShare,
      f"target share not lifted: selected $selShare%.3f vs pool $poolShare%.3f")
    // ... and the mechanism is the weights: mean log-weight of the
    // selected set strictly exceeds the pool mean
    val selIds = sel.map(_._1).toSet
    val meanSel = pool.filter(p => selIds(p._1)).map(_._3).sum / sel.length
    val meanPool = pool.map(_._3).sum / pool.length
    assert(meanSel > meanPool, f"selected mean logw $meanSel%.4f <= pool $meanPool%.4f")
  }

  test("tokenize_bpe applies the learned merges: hand-computed per-doc counts") {
    import spark.implicits._
    // same corpus as the learn test: after its 3 merges every word is one
    // token (abab, ab, cd), so n_bpe_tokens = n_words per doc and
    // chars_per_token = chars / n_words exactly
    Seq((0L, "abab ab"), (1L, "abab ab"), (2L, "ab cd")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_bpe3/documents.parquet")
    val got = TextOps.tokenizeBpe(spark, "/tmp/graft_test_bpe3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((0L, 2L, 2L, 3.0), (1L, 2L, 2L, 3.0), (2L, 2L, 2L, 2.0)))
  }

  test("tokenize_bpe_encode emits the exact ordered token stream; concatenation rebuilds the text") {
    import spark.implicits._
    // same corpus as the learn test: merges (a,b), (ab,ab), (c,d) leave
    // every word a single token, so the stream equals the word stream
    Seq((0L, "abab ab"), (1L, "ab cd"), (2L, "cd abab"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_bpe_enc/documents.parquet")
    val got = TextOps.tokenizeBpeEncode(spark, "/tmp/graft_test_bpe_enc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(got == Seq((0L, 2L, "abab ab"), (1L, 2L, "ab cd"), (2L, 2L, "cd abab")))
    // round-trip law on the real corpus: per doc, concatenating the token
    // stream (spaces removed) rebuilds the document's non-space text
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), regexp_replace(col("text"), " ", "").as("flat"))
    val enc = TextOps.tokenizeBpeEncode(spark, sfDir)
      .select(col("doc_id"), regexp_replace(col("bpe_tokens"), " ", "").as("cat"))
    val bad = docs.join(enc, "doc_id").filter(col("flat") =!= col("cat")).count()
    assert(bad == 0, s"$bad docs fail the encode round trip")
  }

  test("bpe parity law: driver-local learn == round-8 distributed learn, merge-for-merge") {
    import spark.implicits._
    // the production driver-local loop (incremental pair counts, UTF-8
    // argmax tiebreak) must replay the distributed k-step loop exactly —
    // on a fixture with count ties (exercising the lexicographic
    // tiebreak) AND on the real sf0.001 corpus
    val fixture = Seq("abab ab", "abab ab", "ab cd", "xy xz zy").toDF("text")
    fixture.write.mode("overwrite").parquet("/tmp/graft_test_bpe_parity/documents.parquet")
    for ((dir, k) <- Seq(("/tmp/graft_test_bpe_parity", 8), (sfDir, 6))) {
      val types = graft.Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
      val base = types.select(col("word"), col("n"), split(col("word"), "").as("syms"))
      val dist = TextOps.bpeLearnDistributed(base, k)
      val local = TextOps.bpeLearnLocal(
        types.collect().toSeq.map(r => (r.getString(0), r.getLong(1))), k)._1
      assert(local == dist, s"dir=$dir k=$k")
    }
  }

  test("bpe learn at production k: trajectory stops at pair exhaustion, apply map is the fixpoint") {
    // the 31-word-type synthetic corpus exhausts before BpeMerges=200;
    // every word type must then be a single symbol (the BPE fixpoint), so
    // tokenize's word -> count map is all ones
    val types = graft.Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val (merges, tok) = TextOps.bpeLearnLocal(types, TextOps.BpeMerges)
    assert(merges.nonEmpty && merges.size < TextOps.BpeMerges,
      s"expected exhaustion before ${TextOps.BpeMerges}, got ${merges.size}")
    assert(merges.map(_._1) == (1 to merges.size), "steps must be dense from 1")
    assert(tok.size == types.size && tok.values.forall(_.size == 1),
      "at exhaustion every word type is one token")
    assert(tok.forall { case (w, ts) => ts.mkString("") == w },
      "token sequences must concatenate back to the word")
  }

  test("corpus_budget: greedy fill keeps the exact-boundary doc and drops the overflow") {
    import spark.implicits._
    // all docs 'ok' quality (21 distinct non-stopword tokens), one source;
    // tok_est = ceil(n_chars/4): 400, 400, 200, 300 -> cum 400/800/1000/1300
    // with BudgetTokens=1000: docs 0,1,2 kept (boundary INCLUSIVE), 3 dropped
    val text = (1 to 21).map(i => s"w$i").mkString(" ")
    Seq((0L, "sA", 1600, text), (1L, "sA", 1600, text),
        (2L, "sA", 800, text), (3L, "sA", 1200, text))
      .toDF("doc_id", "source", "n_chars", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_budget/documents.parquet")
    val got = TextOps.corpusBudget(spark, "/tmp/graft_test_budget")
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getInt(5))).toSeq
    assert(got == Seq((0L, 400L, 1), (1L, 800L, 1), (2L, 1000L, 1), (3L, 1300L, 0)))
  }

  test("pack_greedy: bins respect capacity, NFD bound holds, oversized branch non-vacuous (K17')") {
    val rows = TextOps.packGreedy(spark, SparkTestSession.sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val cap = TextOps.PackBinCapacity
    // partition law: every doc packed exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    val byBin = rows.groupBy(r => (r._2, r._4))
    byBin.foreach { case ((shard, bin), ds) =>
      val total = ds.map(_._3).sum
      // capacity law: a bin only overflows when it holds ONE oversized doc
      assert(total <= cap || (ds.length == 1 && ds.head._3 > cap),
        s"bin ($shard, $bin) holds $total tokens across ${ds.length} docs")
      // the reported running fill ends at the bin total
      assert(ds.map(_._5).max == total)
    }
    // the oversized own-bin branch really fires (capacity calibration)
    assert(rows.exists(_._3 > cap), "no oversized doc — own-bin branch vacuous")
    // some bin actually packs >1 doc (otherwise packing is trivial)
    assert(byBin.exists(_._2.length > 1), "no bin holds 2+ docs — packing vacuous")
    rows.groupBy(_._2).foreach { case (shard, ds) =>
      // bin ordinals are contiguous from 1
      val bins = ds.map(_._4).distinct.sorted
      assert(bins.head == 1 && bins.last == bins.length, s"shard $shard bins not contiguous")
      // NFD quality: never worse than 2x the fractional lower bound
      // (+ oversized docs, each forced to its own bin)
      val nOver = ds.count(_._3 > cap)
      val lower = math.ceil(ds.filter(_._3 <= cap).map(_._3).sum.toDouble / cap)
      assert(bins.length <= 2 * lower + nOver,
        s"shard $shard: ${bins.length} bins > 2*$lower + $nOver — NFD bound broken")
    }
  }

  test("rag_retrieve: exact-k per query, monotone scores, scores are the real BoW dot products, broadcast plan") {
    import java.security.MessageDigest
    val df = TextOps.ragRetrieve(spark, SparkTestSession.sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to TextOps.RagTopK), "rank set broken")
      val scores = rs.sortBy(_.getInt(1)).map(_.getLong(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores not monotone in rank")
      assert(scores.head > 0, "top score is zero — vacuous retrieval")
    }
    // independent truth: recompute each reported score from raw text with
    // java.security MD5 (not Spark's md5) — hashed-BoW dot, same 15-hex-char
    // prefix, same mod
    def bow(text: String): Array[Long] = {
      val v = Array.fill(TextOps.RagDims)(0L)
      text.split(" ", -1).foreach { t =>
        val hex = MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        v((java.lang.Long.parseLong(hex, 16) % TextOps.RagDims).toInt) += 1
      }
      v
    }
    val texts = Tables.documents(spark, SparkTestSession.sfDir)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val q = bow(texts(r.getLong(0)))
      val off = r.getInt(3) * TextOps.ChunkStride
      val chunkText = texts(r.getLong(2)).drop(off).take(TextOps.ChunkLen)
      val c = bow(chunkText)
      val want = q.zip(c).map { case (a, b) => a * b }.sum
      assert(r.getLong(4) == want,
        s"score mismatch for query ${r.getLong(0)} chunk (${r.getLong(2)},${r.getInt(3)}): ${r.getLong(4)} != $want")
    }
    // the scale claim: the query side is broadcast, never shuffled
    assert(df.queryExecution.executedPlan.toString.contains("Broadcast"),
      "rag_retrieve must broadcast the query vectors")
  }

  test("rag_bm25: exact-k ranks, scores are the real Okapi BM25 (independent driver recompute), top-1 is a true argmax (K31)") {
    val df = TextOps.ragBm25(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to TextOps.Bm25TopK), "rank set broken")
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 }, "scores not monotone in rank")
      assert(scores.head > 0.0, "top score nonpositive — vacuous retrieval")
    }
    // independent truth: full BM25 recompute in plain Scala doubles over the
    // raw corpus — chunking, tf, df, dl, avgdl, idf and the tf-norm all
    // re-derived from first principles (nothing shared with the operator)
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def chunksOf(t: String): Seq[(Int, String)] =
      (0 to math.max(t.length - 1, 0) by TextOps.ChunkStride).zipWithIndex
        .map { case (off, i) => i -> t.drop(off).take(TextOps.ChunkLen) }
    def toks(t: String): Seq[String] = t.split(" ", -1).toSeq.filter(_.nonEmpty)
    val chunks = texts.toSeq.flatMap { case (d, t) =>
      chunksOf(t).map { case (c, txt) => (d, c, toks(txt)) }
    }.filter(_._3.nonEmpty)
    val nChunks = chunks.size.toDouble
    val avgdl = chunks.map(_._3.size.toLong).sum.toDouble / nChunks
    val dfMap = chunks.flatMap { case (_, _, ts) => ts.distinct }
      .groupBy(identity).map { case (t, o) => t -> o.size.toDouble }
    def bm25(qTerms: Set[String], ts: Seq[String]): Double = {
      val tf = ts.groupBy(identity).map { case (t, o) => t -> o.size.toDouble }
      val dl = ts.size.toDouble
      qTerms.toSeq.sorted.flatMap { t => tf.get(t).map { f =>
        val idf = math.log(1.0 + (nChunks - dfMap(t) + 0.5) / (dfMap(t) + 0.5))
        idf * ((f * 2.2) / (f + 1.2 * (0.25 + (0.75 * dl) / avgdl)))
      } }.sum
    }
    val qTermsByDoc = texts.view.filterKeys(d =>
      d % TextOps.RagQueryMod == 0 && d < TextOps.RagMaxQueryDoc)
      .mapValues(t => toks(t).toSet).toMap
    rows.foreach { r =>
      val want = bm25(qTermsByDoc(r.getLong(0)),
        toks(texts(r.getLong(2)).drop(r.getInt(3) * TextOps.ChunkStride).take(TextOps.ChunkLen)))
      assert(math.abs(r.getDouble(4) - want) < 1e-6,
        s"BM25 mismatch for query ${r.getLong(0)} chunk (${r.getLong(2)},${r.getInt(3)}): ${r.getDouble(4)} != $want")
    }
    // the rank-1 chunk really is the corpus argmax (within float tolerance)
    byQ.foreach { case (q, rs) =>
      val best = chunks.map { case (_, _, ts) => bm25(qTermsByDoc(q), ts) }.max
      val got = rs.find(_.getInt(1) == 1).get.getDouble(4)
      assert(got >= best - 1e-6, s"query $q rank-1 score $got below corpus max $best")
    }
    // scale claims: query terms and df broadcast; exactly ONE exchange feeds
    // the scoring chain (the (doc,chunk) repartition) — tf agg, probe join,
    // and the per-(query,chunk) sum all reuse that partitioning
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), "rag_bm25 must broadcast query terms and df")
  }

  test("rag_hybrid: RRF fusion is exact — plain-Scala recompute over the two depth-N lists, lcm arithmetic laws, standalone-query prefix consistency (K32)") {
    val df = TextOps.ragHybrid(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // lcm law: RrfL really is divisible by every denominator RRF can see
    (1 to TextOps.HybridN).foreach { r =>
      assert(TextOps.RrfL % (TextOps.RrfK + r) == 0L,
        s"RrfL not divisible by ${TextOps.RrfK + r}")
    }
    // independent fusion truth: collect both depth-N lists and fuse in
    // plain Scala (Map-based, no Spark) — ranks, scores, and the top-3
    // per query must match the operator exactly
    def keyed(d: org.apache.spark.sql.DataFrame): Map[(Long, Long, Int), Int] =
      d.collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)) -> r.getInt(1)).toMap
    val dense = keyed(TextOps.ragDenseRanked(spark, sfDir, TextOps.HybridN))
    val sparse = keyed(TextOps.ragSparseRanked(spark, sfDir, TextOps.HybridN)
      .select(col("query_doc"), col("rnk"), col("doc_id"), col("chunk_id")))
    val fusedWant: Map[Long, Seq[((Long, Int), Long)]] =
      (dense.keySet ++ sparse.keySet).toSeq
        .map { k =>
          val rrf = dense.get(k).map(r => TextOps.RrfL / (TextOps.RrfK + r)).getOrElse(0L) +
            sparse.get(k).map(r => TextOps.RrfL / (TextOps.RrfK + r)).getOrElse(0L)
          (k._1, (k._2, k._3), rrf)
        }
        .groupBy(_._1)
        .map { case (q, xs) =>
          q -> xs.map(x => (x._2, x._3))
            .sortBy { case ((d, c), s) => (-s, d, c) }.take(TextOps.RagTopK)
        }
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == fusedWant.keySet, "query set mismatch")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to TextOps.RagTopK), s"rank set broken for $q")
      val got = rs.sortBy(_.getInt(1)).map(r => ((r.getLong(2), r.getInt(3)), r.getLong(4))).toSeq
      assert(got == fusedWant(q), s"fusion mismatch for query $q: $got != ${fusedWant(q)}")
    }
    // published per-list ranks must agree with the lists themselves (null ↔ absent)
    rows.foreach { r =>
      val k = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert((if (r.isNullAt(5)) None else Some(r.getInt(5))) == dense.get(k), s"dense_rnk wrong at $k")
      assert((if (r.isNullAt(6)) None else Some(r.getInt(6))) == sparse.get(k), s"sparse_rnk wrong at $k")
      assert(!r.isNullAt(5) || !r.isNullAt(6), s"fused row $k in neither list")
    }
    // consistency with the REGISTERED standalone queries: their top-3 are
    // rank-for-rank prefixes of the depth-N lists the fusion consumed
    TextOps.ragRetrieve(spark, sfDir).collect().foreach { r =>
      assert(dense((r.getLong(0), r.getLong(2), r.getInt(3))) == r.getInt(1),
        "rag_retrieve top-3 not a prefix of the dense depth-N list")
    }
    TextOps.ragBm25(spark, sfDir).collect().foreach { r =>
      assert(sparse((r.getLong(0), r.getLong(2), r.getInt(3))) == r.getInt(1),
        "rag_bm25 top-3 not a prefix of the sparse depth-N list")
    }
  }

  test("text_collocations: PMI recomputes from raw counts (driver brute force), support floor holds, ranking total (K33)") {
    val out = TextOps.textCollocations(spark, sfDir).collect()
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val toks = texts.map(_.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val tTok = toks.map(_.size.toLong).sum
    val bis = toks.flatMap(ts => if (ts.size <= 1) ts.map(w => w)
      else ts.sliding(2).map(_.mkString(" ")).toSeq)
    val nBi = toks.map(ts => math.max(ts.size - 1, 1).toLong).sum
    val biC = bis.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    out.foreach { r =>
      val (bg, cxy, pmi) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(cxy >= TextOps.CollocMinSupport, s"$bg below support floor")
      val parts = bg.split(" ", -1)
      assert(parts.length == 2, s"degenerate bigram $bg survived the 2-word filter")
      assert(cxy == biC(bg), s"$bg count $cxy != ${biC(bg)}")
      val want = math.log(cxy.toDouble) + math.log(tTok.toDouble) + math.log(tTok.toDouble) -
        math.log(nBi.toDouble) - math.log(uni(parts(0)).toDouble) - math.log(uni(parts(1)).toDouble)
      assert(math.abs(pmi - want) < 1e-6, s"$bg pmi $pmi != $want")
    }
    // a high-PMI pair co-occurs more than independence predicts; sanity:
    // the list is PMI-descending
    val ps = out.map(_.getDouble(2))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b }, "not PMI-descending")
  }

  test("staged n-gram LM count families equal a fresh corpus derivation, " +
       "and the totals identities hold (r16 shared-family laws)") {
    import org.apache.spark.sql.functions._
    val (uni, bi) = TextOps.ngramCounts(spark, SparkTestSession.sfDir)
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val freshUni = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_w"))
    val freshBi = docs.select(explode(TextOps.shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(asMap(uni) == asMap(freshUni), "staged uni drifted from the corpus")
    assert(asMap(bi) == asMap(freshBi), "staged bi drifted from the corpus")
    // the totals identities the consumers rely on: t_tok = Σ c_w equals the
    // per-doc token-count sum, and n_bi = Σ c_xy equals the per-doc
    // greatest(nt−1, 1) sum (a doc of nt tokens yields that many 2-shingles)
    val perDoc = docs.select(
        size(split(col("text"), " ")).cast("long").as("nt"),
        greatest(size(split(col("text"), " ")) - 1, lit(1)).cast("long").as("nb"))
      .agg(sum("nt"), sum("nb")).head()
    val sums = uni.agg(sum("c_w")).head().getLong(0) ->
      bi.agg(sum("c_xy")).head().getLong(0)
    assert(sums == (perDoc.getLong(0) -> perDoc.getLong(1)),
      s"totals identities broken: $sums vs $perDoc")
  }
}
