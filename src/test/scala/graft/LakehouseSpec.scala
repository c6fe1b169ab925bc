package graft

import graft.operators.{EventOps, Lakehouse}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the lakehouse-maintenance operators.
  *
  * merge_upsert — the gate hashes the merged snapshot; here we pin that the
  * fixture actually EXERCISES all verdict classes (non-vacuity, the round-6
  * lesson from join_anti) and that the arithmetic of the merge holds:
  * |result| = |base| − |deletes| + |inserts|, no deleted key survives.
  *
  * layout_zorder — the defining geometric property: a z-region with the low
  * 8 bits of each dim truncated is a ≤256×256 RECTANGLE in (customer, day)
  * space. Plus the reason to bother: under a date-sorted layout each file
  * spans ~the whole customer range, so customer predicates prune nothing;
  * under z-order the per-region customer extent collapses.
  *
  * scd2_intervals — interval algebra: versions are contiguous from 1, each
  * interval closes exactly at the next one's start, exactly one open
  * (current) interval per user, and adjacent intervals really CHANGE state
  * (islands are maximal).
  */
class LakehouseSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("merge_upsert exercises kept/updated/inserted, removes every deleted key") {
    val out = Lakehouse.mergeUpsert(spark, sfDir).cache()
    try {
      val bySrc = out.groupBy("src").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(Set("kept", "updated", "inserted").subsetOf(bySrc.keySet),
        s"vacuous merge fixture: $bySrc")
      assert(bySrc.values.forall(_ > 0))
      val base = Tables.orders(spark, sfDir)
        .where(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val nBase = base.count()
      val nDel = base.where(col("o_orderkey") % 13 === 5).count()
      val nIns = base.where(col("o_orderkey") % 11 === 4).count()
      assert(nDel > 0 && nIns > 0, "fixture must plant deletes and inserts")
      assert(out.count() == nBase - nDel + nIns)
      // no deleted key survives the merge
      assert(out.join(base.where(col("o_orderkey") % 13 === 5)
        .select("o_orderkey"), Seq("o_orderkey"), "left_semi").count() == 0)
    } finally out.unpersist()
  }

  test("cdc_changefeed round-trips: applying the feed to A reproduces B exactly (M5)") {
    val feed = Lakehouse.cdcChangefeed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(feed.nonEmpty)
    val ops = feed.map(_._2).toSet
    assert(ops == Set("insert", "update", "delete"), s"vacuous feed fixture: $ops")
    // before/after null-ness follows the op
    feed.foreach {
      case (_, "insert", before, after) => assert(before.isEmpty && after.nonEmpty)
      case (_, "delete", before, after) => assert(before.nonEmpty && after.isEmpty)
      case (_, "update", before, after) =>
        assert(before.nonEmpty && after.nonEmpty && before != after)
      case other => fail(s"unknown op row: $other")
    }
    // replay: A + feed == B, bit-exact on (key, val)
    val a = Lakehouse.ordersBase(spark, sfDir).select("key", "val").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Lakehouse.mergedSnapshot(spark, sfDir)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val replayed = feed.foldLeft(a) {
      case (acc, (k, "delete", _, _)) => acc - k
      case (acc, (k, _, _, Some(after))) => acc.updated(k, after)
      case (acc, _) => acc
    }
    assert(replayed == b, "feed applied to A must reproduce B")
  }

  test("z-regions are <=256x256 rectangles; customer extent collapses vs date-sort") {
    // sf0.01: enough distinct customers that the rectangle bound bites
    val dir = "/root/testdata/sf0.01"
    val regions = Lakehouse.layoutZorder(spark, dir).collect()
    assert(regions.length >= 10, s"only ${regions.length} occupied z-regions")
    val side = 1 << (Lakehouse.ZShift / 2) // low 8 bits truncated per dim
    regions.foreach { r =>
      val custExt = r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust")
      val dayExt = (r.getAs[Int]("max_day") - r.getAs[Int]("min_day")).toLong
      assert(custExt < side && dayExt < side,
        s"region ${r.get(0)} not a rectangle: cust=$custExt day=$dayExt")
    }
    // date-sorted strawman: split the date-ordered table into as many files
    // as there are z-regions; measure each file's customer extent
    val g = regions.length
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"))
    val custRange = orders.agg((max("o_custkey") - min("o_custkey")).as("r"))
      .head().getAs[Long]("r")
    val dateSorted = orders
      .withColumn("file_id", ntile(g).over(
        org.apache.spark.sql.expressions.Window.orderBy("o_orderdate")))
      .groupBy("file_id")
      .agg((max("o_custkey") - min("o_custkey")).as("ext"))
      .agg(avg("ext")).head().getDouble(0)
    val zAvg = regions.map(r =>
      r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust")).sum.toDouble / g
    // date-sorted files each span ~the whole customer range; z-regions span
    // <=255 of it. Require a 3x separation (observed: ~6x at sf0.01 and
    // growing with SF, since zAvg is capped at 255 while custRange scales)
    assert(dateSorted > zAvg * 3,
      s"z-order shows no skipping advantage: dateSortedAvg=$dateSorted zAvg=$zAvg range=$custRange")
  }

  test("hilbert encode: bijection + unit-step walk on a full subgrid; h-regions are quadrants (M2')") {
    import spark.implicits._
    // structural proof on the complete 16x16 subgrid: the 12 upper levels
    // see rx=ry=0 (an even number of frame swaps — identity), so cells
    // [0,16)^2 must map EXACTLY onto hkeys 0..255, and walking the curve in
    // key order must move one cell per step — the locality property Z-order
    // lacks (its bit-boundary jumps), and the whole point of M2'.
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x, y)).toDF("gx", "gy")
    val keyed = Lakehouse.hilbertKey(grid, "gx", "gy")
      .select("gx", "gy", "hkey").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sortBy(_._3)
    assert(keyed.map(_._3).toSeq == (0L until 256L), "not a bijection onto 0..255")
    keyed.zip(keyed.tail).foreach { case ((x0, y0, k), (x1, y1, _)) =>
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"jump at key $k: ($x0,$y0) -> ($x1,$y1)")
    }
    // aligned 16-key blocks are EXACT 4x4 quadrants (tight bounding boxes)
    keyed.grouped(16).zipWithIndex.foreach { case (blk, b) =>
      val xs = blk.map(_._1); val ys = blk.map(_._2)
      assert(xs.max - xs.min == 3 && ys.max - ys.min == 3, s"block $b not a 4x4 quadrant")
    }
    // real-data gate shape: every occupied h-region (an aligned 2^16 block)
    // is one 256x256 quadrant, same footer-metadata law as z-order — but
    // EXACT sides, where a z-region is only bounded by 256x256
    val regions = Lakehouse.layoutHilbert(spark, "/root/testdata/sf0.01").collect()
    assert(regions.length >= 10, s"only ${regions.length} occupied h-regions")
    val side = 1 << (Lakehouse.HShift / 2)
    regions.foreach { r =>
      val custExt = r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust")
      val dayExt = (r.getAs[Int]("max_day") - r.getAs[Int]("min_day")).toLong
      assert(custExt < side && dayExt < side,
        s"region ${r.get(0)} escaped its quadrant: cust=$custExt day=$dayExt")
    }
  }

  test("zonemap_skip: pruning is complete and non-vacuous, and actually saves IO (M8)") {
    val dir = "/root/testdata/sf0.01"
    val files = Lakehouse.zonemapSkip(spark, dir).collect()
    val scanned = files.filter(_.getAs[Int]("scanned") == 1)
    val skipped = files.filter(_.getAs[Int]("scanned") == 0)
    assert(scanned.nonEmpty && skipped.nonEmpty, "predicate box must split the file set")
    // completeness: every matching row lives in a scanned file (skip_safe is
    // also in the gate hash; this is the independent engine-side assertion)
    assert(skipped.forall(_.getAs[Long]("n_match") == 0L),
      "a skipped file contains matching rows — pruning lost data")
    val totalMatches = Tables.orders(spark, dir)
      .where(col("o_custkey").between(Lakehouse.ZmCustLo, Lakehouse.ZmCustHi) &&
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .between(Lakehouse.ZmDayLo, Lakehouse.ZmDayHi))
      .count()
    assert(scanned.map(_.getAs[Long]("n_match")).sum == totalMatches && totalMatches > 0,
      "scanned files' matches must account for every match")
    // effectiveness: the skipped fraction of ROWS is the IO saved
    val rowsScanned = scanned.map(_.getAs[Long]("n_rows")).sum
    val rowsTotal = files.map(_.getAs[Long]("n_rows")).sum
    assert(rowsScanned * 2 < rowsTotal,
      s"zone maps must skip >half the IO here (scanned $rowsScanned of $rowsTotal)")
  }

  test("scd2 intervals: contiguous versions, exact closure, one current, maximal islands") {
    val rows = EventOps.scd2Intervals(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("version"),
        r.getAs[String]("state"), r.getAs[java.sql.Timestamp]("effective_from"),
        Option(r.getAs[java.lang.Long]("effective_to_us")).map(_.longValue),
        r.getAs[Int]("is_current")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (user, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length).toSeq,
        s"user $user versions not contiguous")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // closes exactly at the successor's start (timestamp micros)
          assert(a._5.contains(b._4.getTime * 1000 + b._4.getNanos / 1000 % 1000),
            s"user $user v${a._2} does not close at v${b._2}'s start")
          assert(a._3 != b._3, s"user $user adjacent islands share state ${a._3}")
        case _ => ()
      }
      assert(sorted.count(_._6 == 1) == 1, s"user $user current-interval count != 1")
      assert(sorted.last._5.isEmpty && sorted.last._6 == 1)
    }
  }

  test("matview_delta refresh law: old + delta == full recompute over the merged snapshot, per group and in total (M9)") {
    val out = Lakehouse.matviewDelta(spark, sfDir).collect()
    assert(out.nonEmpty)
    // full recompute of the view over the POST-merge snapshot — the state
    // the incremental refresh claims to reach without rescanning the base
    val full = Lakehouse.mergedSnapshot(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    out.foreach { r =>
      val k = r.getLong(0)
      val (ns, nn) = (r.getDouble(r.fieldIndex("new_sum")), r.getLong(r.fieldIndex("new_n")))
      full.get(k) match {
        case Some((fs, fn)) =>
          assert(math.abs(ns - fs) < 1e-6, s"group $k: incremental sum $ns != recompute $fs")
          assert(nn == fn, s"group $k: incremental count $nn != recompute $fn")
        case None => // a group whose rows were all deleted: refresh must land on 0
          assert(nn == 0L && math.abs(ns) < 1e-6, s"group $k vanished but refresh says ($ns, $nn)")
      }
    }
    // all three change classes actually move some group (non-vacuity): some
    // delta_n positive (insert-dominant), some negative (delete-dominant),
    // and some zero-with-nonzero-sum (pure updates)
    val dn = out.map(r => (r.getLong(r.fieldIndex("delta_n")), r.getDouble(r.fieldIndex("delta_sum"))))
    assert(dn.exists(_._1 > 0) && dn.exists(_._1 < 0) &&
      dn.exists(d => d._1 == 0 && math.abs(d._2) > 0), "fixture fails to exercise I/D/U delta classes")
    // untouched groups emit NOTHING (the journal is churn-sized)
    val affected = Lakehouse.cdcBatch(Lakehouse.ordersBase(spark, sfDir))
      .select("o_custkey").distinct().count()
    assert(out.length.toLong == affected, s"${out.length} journal rows != $affected churned groups")
  }
  test("scan_timetravel: version chain semantics and staged-snapshot round trip (M10)") {
    val rows = Lakehouse.scanTimetravel(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Set(0, 1, 2))
    // updates change values, never cardinality; deletes change cardinality
    assert(rows(1)._1 == rows(0)._1, "v1 update batch changed the row count")
    assert(rows(2)._1 < rows(1)._1, "v2 delete batch removed nothing")
    // v1 sum = v0 sum + 100 per updated key; v2 keys are a subset span
    val nUpd = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 0).count()
    assert(rows(1)._2 == rows(0)._2 + 100 * nUpd,
      s"v1 sum drift: ${rows(1)._2} vs ${rows(0)._2} + 100*$nUpd")
    // staged AS-OF reads equal the in-memory derivation row-for-row
    (0 until Lakehouse.TtVersions).foreach { v =>
      val staged = spark.read
        .parquet(s"${graft.Staging.stagedRoot(Lakehouse.TtStageDir)}/v$v")
        .collect().map(_.toSeq).toSet
      val derived = Lakehouse.ttSnapshot(spark, sfDir, v).collect().map(_.toSeq).toSet
      assert(staged == derived, s"v$v staged snapshot drifted from its derivation")
    }
  }
}
