package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** Whole-inventory input-order-invariance law (round 8): every registered
  * query must produce IDENTICAL rows when the input tables arrive in a
  * DIFFERENT physical row order. This is the law that makes every
  * `oracleSorted` a TOTAL order: a sort key that ties two DISTINCT rows
  * passes the single-layout gate (both engines read the same parquet in
  * the same order and sort stably, so ties coincide), then silently
  * diverges the first time anything reshuffles the input — exactly what
  * the round-8 10x ScaleGen gate caught on `scalar_math` (its
  * `(l_orderkey, l_linenumber)` key is NOT unique in this synthetic data,
  * and ScaleGen's repartition randomized the tie order). DeterminismSpec
  * re-runs on the SAME layout and PartitionInvarianceSpec changes the
  * exchange width; only an input-layout change exposes this class.
  *
  * The shuffled mirror is staged once per suite run: each table
  * round-robin-repartitioned (rows land in interleaved, non-source order)
  * and written back as parquet, so every loader — including the staged
  * CSV/JSON/ORC fixtures, which re-stage from the mirror's fingerprint —
  * sees a genuinely reordered corpus.
  */
class OrderTotalitySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private lazy val shuffledDir: String = {
    val out = "/tmp/graft_order_totality/sf0.001"
    // re-stage only when the source CONTENT fingerprint is missing/stale —
    // keyed on each table's path/size/mtime digest (round-8 ADVICE #3: a
    // path-only marker let testdata regenerated in place silently reuse
    // the stale mirror), the same discipline as the CSV/JSON stage keys
    val marker = new java.io.File(s"$out/.staged_from")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val want = sfDir + "|" + Tables.all.map { case (name, _) =>
      s"$name=${Tables.fingerprint(fs, new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet"))}"
    }.mkString(",")
    if (!marker.exists() ||
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) != want) {
      Tables.all.foreach { case (name, load) =>
        load(spark, sfDir).repartition(7)
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      }
      java.nio.file.Files.write(marker.toPath, want.getBytes)
    }
    out
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: identical rows on a row-shuffled input layout") {
      val base = fn(spark, sfDir).collect().map(_.toString).toSeq
      val shuf = fn(spark, shuffledDir).collect().map(_.toString).toSeq
      assert(base == shuf, {
        val diff = base.zip(shuf).zipWithIndex.collectFirst {
          case ((x, y), i) if x != y => s"first diff at row $i:\n  src:  $x\n  shuf: $y"
        }.getOrElse(s"sizes ${base.size} vs ${shuf.size}")
        s"$name depends on input row order (oracle sort is not total) — $diff"
      })
    }
  }
}
