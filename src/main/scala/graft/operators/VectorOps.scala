package graft.operators

import graft.{Staging, Tables}
import graft.functions.Vec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._

/** Embedding-column operators (SURVEY §2.K3/K4) and the iterative k-means
  * dataflow (§2.I) — similarity search, multimodal join, vector stats.
  *
  * Scale shapes:
  *  - `sim_topk`: the query set is tiny and broadcast; the corpus streams
  *    past it once (broadcast nested loop), then a per-query window takes
  *    top-k. Never corpus × corpus.
  *  - `sim_ann` / `dedup_embed`: sign-bit LSH buckets (IVF-style coarse
  *    index) turn the candidate set from |corpus| into |bucket|; the join is
  *    an equi-join on the bucket key.
  *  - `kmeans_clusters`: the reference's driver-coordinated loop
  *    [ref: stackoverflow/…/StackOverflow.scala#kmeans] — centers live on
  *    the driver (k × dim doubles), each iteration is one broadcast join +
  *    one partial-aggregated per-dimension mean; only k × dim rows ever
  *    reach the driver per iteration.
  */
/** Typed output schema of the multimodal decode stage: container size and
  * dimensions parsed from real BMP header fields, frame count (1 — BMP is a
  * still; the field is the video-format slot), md5 of the pixel array.
  */
case class MediaFeatures(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                         n_frames: Int, checksum: String)

/** Typed output schema of the multimodal resize stage: source and output
  * dimensions plus a checksum over the resampled pixel bytes (md5 of their
  * lowercase-hex rendering — a byte-exact form both engines can build).
  */
case class ResizedMedia(doc_id: Long, src_w: Int, src_h: Int,
                        out_w: Int, out_h: Int, n_bytes_out: Int,
                        checksum: String)

/** Typed output schema of the multimodal frame-sample stage. */
case class SampledFrames(doc_id: Long, n_frames: Int, n_sampled: Int,
                         n_bytes_sampled: Int, checksum: String)

/** Typed output schema of the perceptual-hash stage: image dimensions,
  * the four 16-bit hash bands (the LSH unit of the pairing stage), and
  * the full 64-bit hash as 16 hex chars (band-concatenation — a string,
  * so bit 63 never fights BIGINT sign on either engine).
  */
case class PHashRow(doc_id: Long, width: Int, height: Int,
                    band0: Int, band1: Int, band2: Int, band3: Int,
                    phash: String)

object VectorOps {

  /** Fixed query set for similarity search: vec_id < 5. */
  val QuerySetSize = 5

  /** The query-side / corpus-side halves of an embeddings frame — ONE
    * definition of the split for every similarity operator.
    */
  private[graft] def queriesOf(df: DataFrame): DataFrame =
    df.filter(col("vec_id") < QuerySetSize.toLong)
  private[graft] def corpusOf(df: DataFrame): DataFrame =
    df.filter(col("vec_id") >= QuerySetSize.toLong)
  val TopK = 10
  val AnnBits = 8
  val AnnTopK = 5
  /** IVF: lists probed per query; embedding dimensionality (testdata). */
  val IvfProbes = 2
  val Dim = 64
  val EmbedDupTau = 0.3
  /** Banded hyperplane LSH for `dedup_embed`: bands × bits disjoint sign-bit
    * slices covering all Dim dimensions. 16 bits/band keeps per-band buckets
    * ~N/2^16 on sign-balanced data (Σ|bucket|² ≈ bands·N²/65536 — the
    * round-2 single-8-bit-bucket shape was N²/256); 4 independent bands
    * restore recall: a near-dup pair at cosine c collides in a band with
    * probability (1−θ/π)^16, and in ≥1 of 4 bands with 1−(1−p)⁴ — at
    * c ≈ 0.95 (planted dups) that is ≈ 0.56 per band, ≈ 0.96 overall.
    */
  val EmbedBands = 4
  val EmbedBandBits = 16
  /** All XOR masks of Hamming weight ≤ `flips` over `AnnBits` bits — the
    * probe set for a given multi-probe radius (flips=1: own bucket + 8
    * one-bit flips = 9 probes; flips=2 adds the 28 two-bit neighbours,
    * 37 probes).
    */
  private[graft] def probeMasks(flips: Int): Seq[Long] =
    (0 until (1 << AnnBits)).map(_.toLong)
      .filter(m => java.lang.Long.bitCount(m) <= flips)

  /** Multi-probe masks for `sim_ann` at radius 1 — the set the registered
    * query probes and the oracle SQL interpolates. The radius is the
    * recall/cost lever: random vectors spread true neighbours across many
    * buckets, and candidates scale ∝ |probes|/2^bits of the corpus per
    * query — 9/256 at radius 1, 37/256 at radius 2 — while only the tiny
    * broadcast query side fans out, never the corpus. AnnRecallSpec
    * measures the recall gain of radius 2.
    */
  val AnnProbeMasks: Seq[Long] = probeMasks(1)

  /** K4 `vec_norm`: per-vector L1/L2 norms and dimensionality. L2 runs
    * through the codegen'd dot kernel (bitwise == the HOF fold, see Vec);
    * L1 stays a HOF fold. Raw doubles — sequential folds are
    * bitwise-reproducible across engines and partitionings.
    */
  def vecNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        Vec.l2F(col("embedding")).as("l2_norm"),
        Vec.l1(col("embedding")).as("l1_norm"))
      .oracleSorted("vec_id")

  /** B7 `vec_scale`: scaling / feature projection — the reference embeds
    * posts as `(langIndex * langSpread, highScore)` with langSpread = 50000
    * so the categorical axis dominates the metric space
    * [ref: stackoverflow/…/StackOverflow.scala#vectorPostings]. Same shape
    * here: (label × spread, vector norm) as the 2-D feature pair.
    */
  def vecScale(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"), col("label"),
        (col("label").cast("long") * 50000L).as("feat_x"),
        Vec.l2F(col("embedding")).as("feat_y"))
      .oracleSorted("vec_id")

  /** I1′ `sample_stratified`: deterministic per-label k-sample — the
    * engine-level form of the reference's `sampleVectors` stratified
    * reservoir [ref: stackoverflow/…/StackOverflow.scala#sampleVectors],
    * with the window-rank substitute for RNG that SURVEY §2.I1 mandates
    * (cross-engine seeded sampling does not reproduce). Shuffles once by
    * label; per-label output is capped at k, so result size is k×|labels|
    * regardless of corpus size.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")).cast("int"))
      .filter(col("rn") <= 20)
      .select(col("vec_id"), col("label"), col("rn"))
      .oracleSorted("label", "rn")

  /** `quantile_bins`: decile bucketing of documents by length (curriculum /
    * balancing stage of a data pipeline). Semantics are exactly SQL
    * `NTILE(10) OVER (ORDER BY n_chars, doc_id)`, but computed WITHOUT the
    * global window (`ntile` over `Window.orderBy` moves the whole corpus to
    * one partition — the canonical 100 TB scale-killer):
    *
    *  1. range-partition by the sort key and sort within partitions — the
    *     distributed total order Spark's own global `orderBy` uses;
    *  2. count rows per partition, prefix-sum ON THE DRIVER (P longs, tiny)
    *     → per-partition global-row-number offsets;
    *  3. local `row_number` (window partitioned by partition id — parallel)
    *     + broadcast offset = exact global row number;
    *  4. NTILE arithmetic from (rn, N) with integer `div` — buckets differ
    *     by ≤1 row, larger buckets first, matching SQL NTILE exactly.
    *
    * Every shuffle is by range or partition id; nothing ever concentrates on
    * one task. Output is bitwise-identical to the DuckDB `ntile` oracle.
    */
  def quantileBins(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val (ranked, n) = withGlobalRowNumber(s, base, Seq("n_chars", "doc_id"))
    val q = n / 10
    val r = n % 10
    ranked
      .withColumn("decile", expr(
        s"case when $q = 0 or rn <= ${r * (q + 1)} then (rn - 1) div ${q + 1} + 1 " +
        s"else $r + (rn - ${r * (q + 1)} - 1) div $q + 1 end").cast("int"))
      .select(col("doc_id"), col("n_chars"), col("decile"))
      .oracleSorted("doc_id")
  }

  /** Distributed exact global row number over a total order — the machinery
    * behind `quantile_bins` and `shuffle_rows` (semantics of
    * `row_number() OVER (ORDER BY keys)` WITHOUT the single-partition
    * global window, the canonical 100 TB scale-killer):
    *
    *  1. range-partition by the sort keys and sort within partitions — the
    *     distributed total order Spark's own global `orderBy` uses;
    *  2. count rows per partition, prefix-sum ON THE DRIVER (P longs) →
    *     per-partition global offsets;
    *  3. local `row_number` (window partitioned by partition id — parallel)
    *     + broadcast offset = exact global row number `rn` (1-based).
    *
    * EAGER checkpoint, load-bearing for correctness: `repartitionByRange`
    * samples its boundaries with an RDD-id-derived seed, so re-executing
    * the lineage can produce DIFFERENT partition boundaries per job. The
    * per-pid counts run as their own job; without pinning, the final
    * window job could see different pid contents than the offsets were
    * computed from → wrong global row numbers (observed at sf0.1: 1281/5000
    * deciles off by one bucket; sf0.01 matched by luck). The checkpoint
    * materializes the ranged rows ONCE and both jobs read the same
    * partitions. Returns (frame + rn, total row count).
    */
  private[graft] def withGlobalRowNumber(s: SparkSession, base: DataFrame,
                                         keys: Seq[String]): (DataFrame, Long) = {
    import s.implicits._
    val parts = s.sessionState.conf.numShufflePartitions
    val ranged = base
      .repartitionByRange(parts, keys.map(col): _*)
      .withColumn("pid", spark_partition_id())
      // pinned: a recomputed range partition could disagree with the
      // driver's offsets
      .localCheckpoint()
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
    val ranked = ranged.join(broadcast(offsets.toSeq.toDF("pid", "off")), "pid")
      .withColumn("rn", col("off") + row_number().over(
        Window.partitionBy("pid").orderBy(keys.map(col): _*)))
      .drop("pid", "off")
    (ranked, n)
  }

  /** `shuffle_rows`: DETERMINISTIC global shuffle — the row-order
    * randomization every training run needs before sharding, as a pure
    * function of the key (same order on every run, any cluster size,
    * reproducible by the oracle — `rand()` is none of those). Each row's
    * shuffle key is an md5-derived hash of its id (salt-prefixed so this
    * order is decorrelated from `sample_hash`'s buckets); the exact global
    * position comes from the distributed row-number machinery above —
    * never a single-partition window. Downstream a writer shards by
    * `shuffle_pos div rows_per_shard` for fixed-size training shards.
    */
  def shuffleRows(s: SparkSession, dir: String): DataFrame = {
    val hkey = Relational.saltedHash("shuf")
    val base = Tables.documents(s, dir).select(col("doc_id"), hkey.as("hkey"))
    val (ranked, _) = withGlobalRowNumber(s, base, Seq("hkey", "doc_id"))
    ranked.select(col("doc_id"), col("hkey"), (col("rn") - 1).as("shuffle_pos"))
      .oracleSorted("doc_id")
  }

  /** K4 `multimodal_decode`: the decode / feature-extract stage of a
    * multimodal pipeline over opaque binary payloads, as typed
    * `mapPartitions` stages — the one operator class where per-row
    * imperative code is the point (codec libraries are not expressible in
    * Catalyst). Round 3 stubbed the codec with an md5 fake; now the input
    * path wraps each document's bytes in a REAL BMP container (`encodeBmp`:
    * 14-byte file header + 40-byte BITMAPINFOHEADER + 4-byte-aligned 24bpp
    * pixel array) and the decode stage parses the actual little-endian
    * header fields — magic, bfSize, bfOffBits, biWidth, biHeight, biPlanes,
    * biBitCount — rejecting malformed payloads (this environment ships no
    * image libs, so the container is built here; a production ingest would
    * read payload columns written upstream and only the encode stage
    * disappears). Dimensions are deterministic functions of payload size,
    * and the checksum covers the pixel array (content bytes + space
    * padding), so the DuckDB oracle reproduces every field from `text`
    * without parsing binary.
    *
    * Scale shape: two narrow per-row map stages, zero shuffle — the BMP
    * bytes exist only inside the pipeline (never shuffled, never collected).
    */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      // ingest: wrap the raw content bytes in a real binary container
      .mapPartitions(_.map { case (id, raw) => (id, encodeBmp(raw)) })
      .mapPartitions { it =>
        // one digest instance per partition, not per row
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bmp) => decodeBmp(md, id, bmp) }
      }
      .toDF()
      .oracleSorted("doc_id")
  }

  case class AudioFeatures(doc_id: Long, sample_rate: Int, n_samples: Int,
                           duration_ms: Int, sum_abs: Long, checksum: String)

  /** Wrap raw content bytes in a valid canonical-44-byte PCM16 WAV
    * container: mono, 16-bit, sample rate a deterministic function of
    * content size (8000 + n mod 4000, so rates vary per doc), data chunk =
    * the content padded to an even byte count with one space — spaces, so
    * the oracle rebuilds the chunk as `text || repeat(' ', pad)` exactly
    * as the BMP family does.
    */
  private[graft] def encodeWav(raw: Array[Byte]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val n = raw.length
    val ns = (n + 1) / 2
    val dataLen = ns * 2
    val rate = 8000 + n % 4000
    val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1)                // PCM, mono
    b.putInt(rate).putInt(rate * 2)          // sample rate, byte rate
    b.putShort(2).putShort(16)               // block align, bits/sample
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    b.put(raw)
    if (n < dataLen) b.put(' '.toByte)
    b.array()
  }

  /** Parse the RIFF/WAVE headers (actual offsets, little-endian), reject
    * anything that is not the canonical mono-PCM16 layout, and extract the
    * audio features: sample count, floor-ms duration, and the exact
    * integer sum of absolute sample amplitudes (the signal-energy proxy a
    * filtering stage thresholds on — UTF-8 multi-byte content puts the
    * high bit on some high bytes, so samples DO go negative and the
    * signed int16 decode is load-bearing). Checksum covers the data chunk.
    */
  private[graft] def decodeWav(digest: java.security.MessageDigest, id: Long,
                               w: Array[Byte]): AudioFeatures = {
    import java.nio.{ByteBuffer, ByteOrder}
    def tag(off: Int) = new String(w, off, 4, "US-ASCII")
    require(w.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE" &&
      tag(12) == "fmt ", s"doc $id: payload is not a WAV (${w.length} bytes)")
    val b = ByteBuffer.wrap(w).order(ByteOrder.LITTLE_ENDIAN)
    require(b.getInt(16) == 16 && b.getShort(20) == 1 && b.getShort(22) == 1 &&
      b.getShort(34) == 16, s"doc $id: not canonical mono PCM16")
    val rate = b.getInt(24)
    require(b.getInt(28) == rate * 2 && b.getShort(32) == 2,
      s"doc $id: inconsistent byte rate / block align")
    require(tag(36) == "data", s"doc $id: missing data chunk")
    val dataLen = b.getInt(40)
    require(44 + dataLen == w.length && b.getInt(4) == 36 + dataLen,
      s"doc $id: data chunk length ${dataLen} does not cover the payload")
    val ns = dataLen / 2
    var i = 0; var sum = 0L
    while (i < ns) {
      val v = ((w(44 + 2 * i) & 0xff) | (w(45 + 2 * i) << 8)).toShort
      sum += math.abs(v.toLong)
      i += 1
    }
    digest.reset()
    digest.update(w, 44, dataLen)
    val hex = digest.digest().map("%02x".format(_)).mkString
    AudioFeatures(id, rate, ns, (ns.toLong * 1000 / rate).toInt, sum, hex)
  }

  /** `multimodal_audio` (round 7): the audio leg of the multimodal family
    * (image = `multimodal_decode`, video = `multimodal_framesample`) —
    * ingest wraps payload bytes in a REAL RIFF/WAVE PCM16 container, the
    * decode stage parses the actual header fields and rejects malformed
    * layouts, and the features (rate, sample count, floor-ms duration,
    * exact |amplitude| sum, data-chunk md5) are all integer/byte-exact so
    * the DuckDB oracle re-derives every column from `text` via hex
    * slicing — a one-byte framing error anywhere fails the hash. Same
    * zero-shuffle typed `mapPartitions` chain as the BMP family.
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) => (id, encodeWav(raw)) })
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, wav) => decodeWav(md, id, wav) }
      }
      .toDF()
      .oracleSorted("doc_id")
  }

  /** Wrap raw content bytes in a valid 24bpp BMP: width is a deterministic
    * function of content size (so dimensions vary per doc), height covers
    * the content at the 4-byte-aligned row stride, and the pixel array is
    * the content right-padded with spaces to stride×height (spaces, so the
    * oracle can rebuild the array as `text || repeat(' ', pad)`).
    */
  private[graft] def encodeBmp(raw: Array[Byte]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val n = raw.length
    val w = n % 60 + 4
    val stride = (w * 3 + 3) / 4 * 4
    val h = (n + stride - 1) / stride
    val pixelLen = stride * h
    val b = ByteBuffer.allocate(54 + pixelLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(54 + pixelLen)                  // bfSize
    b.putShort(0).putShort(0)                // bfReserved1/2
    b.putInt(54)                             // bfOffBits
    b.putInt(40)                             // biSize (BITMAPINFOHEADER)
    b.putInt(w).putInt(h)                    // biWidth / biHeight
    b.putShort(1).putShort(24)               // biPlanes / biBitCount
    b.putInt(0)                              // biCompression = BI_RGB
    b.putInt(pixelLen)                       // biSizeImage
    b.putInt(2835).putInt(2835)              // 72 DPI
    b.putInt(0).putInt(0)                    // biClrUsed / biClrImportant
    b.put(raw)
    var i = n
    while (i < pixelLen) { b.put(' '.toByte); i += 1 }
    b.array()
  }

  /** Parse the BMP headers (actual offsets, little-endian) and md5 the
    * pixel array. Throws on anything that is not the 24bpp uncompressed
    * layout — a decoder that silently passes garbage hides corrupt
    * payloads from the pipeline.
    */
  /** Validate the BMP container and return (dataOffset, width, height).
    * Shared by the decode and resize stages so a payload no decoder should
    * trust is rejected identically in both. Throws on anything that is not
    * the 24bpp uncompressed layout — a decoder that silently passes garbage
    * hides corrupt payloads from the pipeline.
    */
  private[graft] def parseBmp(id: Long, bytes: Array[Byte]): (Int, Int, Int) = {
    import java.nio.{ByteBuffer, ByteOrder}
    require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      s"doc $id: payload is not a BMP (${bytes.length} bytes)")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val fileSize = b.getInt(2)
    val dataOff = b.getInt(10)
    val hdrSize = b.getInt(14)
    val width = b.getInt(18)
    val height = b.getInt(22)
    val planes = b.getShort(26)
    val bpp = b.getShort(28)
    require(fileSize == bytes.length && hdrSize == 40 && planes == 1 &&
      bpp == 24 && dataOff >= 54 && dataOff <= bytes.length,
      s"doc $id: unsupported BMP layout (size=$fileSize/${bytes.length} hdr=$hdrSize " +
        s"planes=$planes bpp=$bpp off=$dataOff)")
    // cross-check the declared dimensions against the pixel-array size
    // (round-4 ADVICE #4): a payload with consistent bfSize/bfOffBits but
    // garbage width/height must not pass as decoded — the 4-byte-aligned
    // 24bpp stride times the height has to account for every pixel byte
    require(width > 0 && height >= 0 &&
      ((width.toLong * 3 + 3) / 4 * 4) * height == (bytes.length - dataOff).toLong,
      s"doc $id: BMP dimensions inconsistent with pixel array " +
        s"(w=$width h=$height pixelBytes=${bytes.length - dataOff})")
    (dataOff, width, height)
  }

  private[graft] def decodeBmp(digest: java.security.MessageDigest, id: Long,
                               bytes: Array[Byte]): MediaFeatures = {
    val (dataOff, width, height) = parseBmp(id, bytes)
    digest.reset()
    digest.update(bytes, dataOff, bytes.length - dataOff)
    val hex = digest.digest().map("%02x".format(_)).mkString
    MediaFeatures(id, bytes.length, width, height, n_frames = 1, checksum = hex)
  }

  /** Nearest-neighbour 2× downsample of a validated BMP payload: output
    * pixel (x, y) is source pixel (2x, 2y) in STORAGE order (BMP's
    * bottom-up orientation is irrelevant to a resampler — flipping input
    * and output together is the identity). Output dims are
    * `max(dim/2, 1)`, so a 1-row image stays 1 row rather than vanishing.
    * The checksum is md5 over the LOWERCASE-HEX rendering of the resampled
    * BGR bytes — hex, not raw bytes, because the DuckDB oracle can only
    * slice bytes positionally through `hex(blob)` (its `substr` is
    * character-based and the corpus is multi-byte UTF-8).
    */
  private[graft] def resizeBmp(digest: java.security.MessageDigest, id: Long,
                               bytes: Array[Byte]): ResizedMedia = {
    val (dataOff, w, h) = parseBmp(id, bytes)
    val stride = (w * 3 + 3) / 4 * 4
    val ow = math.max(w / 2, 1)
    // an empty payload (h=0, the empty-doc case) resizes to zero rows and
    // the md5 of zero bytes — never a silent drop, never an OOB read
    val oh = if (h == 0) 0 else math.max(h / 2, 1)
    val hexDigits = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(ow * oh * 6)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val off = dataOff + y * 2 * stride + x * 2 * 3
        var k = 0
        while (k < 3) {
          val v = bytes(off + k) & 0xff
          sb.append(hexDigits.charAt(v >> 4)).append(hexDigits.charAt(v & 0xf))
          k += 1
        }
        x += 1
      }
      y += 1
    }
    digest.reset()
    digest.update(sb.toString.getBytes("US-ASCII"))
    val hex = digest.digest().map("%02x".format(_)).mkString
    ResizedMedia(id, w, h, ow, oh, ow * oh * 3, checksum = hex)
  }

  /** K4c `multimodal_resize` (round 6): the TRANSFORM stage of the
    * multimodal pipeline — decode → nearest-neighbour 2× downsample →
    * re-checksum, as the same zero-shuffle typed `mapPartitions` chain as
    * `multimodal_decode` (per-row imperative pixel work is the sanctioned
    * non-Catalyst operator class; everything around it stays declarative).
    * Unlike the round-3-era stub era, the resample is REAL: the output
    * checksum covers the actual sampled BGR bytes, and the DuckDB oracle
    * re-derives every field — dimensions from the size arithmetic, the
    * checksum by slicing the same pixel bytes out of `hex(blob)` with
    * per-pixel `unnest(generate_series)` coordinates — so a one-byte
    * sampling offset error fails the hash gate.
    *
    * Scale shape: two narrow map stages; pixel bytes never shuffle. Output
    * volume is ¼ of input pixels — the typical pre-featurization reduction.
    */
  /** `multimodal_resize` gate-subset knob: when > 1, the query (and the
    * dumped oracle SQL — both read the same source) covers only documents
    * with doc_id ≡ 0 (mod N). Purpose: the DuckDB oracle re-derives the
    * resample through `hex(blob)` carried per PIXEL row — tractable at
    * 1×/10× but past the 24 GB oracle budget at the 100× staging — so the
    * 100× gate runs a deterministic 1/N payload subset instead of
    * excluding the query (round-13 VERDICT next #5). Default 1 = full
    * table; set via SPARK_GRAFT_RESIZE_MOD on Verify.
    */
  val ResizeGateModConf = "graft.resizeGateMod"

  def multimodalResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = s.conf.get(ResizeGateModConf, "1").toInt
    Tables.documents(s, dir)
      .filter(if (n > 1) pmod(col("doc_id"), lit(n.toLong)) === 0 else lit(true))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) => (id, encodeBmp(raw)) })
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bmp) => resizeBmp(md, id, bmp) }
      }
      .toDF()
      .oracleSorted("doc_id")
  }

  /** Frame geometry for `multimodal_framesample`: FrameRows consecutive
    * pixel rows form one "frame" (the still-image container standing in
    * for a video's frame sequence — this sandbox ships no video codec, so
    * the CONTAINER arithmetic is what the operator proves); every
    * FrameStride-th frame is kept, from frame 0.
    */
  val FrameRows = 4
  val FrameStride = 2

  /** K4d `multimodal_framesample` (round 6): the frame-sampling stage of a
    * video pipeline — keep every k-th frame of each payload's frame
    * sequence, checksum exactly the sampled bytes. Same zero-shuffle typed
    * `mapPartitions` chain and shared `parseBmp` validation as decode /
    * resize; the DuckDB oracle re-derives the checksum by slicing the
    * sampled frames' byte ranges out of `hex(blob)` at
    * `unnest(generate_series)` frame coordinates, so an off-by-one in the
    * frame geometry (start row, short last frame, stride) fails the hash.
    */
  /** K4f `multimodal_phash` (round 10): perceptual average-hash (aHash) —
    * the image-dedup fingerprint of a multimodal training pipeline (the
    * LAION-style near-dup stage): sample the image on a fixed
    * `PhashGrid`×`PhashGrid` nearest-neighbor grid (same integer
    * resample arithmetic as `multimodal_resize`), gray = the 3-byte pixel
    * sum, bit = gray ≥ image mean (compared as gray·64 ≥ Σgray — pure
    * integers, no division), packed row-major MSB-first into four 16-bit
    * bands. The bands are the LSH unit: near-dup images (small hamming
    * distance) collide on at least one band, so the pairing stage is a
    * band-bucket equi-join, never all-pairs. All-integer throughout —
    * the full hash and bands hash-gate byte-exactly.
    */
  def multimodalPhash(s: SparkSession, dir: String): DataFrame =
    phashFrame(s, dir).oracleSorted("doc_id")

  /** The per-doc phash frame (shared by `multimodal_phash` and the
    * pairing stage): zero-shuffle typed `mapPartitions`, shared
    * `parseBmp` validation like the rest of the family.
    */
  private[graft] def phashFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) => phashBmp(id, encodeBmp(raw)) })
      .toDF()
  }

  val PhashGrid = 8

  /** Near-dup threshold for `multimodal_phash_pairs`: hamming ≤ 4 of 64
    * bits. Calibrated against the measured candidate distribution at
    * sf0.01 (4211 band-collision candidates: 299 at hamming 0, 718 at ≤4,
    * 3493 excluded — both the keep and the drop branch trip; the
    * fixture-vacuity rule).
    */
  val PhashTau = 4

  /** K4g `multimodal_phash_pairs` (round 10): the pairing stage over
    * [[multimodalPhash]]'s fingerprints — candidates from a per-band
    * equi-self-join, exact hamming from the four band XORs, keep ≤
    * `PhashTau`. Pigeonhole: hamming ≤ 3 GUARANTEES a shared 16-bit band
    * (4 flipped bits cannot cover 4 bands with ≤ 3); at exactly τ=4 a
    * 1-1-1-1 spread can escape every band — the standard banded-LSH
    * recall trade, same contract as `dedup_simhash_pairs` (the oracle is
    * the same banded candidate set, so the gate proves the implementation,
    * and the spec pins the recall bound). Never all-pairs: candidate mass
    * is Σ_buckets |b|² over 65536-way band buckets (PlanSweepSpec bans
    * CartesianProduct).
    */
  def multimodalPhashPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.posexplode
    // Round-18 (guide §2.3/§8.4 — decide on small rows, expand after): the
    // round-10 form ran the band self-join at DOCUMENT grain, carrying all
    // 8 band columns on both sides, then distinct'd 10-column candidate
    // rows — 45 s / 1.3 GB shuffled at 100×, where text-rendered BMPs
    // collide hard on the hash (hot identical-signature groups make the
    // per-bucket candidate mass quadratic in the GROUP size, and every
    // same-signature doc pair re-verified the same hamming). This form
    // decides at SIGNATURE grain: the 4×16-bit bands pack into ONE long
    // (disjoint fields, so bit_count(sig_a ^ sig_b) IS the banded hamming
    // sum), the band self-join + τ-verify runs over DISTINCT signatures
    // (sig_a ≤ sig_b keeps same-signature groups as ONE self-pair), and
    // doc pairs come back from two membership equi-joins — each unordered
    // doc pair maps to exactly ONE unordered sig pair (a doc has one sig),
    // so the expansion needs no doc-level distinct: cross-sig hits emit
    // once with least/greatest orientation, same-sig groups emit their
    // doc_a < doc_b combinations directly. Band-share semantics are
    // UNCHANGED (τ = 4 can escape every band — the documented banded-LSH
    // recall trade — so the band condition stays; it is a property of the
    // signatures alone).
    val sig = shiftleft(col("band0").cast("long"), 48)
      .bitwiseOR(shiftleft(col("band1").cast("long"), 32))
      .bitwiseOR(shiftleft(col("band2").cast("long"), 16))
      .bitwiseOR(col("band3").cast("long")).as("sig")
    val m = phashFrame(s, dir).select(col("doc_id"), sig)
      .localCheckpoint(eager = false) // membership: feeds the sig dedup + both expansions
    val sigs = m.groupBy("sig").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val bandsOf = (c: Column) => array((3 to 0 by -1).map(b =>
      shiftright(c, b * 16).bitwiseAND(lit(0xffffL))): _*)
    val sb = sigs.select(col("sig"), col("n"),
      posexplode(bandsOf(col("sig"))).as(Seq("b", "v")))
    val sigPairs = sb.as("x").join(sb.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.sig") <= col("y.sig") &&
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= PhashTau &&
          // a signature held by ONE doc has no within-group pair to emit
          (col("x.sig") < col("y.sig") || col("x.n") >= 2))
      .select(col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct() // a sig pair can collide on several bands
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
    sigPairs
      .join(m.select(col("sig").as("sig_a"), col("doc_id").as("da")), "sig_a")
      .join(m.select(col("sig").as("sig_b"), col("doc_id").as("db")), "sig_b")
      .where(col("sig_a") =!= col("sig_b") || col("da") < col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      .oracleSorted("doc_a", "doc_b")
  }

  private[graft] def phashBmp(id: Long, bytes: Array[Byte]): PHashRow = {
    val (dataOff, w, h) = parseBmp(id, bytes)
    val stride = (w * 3 + 3) / 4 * 4
    val n = PhashGrid * PhashGrid
    val grays = new Array[Long](n)
    var tot = 0L
    val bands = new Array[Int](4)
    if (h > 0) {
      var i = 0
      while (i < n) {
        val sy = (i / PhashGrid) * h / PhashGrid
        val sx = (i % PhashGrid) * w / PhashGrid
        val off = dataOff + sy * stride + sx * 3
        val g = (bytes(off) & 0xff) + (bytes(off + 1) & 0xff) + (bytes(off + 2) & 0xff)
        grays(i) = g.toLong
        tot += g
        i += 1
      }
      i = 0
      while (i < n) {
        if (grays(i) * n >= tot) bands(i / 16) |= 1 << (15 - i % 16)
        i += 1
      }
    }
    PHashRow(id, w, h, bands(0), bands(1), bands(2), bands(3),
      bands.map(b => f"$b%04x").mkString)
  }

  def multimodalFramesample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) => (id, encodeBmp(raw)) })
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bmp) => framesampleBmp(md, id, bmp) }
      }
      .toDF()
      .oracleSorted("doc_id")
  }

  private[graft] def framesampleBmp(digest: java.security.MessageDigest, id: Long,
                                    bytes: Array[Byte]): SampledFrames = {
    val (dataOff, w, h) = parseBmp(id, bytes)
    val stride = (w * 3 + 3) / 4 * 4
    val nFrames = (h + FrameRows - 1) / FrameRows // empty payload → 0 frames
    val sampled = (0 until nFrames by FrameStride).toArray
    val hexDigits = "0123456789abcdef"
    val sb = new java.lang.StringBuilder
    var nBytes = 0
    sampled.foreach { f =>
      val rowStart = f * FrameRows
      val rows = math.min(FrameRows, h - rowStart) // last frame may be short
      val from = dataOff + rowStart * stride
      val len = rows * stride
      var i = 0
      while (i < len) {
        val v = bytes(from + i) & 0xff
        sb.append(hexDigits.charAt(v >> 4)).append(hexDigits.charAt(v & 0xf))
        i += 1
      }
      nBytes += len
    }
    digest.reset()
    digest.update(sb.toString.getBytes("US-ASCII"))
    val hex = digest.digest().map("%02x".format(_)).mkString
    SampledFrames(id, nFrames, sampled.length, nBytes, checksum = hex)
  }

  /** K4 `multimodal_join`: documents ⋈ embeddings — one row carrying text
    * metadata, an opaque binary payload's features (byte length, content
    * md5), and vector stats. Both sides scale with the corpus, so this is a
    * plain shuffle equi-join on the id (co-partitionable / bucketable at
    * 100 TB); no broadcast hint on purpose.
    */
  def multimodalJoin(s: SparkSession, dir: String): DataFrame = {
    val payload = col("text").cast("binary")
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .select(
        col("doc_id"), col("lang"), col("label"), col("n_chars"),
        length(payload).as("n_bytes"),
        md5(payload).as("content_md5"),
        Vec.l2F(col("embedding")).as("l2_norm"))
      .oracleSorted("doc_id")
  }

  /** K21 `vec_quantize`: per-vector int8 quantization — the embedding
    * compression stage an ANN/storage pipeline runs before indexing (4×
    * smaller vectors, 4× more candidates per shuffled byte). Affine
    * per-vector scheme: q = floor((x − min) · 255 / (max − min)),
    * clamped to [0, 255] (floor, not round — floor of an IEEE double is
    * engine-exact, so the oracle reproduces every code bitwise).
    * Output stays hash-comparable (the driver gate can't hash array
    * cells): code sum as the array checksum plus the quantization-grid
    * bounds and the max reconstruction error |x − (min + q·scale)|.
    * Zero-shuffle narrow projection; constant vectors (max == min)
    * quantize to all-zero codes with zero error.
    */
  def vecQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    // STAGED projections, load-bearing for performance: mn/mx/codes must be
    // NAMED columns, not inline sub-expressions — Catalyst does not CSE
    // inside lambda functions, so an inline `array_min(e)` referenced from
    // a `transform` lambda re-scans the array PER ELEMENT (O(dim²) per
    // row; measured 3.5 s for this query at sf0.1 — slowest in the
    // inventory — vs ~0.3 s staged). Chained selects stay one codegen'd
    // projection; each named column evaluates once per row.
    val mn = col("mn")
    val mx = col("mx")
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), e,
        array_min(e).cast("double").as("mn"), array_max(e).cast("double").as("mx"))
      .withColumn("q", transform(e, x =>
        when(mx === mn, lit(0L)).otherwise(
          least(greatest(floor((x.cast("double") - mn) * 255.0 / (mx - mn)), lit(0.0)), lit(255.0))
            .cast("long"))))
      .select(col("vec_id"), col("label"),
        round(mn, 6).as("q_min"), round(mx, 6).as("q_max"),
        aggregate(col("q"), lit(0L), (a, q) => a + q).as("q_sum"),
        // the FULL code array, serialized — the driver gate can't hash
        // array cells, a joined string it can: every code is oracle-proven,
        // not just the sum (round-4 memory listed the sum-only checksum as
        // remaining softness)
        concat_ws(",", col("q")).as("q_codes"),
        round(array_max(zip_with(e, col("q"), (x, q) =>
          abs(x.cast("double") - (mn + q.cast("double") * ((mx - mn) / 255.0))))), 6).as("max_err"))
      .oracleSorted("vec_id")
  }

  /** Product-quantization geometry: `PqSubspaces` disjoint `PqSubDim`-dim
    * slices of the 64-dim embedding; codebook per subspace = the label-mean
    * sub-centroids (5 labels ⇒ 5 codes per subspace here; a production
    * codebook is k-means-learned per subspace — same swap as `sim_ivf` →
    * `simIvfKmeans`).
    */
  val PqSubspaces = 4
  val PqSubDim: Int = Dim / PqSubspaces

  /** K21′ `vec_pq` (round 10): product quantization (Jégou 2011) — the
    * memory-compression half of a billion-scale ANN stack (IVF-PQ): each
    * vector is stored as `PqSubspaces` small codebook ids instead of 64
    * floats (here 4 codes ≈ 64× smaller), and distances are later
    * approximated per-subspace from tiny lookup tables. This op computes
    * the ENCODE: per vector × subspace, the nearest sub-centroid
    * (sequential-fold squared distance, `(d2, label)` struct-min argmin —
    * ONE partial aggregation, no window sort) plus the total
    * reconstruction error Σ_s min-d2 (a 4-term ordered fold, rounded at
    * the edge to 6 dp — DuckDB's DECIMAL→DOUBLE centroid cast can sit one
    * ulp off Spark's BigDecimal.doubleValue, measured on one subspace
    * term; the vec_quantize max_err precedent).
    *
    * Oracle-exactness: the codebook is `labelMeanCentroids`' exact-decimal
    * means (bitwise-reproducible in DuckDB), sub-distances are the house
    * strict sequential float64 fold, and the argmin tiebreak is total —
    * codes AND the error are in the hash. Scale: codebook broadcast
    * (k × Dim doubles), corpus scanned once, shuffle = one partial agg by
    * (vec, subspace) then by vec; at 100 TB this is the one-pass encode
    * job that writes the PQ column.
    */
  def vecPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    pqEncodeWith(emb, pqCentSubs(emb))
      .oracleSorted("vec_id")
  }

  /** PQ encode over ANY (c_label, s, csub) codebook frame — codes +
    * reconstruction error, shared by the oracle-checked `vec_pq`
    * (label-mean codebook) and the k-means-learned deployment twin
    * [[vecPqKmeans]] (the `simIvfWith` pattern).
    */
  private[graft] def pqEncodeWith(emb: DataFrame, centSubs: DataFrame): DataFrame =
    pqBest(emb, centSubs)
      .groupBy("vec_id")
      .agg(
        expr("transform(array_sort(collect_list(struct(s, best.c_label AS c))), x -> x.c)")
          .as("codes"),
        round(expr("aggregate(transform(array_sort(collect_list(struct(s, best.d2 AS d))), x -> x.d), " +
          "0D, (acc, x) -> acc + x)"), 6).as("recon_err"))
      .select(Seq(col("vec_id")) ++
        (0 until PqSubspaces).map(i => element_at(col("codes"), i + 1).as(s"code_$i")) :+
        col("recon_err"): _*)

  /** The PQ codebook sliced into subspaces: (c_label, s, csub) — the
    * label-mean centroids' `PqSubDim`-dim slices. k × `PqSubspaces` rows,
    * always broadcast. Single-sourced between the `vec_pq` encode and the
    * `vec_pq_adc` search so the two sides of the PQ contract (what wrote
    * the codes, what the LUT is built against) cannot drift.
    */
  private[graft] def pqCentSubs(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.posexplode
    // lineage cut (lazy): the consumers reference this frame from two or
    // three join branches (encode + LUT + coarse assign); without the cut
    // each branch would recompute the corpus-wide centroid aggregation —
    // the ivfCandidatesBy precedent
    labelMeanCentroids(emb).select(col("c_label"),
      posexplode(array((0 until PqSubspaces).map(i =>
        slice(col("cvec"), i * PqSubDim + 1, PqSubDim)): _*))
        .as(Seq("s", "csub")))
      .localCheckpoint(eager = false)
  }

  /** The PQ encode's argmin frame: per (vec_id, subspace), the nearest
    * sub-centroid as `best = struct(d2, c_label)` — ONE partial
    * aggregation (min(struct) — map-side combine), no window sort.
    */
  private[graft] def pqBest(emb: DataFrame, centSubs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{posexplode, broadcast}
    val subs = emb.select(col("vec_id"),
      posexplode(array((0 until PqSubspaces).map(i =>
        slice(col("embedding"), i * PqSubDim + 1, PqSubDim)): _*))
        .as(Seq("s", "subv")))
    subs.join(broadcast(centSubs), "s")
      .withColumn("d2", graft.functions.Vec.sqDistF(col("subv"), col("csub")))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d2"), col("c_label"))).as("best"))
  }

  /** K21″ `vec_pq_adc` (round 10): the SEARCH half of the PQ contract —
    * asymmetric distance computation (Jégou 2011 §III): the corpus exists
    * only as its `vec_pq` codes; each query builds a tiny lookup table
    * (squared distance from its own subvector to EVERY sub-centroid:
    * |queries| × k × `PqSubspaces` rows) and a vector's approximate
    * distance is the LUT sum over its codes — the query side stays
    * full-precision (asymmetric), the corpus side never decodes. Top-k
    * nearest per query by that ADC distance.
    *
    * Oracle-exactness: LUT entries are the house sequential float64 fold
    * over decimal-exact centroids (identical doubles on both engines);
    * the 4-term cross-subspace sum goes through DECIMAL(28,18) (the
    * `rag_bm25` contrib discipline) so the ranking key is exact and
    * merge-order free. Ranking ties break on vec_id — total.
    *
    * Scale shape: the corpus pays the encode (`pqBest`, the frame the
    * nightly `vec_pq` job materializes anyway) and ships 4 code rows per
    * vector into an EQUI-join against the broadcast LUT (no BNLJ — the
    * (s, code) key is exact); the per-(query, vector) sum partial-aggs
    * map-side, so post-combine shuffle mass is |queries| rows per corpus
    * vector. The top-k window is query-partitioned — bounded. At 100 TB
    * this is the interactive ANN serving path over a PQ-compressed
    * corpus: scan codes (64× smaller than the floats), never the vectors.
    */
  def vecPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    pqAdcWith(emb, pqCentSubs(emb))
      .oracleSorted("q_id", "rn")
  }

  /** ADC search over ANY (c_label, s, csub) codebook frame — encode the
    * corpus as codes, broadcast per-query LUTs, rank by the exact-decimal
    * ADC sum; shared by the oracle-checked `vec_pq_adc` (label-mean
    * codebook) and the k-means-learned deployment twin [[vecPqAdcKmeans]].
    */
  private[graft] def pqAdcWith(emb: DataFrame, centSubs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{posexplode, broadcast}
    import org.apache.spark.sql.types.DecimalType
    // corpus side: codes only — (vec_id, s, code), 4 small rows per vector
    val codes = pqBest(corpusOf(emb), centSubs)
      .select(col("vec_id"), col("s"), col("best").getField("c_label").as("code"))
    // query side: the ADC lookup table — |q| × k × PqSubspaces rows
    val lut = queriesOf(emb)
      .select(col("vec_id").as("q_id"),
        posexplode(array((0 until PqSubspaces).map(i =>
          slice(col("embedding"), i * PqSubDim + 1, PqSubDim)): _*))
          .as(Seq("s", "qsub")))
      .join(broadcast(centSubs), "s")
      .select(col("q_id"), col("s"), col("c_label").as("code"),
        graft.functions.Vec.sqDistF(col("qsub"), col("csub"))
          .cast(DecimalType(28, 18)).as("d2c"))
    val w = Window.partitionBy("q_id")
      .orderBy(asc("adc_d"), asc("vec_id"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d2c").as("adc_d"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= AnnTopK)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("adc_d").cast("double"), 6).as("adc"))
  }

  /** Per-subspace K-MEANS-LEARNED PQ codebooks — the DEPLOYMENT form of
    * [[pqCentSubs]] (the executed `simIvfKmeans`/`dedupSemanticKmeans`
    * pattern, round-10 VERDICT next-round #3): same (c_label, s, csub)
    * schema, so [[pqEncodeWith]] / [[pqAdcWith]] consume it unchanged and
    * the PQ contract (what wrote the codes = what the LUT is built
    * against) holds by construction.
    *
    * One JOINT Lloyd loop trains all `PqSubspaces` codebooks: the corpus
    * is sliced once into (vec_id, s, subv) rows (cached across
    * iterations, the `simIvfKmeans` discipline), every iteration assigns
    * each slice SHUFFLE-FREE via a literal-centers HOF argmin indexed by
    * `s`, recomputes means with the house exact-decimal cross-row sums
    * (associative-exact ⇒ the movement sequence and exit iteration are
    * run-independent — the `recenterSums` rationale), and collects
    * only `PqSubspaces`×k×`PqSubDim` (sum, count) cells to the driver. So
    * training costs ONE corpus pass per iteration — not one per subspace.
    *
    * Seeding: the label-mean sub-centroids ([[pqCentSubs]]' values).
    * Lloyd's distortion is monotone non-increasing from any seed, so the
    * learned codebook's total reconstruction error is ≤ the label-mean
    * codebook's BY CONSTRUCTION (VectorOpsSpec pins it measured); on an
    * unlabeled corpus any deterministic seed (first-k scan) drops in —
    * everything downstream is seed-agnostic.
    */
  private[graft] def pqKmeansSubCodebooks(emb: DataFrame,
                                          maxIters: Int = KmeansMaxIters,
                                          tol: Double = KmeansTol): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // AQE scoped off: per-iteration exchanges are (subspaces × k × subdim)-
    // bounded — see graft.functions.Confs (results unaffected)
    val learned = graft.functions.Confs.kBoundedLoop(emb) { emb =>
      import org.apache.spark.sql.functions.posexplode
      import org.apache.spark.sql.types.DecimalType
      // seed: label-mean sub-centroids, collected k×PqSubspaces rows (the
      // codebook is driver-sized by definition — it is the loop's state)
      val seed = pqCentSubs(emb).select(col("s"), col("csub")).collect()
        .groupBy(_.getInt(0))
      var centers: Array[Array[Seq[Double]]] = Array.tabulate(PqSubspaces)(si =>
        seed(si).map(_.getSeq[Double](1)).sortBy(_.toString).toArray.map(identity))
      // deterministic seed order: sort each subspace's centroids by value so
      // cid assignment doesn't depend on collect order
      val subs = emb.select(col("vec_id"),
        posexplode(array((0 until PqSubspaces).map(i =>
          slice(col("embedding"), i * PqSubDim + 1, PqSubDim)): _*))
          .as(Seq("s", "subv"))).cache()
      try {
        // one complex-typed literal per iteration (see centersLit)
        def centersLitBySub(): Column =
          typedLit(centers.toSeq.map(sub => sub.toSeq.zipWithIndex.map { case (c, j) => Center(j, c) }))
        var moved = Double.MaxValue
        var it = 0
        while (it < maxIters && moved > tol) {
          it += 1
          val near = array_min(centroidDists(
            element_at(centersLitBySub(), col("s") + 1), col("subv"), "center", "cid", "cid"))
          val sums = subs
            .select(col("s"), near.getField("cid").as("cid"), posexplode(col("subv")))
            .groupBy("s", "cid", "pos")
            .agg(sum(col("col").cast("double").cast(DecimalType(28, 20)))
              .cast("double").as("sv"), count(lit(1)).as("n"))
            .collect()
          val byKey = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
          val next = centers.zipWithIndex.map { case (sub, si) =>
            sub.zipWithIndex.map { case (old, j) =>
              byKey.get((si, j)) match {
                case Some(rows) =>
                  rows.sortBy(_.getInt(2)).map(r => r.getDouble(3) / r.getLong(4)).toSeq
                case None => old // empty cluster keeps its center
              }
            }
          }
          moved = centers.zip(next).map { case (os, ns) =>
            os.zip(ns).map { case (o, n) =>
              o.zip(n).map { case (a, b) => (a - b) * (a - b) }.sum }.max }.max
          centers = next
        }
        if (moved > tol)
          System.err.println(s"[graft] pq sub-kmeans stopped at the $maxIters-iteration " +
            s"cap with max center movement $moved > $tol")
        centers
      } finally { subs.unpersist(); () }
    }
    learned.zipWithIndex.flatMap { case (sub, si) =>
      sub.zipWithIndex.map { case (c, j) => (j, si, c) }
    }.toSeq.toDF("c_label", "s", "csub")
  }

  /** Deployment twin of `vec_pq`: encode against the k-means-learned
    * codebooks. Spec-covered (VectorOpsSpec: search parity on separable
    * data; reconstruction error ≤ the label-mean form on the real
    * corpus); not oracle-checkable (iterative driver loop, the
    * `simIvfKmeans` contract).
    */
  private[graft] def vecPqKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    pqEncodeWith(emb, pqKmeansSubCodebooks(emb).localCheckpoint(eager = false))
  }

  /** Deployment twin of `vec_pq_adc`: ADC search against the
    * k-means-learned codebooks — same encode, same LUT build, same
    * exact-decimal ranking tail via [[pqAdcWith]].
    */
  private[graft] def vecPqAdcKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    pqAdcWith(emb, pqKmeansSubCodebooks(emb).localCheckpoint(eager = false))
  }

  /** K3d `sim_ivfpq` (round 10): the composed billion-scale ANN stack —
    * IVF coarse pruning (each query probes its `IvfProbes` nearest
    * inverted lists, scoring |probes|/k of the corpus) with PQ ADC
    * scoring inside the probed lists (candidates are scored from their
    * 4 codes against the query's broadcast LUT, never from the raw
    * floats). This is Jégou 2011's IVFADC layout, the structure behind
    * every production vector index (FAISS IVF-PQ); the one simplification
    * is that PQ encodes the raw vector rather than the residual
    * (vector − coarse centroid) — the plumbing is identical, the residual
    * variant swaps one projection in.
    *
    * One corpus scan feeds BOTH index sides: the (vec, subspace, label,
    * d2) distance frame aggregates once per (vec, s) for the PQ codes
    * (struct-min argmin — same construction as `vec_pq`, so codes are
    * law-identical to the encode job's) and once per (vec, label) for the
    * coarse assignment — disjoint subspaces make the full squared
    * distance EXACTLY the sum of the 4 sub-distances (Σ_s ‖v_s−c_s‖² =
    * ‖v−c‖²), summed as DECIMAL(28,18) so the argmin is merge-order free.
    * The scan is repartitioned by vec_id up front, so both aggregations
    * and their re-join reuse ONE exchange. Query-side LUT and probed
    * lists are query-bounded broadcasts; the ADC sum and top-k window are
    * the `vec_pq_adc` tail.
    */
  def simIvfPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{posexplode, broadcast}
    import org.apache.spark.sql.types.DecimalType
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val centSubs = pqCentSubs(emb)
    def sliced(df: DataFrame, idAs: String) = df.select(col("vec_id").as(idAs),
      posexplode(array((0 until PqSubspaces).map(i =>
        slice(col("embedding"), i * PqSubDim + 1, PqSubDim)): _*))
        .as(Seq("s", "subv")))
    val cdd = sliced(corpusOf(emb), "vec_id")
      .repartition(col("vec_id"))
      .join(broadcast(centSubs), "s")
      .withColumn("d2", graft.functions.Vec.sqDistF(col("subv"), col("csub")))
      .withColumn("d2c", col("d2").cast(DecimalType(28, 18)))
    // PQ codes: per-(vec, s) argmin on the raw double (identical to vec_pq)
    val codes = cdd.groupBy("vec_id", "s")
      .agg(min(struct(col("d2"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("s"), col("best").getField("c_label").as("code"))
    // coarse assignment: per-vec argmin of the exact-decimal full distance
    val ilist = cdd.groupBy("vec_id", "c_label").agg(sum("d2c").as("fd"))
      .groupBy("vec_id").agg(min(struct(col("fd"), col("c_label"))).as("bl"))
      .select(col("vec_id"), col("bl").getField("c_label").as("ilist"))
    // query side (bounded): LUT + the IvfProbes nearest lists per query
    val qdd = sliced(queriesOf(emb), "q_id")
      .join(broadcast(centSubs), "s")
      .withColumn("d2c",
        graft.functions.Vec.sqDistF(col("subv"), col("csub")).cast(DecimalType(28, 18)))
    val lut = qdd.select(col("q_id"), col("s"), col("c_label").as("code"), col("d2c"))
    val probes = qdd.groupBy("q_id", "c_label").agg(sum("d2c").as("fd"))
      .withColumn("pr", row_number()
        .over(Window.partitionBy("q_id").orderBy(asc("fd"), asc("c_label"))))
      .filter(col("pr") <= IvfProbes)
      .select(col("q_id"), col("c_label").as("ilist"))
    val w = Window.partitionBy("q_id").orderBy(asc("adc_d"), asc("vec_id"))
    codes.join(ilist, "vec_id")
      .join(broadcast(probes), "ilist")
      .join(broadcast(lut), Seq("q_id", "s", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d2c").as("adc_d"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= AnnTopK)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("adc_d").cast("double"), 6).as("adc"))
      .oracleSorted("q_id", "rn")
  }

  /** K3 `sim_topk`: brute-force cosine top-k of the corpus against a small
    * broadcast query set — the exact baseline an ANN variant is judged
    * against. Corpus scans once; shuffle only for the per-query window over
    * corpus rows (partitioned by q_id, k queries → bounded).
    */
  def simTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = queriesOf(emb)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = corpusOf(emb)
    corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= TopK)
      .oracleSorted("q_id", "rn")
  }

  /** `sim_mrl` prefix width: stage 1 ranks by the cosine of the FIRST
    * `MrlPrefixDims` of `Dim` components — the Matryoshka contract that a
    * nested prefix of the embedding is itself a usable representation
    * (Kusupati 2022). 16 of 64 = a 4× cut in stage-1 FLOPs and scan bytes
    * when the prefix is stored as its own column family.
    */
  val MrlPrefixDims = 16

  /** `sim_mrl` stage-2 depth: exact-rerank candidates kept per query. At
    * C = |corpus| the rerank IS the brute force and recall is exactly 1.0
    * (the VectorOpsSpec law).
    */
  val MrlCandidates = 50

  /** Fixed stage dir of the prefix-column-family mirror `sim_mrl` reads
    * (see [[graft.Staging.stage]]). The mirror is the embeddings table
    * with the `MrlPrefixDims`-float prefix materialized as its OWN parquet
    * column next to the full embedding — parquet stores each column as
    * separate chunks, so stage 1 reads the 16-float family and never
    * touches the 64-float one (the
    * scan-schema assertion in SourcesSpec; footer-measured bytes cut in
    * `mrl_bytes_r14.json`: 3.8× at sf0.1, 4.0× at 100×).
    */
  val MrlStageDir = "/tmp/graft_mrl_prefix"

  /** The staged embeddings mirror with the prefix column family. Float
    * arrays round-trip parquet bit-exactly, so every query over the mirror
    * still hash-gates against an oracle that reads the ORIGINAL table —
    * the match also pins the mirror round trip.
    */
  private[graft] def mrlStaged(s: SparkSession, dir: String): DataFrame = {
    val root = Staging.stage(MrlStageDir, dir, s"mrl1|${Tables.scanTag(s)}", s"$dir/embeddings.parquet") {
      target =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            slice(col("embedding"), 1, MrlPrefixDims).as("prefix"),
            col("embedding"))
          .write.mode("overwrite").parquet(s"$target/embeddings")
    }
    Tables.parquet(s, s"$root/embeddings")
  }

  /** K3g `sim_mrl` (round 13): Matryoshka / truncation two-stage retrieval
    * — the modern production pattern between brute force and a trained
    * index: stage 1 scores EVERY corpus vector by prefix-dim cosine
    * (cheap: `MrlPrefixDims`/`Dim` of the FLOPs — and of the SCAN BYTES:
    * the prefix is staged as its own parquet column family and stage 1's
    * scan schema carries ONLY `(vec_id, prefix)`, asserted in
    * SourcesSpec), keeps the top `MrlCandidates` per query, stage 2
    * reranks just those by full-dim exact cosine. No training, no index
    * build — the accuracy knob is C alone, and recall→1.0 monotonically as
    * C→|corpus| (VectorOpsSpec law; measured recall-vs-C in
    * `annrecall_*.json`).
    *
    * Scale shape: stage 1 is the `sim_topk` broadcast scan reading 16 of
    * 64 floats per row straight off the column family (no slice, no
    * repartition barrier — whole-stage codegen would defer a slice into
    * the nested-loop build loop; a scanned column cannot be re-evaluated);
    * its BNLJ carries the same counted allowance as `sim_topk`
    * (≤`QuerySetSize` broadcast rows). Stage 2 is [[exactRerank]].
    */
  def simMrl(s: SparkSession, dir: String): DataFrame =
    simMrlAt(s, dir, MrlCandidates)

  /** `sim_mrl` at an explicit stage-2 depth `c` (the registered query runs
    * at [[MrlCandidates]]; the exhaustive-C law runs at |corpus|).
    */
  private[graft] def simMrlAt(s: SparkSession, dir: String, c: Long): DataFrame = {
    val emb = mrlStaged(s, dir)
    val qpre = queriesOf(emb)
      .select(col("vec_id").as("q_id"), col("prefix").as("q_pre"))
    val cand = corpusOf(emb)
      .select(col("vec_id"), col("prefix"))
      .crossJoin(broadcast(qpre))
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_pre"), col("prefix")).as("pcos"))
      .withColumn("prn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("pcos"), asc("vec_id"))))
      .filter(col("prn") <= c)
      .select("q_id", "vec_id")
    exactRerank(emb, cand)
  }

  /** Stage 2 of the two-stage retrievers (`sim_mrl`, `sim_hamming`): the
    * C×|queries| (q_id, vec_id) candidates are broadcast onto ONE corpus
    * hash join — the corpus is never rescanned — and reranked by full-dim
    * exact cosine to the top `TopK`.
    */
  private def exactRerank(emb: DataFrame, cand: DataFrame): DataFrame = {
    val q = queriesOf(emb)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    corpusOf(emb)
      .select("vec_id", "embedding")
      .join(broadcast(cand), "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= TopK)
      .oracleSorted("q_id", "rn")
  }

  // ------------------------------------------------------------------
  // K3j sim_hamming: binary quantization + Hamming stage 1 + exact rerank
  // ------------------------------------------------------------------

  /** `sim_hamming` stage-2 depth: exact-rerank candidates kept per query
    * (at C = |corpus| the rerank IS the brute force, rank-identity law in
    * VectorOpsSpec).
    */
  val HamCandidates = 50

  /** Bits per signature word. The `Dim`-bit sign signature is stored as
    * two 32-bit words in BIGINT columns rather than one 64-bit word: bit
    * 63 would fight BIGINT sign on both engines (the PHashRow lesson), and
    * `1 << 31` still fits a long exactly.
    */
  val HamWordBits = 32

  /** Fixed stage dir of the signature column family `sim_hamming` reads
    * (see [[graft.Staging.stage]]). The mirror carries the two signature
    * words as their OWN parquet columns next to the full embedding, so
    * stage 1's scan schema is `(vec_id, bits_lo, bits_hi)` — 2 longs
    * instead of `Dim` floats, a ~16× column-family byte cut
    * (footer-measured in `ham_bytes_r14.json`: 15.1× at sf0.1, 18.6× at
    * 100×; asserted in SourcesSpec).
    */
  val HamStageDir = "/tmp/graft_ham_bits"

  /** The staged embeddings mirror with the sign-signature column family.
    * Signatures are integers and float arrays round-trip parquet
    * bit-exactly, so queries over the mirror hash-gate against an oracle
    * that recomputes the signature from the ORIGINAL table.
    */
  private[graft] def hamStaged(s: SparkSession, dir: String): DataFrame = {
    val root = Staging.stage(HamStageDir, dir, s"ham1|${Tables.scanTag(s)}", s"$dir/embeddings.parquet") {
      target =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            Vec.signBucket(col("embedding"), HamWordBits).as("bits_lo"),
            Vec.signBucket(col("embedding"), HamWordBits, HamWordBits).as("bits_hi"),
            col("embedding"))
          .write.mode("overwrite").parquet(s"$target/embeddings")
    }
    Tables.parquet(s, s"$root/embeddings")
  }

  /** K3j `sim_hamming` (round 14): binary-quantization two-stage retrieval
    * — the cheapest stage-1 representation in the family (1 bit per
    * dimension, the modern "binary embeddings" production pattern): each
    * vector's `Dim` sign bits are packed into two 32-bit signature words,
    * stage 1 ranks the WHOLE corpus per query by Hamming distance (two
    * XOR+popcount instructions per pair — integer-exact, no float fold at
    * all), keeps the top `HamCandidates`, and stage 2 reranks just those
    * by full-dim exact cosine. Like `sim_mrl` there is no training and no
    * index build; the accuracy knob is C alone (recall→1.0 as C→|corpus|
    * — the exhaustive-C rank-identity law in VectorOpsSpec; measured
    * recall-vs-C in `annrecall_*.json`). Sign-bit Hamming estimates the
    * angle (Charikar 2002 SimHash: E[hd/Dim] = θ/π), so the stage-1
    * ordering tracks cosine.
    *
    * Scale shape: stage 1 is the `sim_topk` broadcast scan reading 16 of
    * ~260 bytes per row straight off the signature column family (staged
    * mirror, scan schema asserted `(vec_id, bits_lo, bits_hi)` in
    * SourcesSpec — at 100 TB this is the difference between scanning the
    * corpus and scanning 6% of it); its BNLJ carries the `sim_topk`
    * counted allowance (≤`QuerySetSize` broadcast rows). Stage 2 is
    * [[exactRerank]].
    */
  def simHamming(s: SparkSession, dir: String): DataFrame =
    simHammingAt(s, dir, HamCandidates)

  /** `sim_hamming` at an explicit stage-2 depth `c` (the registered query
    * runs at [[HamCandidates]]; the exhaustive-C law runs at |corpus|).
    */
  private[graft] def simHammingAt(s: SparkSession, dir: String, c: Long): DataFrame = {
    val emb = hamStaged(s, dir)
    val qb = queriesOf(emb)
      .select(col("vec_id").as("q_id"),
        col("bits_lo").as("q_lo"), col("bits_hi").as("q_hi"))
    val cand = corpusOf(emb)
      .select(col("vec_id"), col("bits_lo"), col("bits_hi"))
      .crossJoin(broadcast(qb))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("q_lo").bitwiseXOR(col("bits_lo"))) +
         bit_count(col("q_hi").bitwiseXOR(col("bits_hi")))).as("hd"))
      .withColumn("prn", row_number()
        .over(Window.partitionBy("q_id").orderBy(asc("hd"), asc("vec_id"))))
      .filter(col("prn") <= c)
      .select("q_id", "vec_id")
    exactRerank(emb, cand)
  }

  // ------------------------------------------------------------------
  // K3n sim_hnsw: navigable-small-world graph ANN + bounded beam search
  // ------------------------------------------------------------------

  /** Within-bucket kNN out-degree of the neighbor graph (before
    * symmetrization — the build adds every edge's reverse so a node that
    * is nobody's nearest neighbor is still reachable from its own kNN
    * targets, the standard NSW connectivity repair).
    */
  val HnswM = 6

  /** Diversity-prune candidate pool per node: the `HnswCand` nearest
    * bucketmates feed the occlusion prune (HNSW's `select_neighbors_
    * heuristic` — Malkov & Yashunin 2016 §4, algorithm 4) that picks the
    * final `HnswM`. 3×M is the hnswlib-style construction-pool ratio:
    * wide enough that a duplicate clique (≤M copies) cannot exhaust the
    * pool before a diverse candidate appears, small enough that the
    * pairwise occlusion test stays n·Cand² — linear in the corpus.
    */
  val HnswCand = 3 * HnswM

  /** Target bucket population: the bucket-count exponent grows with the
    * corpus so buckets hold ~this many nodes at any scale (the
    * `dedup_semantic_lsh` linear-scale argument — Σ|bucket|² ≈ n·target,
    * never n²).
    */
  val HnswTargetList = 64L

  /** Bucket-exponent cap (2^34 buckets ≈ 10¹² vectors at the target). */
  val HnswMaxBits = 34

  /** Beam expansion rounds — fixed, so the whole search unrolls into a
    * finite CTE chain the oracle replays exactly.
    */
  val HnswIters = 3

  /** Beam width: unexpanded nodes expanded per round per query. */
  val HnswBeam = 8

  /** Fixed stage dir of the graph column family `sim_hnsw` reads (see
    * [[graft.Staging.stage]]). Two families:
    * `portals` (one row per populated bucket, embedding inline) and
    * `edges` — (src, dst, dst_emb) with the DESTINATION embedding stored
    * inline next to the adjacency pair, the layout a serving-side HNSW
    * keeps (vector adjacent to neighbor list) so expansion + scoring is
    * ONE key-lookup join against the edge family and the corpus embedding
    * column family is never rescanned at query time.
    */
  val HnswStageDir = "/tmp/graft_hnsw_graph"

  /** Bucket-count exponent for a corpus of n vectors: the smallest b ≥ 3
    * with `HnswTargetList`·2^b ≥ n (capped at [[HnswMaxBits]]). Pure
    * integer comparisons, so the oracle's CASE ladder lands on the
    * identical exponent for the identical count.
    */
  private[graft] def hnswBits(n: Long): Int = {
    var b = 3
    while (b < HnswMaxBits && (HnswTargetList << b) < n) b += 1
    b
  }

  /** The corpus-derived exponent the query side uses — read back from the
    * staged `meta` family (round-15 ADVICE: the previous form re-counted
    * the corpus on every `sim_hnsw` invocation, contradicting the
    * "corpus column family is never rescanned at query time" claim; the
    * exponent is index state, so it is persisted WITH the index at build
    * time). One footer-sized parquet read per call.
    */
  private[graft] def hnswCorpusBits(s: SparkSession, dir: String): Int = {
    Tables.parquet(s, s"${stageHnswGraph(s, dir)}/meta")
      .head().getInt(0)
  }

  /** All 1-bit flips of bucket `b` under `bits` — the deterministic
    * "neighboring list" set (Hamming-adjacent sign buckets are the
    * geometrically adjacent half-space cells, the `sim_ann` multi-probe
    * identity), shared by the shortcut build and the query entry fan.
    */
  private def hnswFlips(b: Column, bits: Int): Seq[Column] =
    (0 until bits).map(i => b.bitwiseXOR(lit(1L << i)))

  /** All 2-bit flips (i < j) — the radius-2 ring of the query ENTRY fan
    * only (the graph's shortcut edges stay radius-1): for a near neighbor
    * at angle θ each sign bit flips with probability θ/π, so the
    * expected Hamming distance between a query's bucket and its true
    * neighbors' buckets grows with `bits` — at the 100× staging (13-bit
    * buckets) the radius-1 fan left the beam reachability-starved
    * (recall plateaued at 0.60 regardless of beam, `annrecall_100x_r15`);
    * entering at the ≤2-flip portals covers the bucket ring where most
    * neighbor mass sits at ~bits²/2 extra k-row portal lookups — still
    * corpus-size independent.
    */
  private def hnswFlips2(b: Column, bits: Int): Seq[Column] =
    (for { i <- 0 until bits; j <- (i + 1) until bits }
      yield b.bitwiseXOR(lit((1L << i) | (1L << j))))

  /** Neighbor-diversity (RNG/occlusion) edge selection over a (src,
    * emb_a, dst, emb_b) candidate-pair frame — HNSW's
    * `select_neighbors_heuristic` in its order-free form: rank each
    * src's candidates by cosine; candidate c is OCCLUDED when some
    * higher-ranked candidate s sits closer to c than src does
    * (cos(c, s) > cos(c, src) — s "covers" the direction c lies in).
    * Non-occluded candidates win the `HnswM` slots first (by rank),
    * occluded ones back-fill (hnswlib's keepPrunedConnections), so
    * out-degree stays exactly min(M, pool).
    *
    * This is what kills the duplicate-clique pathology measured at 100×
    * (recall stuck at 0.60 with the beam wandering a cos=1.0 clique —
    * round-15 VERDICT #2): duplicates of an already-ranked neighbor are
    * occluded BY it (cos(c, s) = 1, maximal), so a clique spends ONE edge
    * slot and the remaining M−1 point at genuinely diverse directions.
    * The occlusion test checks ALL higher-ranked candidates (not just the
    * kept ones, HNSW's greedy form): strictly more pruning, and — unlike
    * the greedy — expressible as one rank-qualified equi-self-join both
    * engines replay identically. Cost: pool is the `HnswCand` nearest
    * bucketmates, so the pairwise test is n·Cand² — linear in the corpus.
    * Determinism: shared `Vec.cosineF` folds, ranks tie-break on dst, the
    * fill order is (occluded asc, rank asc) — total.
    */
  private[graft] def diversifiedKnn(pairs: DataFrame): DataFrame = {
    val cand = pairs
      .select(col("src"), col("dst"), col("emb_b"),
        Vec.cosineF(col("emb_a"), col("emb_b")).as("c"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("src").orderBy(desc("c"), asc("dst"))))
      .filter(col("rn") <= HnswCand)
      .localCheckpoint(eager = false) // self-joined for the occlusion test
    val occl = cand
      .join(cand.select(col("src"), col("emb_b").as("emb_s"), col("rn").as("rn_s")), "src")
      .filter(col("rn_s") < col("rn"))
      .select(col("src"), col("dst"),
        (Vec.cosineF(col("emb_b"), col("emb_s")) > col("c")).as("o"))
      .groupBy("src", "dst").agg(max(col("o")).as("occ"))
    cand.join(occl, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rn"),
        coalesce(col("occ"), lit(false)).cast("int").as("occ"))
      .withColumn("dr", row_number()
        .over(Window.partitionBy("src").orderBy(asc("occ"), asc("rn"))))
      .filter(col("dr") <= HnswM)
      .select("src", "dst")
  }

  private def stageHnswGraph(s: SparkSession, dir: String): String =
    // the build constants are part of the tag: a constant change must
    // re-stage, not silently reuse the old family
    Staging.stage(HnswStageDir, dir, s"hnsw5|M=$HnswM|C=$HnswCand",
        s"$dir/embeddings.parquet") { target =>
      val bits = hnswBits(
        corpusOf(Tables.embeddings(s, dir)).count())
      // the bucket exponent is part of the index: persisted with the
      // families so the query side reads it back instead of re-counting
      // the corpus on every invocation (round-15 ADVICE — the count was
      // a full filtered scan per sim_hnsw call)
      import s.implicits._
      Seq(bits).toDF("bits").coalesce(1)
        .write.mode("overwrite").parquet(s"$target/meta")
      // corpus nodes with their sign bucket — multi-consumer (kNN
      // self-join both sides, portal argmin, shortcut fan, dst_emb
      // join): cut so the scan runs once
      val nodes = corpusOf(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"),
          Vec.signBucket(col("embedding"), bits).as("b"))
        .localCheckpoint(eager = false)
      // bucketed-corpus family: the serving layout (vectors keyed by
      // their bucket) the query-time own-bucket entry scan key-joins
      // against — see simHnsw (round 16)
      nodes.select("b", "vec_id", "embedding")
        .sort("b").write.mode("overwrite").parquet(s"$target/buckets")
      // portal per populated bucket: its min-vec_id node (an arbitrary
      // but deterministic hub — HNSW's own top-layer entry is the
      // first-inserted node, equally arbitrary)
      val portals = nodes.groupBy("b").agg(min(col("vec_id")).as("vec_id"))
        .join(nodes.select(col("vec_id"), col("embedding")), "vec_id")
        .select("b", "vec_id", "embedding")
        .localCheckpoint(eager = false)
      portals.write.mode("overwrite").parquet(s"$target/portals")
      // within-bucket kNN by cosine: candidate mass Σ|bucket|² ≈
      // n·HnswTargetList — linear, never all-pairs (the dedup_embed
      // bucketing discipline applied to graph build)
      val knn = diversifiedKnn(nodes
        .select(col("b"), col("vec_id").as("src"), col("embedding").as("emb_a"))
        .join(nodes.select(col("b"), col("vec_id").as("dst"),
          col("embedding").as("emb_b")), "b")
        .filter(col("src") =!= col("dst")))
      // long-range shortcuts: node → portal of each 1-bit-flip bucket
      // (existing buckets only; `bits` ≈ log n edges per node — the
      // HNSW logarithmic-degree shape)
      val shortcuts = nodes
        .select(col("vec_id").as("src"),
          explode(array(hnswFlips(col("b"), bits): _*)).as("fb"))
        .join(portals.select(col("b").as("fb"), col("vec_id").as("dst")), "fb")
        .select("src", "dst")
      // hub spokes: every bucket member ↔ its portal (degree bounded
      // by the bucket target). kNN alone fragments duplicate-heavy
      // buckets into cos=1.0 cliques disconnected from the portal —
      // the classic NSW pathology HNSW's neighbor-diversity heuristic
      // exists for; the hub guarantees intra-bucket connectivity, so
      // any node in an entered bucket is ≤2 hops from its portal
      // (measured: exhaustive-beam recall at 100× was stuck at 0.60
      // visiting 61% of the corpus before the hub; see BASELINE)
      val hub = nodes
        .join(portals.select(col("b"), col("vec_id").as("dst")), "b")
        .filter(col("vec_id") =!= col("dst"))
        .select(col("vec_id").as("src"), col("dst"))
      knn.union(knn.select(col("dst").as("src"), col("src").as("dst")))
        .union(hub)
        .union(hub.select(col("dst").as("src"), col("src").as("dst")))
        .union(shortcuts)
        .distinct()
        .join(nodes.select(col("vec_id").as("dst"),
          col("embedding").as("dst_emb")), "dst")
        .select("src", "dst", "dst_emb")
        .write.mode("overwrite").parquet(s"$target/edges")
    }

  /** The staged graph families (edges, portals). */
  private[graft] def hnswStaged(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val root = stageHnswGraph(s, dir)
    (Tables.parquet(s, s"$root/edges"), Tables.parquet(s, s"$root/portals"))
  }

  /** The staged bucketed-corpus family (b, vec_id, embedding) — the
    * serving layout the own-bucket entry scan key-joins against.
    */
  private[graft] def hnswBuckets(s: SparkSession, dir: String): DataFrame = {
    Tables.parquet(s, s"${stageHnswGraph(s, dir)}/buckets")
  }

  /** K3n `sim_hnsw` (round 15): graph-based ANN — the NSW/HNSW family
    * (Malkov & Yashunin 2016), the serving-side default index
    * (hnswlib, Lucene, pgvector) and the one ANN class missing next to
    * LSH/IVF/PQ/MRL/Hamming (round-14 VERDICT #1). The index is a staged
    * NAVIGABLE NEIGHBOR GRAPH over sign-LSH buckets whose count grows
    * with the corpus ([[hnswBits]]): within-bucket kNN edges (cosine,
    * degree `HnswM`, selected through the occlusion/diversity prune —
    * [[diversifiedKnn]], round 16 — and symmetrized for reachability) plus long-range
    * shortcuts to the portals (min-vec_id hubs) of each node's 1-bit-flip
    * buckets (~log n per node — the HNSW logarithmic-degree shape; a
    * flipped sign bucket is the geometrically adjacent half-space cell,
    * the `sim_ann` multi-probe identity). A query enters at the portals
    * of its own bucket and its Hamming-≤2 flips (see [[hnswFlips2]] for
    * why radius 2) PLUS a pre-expanded scan of its own bucket's members
    * (round 16 — see the rationale at the scan site below),
    * then runs `HnswIters` rounds of bounded beam search: each round expands the `HnswBeam` best
    * not-yet-expanded nodes, scores their neighbors by exact full-dim
    * cosine, and folds them into the visited set; the answer is the
    * cosine top-`AnnTopK` of everything visited. Determinism: every float
    * is the shared `Vec.cosineF` fold, buckets/flips/portals are pure
    * integer functions, every tie breaks on vec_id, and the expansion
    * count is fixed — so the oracle replays the ENTIRE search (graph
    * build + every beam round) as chained CTEs and the result hash-gates.
    *
    * Scale shape: the build is bucketed (within-bucket self-join at
    * corpus-adaptive granularity — candidate mass Σ|bucket|² ≈
    * n·`HnswTargetList`, LINEAR, where a fixed-k within-list kNN would be
    * n²/k) and runs ONCE into the immutable staged family; at query time
    * per-query work is `HnswIters × HnswBeam` key-lookup joins against
    * the edge family (destination embeddings inline — the corpus
    * embedding column family is NEVER rescanned), each frontier a
    * broadcast of ≤ queries × beam rows. Unlike IVF's probe-a-fraction
    * scan, the touched-row count is independent of corpus size — the
    * property that makes graph indexes the high-recall/low-latency
    * serving choice.
    *
    * Hard-geometry recall bound (round-17 iters×beam ladder,
    * `annrecall_1x_r17.json` — round-16 VERDICT #6 asked whether the
    * 3-round cap or the graph binds the 1× random-geometry beam-8
    * recall): iters 3/5/8 at beam 8 all read recall 0.456 with the
    * visited set nearly frozen (28.9k → 29.5k → 30.2k scored pairs) —
    * the frontier exhausts its reachable neighborhood, so extra rounds
    * are NOT the lever; beam 32 moves 0.752 → 0.776 across the same
    * ladder, inside the ±0.053 binomial band. The binding constraint is
    * greedy-search reachability on unclustered geometry (the classic NSW
    * local-optimum); the known fix is a multi-layer (hierarchical) entry
    * graph, not more rounds — the default stays [[HnswIters]] = 3, which
    * the measurement shows loses nothing.
    */
  def simHnsw(s: SparkSession, dir: String): DataFrame = {
    val (edges, portals) = hnswStaged(s, dir)
    val buckets = hnswBuckets(s, dir)
    val bits = hnswCorpusBits(s, dir)
    val q = queriesOf(Tables.embeddings(s, dir))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        Vec.signBucket(col("embedding"), bits).as("b"))
      .localCheckpoint(eager = false) // re-joined every scoring round
    // entry fan: the query's own bucket plus its Hamming-≤2 flips — their
    // portals seed the search (broadcast the tiny query fan onto the
    // portal family scan)
    val qf = q.select(col("q_id"), col("q_emb"),
      explode(array(col("b") +: (hnswFlips(col("b"), bits) ++
        hnswFlips2(col("b"), bits)): _*)).as("eb"))
    val fan = portals
      .select(col("b").as("eb"), col("vec_id"), col("embedding"))
      .join(broadcast(qf), "eb")
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_emb"), col("embedding")).as("cos"),
        lit(false).as("ex"))
    // own-bucket entry scan (round 16): score every member of the query's
    // OWN bucket at entry, PRE-EXPANDED — scored candidates that never
    // spend a beam slot. Measured on the 100× staging (duplicate-replica
    // corpus): the true neighbors sit in the query's own bucket, but the
    // bucket PORTAL is the min-vec_id member — an unrelated direction
    // whose cosine never wins a low-beam slot, so beam 8 plateaued at
    // 0.60 while beam 32 (which expands every entry) hit 1.0. Scanning
    // the bucket directly decouples recall-of-own-bucket from beam width;
    // marking the rows expanded keeps them from crowding out the portal
    // fan in the expansion ranking (measured: entering them expandable
    // CUT sf0.1 recall 0.80 → 0.20 at beam 32 — expansion budget drained
    // on intra-bucket edges). Cost: ≈`HnswTargetList` rows per query —
    // the ladder pins bucket population, so this is corpus-size
    // independent like the rest of the search; the `buckets` family is
    // the staged serving layout, key-joined on b, corpus never rescanned.
    val own = buckets
      .join(broadcast(q.select(col("q_id"), col("q_emb"), col("b"))), "b")
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_emb"), col("embedding")).as("cos"),
        lit(true).as("ex"))
    val beam = HnswBeam.toLong
    // a member can also be a fan portal: fold duplicates, expanded wins
    var v = fan.union(own)
      .groupBy("q_id", "vec_id")
      .agg(max(col("cos")).as("cos"), max(col("ex")).as("ex"))
    for (_ <- 1 to HnswIters) {
      // rank UNEXPANDED nodes per query; the top `beam` expand this round
      // and flip to expanded — each node expands at most once (the HNSW
      // visited-set discipline), so no edge is fetched twice for a query
      val x = v.withColumn("r", row_number()
          .over(Window.partitionBy("q_id", "ex").orderBy(desc("cos"), asc("vec_id"))))
        .localCheckpoint(eager = false) // two consumers: frontier + carry
      val fr = x.filter(!col("ex") && col("r") <= beam)
        .select(col("q_id"), col("vec_id").as("src"))
      val scored = edges.join(broadcast(fr), "src")
        .select(col("q_id"), col("dst").as("vec_id"), col("dst_emb"))
        .distinct()
        .join(broadcast(q.select(col("q_id"), col("q_emb"))), "q_id")
        .select(col("q_id"), col("vec_id"),
          Vec.cosineF(col("q_emb"), col("dst_emb")).as("cos"),
          lit(false).as("ex"))
      val carried = x.select(col("q_id"), col("vec_id"), col("cos"),
        (col("ex") || col("r") <= beam).as("ex"))
      v = carried.union(scored)
        .groupBy("q_id", "vec_id")
        .agg(max(col("cos")).as("cos"), max(col("ex")).as("ex"))
    }
    v.select("q_id", "vec_id", "cos")
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= AnnTopK)
      .oracleSorted("q_id", "rn")
  }

  /** K3n′ `sim_hnsw_incremental` (round 15): graph-index maintenance — the
    * K3h (`sim_ivf_incremental`) discipline applied to the NSW graph,
    * because a serving index that must be REBUILT for every ingest batch
    * is not an index at 100 TB. The arriving batch is the shared
    * `vec_id % IvfIncBatchMod = 0` corpus slice; the op emits exactly the
    * EDGES the insert appends: each batch node's within-bucket cosine kNN
    * over its bucketmates (base ∪ batch — cost ∝ |batch| × bucket, the
    * base is never self-joined), the REVERSE of those (the in-links that
    * make the new node findable — real HNSW insertion appends these
    * back-edges to existing nodes' lists), and 1-bit-flip shortcuts to
    * the MERGED portal table (base portals pinned; a batch node opening a
    * fresh bucket becomes its portal). The bucket exponent stays pinned
    * to the BASE corpus count — growing past the ladder step is the
    * re-index trigger, exactly like an IVF list-count change.
    *
    * Output is the inserted edge set — integers plus a batch-src flag —
    * so the oracle replays the whole insert (ladder, buckets, portals,
    * kNN ranks, flips) and the result hash-gates; note the insert needs
    * NO base kNN edges at all (it is a function of base buckets/portals
    * and the batch alone), which is what makes ingest batch-proportional.
    * Laws (VectorOpsSpec): disjoint from and consistent with the full
    * rebuild's bucket geometry; every batch node reachable (has in-edges);
    * asymmetry — candidate mass is batch×bucket, never base×base.
    */
  def simHnswIncremental(s: SparkSession, dir: String): DataFrame = {
    val (inserted, _, _) = hnswIncParts(s, dir)
    inserted
      .select(col("src"), col("dst"),
        (pmod(col("src"), lit(IvfIncBatchMod)) === 0).cast("int").as("src_is_batch"))
      .oracleSorted("src", "dst")
  }

  /** The (inserted edges, base-bucketed nodes, batch-bucketed nodes)
    * triple — split out so the VectorOpsSpec laws can probe the pieces.
    */
  private[graft] def hnswIncParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val corpus = corpusOf(Tables.embeddings(s, dir))
    val base = corpus.filter(pmod(col("vec_id"), lit(IvfIncBatchMod)) =!= 0)
    val batch = corpus.filter(pmod(col("vec_id"), lit(IvfIncBatchMod)) === 0)
    val bits = hnswBits(base.count())
    def bucketed(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("embedding"),
        Vec.signBucket(col("embedding"), bits).as("b"))
      .localCheckpoint(eager = false)
    val bb = bucketed(base)
    val nb = bucketed(batch)
    val basePortals = bb.groupBy("b").agg(min(col("vec_id")).as("vec_id"))
    val newPortals = nb.join(basePortals.select("b"), Seq("b"), "left_anti")
      .groupBy("b").agg(min(col("vec_id")).as("vec_id"))
    val portals = basePortals.union(newPortals)
    val mates = bb.select(col("b"), col("vec_id").as("dst"), col("embedding").as("emb_b"))
      .union(nb.select(col("b"), col("vec_id").as("dst"), col("embedding").as("emb_b")))
    // the insert's kNN runs through the SAME diversity prune as the full
    // build (a batch node whose bucket is a duplicate clique must not
    // spend all M slots on it either)
    val knn = diversifiedKnn(
      nb.select(col("b"), col("vec_id").as("src"), col("embedding").as("emb_a"))
        .join(mates, "b")
        .filter(col("src") =!= col("dst")))
    val shortcuts = nb
      .select(col("vec_id").as("src"),
        explode(array(hnswFlips(col("b"), bits): _*)).as("fb"))
      .join(portals.select(col("b").as("fb"), col("vec_id").as("dst")), "fb")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
    // hub spokes to the merged portal table — the build's intra-bucket
    // connectivity guarantee carried through the insert
    val hub = nb
      .join(portals.select(col("b"), col("vec_id").as("dst")), "b")
      .filter(col("vec_id") =!= col("dst"))
      .select(col("vec_id").as("src"), col("dst"))
    val inserted = knn
      .union(knn.select(col("dst").as("src"), col("src").as("dst")))
      .union(hub)
      .union(hub.select(col("dst").as("src"), col("src").as("dst")))
      .union(shortcuts)
      .distinct()
    (inserted, bb, nb)
  }

  // ------------------------------------------------------------------
  // K3k sim_mmr: maximal-marginal-relevance diversified retrieval
  // ------------------------------------------------------------------

  /** MMR pool: stage-1 exact top-C candidates the greedy reranker picks
    * from, and the picks per query. λ = 1/2 exactly (relevance and
    * diversity weighted equally): halving is an exact IEEE operation, so
    * both engines' scores are bitwise functions of the shared cosines.
    */
  val MmrCandidates = 20
  val MmrK = 10
  val MmrLambda = 0.5

  /** Per-query greedy MMR selection over the (relevance, pairwise-sim)
    * pools — group size is C + C² rows, bounded by `MmrCandidates`, never
    * corpus-sized. Pick 1 = argmax relevance; pick j = argmax
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), ties by vec_id asc.
    * The doubles come IN from the shared `Vec.cosineF` columns and the
    * score arithmetic is two exact halvings and a subtract, so the oracle
    * (which unrolls the same greedy as chained CTEs over the same
    * cosines) reproduces every comparison bitwise.
    */
  private def mmrSelect(qId: Long,
                        rel: Map[Long, Double],
                        sim: Map[(Long, Long), Double]): Seq[(Long, Int, Long)] = {
    val first = rel.toSeq.maxBy { case (v, r) => (r, -v) }._1
    val picks = scala.collection.mutable.ArrayBuffer(first)
    while (picks.length < MmrK && picks.length < rel.size) {
      val next = rel.keysIterator.filterNot(picks.contains).map { d =>
        val msim = picks.iterator.map(p => sim((d, p))).max
        (d, MmrLambda * rel(d) - (1 - MmrLambda) * msim)
      }.maxBy { case (v, s) => (s, -v) }._1
      picks += next
    }
    picks.toSeq.zipWithIndex.map { case (v, i) => (qId, i + 1, v) }
  }

  /** K3k `sim_mmr` (round 14): maximal-marginal-relevance diversified
    * top-k (Carbonell & Goldstein 1998) — the rerank RAG runs when the
    * top-k must COVER the query's facets instead of repeating its nearest
    * cluster: stage 1 takes the exact cosine top-`MmrCandidates` per
    * query (the `sim_topk` scan), stage 2 greedily picks `MmrK` of them,
    * each pick maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * picked. Output is (q_id, rank, vec_id) — integers only; the floats
    * live inside the shared cosine folds.
    *
    * Scale shape: stage 1 is the counted `sim_topk` BNLJ (≤`QuerySetSize`
    * broadcast rows); the pairwise-sim pool is an EQUI self-join of the
    * C-row candidate frame on q_id (C² rows per query, bounded by conf,
    * never corpus-sized); the greedy runs per query group in
    * `flatMapGroups` (the StatefulOps typed-surface discipline) over
    * those ≤C+C² rows. The oracle unrolls the same greedy as `MmrK`
    * chained CTEs (the `vocab_bpe` trajectory-replay discipline), so the
    * full selection ORDER hash-gates, not just the set.
    */
  def simMmr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = queriesOf(emb)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = corpusOf(emb)
    val cand = corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_emb"), col("embedding")).as("rel"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("rel"), asc("vec_id"))))
      .filter(col("rn") <= MmrCandidates)
      .select("q_id", "vec_id", "rel")
      // multi-consumer intermediate (both sides of the pairwise self-join):
      // the cut keeps the counted stage-1 BNLJ a SINGLE plan node and the
      // corpus scan a single pass, instead of re-executing per consumer
      .localCheckpoint(eager = false)
    val withEmb = cand.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    // self-pairs (a = b) stay IN the frame so every candidate seeds its
    // query's group even when the stage-1 pool is degenerate (round-14
    // ADVICE: the old a <> b filter silently dropped a single-candidate
    // query instead of emitting its one pick); the greedy reads relevance
    // off every row and pairwise sims off the a <> b rows only
    val pairs = withEmb.select(col("q_id"), col("vec_id").as("a"),
        col("rel"), col("embedding").as("emb_a"))
      .join(withEmb.select(col("q_id"), col("vec_id").as("b"),
        col("embedding").as("emb_b")), "q_id")
      .select(col("q_id"), col("a"), col("rel"), col("b"),
        Vec.cosineF(col("emb_a"), col("emb_b")).as("sim"))
      .as[(Long, Long, Double, Long, Double)]
    pairs.groupByKey(_._1)
      .flatMapGroups { (qId, it) =>
        val rows = it.toSeq
        val rel = rows.map(r => r._2 -> r._3).toMap
        val sim = rows.filter(r => r._2 != r._4).map(r => (r._2, r._4) -> r._5).toMap
        mmrSelect(qId, rel, sim).iterator
      }
      .toDF("q_id", "rn", "vec_id")
      .select(col("q_id"), col("rn").cast("int").as("rn"), col("vec_id"))
      .oracleSorted("q_id", "rn")
  }

  // ------------------------------------------------------------------
  // K8′ sample_fps: farthest-point-sampling coreset selection
  // ------------------------------------------------------------------

  /** Coreset size picked by farthest-point sampling. */
  val FpsK = 10

  /** K8′ `sample_fps` (round 14): greedy k-center / farthest-point
    * sampling (Gonzalez 1985; the coreset selector deep-learning data
    * selection builds on, Sener & Savarese 2018) — the DIVERSITY sampler
    * next to the rate-based family (K8/K12/K23): seed with the lowest
    * vec_id, then repeatedly pick the point FARTHEST from its nearest
    * already-picked center (maximin). The picked maximin d2 sequence is
    * exactly the evolving covering radius — non-increasing by
    * construction (the law in VectorOpsSpec), and the selection is a
    * 2-approximation of the optimal k-center cover (Gonzalez's theorem).
    *
    * Execution is the `kmeans_clusters` driver-loop discipline: centers
    * live on the driver (k × Dim floats — only ONE row crosses per step),
    * each step is one broadcast-free narrow scan computing
    * least(d²(x, c₁), …, d²(x, c_j)) over the cached corpus plus a
    * TakeOrdered(1) by (d2 desc, vec_id) — no shuffle anywhere; total
    * arithmetic O(k²·n·Dim) with k fixed. Ties break on vec_id, d² folds
    * are the shared `Vec.sqDistF` kernel, and `least` is min (association-
    * free), so the oracle — the same greedy unrolled as chained
    * MATERIALIZED CTEs (the `sim_mmr` discipline) — reproduces the pick
    * TRAJECTORY bitwise, including each step's covering radius.
    */
  def sampleFps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")).cache()
    try {
      def litVec(v: Seq[Float]): Column = array(v.map(lit): _*)
      val seed = emb.orderBy(asc("vec_id")).limit(1).collect().head
      var centers = Vector(seed.getSeq[Float](1))
      var picks = Vector((1, seed.getLong(0), 0.0))
      while (picks.length < FpsK) {
        val mindist = centers
          .map(c => Vec.sqDistF(col("embedding"), litVec(c)))
          .reduce(least(_, _))
        val top = emb.filter(!col("vec_id").isin(picks.map(_._2): _*))
          .select(col("vec_id"), mindist.as("md"), col("embedding"))
          .orderBy(desc("md"), asc("vec_id")).limit(1).collect().head
        picks :+= ((picks.length + 1, top.getLong(0), top.getDouble(1)))
        centers :+= top.getSeq[Float](2)
      }
      picks.toDF("rn", "vec_id", "d2").oracleSorted("rn")
    } finally { emb.unpersist(); () }
  }

  /** `sim_ivf_incremental` batch split: vec_id ≡ 0 (mod this) is the
    * ARRIVING batch; the rest is the already-indexed base.
    */
  val IvfIncBatchMod = 10L

  /** K3h `sim_ivf_incremental` (round 14): IVF index maintenance WITHOUT
    * a rebuild — the `dedup_incremental`/`matview_delta` discipline
    * applied to the vector index. The index state is self-maintainable:
    * per (list, dimension), an exact-decimal component SUM plus the
    * member count. An arriving embedding batch (1) assigns each vector to
    * its nearest EXISTING centroid (L2, deterministic (d2, list) tiebreak
    * — the k-row centroid table broadcasts to the batch), (2) folds the
    * batch into per-(list, dim) (Σ, n) DELTAS, and (3) merges delta into
    * state by pure decimal addition — the base corpus VECTORS are never
    * rescanned; only the k×Dim state table and the batch move.
    *
    * Exactness (the M9 refresh law, ported): component sums go through
    * DECIMAL(28,20) (the `labelMeanCentroids` discipline), so
    * state + delta ≡ a full rebuild over the merged corpus BIT-FOR-BIT —
    * VectorOpsSpec asserts the equality; the DuckDB oracle replays
    * assignment and merge cell-for-cell. Output: the updated index state
    * (list, dim, base count, added count, new centroid component) —
    * k×Dim rows at ANY corpus scale.
    */
  /** `sim_ivf_incremental` state quantum: components are summed in
    * integer units of 10⁻¹². Why integers and not the `labelMeanCentroids`
    * DECIMAL(28,20) discipline: the state is the OUTPUT here, and a
    * >17-significant-digit decimal cannot cross the hash gate — the two
    * engines' decimal→double conversions disagree in the last ulp for
    * some values (measured in round 14: −0.00757498271349403 5 vs 6).
    * The quantization itself is exact cross-engine: a float component ×
    * 10¹² is an EXACT double product (24-bit mantissa × 5¹² fits 53
    * bits), both engines round half-away-from-zero, and int64→double for
    * the centroid build is uniquely defined IEEE. BIGINT headroom: |sum|
    * ≤ n·max|v|·10¹² — at the 100× staging (~45k members/cell, |v| ≤ ~5)
    * that is ~2×10¹⁷ of 9.2×10¹⁸.
    */
  val IvfIncUnit = 1000000000000L

  private def ivfIncUnits(c: Column): Column =
    round(c.cast("double") * lit(IvfIncUnit.toDouble)).cast("long")

  def simIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val (state, assigned) = ivfIncParts(s, dir)
    val delta = assigned
      .select(col("c_list").as("list_id"), posexplode(col("embedding")))
      .groupBy("list_id", "pos")
      .agg(sum(ivfIncUnits(col("col"))).as("dusum"), count(lit(1)).as("n_add"))
    state.join(delta, Seq("list_id", "pos"), "left_outer")
      .select(col("list_id"), col("pos"), col("n_base"),
        coalesce(col("n_add"), lit(0L)).as("n_add"),
        (col("usum") + coalesce(col("dusum"), lit(0L))).as("usum"))
      .oracleSorted("list_id", "pos")
  }

  /** The (index state, assigned batch) pair of `sim_ivf_incremental` —
    * split out so the VectorOpsSpec refresh law can rebuild per-list
    * sums over the merged membership through an INDEPENDENT aggregation
    * tree and compare exactly.
    */
  private[graft] def ivfIncParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(pmod(col("vec_id"), lit(IvfIncBatchMod)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(IvfIncBatchMod)) === 0)
    // index state — cut: it feeds the centroid build AND the final merge
    val state = base
      .select(col("label").as("list_id"), posexplode(col("embedding")))
      .groupBy("list_id", "pos")
      .agg(sum(ivfIncUnits(col("col"))).as("usum"), count(lit(1)).as("n_base"))
      .localCheckpoint(eager = false)
    val cent = state
      .select(col("list_id").as("c_list"), col("pos"),
        (col("usum").cast("double") / lit(IvfIncUnit.toDouble) / col("n_base"))
          .as("comp"))
      .groupBy("c_list")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cvec"))
    val assigned = batch
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("c_list"),
        Vec.sqDistF(col("embedding"), col("cvec")).as("d2"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("vec_id").orderBy(asc("d2"), asc("c_list"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("c_list"))
    (state, assigned)
  }

  /** K3b `sim_ann`: LSH-bucketed approximate nearest neighbours — queries
    * join the corpus only within their probed sign-bit buckets, so each
    * query scores ~|probes|·|corpus| / 2^bits candidates instead of
    * |corpus|. MULTI-PROBE (round-3): each query probes its own bucket plus
    * the 8 one-bit-flip neighbours — the bits most likely to have flipped
    * for a true neighbour are exactly these, so 9/256 of the bucket space
    * recovers most of the recall a single probe loses (measured against
    * `sim_topk`, the exact baseline, in VectorOpsSpec; recall < 1 remains
    * by design). The probe fan-out multiplies only the tiny broadcast query
    * side (k×9 rows), never the corpus.
    */
  def simAnn(s: SparkSession, dir: String): DataFrame =
    simAnnAt(s, dir, AnnProbeMasks)

  /** `sim_ann` over an explicit probe-mask set (the registered query
    * probes [[AnnProbeMasks]]; the wider-radius recall law passes
    * `probeMasks(2)`).
    */
  private[graft] def simAnnAt(s: SparkSession, dir: String, masks: Seq[Long]): DataFrame = {
    val bucketed = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        Vec.signBucket(col("embedding"), AnnBits).as("bucket"))
    val q = queriesOf(bucketed)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"),
        explode(array(masks.map(lit): _*)).as("mask"))
      .select(col("q_id"), col("q_emb"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    corpusOf(bucketed).join(broadcast(q), "bucket")
      .select(col("q_id"), col("vec_id"),
        Vec.cosineF(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= AnnTopK)
      .oracleSorted("q_id", "rn")
  }

  /** K3e `sim_mips` (round 11): maximum-inner-product top-k — the ranking
    * semantic of recommender / two-tower-retrieval serving (user·item
    * DOT product, not cosine: the item norm is signal — popularity /
    * confidence — not noise to normalize away; a cosine index silently
    * mis-ranks a MIPS workload). Same exact brute-force shape as
    * `sim_topk` (broadcast query set, corpus streams past once, scored
    * with the codegen'd `Vec.dotF` kernel whose sequential float64
    * fold the oracle mirrors term for term), per-query top-k window.
    *
    * The scale path is the norm-augmentation reduction (Shrivastava &
    * Li 2014): append sqrt(M² − ‖x‖²) to each corpus vector and 0 to
    * each query (M = max corpus norm) — augmented squared-L2 distance
    * = ‖q‖² + M² − 2·q·x, so argmin-L2 over the augmentation IS
    * argmax-dot, and every L2 index in the engine (K3b LSH / K3c IVF /
    * K3d IVF-PQ) serves MIPS unchanged. VectorOpsSpec executes that
    * identity on the real corpus (rank-for-rank equality of the dot
    * ranking and the augmented-distance ranking), so the reduction is
    * a proven property, not prose.
    */
  def simMips(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = queriesOf(emb)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = corpusOf(emb)
    corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        Vec.dotF(col("q_emb"), col("embedding")).as("dot"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("dot"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= TopK)
      .oracleSorted("q_id", "rn")
  }

  /** K3e′ `sim_mips_ivf` (round 12): MIPS served from the IVF index — the
    * REGISTERED scale path of `sim_mips` (round-11 verdict: the reduction
    * existed only as a spec property; a user asking "MIPS at scale" got a
    * law, not a query). The Shrivastava-Li norm augmentation is executed
    * end-to-end: every corpus vector is extended with sqrt(M² − ‖x‖²)
    * (M = max corpus norm, one scalar agg broadcast back), every query
    * with 0, the IVF coarse structure (exact-decimal label-mean centroids,
    * list assignment, probing) is built in that (Dim+1)-dim augmented L2
    * space — where nearest-by-L2 IS highest-dot — and candidates are
    * scored by the RAW dot product on the original vectors (the identity
    * ‖aug(q)−aug(x)‖² = ‖q‖²+M²−2·q·x makes the two rankings equal, so
    * scoring with the cheaper Dim-dim dot changes nothing and keeps the
    * output column the same `dot` a MIPS consumer expects).
    *
    * Scale shape: identical to `sim_ivf` — augmentation is a stateless
    * per-row projection (the M² scalar broadcasts), assignment is
    * shuffle-free against the broadcast centroid row, search is a
    * broadcast equi-join on the probed list id. Recall vs the exact
    * `sim_mips` ground truth per probe count: `annrecall_*.json`
    * (BASELINE.md ANN table).
    */
  def simMipsIvf(s: SparkSession, dir: String): DataFrame =
    simMipsIvfAt(s, dir, IvfProbes)

  /** `sim_mips_ivf` probing `nProbes` lists per query (the registered
    * query probes [[IvfProbes]]; the exhaustive law probes all 10).
    */
  private[graft] def simMipsIvfAt(s: SparkSession, dir: String, nProbes: Int): DataFrame =
    mipsIvfCandidates(Tables.embeddings(s, dir), nProbes)
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("dot"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= AnnTopK)
      .oracleSorted("q_id", "rn")

  /** Scored-candidate frame of `sim_mips_ivf` (pre-rank): the original
    * `embedding` plus the (Dim+1)-dim norm-augmented `ix_emb` the IVF
    * structure indexes. Centroids are the exact-decimal label means of the
    * AUGMENTED vectors (the oracle mirrors the (Dim+1)-dim cell/comp/cent
    * CTEs).
    */
  private[graft] def mipsIvfCandidates(emb: DataFrame, nProbes: Int): DataFrame = {
    import graft.functions.ScalarAttach._
    val m2row = corpusOf(emb)
      .agg(max(Vec.dotF(col("embedding"), col("embedding"))).as("m2"))
    val aug = emb.attachScalarRow(m2row).select(
      col("vec_id"), col("label"), col("embedding"),
      concat(col("embedding"), array(
        when(col("vec_id") < QuerySetSize.toLong, lit(0.0f))
          .otherwise(sqrt(col("m2") -
            Vec.dotF(col("embedding"), col("embedding"))).cast("float"))))
        .as("ix_emb"))
    val cent = labelMeanCentroids(aug.select(col("label"), col("ix_emb").as("embedding")))
    ivfCandidatesBy(aug, cent, (q, x) => Vec.dotF(q, x), "dot", nProbes)
  }

  /** K3c `sim_ivf`: IVF (inverted-file) ANN — the second classic coarse
    * index besides LSH. Structure: (1) k centroids; (2) every corpus vector
    * joins the inverted list of its nearest centroid; (3) each query probes
    * its `IvfProbes` nearest lists and scores only those candidates —
    * |probes|/k of the corpus per query instead of all of it.
    *
    * Centroids here are per-label mean vectors rather than k-means-learned
    * ones so the whole operator is oracle-checkable (kmeans' iterative
    * driver loop is not SQL-expressible; at deployment the centroids would
    * come from `kmeans_clusters` and everything downstream is unchanged).
    * Means use exact decimal cross-row sums (posexplode → partial-agg
    * sum(DECIMAL(28,20)) → double), so they are bitwise-identical for any
    * partition count / merge order — the same associativity argument as
    * `Num` — and reproducible by DuckDB.
    *
    * Scale shapes: centroid build is one partial-aggregated shuffle of
    * (label, pos) cells; assignment is SHUFFLE-FREE — the k×dim centroid
    * table is collapsed to a single array row, broadcast, and the argmin
    * runs per-row as a HOF fold; search is a broadcast equi-join on the
    * list id. Nothing concentrates on one task at any corpus size.
    */
  def simIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    simIvfWith(emb, labelMeanCentroids(emb))
  }

  /** Per-label mean centroids with exact decimal cross-row sums
    * (posexplode → partial-agg sum(DECIMAL(28,20)) → double): bitwise-
    * identical for any partition count / merge order — shared by
    * `sim_ivf` and `dedup_semantic`, mirrored cell-for-cell by their
    * oracles' `cell/comp/cent` CTEs.
    */
  private[graft] def labelMeanCentroids(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    emb
      .select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy("c_label", "pos")
      .agg((sum(col("col").cast("double").cast(DecimalType(28, 20))).cast("double")
        / count(lit(1))).as("comp"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cvec"))
  }

  /** The DEPLOYMENT form of IVF (SURVEY §2.K3c): coarse centroids LEARNED by
    * the k-means loop instead of label means — the shape a user runs on an
    * unlabeled corpus, where label-mean centroids don't exist. Downstream of
    * the centroid source everything is `simIvfWith`, identical to `sim_ivf`.
    * Not oracle-checkable (the k-means loop is iterative/driver-coordinated,
    * per SURVEY contract); VectorOpsSpec asserts exact-recall parity with
    * brute force on separable data.
    */
  def simIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding")).cache()
    try {
      val centers = kmeansCenters(emb)
      val cent = centers.zipWithIndex
        .map { case (c, cid) => (cid, c) }.toSeq
        .toDF("c_label", "cvec")
      simIvfWith(emb, cent)
        // materialize before the cache is released below — the frame is
        // AnnTopK × QuerySetSize rows, driver-tiny
        .localCheckpoint()
    } finally emb.unpersist()
  }

  /** IVF search over ANY (c_label, cvec: array<double>) centroid frame —
    * assignment + probing + scoring, shared by the oracle-checked `sim_ivf`
    * (label-mean centroids) and the kmeans-learned deployment form.
    */
  private[graft] def simIvfWith(emb: DataFrame, cent: DataFrame): DataFrame =
    ivfCandidatesBy(emb.withColumn("ix_emb", col("embedding")), cent,
        (q, x) => Vec.cosineF(q, x), "cos", IvfProbes)
      .withColumn("rn", row_number()
        .over(Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))).cast("int"))
      .filter(col("rn") <= AnnTopK)
      .oracleSorted("q_id", "rn")

  /** IVF candidate scoring with a SEPARATE index space: coarse assignment
    * and probing run on the `ix_emb` column, candidate scoring on the
    * original `embedding` pair — the hook through which the MIPS
    * norm-augmentation (K3e) serves from the same inverted-file structure.
    * `sim_ivf` passes `ix_emb = embedding` and cosine, degenerating to the
    * classic single-space IVF. Each query probes its `nProbes` nearest
    * lists.
    */
  private[graft] def ivfCandidatesBy(emb: DataFrame, cent: DataFrame,
      score: (Column, Column) => Column, scoreName: String, nProbes: Int): DataFrame = {
    // One row holding all k centroids → broadcast, no shuffle to assign.
    import graft.functions.ScalarAttach._
    val withCents = emb.attachScalarRow(centsRow(cent))
    val corpus = corpusOf(withCents)
      .select(col("vec_id"), col("embedding"),
        array_min(labelDists(col("ix_emb"))).getField("lbl").as("ilist"))
    // Queries probe their nProbes nearest lists (query set is tiny).
    val probes = queriesOf(withCents)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        posexplode(slice(array_sort(labelDists(col("ix_emb"))), 1, nProbes)))
      .select(col("q_id"), col("q_emb"), col("col.lbl").as("ilist"))

    corpus.join(broadcast(probes), "ilist")
      .select(col("q_id"), col("vec_id"),
        score(col("q_emb"), col("embedding")).as(scoreName))
  }

  /** K2d `dedup_embed`: embedding-cosine near-dup pairs via BANDED
    * hyperplane LSH (round-3; round-2 used one 8-bit bucket, whose self-join
    * is Σ|bucket|² ≈ N²/256 — still quadratic at corpus scale). Now the
    * minhash-style shape: `EmbedBands` independent bands of `EmbedBandBits`
    * sign bits each (disjoint dimension slices), candidates from per-band
    * equi-joins on (band, bucket), exact-cosine verification ≥ τ. Per-band
    * buckets are ~N/2^16, so candidate volume is bands·Σ|bucket|² ≈
    * 4·N²/65536 on sign-balanced data — 64× less quadratic mass than the
    * single coarse bucket, with BETTER recall (see EmbedBands doc). The band
    * table carries only (vec_id, band, bucket); embeddings join back by id
    * for verification, so the fan-out never shuffles vectors.
    *
    * Similarity-regime honesty: sign-LSH (any banding) separates HIGH
    * cosine from random — at c ≥ 0.95 recall is ≈0.96 (the planted-dup law
    * in VectorOpsSpec demonstrates it). The driver testdata's embeddings
    * are pure random vectors (measured: max pairwise cosine ≈ 0.51, no
    * label structure), so the τ=0.3 threshold only ever catches the random
    * tail — which NO sublinear method can find (the round-2 single 8-bit
    * bucket "found" 24 such pairs at sf0.01 only because it scanned N²/256
    * of all pairs: 2% recall at quadratic cost, not a capability). On real
    * corpora embedding dedup runs in the high-cosine regime this shape is
    * built for.
    */
  def dedupEmbed(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bands = emb.select(col("vec_id"),
        posexplode(array((0 until EmbedBands).map(b =>
          Vec.signBucket(col("embedding"), EmbedBandBits, b * EmbedBandBits)): _*)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = bands.select(col("vec_id").as("vec_a"), col("band"), col("bucket"))
      .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        Vec.cosineF(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= EmbedDupTau)
      .oracleSorted("vec_a", "vec_b")
  }

  /** `dedup_semantic` within-cluster prune threshold. Calibrated on the
    * shipped embeddings (pure random vectors — see `dedupEmbed`'s
    * similarity-regime note): 0.35 keeps both verdict branches populated
    * at every SF (57/500 dropped at sf0.001, 775/2000 at sf0.1); on a
    * real corpus τ would sit in the 0.9+ planted-dup regime, which the
    * planted-fixture law in VectorOpsSpec exercises.
    */
  val SemDupTau = 0.35

  /** Target within-cell population of the ADAPTIVE semantic-dedup
    * refinement (round-16 VERDICT #1): the cell count grows with the
    * corpus so cells hold ~this many vectors at any scale — the SemDeDup
    * contract (k ∝ N ⇒ Σ|cell|² ≈ N·target), the same discipline as
    * [[HnswTargetList]].
    */
  val SemTargetCluster = 64L

  /** Refinement-exponent cap: cid = coarse·2^b + bucket must stay in INT
    * range at any coarse count the fixtures use (10·2^24 < 2^31), and
    * 2^24 cells × 64 target ≈ 10⁹ vectors per coarse cell — ample.
    */
  val SemMaxBits = 24

  /** Refinement exponent for k0 coarse cells over n vectors: the smallest
    * b ≥ 0 with k0·[[SemTargetCluster]]·2^b ≥ n (capped at
    * [[SemMaxBits]]). Pure integer comparisons — the oracle's
    * min-over-series replay lands on the identical exponent for the
    * identical counts (the [[hnswBits]] discipline).
    */
  private[graft] def semBits(k0: Long, n: Long): Int = {
    var b = 0
    while (b < SemMaxBits && ((k0 * SemTargetCluster) << b) < n) b += 1
    b
  }

  /** §2.K2g `dedup_semantic` (round 9; adaptive since round 17): SEMANTIC
    * deduplication, the modern embedding-cluster-then-prune stage
    * (SemDeDup, Abbas et al. 2023 — the shape behind LAION/web-scale
    * corpus pruning): cluster the embedding space, then within each
    * cluster drop every vector that has a cosine-≥ τ neighbour of higher
    * keep-priority. Keep-priority is (closer to own cell centroid, then
    * lower vec_id) — the paper's "most-representative member survives"
    * policy under a TOTAL deterministic order (K6′'s argmax discipline,
    * on doubles both engines compute bit-identically).
    *
    * Structure: (1) coarse centroids = [[labelMeanCentroids]] — sim_ivf's
    * exact-decimal build, oracle-reproducible where k-means' driver loop
    * is not (at deployment the centroids come from `kmeans_clusters`;
    * everything downstream is unchanged); (2) coarse assignment is
    * SHUFFLE-FREE (broadcast k0×dim centroid row, per-row codegen'd
    * struct-argmin — ties to the lower label, total); (3) the cell id
    * REFINES the coarse cell with b corpus-adaptive sign-bucket bits
    * (cid = coarse·2^b + [[graft.functions.Vec.signBucket]]), b from the
    * [[semBits]] integer ladder — round-16 VERDICT #1: at fixed k = 10
    * the within-cluster pair mass Σ|cluster|² ≈ N²/k made this the
    * registry's one scale-killer (418.8 s = 27% of the whole 204-query
    * wall at 100×); with k0·2^b ∝ N the mass stays ≈ N·[[SemTargetCluster]]
    * — linear, never all-pairs (PlanSweepSpec bans CartesianProduct);
    * (4) keep-priority distance is to the CELL's own exact-decimal mean
    * (the cluster that actually bounds the candidate pairs — the
    * `dedup_semantic_lsh` discipline), one posexplode partial-agg pass;
    * (5) the verdict emits EVERY vector with its cell, centroid distance,
    * ≥τ-neighbour count and kept flag, so both branches are hash-gated.
    *
    * Exactness: cell means are order-invariant exact decimals; sqdist /
    * cosine are sequential HOF folds over identical doubles (the sim_ivf
    * / dedup_embed parity arguments); the domination predicate compares
    * those doubles and breaks ties by vec_id — total, so the verdict is
    * reproducible at any partition count or input order. The ladder costs
    * two driver-side counts (coarse frame is k0 rows; the corpus count is
    * one footer-metadata job) — index-build state, like [[hnswBits]].
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cent = labelMeanCentroids(emb)
    dedupSemanticWith(emb, cent, semBits(cent.count(), emb.count()))
  }

  /** The DEPLOYMENT form of semantic dedup (mirror of [[simIvfKmeans]]):
    * coarse clusters LEARNED by the k-means loop instead of label means —
    * the shape a user runs on an unlabeled corpus. Downstream of the
    * centroid source everything is [[dedupSemanticWith]], identical to
    * `dedup_semantic`. Not oracle-checkable (iterative driver loop, per
    * the SURVEY contract); VectorOpsSpec pins verdict parity with the
    * label-mean form on separable data.
    */
  def dedupSemanticKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding")).cache()
    try {
      val cent = kmeansCenters(emb).zipWithIndex
        .map { case (c, cid) => (cid, c) }.toSeq
        .toDF("c_label", "cvec")
      dedupSemanticWith(emb, cent, semBits(cent.count(), emb.count())).localCheckpoint()
    } finally emb.unpersist()
  }

  /** Semantic-dedup core over ANY (c_label, cvec) centroid frame —
    * assignment + within-cluster prune + verdict, shared by
    * `dedup_semantic` and the kmeans-learned deployment form. `bits` is
    * the cell-refinement exponent: both callers pass the corpus-adaptive
    * [[semBits]] ladder value, derived once at "index build" from the
    * coarse-cell and corpus counts; b = 0 is the fixed-k
    * form whose Σ|cluster|² ≈ N²/k the ladder exists to break.
    */
  private[graft] def dedupSemanticWith(emb: DataFrame, cent: DataFrame, bits: Int): DataFrame = {
    import graft.functions.ScalarAttach._
    // cell id = coarse argmin refined by b sign-bucket bits; at b = 0 the
    // cell IS the coarse cell (the small-corpus fixed point of the ladder)
    val coarse = emb.attachScalarRow(centsRow(cent))
      .select(col("vec_id"), col("embedding"),
        (array_min(labelDists(col("embedding"))).getField("lbl").cast("long") * (1L << bits)
          + (if (bits == 0) lit(0L) // signBucket folds ≥1 bit terms
             else Vec.signBucket(col("embedding"), bits))).as("cid"))
    // per-cell exact-decimal means — the keep-priority anchor is the cell
    // that actually bounds the candidate pairs (the dedup_semantic_lsh
    // discipline); NOT broadcast: the cell count grows ∝ N/target, so the
    // mean frame joins back by its key (AQE picks broadcast while small)
    val cellCent = labelMeanCentroids(
        coarse.select(col("cid").as("label"), col("embedding")))
      .select(col("c_label").as("cid"), col("cvec"))
    // assignment frame is referenced twice (pair join + verdict join);
    // the lineage cut materializes the one centroid aggregation + assign
    // pass instead of recomputing it per reference. The keep-priority
    // distance is ROUNDED to 1e-6 HERE, before any comparison (round-17
    // 100× lesson): a cell holding two equal-mass replica cliques has its
    // mean at the exact midpoint, so the two cliques' distances are
    // MATHEMATICALLY equal and a raw-double compare is decided by each
    // engine's fold noise — Spark and DuckDB ordered them oppositely.
    // The 1e-6 grid is exactly the granularity every gate already hashes,
    // so comparing on it adds no new cross-engine risk class, and ties on
    // the grid fall through to the total vec_id order.
    val a = coarse.join(cellCent, "cid")
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(Vec.sqDistF(col("embedding"), col("cvec")), 6).as("c_dist"))
      .localCheckpoint(eager = false)
    // within-cluster ≥τ neighbours, with the domination verdict folded
    // into the same pass: y beats x iff closer to the centroid (vec_id
    // tiebreak) — one partial-agg per vector, no second join
    val nbrs = a.as("x").join(a.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
      .where(Vec.cosineF(col("x.embedding"), col("y.embedding")) >= SemDupTau)
      .select(col("x.vec_id").as("vec_id"),
        when(col("y.c_dist") < col("x.c_dist") ||
          (col("y.c_dist") === col("x.c_dist") &&
            col("y.vec_id") < col("x.vec_id")), 1).otherwise(0).as("dom"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dup_nbrs"), max("dom").as("dominated"))
    a.join(nbrs, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("c_dist"),
        coalesce(col("n_dup_nbrs"), lit(0L)).cast("int").as("n_dup_nbrs"),
        when(coalesce(col("dominated"), lit(0)) === 1, 0).otherwise(1)
          .cast("int").as("kept"))
      .oracleSorted("vec_id")
  }

  /** `dedup_semantic_lsh` minimum bucket width (2^5 = 32 sign-bit
    * clusters — the historical pinned width; both verdict branches
    * populated at every shipped SF). Since round 17 the registered query
    * derives its width from the corpus count via the same [[semBits]]
    * ladder as `dedup_semantic` (floored here): with the main form made
    * corpus-adaptive, the fixed 5-bit width had itself become the
    * registry's last Σ|bucket|² ≈ n²/2^bits plan — 82.4 s at 100×
    * (`bench_full100x_r17.json`) for the same verdicts the ladder width
    * computes in seconds.
    */
  val SemLshBits = 5

  /** Ladder width for the LSH form: smallest b with 64·2^b ≥ n, floored
    * at the historical [[SemLshBits]] so small fixtures keep their bucket
    * geometry (and [[graft.functions.Vec.signBucket]] always gets ≥ 1
    * bit).
    */
  private[graft] def semLshBitsOf(n: Long): Int =
    math.max(SemLshBits, semBits(1L, n))

  /** §2.K2h `dedup_semantic_lsh` (round 9): the LINEAR-SCALE form of
    * semantic dedup — clusters come from the deterministic sign-bucket
    * quantizer itself (cluster id = [[Vec.signBucket]] of the vector, an
    * axis-aligned random-hyperplane IVF init), so there is NO k×N argmin
    * assignment pass and k scales freely with the corpus (2^bits). The
    * k = 10 label-mean form (`dedup_semantic`) is the oracle-friendly toy
    * whose fixed k makes the within-cluster join quadratic at 100×
    * (BASELINE: 346.8 s); this form, measured on the identical 200k-vector
    * staging via the same prune core, is the 10-second cost class — the
    * SemDeDup contract (k ∝ N ⇒ Σ|cluster|² ≈ N·|cluster|) realized as a
    * REGISTERED, fully DuckDB-gated query, not a side measurement.
    * Keep-priority is unchanged: within one bucket a vector is dropped iff
    * a cosine-≥ τ neighbour sits closer to the bucket's exact-decimal mean
    * (vec_id tiebreak — total). Buckets, means, cosines, and distances are
    * all oracle-reproducible (the `dedup_embed` / `sim_ivf` parity
    * arguments), so the verdict hash-gates like the toy form.
    */
  def dedupSemanticLsh(s: SparkSession, dir: String): DataFrame = {
    val emb0 = Tables.embeddings(s, dir)
    // width from the corpus-count ladder (round 17); the floor keeps
    // every shipped sf ≤ 0.1 at the historical 5-bit contract
    val bits = semLshBitsOf(emb0.count())
    val e = emb0
      .select(col("vec_id"), col("embedding"),
        Vec.signBucket(col("embedding"), bits).as("b"))
    // per-bucket exact-decimal means — labelMeanCentroids keyed on the
    // bucket (single-sourced with sim_ivf / dedup_semantic)
    val cent = labelMeanCentroids(e.select(col("b").as("label"), col("embedding")))
      .select(col("c_label").as("b"), col("cvec"))
    // keep-priority distance pre-rounded to the gate's 1e-6 grid before
    // any comparison — see dedupSemanticWith (a bucket of two equal-mass
    // cliques puts the mean at the exact midpoint; raw-double compare is
    // not cross-engine total at that mathematical tie)
    // NOT broadcast (round 17): the bucket-mean frame grows ∝ n/64 under
    // the ladder width — joined by its key; AQE broadcasts while small
    val a = e.join(cent, "b")
      .select(col("vec_id"), col("embedding"), col("b"),
        round(Vec.sqDistF(col("embedding"), col("cvec")), 6).as("c_dist"))
      .localCheckpoint(eager = false)
    val nbrs = a.as("x").join(a.as("y"),
        col("x.b") === col("y.b") && col("x.vec_id") =!= col("y.vec_id"))
      .where(Vec.cosineF(col("x.embedding"), col("y.embedding")) >= SemDupTau)
      .select(col("x.vec_id").as("vec_id"),
        when(col("y.c_dist") < col("x.c_dist") ||
          (col("y.c_dist") === col("x.c_dist") &&
            col("y.vec_id") < col("x.vec_id")), 1).otherwise(0).as("dom"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dup_nbrs"), max("dom").as("dominated"))
    a.join(nbrs, Seq("vec_id"), "left")
      .select(col("vec_id"), col("b").cast("int").as("bucket"), col("c_dist"),
        coalesce(col("n_dup_nbrs"), lit(0L)).cast("int").as("n_dup_nbrs"),
        when(coalesce(col("dominated"), lit(0)) === 1, 0).otherwise(1)
          .cast("int").as("kept"))
      .oracleSorted("vec_id")
  }

  /** §2.I `kmeans_clusters`: the reference's iterative k-means re-expressed
    * over DataFrames [ref: stackoverflow/…/StackOverflow.scala#kmeans].
    *
    *  - I1 init: deterministic first-vector-per-label (window rn=1) instead
    *    of the reference's seeded reservoir sample — cross-engine RNG does
    *    not reproduce, determinism is the contract (SURVEY §2.I1).
    *  - I2 loop: run to CONVERGENCE with a loud 120-iteration cap
    *    (reference contract: converge-or-120); each
    *    iteration bakes the k×dim centers into the plan as a literal array
    *    column, assigns SHUFFLE-FREE via a per-row codegen'd-sqDist argmin
    *    (array_min over (dist, cid) structs), recomputes means via
    *    posexplode → groupBy(cid, pos) partial aggregation, and collects
    *    only k×dim (sum, count) rows to the driver.
    *  - A5: the embeddings input is cached across iterations.
    *  - I4 report: per-cluster size, dominant label (D12 two-level mode),
    *    label share, median L2 norm (D11).
    *
    * No DuckDB oracle (iterative, driver-coordinated — per SURVEY contract);
    * covered by the convergence unit test on a separable dataset.
    */
  /** I1 deterministic init: first vector of each label, cluster id = rank of
    * label (k = #labels). Collects k×dim doubles to the driver — the loop's
    * coordinator holds them anyway (SURVEY §2.I2); float→double widening is
    * exact, so the DuckDB oracle rebuilds identical centers.
    */
  private def initCenters(emb: DataFrame): Array[Seq[Double]] =
    emb.withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("rn") === 1)
      .orderBy("label")
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble))

  /** Centers as a LITERAL array-of-structs column (k×dim doubles baked into
    * the plan — the driver holds them anyway, SURVEY §2.I2): the argmin is a
    * per-row HOF fold, so assignment is SHUFFLE-FREE and needs no join back
    * to the corpus — vs the k-row crossJoin form, which blows the row count
    * up k× and argmin-shuffles by vec_id every iteration.
    */
  private def centersLit(cs: Array[Seq[Double]]): Column =
    // One complex-typed literal, which generated code reads from
    // `references[i]`: the source, and so the compiled class (the codegen
    // cache keys on source text), is the same in every iteration
    // (VectorOpsSpec).
    typedLit(cs.toSeq.zipWithIndex.map { case (c, i) => Center(i, c) })

  /** One k-means center, the element type of the centers literals. */
  private case class Center(cid: Int, center: Seq[Double])

  /** One integer k-means center of `kmeans_int_trace`. */
  private case class IntCenter(cid: Int, cx: Long, cy: Long)

  /** Nearest-centroid argmin as a (dist, cid) struct — ties break on the
    * lower cid, exactly like SQL `ORDER BY dist, cid`.
    */
  private def nearestCenter(cs: Array[Seq[Double]]): Column =
    array_min(centroidDists(centersLit(cs), col("embedding"), "center", "cid", "cid"))

  /** Per centroid of the array `cents`, the struct (dist, `idAs`): the
    * squared distance from `v` to its `vec` field, and its `id` field.
    * `array_min` of it is the nearest-centroid argmin (ties to the lower
    * id, like SQL `ORDER BY dist, id`); `array_sort` ranks the centroids.
    */
  private def centroidDists(cents: Column, v: Column, vec: String, id: String,
                            idAs: String): Column =
    transform(cents, c => struct(Vec.sqDistF(v, c.getField(vec)).as("dist"),
      c.getField(id).as(idAs)))

  /** [[centroidDists]] over the `cents` column of [[centsRow]]. */
  private def labelDists(v: Column): Column =
    centroidDists(col("cents"), v, "cvec", "c_label", "lbl")

  /** All (c_label, cvec) centroids of `cent` as one `cents` array row.
    * The lineage cut runs the corpus-wide centroid aggregation once for
    * every branch that reads the row (IVF: corpus assignment and query
    * probes). Lazy, so constructing the frame (plan audits, explain) runs
    * no job; the blocks are freed by the ContextCleaner once the result
    * frame is garbage, where `cache` would leave an InMemoryRelation
    * behind after every invocation.
    */
  private def centsRow(cent: DataFrame): DataFrame =
    cent.agg(collect_list(struct(col("c_label"), col("cvec"))).as("cents"))
      .localCheckpoint(eager = false)

  private def assignedTo(emb: DataFrame, cs: Array[Seq[Double]]): DataFrame =
    emb.select(col("vec_id"), col("label"), col("embedding"),
      nearestCenter(cs).getField("cid").as("cid"))

  /** One k-means re-center step: per (cid, pos), the sum `sv` of the
    * dimension-`pos` components of the vectors assigned to `cs(cid)`, and
    * their count `n`. The sums are exact DECIMAL(28,20), so the loop's
    * movement sequence and exit iteration are run-independent: double
    * partial sums merge in shuffle-arrival order, and an ulp of that noise
    * near the convergence tolerance would flip whole iterations.
    */
  private def recenterSums(emb: DataFrame, cs: Array[Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    assignedTo(emb, cs)
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy("cid", "pos")
      .agg(sum(col("col").cast("double").cast(DecimalType(28, 20)))
        .cast("double").as("sv"), count(lit(1)).as("n"))
  }

  /** `kmeans_assign`: ONE k-means assignment step — classify every vector to
    * its nearest init centroid (round-2 VERDICT #7: a single
    * classify-to-literal-centroids pass is pure SQL, so this converts part
    * of the `kmeans_clusters` loop from a rows-only claim into a
    * hash-matched oracle row; `sim_ivf` already proved the argmin is
    * SQL-expressible). Same shuffle-free literal-centers codegen argmin the
    * full loop uses; one window (init) + one narrow projection.
    */
  def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val centers = initCenters(emb)
    val near = nearestCenter(centers)
    emb.select(col("vec_id"), col("label"),
        near.getField("cid").as("cid"),
        round(near.getField("dist"), 6).as("sq_dist"))
      .oracleSorted("vec_id")
  }

  /** K-means loop control, mirroring the reference's converge-or-cap
    * contract [ref: stackoverflow/…/StackOverflow.scala#kmeansMaxIterations
    * = 120 with a loose `converged(distance) = distance < kmeansEta` — the
    * previous fixed 5 iterations were the last reference-semantics
    * softness]: the loop exits when the MAX per-centroid squared movement
    * of an iteration drops below `KmeansTol`, or at `KmeansMaxIters` with
    * a WARNING (like the reference, which returns the cap-iteration
    * centers — k-means convergence is an approximation knob, unlike
    * `clusterLabels` where non-convergence means wrong components and the
    * loop fails loudly). Tol calibration, measured at sf0.1: movement
    * drops 0.68 → 6e-4 in 6 iterations, then oscillates in the 1e-4..1e-5
    * band for ~40 more before hitting the exact assignment fixpoint at 46
    * — paying 5× the iterations for micro-adjustments below data scale
    * (per-coordinate RMS < 3e-3 on [-1,1] components) buys nothing the
    * cluster report can see.
    */
  val KmeansMaxIters = 120
  val KmeansTol = 5e-4

  /** I2/I3: the k-means center loop — init from first-vector-per-label,
    * then driver-coordinated passes to CONVERGENCE (each: shuffle-free
    * argmin assignment + partial-aggregated per-dimension means; only
    * k×dim (sum, count) rows reach the driver per pass — the convergence
    * check is a driver-side k×dim comparison, no extra job). Callers cache
    * `emb` across the loop. Shared by `kmeans_clusters` (report) and
    * `simIvfKmeans` (learned IVF centroids).
    */
  private[graft] def kmeansCenters(emb: DataFrame, maxIters: Int = KmeansMaxIters,
                                   tol: Double = KmeansTol): Array[Seq[Double]] =
    kmeansCentersTraced(emb, maxIters, tol)._1

  /** Loop core, also returning the per-iteration max-squared-movement
    * sequence (round-7: surfaced as a `kmeans_clusters` output column so
    * the gate artifact records the loop's trajectory, not just its fixed
    * point — the movements are run-independent because the center sums are
    * exact decimals).
    */
  private[graft] def kmeansCentersTraced(emb: DataFrame, maxIters: Int = KmeansMaxIters,
                                         tol: Double = KmeansTol): (Array[Seq[Double]], List[Double]) =
    // AQE scoped off for the loop: every per-iteration exchange carries
    // k×dim partial-agg rows (corpus-size independent), so adaptive
    // re-planning only adds a per-iteration driver round trip — see
    // graft.functions.Confs. Results are unaffected (physical-only).
    graft.functions.Confs.kBoundedLoop(emb) { emb =>
    var centers = initCenters(emb)
    var moved = Double.MaxValue
    var trace = List.empty[Double]
    var it = 0
    while (it < maxIters && moved > tol) {
      it += 1
      val sums = recenterSums(emb, centers).collect()
      val byCluster = sums.groupBy(_.getInt(0))
      val next = centers.zipWithIndex.map { case (old, cid) =>
        byCluster.get(cid) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3)).toSeq
          case None => old // empty cluster keeps its center
        }
      }
      moved = centers.zip(next).map { case (o, n) =>
        o.zip(n).map { case (a, b) => (a - b) * (a - b) }.sum }.max
      trace ::= moved
      centers = next
    }
    if (moved > tol)
      System.err.println(s"[graft] kmeans stopped at the $maxIters-iteration cap " +
        s"with max center movement $moved > $tol (reference converge-or-cap contract)")
    (centers, trace.reverse)
  }

  def kmeansClusters(s: SparkSession, dir: String): DataFrame = {
    // A5: cached across the iteration loop; the cache is dropped before
    // returning (round-2 VERDICT #5 — no cached frame outlives its query
    // invocation), which is safe because every consumer either collects
    // inside this call or reads the checkpointed final assignment below.
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding")).cache()
    try {
      val (centers, movements) = kmeansCentersTraced(emb)
      // the full convergence trajectory, identical on every row: the gate
      // artifact records WHICH path the loop took, not just where it
      // landed (round-7; deterministic because the center sums are exact
      // decimals — see recenterSums). Each movement renders as
      // floor(m·10¹²) — an integer both engines produce bit-identically
      // from the identical double (the graph_pagerank floor trick; the
      // previous %.6e format was NOT cross-engine replayable — Java
      // rounds the decimal expansion HALF_UP where C-family printf
      // rounds half-even — which kept this query the registry's last
      // no_oracle row, round-15 VERDICT #1). Movements are ≤ ~dim·4, so
      // the pico-unit product stays far under 2^53 where floor parity
      // holds exactly — guarded (round-16 ADVICE): an out-of-range
      // movement from a larger-magnitude fixture must fail loudly here,
      // not surface as an unexplained cross-engine hash mismatch.
      val moveSeq = movements.map { m =>
        require(m < (1L << 53) / 1e12,
          s"kmeans movement $m exceeds the 2^53/1e12 floor-parity bound")
        math.floor(m * 1e12).toLong.toString
      }.mkString(",")

      // Final assignment, materialized eagerly with its lineage cut: the
      // report below reads it twice, and after the cut it no longer
      // references `emb`, so the cache can be released in `finally`. The
      // checkpointed frame is (cid, label, nrm) — corpus-row count but
      // 3 narrow columns, block-manager-resident and freed by the
      // ContextCleaner when the result frame is garbage (unlike an
      // InMemoryRelation, which outlives the call until an explicit
      // unpersist).
      val scored = assignedTo(emb, centers)
        .select(col("cid"), col("label"), Vec.l2F(col("embedding")).as("nrm"))
        .localCheckpoint()

      // I4: cluster report — size, dominant label + share, median norm.
      val topLabel = scored.groupBy("cid", "label").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("cid").orderBy(desc("n"), asc("label"))))
        .filter(col("rn") === 1)
        .select(col("cid"), col("label").as("top_label"), col("n").as("top_n"))
      scored.groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), round(median(col("nrm")), 6).as("median_norm"))
        .join(topLabel, "cid")
        .select(col("cid").as("cluster_id"), col("n_vecs"), col("top_label"),
          round(col("top_n").cast("double") / col("n_vecs"), 4).as("label_share"),
          col("median_norm"), lit(moveSeq).as("movement_seq"))
        .oracleSorted("cluster_id")
    } finally emb.unpersist()
  }

  /** `kmeans_iter1` (round-7): the loop's FIRST transition, hash-matched —
    * init centers (first vector per label), one shuffle-free argmin
    * assignment, then the per-(cluster, dimension) mean with the SAME
    * exact-decimal sum discipline the loop uses. DuckDB replays init +
    * argmin (the `kmeans_assign` SQL family) + AVG per dimension, so the
    * iteration the loop actually executes is oracled, not just
    * unit-tested; `kmeans_assign` pins the classify step, this pins the
    * re-center step. Scale shape: posexplode shuffles k×dim groups with
    * map-side partial aggregation — the loop's own per-pass cost.
    */
  def kmeansIter1(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    recenterSums(emb, initCenters(emb))
      .select(col("cid"), col("pos"),
        round(col("sv") / col("n"), 6).as("center_val"), col("n"))
      .oracleSorted("cid", "pos")
  }

  /** `kmeans_int_trace` iteration count and cluster count — pinned so the
    * DuckDB recursive-CTE oracle replays the identical trajectory.
    */
  val KmIntIters = 8
  val KmIntK = 4

  /** `kmeans_int_trace` (round 8): the FULL k-means loop, hash-gated — the
    * float loop's integer twin (round-7 VERDICT next-round #6, closing the
    * last rows-only residue of the §2.I family the way `graph_pagerank`
    * closed the PageRank loop). Points are the cents-quantized 2-D grid
    * (x = value in integer cents, y = event_id mod 997); centroids are
    * floor-quantized back onto the grid each iteration, so every operand
    * in all 8 iterations is an exact integer in BOTH engines and the DuckDB
    * recursive CTE replays the identical 32-row (iter × cluster) trajectory
    * — centroids, sizes, and path, not just the fixed point.
    *
    * Exactness argument (the `graph_pagerank` floor trick): the packed
    * argmin `min(sqdist·k + cid)` is pure BIGINT arithmetic — under the
    * runtime-enforced cents domain [0, 9.2e6] (~$92k, the `agg_argmax`
    * bound) sqdist reaches ~8.5e13, so the packed ordinal stays < 3.4e14
    * ≪ 2^63; the only division is `floor(Σx / n)`, whose quotient is
    * either an integer or ≥ 1/n ≈ 1e-5 away from one, while the double
    * error at magnitude ≤ 1e5 is ~2e-11 — the floors can never disagree,
    * at this SF or 100× it.
    *
    * Architecture = the real loop's (not a SQL translation): the driver
    * holds k×2 integer centers, each iteration bakes them into the plan as
    * a literal array and assigns SHUFFLE-FREE via the codegen'd per-row
    * packed argmin (`kmeans_clusters`'s centersLit discipline — no k-way
    * crossJoin, no shuffle-by-point), then one partial-aggregated
    * groupBy(cid) returns k (Σx, Σy, n) rows to the coordinator. Per
    * iteration: one scan + one k-group shuffle — the textbook per-pass
    * cost at any scale. A cluster that loses all members drops out (inner
    * semantics, mirrored by the recursive member's GROUP BY); the fixture
    * keeps all 4 alive through every iteration.
    */
  def kmeansIntTrace(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Packing domain ENFORCED at runtime (round-8 ADVICE #2, the
    // agg_argmax discipline): past ~$92k cents the sqdist·k packing could
    // exceed 2^63, where Spark silently wraps Long but DuckDB raises on
    // BIGINT overflow — the trajectories would diverge without an error.
    // Two codegen'd comparisons per row, no extra pass.
    val xRaw = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val xGuarded = when(xRaw.between(0L, 9200000L) && col("event_id") >= 0L, xRaw)
      .otherwise(raise_error(concat(
        lit("kmeans_int_trace packed-argmin domain violated (value in " +
          "[0,$92k], event_id >= 0 required; use a struct argmin beyond): value="),
        col("value"), lit(" event_id="), col("event_id"))))
    val pts = Tables.events(s, dir)
      .select(col("event_id"),
        xGuarded.as("x"),
        (col("event_id") % 997).cast("long").as("y"))
      .cache() // A5: one materialization feeds init + all 8 passes
    // AQE scoped off for the 8 k-bounded iteration jobs (see Confs)
    val frames = try graft.functions.Confs.kBoundedLoop(pts) { pts =>
      // deterministic init: per residue class event_id % k, the point of
      // the SMALLEST event_id (min_by — unique ids, no tie ambiguity)
      val init = pts
        .groupBy((col("event_id") % KmIntK).cast("int").as("cid"))
        .agg(min_by(col("x"), col("event_id")).as("cx"),
          min_by(col("y"), col("event_id")).as("cy"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      var centers = init
      val frames = Seq.newBuilder[(Int, Int, Long, Long, Long)]
      for (it <- 1 to KmIntIters) {
        // one complex-typed Literal — identical generated source across the
        // 8 iterations, so the argmin stage compiles once (see centersLit)
        val centLit = typedLit(centers.toSeq.map { case (cid, cx, cy) => IntCenter(cid, cx, cy) })
        // packed ordinal argmin: min over (sqdist·k + cid) — total order,
        // ties to the lower cid, all-integer (see header)
        val packed = array_min(transform(centLit, c =>
          ((col("x") - c.getField("cx")) * (col("x") - c.getField("cx")) +
            (col("y") - c.getField("cy")) * (col("y") - c.getField("cy"))) *
            lit(KmIntK.toLong) + c.getField("cid").cast("long")))
        val agg = pts
          .select((packed % KmIntK).cast("int").as("cid"), col("x"), col("y"))
          .groupBy("cid")
          .agg(sum("x").as("sx"), sum("y").as("sy"), count(lit(1)).as("n"))
          .select(col("cid"),
            floor(col("sx").cast("double") / col("n")).cast("long").as("cx"),
            floor(col("sy").cast("double") / col("n")).cast("long").as("cy"),
            col("n"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1)
        centers = agg.map(t => (t._1, t._2, t._3))
        frames ++= agg.map(t => (it, t._1, t._2, t._3, t._4))
      }
      frames.result()
    } finally pts.unpersist()
    import s.implicits._
    frames.toDF("iter", "cid", "cx", "cy", "n_pts")
      .oracleSorted("iter", "cid")
  }
}
