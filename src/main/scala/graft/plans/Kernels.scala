package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native row kernels for the text-dedup, retrieval and layout hot paths.
  *
  * Each kernel is a static row function here plus a Column entry point of
  * the same name that calls it through Catalyst's `StaticInvoke`: one null
  * check, one call in generated code, the same call reflectively when
  * codegen is off, and the stage stays inside whole-stage codegen. The HOF
  * forms they replace evaluate interpreted lambdas per element (string
  * round trips through `md5` → `substr` → `conv`, per-band `array_sort`s,
  * per-dimension `filter`s). Every kernel is bitwise-equal to its HOF form
  * (NativeVecSpec) and to the DuckDB oracle's SQL.
  *
  * Text kernels split on a single space with trailing empties kept
  * (`split(text, ' ')`, DuckDB `string_split`); a text with fewer than `n`
  * words yields one whole-text shingle. Char positions count UTF-16 units:
  * engine texts are single-byte.
  */
object Kernels {
  /** Mersenne prime 2^31−1 (mirror of TextOps.MinhashP). */
  private val P = 2147483647L

  /** One digest per task thread, reused across rows: `getInstance` is a
    * provider lookup and an allocation on the per-row hot path.
    */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private def md5(s: String): Array[Byte] = {
    val md = md5Local.get()
    md.reset()
    md.digest(s.getBytes(StandardCharsets.UTF_8))
  }

  /** The first `hexChars` hex chars of digest `d`, read as one unsigned
    * integer: `conv(substr(md5(s), 1, hexChars), 16, 10)` in Spark SQL and
    * `CAST(('0x' || substr(md5(s), 1, hexChars)) AS BIGINT)` in DuckDB.
    * 15 chars (bytes 0..6 and the high nibble of byte 7) is the widest
    * prefix that stays a signed-positive BIGINT in both engines.
    */
  private def md5Prefix(d: Array[Byte], hexChars: Int): Long = {
    var v = 0L
    var i = 0
    while (i < hexChars / 2) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    if (hexChars % 2 == 1) v = (v << 4) | ((d(i) & 0xffL) >>> 4)
    v
  }

  private def words(t: UTF8String): Array[String] = t.toString.split(" ", -1)

  private def call(fn: String, dataType: DataType, args: Seq[Expression],
                   inputTypes: Seq[DataType]): Column =
    GraftSqlBridge.column(StaticInvoke(Kernels.getClass, dataType, fn, args, inputTypes,
      propagateNull = true, returnNullable = false))

  /** `fn(text, consts…)` over a string column and literal trailing args. */
  private def onText(fn: String, dataType: DataType, text: Column, consts: Any*): Column = {
    val lits = consts.map(Literal(_))
    call(fn, dataType, GraftSqlBridge.expression(text) +: lits, StringType +: lits.map(_.dataType))
  }

  private val Longs = ArrayType(LongType, containsNull = false)

  /** Distinct md5-prefix hashes of the n-word shingles (`word`) or char
    * n-grams of `t`, in first-occurrence order (`array_distinct`). `modP`
    * reduces each 60-bit prefix mod 2^31−1, the universal band-hash family's
    * domain (MinHash); without it the full 60 bits key direct fingerprint
    * joins, where a 2^31 space would make spurious collisions the dominant
    * join mass at corpus scale.
    */
  def hashedGrams(t: UTF8String, n: Int, word: Boolean, modP: Boolean): ArrayData = {
    val text = t.toString
    // LinkedHashSet = first-occurrence order, matching array_distinct
    val seen = new java.util.LinkedHashSet[java.lang.Long]

    def add(gram: String): Unit = {
      val v = md5Prefix(md5(gram), 15)
      seen.add(if (modP) v % P else v)
    }

    if (word) {
      val w = text.split(" ", -1)
      val count = math.max(w.length - n + 1, 1)
      var i = 0
      while (i < count) {
        val end = math.min(i + n, w.length)
        add(w.slice(i, end).mkString(" "))
        i += 1
      }
    } else {
      val count = math.max(text.length - n + 1, 1)
      var i = 0
      while (i < count) {
        add(text.substring(i, math.min(i + n, text.length)))
        i += 1
      }
    }

    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Distinct hashed n-word shingles, mod 2^31−1. */
  def wordGrams(text: Column, n: Int): Column = onText("hashedGrams", Longs, text, n, true, true)

  /** Distinct hashed char n-grams, mod 2^31−1. */
  def charGrams(text: Column, n: Int): Column = onText("hashedGrams", Longs, text, n, false, true)

  /** Distinct hashed char n-grams, full 60 bits. */
  def charGramsWide(text: Column, n: Int): Column =
    onText("hashedGrams", Longs, text, n, false, false)

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Min md5 (as lowercase hex) over the n-word shingle set — the
    * `text_fingerprint` kernel. Tracks the minimum 16-byte digest with an
    * unsigned byte compare (equivalent to hex-string ordering, since hex of
    * unsigned bytes is order-preserving on equal lengths) and hex-formats
    * once at the end; the HOF form builds and compares a per-shingle hex
    * string array.
    */
  def minGramMd5(t: UTF8String, n: Int): UTF8String = {
    val w = words(t)
    val count = math.max(w.length - n + 1, 1)
    var best: Array[Byte] = null
    var i = 0
    while (i < count) {
      val end = math.min(i + n, w.length)
      val d = md5(w.slice(i, end).mkString(" "))
      if (best == null || unsignedLess(d, best)) best = d
      i += 1
    }
    val out = new Array[Char](32)
    i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((best(i) & 0xff) >>> 4)
      out(2 * i + 1) = hexDigits(best(i) & 0x0f)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  def minGramMd5(text: Column, n: Int): Column = onText("minGramMd5", StringType, text, n)

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Max occurrence count over the n-word shingle multiset — the
    * `text_repetition` top-bigram kernel. Counting repeats per row makes
    * the operator a narrow projection; the compositional form (explode →
    * groupBy(doc, gram) → groupBy(doc).max) shuffles every bigram
    * occurrence. Counts string grams (no hashing), so the value is exactly
    * the oracle's `max(count(*)) GROUP BY doc, gram`.
    */
  def topGramCount(t: UTF8String, n: Int): Long = {
    val w = words(t)
    val count = math.max(w.length - n + 1, 1)
    val m = new java.util.HashMap[String, Integer]
    var best = 0
    var i = 0
    while (i < count) {
      val end = math.min(i + n, w.length)
      val g = w.slice(i, end).mkString(" ")
      val c = m.merge(g, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }

  def topGramCount(text: Column, n: Int): Column = onText("topGramCount", LongType, text, n)

  /** The n-word shingle array (all occurrences, in order) — the
    * `text_ngrams`/`text_collocations` explode feed. Shingles of a
    * single-space split, re-joined with a single space, are contiguous byte
    * substrings of the text (0x20 never occurs inside a multi-byte UTF-8
    * sequence), so one pass records word-start byte offsets and each
    * shingle is a zero-copy `UTF8String.fromBytes` slice.
    */
  def wordShingles(t: UTF8String, n: Int): ArrayData = {
    val bytes = t.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val nw = spaces + 1
    // starts(k) = byte offset of word k; sentinel starts(nw) = len + 1 so
    // that `starts(end) - 1` uniformly strips the separator/virtual space.
    val starts = new Array[Int](nw + 1)
    var k = 1
    i = 0
    while (i < len) { if (bytes(i) == 0x20) { starts(k) = i + 1; k += 1 }; i += 1 }
    starts(nw) = len + 1
    val count = math.max(nw - n + 1, 1)
    val out = new Array[AnyRef](count)
    var j = 0
    while (j < count) {
      val s = starts(j)
      val e = starts(math.min(j + n, nw)) - 1
      out(j) = UTF8String.fromBytes(bytes, s, e - s)
      j += 1
    }
    new GenericArrayData(out)
  }

  def wordShingles(text: Column, n: Int): Column =
    onText("wordShingles", ArrayType(StringType, containsNull = false), text, n)

  /** (1-based char pos, full 60-bit hash) of every char n-gram occurrence
    * whose hash ≡ 0 mod `winnowMod` — the `dedup_substring_spans` kernel.
    * The winnow runs inside the kernel, so only the surviving windows
    * materialize. Positions are kept because spans need offsets, and
    * duplicates because every occurrence must be coverable by a cut span.
    */
  def winnowedGramPos(t: UTF8String, n: Int, winnowMod: Int): ArrayData = {
    val text = t.toString
    val buf = new scala.collection.mutable.ArrayBuffer[Any]
    val count = math.max(text.length - n + 1, 1)
    var i = 0
    while (i < count) {
      val v = md5Prefix(md5(text.substring(i, math.min(i + n, text.length))), 15)
      if (v % winnowMod == 0) buf += new GenericInternalRow(Array[Any](i + 1, v))
      i += 1
    }
    new GenericArrayData(buf.toArray)
  }

  def winnowedGramPos(text: Column, n: Int, winnowMod: Int): Column =
    onText("winnowedGramPos", ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("g", LongType, nullable = false))), containsNull = false),
      text, n, winnowMod)

  /** SimHash over the distinct token set: bit i of each token's hash (its
    * first `hexChars` md5 hex chars) votes ±1 on weight i, and the
    * signature sets bit i iff weight i is positive, for i < `bits`.
    * Integer additions commute, so token order is irrelevant. 8 chars and
    * 16 bits is `dedup_simhash`'s signature; 15 chars and 60 bits is the
    * wide one, a space that does not saturate at corpus scale and stays a
    * signed-positive BIGINT in DuckDB.
    */
  def simhash(t: UTF8String, hexChars: Int, bits: Int): Long = {
    val tokens = new java.util.LinkedHashSet[String]
    words(t).foreach(tokens.add)
    val w = new Array[Int](bits)
    val it = tokens.iterator()
    while (it.hasNext) {
      val h = md5Prefix(md5(it.next()), hexChars)
      var i = 0
      while (i < bits) {
        w(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (w(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  def simhash(text: Column, hexChars: Int, bits: Int): Column =
    onText("simhash", LongType, text, hexChars, bits)

  /** r=2 banded MinHash signatures over a hashed-shingle array: for each
    * band b, the two smallest values of ((2b+1)·h + 12345·b + 1) mod p,
    * packed as m1·2^31 + m2, from one running two-min pass where the HOF
    * form `array_sort`s a permuted copy per band. An array of fewer than
    * two hashes yields null signatures (they match nothing in either
    * engine).
    */
  def bandSigs(hv: ArrayData, bands: Int): ArrayData = {
    val n = hv.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      if (n < 2) out(b) = null
      else {
        val a = 2L * b + 1
        val c = 12345L * b + 1
        var m1 = Long.MaxValue
        var m2 = Long.MaxValue
        var i = 0
        while (i < n) {
          val v = (a * hv.getLong(i) + c) % P
          if (v < m1) { m2 = m1; m1 = v }
          else if (v < m2) { m2 = v }
          i += 1
        }
        out(b) = m1 * 2147483648L + m2
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  def bandSigs(hv: Column, bands: Int): Column =
    call("bandSigs", ArrayType(LongType, containsNull = true),
      Seq(GraftSqlBridge.expression(hv), Literal(bands)), Seq(Longs, IntegerType))

  /** Hashed bag-of-words count vector — `rag_retrieve`'s embedding: per
    * token, the 60-bit md5 prefix mod `dims` picks the dimension to count.
    * `array<float>` feeds the float dot kernel directly; counts ≪ 2^24, so
    * the float lanes are exact.
    */
  def hashedBow(t: UTF8String, dims: Int): ArrayData = {
    val counts = new Array[Float](dims)
    val w = words(t)
    var i = 0
    while (i < w.length) {
      counts((md5Prefix(md5(w(i)), 15) % dims).toInt) += 1f
      i += 1
    }
    new GenericArrayData(counts)
  }

  def hashedBow(text: Column, dims: Int): Column =
    onText("hashedBow", ArrayType(FloatType, containsNull = false), text, dims)

  /** 2-D Hilbert index — `layout_hilbert`/`zonemap_skip`'s encode: the
    * standard xy2d loop (masking to `bits` per dim, full-grid N−1 flips;
    * see Lakehouse.hilbertLevelSql, the oracle's per-level form and the
    * parity reference).
    */
  def hilbertKey(x0: Long, y0: Long, bits: Int): Long = {
    val n1 = (1L << bits) - 1
    var x = x0 & n1
    var y = y0 & n1
    var d = 0L
    var i = bits - 1
    while (i >= 0) {
      val rx = (x >> i) & 1L
      val ry = (y >> i) & 1L
      val s = 1L << i
      d += s * s * (3 * rx + ry - 2 * rx * ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      i -= 1
    }
    d
  }

  def hilbertKey(x: Column, y: Column, bits: Int): Column =
    call("hilbertKey", LongType,
      Seq(GraftSqlBridge.expression(x), GraftSqlBridge.expression(y), Literal(bits)),
      Seq(LongType, LongType, IntegerType))
}
