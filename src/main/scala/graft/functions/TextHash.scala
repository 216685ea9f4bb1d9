package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Deterministic 64-bit hashing primitives for document sketching
  * (fingerprints, MinHash, SimHash — SURVEY.md §2.C scale paths).
  *
  * All hashes are seeded FNV-1a over UTF-8 bytes: fully deterministic,
  * engine-independent, no reliance on JVM `hashCode`. These run as
  * map-side projections — constant state per row, no shuffle — which is
  * what makes the sketch-based dedup paths linear at 100 TB.
  */
object TextHash extends Serializable {

  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime  = 0x100000001b3L

  @inline private def fnv1aBytes(bytes: Array[Byte], seed: Long): Long = {
    var h = FnvOffset ^ (seed * FnvPrime)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  @inline private def fnv1a(s: String, seed: Long): Long =
    fnv1aBytes(s.getBytes("UTF-8"), seed)

  /** n-permutation MinHash signature of a token set. Each token is
    * UTF-8-encoded once, not once per permutation (this is the map-side
    * hot loop). */
  private def minhash(tokens: Seq[String], n: Int): Array[Long] = {
    val sig = Array.fill(n)(Long.MaxValue)
    tokens.foreach { t =>
      val bytes = t.getBytes("UTF-8")
      var i = 0
      while (i < n) {
        val h = fnv1aBytes(bytes, i + 1)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Collapse a MinHash signature into `nBands` band-bucket hashes
    * (rows-per-band = sig.length / nBands). Docs sharing any band bucket
    * become LSH candidates. nBands must divide the signature length — a
    * silent remainder would weaken the sketch, and nBands > length would
    * hash every doc into one universal bucket. */
  private def bands(sig: Seq[Long], nBands: Int): Array[Long] = {
    require(nBands > 0 && sig.length % nBands == 0,
      s"lsh_bands: nBands=$nBands must divide signature length ${sig.length}")
    val rows = sig.length / nBands
    Array.tabulate(nBands) { b =>
      var h = FnvOffset
      var i = 0
      while (i < rows) {
        h ^= sig(b * rows + i)
        h *= FnvPrime
        i += 1
      }
      h
    }
  }

  /** 64-bit SimHash over a token set: sign of per-bit weighted sums. */
  private def simhash(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a(t, 0)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Winnowing-style fingerprint: min hash over all k-gram character
    * shingles, computed with a true Rabin-Karp rolling hash — O(n) time,
    * zero per-position allocation (the substring-per-position form was
    * O(n·k) with two allocations per character). */
  private def winnow(text: String, k: Int): Long = {
    if (text.length < k) fnv1a(text, 7)
    else {
      val B = 0x100000001b3L // reuse the FNV prime as the rolling base
      var bk = 1L // B^k
      var i = 0
      while (i < k) { bk *= B; i += 1 }
      var h = 0L
      i = 0
      while (i < k) { h = h * B + text.charAt(i); i += 1 }
      var best = h
      i = k
      while (i < text.length) {
        h = h * B + text.charAt(i) - bk * text.charAt(i - k)
        if (h < best) best = h
        i += 1
      }
      best
    }
  }

  /** Distinct unseeded FNV-1a ids of all k-char shingles of `text` —
    * c17's gram pass fused into one scan (r18, guide §4.2): the
    * expression form (`transform(sequence(...), i -> substring(...))` →
    * `array_distinct` → per-element fnv1a64) allocated a substring per
    * POSITION and hashed every 8-char string twice (once for the
    * distinct, once for the id mint). The ASCII fast path slides a
    * k-byte FNV window over the UTF-8 bytes with zero per-position
    * allocation; multibyte text falls back to per-position substrings
    * of k CODE POINTS, as Spark's `length`/`substring` count them
    * (identical ids: FNV over each shingle's UTF-8 bytes — the fixtures
    * are ASCII, spec-asserted). Docs shorter than k emit no shingles
    * (the oracle's `range()` semantics; no fixture doc is that short —
    * the old `sequence()` form emitted descending-index artifacts
    * there). Output order is VALUE-sorted; every consumer is
    * order-insensitive (df census, (df, id) rank, set intersection). */
  private def shingleIdSet(text: String, k: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.empty[Long]
    val bytes = text.getBytes("UTF-8")
    val ascii = bytes.length == text.length
    // multibyte text: the UTF-16 offset of every code point, plus the end
    val at = if (ascii) null else {
      val n = text.codePointCount(0, text.length)
      val a = new Array[Int](n + 1)
      var c = 0
      while (c < n) { a(c + 1) = text.offsetByCodePoints(a(c), 1); c += 1 }
      a
    }
    val m = (if (ascii) text.length else at.length - 1) - k + 1
    if (m <= 0) return Array.empty[Long]
    val hs = new Array[Long](m)
    var i = 0
    if (ascii) {
      while (i < m) {
        var h = FnvOffset
        var j = 0
        while (j < k) { h ^= (bytes(i + j) & 0xffL); h *= FnvPrime; j += 1 }
        hs(i) = h
        i += 1
      }
    } else {
      while (i < m) { hs(i) = fnv1a(text.substring(at(i), at(i + k)), 0); i += 1 }
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(hs, w)
  }

  private val minhashUdf = udf(minhash _)
  private val bandsUdf   = udf(bands _)
  private val simhashUdf = udf(simhash _)
  private val winnowUdf  = udf(winnow _)
  private val shingleIdSetUdf = udf(shingleIdSet _)

  def minhash_signature(tokens: Column, n: Column): Column = minhashUdf(tokens, n)
  def lsh_bands(sig: Column, nBands: Column): Column = bandsUdf(sig, nBands)
  def simhash64(tokens: Column): Column = simhashUdf(tokens)
  def winnow_fingerprint(text: Column, k: Column): Column = winnowUdf(text, k)
  def shingle_id_set(text: Column, k: Column): Column = shingleIdSetUdf(text, k)
}
