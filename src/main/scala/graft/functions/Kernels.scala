package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The per-row kernels of the engine's native functions, each written once
  * as a plain method over Catalyst values (`UTF8String`, `ArrayData`,
  * `Array[Byte]`). [[Native]] binds each to a `StaticInvoke`, whose
  * generated code calls the method directly and whose interpreted path
  * calls the same method, so there is no second copy to drift. A NULL
  * argument never reaches a kernel: the binding returns NULL for it.
  */
object Kernels {

  /** Cosine similarity of two `array<float>` in one fused pass: dot and
    * both norms accumulate together in index order, in double — the same
    * arithmetic as the zip_with/aggregate twin (`Similarity.cosineHof`),
    * so the DuckDB oracles are shared. A length mismatch or a null
    * element yields NULL, as in the twin (zip_with pads the shorter side
    * with nulls, which poison the sum): a truncated embedding surfaces as
    * a missing score, not a confident wrong one. Zero norms give NaN. */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Common elements of two SORTED, DISTINCT sets in one merge walk:
    * `array<string>` token sets ([[graft.ops.TextAnalysis.tokenSet]], UTF8
    * binary order), or `array<bigint>` hash sets when `long` (numeric
    * order). No allocation, where `size(array_intersect(a, b))` builds a
    * hash set per candidate pair (measured ~2× on the sf0.1 verify stage).
    *
    * CONTRACT: both inputs sorted ascending (what array_sort emits) with
    * distinct elements; unsorted input silently undercounts (a per-row
    * check would cost the pass this saves). Null elements never match. */
  def intersectCount(x: ArrayData, y: ArrayData, long: Boolean): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val cmp =
          if (long) java.lang.Long.compare(x.getLong(i), y.getLong(j))
          else x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  /** SimHash of `width` (32 or 64) bits over an `array<bigint>` of token
    * hashes, in one pass with a local count per bit: bit j is set iff more
    * hashes have bit j set than clear. Bit j of a signature reads only bit
    * j of each hash, so the 64-bit signature's high and low words are the
    * 32-bit signatures of the hashes' high and low words — how the DuckDB
    * oracle rebuilds it without unsigned 64-bit arithmetic. The 64-bit
    * width is what makes pigeonhole banding prune: 8-bit chunks collide
    * for unrelated documents with probability 1/256 per band. A null
    * element counts as hash 0. */
  def simhash(hs: ArrayData, width: Int): Long = {
    val counts = new Array[Int](width)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < width) {
        counts(j) += (((h >>> j) & 1L).toInt << 1) - 1 // +1 if bit set else -1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < width) { if (counts(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** 64-bit difference hash (dHash) of a decoded 9×8 grayscale grid (the
    * [[graft.ops.Multimodal.resizeStub]] thumbnail): bit r·8 + c is set iff
    * grid[r][c] > grid[r][c+1], as unsigned bytes. Gradients survive
    * re-encoding, scaling and brightness shifts, so Hamming-close
    * signatures mean perceptually close media. A payload shorter than the
    * 72-byte grid (only the empty one) hashes to 0, the zero signature
    * SimHash gives a token-less document. */
  def dhash64(g: Array[Byte]): Long = {
    if (g.length < 72) return 0L
    var sig = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if ((g(r * 9 + c) & 0xff) > (g(r * 9 + c + 1) & 0xff))
          sig |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    sig
  }

  // One MD5 digest per thread (MessageDigest is not thread-safe and one
  // per row would dominate); the three token hashes below are views of it.
  private val md5 =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  private def digest(s: UTF8String): Array[Byte] = {
    val md = md5.get()
    md.reset()
    md.digest(s.getBytes)
  }

  /** Digest bytes o..o+3 as an unsigned big-endian 32-bit value. */
  private def word(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)

  /** First 4 md5 bytes, unsigned, in a long: definitionally
    * `conv(substring(md5(t), 1, 8), 16, 10)` (the DuckDB oracle's form)
    * without the hex string and its radix parse. Every dedup operator
    * hashes every token through this. */
  def tokenHash32(s: UTF8String): Long = word(digest(s), 0)

  /** First 8 md5 bytes as one big-endian long (may be negative: all 64
    * bits carry hash). The high word is [[tokenHash32]]; the low word
    * folds hex chars 9-16 the same way, so the oracle rebuilds each half
    * with the 32-bit hex fold and never needs unsigned 64-bit arithmetic. */
  def tokenHash64(s: UTF8String): Long = {
    val d = digest(s)
    (word(d, 0) << 32) | word(d, 4)
  }

  /** All four 32-bit words of one md5 digest (word 0 ≡ [[tokenHash32]]):
    * one digest per four independent hash streams, for consumers that
    * need many uniforms per row (the Poisson bootstrap's replica weights;
    * measured 2.0 s → 1.1 s on q_bootstrap_ci at sf0.1). DuckDB twin:
    * word k ≡ the fold of `substr(md5(s), 1 + 8k, 8)`. */
  def tokenHash32x4(s: UTF8String): ArrayData = {
    val d = digest(s)
    new GenericArrayData(Array(word(d, 0), word(d, 4), word(d, 8), word(d, 12)))
  }

  /** Jaro-Winkler similarity, the record-linkage string comparator
    * (Winkler 1990, the US Census Bureau matcher): Jaro similarity
    * (m/|a| + m/|b| + (m−t)/m)/3 over window-bounded character matches
    * and half-transpositions, boosted by the shared prefix (≤ 4 chars) at
    * p = 0.1. Spark ships `levenshtein` but no Jaro-Winkler.
    *
    * ORACLE PARITY: the arithmetic is composed exactly as DuckDB's
    * `jaro_winkler_similarity` evaluates it — bit-identical (`==` on the
    * raw doubles) over 1,770 fixture name pairs plus the textbook cases —
    * so oracle queries compare the 6dp-floored score without a boundary
    * trap. Comparison is per UTF-16 code unit here and per byte in DuckDB:
    * identical on ASCII, the contract input. */
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    // clamp: max(la,lb)/2 - 1 is -1 when both strings are single chars,
    // which would skip the match loop and score 'a' vs 'a' as 0.0; with
    // window 0 the 1x1 pair compares directly (DuckDB/rapidfuzz parity)
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!mb(j) && b.charAt(j) == a.charAt(i)) {
          ma(i) = true; mb(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // half-transpositions: matched chars out of order, counted pairwise
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t) / md) / 3.0
    // the Winkler prefix boost applies only above the 0.7 quality
    // threshold (Winkler's original gate; DuckDB/rapidfuzz implement the
    // same strict comparison — verified against the built-in)
    if (jaro <= 0.7) return jaro
    var l = 0
    val pmax = math.min(4, math.min(la, lb))
    while (l < pmax && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

/** MinHash over fixed permutations h_j(x) = (a_j · x + b_j) mod P, P =
  * 2^31 − 1: folds an `array<bigint>` of token hashes into the k-element
  * signature min_i h_j(h_i mod P) in one n·k pass. The coefficients are
  * fields, so the per-row loop reads two `long[]` and never a per-row
  * array; [[Native.minhash]] invokes [[sig]] on a literal instance.
  * Value-identical to the k array_min/transform walks of
  * `Dedup.minhashSignatureHof`, whose DuckDB oracle it shares.
  *
  * Null elements are skipped (array_min's null handling: a null hash must
  * not fold b_j mod P into every min). An input with no non-null element
  * yields a NULL signature (the HOF form yields k null mins): neither can
  * band-match, so empty documents are never near-dup candidates. */
final class MinHasher(coefs: Seq[(Long, Long)]) extends Serializable {
  require(coefs.nonEmpty, "minhash needs at least one permutation")

  private val a = coefs.map(_._1).toArray
  private val b = coefs.map(_._2).toArray

  def sig(hs: ArrayData): ArrayData = {
    val P = 2147483647L
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var seen = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        seen = true
        val h = hs.getLong(i) % P
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (seen) new GenericArrayData(mins) else null
  }

  // a plan literal: equal coefficients are the same function, and the
  // plan string names the width rather than an array identity
  override def equals(o: Any): Boolean = o match {
    case m: MinHasher => java.util.Arrays.equals(a, m.a) && java.util.Arrays.equals(b, m.b)
    case _ => false
  }
  override def hashCode: Int = 31 * java.util.Arrays.hashCode(a) + java.util.Arrays.hashCode(b)
  override def toString: String = s"MinHasher(k=${a.length})"
}
