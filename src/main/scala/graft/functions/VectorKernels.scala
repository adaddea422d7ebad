package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels behind the scalar functions of [[FunctionCatalog]]:
  * each function is a [[VectorExpressions.KernelCall]] of one method
  * here, whose generated code calls the method directly and whose
  * interpreted eval calls the same method. A standalone Scala object gets
  * static forwarders, so generated Java can call these.
  *
  * Arithmetic order is the SEQUENTIAL LEFT FOLD the DuckDB oracles use
  * (`list_reduce`), so results stay bitwise cross-engine-deterministic —
  * do not reorder or vectorize the accumulation.
  */
object VectorKernels {

  /** dot(a, b) over float arrays, accumulated in double, index order. */
  def dotF32(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** L2 norm √(Σ x_i²) of a float array, the sum accumulated in double,
    * index order. */
  def normF32(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  /** dot(a, b) over double arrays (k-means centroids), index order. */
  def dotF64(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** L2 norm √(Σ x_i²) of a double array, the sum in index order. */
  def normF64(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  /** L1 (Manhattan) distance over two ALIGNED long arrays — the byte-
    * histogram distance kernel. Integer arithmetic: exact under any
    * evaluation order, but kept index-ordered like the rest. The
    * `zip_with` + `aggregate` form it replaces ran 7× slower end to end
    * on the sf0.1 corpus: the verify runs it per candidate pair. */
  def l1I64(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += (if (d < 0) -d else d)
      i += 1
    }
    acc
  }

  /** Squared L2 distance over two aligned long arrays — the int8-code
    * distance kernel (PQ encode/LUT). Integer arithmetic: exact. */
  def distSqI64(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** 31-polynomial rolling hash mod 1e9+7 over the string's UTF-16 chars
    * (≡ code points for BMP text; matches ascii(substr(s, i, 1)) folding). */
  def rollingHash31(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      acc = (acc * 31 + str.charAt(i)) % 1000000007L
      i += 1
    }
    acc
  }

  /** 2-D Hilbert curve index of (x, y) on a 2^bits × 2^bits grid — the
    * masked form of the classic xy2d loop: each step consumes the top
    * remaining bit of both coordinates, adds the quadrant's s² offset
    * ((3·rx) XOR ry under the Hilbert quadrant orientation), masks to the
    * lower bits and rotates the sub-quadrant (the mask keeps the flip
    * s−1−x in range, which the textbook unmasked loop silently relies on
    * sign bits for). Bijective on the grid; consecutive indices are
    * grid-adjacent (|Δx|+|Δy| = 1) — the locality property
    * VectorExpressionsSpec proves exhaustively on the 8×8 grid. */
  def hilbertD2(xIn: Long, yIn: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = xIn & mask
    var y = yIn & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      x &= s - 1
      y &= s - 1
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** True Damerau-Levenshtein distance (unrestricted adjacent
    * transpositions, NOT the OSA restriction) over the strings' UTF-8
    * BYTES. Spark ships `levenshtein` but nothing transposition-aware;
    * typo-heavy entity resolution wants "hte"→"the" to cost 1, not 2. Both choices match DuckDB's `damerau_levenshtein` exactly —
    * probed: d("CA","ABC")=2 (OSA would say 3) and d("héllo","hello")=2
    * (code-point distance would say 1) — so the oracle compare is
    * byte-for-byte meaningful on any input, not just ASCII. Classic
    * Lowrance-Wagner DP with a 256-entry last-occurrence table; O(|a|·|b|)
    * time and space per pair, which is why callers must block candidates
    * first (this runs per in-block pair, never all-pairs). */
  def damerauLevenshtein(aStr: UTF8String, bStr: UTF8String): Long = {
    val a = aStr.getBytes
    val b = bStr.getBytes
    val la = a.length
    val lb = b.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    // (la+2)·(lb+2) Int cells: beyond ~46 KB × 46 KB the flattened index
    // wraps Int (and the matrix would be ≥8 GiB anyway) — fail loudly
    // instead of returning a garbage distance. Callers compare short
    // fields (edit-1 neighbors, entity resolution); document-length
    // inputs belong in the shingle/MinHash family, not an O(n²) DP.
    require((la + 2).toLong * (lb + 2).toLong <= Int.MaxValue.toLong,
      s"damerau_levenshtein inputs too long for the O(|a|·|b|) DP: |a|=$la, |b|=$lb bytes")
    val w = lb + 2
    val inf = la + lb
    // (la+2) x (lb+2) DP matrix, flattened; row 0 is the "minus infinity"
    // sentinel row the transposition case indexes into.
    val d = new Array[Int]((la + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= la) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    val da = new Array[Int](256) // last row in which each byte value occurred in a
    i = 1
    while (i <= la) {
      var db = 0 // last column in THIS row where a(i-1) matched b
      val ai = a(i - 1) & 0xff
      j = 1
      while (j <= lb) {
        val bj = b(j - 1) & 0xff
        val k = da(bj)
        val l = db
        val cost = if (ai == bj) { db = j; 0 } else 1
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val trans = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var m = sub
        if (ins < m) m = ins
        if (del < m) m = del
        if (trans < m) m = trans
        d((i + 1) * w + j + 1) = m
        j += 1
      }
      da(ai) = i
      i += 1
    }
    d((la + 1) * w + lb + 1).toLong
  }

  /** All w-char window hashes of s in ONE pass: entry j (0-based) equals
    * [[rollingHash31]] of chars [j, j+w) — the TRUE rolling form
    * (subtract the outgoing char's 31^w term), where per-position
    * substring+hash is O(len·pos). Empty array when len < w. */
  def windowHash31(s: UTF8String, w: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    val p = 1000000007L
    if (n < w || w <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    var powW = 1L
    var k = 0
    while (k < w) { powW = powW * 31 % p; k += 1 }
    val out = new Array[Long](n - w + 1)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = (acc * 31 + str.charAt(i)) % p
      if (i >= w) {
        acc = (acc - str.charAt(i - w) * powW) % p
        if (acc < 0) acc += p
      }
      if (i >= w - 1) out(i - w + 1) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- fused MinHash band kernel -------------------------------------

  /** One MD5 instance per task thread: `java.security.MessageDigest` is
    * stateful but `reset()`-reusable; commons-codec (Spark's `md5()`
    * path) constructs a fresh instance per CALL, which the fused kernel
    * amortizes away. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  private val EmptyStringArray =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  /** a < b over equal-length byte arrays by UNSIGNED byte order — the
    * `UTF8String.compareTo` order (both operands here are lowercase-hex
    * ASCII, where unsigned == signed, but keep the general form). */
  private def lexLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  // ---- fused per-character histogram kernels (multimodal family) -----

  /** Per-code-point block histogram of a text payload in ONE pass,
    * replacing the `explode(transform(split(text, ''), (c, i) → key))`
    * fan-out (one ROW per character: ~300 rows per item through an
    * exchange-bound groupBy) plus the downstream
    * `map_from_entries(collect_list(...))` re-aggregation. Key formula
    * mirrors the composed built-ins exactly:
    * `(i · blocks div n) · 1000 + ascii(c)` with i the 0-based CODE
    * POINT index, n the code-point count (`length()` ≡
    * `UTF8String.numChars`), and `ascii` ≡ `codePointAt(0)` of the
    * character (the Spark `Ascii` eval) — `blocks = 1` degenerates to
    * the plain byte histogram (block term 0). Returns (k, c) entry
    * structs SORTED by k (binary-searchable by [[alignedCounts]] /
    * [[marginalCounts]]); empty array when the text has no characters
    * (the old `n >= 1` guard — callers filter `size(entries) > 0` on
    * the LEASED frame, so the guard costs no recompute). */
  def charHistEntries(text: UTF8String, blocks: Int): ArrayData = {
    val s = text.toString
    val counts = new java.util.TreeMap[Long, Long]()
    // count code points first (Spark length() = numChars = code points)
    val n = s.codePointCount(0, s.length)
    if (n < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    var off = 0
    var i = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      val k = (i.toLong * blocks / n) * 1000L + cp
      counts.merge(k, 1L, (a, b) => a + b)
      off += Character.charCount(cp)
      i += 1
    }
    val out = new Array[Any](counts.size)
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The [[charHistEntries]] contract the two count kernels binary-search
    * on: `entries`' k strictly ascending. One pass over the entries; `fn`
    * names the SQL function in the IllegalArgumentException. */
  private def requireSortedEntries(fn: String, entries: ArrayData): Unit = {
    var prev = Long.MinValue
    var i = 0
    while (i < entries.numElements()) {
      val k = entries.getStruct(i, 2).getLong(0)
      if (i > 0 && k <= prev)
        throw new IllegalArgumentException(s"$fn: entries must be sorted by k without repeats, got k $k after $prev")
      prev = k
      i += 1
    }
  }

  /** Count vector of `entries` ((k, c) structs SORTED by k — the
    * [[charHistEntries]] contract) aligned to `keys`: out(i) = c of the
    * entry with k == keys(i), else 0 — exactly
    * `transform(keys, x → coalesce(map(x), 0))` over the entry map, but
    * one binary search per key instead of a linear MapData scan inside
    * an interpreted lambda (O(|keys| · log m) vs O(|keys| · m) per
    * item). Entries out of order fail with an IllegalArgumentException
    * ([[requireSortedEntries]]): a binary search over them would count
    * silently wrong. `keys` may come in any order. */
  def alignedCounts(entries: ArrayData, keys: ArrayData): ArrayData = {
    val m = entries.numElements()
    requireSortedEntries("aligned_counts", entries)
    val out = new Array[Long](keys.numElements())
    var i = 0
    while (i < out.length) {
      val key = keys.getLong(i)
      var lo = 0
      var hi = m - 1
      var c = 0L
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val row = entries.getStruct(mid, 2)
        val k = row.getLong(0)
        if (k == key) { c = row.getLong(1); lo = hi + 1 }
        else if (k < key) lo = mid + 1
        else hi = mid - 1
      }
      out(i) = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Marginal count vector: out(i) = Σ c over entries with
    * k mod 1000 == keys(i) — the 4-block marginal
    * `coalesce(map(g),0) + coalesce(map(g+1000),0) + …` of the
    * blockhash family, generalized to any block count. `keys` must be
    * SORTED ascending without repeats (the observed-byte alphabet is);
    * one binary search per ENTRY. Unsorted entries or keys fail with an
    * IllegalArgumentException, as in [[alignedCounts]]. */
  def marginalCounts(entries: ArrayData, keys: ArrayData): ArrayData = {
    requireSortedEntries("marginal_counts", entries)
    val nk = keys.numElements()
    var j = 1
    while (j < nk) {
      if (keys.getLong(j) <= keys.getLong(j - 1))
        throw new IllegalArgumentException(
          s"marginal_counts: keys must be strictly ascending, got ${keys.getLong(j)} after ${keys.getLong(j - 1)}")
      j += 1
    }
    val out = new Array[Long](nk)
    var e = 0
    val m = entries.numElements()
    while (e < m) {
      val row = entries.getStruct(e, 2)
      val key = row.getLong(0) % 1000L
      var lo = 0
      var hi = nk - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = keys.getLong(mid)
        if (k == key) { out(mid) += row.getLong(1); lo = hi + 1 }
        else if (k < key) lo = mid + 1
        else hi = mid - 1
      }
      e += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The eight seeded MD5 hex digests [md5(s ‖ "#0"), …, md5(s ‖ "#7")]
    * of a string in one kernel call: ONE reused MessageDigest (Spark's
    * `md5()` routes through commons-codec, which constructs a fresh
    * digest instance per call) and no per-seed UTF8String concat
    * allocations. Bitwise equal to the built-in chain
    * `md5(concat(s, '#i'))` — lowercase hex over the UTF-8 bytes. */
  def md5Seeded8(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val suffix = Array[Byte]('#', '0')
    val md = md5Local.get()
    val out = new Array[Any](8)
    var h = 0
    while (h < 8) {
      md.reset()
      md.update(bytes)
      suffix(1) = ('0' + h).toByte
      md.update(suffix)
      val digest = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        val v = digest(b) & 0xff
        hex(2 * b) = HexDigits(v >>> 4)
        hex(2 * b + 1) = HexDigits(v & 0xf)
        b += 1
      }
      out(h) = UTF8String.fromBytes(hex)
      h += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fused MinHash band builder: the entire per-row chain
    * `split(text,' ') → k-word shingles → array_distinct →
    * 8 × array_min(transform(sh, x → md5(x ‖ "#i"))) →
    * 4 × concat(h_2b, h_2b+1)` in ONE byte-level pass, emitting the four
    * band values (index == band_id, the posexplode contract). Bitwise
    * equal to the composed built-in form (TextDedupSpec pins the
    * equality against the aggregate signature derivation):
    *  - word split mirrors `split(text, " ", -1)` = Java
    *    `String.split(" ", -1)`: consecutive separators yield empty
    *    words, leading/trailing empties kept, "" is one empty word —
    *    the separator is the single byte 0x20, which in UTF-8 never
    *    occurs inside a multi-byte sequence, so the byte scan equals the
    *    string scan;
    *  - shingle = words joined by single spaces (`concat_ws`), built
    *    into a fresh buffer (NOT a span of the original text, which
    *    would diverge on consecutive spaces);
    *  - distinctness via a byte-equality HashSet (array_distinct
    *    semantics; order irrelevant under min);
    *  - md5 = lowercase hex over the UTF-8 bytes (DigestUtils.md5Hex
    *    ≡ MessageDigest MD5 + lowercase hex encode);
    *  - min = UTF8String binary order ≡ unsigned byte order on the hex.
    * Returns an EMPTY array when the text has fewer than k words (the
    * caller's posexplode emits no rows — the old `size(sh) > 0` filter,
    * which re-evaluated the whole shingle pipeline below the exchange,
    * is subsumed). */
  def minhashBands8(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var sep = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') sep += 1; i += 1 }
    val m = sep + 1
    if (m < k) return EmptyStringArray
    val starts = new Array[Int](m)
    val ends = new Array[Int](m)
    var w = 0
    var s0 = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(w) = s0; ends(w) = i; w += 1; s0 = i + 1 }
      i += 1
    }
    starts(w) = s0
    ends(w) = n
    val md = md5Local.get()
    val seen = new java.util.HashSet[UTF8String]()
    val mins = new Array[Array[Byte]](8)
    val hex = new Array[Byte](32)
    val suffix = Array[Byte]('#', '0')
    val nsh = m - k + 1
    var p = 0
    while (p < nsh) {
      var len = k - 1
      var j = p
      while (j < p + k) { len += ends(j) - starts(j); j += 1 }
      val sh = new Array[Byte](len)
      var o = 0
      j = p
      while (j < p + k) {
        val l = ends(j) - starts(j)
        System.arraycopy(bytes, starts(j), sh, o, l)
        o += l
        if (j < p + k - 1) { sh(o) = ' '; o += 1 }
        j += 1
      }
      if (seen.add(UTF8String.fromBytes(sh))) {
        var h = 0
        while (h < 8) {
          md.reset()
          md.update(sh)
          suffix(1) = ('0' + h).toByte
          md.update(suffix)
          val digest = md.digest()
          var b = 0
          while (b < 16) {
            val v = digest(b) & 0xff
            hex(2 * b) = HexDigits(v >>> 4)
            hex(2 * b + 1) = HexDigits(v & 0xf)
            b += 1
          }
          if (mins(h) == null || lexLess(hex, mins(h))) mins(h) = hex.clone()
          h += 1
        }
      }
      p += 1
    }
    val out = new Array[Any](4)
    var b = 0
    while (b < 4) {
      val bv = new Array[Byte](64)
      System.arraycopy(mins(2 * b), 0, bv, 0, 32)
      System.arraycopy(mins(2 * b + 1), 0, bv, 32, 32)
      out(b) = UTF8String.fromBytes(bv)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
