package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Row-at-a-time JVM kernels behind the custom Catalyst expressions in
  * [[TextExpressions]] / [[VecExpressions]]. Each kernel is the closed-form
  * equivalent of a higher-order-function (`transform`/`aggregate`) column
  * expression from round 1 — the HOF lambdas evaluate INTERPRETED per array
  * element (measured 10-100× slower than codegen), while these run as one
  * static JVM call per row inside whole-stage codegen.
  *
  * Value parity is load-bearing: every kernel reproduces the exact integer /
  * left-fold-double arithmetic of the expression it replaces, so the DuckDB
  * oracle hashes are unchanged. The equivalences are asserted in
  * KernelsSpec against the original HOF formulations.
  */
object Kernels {

  val HashPrime = 1000000007L

  /** Left-fold polynomial hash over Unicode code points, seeded with the
    * first code point (no-initial-value fold): h₁ = c₁, hᵢ = (hᵢ₋₁·31 + cᵢ)
    * mod 1e9+7; empty → 0. Matches both the Spark HOF form
    * (`aggregate(ascii(substring(...)))`) and DuckDB's
    * `list_reduce(... ascii(substring(g, i, 1)) ...)` — Spark's `ascii` and
    * DuckDB's `ascii` both return the first CODE POINT of the 1-character
    * substring, so iteration is by code point, not UTF-16 unit. */
  def polyHash(s: UTF8String): Long = polyHashString(s.toString)

  def polyHashString(str: String): Long = {
    val n = str.length
    if (n == 0) return 0L
    var acc = 0L
    var first = true
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (first) { acc = cp.toLong; first = false }
      else acc = (acc * 31 + cp) % HashPrime
      i += Character.charCount(cp)
    }
    acc
  }

  /** Spark's `trim` removes only ASCII space (0x20) from both ends —
    * deliberately NOT Java's `String.trim` (which strips all ≤ 0x20). */
  private def sparkTrim(s: String): String = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s.substring(lo, hi)
  }

  /** Whitespace tokens with `split(trim(text), "\\s+")` semantics: Java
    * regex split with limit -1 on the space-trimmed string (empty string →
    * one empty token; leading tab/newline after space-trim → leading empty
    * token, exactly like the SQL form). */
  def tokens(s: String): Array[String] = sparkTrim(s).split("\\s+", -1)

  /** Minimum polynomial hash over word `gram`-grams (whole text if fewer
    * tokens), the winnowing-style fingerprint. Replaces the O(len²)
    * interpreted form (per-gram per-char lambdas) with ONE prefix-hash pass
    * over the canonical space-joined string + O(1) modular reconstruction
    * per gram:  hash(l..r) = (H(r+1) − H(l)·31^(r−l+1)) mod p.
    *
    * The i-th gram is tokens[i..i+gram-1] joined by " " — a contiguous
    * substring of the canonical string `tokens.mkString(" ")`, which is what
    * makes the prefix trick applicable. All values < 2^31, so products fit
    * in a long with no overflow. */
  def fingerprint(s: UTF8String, gram: Int): Long = {
    val toks = tokens(s.toString)
    val nTok = toks.length

    // canonical string as a code-point array + token start offsets
    var total = 0
    var t = 0
    while (t < nTok) { total += toks(t).codePointCount(0, toks(t).length); t += 1 }
    val len = total + (nTok - 1) // single separator space between tokens
    if (len == 0) return 0L

    val cp = new Array[Int](len)
    val tokStart = new Array[Int](nTok + 1)
    var pos = 0
    t = 0
    while (t < nTok) {
      tokStart(t) = pos
      val tok = toks(t)
      var i = 0
      while (i < tok.length) {
        val c = tok.codePointAt(i)
        cp(pos) = c
        pos += 1
        i += Character.charCount(c)
      }
      if (t < nTok - 1) { cp(pos) = ' '.toInt; pos += 1 }
      t += 1
    }
    tokStart(nTok) = len + 1 // sentinel (start of hypothetical next token)

    // prefix hashes H(k) over cp[0..k-1] and powers of 31 (mod p)
    val h = new Array[Long](len + 1)
    val pw = new Array[Long](len + 1)
    pw(0) = 1L
    var k = 0
    while (k < len) {
      h(k + 1) = (h(k) * 31 + cp(k)) % HashPrime
      pw(k + 1) = (pw(k) * 31) % HashPrime
      k += 1
    }

    def hashRange(l: Int, rExcl: Int): Long = {
      val v = (h(rExcl) - (h(l) * pw(rExcl - l)) % HashPrime) % HashPrime
      if (v < 0) v + HashPrime else v
    }

    val nGrams = math.max(nTok - gram + 1, 1)
    var minHash = Long.MaxValue
    var g = 0
    while (g < nGrams) {
      val l = tokStart(g)
      val lastTok = math.min(g + gram, nTok) // slice clips at the end
      val r = tokStart(lastTok) - 1 // drop trailing separator
      val hv = if (r <= l) 0L else hashRange(l, r) // empty gram hashes to 0
      minHash = math.min(minHash, hv)
      g += 1
    }
    minHash
  }

  val HashPrime2 = 998244353L

  /** Stride-1 token-window rolling hashes: for an int-token array of length
    * n and window w, the n−w+1 combined double-modulus polynomial hashes
    * h₁·p₂ + h₂, where hₖ is the zero-seeded left fold (acc·31 + tok) mod pₖ
    * over the window (p₁ = 1e9+7, p₂ = 998244353 — ~60 combined bits, so
    * birthday collisions stay negligible at corpus scale where a single
    * 30-bit hash would false-match constantly). One O(n) prefix pass plus
    * O(1) modular reconstruction per window — the md5-per-window form this
    * replaces did O(w) string building + digest work per position (~16×
    * avoidable CPU at w=16 on the corpus-dominant dedup operator).
    *
    * SQL mirror (exact, any w ≥ 1): per modulus
    * `list_reduce(list_prepend(0::BIGINT, tokens[i:i+w-1]),
    * (acc, x) -> (acc * 31 + x) % p)` — the explicit zero seed makes the
    * fold congruence-identical to the prefix formulation. Token elements
    * must be non-null ints (the tokenizer's contract) — a null element
    * THROWS rather than silently hashing as token 0, which would
    * fabricate duplicate spans against every window containing a real
    * 0-id token. Empty when n < w. */
  def tokenWindowHashes(tokens: ArrayData, w: Int): Array[Long] = {
    val n = tokens.numElements()
    if (n < w) return Array.emptyLongArray
    val p1 = HashPrime
    val p2 = HashPrime2
    val h1 = new Array[Long](n + 1)
    val h2 = new Array[Long](n + 1)
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) throw new IllegalArgumentException(
        s"tokenWindowHashes: null token at index $i — token arrays must be null-free")
      val t = tokens.getInt(i).toLong
      h1(i + 1) = (h1(i) * 31 + t) % p1
      h2(i + 1) = (h2(i) * 31 + t) % p2
      i += 1
    }
    var pw1 = 1L
    var pw2 = 1L
    var j = 0
    while (j < w) { pw1 = pw1 * 31 % p1; pw2 = pw2 * 31 % p2; j += 1 }
    val out = new Array[Long](n - w + 1)
    var l = 0
    while (l <= n - w) {
      val a = (h1(l + w) - h1(l) * pw1 % p1) % p1
      val b = (h2(l + w) - h2(l) * pw2 % p2) % p2
      out(l) = (if (a < 0) a + p1 else a) * p2 + (if (b < 0) b + p2 else b)
      l += 1
    }
    out
  }

  /** Total occurrences of any of `words` among whitespace tokens — one
    * tokenization pass replacing N interpreted `filter(tokens, _ === w)`
    * lambdas. */
  def markerCountSum(s: UTF8String, words: Array[String]): Long = {
    val toks = tokens(s.toString)
    var count = 0L
    var i = 0
    while (i < toks.length) {
      var j = 0
      while (j < words.length) {
        if (toks(i) == words(j)) count += 1
        j += 1
      }
      i += 1
    }
    count
  }

  /** Distinct word n-gram shingles, first-occurrence order (the semantics of
    * `array_distinct(transform(sequence(...), i → concat_ws(" ", slice(w, i,
    * n))))`): grams shorter than n appear only when the text has fewer than
    * n tokens. */
  def shingles(s: UTF8String, n: Int): Array[UTF8String] = {
    val seen = shingleSet(s, n)
    val out = new Array[UTF8String](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    out
  }

  private def shingleSet(s: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val toks = tokens(s.toString)
    val nGrams = math.max(toks.length - n + 1, 1)
    val seen = new java.util.LinkedHashSet[String](nGrams * 2)
    var i = 0
    while (i < nGrams) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  // One MD5 digest per task thread: `MessageDigest` is stateful and not
  // thread-safe, and `getInstance` per token costs a provider lookup.
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** MD5 of the string's UTF-8 bytes — the bytes Spark's and DuckDB's
    * `md5(s)` hash. */
  private def md5Of(s: String): Array[Byte] = md5.get().digest(s.getBytes(StandardCharsets.UTF_8))

  /** Big-endian unsigned value of `d(0 until nBytes)` — the number the
    * first 2·nBytes hex digits of the digest spell. */
  private def prefix(d: Array[Byte], nBytes: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nBytes) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  val SimhashBits = 32

  /** 32-bit SimHash over whitespace tokens: each token is MD5-hashed once,
    * its hash is the first 4 digest bytes as an unsigned int (=
    * `conv(substring(md5(t), 1, 8), 16, 10)`), every hash bit casts a ±1
    * vote, and bit b is set iff vote b is positive. */
  def simhash32(s: UTF8String): Long = {
    val toks = tokens(s.toString)
    val votes = new Array[Int](SimhashBits)
    var t = 0
    while (t < toks.length) {
      val h = prefix(md5Of(toks(t)), 4)
      var b = 0
      while (b < SimhashBits) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  def minhashA(j: Int): Long = 1L + 7919L * j
  def minhashB(j: Int): Long = 104729L * j

  /** The first `k` MinHash components over the distinct word `n`-gram
    * shingles: each shingle is MD5-hashed once to its 60-bit prefix (first
    * 8 digest bytes `>>> 4`, = `Dedup.md5Hash60`) reduced mod p, and
    * component j is min over shingles of (a_j·h + b_j) mod p (h < 2^30,
    * so the products stay far below 2^63). */
  def minhashSig(s: UTF8String, n: Int, k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    val it = shingleSet(s, n).iterator()
    while (it.hasNext) {
      val h = (prefix(md5Of(it.next()), 8) >>> 4) % HashPrime
      var j = 0
      while (j < k) {
        val v = (minhashA(j) * h + minhashB(j)) % HashPrime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
    }
    sig
  }

  // Ordered left-fold dot products with double accumulation (equal-length
  // arrays — the expression returns null for mismatched lengths). The
  // float→double widening and strict index-order accumulation reproduce the
  // HOF form `aggregate(zip_with(...), 0.0, +)` bit for bit.

  def dotFF(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    acc
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
}
