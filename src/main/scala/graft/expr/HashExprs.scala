package graft.expr

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup hash kernels.
  *
  * The same signatures are expressible with array HOFs
  * (transform/aggregate/zip_with), but Spark HOFs are CodegenFallback:
  * every lambda step is an interpreted expression-tree walk with boxing
  * — the 32-seed minhash fold costs ~300M interpreted node evals on a
  * 5k-doc corpus (~50s). These expressions compute the identical values
  * in one compiled JVM loop per row (sub-second), which is the
  * difference between feasible and not at 100 TB.
  *
  * All three implement `doGenCode` as a straight static call into
  * `HashKernels`, so they participate in whole-stage codegen instead of
  * breaking the span the way CodegenFallback does (a fallback forces
  * row materialization around the expression).
  *
  * Value parity is bit-for-bit with the DuckDB oracle SQL in
  * SparkEntry: md5 over UTF-8 bytes, first 12 hex chars as a 48-bit
  * big-endian integer, (h*a_i + b_i) mod (2^61-1) minima
  * (MinHashSig); first 32 md5 bits as +-1 votes, sign bits MSB-first
  * (SimHash32).
  */
object HashKernels {
  val P: Long = 2305843009213693951L // 2^61 - 1

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  def coeffs(numHashes: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numHashes, n => (
      Array.tabulate(n)(i => 2L * i + 3L),
      Array.tabulate(n)(i => (i + 1L) * 2654435761L % P)))

  /** first 6 md5 bytes big-endian == conv(substr(md5_hex,1,12),16,10) */
  def hash48(md: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** array<string> shingles -> numHashes min-hash values. */
  def minhashSigKernel(arr: ArrayData, numHashes: Int): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val (as, bs) = coeffs(numHashes)
    val sig = Array.fill(numHashes)(P)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = hash48(md, arr.getUTF8String(i).getBytes)
      var k = 0
      while (k < numHashes) {
        val v = (h * as(k) + bs(k)) % P
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** array<string> distinct tokens -> 32-bit SimHash. */
  def simhash32Kernel(arr: ArrayData): Long = {
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](32)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 32) {
        val bit = (d(j >> 3) >> (7 - (j & 7))) & 1
        votes(j) += (if (bit == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      sig = sig * 2 + (if (votes(j) > 0) 1L else 0L)
      j += 1
    }
    sig
  }

  /** array<string> distinct tokens -> 64-bit SimHash (first 64 md5
    * bits as +-1 votes, sign bits MSB-first; wraps to a signed long).
    * The 64-bit width is what makes LSH banding scale: 4 bands of 16
    * bits = 65,536 buckets per band, vs 256 for the 32-bit variant. */
  def simhash64Kernel(arr: ArrayData): Long = {
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 64) {
        val bit = (d(j >> 3) >> (7 - (j & 7))) & 1
        votes(j) += (if (bit == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      sig = sig * 2 + (if (votes(j) > 0) 1L else 0L)
      j += 1
    }
    sig
  }

  /** DSIR per-doc importance sum: Σ model[hash48(md5(g)) mod B] over
    * an ngram array, where `model` is the DENSE bucket table of
    * 4-dp-SCALED log-ratios (longs — the decimal(18,4) unscaled
    * values, so the fold is exact integer math in one compiled loop;
    * the caller divides the sum by 10^4). Replaces the
    * explode -> broadcast-join -> re-agg pipeline for scoring: same
    * values, but map-only — no exchange at all. */
  def dsirScoreKernel(arr: ArrayData, model: Array[Long]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val b = model.length
    var sum = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      sum += model((hash48(md, arr.getUTF8String(i).getBytes) % b).toInt)
      i += 1
    }
    sum
  }

  /** one-pass (n_tokens, n_distinct, stop_hits) over a token array. */
  def tokenStatsKernel(
      arr: ArrayData,
      stopSet: java.util.HashSet[UTF8String]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    var hits = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      seen.add(t)
      if (stopSet.contains(t)) hits += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, seen.size.toLong, hits))
  }

  /** Polynomial rolling fingerprint over an ordered token array:
    * acc = (acc * 31 + (md5_48(tok) % M)) % M, M = 1e9+7. Value-
    * identical to the `aggregate` HOF formulation in
    * TextAnalysis.fingerprint (hash48 == conv(substr(md5,1,12),16,10))
    * and to the DuckDB oracle's list_reduce — but one compiled loop
    * instead of an interpreted fold with per-token hex-string md5. */
  def fingerprintKernel(arr: ArrayData): Long = {
    val md = MessageDigest.getInstance("MD5")
    val M = 1000000007L
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      acc = (acc * 31L + hash48(md, arr.getUTF8String(i).getBytes) % M) % M
      i += 1
    }
    acc
  }

  /** Stride-1 window fingerprints: position i gets the polynomial
    * fingerprint of tokens[i..i+k-1] (same per-token md5_48 % M +
    * Horner fold as fingerprintKernel, so the DuckDB mirror is the
    * windowed list_reduce of the same terms). O(n·k) on purpose —
    * the O(n) rolling-removal form needs a modular inverse the SQL
    * mirror can't express cheaply, and k is small (20-50). Token
    * hashes are computed once (O(n) md5 calls), only the fold is
    * per-window. */
  def windowFingerprintsKernel(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val M = 1000000007L
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = hash48(md, arr.getUTF8String(i).getBytes) % M
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      var acc = 0L
      var j = 0
      while (j < k) {
        acc = (acc * 31L + th(i + j)) % M
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** cosine over two double arrays; fold order identical to the HOF
    * formulation (init 0.0, ascending index) for bit parity. */
  /** Cosine of (int8-quantized-then-dequantized x) vs raw y — the
    * score an ES `int8_hnsw` index computes during the APPROXIMATE
    * stage of a knn search with `rescore_vector`: the stored vector
    * lost precision to quantization (same clamp-round as
    * quantInt8Kernel), the query did not. One pass, no allocation. */
  def quantCosineKernel(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(x.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 127.0
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    i = 0
    while (i < n) {
      val raw = x.getDouble(i)
      val a = if (scale == 0.0) 0.0 else {
        var q = math.floor(raw / scale + 0.5)
        if (q > 127.0) q = 127.0
        if (q < -127.0) q = -127.0
        q * scale
      }
      val b = y.getDouble(i)
      dot += a * b
      nx += a * a
      ny += b * b
      i += 1
    }
    // zero-norm convention: similarity 0.0, not NaN — NaN sorts ABOVE
    // every real score under desc ordering, so a single zero vector
    // would otherwise occupy rank 1 of every query's top-k
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  def cosineKernel(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val a = x.getDouble(i)
      val b = y.getDouble(i)
      dot += a * b
      nx += a * a
      ny += b * b
      i += 1
    }
    // zero-norm convention: similarity 0.0, not NaN — NaN sorts ABOVE
    // every real score under desc ordering, so a single zero vector
    // would otherwise occupy rank 1 of every query's top-k
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** tokens -> true iff ALL `terms` occur within some window whose
    * intervening-position count is <= slop, in ANY order — the ES
    * span_near in_order=false semantics (slop = window - k extra
    * positions). Classic minimal-window two-pointer: scan positions,
    * keep the LATEST position of each term; whenever all terms have
    * been seen, the candidate window is [min(last), p] and its slack
    * is (p - min + 1) - k. O(n*k) per row. */
  def spanNearKernel(toks: ArrayData, terms: Array[UTF8String], slop: Int): Boolean = {
    val k = terms.length
    val last = new Array[Int](k)
    java.util.Arrays.fill(last, -1)
    var seen = 0
    val n = toks.numElements()
    var p = 0
    while (p < n) {
      val t = toks.getUTF8String(p)
      var i = 0
      while (i < k) {
        if (terms(i).equals(t)) {
          if (last(i) < 0) seen += 1
          last(i) = p
        }
        i += 1
      }
      if (seen == k) {
        var minLast = Int.MaxValue
        var j = 0
        while (j < k) { if (last(j) < minLast) minLast = last(j); j += 1 }
        if ((p - minLast + 1) - k <= slop) return true
      }
      p += 1
    }
    false
  }

  /** spanNearKernel generalized for `span_multi` clauses: slot i
    * matches token t exactly (prefixFlag false) or as a prefix
    * (prefixFlag true). Same minimal-window two-pointer, same
    * O(n·k) bound — prefix comparison is length-bounded by the
    * pattern, not the token. */
  def spanNearMultiKernel(
      toks: ArrayData,
      terms: Array[UTF8String],
      prefixFlags: Array[Boolean],
      slop: Int): Boolean = {
    val k = terms.length
    val last = new Array[Int](k)
    java.util.Arrays.fill(last, -1)
    var seen = 0
    val n = toks.numElements()
    var p = 0
    while (p < n) {
      val t = toks.getUTF8String(p)
      var i = 0
      while (i < k) {
        val hit = if (prefixFlags(i)) t.startsWith(terms(i)) else terms(i).equals(t)
        if (hit) {
          if (last(i) < 0) seen += 1
          last(i) = p
        }
        i += 1
      }
      if (seen == k) {
        var minLast = Int.MaxValue
        var j = 0
        while (j < k) { if (last(j) < minLast) minLast = last(j); j += 1 }
        if ((p - minLast + 1) - k <= slop) return true
      }
      p += 1
    }
    false
  }

  /** tokens -> true iff `include` occurs at some position p such that
    * NO `exclude` occurrence lies in [p - pre, p + post] — the ES
    * span_not semantics (default pre = post = 0: overlap only, which
    * for distinct single terms never triggers; the useful form sets a
    * proximity window). One pass: track the latest exclude position
    * and peek ahead `post` tokens on each include hit. O(n + hits*post)
    * per row. */
  def spanNotKernel(
      toks: ArrayData,
      include: UTF8String,
      exclude: UTF8String,
      pre: Int,
      post: Int): Boolean = {
    val n = toks.numElements()
    // half-range sentinel: p - Int.MinValue would overflow and
    // suppress every doc with no exclude occurrence at all
    var lastExc = Int.MinValue / 2
    var p = 0
    while (p < n) {
      val t = toks.getUTF8String(p)
      if (exclude.equals(t)) lastExc = p
      if (include.equals(t) && p - lastExc > pre) {
        // backward window clear; scan forward up to `post` positions
        var q = p + 1
        var clean = true
        val lim = math.min(n - 1, p + post)
        while (clean && q <= lim) {
          if (exclude.equals(toks.getUTF8String(q))) clean = false
          q += 1
        }
        if (clean) return true
      }
      p += 1
    }
    false
  }

  /** Jaccard similarity of two DISTINCT-element string arrays (shingle
    * sets): |a ∩ b| / (|a| + |b| - |a ∩ b|) in one hash-probe pass —
    * no intersection ARRAY materializes (the size(array_intersect(..))
    * formulation allocates one per candidate pair, the dominant cost
    * of LSH verification). All counts are exact ints < 2^31, so the
    * final double arithmetic is bit-identical to the column math. */
  def jaccardKernel(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val (small, large, ns, nl) = if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nl) {
      if (set.contains(large.getUTF8String(i))) inter += 1
      i += 1
    }
    inter.toDouble / ((na + nb) - inter.toDouble)
  }

  /** Unrestricted Damerau-Levenshtein distance — Levenshtein plus
    * adjacent transposition as one edit, the distance Lucene's fuzzy
    * automaton counts when `transpositions: true` (the ES default).
    * The full alphabet-indexed DP (Lowrance-Wagner), not the
    * restricted optimal-string-alignment variant: OSA("ca","abc")=3
    * but DL("ca","abc")=2, and DuckDB's damerau_levenshtein (the
    * oracle) computes the unrestricted form. O(|a|·|b|) ints on the
    * heap per call; fuzzy query terms are short, so the matrices stay
    * in L1. */
  def damerauKernel(aU: UTF8String, bU: UTF8String): Int = {
    val a = aU.toString
    val b = bU.toString
    val m = a.length
    val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    val inf = m + n
    // (m+2) x (n+2) matrix with a sentinel border row/col of `inf`
    val d = Array.ofDim[Int](m + 2, n + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= m) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= n) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    // last row index (1-based) where each char occurred in `a`
    val da = new java.util.HashMap[Character, Integer](m * 2)
    i = 1
    while (i <= m) {
      var db = 0 // last column in this row where a(i-1) matched b
      j = 1
      while (j <= n) {
        val k: Int = { val v = da.get(Character.valueOf(b.charAt(j - 1))); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        var best = d(i)(j) + cost // substitution / match
        val ins = d(i + 1)(j) + 1
        if (ins < best) best = ins
        val del = d(i)(j + 1) + 1
        if (del < best) best = del
        // transposition of a(k-1..i-1) with the chars between deleted
        val tr = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        if (tr < best) best = tr
        d(i + 1)(j + 1) = best
        j += 1
      }
      da.put(Character.valueOf(a.charAt(i - 1)), Integer.valueOf(i))
      i += 1
    }
    d(m + 1)(n + 1)
  }

  /** The intervals query's `filter` rules over a TWO-term source
    * match: does some qualifying (a..b) window contain / not contain
    * the filter term strictly inside? Windows are a-then-b
    * occurrences with gap <= maxGaps (ordered) or either order
    * (unordered). One pass collects the three position lists; the
    * pair scan is bounded by occurrence counts, not doc length. */
  /** `strictInside` selects the relation: containing/not_containing
    * test the OPEN window (lo, hi) — the filter term strictly between
    * the endpoints; overlapping/not_overlapping test the CLOSED
    * window [lo, hi] — an endpoint hit counts as overlap (the filter
    * term equal to `a` or `b` at the matched positions). */
  def intervalFilterKernel(
      toks: ArrayData,
      a: UTF8String, b: UTF8String, exclude: UTF8String,
      maxGaps: Int, ordered: Boolean, wantContained: Boolean,
      strictInside: Boolean): Boolean = {
    val n = toks.numElements()
    val pa = new java.util.ArrayList[Integer]()
    val pb = new java.util.ArrayList[Integer]()
    val pe = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (a.equals(t)) pa.add(i)
      if (b.equals(t)) pb.add(i)
      if (exclude.equals(t)) pe.add(i)
      i += 1
    }
    def containsBetween(lo: Int, hi: Int): Boolean = {
      var k = 0
      while (k < pe.size()) {
        val p = pe.get(k).intValue()
        val in = if (strictInside) p > lo && p < hi else p >= lo && p <= hi
        if (in) return true
        k += 1
      }
      false
    }
    var ia = 0
    while (ia < pa.size()) {
      val x = pa.get(ia).intValue()
      var ib = 0
      while (ib < pb.size()) {
        val y = pb.get(ib).intValue()
        val (lo, hi) = if (x < y) (x, y) else (y, x)
        val windowOk =
          if (ordered) y > x && y - x <= maxGaps + 1
          else lo != hi && hi - lo <= maxGaps + 1
        if (windowOk && containsBetween(lo, hi) == wantContained) return true
        ib += 1
      }
      ia += 1
    }
    false
  }

  /** string -> analyzed token array: lowercase, then maximal
    * [a-z0-9] byte runs. Exactly the ES standard-analyzer semantics of
    * `filter(split(lower(x), "[^a-z0-9]+"), len > 0)` — every
    * non-[a-z0-9] character (multibyte UTF-8 bytes are all >= 0x80, so
    * byte scanning is safe) is a delimiter and empties are dropped —
    * but as one compiled scan instead of regex-split + interpreted
    * filter HOF. Shared by the whole text family via Analyzer.tokens.
    */
  def tokenizeKernel(s: UTF8String): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any](8)
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        var j = i + 1
        while (j < n && {
          val c = bytes(j); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) j += 1
        out.add(UTF8String.fromBytes(bytes, i, j - i))
        i = j
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The BpeTokenCount kernel: tokenize, then per word apply every
    * merge in rank order (left-to-right, non-overlapping, with the
    * consumed-delimiter rule matching the literal-replace chain), and
    * sum the resulting symbol counts. */
  def bpeCountKernel(s: UTF8String, ma: Array[String], mb: Array[String]): Long = {
    val toks = tokenizeKernel(s)
    var total = 0L
    var t = 0
    val nTok = toks.numElements()
    while (t < nTok) {
      val w = toks.getUTF8String(t).toString
      var syms = new Array[String](w.length)
      var i = 0
      while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
      var r = 0
      while (r < ma.length && syms.length > 1) {
        val a = ma(r); val b = mb(r)
        val out = new java.util.ArrayList[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out.add(a + b); j += 2
            // consumed delimiter: the element right after a merged
            // pair cannot start the next match in this pass
            if (j < syms.length) { out.add(syms(j)); j += 1 }
          } else { out.add(syms(j)); j += 1 }
        }
        if (out.size() != syms.length)
          syms = out.toArray(new Array[String](out.size()))
        r += 1
      }
      total += syms.length
      t += 1
    }
    total
  }

  /** tokens -> true iff `terms` occur in order with every consecutive
    * pair within `slop` intervening positions (gap <= slop+1) — the
    * span_near in_order=true semantics of match_phrase with slop.
    *
    * Greedy-max DP, one left-to-right pass: reach(i) = the largest
    * position where the chain terms[0..i] can currently end. Exact,
    * because the only constraint looking forward is p - reach(i-1) <=
    * slop+1 and a LARGER previous position only loosens it — so the
    * maximal reach dominates every other feasible chain end. O(n*k)
    * per row; replaces a nested interpreted-HOF chain that was ~100x
    * slower (the r1 bench's single largest cost).
    */
  def phraseSlopKernel(toks: ArrayData, terms: Array[UTF8String], slop: Int): Boolean = {
    val k = terms.length
    val reach = new Array[Int](k)
    java.util.Arrays.fill(reach, -1)
    val n = toks.numElements()
    var p = 0
    while (p < n) {
      val t = toks.getUTF8String(p)
      // descending i: reach(i-1) still holds a strictly earlier
      // position when i is processed (a token can't chain on itself).
      var i = k - 1
      while (i >= 0) {
        if (terms(i).equals(t) &&
          (i == 0 || (reach(i - 1) >= 0 && p - reach(i - 1) <= slop + 1))) {
          if (i == k - 1) return true
          reach(i) = p
        }
        i -= 1
      }
      p += 1
    }
    false
  }

  /** tokens + L stopword sets -> [n_tokens, hits_0, .., hits_{L-1}]
    * in ONE pass — the language-ID hit counters without evaluating the
    * tokenizer (or walking the array) once per language. */
  def langHitsKernel(arr: ArrayData, sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val l = sets.length
    val out = new Array[Long](l + 1)
    val n = arr.numElements()
    out(0) = n.toLong
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var j = 0
      while (j < l) {
        if (sets(j).contains(t)) out(j + 1) += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** array<string> tokens -> distinct ordered n-gram shingles. */
  def shinglesKernel(arr: ArrayData, n: Int): ArrayData = {
    val num = arr.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= num - n) {
      val parts = new Array[UTF8String](2 * n - 1)
      var k = 0
      while (k < n) {
        if (k > 0) parts(2 * k - 1) = space
        parts(2 * k) = arr.getUTF8String(i + k)
        k += 1
      }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** tokens -> true iff some occurrence of `little` lies inside a big
    * span: positions p1 of `bigA` and p2 of `bigB` whose window slack
    * (|p1-p2|+1-2) <= slop, with min(p1,p2) <= p0 <= max(p1,p2). In
    * filter context span_within and span_containing are the same
    * doc-level predicate — they differ only in WHICH span an enclosing
    * span query would consume. One pass collects the three (sorted)
    * position lists; the pair scan is bounded by occurrence counts,
    * not token count, and the little-position probe is a linear merge
    * (positions ascend). */
  def spanWithinKernel(
      toks: ArrayData,
      little: UTF8String,
      bigA: UTF8String,
      bigB: UTF8String,
      slop: Int): Boolean = {
    val n = toks.numElements()
    var p0 = new Array[Int](4); var n0 = 0
    var p1 = new Array[Int](4); var n1 = 0
    var p2 = new Array[Int](4); var n2 = 0
    def grow(a: Array[Int]): Array[Int] =
      java.util.Arrays.copyOf(a, a.length * 2)
    var p = 0
    while (p < n) {
      val t = toks.getUTF8String(p)
      if (little.equals(t)) { if (n0 == p0.length) p0 = grow(p0); p0(n0) = p; n0 += 1 }
      if (bigA.equals(t)) { if (n1 == p1.length) p1 = grow(p1); p1(n1) = p; n1 += 1 }
      if (bigB.equals(t)) { if (n2 == p2.length) p2 = grow(p2); p2(n2) = p; n2 += 1 }
      p += 1
    }
    if (n0 == 0 || n1 == 0 || n2 == 0) return false
    var i = 0
    while (i < n1) {
      var j = 0
      while (j < n2) {
        val lo = math.min(p1(i), p2(j))
        val hi = math.max(p1(i), p2(j))
        if (hi - lo - 1 <= slop) {
          // any little position in [lo, hi]? p0 ascends — binary probe
          var a = 0; var b = n0 - 1
          while (a <= b) {
            val m = (a + b) >>> 1
            if (p0(m) < lo) a = m + 1
            else if (p0(m) > hi) b = m - 1
            else return true
          }
        }
        j += 1
      }
      i += 1
    }
    false
  }

  /** int8 scalar quantization stats in one pass: [scale, max_err,
    * mse]. Symmetric per-vector quantization (ES's int8 dense-vector
    * storage shape): scale = max|x|/127, q = clamp(floor(x/scale+0.5),
    * ±127); errors measured against the dequantized value. floor(x+.5)
    * instead of round(): identical across engines. */
  def quantInt8Kernel(v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 127.0
    var maxErr = 0.0
    var sse = 0.0
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val err = if (scale == 0.0) 0.0 else {
        var q = math.floor(x / scale + 0.5)
        if (q > 127.0) q = 127.0
        if (q < -127.0) q = -127.0
        math.abs(q * scale - x)
      }
      if (err > maxErr) maxErr = err
      sse += err * err
      i += 1
    }
    new GenericArrayData(Array[Any](scale, maxErr, if (n == 0) 0.0 else sse / n))
  }

  /** int4 twin of quantInt4Kernel's stats (ES 8.18 `int4_hnsw` — the
    * 8x-compressed middle point between int8 and 1-bit BBQ): scale =
    * max|x|/7, q = clamp(floor(x/scale+0.5), ±7). Same floor(x+.5)
    * rounding convention as int8 for cross-engine parity. */
  def quantInt4Kernel(v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 7.0
    var maxErr = 0.0
    var sse = 0.0
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val err = if (scale == 0.0) 0.0 else {
        var q = math.floor(x / scale + 0.5)
        if (q > 7.0) q = 7.0
        if (q < -7.0) q = -7.0
        math.abs(q * scale - x)
      }
      if (err > maxErr) maxErr = err
      sse += err * err
      i += 1
    }
    new GenericArrayData(Array[Any](scale, maxErr, if (n == 0) 0.0 else sse / n))
  }

  /** Cosine of (int4-quantized-then-dequantized x) vs raw y — the
    * coarse score of an int4 index (quantCosineKernel with 7 levels).
    * One pass, no allocation. */
  def int4CosineKernel(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(x.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 7.0
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    i = 0
    while (i < n) {
      val raw = x.getDouble(i)
      val a = if (scale == 0.0) 0.0 else {
        var q = math.floor(raw / scale + 0.5)
        if (q > 7.0) q = 7.0
        if (q < -7.0) q = -7.0
        q * scale
      }
      val b = y.getDouble(i)
      dot += a * b
      nx += a * a
      ny += b * b
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Pack a vector's int4 codes TWO PER BYTE (the half-byte storage
    * that makes int4 8x smaller than float32): code biased +7 into an
    * unsigned nibble 0..14, even index -> low nibble, odd -> high.
    * Layout: 8 bytes of IEEE-754 scale (big-endian), then
    * ceil(dim/2) code bytes — self-contained, so a packed column IS
    * the stored index artifact. */
  def int4PackKernel(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 7.0
    val out = new Array[Byte](8 + (n + 1) / 2)
    val bits = java.lang.Double.doubleToLongBits(scale)
    i = 0
    while (i < 8) { out(i) = ((bits >>> ((7 - i) * 8)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      var q = if (scale == 0.0) 0.0 else math.floor(x / scale + 0.5)
      if (q > 7.0) q = 7.0
      if (q < -7.0) q = -7.0
      val nib = (q.toInt + 7) & 0xf
      val at = 8 + i / 2
      if ((i & 1) == 0) out(at) = (out(at) | nib).toByte
      else out(at) = (out(at) | (nib << 4)).toByte
      i += 1
    }
    out
  }

  /** Score a PACKED int4 vector against a raw query — reads only the
    * half-byte codes + the 8-byte scale header; must agree exactly
    * with int4CosineKernel on the unpacked vector (spec-pinned). */
  def int4PackedCosineKernel(packed: Array[Byte], y: ArrayData): Double = {
    if (packed.length < 8) return 0.0
    var bits = 0L
    var i = 0
    while (i < 8) { bits = (bits << 8) | (packed(i) & 0xffL); i += 1 }
    val scale = java.lang.Double.longBitsToDouble(bits)
    val n = math.min((packed.length - 8) * 2, y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    i = 0
    while (i < n) {
      val b8 = packed(8 + i / 2) & 0xff
      val nib = if ((i & 1) == 0) b8 & 0xf else (b8 >>> 4) & 0xf
      val a = (nib - 7) * scale
      val b = y.getDouble(i)
      dot += a * b
      nx += a * a
      ny += b * b
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Byte packing of a vector's int8 codes (8-byte scale header +
    * one code byte per dim, stored as q+127) — the 4x ES default
    * (`int8_hnsw`) storage, pack-once twin of int4PackKernel. */
  def int8PackKernel(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 127.0
    val out = new Array[Byte](8 + n)
    val bits = java.lang.Double.doubleToLongBits(scale)
    i = 0
    while (i < 8) { out(i) = ((bits >>> ((7 - i) * 8)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      var q = if (scale == 0.0) 0.0 else math.floor(x / scale + 0.5)
      if (q > 127.0) q = 127.0
      if (q < -127.0) q = -127.0
      out(8 + i) = ((q.toInt + 127) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Score a PACKED int8 vector against a raw query — must agree
    * exactly with quantCosineKernel over the unpacked vector. */
  def int8PackedCosineKernel(packed: Array[Byte], y: ArrayData): Double = {
    if (packed.length < 8) return 0.0
    var bits = 0L
    var i = 0
    while (i < 8) { bits = (bits << 8) | (packed(i) & 0xffL); i += 1 }
    val scale = java.lang.Double.longBitsToDouble(bits)
    val n = math.min(packed.length - 8, y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    i = 0
    while (i < n) {
      val a = ((packed(8 + i) & 0xff) - 127) * scale
      val b = y.getDouble(i)
      dot += a * b
      nx += a * a
      ny += b * b
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Product-quantization encode: assign each of the vector's m
    * subvectors to its nearest codeword by squared L2 — one byte per
    * subspace. Distances round to 1e-6 FIXED POINT before the argmin
    * (floor(d*1e6 + 0.5), d >= 0 so this is half-away-from-zero, the
    * DuckDB rule) with ties to the LOWEST code, so the oracle can
    * replay the assignment exactly. `cb` is the flattened codebook:
    * codeword (s, c) lives at offset (s*k + c)*dsub. */
  def pqEncodeKernel(v: ArrayData, cb: Array[Double], m: Int, k: Int): Array[Byte] = {
    val n = v.numElements()
    val dsub = n / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        val off = (s * k + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val t = v.getDouble(s * dsub + i) - cb(off + i)
          d += t * t
          i += 1
        }
        val dl = math.floor(d * 1e6 + 0.5).toLong
        if (dl < bestD) { bestD = dl; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** PQ code bytes -> array<int> of unsigned code values — the
    * membership view a distributed Lloyd's iteration aggregates over
    * (posexplode the vector, join position to subspace, group by the
    * code this kernel exposes). */
  def bytesToIntsKernel(b: Array[Byte]): ArrayData = {
    val out = new Array[Int](b.length)
    var i = 0
    while (i < b.length) { out(i) = b(i) & 0xff; i += 1 }
    new GenericArrayData(out)
  }

  /** Asymmetric-distance (ADC) score off the PQ codes alone: m table
    * lookups into the per-query LUT, never the float vector. The LUT
    * carries 1e-6 fixed-point longs, so the total is an EXACT decimal
    * sum (order-free) divided once — bit-equal to the oracle's
    * DECIMAL sum cast to DOUBLE. */
  def pqAdcKernel(codes: Array[Byte], lut: Array[Long], k: Int): Double = {
    var s = 0
    var tot = 0L
    while (s < codes.length) {
      tot += lut(s * k + (codes(s) & 0xff))
      s += 1
    }
    tot / 1e6
  }

  /** Mean-of-token-embeddings cosine vs a fixed query vector — the
    * dense rerank kernel of the neural inference service: average the
    * learned vectors of the row's KNOWN tokens (hash-map lookup into
    * a flat model array), cosine against the pre-embedded query.
    * Zero known tokens / zero norm -> 0.0 (the NaN-outranks hazard). */
  def denseMeanCosineKernel(
      toks: ArrayData,
      index: java.util.HashMap[UTF8String, Integer],
      flat: Array[Double],
      dim: Int,
      q: Array[Double]): Double = {
    val n = toks.numElements()
    val acc = new Array[Double](dim)
    var known = 0
    var i = 0
    while (i < n) {
      val off = index.get(toks.getUTF8String(i))
      if (off != null) {
        val base = off.intValue * dim
        var j = 0
        while (j < dim) { acc(j) += flat(base + j); j += 1 }
        known += 1
      }
      i += 1
    }
    if (known == 0) return 0.0
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var j = 0
    while (j < dim) {
      val a = acc(j) / known
      dot += a * q(j)
      nx += a * a
      ny += q(j) * q(j)
      j += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Dense dot product — one fused loop, same shape as cosineKernel
    * (the script_score `dotProduct` vector function). */
  def dotKernel(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  /** Euclidean distance (script_score `l2norm`). */
  def l2Kernel(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** Argmax-cosine centroid assignment in one compiled loop (r18):
    * for row vector v and the flattened k x dim centroid table,
    * returns (best rounded-4 cosine, lowest winning centroid index) —
    * value-identical to the r17 column form
    * `array_max(array(struct(round4(cosine(v, cent_i)), -i)))` but
    * WITHOUT the k x dim literal expression tree, which at the
    * operator's stated scale target (1e4 centroids x high-dim
    * vectors) is a multi-million-node Catalyst tree that analysis and
    * codegen cannot survive. Same round-half-away-from-zero on the
    * binary double (Num.roundDouble), same cosine fold order as
    * cosineKernel, ties to the LOWEST centroid (ascending scan,
    * strict improvement). */
  def bestCentroidKernel(
      v: ArrayData, flat: Array[Double], dim: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    require(n <= dim, s"vector dim $n exceeds centroid dim $dim")
    val k = flat.length / dim
    // hoist the row vector once: the inner loop reads it k times
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = v.getDouble(i); i += 1 }
    var nx = 0.0
    i = 0
    while (i < n) { nx += x(i) * x(i); i += 1 }
    var bestC = Double.NegativeInfinity
    var bestId = 0L
    var c = 0
    while (c < k) {
      val base = c * dim
      var dot = 0.0
      var ny = 0.0
      i = 0
      while (i < n) {
        val b = flat(base + i)
        dot += x(i) * b
        ny += b * b
        i += 1
      }
      val cos = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
      // Num.roundDouble(cos, 4): floor(|c|*1e4 + 0.5)/1e4, sign kept
      val r = math.floor(math.abs(cos) * 1e4 + 0.5) / 1e4
      val rounded = if (cos < 0) -r else r
      if (rounded > bestC) { bestC = rounded; bestId = c.toLong }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestC, bestId))
  }

  /** Dotted-quad IP string -> any-CIDR-block membership in ONE parse:
    * value-identical to the column formulation
    * `v >= net_i && v < net_i + block_i` OR-folded over blocks, with
    * `v = ipValue(ip)` = o1*2^24 + o2*2^16 + o3*2^8 + o4 — but the
    * column form re-evaluates the split-and-cast chain (and the
    * caller's derived-ip expression substituted into it) once PER
    * OCTET PER COMPARISON: 16 evaluations per row for a 2-block
    * match, which dominated q_esql_cidr's scan stage. One byte scan
    * here. Malformed input (not 4 dot-separated runs of 1-3 digits)
    * throws, matching the ANSI element_at/cast behavior of the column
    * form; the 3-digit bound also keeps an octet from spilling into its
    * neighbours or overflowing the accumulator. */
  def ipInRangesKernel(ip: UTF8String, nets: Array[Long], blocks: Array[Long]): Boolean = {
    val b = ip.getBytes
    var v = 0L
    var octet = 0L
    var nOct = 0
    var digits = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= '0' && c <= '9') {
        if (digits == 3) throw new IllegalArgumentException(s"bad dotted-quad ip: $ip")
        octet = octet * 10 + (c - '0'); digits += 1
      }
      else if (c == '.') {
        if (digits == 0 || nOct >= 3)
          throw new IllegalArgumentException(s"bad dotted-quad ip: $ip")
        v = (v << 8) + octet; octet = 0L; digits = 0; nOct += 1
      } else throw new IllegalArgumentException(s"bad dotted-quad ip: $ip")
      i += 1
    }
    if (digits == 0 || nOct != 3)
      throw new IllegalArgumentException(s"bad dotted-quad ip: $ip")
    v = (v << 8) + octet
    var j = 0
    while (j < nets.length) {
      if (v >= nets(j) && v < nets(j) + blocks(j)) return true
      j += 1
    }
    false
  }

  /** tokens × sparse query vector dot product: Σ weight(t) · tf(t).
    * One pass over the token array; the query side is a small parallel
    * (terms, weights) pair scanned linearly per token — O(n·k) with
    * k = query terms (single digits), zero allocation. The doc-side
    * "sparse features" are term frequencies from the same analyzer, so
    * the whole text-expansion score stays inside whole-stage codegen. */
  def sparseTfDot(
      toks: ArrayData,
      terms: Array[UTF8String],
      weights: Array[Double]): Double = {
    val n = toks.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var j = 0
      while (j < terms.length) {
        if (terms(j).equals(t)) { sum += weights(j); j = terms.length }
        else j += 1
      }
      i += 1
    }
    sum
  }
}

/** Argmax-cosine centroid assignment (see
  * HashKernels.bestCentroidKernel): struct(c: best rounded-4 cosine,
  * cent: winning 0-based centroid index, lowest on ties). The
  * flattened centroid table rides into codegen as ONE reference
  * object broadcast with the task closure (the DsirScoreSum /
  * DenseMeanCosine contract) instead of a k x dim literal tree, so
  * the expression stays analysis- and codegen-sized at any centroid
  * count. */
case class BestCentroid(child: Expression, flat: Seq[Double], dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(dim > 0 && flat.nonEmpty && flat.length % dim == 0,
    "centroid table must be k x dim")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("c", DoubleType, nullable = false),
    StructField("cent", LongType, nullable = false)))
  override def prettyName: String = "best_centroid"

  @transient private lazy val flatArr: Array[Double] = flat.toArray

  override def nullSafeEval(input: Any): Any =
    HashKernels.bestCentroidKernel(input.asInstanceOf[ArrayData], flatArr, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("centroids", flatArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.bestCentroidKernel($c, $flatRef, $dim);")
  }

  override protected def withNewChildInternal(newChild: Expression): BestCentroid =
    copy(child = newChild)
}

/** CIDR-block membership of a dotted-quad IP string — one compiled
  * parse per row instead of the split/cast column chain re-evaluated
  * per octet per bound (see HashKernels.ipInRangesKernel). `nets` are
  * the block base addresses as 32-bit values, `blocks` the block
  * sizes (2^(32-bits)); both are compile-time literals from the
  * query's CIDR strings. */
case class IpInRanges(child: Expression, nets: Seq[Long], blocks: Seq[Long])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(nets.nonEmpty && nets.length == blocks.length,
    "cidr_match needs parallel non-empty nets/blocks")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "ip_in_ranges"

  @transient private lazy val netArr: Array[Long] = nets.toArray
  @transient private lazy val blockArr: Array[Long] = blocks.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(HashKernels.ipInRangesKernel(
      input.asInstanceOf[UTF8String], netArr, blockArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val netsRef = ctx.addReferenceObj("nets", netArr, "long[]")
    val blocksRef = ctx.addReferenceObj("blocks", blockArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.ipInRangesKernel($c, $netsRef, $blocksRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): IpInRanges =
    copy(child = newChild)
}

/** `sparse_vector` / text_expansion scoring: the weighted term-
  * frequency dot product (see HashKernels.sparseTfDot). */
case class SparseTfDot(child: Expression, terms: Seq[String], weights: Seq[Double])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(terms.length == weights.length && terms.nonEmpty,
    "sparse vector needs parallel non-empty terms/weights")
  require(terms.distinct.size == terms.size, "sparse vector terms must be distinct")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sparse_tf_dot"

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray
  @transient private lazy val weightArr: Array[Double] = weights.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(HashKernels.sparseTfDot(
      input.asInstanceOf[ArrayData], termArr, weightArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val weightsRef = ctx.addReferenceObj("weights", weightArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.sparseTfDot($c, $termsRef, $weightsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): SparseTfDot =
    copy(child = newChild)
}

/** Dense mean-embedding cosine against a fixed query vector — the
  * neural inference service's rerank path (see
  * HashKernels.denseMeanCosineKernel). The learned model (vocab hash
  * index + flat vector table) rides into codegen as reference
  * objects, the same broadcast-with-the-closure contract as
  * DsirScoreSum's bucket model. */
case class DenseMeanCosine(
    child: Expression, query: Seq[Double], terms: Seq[String],
    flat: Seq[Double], dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(dim > 0 && query.length == dim, "query must match the model dim")
  require(terms.length * dim == flat.length, "flat table must be |vocab| x dim")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dense_mean_cosine"

  @transient private lazy val indexMap: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
    var i = 0
    terms.foreach { t => m.put(UTF8String.fromString(t), i); i += 1 }
    m
  }
  @transient private lazy val flatArr: Array[Double] = flat.toArray
  @transient private lazy val qArr: Array[Double] = query.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(HashKernels.denseMeanCosineKernel(
      input.asInstanceOf[ArrayData], indexMap, flatArr, dim, qArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("vocabIndex", indexMap, "java.util.HashMap")
    val flatRef = ctx.addReferenceObj("flatVecs", flatArr, "double[]")
    val qRef = ctx.addReferenceObj("queryVec", qArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.denseMeanCosineKernel(" +
        s"$c, $idxRef, $flatRef, $dim, $qRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): DenseMeanCosine =
    copy(child = newChild)
}

/** DSIR importance-weight sum over an ngram array against a dense
  * 4-dp-scaled log-ratio bucket model (see HashKernels.dsirScoreKernel).
  * The model rides into codegen as a reference object — 4096 longs,
  * broadcast with the task closure, never a join side. */
case class DsirScoreSum(child: Expression, model: Seq[Long])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(model.nonEmpty, "DSIR bucket model must be non-empty")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dsir_score_sum"

  @transient private lazy val modelArr: Array[Long] = model.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.dsirScoreKernel(input.asInstanceOf[ArrayData], modelArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("dsirModel", modelArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.dsirScoreKernel($c, $modelRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScoreSum =
    copy(child = newChild)
}

/** One-pass token statistics for quality scoring: (n_tokens,
  * n_distinct, stop_hits). The HOF formulation inlines the tokenizer
  * into each ratio (CollapseProject), blowing up both janino compile
  * time and runtime; this is one compiled loop. */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))
  override def prettyName: String = "token_stats"

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenStatsKernel(input.asInstanceOf[ArrayData], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.tokenStatsKernel($c, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** array<string> shingles -> array<long> of `numHashes` min-hash values. */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhashSigKernel(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.minhashSigKernel($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** array<string> ordered tokens -> polynomial rolling fingerprint. */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(HashKernels.fingerprintKernel(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.fingerprintKernel($c);")

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

/** array<string> ordered tokens -> array<long> of stride-1 window
  * fingerprints (windows of `k` tokens). */
case class WindowFingerprints(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(k >= 2, s"window must cover at least 2 tokens, got $k")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_fingerprints"

  override def nullSafeEval(input: Any): Any =
    HashKernels.windowFingerprintsKernel(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.windowFingerprintsKernel($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): WindowFingerprints =
    copy(child = newChild)
}

/** array<string> distinct tokens -> 32-bit SimHash as long. */
case class SimHash32(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(HashKernels.simhash32Kernel(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.simhash32Kernel($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** array<string> distinct tokens -> 64-bit SimHash as (signed) long. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(HashKernels.simhash64Kernel(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.simhash64Kernel($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** array<string> tokens -> distinct n-gram shingles ("tok1 tok2 tok3").
  * Same values as the HOF formulation
  * (array_distinct(transform(sequence(...), concat_ws(" ", ...)))) at
  * ~50x less cost: the interpreted-HOF version walks ~6000 expression
  * nodes per document. */
case class TokenShingles(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_shingles"

  override def nullSafeEval(input: Any): Any =
    HashKernels.shinglesKernel(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.shinglesKernel($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

/** string -> analyzed token array (the ES standard analyzer) as one
  * compiled kernel. The HOF formulation — filter(split(lower(x), re),
  * len > 0) — leaves the filter interpreted (CodegenFallback) under
  * every text operator; this is the common factor of the six slowest
  * r1 text queries. */
case class Tokenize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize"

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenizeKernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.tokenizeKernel($c);")

  override protected def withNewChildInternal(newChild: Expression): Tokenize =
    copy(child = newChild)
}

/** Real-BPE token count of a text under a ranked merge table — one
  * compiled pass (tokenize + per-word merge loop), replacing the
  * 2·|merges|-deep literal-replace Column chain so the table can be
  * trainer-sized (hundreds/thousands of merges, the merges.txt
  * shape) without exploding the plan. Semantics are EXACTLY the
  * replace chain's, including the consumed-delimiter rule: within one
  * merge's pass, the element right after a merged pair cannot START
  * the next match (its shared delimiter was consumed by the previous
  * replacement) — graft.text.Bpe documents the delta vs canonical
  * BPE, and the spec pins kernel == chain. */
case class BpeTokenCount(child: Expression, mergesA: Seq[String], mergesB: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(StringType)

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  @transient private lazy val maArr: Array[String] = mergesA.toArray
  @transient private lazy val mbArr: Array[String] = mergesB.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.bpeCountKernel(input.asInstanceOf[UTF8String], maArr, mbArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val maRef = ctx.addReferenceObj("bpeMa", maArr, "java.lang.String[]")
    val mbRef = ctx.addReferenceObj("bpeMb", mbArr, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.bpeCountKernel($c, $maRef, $mbRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** match_phrase-with-slop positional match over a token array: one
  * compiled greedy-max DP pass (see HashKernels.phraseSlopKernel)
  * instead of per-term interpreted position-list HOFs. */
case class PhraseSlopMatch(child: Expression, terms: Seq[String], slop: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = BooleanType
  override def prettyName: String = "phrase_slop_match"

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(
      HashKernels.phraseSlopKernel(input.asInstanceOf[ArrayData], termArr, slop))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.phraseSlopKernel($c, $termsRef, $slop);")
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseSlopMatch =
    copy(child = newChild)
}

/** span_near(in_order=false) positional match over a token array: one
  * compiled minimal-window pass (see HashKernels.spanNearKernel).
  * `terms` must be distinct. */
case class SpanNearMatch(child: Expression, terms: Seq[String], slop: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(terms.distinct.size == terms.size, "span_near terms must be distinct")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "span_near_match"

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(
      HashKernels.spanNearKernel(input.asInstanceOf[ArrayData], termArr, slop))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.spanNearKernel($c, $termsRef, $slop);")
  }

  override protected def withNewChildInternal(newChild: Expression): SpanNearMatch =
    copy(child = newChild)
}

/** ES `span_not`: include-term occurrence with no exclude-term
  * occurrence within [pos - pre, pos + post] (see
  * HashKernels.spanNotKernel). */
case class SpanNotMatch(
    child: Expression, include: String, exclude: String, pre: Int, post: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "span_not_match"

  @transient private lazy val inc: UTF8String = UTF8String.fromString(include)
  @transient private lazy val exc: UTF8String = UTF8String.fromString(exclude)

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(HashKernels.spanNotKernel(
      input.asInstanceOf[ArrayData], inc, exc, pre, post))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val incRef = ctx.addReferenceObj("inc", inc, "org.apache.spark.unsafe.types.UTF8String")
    val excRef = ctx.addReferenceObj("exc", exc, "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.spanNotKernel($c, $incRef, $excRef, $pre, $post);")
  }

  override protected def withNewChildInternal(newChild: Expression): SpanNotMatch =
    copy(child = newChild)
}

/** span_near whose clauses may be `span_multi` prefix matches — see
  * HashKernels.spanNearMultiKernel. */
case class SpanNearMultiMatch(
    child: Expression, terms: Seq[String], prefixes: Seq[Boolean], slop: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(terms.length == prefixes.length && terms.nonEmpty,
    "span_near needs parallel terms/prefix flags")
  require(terms.distinct.size == terms.size, "span_near terms must be distinct")

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "span_near_multi_match"

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray
  @transient private lazy val prefixArr: Array[Boolean] = prefixes.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(HashKernels.spanNearMultiKernel(
      input.asInstanceOf[ArrayData], termArr, prefixArr, slop))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val flagsRef = ctx.addReferenceObj("prefixes", prefixArr, "boolean[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.spanNearMultiKernel($c, $termsRef, $flagsRef, $slop);")
  }

  override protected def withNewChildInternal(newChild: Expression): SpanNearMultiMatch =
    copy(child = newChild)
}

/** span_within / span_containing doc-level predicate: a `little` term
  * occurrence inside a two-term big span of slack <= slop (see
  * HashKernels.spanWithinKernel for why both DSL keys share one
  * predicate in filter context). */
case class SpanWithinMatch(
    child: Expression, little: String, bigA: String, bigB: String, slop: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "span_within_match"

  @transient private lazy val lit0: UTF8String = UTF8String.fromString(little)
  @transient private lazy val big1: UTF8String = UTF8String.fromString(bigA)
  @transient private lazy val big2: UTF8String = UTF8String.fromString(bigB)

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(HashKernels.spanWithinKernel(
      input.asInstanceOf[ArrayData], lit0, big1, big2, slop))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("little", lit0, "org.apache.spark.unsafe.types.UTF8String")
    val a = ctx.addReferenceObj("bigA", big1, "org.apache.spark.unsafe.types.UTF8String")
    val b = ctx.addReferenceObj("bigB", big2, "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.spanWithinKernel($c, $l, $a, $b, $slop);")
  }

  override protected def withNewChildInternal(newChild: Expression): SpanWithinMatch =
    copy(child = newChild)
}

/** Per-language stopword hit counts in one pass:
  * [n_tokens, hits_lang0, ...]. Language-ID's per-language ratio
  * columns otherwise re-evaluate the tokenizer once per language
  * (CollapseProject re-inlines the shared projection). */
case class LangHits(child: Expression, wordSets: Seq[Seq[String]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_hits"

  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    wordSets.map { ws =>
      val s = new java.util.HashSet[UTF8String]()
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  override def nullSafeEval(input: Any): Any =
    HashKernels.langHitsKernel(input.asInstanceOf[ArrayData], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("sets", sets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.langHitsKernel($c, $setsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangHits =
    copy(child = newChild)
}

/** Exact Jaccard similarity over two distinct-element array<string>
  * columns (shingle sets) — one hash-probe pass, no intersection array
  * allocation. See HashKernels.jaccardKernel. */
case class JaccardSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.jaccardKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.jaccardKernel($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

/** Exact cosine similarity over two array<double> columns — one
  * compiled loop instead of ~400 interpreted HOF node evals per pair
  * (zip_with + two aggregate folds). The accumulation order matches the
  * HOF/oracle formulation exactly (left fold from 0.0), so results are
  * bit-identical to both. */
/** int8 quantization stats [scale, max_err, mse] — see
  * HashKernels.quantInt8Kernel. */
case class Int8QuantStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType)
  override def prettyName: String = "int8_quant_stats"
  override def nullSafeEval(input: Any): Any =
    HashKernels.quantInt8Kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.quantInt8Kernel($c);")
  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}

/** int4 quantization stats [scale, max_err, mse] — see
  * HashKernels.quantInt4Kernel (ES 8.18 int4_hnsw). */
case class Int4QuantStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType)
  override def prettyName: String = "int4_quant_stats"
  override def nullSafeEval(input: Any): Any =
    HashKernels.quantInt4Kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.quantInt4Kernel($c);")
  override protected def withNewChildInternal(newChild: Expression): Int4QuantStats =
    copy(child = newChild)
}

/** Cosine of int4-dequantized left vs raw right — the int4 index's
  * coarse score (QuantizedCosine with 7 levels). */
case class Int4Cosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int4_cosine"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.int4CosineKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.int4CosineKernel($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int4Cosine =
    copy(left = newLeft, right = newRight)
}

/** Half-byte packing of a vector's int4 codes (scale header + two
  * codes per byte) — see HashKernels.int4PackKernel. */
case class Int4Pack(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "int4_pack"
  override def nullSafeEval(input: Any): Any =
    HashKernels.int4PackKernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.int4PackKernel($c);")
  override protected def withNewChildInternal(newChild: Expression): Int4Pack =
    copy(child = newChild)
}

/** Cosine straight off the PACKED half-byte codes vs a raw query —
  * the scan an int4 index actually runs (8 bytes scale + dim/2 code
  * bytes per doc read, never the float vector). */
case class Int4PackedCosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int4_packed_cosine"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.int4PackedCosineKernel(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.int4PackedCosineKernel($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int4PackedCosine =
    copy(left = newLeft, right = newRight)
}

case class DotProductSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.dotKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.dotKernel($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductSim =
    copy(left = newLeft, right = newRight)
}

case class L2Norm(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.l2Kernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.l2Kernel($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Norm =
    copy(left = newLeft, right = newRight)
}

/** Quantized-index cosine (see HashKernels.quantCosineKernel) — the
  * coarse score of a two-phase knn `rescore_vector` search. */
case class QuantizedCosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quantized_cosine"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.quantCosineKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.quantCosineKernel($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedCosine =
    copy(left = newLeft, right = newRight)
}

case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    java.lang.Double.valueOf(HashKernels.cosineKernel(x, y))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.cosineKernel($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Unrestricted Damerau-Levenshtein distance between two strings —
  * see HashKernels.damerauKernel. Spark ships only plain
  * `levenshtein`; ES fuzzy queries default to `transpositions: true`,
  * which counts an adjacent swap as ONE edit (typos are dominated by
  * swaps, so the default matters). */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    Integer.valueOf(HashKernels.damerauKernel(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.damerauKernel($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

/** intervals `filter` (containing / not_containing) over a two-term
  * source match — see HashKernels.intervalFilterKernel. */
case class IntervalFilterMatch(
    child: Expression, a: String, b: String, exclude: String,
    maxGaps: Int, ordered: Boolean, wantContained: Boolean,
    strictInside: Boolean = true)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "interval_filter_match"

  @transient private lazy val aU: UTF8String = UTF8String.fromString(a)
  @transient private lazy val bU: UTF8String = UTF8String.fromString(b)
  @transient private lazy val eU: UTF8String = UTF8String.fromString(exclude)

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(HashKernels.intervalFilterKernel(
      input.asInstanceOf[ArrayData], aU, bU, eU, maxGaps, ordered, wantContained,
      strictInside))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("a", aU, "org.apache.spark.unsafe.types.UTF8String")
    val bRef = ctx.addReferenceObj("b", bU, "org.apache.spark.unsafe.types.UTF8String")
    val eRef = ctx.addReferenceObj("e", eU, "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.intervalFilterKernel(" +
        s"$c, $aRef, $bRef, $eRef, $maxGaps, $ordered, $wantContained, $strictInside);")
  }

  override protected def withNewChildInternal(newChild: Expression): IntervalFilterMatch =
    copy(child = newChild)
}

/** long content-hash -> bloom might-contain. The filter travels as a
  * Spark BROADCAST (the expression holds only the handle): a naive
  * plan reference object would re-serialize the multi-MB bit array
  * into every task binary — measured 9x super-linear at the 30x
  * probe — whereas the broadcast ships once per executor. The check
  * participates in whole-stage codegen; a false positive only costs
  * a row in the downstream verification join. */
case class BloomMightContain(
    child: Expression,
    filter: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(filter.value.mightContainLong(input.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", filter,
      "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((org.apache.spark.util.sketch.BloomFilter) $ref.value())" +
        s".mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** Product-quantization encode (see HashKernels.pqEncodeKernel): an
  * array<double> vector becomes m code bytes — dim/m·8 x smaller than
  * float64 storage. The codebook ships into codegen as a reference
  * object, one argmin loop per subspace. */
case class PqEncode(child: Expression, cb: Seq[Double], m: Int, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(m > 0 && k > 0 && k <= 256 && cb.nonEmpty && cb.length % (m * k) == 0,
    s"codebook ${cb.length} doubles does not factor into $m subspaces x $k codes")
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  @transient private lazy val cbArr: Array[Double] = cb.toArray
  override def nullSafeEval(input: Any): Any =
    HashKernels.pqEncodeKernel(input.asInstanceOf[ArrayData], cbArr, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.pqEncodeKernel($c, $cbRef, $m, $k);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Binary -> array<int> of unsigned byte values. Lets SQL read a PQ
  * code vector positionally (element_at over the array), which the
  * distributed codebook fit's stats pass needs: group sample
  * subvectors by their assigned code without a driver loop. */
case class BytesToInts(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(BinaryType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bytes_to_ints"
  override def nullSafeEval(input: Any): Any =
    HashKernels.bytesToIntsKernel(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.bytesToIntsKernel($c);")
  override protected def withNewChildInternal(newChild: Expression): BytesToInts =
    copy(child = newChild)
}

/** ADC distance off the m PQ code bytes alone (see
  * HashKernels.pqAdcKernel) — the corpus-wide coarse pass of an
  * IVFADC-style search reads codes + the broadcast per-query LUT,
  * never the float column. */
case class PqAdc(child: Expression, lut: Seq[Long], k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k > 0 && lut.nonEmpty && lut.length % k == 0,
    s"LUT ${lut.length} entries does not factor into $k codes per subspace")
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  @transient private lazy val lutArr: Array[Long] = lut.toArray
  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(HashKernels.pqAdcKernel(
      input.asInstanceOf[Array[Byte]], lutArr, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqLut", lutArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.pqAdcKernel($c, $lutRef, $k);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

/** Byte packing of a vector's int8 codes (scale header + one code
  * byte per dim) — see HashKernels.int8PackKernel. */
case class Int8Pack(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "int8_pack"
  override def nullSafeEval(input: Any): Any =
    HashKernels.int8PackKernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashKernels.int8PackKernel($c);")
  override protected def withNewChildInternal(newChild: Expression): Int8Pack =
    copy(child = newChild)
}

/** Cosine straight off the PACKED int8 codes vs a raw query — the
  * scan the persisted int8 index runs (8 bytes scale + dim code
  * bytes per doc, never the float vector). Must agree exactly with
  * QuantizedCosine over the unpacked vector. */
case class Int8PackedCosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftTypes.AbstractType] =
    Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int8_packed_cosine"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(HashKernels.int8PackedCosineKernel(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.HashKernels.int8PackedCosineKernel($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8PackedCosine =
    copy(left = newLeft, right = newRight)
}
