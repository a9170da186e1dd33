package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native vector kernels. Spark's higher-order functions (`zip_with` +
  * `aggregate`) are interpreted per element with boxing — fine for
  * occasional use, ~50x too slow for N² similarity search. These
  * expressions run a tight primitive loop in both interpreted and
  * generated code, while producing BIT-IDENTICAL results to the HOF
  * formulation (same index order, same float→double widening), so
  * correctness oracles are unaffected.
  */
object VecOps {
  /** Ordered dot product over float arrays, double accumulation.
    * Public static — generated code calls it.
    */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    s
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** SimHash from an array of 64-bit word hashes: +1/-1 bit votes per
    * occurrence, sign → signature bit. Public static for codegen.
    */
  def simhash(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** MinHash signature of `k` lanes from an array of 64-bit shingle
    * hashes. Lane j uses a splitmix64 finalizer over (h ^ mix(j)) — a
    * cheap high-quality universal family. Public static for codegen.
    */
  def minhash(hashes: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < k) {
        var z = h ^ (j.toLong * 0x9e3779b97f4a7c15L + 0x94d049bb133111ebL)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= (z >>> 31)
        if (z < sig(j)) sig(j) = z
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Count of common elements between two SORTED long arrays (merge
    * walk, no allocation). `array_intersect` builds a boxed hash set
    * per evaluation — 50x the cost on the N²-pairs verification path.
    * Public static for codegen.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Bottom-k sketch for the containment screen, 2 bytes per entry:
    * the top-16 bits (sign-preserving, so sorted order survives) of
    * the k smallest values of a SORTED-distinct shingle-hash array.
    * 64 entries cost the same 128 bytes as 16 full longs but give the
    * screen's binomial test 4× the sample — truncation's only costs
    * are ~0.1% false-positive membership matches (conservative: they
    * inflate m, never deflate it) and boundary ties excluded from the
    * decidable region (also conservative). Public static for codegen.
    */
  def kmvSketch16(hs: ArrayData, k: Int): ArrayData = {
    val n = math.min(hs.numElements(), k)
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = (hs.getLong(i) >> 48).toShort
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  def kmv_sketch16(hs: Column, k: Int): Column =
    ColumnBridge.column(KmvSketch16(ColumnBridge.expression(hs), k))

  /** KMV containment screen: decides from two [[kmvSketch16]] sketches
    * whether a candidate pair can still reach containment ≥ τ, so the
    * full shingle arrays are fetched only for plausible pairs. Returns
    * true = keep (fetch + exact-verify), false = reject.
    *
    * Below the strict threshold M = min(boundA, boundB) — boundX being
    * skX's last entry, or +∞ when the sketch holds ALL of X —
    * membership is decidable: every element of X truncating strictly
    * below boundX has its truncation present in skX (strict-less keeps
    * this sound across truncation ties). The d elements of the smaller
    * set S that fall below M are a uniform random sample of S (hash
    * order is independent of the partner's contents), and m = |{those
    * whose truncation appears in the larger side's sketch}| is a
    * measured ~Binomial(d, c) draw for true containment c, biased only
    * UPWARD by 16-bit collisions. Reject iff P[Bin(d, τ) ≤ m] < ε — a
    * pair with true c ≥ τ is rejected with probability < ε = 1e-6
    * (hypergeometric tails are no fatter than binomial, Hoeffding
    * 1963); junk pairs with small c die before touching an array.
    * Survivors are still verified EXACTLY (sorted-merge intersect), so
    * a screen pass-through costs correctness nothing; the parity spec
    * pins screened ≡ unscreened pair sets on the fixture corpus.
    * Public static for codegen.
    */
  def kmvContainScreen(skA: ArrayData, na: Long, skB: ArrayData, nb: Long, tauPct: Int): Boolean = {
    val (skS, ns, skL, nl) = if (na <= nb) (skA, na, skB, nb) else (skB, nb, skA, na)
    val kS = skS.numElements()
    val kL = skL.numElements()
    if (kS == 0 || kL == 0) return true // degenerate: nothing to measure
    val inf = Int.MaxValue // above any short
    val boundS = if (ns > kS) skS.getShort(kS - 1).toInt else inf
    val boundL = if (nl > kL) skL.getShort(kL - 1).toInt else inf
    val m0 = if (boundS < boundL) boundS else boundL
    // merge walk over the two sorted sketches, counting S-entries
    // strictly below M (d) and how many appear in L's sketch (m)
    var i = 0; var j = 0; var d = 0; var m = 0
    while (i < kS && skS.getShort(i).toInt < m0) {
      val x = skS.getShort(i)
      while (j < kL && skL.getShort(j) < x) j += 1
      if (j < kL && skL.getShort(j) == x) m += 1
      d += 1
      i += 1
    }
    m > rejectThreshold(d, tauPct)
  }

  /** Largest m with P[Binomial(d, τ) ≤ m] < 1e-6, or -1 when even
    * m = 0 is plausible (small d never rejects). Cached; d ≤ sketch-k
    * and tauPct ≤ 100 keep the table tiny.
    */
  private val screenEps = 1e-6
  private val thresholdCache = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
  private[graft] def rejectThreshold(d: Int, tauPct: Int): Int = {
    val key = Integer.valueOf((d << 8) | tauPct)
    val hit = thresholdCache.get(key)
    if (hit != null) return hit.intValue()
    if (tauPct >= 100) return d - 1 // P[Bin(d,1) <= m] = 0 for every m < d
    if (tauPct <= 0) return -1
    val p = tauPct / 100.0
    var cdf = 0.0
    var t = -1
    var m = 0
    var pmf = math.pow(1.0 - p, d) // P[X=0]
    var continue = true
    while (continue && m <= d) {
      if (cdf + pmf < screenEps) { cdf += pmf; t = m } else continue = false
      pmf = pmf * (d - m) / (m + 1) * (p / (1.0 - p))
      m += 1
    }
    thresholdCache.put(key, Integer.valueOf(t))
    t
  }

  def kmv_contain_screen(skA: Column, na: Column, skB: Column, nb: Column, tauPct: Int): Column =
    ColumnBridge.column(KmvContainScreen(
      ColumnBridge.expression(skA), ColumnBridge.expression(na),
      ColumnBridge.expression(skB), ColumnBridge.expression(nb), tauPct))

  /** Hashes of all n-word shingles of a word array: shingle i is the
    * XXH64 chain over words [i, i+n) (seed-chained per word — same
    * identity as hashing the joined string w.h.p.). Documents shorter
    * than n yield one whole-document shingle, mirroring
    * Dedup.wordShingles. Public static for codegen.
    */
  def shingleHashes(words: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val m = words.numElements()
    val effN = math.min(math.max(n, 1), math.max(m, 1))
    val cnt = math.max(m - effN + 1, if (m == 0) 0 else 1)
    val out = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      var h = 42L
      var j = 0
      while (j < effN) {
        val w = words.getUTF8String(i + j)
        h = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** FNV-1a 64-bit hash of each word in a word array — the word-hash
    * family SimHash votes on. FNV-1a is trivially reproducible in the
    * DuckDB oracle (a fold over UTF-8 bytes with HUGEINT mulmod),
    * which is what makes the whole simhash pipeline oracle-checkable;
    * an XXH64 chain is not practical in SQL. Public static for
    * codegen.
    */
  def fnvHashes(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Fingerprint64.hash(words.getUTF8String(i).getBytes)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Max repetition count of any single word in a word array
    * (boilerplate/template detector). Hash each word (XXH64), sort,
    * take the longest run — O(n log n), zero boxing. Replaces the
    * interpreted `transform(array_distinct(w), x -> size(filter(...)))`
    * HOF that was O(words x distinct) per row and ~10x slower. Word
    * identity is 64-bit-hash identity (collision odds ~2^-64/pair —
    * immaterial for repetition stats). Empty array yields 0.
    * Public static for codegen.
    */
  def maxRunCount(words: ArrayData): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = words.numElements()
    if (n == 0) return 0L
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      hs(i) = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var best = 1L
    var run = 1L
    i = 1
    while (i < n) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best
  }

  /** Fused repetition statistics for the Gopher-style quality gates:
    * [n_words, top_word_rep, n_dup_words, top_bigram_rep] in one pass.
    * Each word is hashed ONCE (XXH64); bigram identity is the hash of
    * the two adjacent word hashes, so no bigram strings are ever
    * materialized (the HOF formulation concat-allocates n-1 strings
    * per row and hashes every word twice). Run-length over the two
    * sorted hash arrays gives the max repetitions and the distinct
    * count, collision-free w.h.p. — identical tradeoff as
    * [[maxRunCount]], which the DuckDB string-side oracle confirms.
    * Public static for codegen.
    */
  def repStatsCounts(words: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = words.numElements()
    if (n == 0) return new GenericArrayData(Array(0L, 0L, 0L, 0L))
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      hs(i) = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), 42L)
      i += 1
    }
    var topBigram = 0L
    if (n >= 2) {
      val bh = new Array[Long](n - 1)
      i = 0
      while (i < n - 1) {
        bh(i) = XXH64.hashLong(hs(i + 1), hs(i)) // adjacent pair, prev hash as seed
        i += 1
      }
      java.util.Arrays.sort(bh)
      topBigram = 1L
      var run = 1L
      i = 1
      while (i < n - 1) {
        if (bh(i) == bh(i - 1)) { run += 1; if (run > topBigram) topBigram = run }
        else run = 1
        i += 1
      }
    }
    java.util.Arrays.sort(hs)
    var topWord = 1L
    var distinct = 1L
    var run = 1L
    i = 1
    while (i < n) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > topWord) topWord = run }
      else { run = 1; distinct += 1 }
      i += 1
    }
    new GenericArrayData(Array(n.toLong, topWord, n.toLong - distinct, topBigram))
  }

  /** Half-away-from-zero rounding, bit-identical to BigDecimal
    * HALF_UP (what `functions.round` applies to doubles and DuckDB's
    * `round` reproduces) but allocation-free. The half-point test
    * compares 2v against 2*floor(v)+1 — both exactly representable
    * for |v| < 2^52 — because the naive `v - floor(v)` rounds off the
    * 2^-54 ulp that separates -0.49999999999999994 from -0.5 (and
    * `Math.round`'s floor(x+.5) misrounds the positive twin).
    * Parity with the BigDecimal form is property-tested in
    * EmbedOpsSpec, edges included.
    *
    * PRECONDITION: finite input. The HALF_UP-parity claim holds for
    * finite doubles only; NaN/±Inf throw (matching the loud failure
    * of the BigDecimal.valueOf path this kernel replaced) so a
    * NaN-poisoned vector fails the job instead of silently
    * quantizing to 0 / saturating to Long.MAX.
    */
  private[graft] def roundHalfUp(v: Double): Long = {
    if (v != v) throw new IllegalArgumentException("roundHalfUp: NaN input — quantization requires finite vectors")
    if (v >= 4.503599627370496e15 || v <= -4.503599627370496e15) { // 2^52: already integral
      if (java.lang.Double.isInfinite(v))
        throw new IllegalArgumentException("roundHalfUp: infinite input — quantization requires finite vectors")
      return v.toLong
    }
    val f = math.floor(v)
    val twoV = 2.0 * v // exact: power-of-two scale
    val half = 2.0 * f + 1.0 // exact: odd integer < 2^53
    if (twoV > half) f.toLong + 1L
    else if (twoV < half) f.toLong
    else if (v >= 0.0) f.toLong + 1L // exact half: away from zero
    else f.toLong
  }

  /** Ordered integer dot product over int arrays, Long accumulation
    * (exact — no float drift, oracle-reproducible in SQL). Public
    * static for codegen.
    */
  def dotII(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getInt(i).toLong * b.getInt(i).toLong
      i += 1
    }
    s
  }

  /** Symmetric per-vector int8 quantization of a float vector:
    * q_i = round(x_i * 127 / max|x|), in [-127, 127] by construction
    * (no clamp needed since |x_i| <= max|x|); an all-zero vector
    * quantizes to zeros. Float→double widening and rounding exactly
    * mirror the SQL formulation (`round(CAST(e AS DOUBLE)*127/amax)`),
    * so the DuckDB oracle matches bit-for-bit. Public static for
    * codegen.
    */
  def quantizeI8(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Int](n)
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getFloat(i).toDouble)
      if (a > amax) amax = a
      i += 1
    }
    if (amax > 0.0) {
      i = 0
      while (i < n) {
        out(i) = roundHalfUp(vec.getFloat(i).toDouble * 127.0 / amax).toInt
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Fixed-point random projection to `outDims` dimensions. Each input
    * component is first snapped to exact integer micro-units
    * (round(x*1e6) — order-free integer math from here on), then
    * accumulated with a deterministic ±1 sign per (d, j) cell drawn
    * from an LCG bit: sign = +1 iff ((1103515245*(d*outDims+j)+12345)
    * mod 2^31) >= 2^30. Pure integer arithmetic end to end, so the
    * DuckDB oracle reproduces it exactly — unlike a float Gaussian
    * projection, where summation order would diverge across engines.
    * Public static for codegen.
    */
  def randProject(vec: ArrayData, outDims: Int): ArrayData = {
    val n = vec.numElements()
    val m = new Array[Long](n)
    var d = 0
    while (d < n) {
      m(d) = roundHalfUp(vec.getFloat(d).toDouble * 1000000.0)
      d += 1
    }
    val acc = new Array[Long](outDims)
    d = 0
    while (d < n) {
      var j = 0
      while (j < outDims) {
        val lcg = (1103515245L * (d.toLong * outDims + j) + 12345L) % 2147483648L
        if (lcg >= 1073741824L) acc(j) += m(d) else acc(j) -= m(d)
        j += 1
      }
      d += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(acc)
  }

  /** Deterministic pseudo-random hyperplane component (j, d) —
    * splitmix64-style integer mix, no RNG state, identical on every
    * executor and every run. The single source of the plane family
    * the [[tableCodes]] kernel hashes with.
    */
  def planeComponent(j: Int, d: Int): Double = {
    var z = j.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble // in [-1, 1]
  }

  // plane matrices are tiny (planes*tables*dim doubles) but rebuilt
  // millions of times if resolved per row — cache per shape. Keyed by
  // (planes, tables, dim); values never change (pure function of key).
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def planeMatrix(planes: Int, tables: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((planes, tables, dim), { key =>
      val (p, t, dm) = key
      val m = new Array[Double](p * t * dm)
      var j = 0
      while (j < p * t) {
        var d = 0
        while (d < dm) { m(j * dm + d) = planeComponent(j, d); d += 1 }
        j += 1
      }
      m
    })

  /** All `tables` hyperplane-LSH codes of a float vector in one pass:
    * element t packs (t << 56) | signBits(planes) into one Long — the
    * complete (table, bucket) join key with no struct overhead. Table
    * t uses planes [t*planes, (t+1)*planes) of [[planeComponent]]'s
    * family, sign convention `dot >= 0`, exactly like the declarative
    * formulation it replaces (which built tables*planes literal
    * arrays as Catalyst expressions — past Janino's method limit for
    * the long codes clustered corpora need). Public static for
    * codegen.
    */
  def tableCodes(vec: ArrayData, planes: Int, tables: Int): ArrayData = {
    val dim = vec.numElements()
    val m = planeMatrix(planes, tables, dim)
    val out = new Array[Long](tables)
    val v = new Array[Double](dim)
    var d = 0
    while (d < dim) { v(d) = vec.getFloat(d).toDouble; d += 1 }
    var t = 0
    while (t < tables) {
      var bits = 0L
      var j = 0
      while (j < planes) {
        val off = (t * planes + j) * dim
        var s = 0.0
        d = 0
        while (d < dim) { s += v(d) * m(off + d); d += 1 }
        if (s >= 0) bits |= (1L << j)
        j += 1
      }
      out(t) = (t.toLong << 56) | bits
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  def table_codes(vec: Column, planes: Int, tables: Int): Column =
    ColumnBridge.column(TableCodes(ColumnBridge.expression(vec), planes, tables))

  /** Whitespace-token and BPE-ish-token counts of a string in one
    * code-point scan — [n_ws, n_bpe], exactly the counts of
    * non-overlapping leftmost matches of `[^ ]+` and
    * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]` (the regex alternation tries
    * alpha-run, then digit-run, then a single other code point; only
    * the literal space separates). Public static for codegen.
    */
  def tokenCounts(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    // UTF-8 byte scan: ASCII classes are byte-exact, and a non-ASCII
    // CODE POINT (what a regex class matches once) is exactly one
    // non-continuation byte — continuation bytes (10xxxxxx) are
    // skipped, so multi-byte and astral characters count once, same
    // as Java regex and RE2.
    val bytes = text.getBytes
    val n = bytes.length
    var ws = 0L
    var bpe = 0L
    var inWs = false
    var i = 0
    def isAlpha(b: Byte): Boolean = (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
    def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') { inWs = false; i += 1 }
      else {
        if (!inWs) { ws += 1; inWs = true }
        if (isAlpha(b)) {
          bpe += 1; i += 1
          while (i < n && isAlpha(bytes(i))) i += 1
        } else if (isDigit(b)) {
          bpe += 1; i += 1
          while (i < n && isDigit(bytes(i))) i += 1
        } else {
          if ((b & 0xC0) != 0x80) bpe += 1 // lead or ASCII byte: one code point
          i += 1
        }
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(Array(ws, bpe))
  }

  /** Occurrences of any of `chars` (ASCII) in a string, by byte scan —
    * UTF-8 guarantees ASCII bytes never appear inside a multi-byte
    * sequence, so the byte count equals the code-point count. Public
    * static for codegen.
    */
  def asciiCharsetCount(text: org.apache.spark.unsafe.types.UTF8String, chars: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = text.getBytes
    val cs = chars.getBytes
    var cnt = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      var j = 0
      while (j < cs.length) { if (b == cs(j)) { cnt += 1L; j = cs.length } else j += 1 }
      i += 1
    }
    cnt
  }

  /** Hashed-linear model score: Σ over word hashes of
    * weight[pmod(h, buckets)] with weight[b] = b % 2001 − 1000 —
    * the kernel form of the HOF fold in TextAnalysis.modelScore
    * (bit-identical integer math). Public static for codegen.
    */
  def hashedLinearScore(hashes: ArrayData, buckets: Long): Long = {
    val n = hashes.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      val m = ((h % buckets) + buckets) % buckets
      s += m % 2001L - 1000L
      i += 1
    }
    s
  }

  /** C95 kernel: every count the Gopher gate needs, in ONE pass over
    * the raw UTF-8 bytes plus one pass over the [[normalizeWs]] form —
    * replacing 2 regexp_replace scans, 2 split-to-array
    * materializations, 4 interpreted higher-order filters, an
    * interpreted aggregate fold, and 8 array_contains probes per row
    * (higher-order functions are CodegenFallback: every lambda
    * invocation is interpreted). Byte-exact to the declarative form
    * (`gopherGateDeclarative` in test-scope ParityFormulations, parity
    * spec in OptimizationParitySpec):
    *
    * Returns [n_words, sum_len, n_hash, n_ell, n_lines, n_bullet,
    * n_ell_line, n_alpha, n_gstop] with the exact Spark semantics:
    * split keeps trailing empty fields (n_lines = '\n' count + 1,
    * n_words = ' ' count + 1 on the normalized form — empty text is
    * ONE empty word); ltrim/rtrim strip ASCII space ONLY; "..." counts
    * non-overlapping leftmost (= floor(run/3) per maximal dot run);
    * word lengths are CODE POINTS (continuation bytes skipped); a word
    * is alphabetic when it contains an ASCII [a-z] byte (the text is
    * lowercased by normalizeWs, matching rlike("[a-z]")); stop words
    * are counted by distinct PRESENCE. Public static for codegen.
    */
  def gopherCounts(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val raw = text.getBytes
    val n = raw.length
    var nHash = 0L
    var dots3 = 0L
    var nEllChar = 0L
    var nLines = 1L
    var nBullet = 0L
    var nEllLine = 0L
    var dotRun = 0
    var lineFirstNs = -1 // index of first non-space byte of current line
    var lineLastNs = -1 // index of last non-space byte of current line
    var i = 0
    def closeLine(): Unit = {
      if (lineFirstNs >= 0) {
        val b = raw(lineFirstNs)
        if (b == '-' || b == '*' ||
          (b == 0xE2.toByte && lineFirstNs + 2 < n &&
            raw(lineFirstNs + 1) == 0x80.toByte && raw(lineFirstNs + 2) == 0xA2.toByte))
          nBullet += 1L
      }
      if (lineLastNs >= 2) {
        val c = raw(lineLastNs)
        if (c == '.' && raw(lineLastNs - 1) == '.' && raw(lineLastNs - 2) == '.')
          nEllLine += 1L
        else if (c == 0xA6.toByte && raw(lineLastNs - 1) == 0x80.toByte &&
          raw(lineLastNs - 2) == 0xE2.toByte)
          nEllLine += 1L
      }
      lineFirstNs = -1
      lineLastNs = -1
    }
    while (i < n) {
      val b = raw(i)
      if (b == '.') dotRun += 1
      else { dots3 += dotRun / 3; dotRun = 0 }
      if (b == '#') nHash += 1L
      if (b == 0xE2.toByte && i + 2 < n && raw(i + 1) == 0x80.toByte && raw(i + 2) == 0xA6.toByte)
        nEllChar += 1L
      if (b == '\n') { closeLine(); nLines += 1L }
      else if (b != ' ') {
        if (lineFirstNs < 0) lineFirstNs = i
        lineLastNs = i
      }
      i += 1
    }
    dots3 += dotRun / 3
    closeLine()
    // pass B over the normalized (lowercase, single-space) form
    val norm = normalizeWs(text).getBytes
    val m = norm.length
    var nWords = 1L
    var sumLen = 0L
    var nAlpha = 0L
    var wordHasAlpha = false
    var wordStart = 0
    var stopBits = 0
    def closeWord(end: Int): Unit = {
      if (wordHasAlpha) nAlpha += 1L
      val len = end - wordStart
      // distinct-presence stop words: the, be, to, of, and, that, have, with
      if (len >= 2 && len <= 4) {
        val b0 = norm(wordStart)
        val b1 = norm(wordStart + 1)
        len match {
          case 2 =>
            if (b0 == 'b' && b1 == 'e') stopBits |= 1
            else if (b0 == 't' && b1 == 'o') stopBits |= 2
            else if (b0 == 'o' && b1 == 'f') stopBits |= 4
          case 3 =>
            val b2 = norm(wordStart + 2)
            if (b0 == 't' && b1 == 'h' && b2 == 'e') stopBits |= 8
            else if (b0 == 'a' && b1 == 'n' && b2 == 'd') stopBits |= 16
          case 4 =>
            val b2 = norm(wordStart + 2)
            val b3 = norm(wordStart + 3)
            if (b0 == 't' && b1 == 'h' && b2 == 'a' && b3 == 't') stopBits |= 32
            else if (b0 == 'h' && b1 == 'a' && b2 == 'v' && b3 == 'e') stopBits |= 64
            else if (b0 == 'w' && b1 == 'i' && b2 == 't' && b3 == 'h') stopBits |= 128
          case _ =>
        }
      }
      wordHasAlpha = false
    }
    var j = 0
    while (j < m) {
      val b = norm(j)
      if (b == ' ') { closeWord(j); nWords += 1L; wordStart = j + 1 }
      else {
        if ((b & 0xC0) != 0x80) sumLen += 1L // one code point
        if (b >= 'a' && b <= 'z') wordHasAlpha = true
      }
      j += 1
    }
    closeWord(m)
    val nGstop = java.lang.Integer.bitCount(stopBits).toLong
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Array(nWords, sumLen, nHash, dots3 + nEllChar, nLines, nBullet, nEllLine, nAlpha, nGstop))
  }

  /** C101 kernel: green-list watermark counts in one pass over the
    * NORMALIZED (lowercase, single-space) text — replacing two slice
    * arrays, an interpreted zip_with that concatenates a fresh
    * key∥0x01∥prev∥0x01∥cur string per bigram, and an interpreted
    * aggregate fold. FNV-1a is byte-sequential, so the hash threads
    * straight over the word bytes in place: `keyState` is the FNV
    * state after key∥0x01 (precomputed once per query), each adjacent
    * word pair continues it over prev∥0x01∥cur, and greenness is
    * (h & 3) == 0 — bit-identical to
    * fingerprint64(concat(key, 0x01, prev, 0x01, cur)) (parity spec in
    * OptimizationParitySpec). Returns [n_words, n_green]; n_bigrams =
    * n_words − 1 by the split convention (empty text = one empty
    * word). Public static for codegen.
    */
  def watermarkGreenCounts(text: org.apache.spark.unsafe.types.UTF8String, keyState: Long): ArrayData = {
    val b = text.getBytes
    val n = b.length
    val P = 0x100000001b3L
    var nWords = 1L
    var nGreen = 0L
    var prevStart = 0
    var prevEnd = -1 // end-exclusive of previous word; -1 = none yet
    var wordStart = 0
    var i = 0
    def closePair(curStart: Int, curEnd: Int): Unit = {
      if (prevEnd >= 0) {
        var h = keyState
        var k = prevStart
        while (k < prevEnd) { h ^= (b(k) & 0xffL); h *= P; k += 1 }
        h ^= 0x01L; h *= P
        k = curStart
        while (k < curEnd) { h ^= (b(k) & 0xffL); h *= P; k += 1 }
        if ((h & 3L) == 0L) nGreen += 1L
      }
      prevStart = curStart
      prevEnd = curEnd
    }
    while (i < n) {
      if (b(i) == ' ') {
        closePair(wordStart, i)
        nWords += 1L
        wordStart = i + 1
      }
      i += 1
    }
    closePair(wordStart, n)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(Array(nWords, nGreen))
  }

  /** C77/C97 kernel: per-bigram (head-hash, bigram-or-tail-hash) pairs
    * over the NORMALIZED (lowercase, single-space) text, zero copies —
    * replacing two slice arrays, a zip_with building a fresh
    * `prev ∥ ' ' ∥ cur` string per bigram, and three interpreted
    * xxhash64 calls per pair (HOFs are CodegenFallback). Because the
    * normalized form separates words with EXACTLY one space, the
    * bigram string `prev ∥ ' ' ∥ cur` IS a contiguous byte range of
    * the input, and every word is one too — so all hashes are
    * `XXH64.hashUnsafeBytes` over in-place ranges (seed 42, Spark's
    * `xxhash64` seed; bit-identical, parity spec in
    * OptimizationParitySpec). `tailMode=false` returns (hh, bh) =
    * (hash(head), hash(bigram)) — [[graft.operators.TextAnalysis.bigramLmScore]]'s
    * keys; `tailMode=true` returns (hh, th) = (hash(head),
    * hash(tail)) — [[graft.operators.TextAnalysis.knBigramScore]]'s.
    * One empty word (empty text) or a single word yields no pairs,
    * the split/slice convention. Public static for codegen.
    */
  def bigramHashPairs(u: org.apache.spark.unsafe.types.UTF8String, tailMode: Boolean): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = u.numBytes()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var prevStart = -1
    var prevEnd = -1
    var wordStart = 0
    var i = 0
    def emit(curStart: Int, curEnd: Int): Unit = {
      if (prevStart >= 0) {
        val hh = XXH64.hashUnsafeBytes(base, off + prevStart, prevEnd - prevStart, 42L)
        val xh =
          if (tailMode) XXH64.hashUnsafeBytes(base, off + curStart, curEnd - curStart, 42L)
          else XXH64.hashUnsafeBytes(base, off + prevStart, curEnd - prevStart, 42L)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](hh, xh))
      }
      prevStart = curStart
      prevEnd = curEnd
    }
    while (i < n) {
      if (u.getByte(i) == ' ') { emit(wordStart, i); wordStart = i + 1 }
      i += 1
    }
    emit(wordStart, n)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** C70 kernel: clip-out reconstruction from SORTED shared window
    * starts — every token position covered by [s, s+n-1] for some
    * start s is removed; returns (n_removed, clean_text) where
    * clean_text is the kept words joined by single spaces. Replaces an
    * n-way sequence explode + DISTINCT shuffle + collect_set + an
    * interpreted per-token `array_contains` filter (O(words·|removed|)
    * per doc) with one interval-merge walk (O(words + |starts|)).
    * Byte-exact to the declarative form (parity spec in
    * OptimizationParitySpec). Public static for codegen.
    */
  def clipOutKept(ws: ArrayData, starts: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nWords = ws.numElements()
    val nStarts = starts.numElements()
    val kept = new Array[org.apache.spark.unsafe.types.UTF8String](nWords)
    var nKept = 0
    var removed = 0L
    var si = 0
    var coverEnd = -1L // inclusive end of the current merged interval
    var i = 0L
    while (i < nWords) {
      while (si < nStarts && starts.getLong(si) <= i) {
        val e = starts.getLong(si) + (n - 1)
        if (e > coverEnd) coverEnd = e
        si += 1
      }
      if (i <= coverEnd) removed += 1L
      else { kept(nKept) = ws.getUTF8String(i.toInt); nKept += 1 }
      i += 1L
    }
    val clean = org.apache.spark.unsafe.types.UTF8String.concatWs(
      org.apache.spark.unsafe.types.UTF8String.fromString(" "),
      java.util.Arrays.copyOf(kept, nKept): _*)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](removed, clean))
  }

  /** Count of token positions covered by ∪ [s, s+n-1] over sorted
    * starts — [[clipOutKept]]'s count half without the text rebuild
    * (the curatePipeline clip stage only needs the count). Public
    * static for codegen.
    */
  def coveredCount(starts: ArrayData, n: Int): Long = {
    val m = starts.numElements()
    var covered = 0L
    var coverEnd = -1L // exclusive end of the last merged interval
    var i = 0
    while (i < m) {
      val s = starts.getLong(i)
      val e = s + n // exclusive
      if (s >= coverEnd) covered += n.toLong
      else if (e > coverEnd) covered += e - coverEnd
      if (e > coverEnd) coverEnd = e
      i += 1
    }
    covered
  }

  /** Longest run of CONSECUTIVE integers in a sorted distinct array —
    * the gaps-and-islands `pos − row_number` fold as one walk,
    * replacing a per-doc window sort + two aggregations
    * ([[graft.operators.Curation.dupSpanStats]]). Public static for
    * codegen.
    */
  def maxConsecRun(sorted: ArrayData): Long = {
    val m = sorted.numElements()
    if (m == 0) return 0L
    var best = 1L
    var run = 1L
    var i = 1
    while (i < m) {
      if (sorted.getLong(i) == sorted.getLong(i - 1) + 1L) run += 1L
      else run = 1L
      if (run > best) best = run
      i += 1
    }
    best
  }

  /** Squared L2 distance between a float vector and a double vector
    * (centroid), ordered accumulation — bit-identical to
    * `aggregate(zip_with(v, c, (a,b) => (a-b)*(a-b)), 0.0, +)` for
    * equal-length arrays (float→double widening is exact, same
    * operation order), which interprets two lambdas per element per
    * centroid. Public static for codegen.
    */
  def sqDistFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  def vec_sqdist(a: Column, b: Column): Column =
    ColumnBridge.column(VecSqDistFD(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** C52 kernel: the power-iteration projection
    * s = (Σ_d (xq[d] − mu[d]) · v[d]) DIV 1e6 with mu/v as REFERENCE
    * objects instead of 64 inlined literals. The string-built
    * expression form regenerated different codegen SOURCE every
    * iteration (v changes), forcing a fresh janino compile + full
    * re-analysis per iteration — measured 0.54 s/iteration at sf0.1
    * (fresh-constants agg 0.94 s vs same-constants 0.40 s, Scratch
    * GRAFT_PROBE_PCA); with reference objects the generated source is
    * identical across iterations and runs, so the compile happens
    * once. Long addition is associative mod 2^64 and Spark's DIV on
    * Longs is Java truncation-toward-zero division — bit-identical to
    * the expression form (parity in OptimizationParitySpec). Public
    * static for codegen.
    */
  def dotCenteredDiv(xq: ArrayData, mu: Array[Long], v: Array[Long]): Long = {
    var s = 0L
    var d = 0
    while (d < mu.length) {
      s += (xq.getLong(d) - mu(d)) * v(d)
      d += 1
    }
    s / 1000000L
  }

  def dot_centered_div(xq: Column, mu: Array[Long], v: Array[Long]): Column =
    ColumnBridge.column(DotCenteredDiv(ColumnBridge.expression(xq),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(mu),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(v)))

  /** Nearest centroid over a quantized Long vector: returns
    * [argmin_j, d2_min] where d2_j = Σ_d (vec[d] − cents[j·d0+d])²
    * in exact Long arithmetic, ties broken by smallest j (strict-less
    * scan). One virtual call and one tight k×d loop per row — the
    * k-means assignment step as a single codegen projection, vs a
    * k-way join or a 512-term SQL expression. Bounds: milli-unit
    * inputs keep |diff| ≤ ~2·10⁶, so d2 ≤ d·4·10¹² — Long-safe past
    * any embedding magnitude this engine stages. Public static for
    * codegen.
    */
  def nearestCentroidLL(vec: ArrayData, cents: Array[Long], d: Int): ArrayData = {
    val k = cents.length / d
    var best = 0L
    var bestD2 = Long.MaxValue
    var j = 0
    while (j < k) {
      var s = 0L
      var i = 0
      val off = j * d
      while (i < d) {
        val df = vec.getLong(i) - cents(off + i)
        s += df * df
        i += 1
      }
      if (s < bestD2) { bestD2 = s; best = j.toLong }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(Array(best, bestD2))
  }

  def nearest_centroid_ll(vec: Column, cents: Array[Long], d: Int): Column =
    ColumnBridge.column(NearestCentroidLL(ColumnBridge.expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cents), d))

  /** `trim(regexp_replace(lower(text), "\s+", " "))` in one pass:
    * lowercase via UTF8String.toLowerCase (the same implementation
    * Spark's `lower` uses — ASCII fast path, Unicode-correct
    * otherwise), then a byte scan that collapses whitespace runs to
    * single spaces and drops leading/trailing ones. Byte-exact with
    * the DuckDB-oracle regex form: RE2 defines `\s` as the
    * pure-ASCII class [ \t\n\f\r] — NO vertical tab (0x0B), unlike
    * Java's `\s` — so this kernel deliberately matches RE2's class;
    * 0x0B passes through as an ordinary byte on both sides. The
    * DuckDB/RE2 class is the CONTRACTUAL one: the engine's correctness
    * gate hashes results against DuckDB, so the kernel must agree with
    * it byte-for-byte, and Spark's own `regexp_replace` (Java `\s`,
    * which eats 0x0B) is the side that diverges. Migration note: this
    * changed in round 11 — fingerprint/winnow/dedup indexes persisted
    * over VT-containing text BEFORE that change hash differently and
    * must be rebuilt before incremental probes against them resume.
    * Public static for codegen.
    */
  def normalizeWs(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val b = text.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
      if (ws) { if (o > 0) pendingSpace = true } // leading run: dropped
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = c
        o += 1
      }
      i += 1
    } // trailing run: pendingSpace never flushed
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, o)
  }

  def normalize_ws(text: Column): Column =
    ColumnBridge.column(NormalizeWs(ColumnBridge.expression(text)))

  /** PPJoin prefix selection against a Count-Min document-frequency
    * sketch: returns the (|s| − ⌈τ|s|⌉ + 1) elements of the shingle
    * set with the smallest (estimated df, h), IN that order — element
    * i's 0-based index is its rank in the doc's full (est, h) order,
    * which is what the positional filter needs. Any consistent total
    * order preserves the prefix theorem (two sets with J ≥ τ must
    * share a prefix element), so sketch error only shifts candidate
    * volume, never correctness — and the sketch replaces two
    * full-posting-list window sorts with one mergeable aggregation.
    * Public static for codegen.
    */
  def prefixSelect(hs: ArrayData, cms: Array[Byte], tauPct: Int): ArrayData = {
    val s = hs.numElements()
    if (s == 0) return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val prefLen = (s - (s.toLong * tauPct + 99L) / 100L + 1L).toInt
    val h = dfOrderSorted(hs, cms)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOfRange(h, 0, math.min(prefLen, s)))
  }

  def prefix_select(hs: Column, cms: Broadcast[Array[Byte]], tauPct: Int): Column =
    ColumnBridge.column(PrefixSelect(ColumnBridge.expression(hs), cms, tauPct))

  /** [[prefixSelect]]'s full-reorder sibling: the WHOLE shingle array
    * sorted by the shared (sketch-df asc, hash asc) order, so a
    * posexplode yields every shingle's positional-filter rank without
    * shuffling a single posting row through a window — the b-side of
    * containment joins needs ALL positions (a large doc's collision
    * with a small doc's prefix can sit anywhere in the large doc),
    * not just the prefix.
    */
  def dfOrderSort(hs: ArrayData, cms: Array[Byte]): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(dfOrderSorted(hs, cms))

  /** Shared (est-df asc, h asc) reorder kernel for [[prefixSelect]] /
    * [[dfOrderSort]], O(s log s) — the earlier per-row insertion sort
    * was O(s²), millions of comparisons for a multi-thousand-shingle
    * document on the containment b-side which reorders FULL docs.
    * Two primitive sorts, no boxing: (1) pack (clamped est, original
    * index) into one long and `Arrays.sort` — est monotone-clamped to
    * 2³⁹−1 (keeps the packed key's sign bit clear) collapses only the
    * ultra-common tail into one tie class,
    * still the same deterministic global order on every row; (2) walk
    * runs of equal est and `Arrays.sort` the h values inside each run,
    * which restores the exact (est asc, h signed-asc) order without
    * assuming the input array was pre-sorted.
    */
  private def dfOrderSorted(hs: ArrayData, cms: Array[Byte]): Array[Long] = {
    val s = hs.numElements()
    if (s == 0) return new Array[Long](0)
    require(s < (1 << 24), s"dfOrderSort supports < 2^24 shingles per doc, got $s")
    val h = new Array[Long](s)
    val keys = new Array[Long](s)
    val maxEst = (1L << 39) - 1L
    var i = 0
    while (i < s) {
      h(i) = hs.getLong(i)
      val e = CountMin.estimate(cms, h(i))
      keys(i) = ((if (e > maxEst) maxEst else e) << 24) | i.toLong
      i += 1
    }
    java.util.Arrays.sort(keys)
    val out = new Array[Long](s)
    i = 0
    while (i < s) {
      out(i) = h((keys(i) & 0xFFFFFFL).toInt)
      i += 1
    }
    // break est ties by h: sort each equal-est run (est = key >>> 24)
    var runStart = 0
    i = 1
    while (i <= s) {
      if (i == s || (keys(i) >>> 24) != (keys(runStart) >>> 24)) {
        if (i - runStart > 1) java.util.Arrays.sort(out, runStart, i)
        runStart = i
      }
      i += 1
    }
    out
  }

  def df_order_sort(hs: Column, cms: Broadcast[Array[Byte]]): Column =
    ColumnBridge.column(DfOrderSort(ColumnBridge.expression(hs), cms))

  def token_counts(text: Column): Column =
    ColumnBridge.column(TokenCountsExpr(ColumnBridge.expression(text)))

  def ascii_charset_count(text: Column, chars: Column): Column =
    ColumnBridge.column(AsciiCharsetCount(ColumnBridge.expression(text), ColumnBridge.expression(chars)))

  def hashed_linear_score(hashes: Column, buckets: Long): Column =
    ColumnBridge.column(HashedLinearScore(ColumnBridge.expression(hashes), buckets))

  def member_count(words: Column, set: Seq[String]): Column =
    ColumnBridge.column(MemberCount(ColumnBridge.expression(words), set))

  def trigram_profile_scores(text: Column, profiles: Seq[Seq[String]]): Column =
    ColumnBridge.column(TrigramProfileScores(ColumnBridge.expression(text), profiles))

  def greedy_token_stats(text: Column, vocab: Seq[String]): Column =
    ColumnBridge.column(GreedyTokenStats(ColumnBridge.expression(text), vocab))

  def gopher_counts(text: Column): Column =
    ColumnBridge.column(GopherCountsExpr(ColumnBridge.expression(text)))

  def bigram_hash_pairs(text: Column, tailMode: Boolean): Column =
    ColumnBridge.column(BigramHashPairs(ColumnBridge.expression(text), tailMode))

  def clip_out_kept(ws: Column, starts: Column, n: Int): Column =
    ColumnBridge.column(ClipOutKept(ColumnBridge.expression(ws), ColumnBridge.expression(starts), n))

  def covered_count(starts: Column, n: Int): Column =
    ColumnBridge.column(CoveredCount(ColumnBridge.expression(starts), n))

  def max_consec_run(sorted: Column): Column =
    ColumnBridge.column(MaxConsecRun(ColumnBridge.expression(sorted)))

  def watermark_green_counts(text: Column, key: String): Column =
    ColumnBridge.column(WatermarkGreenCounts(ColumnBridge.expression(text), key))

  /** Greedy longest-match tokenizer kernel over a NORMALIZED
    * (lowercase, single-space) string: per word, repeatedly consume
    * the longest vocabulary entry matching at the cursor (the merge-
    * table lookup a real BPE tokenizer performs after training), else
    * fall back to ONE code point = one token. Returns
    * [n_words, n_tokens, fallback_cp]. One pass, one trie walk per
    * token, no per-token allocation; code points (not Java chars)
    * advance the cursor so multi-byte text agrees with DuckDB's
    * codepoint-indexed `substr`. Vocabulary entries contain no
    * spaces, so a match can never cross a word boundary.
    */
  def greedyTokenStats(u: org.apache.spark.unsafe.types.UTF8String, trie: TokenTrie): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val s = u.toString
    var i = 0
    var words = 1L
    var tokens = 0L
    var fb = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') { words += 1; i += 1 }
      else {
        val m = trie.longestMatch(s, i)
        if (m > 0) { tokens += 1; i += m }
        else { tokens += 1; fb += 1; i += Character.charCount(cp) }
      }
    }
    new GenericArrayData(Array(words, tokens, fb))
  }

  /** One code-point scan scoring a string against several trigram
    * profiles at once: every 3-code-point window packs into one Long
    * (21 bits/code point) and probes each profile's sorted pack array
    * by binary search — no per-window string allocation, no repeated
    * text scans (the declarative alternatives measured 14.5s [one
    * replace-scan per profile trigram] and 30s [materialized trigram
    * array] at sf1; this is one pass). Window positions advance per
    * CODE POINT, matching `substring(t, i, 3)` semantics in both
    * engines. Public static for codegen.
    */
  def trigramProfileScores(text: org.apache.spark.unsafe.types.UTF8String, packs: Array[Array[Long]]): ArrayData = {
    val s = text.toString
    val out = new Array[Long](packs.length)
    var c0 = -1L // code point two back
    var c1 = -1L // previous code point
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (c0 >= 0) {
        val key = (c0 << 42) | (c1 << 21) | cp.toLong
        var p = 0
        while (p < packs.length) {
          if (java.util.Arrays.binarySearch(packs(p), key) >= 0) out(p) += 1L
          p += 1
        }
      }
      c0 = c1
      c1 = cp.toLong
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Elements of a string array contained in a fixed set — the kernel
    * form of `size(filter(w, x => array_contains(lit(set), x)))`,
    * which interprets |w|×|set| lambda compares per row. The set
    * ships as a plan reference object (addReferenceObj), so executors
    * get it with the task, never from driver-local statics. Public
    * static for codegen.
    */
  def memberCountSet(words: ArrayData, set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]): Long = {
    val n = words.numElements()
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (set.contains(words.getUTF8String(i))) cnt += 1L
      i += 1
    }
    cnt
  }

  /** mm_tiff_meta kernel: TIFF header + IFD walk over raw bytes in a
    * tight primitive loop. The HOF formulation (per-byte
    * `conv(hex(substr))` inside a `transform` over up to `maxEntries`
    * directory entries, × 2 tags) allocates several strings per BYTE
    * examined and measured 4-11s for 33k rows at sf0.1 — the kernel
    * replaces ~1,500 string ops per row with array indexing. Result is
    * `[is_tiff, byte_order, width, height]` with `byte_order` 0 = "II"
    * / 1 = "MM" and −1 sentinels for NULL (decoded back to typed NULLs
    * in [[graft.operators.Multimodal.parseTiffMeta]]). Semantics match
    * the HOF tree exactly, including truncation behavior: magic needs
    * 4 readable bytes; an unreadable IFD pointer / entry / value skips
    * that read (NULL in the old tree) and scanning continues.
    */
  def tiffMeta(bytes: Array[Byte], maxEntries: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = bytes.length
    val out = Array(0L, -1L, -1L, -1L)
    if (n < 4) return new GenericArrayData(out)
    val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
    val le = b0 == 0x49 && b1 == 0x49
    val be = b0 == 0x4d && b1 == 0x4d
    if (!le && !be) return new GenericArrayData(out)
    // u16/u32 at 0-based offset in the header's byte order; -1 = unreadable
    def u16(i: Long): Long =
      if (i < 0 || i + 1 >= n) -1L
      else {
        val a = bytes(i.toInt) & 0xff; val b = bytes(i.toInt + 1) & 0xff
        if (le) a + b * 256L else a * 256L + b
      }
    def u32(i: Long): Long = {
      val lo = u16(i); val hi = u16(i + 2)
      if (lo < 0 || hi < 0) -1L
      else if (le) lo + hi * 65536L else lo * 65536L + hi
    }
    if (u16(2) != 42L) return new GenericArrayData(out)
    out(0) = 1L
    out(1) = if (le) 0L else 1L
    val ifd = u32(4)
    if (ifd < 0) return new GenericArrayData(out)
    val nEntries = u16(ifd)
    // an unreadable entry count scans the full maxEntries window over
    // unreadable positions — i.e. finds nothing (the `least` null-skip
    // of the HOF tree); a readable one bounds the walk
    val cnt = if (nEntries < 0) 0L else math.min(nEntries, maxEntries.toLong)
    var i = 0L
    while (i < cnt && (out(2) < 0 || out(3) < 0)) {
      val p = ifd + 2L + i * 12L
      val tag = u16(p)
      if (tag == 256L || tag == 257L) {
        val typ = u16(p + 2)
        val v = if (typ == 3L) u16(p + 8) else u32(p + 8)
        val slot = if (tag == 256L) 2 else 3
        if (v >= 0 && out(slot) < 0) out(slot) = v
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def tiff_meta(payload: Column, maxEntries: Int): Column =
    ColumnBridge.column(TiffMetaExpr(ColumnBridge.expression(payload), maxEntries))

  /** mm_mp4_meta kernel: ISO BMFF (MP4, ISO/IEC 14496-12) box walk
    * over raw bytes — the video-container pendant of [[tiffMeta]].
    * Boxes are [u32-BE size][4-char type][payload...]; the file is
    * MP4 when the FIRST box is `ftyp` (§4.3). The walk reads the
    * major brand from ftyp, scans top-level boxes for `moov`, then
    * scans moov's children for `mvhd` (timescale + duration — version
    * 0 has 32-bit times, version 1 64-bit, §8.2.2) and counts `trak`
    * children (the movie's track count). Size escapes are honored:
    * size 0 = box extends to end of file, size 1 = 64-bit largesize
    * followed. `maxBoxes` bounds EACH walk, so work per blob is
    * constant — blobs whose moov sits past the bound (e.g.
    * faststart-less files with mdat first and a huge box count)
    * report header fields only, never scan megabytes.
    *
    * Result is `[is_mp4, brand, timescale, duration, n_traks]` with
    * −1 sentinels for NULL (brand is the big-endian u32 of the 4
    * ASCII brand chars; a desynced/overrunning box size stops that
    * walk, keeping whatever parsed before it — the [[tiffMeta]]
    * truncation convention).
    */
  def mp4Meta(bytes: Array[Byte], maxBoxes: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = bytes.length.toLong
    val out = Array(0L, -1L, -1L, -1L, -1L)
    def u32(i: Long): Long =
      if (i < 0 || i + 3 >= n) -1L
      else ((bytes(i.toInt) & 0xffL) << 24) | ((bytes(i.toInt + 1) & 0xffL) << 16) |
        ((bytes(i.toInt + 2) & 0xffL) << 8) | (bytes(i.toInt + 3) & 0xffL)
    // 64-bit reads cap at Long.MaxValue semantics: a value with the top
    // bit set (an 8-EiB+ box/duration) comes back negative and is
    // treated as unreadable — irrelevant below astronomic sizes
    def u64(i: Long): Long = {
      val hi = u32(i); val lo = u32(i + 4)
      if (hi < 0 || lo < 0) -1L else (hi << 32) | lo
    }
    if (n < 12 || u32(4) != 0x66747970L) return new GenericArrayData(out) // "ftyp"
    out(0) = 1L
    out(1) = u32(8) // major brand
    // end offset of the box at `off`, bounded by `limit`; -1 = desync
    def boxEnd(off: Long, limit: Long): Long = {
      val sz = u32(off)
      val end =
        if (sz == 0L) limit // §4.2: size 0 = to end of enclosing space
        else if (sz == 1L) { val l = u64(off + 8); if (l < 16L) -1L else off + l }
        else if (sz < 8L) -1L
        else off + sz
      if (end < 0 || end > limit) -1L else end
    }
    var off = 0L; var hops = 0; var moovOff = -1L; var moovEnd = -1L
    var moovHdr = 8L // 16 when moov uses the size==1 largesize escape
    var ok = true
    while (ok && off + 8 <= n && hops < maxBoxes && moovOff < 0) {
      val end = boxEnd(off, n)
      if (end < 0) ok = false
      else {
        if (u32(off + 4) == 0x6D6F6F76L) { // "moov"
          moovOff = off; moovEnd = end
          if (u32(off) == 1L) moovHdr = 16L
        }
        off = end; hops += 1
      }
    }
    if (moovOff < 0) return new GenericArrayData(out)
    var c = moovOff + moovHdr; var traks = 0L; hops = 0; ok = true
    while (ok && c + 8 <= moovEnd && hops < maxBoxes) {
      val end = boxEnd(c, moovEnd)
      if (end < 0) ok = false
      else {
        val typ = u32(c + 4)
        if (typ == 0x6D766864L) { // "mvhd"
          val v = if (c + 8 < n) bytes((c + 8).toInt) & 0xff else -1
          if (v == 0) { out(2) = u32(c + 20); out(3) = u32(c + 24) }
          else if (v == 1) { out(2) = u32(c + 28); out(3) = u64(c + 32) }
        } else if (typ == 0x7472616BL) traks += 1L // "trak"
        c = end; hops += 1
      }
    }
    out(4) = traks
    new GenericArrayData(out)
  }

  def mp4_meta(payload: Column, maxBoxes: Int): Column =
    ColumnBridge.column(Mp4MetaExpr(ColumnBridge.expression(payload), maxBoxes))

  /** mm_wav_rms kernel: decode the PCM sample data of a canonical
    * 16-bit WAV (RIFF/WAVE/fmt leading layout, "data" chunk directly
    * after the 16-byte fmt chunk — what encoders including the JDK
    * write) and fold signal statistics in one primitive pass:
    * `[is_pcm16, n_samples, sum, sum_sq, max_abs]` over signed
    * little-endian s16 samples, −1 sentinels for NULL. This is the
    * step BEYOND header parsing ([[graft.operators.Multimodal
    * .parseWavMeta]]): actual sample decode — silence/clipping
    * detection, loudness normalization inputs — as a linear byte scan
    * with a few longs out, the audio pendant of the PNG pixel decode.
    * A declared-but-truncated data chunk folds the samples present
    * (truncation convention); `maxSamples` bounds work per blob so a
    * malformed gigabyte payload can't own a task.
    */
  def wavPcmStats(bytes: Array[Byte], maxSamples: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = bytes.length
    val out = Array(0L, -1L, -1L, -1L, -1L)
    def at(i: Int): Int = bytes(i) & 0xff
    // RIFF + WAVE + fmt signatures, PCM(1), 16-bit, "data" at 36
    val ok = n >= 44 &&
      at(0) == 0x52 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x46 &&
      at(8) == 0x57 && at(9) == 0x41 && at(10) == 0x56 && at(11) == 0x45 &&
      at(12) == 0x66 && at(13) == 0x6d && at(14) == 0x74 && at(15) == 0x20 &&
      (at(20) | (at(21) << 8)) == 1 &&
      (at(34) | (at(35) << 8)) == 16 &&
      at(36) == 0x64 && at(37) == 0x61 && at(38) == 0x74 && at(39) == 0x61
    if (!ok) return new GenericArrayData(out)
    out(0) = 1L
    val declared = (at(40).toLong | (at(41).toLong << 8) | (at(42).toLong << 16) | (at(43).toLong << 24)) / 2L
    val avail = (n - 44) / 2L
    val cnt = math.min(math.min(declared, avail), maxSamples.toLong)
    var i = 0L; var sum = 0L; var sq = 0L; var mx = 0L
    while (i < cnt) {
      val p = 44 + 2 * i.toInt
      val s = ((at(p) | (at(p + 1) << 8)) << 16) >> 16 // sign-extend s16le
      sum += s; sq += s.toLong * s
      val a = math.abs(s.toLong); if (a > mx) mx = a
      i += 1
    }
    out(1) = cnt; out(2) = sum; out(3) = sq; out(4) = mx
    new GenericArrayData(out)
  }

  def wav_pcm_stats(payload: Column, maxSamples: Int): Column =
    ColumnBridge.column(WavPcmStatsExpr(ColumnBridge.expression(payload), maxSamples))

  /** mm_exif_meta kernel: EXIF orientation/dimensions from a JPEG —
    * the composition of the two walks this library already does: the
    * bounded T.81 marker walk (the [[graft.operators.Multimodal
    * .parseJpegMeta]] shape) locates the APP1 segment, its
    * `Exif\0\0` header is checked, and then a TIFF 6.0 IFD walk (the
    * [[tiffMeta]] shape, offsets RELATIVE to the embedded TIFF base
    * as EXIF requires) scans for tags 274 (Orientation), 256/257
    * (dimensions) in either byte order. Orientation is what every
    * image pipeline must read before resizing — a 90°-rotated photo
    * has swapped logical dims. Result `[has_exif, byte_order,
    * orientation, width, height]`, −1 sentinels for NULL; APP1-less
    * JPEGs and non-JPEGs report has_exif = 0. `maxHops`/`maxEntries`
    * bound both walks ([[mp4Meta]] discipline).
    */
  def exifMeta(bytes: Array[Byte], maxHops: Int, maxEntries: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = bytes.length
    val out = Array(0L, -1L, -1L, -1L, -1L)
    def at(i: Long): Int = if (i < 0 || i >= n) -1 else bytes(i.toInt) & 0xff
    def be16(i: Long): Long = { val a = at(i); val b = at(i + 1); if (a < 0 || b < 0) -1L else a * 256L + b }
    if (n < 4 || at(0) != 0xff || at(1) != 0xd8) return new GenericArrayData(out)
    // marker walk for an APP1 carrying "Exif\0\0"; stop at SOS/EOI —
    // entropy data follows. An APP1 with a different payload (XMP is
    // the common one, and often precedes the Exif segment) is skipped
    // by its declared length like any other marker segment.
    def isExifApp1(off: Long): Boolean = {
      val e = off + 4
      at(e) == 0x45 && at(e + 1) == 0x78 && at(e + 2) == 0x69 &&
        at(e + 3) == 0x66 && at(e + 4) == 0 && at(e + 5) == 0
    }
    var off = 2L; var hops = 0; var app1 = -1L
    var walking = true
    while (walking && app1 < 0 && hops < maxHops && off + 1 < n) {
      val m0 = at(off); val m1 = at(off + 1)
      if (m0 != 0xff) walking = false
      else if (m1 == 0xff) off += 1 // fill byte: slide
      else if (m1 == 0xe1 && isExifApp1(off)) app1 = off
      else if (m1 == 0x01 || (m1 >= 0xd0 && m1 <= 0xd7)) off += 2 // TEM/RSTn
      else if (m1 == 0xd9 || m1 == 0xda) walking = false // EOI/SOS
      else {
        val len = be16(off + 2)
        if (len < 2) walking = false else { off = off + 2 + len; hops += 1 }
      }
    }
    if (app1 < 0) return new GenericArrayData(out)
    val e = app1 + 4
    val base = e + 6 // embedded TIFF: all IFD offsets are relative to here
    val b0 = at(base); val b1 = at(base + 1)
    val le = b0 == 0x49 && b1 == 0x49
    val be = b0 == 0x4d && b1 == 0x4d
    if (!le && !be) return new GenericArrayData(out)
    def u16(i: Long): Long = {
      val a = at(base + i); val b = at(base + i + 1)
      if (a < 0 || b < 0) -1L else if (le) a + b * 256L else a * 256L + b
    }
    def u32(i: Long): Long = {
      val lo = u16(i); val hi = u16(i + 2)
      if (lo < 0 || hi < 0) -1L else if (le) lo + hi * 65536L else lo * 65536L + hi
    }
    if (u16(2) != 42L) return new GenericArrayData(out)
    out(0) = 1L
    out(1) = if (le) 0L else 1L
    val ifd = u32(4)
    if (ifd < 0) return new GenericArrayData(out)
    val nEntries = u16(ifd)
    val cnt = if (nEntries < 0) 0L else math.min(nEntries, maxEntries.toLong)
    var i = 0L
    while (i < cnt) {
      val p = ifd + 2L + i * 12L
      val tag = u16(p)
      if (tag == 274L || tag == 256L || tag == 257L) {
        val typ = u16(p + 2)
        val v = if (typ == 3L) u16(p + 8) else u32(p + 8)
        val slot = if (tag == 274L) 2 else if (tag == 256L) 3 else 4
        if (v >= 0 && out(slot) < 0) out(slot) = v
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def exif_meta(payload: Column, maxHops: Int, maxEntries: Int): Column =
    ColumnBridge.column(ExifMetaExpr(ColumnBridge.expression(payload), maxHops, maxEntries))

  def shingle_hashes(words: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(words), n))

  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(hashes)))

  def minhash_sig(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(hashes), k))

  def max_word_rep(words: Column): Column =
    ColumnBridge.column(MaxWordRep(ColumnBridge.expression(words)))

  def fnv_hashes(words: Column): Column =
    ColumnBridge.column(FnvHashes(ColumnBridge.expression(words)))

  def rep_stats(words: Column): Column =
    ColumnBridge.column(RepStats(ColumnBridge.expression(words)))

  def vec_dot_int(a: Column, b: Column): Column =
    ColumnBridge.column(VecDotInt(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def quantize_i8(vec: Column): Column =
    ColumnBridge.column(QuantizeI8(ColumnBridge.expression(vec)))

  def rand_project(vec: Column, outDims: Int): Column =
    ColumnBridge.column(RandProject(ColumnBridge.expression(vec), outDims))

  // ---------------------------------------------------------------
  // Product quantization (PQ) kernels — Jégou et al. 2011. A vector
  // splits into `m` subvectors; each subvector maps to its nearest of
  // `kCodes` per-subspace codewords; the m code indices pack into ONE
  // Long (m ≤ 8, kCodes ≤ 256 — 8 bytes per vector, a 32x cut vs 64
  // floats). ADC scoring never touches vectors: a query precomputes a
  // m×kCodes table of partial dots, each candidate costs m array
  // lookups on its packed code. Codebooks ride flat [s][c][d] →
  // ((s*kCodes)+c)*subDim+d.
  // ---------------------------------------------------------------

  /** Packed PQ code of `vec` under `cb` (argmin L2 per subspace). */
  def pqEncode(vec: ArrayData, cb: Array[Float], m: Int, kCodes: Int, subDim: Int): Long = {
    var code = 0L
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < kCodes) {
        val base = (s * kCodes + c) * subDim
        var d2 = 0.0
        var d = 0
        while (d < subDim) {
          val diff = vec.getFloat(s * subDim + d).toDouble - cb(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      code |= best.toLong << (8 * s)
      s += 1
    }
    code
  }

  /** ADC table for a query: m×kCodes partial dot products (flat). */
  def pqQueryTable(vec: ArrayData, cb: Array[Float], m: Int, kCodes: Int, subDim: Int): ArrayData = {
    val out = new Array[Float](m * kCodes)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < kCodes) {
        val base = (s * kCodes + c) * subDim
        var acc = 0.0
        var d = 0
        while (d < subDim) {
          acc += vec.getFloat(s * subDim + d).toDouble * cb(base + d)
          d += 1
        }
        out(s * kCodes + c) = acc.toFloat
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Approximate dot(query, candidate) from a packed code + ADC table. */
  def pqAdc(code: Long, table: ArrayData, m: Int, kCodes: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < m) {
      val c = ((code >>> (8 * s)) & 0xffL).toInt
      acc += table.getFloat(s * kCodes + c).toDouble
      s += 1
    }
    acc
  }

  def pq_encode(vec: Column, cb: Array[Float], m: Int, kCodes: Int, subDim: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cb), m, kCodes, subDim))

  def pq_query_table(vec: Column, cb: Array[Float], m: Int, kCodes: Int, subDim: Int): Column =
    ColumnBridge.column(PqQueryTable(ColumnBridge.expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cb), m, kCodes, subDim))

  def pq_adc(code: Column, table: Column, m: Int, kCodes: Int): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(code), ColumnBridge.expression(table), m, kCodes))

  // --- PII-scrub / markup-strip byte kernels ---------------------------
  // The C15/C16 regexp_replace chains are the suite's largest honest
  // text floor (text_scrub_pii 39s at sf10): three java.util.regex
  // passes each convert UTF8String→String, run a backtracking matcher,
  // and re-encode. These kernels reproduce the chains' output EXACTLY —
  // same leftmost-match, greedy/backtracking, and \b semantics as
  // java.util.regex on these specific patterns (derived case-by-case in
  // the per-pass comments; KernelParity spec asserts equality against
  // the regex chain on adversarial overlap cases and corpus rows) —
  // as single allocation-free byte scans. All character classes are
  // pure ASCII, so UTF-8 bytes >= 0x80 are "not in class" for the
  // kernel precisely as the corresponding code points are for the
  // regex engine; \b is the one construct that must look at full code
  // points (see isWordBefore below).

  private def isLocalB(b: Byte): Boolean = // [A-Za-z0-9._%+-]
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') ||
      b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  private def isDomainB(b: Byte): Boolean = // [A-Za-z0-9.-]
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '.' || b == '-'
  private def isAlphaB(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isDigitB(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isWordB(b: Byte): Boolean = isAlphaB(b) || isDigitB(b) || b == '_'

  // java.util.regex quirk the fuzz test caught: \b's word class is
  // `ch == '_' || Character.isLetterOrDigit(ch)` — UNICODE-aware even
  // without UNICODE_CHARACTER_CLASS (unlike \w, which stays ASCII). So
  // a boundary check next to a non-ASCII byte must decode the adjacent
  // code point. Decode failures (truncated sequences) yield U+FFFD,
  // which is not letter-or-digit — boundary, same as the regex engine
  // treats a lone surrogate.
  private def codePointAt(b: Array[Byte], s: Int, n: Int): Int = {
    val c = b(s) & 0xff
    if (c < 0x80) c
    else if ((c & 0xe0) == 0xc0 && s + 1 < n) ((c & 0x1f) << 6) | (b(s + 1) & 0x3f)
    else if ((c & 0xf0) == 0xe0 && s + 2 < n)
      ((c & 0x0f) << 12) | ((b(s + 1) & 0x3f) << 6) | (b(s + 2) & 0x3f)
    else if ((c & 0xf8) == 0xf0 && s + 3 < n)
      ((c & 0x07) << 18) | ((b(s + 1) & 0x3f) << 12) | ((b(s + 2) & 0x3f) << 6) | (b(s + 3) & 0x3f)
    else 0xfffd
  }
  private def isWordBefore(b: Array[Byte], i: Int, n: Int): Boolean = {
    val p = b(i - 1)
    if (p >= 0) isWordB(p)
    else {
      var s = i - 1
      while (s > 0 && (b(s) & 0xc0) == 0x80) s -= 1
      val cp = codePointAt(b, s, n)
      cp == '_' || Character.isLetterOrDigit(cp)
    }
  }
  private def isWordAt(b: Array[Byte], i: Int, n: Int): Boolean = {
    val c = b(i)
    if (c >= 0) isWordB(c)
    else {
      val cp = codePointAt(b, i, n)
      cp == '_' || Character.isLetterOrDigit(cp)
    }
  }
  private def isWsB(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
  private def isPhoneMidB(b: Byte): Boolean = // [\d\s()-]
    isDigitB(b) || isWsB(b) || b == '(' || b == ')' || b == '-'

  private val EmailTok = "<EMAIL>".getBytes
  private val IpTok = "<IP>".getBytes
  private val PhoneTok = "<PHONE>".getBytes

  /** Pass 1: `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` → <EMAIL>.
    * Matches anchor on '@' (not in either class, so every attempt spans
    * exactly one '@'): the leftmost successful attempt starts at the
    * maximal local-run extension backward from '@' (clamped at the
    * previous match's end — find() resumes there); the domain side is
    * the maximal domain-run forward, backtracked to the RIGHTMOST dot
    * followed by ≥2 alphas (greedy `+` gives back from the right, and
    * the trailing `[A-Za-z]{2,}` re-extends greedily), which is where
    * the match ends — trailing junk in the run is left unconsumed,
    * exactly java.util.regex. An '@' whose domain analysis fails can
    * anchor no match at any start position, so the scan moves to the
    * next '@'. */
  private def emailPass(b: Array[Byte], n: Int, out: Array[Byte]): Int = {
    var o = 0; var seg = 0; var i = 0
    while (i < n) {
      if (b(i) == '@') {
        var s = i
        while (s > seg && isLocalB(b(s - 1))) s -= 1
        if (s < i) {
          val d = i + 1
          var e = d
          while (e < n && isDomainB(b(e))) e += 1
          var j = e - 3
          var dot = -1
          while (j >= d + 1 && dot < 0) {
            if (b(j) == '.' && isAlphaB(b(j + 1)) && isAlphaB(b(j + 2))) dot = j else j -= 1
          }
          if (dot >= 0) {
            var k = dot + 3
            while (k < e && isAlphaB(b(k))) k += 1
            System.arraycopy(b, seg, out, o, s - seg); o += s - seg
            System.arraycopy(EmailTok, 0, out, o, EmailTok.length); o += EmailTok.length
            seg = k
            i = k - 1
          }
        }
      }
      i += 1
    }
    System.arraycopy(b, seg, out, o, n - seg)
    o + (n - seg)
  }

  /** Pass 2: `\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b` → <IP>. A group's
    * digit run is maximal and '.' is outside `\d`, so `\d{1,3}` matches
    * iff the whole run has length 1-3 and the separator follows it (no
    * shorter backtrack can expose a '.' inside a digit run); the final
    * group additionally needs a non-word byte (or end) after it. \b at
    * the match start reads the ORIGINAL byte before it even directly
    * after a replacement — java.util.regex find() keeps the full input
    * as boundary context. */
  private def ipPass(b: Array[Byte], n: Int, out: Array[Byte]): Int = {
    var o = 0; var seg = 0; var i = 0
    while (i < n) {
      if (isDigitB(b(i)) && (i == 0 || !isWordBefore(b, i, n))) {
        var p = i; var g = 0; var ok = true
        while (g < 3 && ok) {
          var r = 0
          while (p + r < n && isDigitB(b(p + r))) r += 1
          if (r >= 1 && r <= 3 && p + r < n && b(p + r) == '.') p += r + 1 else ok = false
          g += 1
        }
        if (ok) {
          var r = 0
          while (p + r < n && isDigitB(b(p + r))) r += 1
          if (r >= 1 && r <= 3 && (p + r == n || !isWordAt(b, p + r, n))) {
            System.arraycopy(b, seg, out, o, i - seg); o += i - seg
            System.arraycopy(IpTok, 0, out, o, IpTok.length); o += IpTok.length
            seg = p + r
            i = seg - 1
          }
        }
      }
      i += 1
    }
    System.arraycopy(b, seg, out, o, n - seg)
    o + (n - seg)
  }

  /** Pass 3: `\+?\d[\d\s()-]{6,}\d` → <PHONE>. After the lead digit the
    * middle class run is maximal; greedy `{6,}` backtracks until the
    * final `\d` lands on a digit, i.e. the match ends after the LAST
    * digit at offset ≥ 6 within the run. `\+?` never needs a second
    * branch: if `\d` fails with '+' consumed it also fails on '+'
    * itself. Attempts can only start on '+' or a digit. */
  private def phonePass(b: Array[Byte], n: Int, out: Array[Byte]): Int = {
    var o = 0; var seg = 0; var i = 0
    while (i < n) {
      val c = b(i)
      if (c == '+' || isDigitB(c)) {
        var q = if (c == '+') i + 1 else i
        if (q < n && isDigitB(b(q))) {
          q += 1
          val m0 = q
          var e = q
          while (e < n && isPhoneMidB(b(e))) e += 1
          var j = e - 1
          var last = -1
          while (j >= m0 + 6 && last < 0) { if (isDigitB(b(j))) last = j else j -= 1 }
          if (last >= 0) {
            System.arraycopy(b, seg, out, o, i - seg); o += i - seg
            System.arraycopy(PhoneTok, 0, out, o, PhoneTok.length); o += PhoneTok.length
            seg = last + 1
            i = seg - 1
          }
        }
      }
      i += 1
    }
    System.arraycopy(b, seg, out, o, n - seg)
    o + (n - seg)
  }

  /** C15 kernel: the email → IP → phone scrub chain as three byte
    * scans over raw UTF-8 (order is the contract — see
    * [[graft.operators.Curation.scrubPii]]). Worst-case growth is
    * "<EMAIL>" (7 bytes) for a 6-byte a@b.co, so n + n/4 headroom
    * bounds every pass. Public static for codegen. */
  def scrubPiiAscii(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val b0 = text.getBytes
    val buf1 = new Array[Byte](b0.length + (b0.length >> 2) + 8)
    val n1 = emailPass(b0, b0.length, buf1)
    val buf2 = new Array[Byte](n1 + 8)
    val n2 = ipPass(buf1, n1, buf2)
    val buf3 = new Array[Byte](n2 + 8)
    val n3 = phonePass(buf2, n2, buf3)
    org.apache.spark.unsafe.types.UTF8String.fromBytes(buf3, 0, n3)
  }

  /** C16 kernel: `trim(regexp_replace(regexp_replace(s, "<[^>]*>", " "),
    * "\s+", " "))` as ONE output pass. `[^>]*` cannot cross a '>', so a
    * tag is exactly '<' to the next '>' (an unclosed '<' fails at every
    * start and stays literal); the replacement space merges with
    * adjacent whitespace under the same pending-space collapse as
    * [[normalizeWs]], and leading/trailing runs are dropped, which is
    * what trim leaves after every \s+ run became a single ' '. Public
    * static for codegen. */
  def stripMarkupWs(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val b = text.getBytes
    val n = b.length
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == '<') {
        var j = i + 1
        while (j < n && b(j) != '>') j += 1
        if (j < n) {
          if (o > 0) pendingSpace = true
          i = j + 1
        } else {
          if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
          out(o) = c; o += 1; i += 1
        }
      } else if (isWsB(c)) {
        if (o > 0) pendingSpace = true
        i += 1
      } else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = c; o += 1; i += 1
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, o)
  }

  /** C65/C69 kernel: winnowing fingerprint selection (Schleimer-
    * Wilkerson-Aiken) in ONE partition-local pass. The windowed
    * formulation explodes every k-shingle into a per-doc window sort —
    * ~100M rows through a full shuffle at sf10 for a ~2/(w+1)-density
    * output. But the window min is a per-document sliding minimum, so
    * a monotonic deque computes the identical selection during the
    * shingle scan: same md5 key material (hex ++ ':' ++ lpad(pos)
    * collapses to unsigned-128 hash order with ascending-pos
    * tiebreak), same full-window emission (pos ≥ w, plus the single
    * global min for docs with < w shingles), same per-doc distinct (a
    * (hash,pos) winner's reign is one consecutive window range, so
    * skip-if-same-as-last IS distinct). Returns
    * array<struct<fp_hash,fp_pos>> ready to explode — no shuffle
    * anywhere. Public static for codegen.
    */
  // one MD5 instance per executor thread — getInstance per row is a
  // provider lookup + allocation on the hot path
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def winnowFps(ws: ArrayData, k: Int, w: Int): ArrayData = {
    val n = ws.numElements()
    val nGrams = n - k + 1
    if (nGrams <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val wordBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { wordBytes(i) = ws.getUTF8String(i).getBytes; i += 1 }
    val md = md5Local.get()
    val hi = new Array[Long](nGrams)
    val lo = new Array[Long](nGrams)
    i = 0
    while (i < nGrams) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(i + j))
        j += 1
      }
      val d = md.digest()
      var h = 0L; var l = 0L; var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      while (b < 16) { l = (l << 8) | (d(b) & 0xffL); b += 1 }
      hi(i) = h; lo(i) = l
      i += 1
    }
    // deque of candidate indices, increasing key order; smaller
    // (hash, pos) wins — positions are distinct so the order is total
    def beats(a: Int, c: Int): Boolean = {
      val c1 = java.lang.Long.compareUnsigned(hi(a), hi(c))
      if (c1 != 0) c1 < 0
      else {
        val c2 = java.lang.Long.compareUnsigned(lo(a), lo(c))
        if (c2 != 0) c2 < 0 else a < c
      }
    }
    val dq = new Array[Int](nGrams)
    var head = 0; var tail = 0
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    var lastEmitted = -1
    def emit(idx: Int): Unit =
      if (idx != lastEmitted) {
        lastEmitted = idx
        val hex = new Array[Byte](32)
        var b2 = 0
        while (b2 < 32) {
          val nib = (if (b2 < 16) hi(idx) >>> ((15 - b2) * 4) else lo(idx) >>> ((31 - b2) * 4)) & 0xf
          hex(b2) = (if (nib < 10) '0' + nib else 'a' + nib - 10).toByte
          b2 += 1
        }
        rows += org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(hex), (idx + 1).toLong)
      }
    i = 0
    while (i < nGrams) {
      while (tail > head && beats(i, dq(tail - 1))) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) < i - w + 1) head += 1
      if (i >= w - 1) emit(dq(head))
      i += 1
    }
    if (nGrams < w) emit(dq(head))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  def winnow_fps(ws: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFps(ColumnBridge.expression(ws), k, w))

  def scrub_pii_ascii(text: Column): Column =
    ColumnBridge.column(ScrubPiiKernel(ColumnBridge.expression(text)))

  def strip_markup_ws(text: Column): Column =
    ColumnBridge.column(StripMarkupKernel(ColumnBridge.expression(text)))
}

case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def kernel: Option[String] = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => Some("dotFF")
    case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => Some("dotFD")
    case (ArrayType(DoubleType, _), ArrayType(FloatType, _)) => Some("dotDF")
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => Some("dotDD")
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (kernel.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<float|double>, got (${left.dataType}, ${right.dataType})")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    kernel.get match {
      case "dotFF" => VecOps.dotFF(x, y)
      case "dotFD" => VecOps.dotFD(x, y)
      case "dotDF" => VecOps.dotDF(x, y)
      case "dotDD" => VecOps.dotDD(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.${kernel.get}($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot = copy(l, r)
}

case class TiffMetaExpr(child: Expression, maxEntries: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"tiff_meta needs binary, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.tiffMeta(v.asInstanceOf[Array[Byte]], maxEntries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.tiffMeta($c, $maxEntries)")
  override protected def withNewChildInternal(c: Expression): TiffMetaExpr = copy(child = c)
}

case class Mp4MetaExpr(child: Expression, maxBoxes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"mp4_meta needs binary, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.mp4Meta(v.asInstanceOf[Array[Byte]], maxBoxes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.mp4Meta($c, $maxBoxes)")
  override protected def withNewChildInternal(c: Expression): Mp4MetaExpr = copy(child = c)
}

case class ExifMetaExpr(child: Expression, maxHops: Int, maxEntries: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"exif_meta needs binary, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.exifMeta(v.asInstanceOf[Array[Byte]], maxHops, maxEntries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.exifMeta($c, $maxHops, $maxEntries)")
  override protected def withNewChildInternal(c: Expression): ExifMetaExpr = copy(child = c)
}

case class WavPcmStatsExpr(child: Expression, maxSamples: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"wav_pcm_stats needs binary, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.wavPcmStats(v.asInstanceOf[Array[Byte]], maxSamples)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.wavPcmStats($c, $maxSamples)")
  override protected def withNewChildInternal(c: Expression): WavPcmStatsExpr = copy(child = c)
}

case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"shingle_hashes needs array<string>, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"sorted_intersect_count needs two array<long>, got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(l, r)
}

case class KmvSketch16(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"kmv_sketch16 needs array<long>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.kmvSketch16(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.kmvSketch16($c, $k)")
  override protected def withNewChildInternal(c: Expression): KmvSketch16 = copy(child = c)
}

case class KmvContainScreen(skA: Expression, na: Expression, skB: Expression, nb: Expression, tauPct: Int)
    extends QuaternaryExpression {
  override def first: Expression = skA
  override def second: Expression = na
  override def third: Expression = skB
  override def fourth: Expression = nb
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    (skA.dataType, na.dataType, skB.dataType, nb.dataType) match {
      case (ArrayType(ShortType, _), LongType, ArrayType(ShortType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"kmv_contain_screen needs (array<short>, long, array<short>, long), got $other")
    }
  override def nullSafeEval(a: Any, x: Any, b: Any, y: Any): Any =
    VecOps.kmvContainScreen(
      a.asInstanceOf[ArrayData], x.asInstanceOf[Long],
      b.asInstanceOf[ArrayData], y.asInstanceOf[Long], tauPct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, x, b, y) =>
      s"graft.functions.VecOps.kmvContainScreen($a, $x, $b, $y, $tauPct)")
  override protected def withNewChildrenInternal(
      c1: Expression, c2: Expression, c3: Expression, c4: Expression): KmvContainScreen =
    copy(skA = c1, na = c2, skB = c3, nb = c4)
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"simhash64 needs array<long>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(c)
}

case class FnvHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"fnv_hashes needs array<string>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.fnvHashes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.fnvHashes($c)")
  override protected def withNewChildInternal(c: Expression): FnvHashes = copy(c)
}

case class MaxWordRep(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"max_word_rep needs array<string>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.maxRunCount(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.maxRunCount($c)")
  override protected def withNewChildInternal(c: Expression): MaxWordRep = copy(c)
}

case class RepStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"rep_stats needs array<string>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.repStatsCounts(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.repStatsCounts($c)")
  override protected def withNewChildInternal(c: Expression): RepStats = copy(c)
}

case class VecDotInt(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"vec_dot_int needs two array<int>, got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotII(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dotII($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotInt = copy(l, r)
}

case class TableCodes(child: Expression, planes: Int, tables: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if planes >= 1 && planes <= 56 && tables >= 1 && tables <= 255 =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"table_codes needs array<float>, 1<=planes<=56, 1<=tables<=255; got $other planes=$planes tables=$tables")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.tableCodes(v.asInstanceOf[ArrayData], planes, tables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.tableCodes($c, $planes, $tables)")
  override protected def withNewChildInternal(c: Expression): TableCodes = copy(child = c)
}

/** Holds the df sketch as a BROADCAST handle, not a plan literal: a
  * depth=4 width=2^20 grid is 32 MB, and `addReferenceObj` on the raw
  * array would serialize it into the task binary of EVERY stage that
  * touches the prefix frame. The broadcast ships once per executor
  * through the block manager; the expression's reference object is
  * just the TorrentBroadcast handle (~bytes). Codegen hoists `.value`
  * into a lazily-initialized field so the per-row path is an array
  * read, not a broadcast lookup.
  */
case class PrefixSelect(child: Expression, cms: Broadcast[Array[Byte]], tauPct: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if tauPct >= 1 && tauPct <= 100 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"prefix_select needs array<long>, 1<=tauPct<=100; got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.prefixSelect(v.asInstanceOf[ArrayData], cms.value, tauPct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("prefixCmsBc", cms, classOf[Broadcast[Array[Byte]]].getName)
    val grid = ctx.addMutableState("byte[]", "prefixCmsGrid")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecOps.prefixSelect($c, ($grid != null ? $grid : ($grid = (byte[]) $ref.value())), $tauPct)")
  }
  override protected def withNewChildInternal(c: Expression): PrefixSelect = copy(child = c)
}

/** [[PrefixSelect]]'s full-reorder sibling (same broadcast-handle
  * discipline for the 32 MB df grid).
  */
case class DfOrderSort(child: Expression, cms: Broadcast[Array[Byte]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"df_order_sort needs array<long>, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.dfOrderSort(v.asInstanceOf[ArrayData], cms.value)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dfSortCmsBc", cms, classOf[Broadcast[Array[Byte]]].getName)
    val grid = ctx.addMutableState("byte[]", "dfSortCmsGrid")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecOps.dfOrderSort($c, ($grid != null ? $grid : ($grid = (byte[]) $ref.value())))")
  }
  override protected def withNewChildInternal(c: Expression): DfOrderSort = copy(child = c)
}

case class NormalizeWs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"normalize_ws needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.normalizeWs(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.normalizeWs($c)")
  override protected def withNewChildInternal(c: Expression): NormalizeWs = copy(child = c)
}

case class VecSqDistFD(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"vec_sqdist needs array<float>, array<double>; got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.sqDistFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.sqDistFD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSqDistFD = copy(l, r)
}

case class TokenCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"token_counts needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.tokenCounts(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.tokenCounts($c)")
  override protected def withNewChildInternal(c: Expression): TokenCountsExpr = copy(child = c)
}

case class AsciiCharsetCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"ascii_charset_count needs two strings, got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.asciiCharsetCount(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.asciiCharsetCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AsciiCharsetCount = copy(l, r)
}

case class HashedLinearScore(child: Expression, buckets: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if buckets > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"hashed_linear_score needs array<long>, buckets>0; got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.hashedLinearScore(v.asInstanceOf[ArrayData], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.hashedLinearScore($c, ${buckets}L)")
  override protected def withNewChildInternal(c: Expression): HashedLinearScore = copy(child = c)
}

case class MemberCount(child: Expression, set: Seq[String]) extends UnaryExpression {
  @transient private lazy val hashSet: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val hs = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    set.foreach(s => hs.add(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    hs
  }
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"member_count needs array<string>, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.memberCountSet(v.asInstanceOf[ArrayData], hashSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("memberSet", hashSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.memberCountSet($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): MemberCount = copy(child = c)
}

case class TrigramProfileScores(child: Expression, profiles: Seq[Seq[String]]) extends UnaryExpression {
  @transient private lazy val packs: Array[Array[Long]] = profiles.map { tris =>
    tris.map { t =>
      val cps = t.codePoints().toArray
      require(cps.length == 3, s"profile trigram must be exactly 3 code points: '$t'")
      (cps(0).toLong << 42) | (cps(1).toLong << 21) | cps(2).toLong
    }.toArray.sorted
  }.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"trigram_profile_scores needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.trigramProfileScores(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], packs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trigramPacks", packs, "long[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.trigramProfileScores($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): TrigramProfileScores = copy(child = c)
}

// mu/v (and the PqEncode / PqQueryTable / NearestCentroidLL tables)
// as IndexedSeq, not Array: case-class equality on Array is
// reference equality, which made semantically identical expressions
// never compare equal — defeating expression canonicalization,
// subexpression elimination, and CacheManager plan matching for any
// frame containing the kernel. Arrays materialize once per instance
// for the eval/codegen hot path.
case class DotCenteredDiv(child: Expression, mu: IndexedSeq[Long], v: IndexedSeq[Long]) extends UnaryExpression {
  @transient private lazy val muArr: Array[Long] = mu.toArray
  @transient private lazy val vArr: Array[Long] = v.toArray
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if mu.length == v.length => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"dot_centered_div needs array<long> and |mu|==|v|; got $other")
  }
  override def nullSafeEval(x: Any): Any = VecOps.dotCenteredDiv(x.asInstanceOf[ArrayData], muArr, vArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("muArr", muArr, "long[]")
    val vRef = ctx.addReferenceObj("vArr", vArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.dotCenteredDiv($c, $muRef, $vRef)")
  }
  override protected def withNewChildInternal(c: Expression): DotCenteredDiv = copy(child = c)
}

case class ClipOutKept(left: Expression, right: Expression, n: Int) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_removed", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("clean", StringType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType, n) match {
    case (ArrayType(StringType, _), ArrayType(LongType, _), nn) if nn >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"clip_out_kept needs (array<string>, array<long>, n>=1); got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.clipOutKept(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.clipOutKept($a, $b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ClipOutKept = copy(left = l, right = r)
}

case class CoveredCount(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, n) match {
    case (ArrayType(LongType, _), nn) if nn >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"covered_count needs (array<long>, n>=1); got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.coveredCount(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.coveredCount($c, $n)")
  override protected def withNewChildInternal(c: Expression): CoveredCount = copy(child = c)
}

case class MaxConsecRun(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"max_consec_run needs array<long>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.maxConsecRun(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.maxConsecRun($c)")
  override protected def withNewChildInternal(c: Expression): MaxConsecRun = copy(child = c)
}

case class BigramHashPairs(child: Expression, tailMode: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("hh", LongType, nullable = false),
      org.apache.spark.sql.types.StructField(if (tailMode) "th" else "bh", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"bigram_hash_pairs needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.bigramHashPairs(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], tailMode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.bigramHashPairs($c, $tailMode)")
  override protected def withNewChildInternal(c: Expression): BigramHashPairs = copy(child = c)
}

case class GopherCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"gopher_counts needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.gopherCounts(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.gopherCounts($c)")
  override protected def withNewChildInternal(c: Expression): GopherCountsExpr = copy(child = c)
}

case class WatermarkGreenCounts(child: Expression, key: String) extends UnaryExpression {
  /** FNV-1a state after key ∥ 0x01 — the per-bigram hash resumes from
    * here, so the key bytes are hashed once per QUERY, not per pair.
    */
  @transient private lazy val keyState: Long = {
    val kb = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < kb.length) { h ^= (kb(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h ^= 0x01L
    h *= 0x100000001b3L
    h
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"watermark_green_counts needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.watermarkGreenCounts(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], keyState)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.watermarkGreenCounts($c, ${keyState}L)")
  override protected def withNewChildInternal(c: Expression): WatermarkGreenCounts = copy(child = c)
}

case class QuantizeI8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"quantize_i8 needs array<float>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.quantizeI8(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.quantizeI8($c)")
  override protected def withNewChildInternal(c: Expression): QuantizeI8 = copy(c)
}

case class RandProject(child: Expression, outDims: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if outDims > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"rand_project needs array<float> and outDims>0, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.randProject(v.asInstanceOf[ArrayData], outDims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.randProject($c, $outDims)")
  override protected def withNewChildInternal(c: Expression): RandProject = copy(child = c)
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"minhash_sig needs array<long>, got $other")
  }
  override def nullSafeEval(v: Any): Any = VecOps.minhash(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.minhash($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** PQ encode: packed code under flat codebooks `cb` — a 64 KB plan
  * reference object (per-plan, not per-row), well under broadcast
  * territory. m ≤ 8 so codes pack one byte per subspace into a Long.
  */
case class PqEncode(child: Expression, cb: IndexedSeq[Float], m: Int, kCodes: Int, subDim: Int)
    extends UnaryExpression {
  @transient private lazy val cbArr: Array[Float] = cb.toArray
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _)
        if m >= 1 && m <= 8 && kCodes >= 1 && kCodes <= 256 && subDim >= 1 &&
          cb.length == m * kCodes * subDim =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"pq_encode needs array<float>, 1<=m<=8, 1<=kCodes<=256, cb of m*kCodes*subDim floats; got $other m=$m k=$kCodes sub=$subDim cb=${cb.length}")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.pqEncode(v.asInstanceOf[ArrayData], cbArr, m, kCodes, subDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cbArr, "float[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.pqEncode($c, $ref, $m, $kCodes, $subDim)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

case class PqQueryTable(child: Expression, cb: IndexedSeq[Float], m: Int, kCodes: Int, subDim: Int)
    extends UnaryExpression {
  @transient private lazy val cbArr: Array[Float] = cb.toArray
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _)
        if m >= 1 && m <= 8 && kCodes >= 1 && kCodes <= 256 && subDim >= 1 &&
          cb.length == m * kCodes * subDim =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"pq_query_table needs array<float> + consistent (m, kCodes, subDim, cb); got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.pqQueryTable(v.asInstanceOf[ArrayData], cbArr, m, kCodes, subDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cbArr, "float[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.pqQueryTable($c, $ref, $m, $kCodes, $subDim)")
  }
  override protected def withNewChildInternal(c: Expression): PqQueryTable = copy(child = c)
}

case class PqAdcScore(left: Expression, right: Expression, m: Int, kCodes: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, ArrayType(FloatType, _)) if m >= 1 && m <= 8 && kCodes >= 1 && kCodes <= 256 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pq_adc needs (long code, array<float> table); got $other")
  }
  override def nullSafeEval(code: Any, table: Any): Any =
    VecOps.pqAdc(code.asInstanceOf[Long], table.asInstanceOf[ArrayData], m, kCodes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, t) => s"graft.functions.VecOps.pqAdc($c, $t, $m, $kCodes)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcScore =
    copy(left = l, right = r)
}

/** k-means assignment kernel: centroids ride as a plan reference
  * object (k·d Longs — a few KB, nothing like the CMS-grid case that
  * needs a broadcast), so every task gets them with its binary.
  */
case class NearestCentroidLL(child: Expression, cents: IndexedSeq[Long], d: Int)
    extends UnaryExpression {
  @transient private lazy val centsArr: Array[Long] = cents.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if d >= 1 && cents.nonEmpty && cents.length % d == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"nearest_centroid_ll needs array<long> + cents multiple of d; got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.nearestCentroidLL(v.asInstanceOf[ArrayData], centsArr, d)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmeansCents", centsArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.nearestCentroidLL($c, $ref, $d)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidLL = copy(child = c)
}

case class ScrubPiiKernel(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"scrub_pii_ascii needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.scrubPiiAscii(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.scrubPiiAscii($c)")
  override protected def withNewChildInternal(c: Expression): ScrubPiiKernel = copy(child = c)
}

case class StripMarkupKernel(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"strip_markup_ws needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.stripMarkupWs(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.stripMarkupWs($c)")
  override protected def withNewChildInternal(c: Expression): StripMarkupKernel = copy(child = c)
}

case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("fp_hash", StringType, nullable = false),
      StructField("fp_pos", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 && w >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"winnow_fps needs array<string>, k,w >= 1; got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.winnowFps(v.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.winnowFps($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFps = copy(child = c)
}

/** Code-point trie for [[VecOps.greedyTokenStats]] — built once per
  * expression instance from the vocabulary, walked once per emitted
  * token. `longestMatch` returns the match length in Java CHARS (the
  * cursor advance) while honoring code-point boundaries, so surrogate
  * pairs are one fallback token, matching codepoint-indexed oracles.
  *
  * Built for
  * production vocab scale (~50k merges): what crosses the wire is the
  * compact string vocabulary, NEVER the pointer-heavy node graph (a
  * Java-serialized 50k-entry trie would ship megabytes with every
  * task), and each executor JVM materializes the node graph ONCE per
  * distinct vocabulary via a process-wide cache keyed by a driver-
  * computed content fingerprint — tasks share the built trie, so task
  * count does not multiply build cost or heap.
  */
final class TokenTrie(val vocab: Seq[String]) extends Serializable {
  vocab.foreach(t =>
    require(!t.contains(' ') && t.nonEmpty, s"vocab entry must be non-empty and space-free: '$t'"))

  /** Content fingerprint, computed once on the driver and serialized
    * with the instance — the executor-side cache key. The framing is
    * INJECTIVE: entry count + a per-entry byte-length prefix. A bare
    * 0x00 separator is forgeable because U+0000 is a legal entry
    * character (only spaces/empty are banned), so `["a<NUL>b"]` and
    * `["a","b"]` would collide and silently share a trie.
    */
  private val fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def putInt(v: Int): Unit =
      md.update(Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    putInt(vocab.size)
    vocab.foreach { t =>
      val b = t.getBytes("UTF-8")
      putInt(b.length)
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  @transient private lazy val root: TokenTrie.Node = TokenTrie.rootFor(fingerprint, vocab)

  def longestMatch(s: String, start: Int): Int = {
    var n = root
    var j = start
    var best = 0
    var done = false
    while (!done && j < s.length) {
      val cp = s.codePointAt(j)
      val child = n.children.get(cp)
      if (child == null) done = true
      else {
        j += Character.charCount(cp)
        n = child
        if (n.terminal) best = j - start
      }
    }
    best
  }
}

object TokenTrie {
  private[functions] final class Node {
    val children = new java.util.HashMap[Integer, Node]()
    var terminal = false
  }

  /** JVM-wide built-trie cache: one node graph per distinct vocabulary
    * per executor process, shared by every task/plan that references
    * the same merge table. Vocabularies are plan-lifetime objects
    * (a pipeline uses one or two tokenizers), so in normal use the
    * cache holds a handful of entries for the process lifetime; the
    * [[MaxCachedTries]] bound is the backstop for a pathological
    * caller generating vocabularies dynamically — past it the cache
    * drops everything and rebuilds (a rebuild is cheap; unbounded
    * heap growth is not).
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Node]()
  private val MaxCachedTries = 64

  /** Observable build count (test hook: asserts once-per-JVM builds). */
  val builds = new java.util.concurrent.atomic.AtomicLong(0L)

  private def rootFor(fp: String, vocab: Seq[String]): Node = {
    val hit = cache.get(fp)
    if (hit != null) hit
    else {
      if (cache.size >= MaxCachedTries) cache.clear()
      cache.computeIfAbsent(fp, _ => buildRoot(vocab))
    }
  }

  private def buildRoot(vocab: Seq[String]): Node = {
    builds.incrementAndGet()
    val root = new Node
    vocab.foreach { t =>
      var n = root
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        var child = n.children.get(cp)
        if (child == null) { child = new Node; n.children.put(cp, child) }
        n = child
        i += Character.charCount(cp)
      }
      n.terminal = true
    }
    root
  }
}

case class GreedyTokenStats(child: Expression, vocab: Seq[String]) extends UnaryExpression {
  @transient private lazy val trie: TokenTrie = new TokenTrie(vocab)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"greedy_token_stats needs string, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    VecOps.greedyTokenStats(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], trie)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenTrie", trie, "graft.functions.TokenTrie")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.greedyTokenStats($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): GreedyTokenStats = copy(child = c)
}
