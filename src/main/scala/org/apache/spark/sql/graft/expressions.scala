package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expressions for the text-dedup hot path.
  *
  * The equivalent higher-order-function pipelines (transform + aggregate +
  * array_min chains) evaluate one interpreted lambda per array element —
  * ~100M lambda invocations for a 50k-doc corpus at 32 permutations. These
  * expressions do the same work in one tight JVM loop per row and stay
  * inside WholeStageCodegen (doGenCode emits a static call, no UDF
  * serialization). All hashing is xxHash64 with fixed seeds →
  * bit-deterministic at any parallelism.
  */
object ShingleOps {
  final val Seed = 42L

  /** Hash every n-token shingle of a space-tokenized string; returns the
    * SORTED DISTINCT hash set (ready for Jaccard set ops). Documents shorter
    * than n tokens contribute one shingle covering the full text. */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val tokenHashes = hashTokens(s)
    val m = tokenHashes.length
    val out =
      if (m == 0) Array(XXH64.hashLong(Seed, Seed))
      else if (m < n) {
        var h = Seed
        var i = 0
        while (i < m) { h = XXH64.hashLong(tokenHashes(i), h); i += 1 }
        Array(h)
      } else {
        val arr = new Array[Long](m - n + 1)
        var i = 0
        while (i <= m - n) {
          var h = Seed
          var j = 0
          while (j < n) { h = XXH64.hashLong(tokenHashes(i + j), h); j += 1 }
          arr(i) = h
          i += 1
        }
        arr
      }
    java.util.Arrays.sort(out)
    // dedupe in place
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Ordered, NON-distinct chained-xxh64 hashes of every n-token window of
    * a space-tokenized string — position i (0-based) holds the hash of
    * tokens[i..i+n-1]; EMPTY when the document has fewer than n tokens
    * (d20's exhaustive-window semantics — unlike [[shingleHashes]], which
    * collapses short docs to a whole-text shingle and dedups). One tight
    * loop per row; hashing is token-boundary-aware, so window identity
    * equals string identity of the space-joined gram up to ~2^-64
    * collisions (r21: replaces d20's per-window slice→concat_ws→md5→conv
    * pipeline, which built and digested a ~60-char string per position on
    * BOTH sides of its first-occurrence join). */
  def windowHashes(s: UTF8String, n: Int): ArrayData = {
    val tokenHashes = hashTokens(s)
    val m = tokenHashes.length
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val arr = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var h = Seed
      var j = 0
      while (j < n) { h = XXH64.hashLong(tokenHashes(i + j), h); j += 1 }
      arr(i) = h
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** MinHash signature over a (shingle-)hash array: sig(p) = min over h of
    * xxh64(h, seed=p). */
  def minhash(hashes: ArrayData, perms: Int): ArrayData = {
    val n = hashes.numElements()
    val sig = new Array[Long](perms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var p = 0
      while (p < perms) {
        val v = XXH64.hashLong(h, p)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 60-bit SimHash over whitespace tokens in the MD5 domain: the
    * per-token hash is the top 60 bits of md5(token) — the first 15 hex
    * chars, the one hash digest both engines share, so a DuckDB oracle
    * reproduces the signature bit-for-bit (the WinnowOps parity trick;
    * 60 bits keeps every derived value positive where the only 64-bit
    * integer is signed). The sign-counting selection logic is
    * hash-agnostic: swapping in xxh64 token hashes changes only the
    * verifiability. */
  def simhashMd5(s: UTF8String): Long = {
    val bytes = s.getBytes
    val md = Md5Local.get()
    val counts = new Array[Int](60)
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          md.reset()
          md.update(bytes, start, i - start)
          val d = md.digest()
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
          v = v >>> 4 // top 60 bits = first 15 hex chars of the digest
          var j = 0
          while (j < 60) {
            if (((v >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** xxh64 of each non-empty space-separated token, over raw UTF-8 bytes
    * (no String allocation). */
  private def hashTokens(s: UTF8String): Array[Long] = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[java.lang.Long]()
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          out.add(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed))
        }
        start = i + 1
      }
      i += 1
    }
    val arr = new Array[Long](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    arr
  }
}

/** Thread-local MD5 — MessageDigest is stateful and not thread-safe, and
  * allocating one per row would dominate the hash itself. */
private[graft] object Md5Local {
  private val tl = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  def get(): java.security.MessageDigest = tl.get()
}

/** Vector math over float-array embedding columns.
  *
  * RECEIVER DEVIRTUALIZATION (r15, the d18 cpu-envelope root cause): each
  * kernel dispatches ONCE per call on the concrete [[ArrayData]] pair and
  * runs a loop whose receiver type is STATIC. `a.getFloat(i)` on a plain
  * `ArrayData` receiver is a virtual call whose single shared call site
  * profiles every receiver type the whole session ever passes through the
  * kernel — UnsafeArrayData from joined/shuffled rows, ColumnarArray from
  * columnar-cache scans, GenericArrayData from eval paths — and once that
  * profile turns megamorphic the JIT stops inlining the accessor, the loop
  * loses bounds-check elimination, and the SAME plan runs 2-3× more cpu_s
  * with bit-identical work counters, depending on which run's tier-up won
  * the profile race (measured: d18 21-28 cpu_s across seven quiet runs vs
  * 34 / 57.5 in the two driver windows, flat under a 4× burner dose — not
  * contention). The typed arms below make the hot accessor a class-
  * hierarchy-analysis inline, immune to profile pollution; the generic arm
  * keeps every other receiver correct. Every arm runs the IDENTICAL loop
  * (same order, same double accumulation), so results are bit-identical
  * across arms and the oracle contract is untouched. */
object VecOps {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  /** Cosine similarity accumulated in double, fixed ascending order →
    * bit-deterministic on every executor. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    require(a.numElements() == b.numElements(),
      s"vector dimensions differ: ${a.numElements()} vs ${b.numElements()}")
    (a, b) match {
      case (x: UnsafeArrayData, y: UnsafeArrayData) => cosineUU(x, y)
      case _ => cosineGen(a, b)
    }
  }
  private def cosineUU(a: UnsafeArrayData, b: UnsafeArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
  private def cosineGen(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Dot product, same ascending double accumulation as [[cosine]]'s `dot`
    * term — so `dot(a,b) / (norm(a) * norm(b))` is BIT-IDENTICAL to
    * `cosine(a,b)` (identical loop order, identical `sqrt(na)*sqrt(nb)`
    * denominator), which is what lets hot paths precompute norms once per
    * vector instead of re-accumulating both norms for every candidate
    * pair (3× fewer flops per pair; candidates ≫ vectors). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    require(a.numElements() == b.numElements(),
      s"vector dimensions differ: ${a.numElements()} vs ${b.numElements()}")
    (a, b) match {
      case (x: UnsafeArrayData, y: UnsafeArrayData) => dotUU(x, y)
      case _ => dotGen(a, b)
    }
  }
  private def dotUU(a: UnsafeArrayData, b: UnsafeArrayData): Double = {
    val n = a.numElements()
    var d = 0.0
    var i = 0
    while (i < n) {
      d += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    d
  }
  private def dotGen(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var d = 0.0
    var i = 0
    while (i < n) {
      d += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    d
  }

  /** L2 norm, accumulated exactly like [[cosine]]'s `na` term (see
    * [[dot]] for the bit-identity contract). */
  def norm(a: ArrayData): Double = a match {
    case x: UnsafeArrayData => normU(x)
    case _ => normGen(a)
  }
  private def normU(a: UnsafeArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      na += x * x
      i += 1
    }
    math.sqrt(na)
  }
  private def normGen(a: ArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      na += x * x
      i += 1
    }
    math.sqrt(na)
  }
}

/** One-pass text normalization for dedup keys: ASCII-lowercase, drop every
  * byte outside [a-z0-9 ], collapse space runs, trim. Equivalent (on any
  * input whose case-folding stays 1:1, e.g. ASCII) to the regex pipeline
  * lower → replace `[^a-z0-9 ]` → replace ` +` → trim, but a single byte
  * loop instead of two backtracking regex passes per document. */
object NormalizeOps {
  def normalize(s: UTF8String): UTF8String = {
    val in = s.getBytes
    val out = new Array[Byte](in.length)
    var w = 0
    var pendingSpace = false
    var i = 0
    while (i < in.length) {
      var b = in(i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && w > 0) { out(w) = ' '; w += 1 }
        pendingSpace = false
        out(w) = b
        w += 1
      } else if (b == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, w))
  }
}

/** Sign-random-projection (SRP) sketch of a float vector: bit p of the
  * result is the sign of dot(v, r_p). Hamming distance between sketches
  * estimates angular distance, so banding the sketch gives LSH buckets for
  * cosine near-duplicate detection. Hyperplane entries derive from
  * md5("p|i") so a SQL oracle reproduces the sketch bit-for-bit (the
  * simhash_md5 / winnow_fingerprints oracle-parity trick):
  * r(p,i) = ((md5_60("p|i") >> 7) / 2^53) · 2 − 1 — 53 bits convert to
  * double EXACTLY, so both engines hold the same hyperplane value, and the
  * per-plane dot accumulates ascending in double (DuckDB's LIST_REDUCE is
  * the same left fold). The
  * matrix is a pure function of (planes, dims): computed once per JVM and
  * memoized — never shipped with the plan, never md5'd per row. The
  * sign-projection geometry is hash-agnostic: xxh64 planes would change
  * only the oracle verifiability. */
object SrpMd5Ops {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private[graft] def hyperplanes(planes: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((planes, dims), { case (np, nd) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(np, nd) { (p, i) =>
        md.reset()
        val d = md.digest(s"$p|$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v = v >>> 4 // top 60 bits = first 15 hex chars of the digest
        ((v >> 7).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      }
    })
  def srp(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    val m = hyperplanes(planes, n)
    var out = 0L
    var p = 0
    while (p < planes) {
      val row = m(p)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * row(i); i += 1 }
      if (dot > 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** Content-defined chunking (CDC) over TEXT — the storage-dedup
  * primitive: boundaries are set where a gear rolling hash meets a mask, so
  * an insertion near the front of a text shifts only the chunks up to the
  * next boundary, and everything after re-aligns (fixed-size chunking loses
  * ALL alignment after one shifted character). A boundary closes a chunk
  * when it is at least `minSize` characters and the rolling hash's low
  * `maskBits` bits are zero (expected chunk size ~ minSize + 2^maskBits);
  * the hash state resets per chunk. A chunk is force-cut at
  * `minSize + 4·2^maskBits` characters (FastCDC's max-size rule) —
  * periodic content can cycle without ever meeting the mask. The tail (if
  * any) is always a chunk.
  *
  * Every internal value is derived in the md5 domain, so a DuckDB oracle
  * rebuilds it (the d07 vec_srp_md5 precedent):
  *   - the gear table is md5("g|code") truncated to 56 bits — any engine
  *     with md5 rebuilds it from nothing;
  *   - the rolling hash is h' = (h·2 + gear) mod 2^55 — every intermediate
  *     stays below 2^57, so the recurrence runs in plain ANSI BIGINT
  *     arithmetic with no Java wrap-around to emulate;
  *   - chunk digests are md5(chunk substring) truncated to 56 bits.
  * Operates on STRING characters (the fixture is ASCII, where char
  * positions = byte positions — stated here because a byte-level oracle
  * via ENCODE would diverge on multi-byte text). */
object ChunkMd5Ops {
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val Mod: Long = 1L << 55

  private def md556(s: String): Long = {
    val d = Md5.get()
    d.reset()
    val hex = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(7).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** gear(code) for code 0..255, derived once per JVM. */
  private lazy val GearMd5: Array[Long] = Array.tabulate(256)(c => md556(s"g|$c"))

  def cdcChunkHashes(s: UTF8String, minSize: Int, maskBits: Int): ArrayData = {
    val str = s.toString
    val mask = (1L << maskBits) - 1L
    // Long arithmetic: an Int shift is mod 32, so maskBits >= 29 would
    // overflow into a negative cap and force-cut every character.
    val maxSize = minSize.toLong + 4L * (1L << maskBits)
    val out = new java.util.ArrayList[java.lang.Long]()
    var start = 0
    var h = 0L
    var i = 0
    while (i < str.length) {
      h = (h * 2 + GearMd5(str.charAt(i) & 0xff)) % Mod
      val size = i - start + 1
      if ((size >= minSize && (h & mask) == 0L) || size >= maxSize) {
        out.add(md556(str.substring(start, i + 1)))
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < str.length) out.add(md556(str.substring(start)))
    val arr = new Array[Long](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }
}

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
  * the MOSS algorithm): hash every k-char window of the text, then keep
  * the MINIMUM hash of each run of w consecutive window hashes. Selection
  * is content-based, so it is ALIGNMENT-INDEPENDENT — the winnowing
  * guarantee: any verbatim span of ≥ w+k−1 chars shared by two documents
  * (at ANY offsets) contributes at least one identical fingerprint to
  * both, at an expected density of 2/(w+1) fingerprints per position.
  * That is the detection property stride-sampled k-grams cannot give
  * (spans only match if their offsets agree mod the stride).
  *
  * The k-gram hash is the first 15 hex chars of md5 — md5 is the one
  * hash both engines share, so the DuckDB oracle reproduces fingerprints
  * bit-for-bit (`CAST('0x' || SUBSTRING(md5(..), 1, 15) AS BIGINT)`,
  * the t07 precedent). A rolling Karp-Rabin hash would cost O(1) per
  * position instead of O(k), but DuckDB could not replay it; the
  * selection logic — and everything downstream — is hash-agnostic. */
object WinnowOps {
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Sorted distinct fingerprint set. Texts shorter than k yield one
    * k-gram (the whole text); fewer than w window hashes yield one
    * (truncated) winnowing window. */
  def fingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    val m = if (n < k) 1 else n - k + 1
    val h = new Array[Long](m)
    val md = Md5.get()
    var i = 0
    while (i < m) {
      md.reset()
      val g = if (n < k) str else str.substring(i, i + k)
      val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = top 60 bits of the big-endian first 8 bytes
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      h(i) = v >>> 4
      i += 1
    }
    // w is a small constant (default 8): the direct per-window scan is
    // O(m·w) with no allocation — simpler than a monotone deque and just
    // as fast at these widths
    select(h, w)
  }

  /** Winnowing selection: min hash of each w-window of the k-gram hash
    * array, returned as the sorted distinct fingerprint set. Primitive
    * arrays throughout (collect minima → sort → in-place dedupe): no
    * boxing, no tree — this is on the kernel's per-document hot path. */
  private def select(h: Array[Long], w: Int): ArrayData = {
    val m = h.length
    val nw = math.max(m - w + 1, 1)
    val mins = new Array[Long](nw)
    var j = 0
    while (j < nw) {
      var mn = Long.MaxValue
      var t = j
      val end = math.min(j + w, m)
      while (t < end) { if (h(t) < mn) mn = h(t); t += 1 }
      mins(j) = mn
      j += 1
    }
    java.util.Arrays.sort(mins)
    var uniq = 0
    var i = 0
    while (i < nw) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(uniq) = mins(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, uniq))
  }
}

/** Deletion-neighborhood hashing for edit-distance blocking (FastSS /
  * SymSpell): the sorted distinct xxhash64 set of {s} ∪ {s minus char i}.
  * Two strings within edit distance 1 always share a member (substitution
  * at i ⇒ both delete i; insertion ⇒ the shorter string IS a deletion of
  * the longer), so an equi-join on these hashes is a COMPLETE candidate
  * generator for distance ≤ 1 at O(n·len) keys — vs O(n²) brute-force
  * verify calls. Hash collisions only ADD candidates; the caller's exact
  * verify removes them. One tight JVM loop per row (the interpreted
  * transform/substring/concat equivalent allocates len strings per row
  * per pass and is several times slower). */
object DeletionOps {
  /** Length in bytes of the UTF-8 sequence starting with `b`. */
  private def utf8Len(b: Byte): Int = {
    val u = b & 0xff
    if (u < 0x80) 1
    else if (u >= 0xf0) 4
    else if (u >= 0xe0) 3
    else if (u >= 0xc0) 2
    else 1 // stray continuation byte: treat as its own unit (defensive)
  }

  def variantHashes(s: UTF8String, seed: Long): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // deletions iterate CODE POINTS, not bytes: edit distance is defined
    // over characters, and deleting one byte of a multi-byte code point
    // would leave the deletion neighborhoods of a one-char substitution
    // pair disjoint — silently breaking the distance-≤1 completeness
    // guarantee on any non-ASCII input (on ASCII the two are identical)
    val out = new java.util.ArrayList[java.lang.Long]()
    out.add(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, n, seed))
    val buf = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val l = math.min(utf8Len(bytes(i)), n - i)
      System.arraycopy(bytes, 0, buf, 0, i)
      System.arraycopy(bytes, i + l, buf, i, n - i - l)
      out.add(XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, n - l, seed))
      i += l
    }
    val arr = new Array[Long](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    java.util.Arrays.sort(arr)
    var w = 0
    var r = 0
    while (r < arr.length) {
      if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, w))
  }
}

/** Morton (Z-order) curve keys for multi-dimensional data layout.
  *
  * Writing 100 TB sorted by ONE column gives min/max file pruning on that
  * column only; sorting by the interleaved bits of TWO columns gives
  * useful (sqrt-factor) pruning on EITHER — the lakehouse OPTIMIZE
  * ZORDER BY layout. The key itself is a pure bit-shuffle, computed here
  * with the standard mask-spread (5 shift/mask rounds per coordinate, no
  * loop, no branch), so it stays a one-instruction-stream codegen'd
  * projection at ingest time. */
object ZOrderOps {
  /** Spread the low 32 bits of `v` into the even bit positions. */
  private def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Interleave the low `bits` bits of x and y: bit i of x lands at 2i,
    * bit i of y at 2i+1. Monotone in each coordinate when the other is
    * fixed, and ≤ 2·bits result bits, so the key is always non-negative. */
  def interleave2(x: Long, y: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1L
    spread(x & mask) | (spread(y & mask) << 1)
  }
}

/** Membership testing against a Bloom filter built elsewhere (e.g.
  * `df.stat.bloomFilter`, a distributed treeAggregate). The filter rides
  * into codegen as a referenced object, so the whole digest ships once per
  * task — the broadcast-a-sketch pattern that lets incoming data probe an
  * already-ingested corpus map-side, with zero join against it. */
object BloomOps {
  /** Count of array elements that might be members of `bf` — one tight
    * loop per row over the long-hash array, no per-element lambda. */
  def countHits(arr: ArrayData, bf: org.apache.spark.util.sketch.BloomFilter): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) c += 1
      i += 1
    }
    c
  }
}

/** Input type validation shared by the native expressions: the default
  * UnaryExpression/BinaryExpression accept anything, and e.g. an
  * ARRAY<DOUBLE> read through ArrayData.getFloat would be silently-garbage
  * rather than an analysis error. */
object ExprChecks {
  def expect(ok: Boolean, what: String, got: DataType): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected $what, got ${got.sql}")
  /** Every input satisfies `ok`; a failure names the first one that does not. */
  def all(ok: DataType => Boolean, what: String): Seq[DataType] => TypeCheckResult =
    ins => expect(ins.forall(ok), what, ins.find(!ok(_)).getOrElse(ins.head))
  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  def isIntegral(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == ShortType || dt == ByteType
}

/** Exact integer dot product of two ARRAY<BIGINT> vectors — the verify
  * kernel for weighted (tf) similarity: every product and partial sum is
  * an exact integer, so thresholds decided on it are float-free.
  * Overflows only past |a|·|b| ≈ 9.2e18 (docs of ~3e9 tokens — not a
  * real document). */
object LongVecOps {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  /** Typed fast arm + generic fallback — see [[VecOps]]'s receiver-
    * devirtualization note (this kernel, d18's hot loop over ~12.5M pairs
    * per sf0.1 pass, is where the megamorphic-profile cpu bimodality was
    * measured). Both arms run the identical loop: bit-identical results. */
  def dot(a: ArrayData, b: ArrayData): Long = {
    require(a.numElements() == b.numElements(),
      s"vector dimensions differ: ${a.numElements()} vs ${b.numElements()}")
    (a, b) match {
      case (x: UnsafeArrayData, y: UnsafeArrayData) => dotUU(x, y)
      case _ => dotGen(a, b)
    }
  }
  private def dotUU(a: UnsafeArrayData, b: UnsafeArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }
  private def dotGen(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }
}

object SortedIntersectOps {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  /** |a ∩ b| of two ASCENDING-SORTED DISTINCT ARRAY<BIGINT>s as one
    * zero-allocation merge scan. This is the verify-step kernel of every
    * exact set-similarity join here (d22 PPJoin, the d03/d08 family's
    * verifyJaccard, d14 containment): those paths previously computed
    * `size(array_intersect(a, b))`, and Spark's ArrayIntersect allocates
    * an OpenHashSet PLUS a materialized result array PER ROW — on the
    * heavy tier that is ~1.8M candidate pairs × ~100-element sets of
    * transient garbage in the operator's dominant stage, the exact
    * allocation-churn class that large-heap JVM geometry punishes
    * (BUILD_NOTES r17: d22's cpu_s ran 2-6× hotter under a 64 GB heap
    * with bit-identical work counters — young-gen allocation working
    * sets stop being cache-resident) and the same churn the r16 TopKPair
    * fast path eliminated for s11. The shingle tables are sorted distinct
    * BY CONSTRUCTION (ShingleOps.shingleHashes sorts + dedupes in place),
    * so the merge scan is free to assume order; PrefixFilterOps sorts at
    * its enforcement entry for untrusted callers.
    *
    * PRECONDITION (caller-enforced, like LongVecDot's equal-dims): both
    * arrays ascending-sorted and duplicate-free. On unsorted input the
    * count is an UNDERCOUNT, not an error — every call site must come
    * from a sorted-producing expression or an array_sort. */
  def count(a: ArrayData, b: ArrayData): Int = (a, b) match {
    // typed fast arm + generic fallback — the LongVecOps receiver-
    // devirtualization pattern; both arms run the identical loop
    case (x: UnsafeArrayData, y: UnsafeArrayData) => countUU(x, y)
    case _ => countGen(a, b)
  }
  private def countUU(a: UnsafeArrayData, b: UnsafeArrayData): Int = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
  private def countGen(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** Symmetric int8 SCALAR QUANTIZATION of float vectors — the 4× memory
  * lever every large ANN deployment pulls first (FAISS SQ8, Lucene/HNSW
  * int8): per-dimension scale s_d (the max |x_d| over a training sample),
  * q_d = clamp(floor(x_d·127/s_d + 0.5), ±127) stored as ONE BYTE.
  * Every step is exact conversion or one correctly-rounded IEEE op +
  * exact floor, so any engine reproduces the codes bit-for-bit (the d07
  * replay rule). Scoring is an exact INTEGER dot product of the byte
  * codes — no float until the final exact re-rank of the shortlist. */
object SqOps {
  def quantize(v: ArrayData, scales: Array[Float]): Array[Byte] = {
    require(v.numElements() == scales.length,
      s"vector length ${v.numElements()} does not match the scale table ${scales.length}")
    val out = new Array[Byte](scales.length)
    var i = 0
    while (i < scales.length) {
      val s = scales(i).toDouble
      val q = if (s == 0.0) 0.0
        else math.floor(v.getFloat(i).toDouble * 127.0 / s + 0.5)
      out(i) = math.max(-127.0, math.min(127.0, q)).toByte
      i += 1
    }
    out
  }

  /** Exact dot product of two signed int8 code vectors (BINARY columns):
    * |acc| ≤ dim·127² — a long overflows only past ~5.7e14 dims. */
  def dot(a: Array[Byte], b: Array[Byte]): Long = {
    require(a.length == b.length,
      s"code lengths differ: ${a.length} vs ${b.length}")
    var acc = 0L
    var i = 0
    while (i < a.length) {
      acc += a(i).toLong * b(i).toLong
      i += 1
    }
    acc
  }
}

/** Greedy Maximal Marginal Relevance (Carbonell & Goldstein 1998) over a
  * BOUNDED per-query candidate list — retrieval's answer to near-duplicate
  * result lists: each pick maximizes λ·relevance − (1−λ)·max-similarity-to-
  * already-picked. Runs as ONE expression per query row, so the greedy
  * loop is distributed per query with zero per-iteration round trips;
  * cost is O(k·N·dim) per query over the N candidates the bounded top-k
  * aggregate already cut. */
object MmrOps {
  /** Selected candidate ids in pick order. Candidates are (id, score,
    * embedding) structs; λ = lambdaMilli/1000. Deterministic: the
    * penalty max is order-independent and exact value ties go to the
    * lowest id, so the result does not depend on candidate array order
    * (collect_list order is partition-dependent — this must not be). */
  def select(cands: ArrayData, k: Int, lambdaMilli: Int): ArrayData = {
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val scores = new Array[Double](n)
    val embs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 3)
      ids(i) = row.getLong(0)
      scores(i) = row.getDouble(1)
      embs(i) = row.getArray(2)
      i += 1
    }
    val lambda = lambdaMilli / 1000.0
    val kk = math.min(k, n)
    val chosen = new Array[Boolean](n)
    val out = new Array[Long](kk)
    val pickedIdx = new Array[Int](kk)
    var slot = 0
    while (slot < kk) {
      var best = -1
      var bestVal = Double.NegativeInfinity
      var c = 0
      while (c < n) {
        if (!chosen(c)) {
          var penalty = 0.0
          var s = 0
          while (s < slot) {
            val sim = VecOps.cosine(embs(c), embs(pickedIdx(s)))
            if (sim > penalty) penalty = sim
            s += 1
          }
          val v = lambda * scores(c) - (1.0 - lambda) * penalty
          if (v > bestVal || (v == bestVal && (best < 0 || ids(c) < ids(best)))) {
            bestVal = v
            best = c
          }
        }
        c += 1
      }
      // every remaining candidate scored NaN (NaN comparisons are all
      // false, so `best` never moved): stop with the picks made so far
      // rather than indexing chosen(-1)
      if (best < 0) return new GenericArrayData(java.util.Arrays.copyOf(out, slot))
      chosen(best) = true
      pickedIdx(slot) = best
      out(slot) = ids(best)
      slot += 1
    }
    new GenericArrayData(out)
  }
}

/** Waveform feature extraction over raw PCM payloads — the audio analogue
  * of the image feature pass: one tight loop per row over 16-bit
  * little-endian samples, no codec, no per-sample lambda. */
object PcmOps {
  /** (n_samples, sum_abs, max_abs, zero_crossings) of a PCM16LE payload.
    * A trailing odd byte is ignored (truncated frame). A crossing is a
    * sign CHANGE between consecutive samples, where zero counts as
    * non-negative — the usual zero-crossing-rate convention, stated here
    * because the oracle must replicate it exactly. */
  def statsI16le(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = bytes.length / 2
    var sumAbs = 0L
    var maxAbs = 0
    var crossings = 0
    var prevNonNeg = true
    var i = 0
    while (i < n) {
      val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
      val a = math.abs(s)
      sumAbs += a
      if (a > maxAbs) maxAbs = a
      val nonNeg = s >= 0
      if (i > 0 && nonNeg != prevNonNeg) crossings += 1
      prevNonNeg = nonNeg
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, sumAbs, maxAbs, crossings)
  }
}

/** 2:1 PCM decimation with pair averaging — the transform half of the
  * audio pipeline (m08/m09 analyze; this RESAMPLES and re-encodes): output
  * sample j = (x[2j] + x[2j+1]) >> 1 (arithmetic shift = floor of the
  * mean, exact in any engine as FLOOR((a+b)/2.0) since |a+b| ≤ 2^16), an
  * odd tail sample is dropped, and the result is re-encoded as 16-bit
  * little-endian bytes. Averaging before decimation is the cheapest
  * anti-aliasing kernel; the point here is the byte-level
  * decode→transform→encode shape with exact arithmetic. */
object PcmResampleOps {
  def downsample2(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length / 2
    val m = n / 2
    val out = new Array[Byte](2 * m)
    var j = 0
    while (j < m) {
      val a = ((bytes(4 * j) & 0xff) | (bytes(4 * j + 1) << 8)).toShort.toInt
      val b = ((bytes(4 * j + 2) & 0xff) | (bytes(4 * j + 3) << 8)).toShort.toInt
      val y = (a + b) >> 1
      out(2 * j) = (y & 0xff).toByte
      out(2 * j + 1) = ((y >> 8) & 0xff).toByte
      j += 1
    }
    out
  }
}

/** Coarse-quantizer assignment against a centroid table that rides into
  * codegen as ONE referenced object (the bloom_count_hits/pq_encode pattern)
  * instead of nlist literal structs. The literal-pivot projection is fine
  * up to a few hundred centroids, but past that the plan itself becomes
  * the problem — O(nlist·dim) literal expressions blow up analysis and
  * codegen long before the data does (a √-scaled 5e8-vector corpus wants
  * ~16k centroids ≈ 4 MB of float literals). Here the table ships once
  * per task and scoring is one tight JVM loop per row. */
object PivotOps {
  /** The `k` nearest centroids by cosine as (pivot, sim) structs,
    * descending; ties to the lowest id — the exact ordering of the
    * literal-pivot sort_array path. Cosine accumulates doubles in
    * ascending dimension order, the same arithmetic as [[VecOps.cosine]],
    * so rankings (and the sims themselves) are bit-identical to the
    * literal projection this replaces. */
  def topPivots(v: ArrayData, centroids: Array[Float], dim: Int, k: Int): ArrayData = {
    require(v.numElements() == dim,
      s"vector length ${v.numElements()} does not match the centroid dim $dim")
    val nlist = centroids.length / dim
    val kk = math.min(k, nlist)
    var nq = 0.0
    var i = 0
    while (i < dim) { val x = v.getFloat(i).toDouble; nq += x * x; i += 1 }
    val bestSim = new Array[Double](kk)
    val bestId = new Array[Int](kk)
    java.util.Arrays.fill(bestSim, Double.NegativeInfinity)
    var p = 0
    while (p < nlist) {
      var dot = 0.0
      var nc = 0.0
      val base = p * dim
      var j = 0
      while (j < dim) {
        val x = v.getFloat(j).toDouble
        val y = centroids(base + j).toDouble
        dot += x * y
        nc += y * y
        j += 1
      }
      val denom = math.sqrt(nq) * math.sqrt(nc)
      val sim = if (denom == 0.0) 0.0 else dot / denom
      // insertion into the sorted top-k (sim desc, id asc); p ascends, so
      // a strict comparison keeps the earlier id on ties
      var pos = kk
      while (pos > 0 && sim > bestSim(pos - 1)) pos -= 1
      if (pos < kk) {
        var q = kk - 1
        while (q > pos) { bestSim(q) = bestSim(q - 1); bestId(q) = bestId(q - 1); q -= 1 }
        bestSim(pos) = sim
        bestId(pos) = p
      }
      p += 1
    }
    val rows = new Array[Any](kk)
    var r = 0
    while (r < kk) {
      rows(r) = org.apache.spark.sql.catalyst.InternalRow(bestId(r), bestSim(r))
      r += 1
    }
    new GenericArrayData(rows)
  }
}

/** One-pass Gopher/MassiveText repetition statistics — t17's kernel.
  *
  * All three metrics are DOC-LOCAL functions of the token stream, so they
  * never needed a shuffle: the relational formulation this replaces (r21,
  * guide §1.2 step 1 — fix the algorithm first) scanned `documents` three
  * times, tokenized the text four times (twice more inside pushed-down
  * filter conditions), built every bigram/5-gram as a STRING through
  * interpreted higher-order lambdas, and pushed (doc_id, gram) rows through
  * five Exchanges plus a Window sort — per-corpus work for per-document
  * answers. Here one tight JVM loop per row computes
  *   - n_tokens, tok_chars (Σ per-token code-point lengths),
  *   - top2_chars = max over bigram groups of count·(gram_chars − 1), and
  *   - cov5 = |union of [p, p+4] over 5-gram starts whose gram occurs ≥ 2
  *     times in the document| (each position counted once),
  * staying inside WholeStageCodegen. Gram identity is the chained-xxh64
  * hash of the token-hash sequence: hash-domain grouping equals
  * string-domain grouping up to ~2^-64 collisions (the t10/d08 argument —
  * token-boundary-aware, so ("ab","c") and ("a","bc") stay distinct), and
  * the 3-SF oracle hash check plus the QueriesSpec equivalence test hold
  * the old formulation as the executable witness. */
object GopherOps {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def repetitionStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    // tokenize on single spaces (split(text, " ") + non-empty filter):
    // per-token xxh64 over raw UTF-8 bytes + code-point length (count of
    // non-continuation bytes == UTF8String.numChars == DuckDB LEN)
    var cap = 16
    var th = new Array[Long](cap)
    var tl = new Array[Int](cap)
    var m = 0
    var tokChars = 0L
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          if (m == cap) {
            cap *= 2
            th = java.util.Arrays.copyOf(th, cap)
            tl = java.util.Arrays.copyOf(tl, cap)
          }
          th(m) = XXH64.hashUnsafeBytes(
            bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, ShingleOps.Seed)
          var c = 0
          var j = start
          while (j < i) { if ((bytes(j) & 0xC0) != 0x80) c += 1; j += 1 }
          tl(m) = c
          tokChars += c
          m += 1
        }
        start = i + 1
      }
      i += 1
    }
    // top2_chars: max over bigram groups of count · (len(gram) − 1); with
    // one separator space, len(gram) − 1 = len(tok_i) + len(tok_{i+1}).
    // Counts come from a sorted copy collapsed to (unique, count) runs —
    // O(m log m) worst case even on a document that repeats one gram
    // m times (a per-occurrence run walk would be O(m²) there)
    var top2 = 0L
    if (m >= 2) {
      val nb = m - 1
      val bh = new Array[Long](nb)
      var k = 0
      while (k < nb) {
        bh(k) = XXH64.hashLong(th(k + 1), XXH64.hashLong(th(k), ShingleOps.Seed))
        k += 1
      }
      val sorted = java.util.Arrays.copyOf(bh, nb)
      java.util.Arrays.sort(sorted)
      val uniq = new Array[Long](nb)
      val cnt = new Array[Int](nb)
      var u = -1
      k = 0
      while (k < nb) {
        if (u < 0 || sorted(k) != uniq(u)) { u += 1; uniq(u) = sorted(k); cnt(u) = 1 }
        else cnt(u) += 1
        k += 1
      }
      k = 0
      while (k < nb) {
        val idx = java.util.Arrays.binarySearch(uniq, 0, u + 1, bh(k))
        val metric = cnt(idx).toLong * (tl(k) + tl(k + 1)).toLong
        if (metric > top2) top2 = metric
        k += 1
      }
    }
    // cov5: 5-gram starts are 1-based and ascend, so the interval union of
    // [p, p+4] spans is a single sweep with a covered-until watermark
    var cov5 = 0L
    if (m >= 5) {
      val n5 = m - 4
      val h5 = new Array[Long](n5)
      var k = 0
      while (k < n5) {
        var hh = ShingleOps.Seed
        var j = 0
        while (j < 5) { hh = XXH64.hashLong(th(k + j), hh); j += 1 }
        h5(k) = hh
        k += 1
      }
      val sorted = java.util.Arrays.copyOf(h5, n5)
      java.util.Arrays.sort(sorted)
      // values occurring >= 2 times, ascending — membership by binary search
      val dup = new Array[Long](n5)
      var d = 0
      k = 0
      while (k < n5) {
        var r = k
        while (r + 1 < n5 && sorted(r + 1) == sorted(k)) r += 1
        if (r > k) { dup(d) = sorted(k); d += 1 }
        k = r + 1
      }
      if (d > 0) {
        var coveredUntil = 0L
        k = 0
        while (k < n5) {
          if (java.util.Arrays.binarySearch(dup, 0, d, h5(k)) >= 0) {
            val p = (k + 1).toLong
            cov5 += (p + 4) - math.max(coveredUntil, p - 1)
            coveredUntil = p + 4
          }
          k += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](m, tokChars, top2, cov5))
  }
}

/** One-pass duplicated-5-gram span REMOVAL — t21's kernel (the rewrite
  * sibling of [[GopherOps.repetitionStats]]): every n-gram occurrence
  * whose gram already occurred EARLIER in the same document marks its
  * token span [p, p+n-1] for removal; the first occurrence survives, and
  * clean_text is the surviving tokens rejoined with single spaces.
  * Doc-local like t17's metrics, but the higher-order formulation it
  * replaces (r21) was O(m²) PER DOCUMENT: `array_position(gs,
  * element_at(gs, p)) < p` rescans the gram-string array from the front
  * for every position, with interpreted lambdas and string equality.
  * Here repeats are found in O(m log m) against the sorted gram-hash
  * array (first occurrence per duplicated value survives via a seen
  * bitmap), and the rewrite is one byte-level pass. Gram identity is the
  * chained-xxh64 hash domain (the t10/d08 argument); the QueriesSpec
  * equivalence witness + 3-SF oracle hold the string-domain semantics. */
object DupSpanOps {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def rewrite(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    // tokenize on single spaces, keeping byte ranges for the rewrite
    var cap = 16
    var th = new Array[Long](cap)
    var ts = new Array[Int](cap)
    var te = new Array[Int](cap)
    var m = 0
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          if (m == cap) {
            cap *= 2
            th = java.util.Arrays.copyOf(th, cap)
            ts = java.util.Arrays.copyOf(ts, cap)
            te = java.util.Arrays.copyOf(te, cap)
          }
          th(m) = XXH64.hashUnsafeBytes(
            bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, ShingleOps.Seed)
          ts(m) = start
          te(m) = i
          m += 1
        }
        start = i + 1
      }
      i += 1
    }
    val covered = new Array[Boolean](m)
    var nRemoved = 0
    if (m >= n) {
      val ng = m - n + 1
      val h = new Array[Long](ng)
      var k = 0
      while (k < ng) {
        var hh = ShingleOps.Seed
        var j = 0
        while (j < n) { hh = XXH64.hashLong(th(k + j), hh); j += 1 }
        h(k) = hh
        k += 1
      }
      val sorted = java.util.Arrays.copyOf(h, ng)
      java.util.Arrays.sort(sorted)
      // duplicated values ascending + a first-occurrence-seen bitmap
      val dup = new Array[Long](ng)
      var d = 0
      k = 0
      while (k < ng) {
        var r = k
        while (r + 1 < ng && sorted(r + 1) == sorted(k)) r += 1
        if (r > k) { dup(d) = sorted(k); d += 1 }
        k = r + 1
      }
      if (d > 0) {
        val seen = new Array[Boolean](d)
        k = 0
        while (k < ng) {
          val idx = java.util.Arrays.binarySearch(dup, 0, d, h(k))
          if (idx >= 0) {
            if (seen(idx)) {
              var j = k
              while (j < k + n) {
                if (!covered(j)) { covered(j) = true; nRemoved += 1 }
                j += 1
              }
            } else seen(idx) = true
          }
          k += 1
        }
      }
    }
    // surviving tokens rejoined with single spaces (byte-level copy)
    val out = new Array[Byte](bytes.length)
    var w = 0
    var k = 0
    while (k < m) {
      if (!covered(k)) {
        if (w > 0) { out(w) = ' '; w += 1 }
        System.arraycopy(bytes, ts(k), out, w, te(k) - ts(k))
        w += te(k) - ts(k)
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](m, nRemoved,
      UTF8String.fromBytes(java.util.Arrays.copyOf(out, w))))
  }
}

/** Count-Sketch hash family, one digest pass per (key, row) — the native
  * kernel behind [[graft.queries.CountSketch.pairs]]. BIT-IDENTICAL to
  * the md5-hex column pipeline it replaces (r21, guide §4):
  * b_i = first 4 digest bytes of md5("i:k") as an unsigned 32-bit value
  * mod w (== conv(substring(md5hex, 1, 8), 16, 10) % w) and
  * g_i = 1 − 2·(low bit of byte 8) (== 1 − 2·(conv(substring(md5hex, 9,
  * 8), 16, 10) % 2)), so every consumer's cells — q105's batch build, the
  * streaming twin, the oracle replay — are cell-for-cell unchanged. What
  * it removes is pure overhead per (row, i): a fresh MessageDigest
  * (DigestUtils allocates one per md5() call), the 32-char hex encode,
  * two substring allocations and two base-16 reparses. */
object CountSketchOps {
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def pairs(k: Long, d: Int, w: Int): ArrayData = {
    val md = Md5.get()
    val rows = new Array[Any](d)
    var i = 0
    while (i < d) {
      md.reset()
      val dig = md.digest(
        (i.toString + ":" + k.toString).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val b = (((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)) % w
      val g = 1L - 2L * (dig(7) & 1L)
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(b, g)
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** One native scalar kernel — everything Catalyst needs to know about it,
  * as one row of [[Kernels.table]]. [[NativeUnary]] / [[NativeBinary]]
  * carry only the row's `name`, their children and the parameter values
  * (int literals or reference objects such as a Bloom filter or a
  * codebook), so equality, hashing, canonicalization and task
  * serialization behave as for any case-class expression. The row holds:
  *  - `name`: the SQL / Column function name;
  *  - `prettyName`: the explain name;
  *  - `arity`: the number of input columns, 1 or 2;
  *  - `sqlDefaults`: `Some(defaults)` registers the kernel in SQL with one
  *    integer-literal argument per parameter, defaulting to `defaults`;
  *    `None` keeps it Column-only (trained reference objects, or
  *    internal helpers);
  *  - `checkInputs`: the analysis-time input type check;
  *  - `resultType`: the result type, given the input types;
  *  - `eval`: interpreted evaluation over (non-null inputs ++ params);
  *  - `gen`: codegen — registers any reference objects first, then maps
  *    the inputs' Java values to the one-line static call into `*Ops`;
  *  - `checkParams`: the parameter `require`s, run at construction.
  * Adding a kernel takes one `*Ops` method plus one row (and, for the
  * Column API, a one-line wrapper in [[functions]]). */
private[graft] final case class Kernel(
    name: String,
    prettyName: String,
    arity: Int,
    sqlDefaults: Option[Seq[Int]],
    checkInputs: Seq[DataType] => TypeCheckResult,
    resultType: Seq[DataType] => DataType,
    eval: Seq[Any] => Any,
    gen: (CodegenContext, Seq[Any]) => Seq[String] => String,
    checkParams: Seq[Any] => Unit = _ => ())

/** A native scalar kernel over one input column; see [[Kernel]]. */
case class NativeUnary(name: String, child: Expression, params: Seq[Any])
    extends UnaryExpression {
  Kernels.check(name, 1, params)
  @transient private lazy val kernel = Kernels.byName(name)
  override def prettyName: String = kernel.prettyName
  // explain prints the input, then the parameters
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ params
  override def checkInputDataTypes(): TypeCheckResult = kernel.checkInputs(Seq(child.dataType))
  override def dataType: DataType = kernel.resultType(Seq(child.dataType))
  override protected def nullSafeEval(input: Any): Any = kernel.eval(input +: params)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernel.gen(ctx, params)
    defineCodeGen(ctx, ev, c => call(Seq(c)))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A native scalar kernel over two input columns; see [[Kernel]]. */
case class NativeBinary(name: String, left: Expression, right: Expression, params: Seq[Any])
    extends BinaryExpression {
  Kernels.check(name, 2, params)
  @transient private lazy val kernel = Kernels.byName(name)
  override def prettyName: String = kernel.prettyName
  override protected def stringArgs: Iterator[Any] = Iterator(left, right) ++ params
  override def checkInputDataTypes(): TypeCheckResult =
    kernel.checkInputs(Seq(left.dataType, right.dataType))
  override def dataType: DataType = kernel.resultType(Seq(left.dataType, right.dataType))
  override protected def nullSafeEval(a: Any, b: Any): Any = kernel.eval(a +: b +: params)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernel.gen(ctx, params)
    defineCodeGen(ctx, ev, (a, b) => call(Seq(a, b)))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The native scalar kernel table: one [[Kernel]] row per kernel. */
private[graft] object Kernels {
  import ExprChecks.{all, isFloatArray, isIntegral, isLongArray}

  private type Gen = (CodegenContext, Seq[Any]) => Seq[String] => String
  private val Pkg = "org.apache.spark.sql.graft"

  /** Codegen of `Pkg.method(inputs..., params...)` for int parameters. */
  private def call(method: String): Gen =
    (_, params) => args => s"$Pkg.$method(${(args ++ params).mkString(", ")})"

  /** [[call]] whose first parameter is a reference object: it rides into
    * codegen once per task, not per row. */
  private def callRef(method: String, ref: String, javaType: String): Gen = (ctx, params) => {
    val r = ctx.addReferenceObj(ref, params.head, javaType)
    args => s"$Pkg.$method(${(args ++ (r +: params.tail)).mkString(", ")})"
  }

  private def const(dt: DataType): Seq[DataType] => DataType = _ => dt
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val LongArr = ArrayType(LongType, containsNull = false)
  private val Str = all(_ == StringType, "STRING")
  private val Bin = all(_ == BinaryType, "BINARY")
  private val FloatVec = all(isFloatArray, "ARRAY<FLOAT>")

  private def checkPq(codebook: Array[Float], m: Int, k: Int, rangeMsg: String): Unit = {
    require(m > 0 && k > 0 && k <= 256, rangeMsg)
    require(codebook.length % (m * k) == 0, "codebook length must be m·k·subDim")
  }

  // name, prettyName, arity, sqlDefaults, checkInputs, resultType, eval,
  // gen[, checkParams]
  val table: Seq[Kernel] = Seq(
    // ---- text ----
    Kernel("token_shingle_hashes", "tokenshinglehashes", 1, Some(Seq(3)), Str, const(LongArr),
      { case Seq(s: UTF8String, n: Int) => ShingleOps.shingleHashes(s, n) },
      call("ShingleOps.shingleHashes"),
      { case Seq(n: Int) => require(n > 0, "shingle size must be positive") }),
    Kernel("token_window_hashes", "token_window_hashes", 1, Some(Seq(10)), Str, const(LongArr),
      { case Seq(s: UTF8String, n: Int) => ShingleOps.windowHashes(s, n) },
      call("ShingleOps.windowHashes"),
      { case Seq(n: Int) => require(n > 0, "window size must be positive") }),
    Kernel("minhash_signature", "minhashsignature", 1, Some(Seq(32)),
      all(isLongArray, "ARRAY<BIGINT>"), const(LongArr),
      { case Seq(a: ArrayData, perms: Int) => ShingleOps.minhash(a, perms) },
      call("ShingleOps.minhash"),
      { case Seq(perms: Int) => require(perms > 0 && perms <= 1024, "perms must be in [1, 1024]") }),
    Kernel("simhash_md5", "simhashmd5", 1, Some(Nil), Str, const(LongType),
      { case Seq(s: UTF8String) => ShingleOps.simhashMd5(s) },
      call("ShingleOps.simhashMd5")),
    Kernel("normalize_text", "normalizetext", 1, Some(Nil), Str, const(StringType),
      { case Seq(s: UTF8String) => NormalizeOps.normalize(s) },
      call("NormalizeOps.normalize")),
    Kernel("winnow_fingerprints", "winnowfingerprints", 1, Some(Seq(32, 8)), Str, const(LongArr),
      { case Seq(s: UTF8String, k: Int, w: Int) => WinnowOps.fingerprints(s, k, w) },
      call("WinnowOps.fingerprints"),
      { case Seq(k: Int, w: Int) => require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w") }),
    Kernel("deletion_variant_hashes", "deletionvarianthashes", 1, Some(Nil), Str, const(LongArr),
      { case Seq(s: UTF8String) => DeletionOps.variantHashes(s, ShingleOps.Seed) },
      (_, _) => args => s"$Pkg.DeletionOps.variantHashes(${args.head}, ${ShingleOps.Seed}L)"),
    Kernel("gopher_repetition_stats", "gopher_repetition_stats", 1, Some(Nil), Str,
      const(struct("n_tokens" -> IntegerType, "tok_chars" -> LongType,
        "top2_chars" -> LongType, "cov5" -> LongType)),
      { case Seq(s: UTF8String) => GopherOps.repetitionStats(s) },
      call("GopherOps.repetitionStats")),
    Kernel("dup_span_rewrite", "dup_span_rewrite", 1, Some(Seq(5)), Str,
      const(struct("n_tokens" -> IntegerType, "n_removed" -> IntegerType,
        "clean_text" -> StringType)),
      { case Seq(s: UTF8String, n: Int) => DupSpanOps.rewrite(s, n) },
      call("DupSpanOps.rewrite"),
      { case Seq(n: Int) => require(n > 0, "span size must be positive") }),
    Kernel("cdc_chunk_hashes_md5", "cdc_chunk_hashes_md5", 1, Some(Seq(16, 6)), Str, const(LongArr),
      { case Seq(s: UTF8String, minSize: Int, maskBits: Int) =>
        ChunkMd5Ops.cdcChunkHashes(s, minSize, maskBits) },
      call("ChunkMd5Ops.cdcChunkHashes"),
      { case Seq(minSize: Int, maskBits: Int) => require(minSize > 0 && maskBits > 0 && maskBits <= 54,
        "minSize must be positive and maskBits in [1, 54]") }),
    // ---- sketches ----
    Kernel("bloom_count_hits", "bloomcounthits", 1, None,
      all(isLongArray, "ARRAY<BIGINT>"), const(IntegerType),
      { case Seq(a: ArrayData, bf: BloomFilter) => BloomOps.countHits(a, bf) },
      callRef("BloomOps.countHits", "bloom", classOf[BloomFilter].getName)),
    Kernel("count_sketch_pairs", "count_sketch_pairs", 1, None, all(_ == LongType, "BIGINT"),
      const(ArrayType(struct("b" -> LongType, "g" -> LongType), containsNull = false)),
      { case Seq(k: Long, d: Int, w: Int) => CountSketchOps.pairs(k, d, w) },
      call("CountSketchOps.pairs"),
      { case Seq(d: Int, w: Int) =>
        require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 buckets, got d=$d w=$w") }),
    // ---- vectors ----
    Kernel("vec_cosine", "floatveccosine", 2, Some(Nil),
      all(isFloatArray, "ARRAY<FLOAT> on both sides"), const(DoubleType),
      { case Seq(a: ArrayData, b: ArrayData) => VecOps.cosine(a, b) },
      call("VecOps.cosine")),
    // vec_dot / (vec_norm · vec_norm) is bit-identical to vec_cosine (see VecOps.dot)
    Kernel("vec_dot", "floatvecdot", 2, Some(Nil),
      all(isFloatArray, "ARRAY<FLOAT> on both sides"), const(DoubleType),
      { case Seq(a: ArrayData, b: ArrayData) => VecOps.dot(a, b) },
      call("VecOps.dot")),
    Kernel("vec_norm", "floatvecnorm", 1, Some(Nil), FloatVec, const(DoubleType),
      { case Seq(a: ArrayData) => VecOps.norm(a) },
      call("VecOps.norm")),
    Kernel("vec_srp_md5", "floatvecsrpmd5", 1, Some(Seq(32)), FloatVec, const(LongType),
      { case Seq(v: ArrayData, planes: Int) => SrpMd5Ops.srp(v, planes) },
      call("SrpMd5Ops.srp"),
      { case Seq(planes: Int) => require(planes > 0 && planes <= 64, "planes must be in [1, 64]") }),
    Kernel("long_vec_dot", "longvecdot", 2, None,
      all(isLongArray, "ARRAY<BIGINT> on both sides"), const(LongType),
      { case Seq(a: ArrayData, b: ArrayData) => LongVecOps.dot(a, b) },
      call("LongVecOps.dot")),
    // INT result, like size(array_intersect(...)). containsNull arrays are
    // rejected at analysis: the merge scan reads getLong per slot, and a
    // null also breaks the sortedness precondition (array_sort puts nulls
    // last), so a nullable-element array would give a silently wrong count
    Kernel("sorted_intersect_count", "sortedintersectcount", 2, Some(Nil),
      all({ case ArrayType(LongType, false) => true; case _ => false },
        "ARRAY<BIGINT> with containsNull = false on both sides (a null element " +
          "would break the sorted-merge count; array_compact first)"),
      const(IntegerType),
      { case Seq(a: ArrayData, b: ArrayData) => SortedIntersectOps.count(a, b) },
      call("SortedIntersectOps.count")),
    // schema-only narrowing to containsNull = false, the array-element
    // analogue of KnownNotNull: eval and codegen are the identity. A cast
    // cannot narrow nullability and array_compact pays a per-row scan; this
    // is an ASSERTION by a trusted caller that no element is null — on a
    // false promise, primitive-slot readers downstream see garbage
    Kernel("known_elements_not_null", "known_elements_not_null", 1, None,
      all(_.isInstanceOf[ArrayType], "an ARRAY column"),
      ins => ins.head match {
        case ArrayType(et, _) => ArrayType(et, containsNull = false)
        case dt => dt
      },
      { case Seq(v) => v },
      (_, _) => args => args.head),
    Kernel("int8_quantize", "int8quantize", 1, None, FloatVec, const(BinaryType),
      { case Seq(v: ArrayData, scales: Array[Float]) => SqOps.quantize(v, scales) },
      callRef("SqOps.quantize", "scales", "float[]"),
      { case Seq(scales: Array[Float]) => require(scales.nonEmpty, "the scale table must be non-empty") }),
    Kernel("int8_vec_dot", "int8vecdot", 2, Some(Nil), all(_ == BinaryType, "BINARY on both sides"),
      const(LongType),
      { case Seq(a: Array[Byte], b: Array[Byte]) => SqOps.dot(a, b) },
      call("SqOps.dot")),
    // the sim field lets k-means training reuse this path: its assignment
    // needs the winning similarity, not just the id
    Kernel("nearest_pivots", "nearestpivots", 1, None, FloatVec,
      const(ArrayType(struct("pivot" -> IntegerType, "sim" -> DoubleType), containsNull = false)),
      { case Seq(v: ArrayData, centroids: Array[Float], dim: Int, k: Int) =>
        PivotOps.topPivots(v, centroids, dim, k) },
      callRef("PivotOps.topPivots", "centroids", "float[]"),
      { case Seq(centroids: Array[Float], dim: Int, k: Int) =>
        require(dim > 0 && k > 0, s"dim and k must be positive, got dim=$dim k=$k")
        require(centroids.nonEmpty && centroids.length % dim == 0,
          s"centroid table length ${centroids.length} must be a positive multiple of dim=$dim") }),
    // candidates: ARRAY<STRUCT<id BIGINT, score DOUBLE, emb ARRAY<FLOAT>>>
    Kernel("mmr_select", "mmrselect", 1, None,
      all({
        case ArrayType(StructType(Array(a, b, c)), _) =>
          a.dataType == LongType && b.dataType == DoubleType && isFloatArray(c.dataType)
        case _ => false
      }, "ARRAY<STRUCT<BIGINT, DOUBLE, ARRAY<FLOAT>>>"),
      const(LongArr),
      { case Seq(a: ArrayData, k: Int, lambdaMilli: Int) => MmrOps.select(a, k, lambdaMilli) },
      call("MmrOps.select"),
      { case Seq(k: Int, lambdaMilli: Int) => require(k > 0 && lambdaMilli >= 0 && lambdaMilli <= 1000,
        s"k must be positive and lambdaMilli in [0, 1000], got k=$k lambda=$lambdaMilli") }),
    Kernel("pq_encode", "pqencode", 1, None, FloatVec, const(BinaryType),
      { case Seq(v: ArrayData, cb: Array[Float], m: Int, k: Int) => PqOps.encode(v, cb, m, k) },
      callRef("PqOps.encode", "pqCodebook", "float[]"),
      { case Seq(cb: Array[Float], m: Int, k: Int) =>
        checkPq(cb, m, k, "m must be positive and k in [1, 256] (one byte per code)") }),
    Kernel("pq_adc_lut", "pqadclut", 1, None, FloatVec,
      const(ArrayType(DoubleType, containsNull = false)),
      { case Seq(q: ArrayData, cb: Array[Float], m: Int, k: Int) => PqOps.adcLut(q, cb, m, k) },
      callRef("PqOps.adcLut", "pqCodebook", "float[]"),
      { case Seq(cb: Array[Float], m: Int, k: Int) =>
        checkPq(cb, m, k, "m must be positive and k in [1, 256]") }),
    Kernel("pq_adc_score", "pqadcscore", 2, None,
      ins => ExprChecks.expect(ins(0) == BinaryType && (ins(1) match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }), "(BINARY, ARRAY<DOUBLE>)", ins(0)),
      const(DoubleType),
      { case Seq(code: Array[Byte], lut: ArrayData) => PqOps.adcScore(code, lut) },
      call("PqOps.adcScore")),
    // ---- layout ----
    // int/short/byte operands widen to long implicitly in the generated Java
    Kernel("zorder_key", "zorderkey", 2, Some(Seq(16)),
      all(isIntegral, "integral types on both sides"), const(LongType),
      { case Seq(x: Number, y: Number, bits: Int) => ZOrderOps.interleave2(x.longValue, y.longValue, bits) },
      call("ZOrderOps.interleave2"),
      { case Seq(bits: Int) => require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits") }),
    // ---- audio ----
    Kernel("pcm_i16le_stats", "pcmi16lestats", 1, Some(Nil), Bin,
      const(struct("n_samples" -> IntegerType, "sum_abs" -> LongType,
        "max_abs" -> IntegerType, "zero_crossings" -> IntegerType)),
      { case Seq(b: Array[Byte]) => PcmOps.statsI16le(b) },
      call("PcmOps.statsI16le")),
    Kernel("pcm_downsample2", "pcm_downsample2", 1, Some(Nil), Bin, const(BinaryType),
      { case Seq(b: Array[Byte]) => PcmResampleOps.downsample2(b) },
      call("PcmResampleOps.downsample2")))

  val byName: Map[String, Kernel] = table.map(k => k.name -> k).toMap

  /** The construction-time checks: a known kernel, the right number of
    * inputs, and the row's parameter `require`s. */
  def check(name: String, arity: Int, params: Seq[Any]): Unit = {
    val k = byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown native kernel: $name"))
    require(k.arity == arity, s"$name takes ${k.arity} input column(s), got $arity")
    k.checkParams(params)
  }

  def expression(name: String, inputs: Seq[Expression], params: Seq[Any]): Expression =
    inputs match {
      case Seq(c) => NativeUnary(name, c, params.toList)
      case Seq(l, r) => NativeBinary(name, l, r, params.toList)
      case _ => throw new IllegalArgumentException(
        s"$name: a native kernel takes 1 or 2 input columns, got ${inputs.length}")
    }

  def intArg(exprs: Seq[Expression], i: Int, default: Int): Int =
    if (exprs.length > i) exprs(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    } else default

  /** SQL builder of a registered row: the first `arity` arguments are the
    * inputs, the rest integer literals (omitted ones take `defaults`). */
  def sqlBuilder(k: Kernel, defaults: Seq[Int]): Seq[Expression] => Expression = exprs => {
    require(exprs.length >= k.arity && exprs.length <= k.arity + defaults.length,
      s"${k.name} takes ${k.arity} input(s) and up to ${defaults.length} integer " +
        s"literal(s), got ${exprs.length} arguments")
    expression(k.name, exprs.take(k.arity),
      defaults.indices.map(i => intArg(exprs, k.arity + i, defaults(i))))
  }
}

/** Column-facing API + SQL registration for the native expressions. Each
  * scalar wrapper is one call into the [[Kernels]] table. */
object functions {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.classic.ExpressionUtils

  private def kernel(name: String, inputs: Column*)(params: Any*): Column =
    ExpressionUtils.column(
      Kernels.expression(name, inputs.map(ExpressionUtils.expression), params))

  def token_shingle_hashes(c: Column, n: Int = 3): Column = kernel("token_shingle_hashes", c)(n)
  def token_window_hashes(c: Column, n: Int = 10): Column = kernel("token_window_hashes", c)(n)
  def minhash_signature(c: Column, perms: Int = 32): Column =
    kernel("minhash_signature", c)(perms)
  def simhash_md5(c: Column): Column = kernel("simhash_md5", c)()
  def vec_cosine(a: Column, b: Column): Column = kernel("vec_cosine", a, b)()
  def vec_dot(a: Column, b: Column): Column = kernel("vec_dot", a, b)()
  def vec_norm(a: Column): Column = kernel("vec_norm", a)()
  def int8_quantize(c: Column, scales: Array[Float]): Column = kernel("int8_quantize", c)(scales)
  def int8_vec_dot(a: Column, b: Column): Column = kernel("int8_vec_dot", a, b)()
  def vec_srp_md5(c: Column, planes: Int = 32): Column = kernel("vec_srp_md5", c)(planes)
  def normalize_text(c: Column): Column = kernel("normalize_text", c)()
  def gopher_repetition_stats(c: Column): Column = kernel("gopher_repetition_stats", c)()
  def dup_span_rewrite(c: Column, n: Int = 5): Column = kernel("dup_span_rewrite", c)(n)
  def count_sketch_pairs(c: Column, d: Int, w: Int): Column = kernel("count_sketch_pairs", c)(d, w)
  def bloom_count_hits(c: Column, bf: BloomFilter): Column = kernel("bloom_count_hits", c)(bf)
  def cdc_chunk_hashes_md5(c: Column, minSize: Int = 16, maskBits: Int = 6): Column =
    kernel("cdc_chunk_hashes_md5", c)(minSize, maskBits)
  def pcm_downsample2(c: Column): Column = kernel("pcm_downsample2", c)()
  def zorder_key(x: Column, y: Column, bits: Int = 16): Column = kernel("zorder_key", x, y)(bits)
  def winnow_fingerprints(c: Column, k: Int = 32, w: Int = 8): Column =
    kernel("winnow_fingerprints", c)(k, w)
  def deletion_variant_hashes(c: Column): Column = kernel("deletion_variant_hashes", c)()
  def nearest_pivots(c: Column, centroids: Array[Float], dim: Int, k: Int): Column =
    kernel("nearest_pivots", c)(centroids, dim, k)
  def pcm_i16le_stats(c: Column): Column = kernel("pcm_i16le_stats", c)()
  def mmr_select(c: Column, k: Int, lambdaMilli: Int): Column =
    kernel("mmr_select", c)(k, lambdaMilli)
  def long_vec_dot(a: Column, b: Column): Column = kernel("long_vec_dot", a, b)()

  /** |a ∩ b| of ascending-sorted distinct ARRAY<BIGINT>s, zero-allocation
    * (see [[SortedIntersectOps]] — caller must guarantee sortedness). */
  def sorted_intersect_count(a: Column, b: Column): Column =
    kernel("sorted_intersect_count", a, b)()

  /** Zero-cost schema narrowing to `containsNull = false` for a TRUSTED
    * null-free array column — a false promise yields garbage downstream,
    * like a false sortedness promise. */
  def known_elements_not_null(a: Column): Column = kernel("known_elements_not_null", a)()

  def pq_encode(c: Column, codebook: Array[Float], m: Int, k: Int): Column =
    kernel("pq_encode", c)(codebook, m, k)
  def pq_adc_lut(c: Column, codebook: Array[Float], m: Int, k: Int): Column =
    kernel("pq_adc_lut", c)(codebook, m, k)
  def pq_adc_score(code: Column, lut: Column): Column = kernel("pq_adc_score", code, lut)()

  /** Bounded top-k aggregate over a struct column (k smallest under the
    * struct's lexicographic order; lead with a negated field for "top by x
    * desc"). Map-side partial state is capped at k rows per key. */
  def top_k_struct(c: Column, k: Int): Column =
    ExpressionUtils.column(TopKStruct(ExpressionUtils.expression(c), k)
      .toAggregateExpression())

  /** [[top_k_struct]] with duplicate rows skipped — the k smallest DISTINCT
    * structs, a pure function of the input SET (multiplicity-independent):
    * KMV sketch state that streaming can hold in O(k) without the
    * unbounded exact-dedup state a pre-`distinct()` would need. */
  def top_k_struct_distinct(c: Column, k: Int): Column =
    ExpressionUtils.column(TopKStruct(ExpressionUtils.expression(c), k, distinct = true)
      .toAggregateExpression())

  /** [[top_k_struct]] specialized to the (score DESC, id ASC) two-column
    * shape with flat primitive per-group state — the ANN/kNN hot path,
    * where the aggregation hash map's buffer footprint is the cache
    * working set (see [[TopKPair]]). Pass the NEGATED score; result is the
    * ascending ARRAY<STRUCT<neg_score, neighbor_id>> TopKStruct would
    * produce for `struct(neg_score, id)`. */
  def top_k_pair(negScore: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(TopKPair(ExpressionUtils.expression(negScore),
      ExpressionUtils.expression(id), k).toAggregateExpression())

  /** [[top_k_pair]] with ordering-equal duplicates skipped on insert and
    * merge (the TopKStruct distinct-mode semantics). */
  def top_k_pair_distinct(negScore: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(TopKPair(ExpressionUtils.expression(negScore),
      ExpressionUtils.expression(id), k, distinct = true).toAggregateExpression())

  /** SQL builders — ONE list consumed by both registration paths:
    * [[registerAll]] (session temp functions) and [[GraftExtensions]]
    * (`spark.sql.extensions` cluster conf). The scalar kernels come from
    * the rows of [[Kernels.table]] that register in SQL. */
  private[graft] def sqlBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Kernels.table.flatMap(k => k.sqlDefaults.map(d => k.name -> Kernels.sqlBuilder(k, d))) ++ Seq(
      // aggregates register like any expression: the builder returns the
      // AggregateExpression wrapper, so SQL GROUP BY picks them up
      "top_k_struct" ->
        (exprs => TopKStruct(exprs.head, Kernels.intArg(exprs, 1, 10)).toAggregateExpression()),
      "top_k_struct_distinct" ->
        (exprs => TopKStruct(exprs.head, Kernels.intArg(exprs, 1, 10), distinct = true)
          .toAggregateExpression()),
      "top_k_pair" ->
        (exprs => TopKPair(exprs(0), exprs(1), Kernels.intArg(exprs, 2, 10))
          .toAggregateExpression()),
      "top_k_pair_distinct" ->
        (exprs => TopKPair(exprs(0), exprs(1), Kernels.intArg(exprs, 2, 10), distinct = true)
          .toAggregateExpression()))

  /** Make the expressions callable from SQL (temp functions). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
