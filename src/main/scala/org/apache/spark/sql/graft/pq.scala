package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Product quantization (PQ) — the vector-compression half of the classic
  * IVF-PQ ANN design (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the layout FAISS popularized).
  *
  * A d-dim float vector is split into `m` subvectors; each subspace gets a
  * k-entry codebook (trained offline on a bounded sample), and a vector is
  * stored as the m codebook ids of its nearest sub-centroids — m bytes
  * instead of 4·d, a 32× scan-size reduction at d=64/m=8. Queries never
  * decode: an asymmetric-distance (ADC) lookup table of dot(q_sub,
  * centroid) per (subspace, code) turns scoring a compressed vector into m
  * table lookups. At 100 TB the corpus-sized artifact that gets scanned per
  * query batch is the CODES, not the vectors — that is the entire point.
  *
  * Everything here is deterministic: training iterates a fixed sample in a
  * fixed order, and scoring accumulates doubles in subspace order.
  */
object PqOps {

  /** Per-subspace Lloyd k-means over a driver-held sample. Deterministic:
    * centroids init from the first k sample vectors, iteration order is
    * sample order, empty clusters keep their previous centroid. Returns the
    * flat codebook: entry ((s·k + c)·subDim + i) = component i of subspace
    * s's centroid c. */
  def train(sample: Array[Array[Float]], m: Int, k: Int, iters: Int): Array[Float] = {
    require(sample.nonEmpty, "PQ training needs a non-empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val subDim = dim / m
    val cb = new Array[Float](m * k * subDim)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val src = sample(c % sample.length)
        var i = 0
        while (i < subDim) { cb((s * k + c) * subDim + i) = src(s * subDim + i); i += 1 }
        c += 1
      }
      var it = 0
      while (it < iters) {
        // exact fixed-point accumulation (the KMeansOps rule): comp·2^24 is
        // a power-of-two scaling (no IEEE rounding), floor is exact, long
        // sums are exact and order-free, and the mean is one correctly
        // rounded double division + one double→float rounding — so the
        // training replays bit-for-bit in SQL (raw double sums would be
        // order-faithful here but not expressible as an unordered SUM)
        val sums = Array.ofDim[Long](k, subDim)
        val counts = new Array[Long](k)
        var v = 0
        while (v < sample.length) {
          val best = nearestSub(sample(v), cb, s, k, subDim)
          counts(best) += 1
          var i = 0
          while (i < subDim) {
            sums(best)(i) += math.floor(sample(v)(s * subDim + i).toDouble * (1L << 24)).toLong
            i += 1
          }
          v += 1
        }
        var c2 = 0
        while (c2 < k) {
          if (counts(c2) > 0) {
            var i = 0
            while (i < subDim) {
              cb((s * k + c2) * subDim + i) =
                (sums(c2)(i).toDouble / (counts(c2).toDouble * (1L << 24))).toFloat
              i += 1
            }
          }
          c2 += 1
        }
        it += 1
      }
      s += 1
    }
    cb
  }

  private def nearestSub(v: Array[Float], cb: Array[Float], s: Int, k: Int, subDim: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var d = 0.0
      var i = 0
      val base = (s * k + c) * subDim
      while (i < subDim) {
        val diff = v(s * subDim + i).toDouble - cb(base + i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The subspace width the codebook was trained for; a vector of any other
    * length would silently drop tail dimensions (or read out of bounds), so
    * mismatches fail loudly at eval time. */
  private def checkDim(v: ArrayData, cb: Array[Float], m: Int, k: Int): Int = {
    val subDim = cb.length / (m * k)
    require(v.numElements() == m * subDim,
      s"PQ vector length ${v.numElements()} does not match the codebook's " +
        s"m*subDim = ${m * subDim} (m=$m, k=$k, codebook length ${cb.length})")
    subDim
  }

  /** Vector → m-byte code: per subspace, the id of the nearest centroid
    * (L2, doubles in fixed order; ties to the lowest id). */
  def encode(v: ArrayData, cb: Array[Float], m: Int, k: Int): Array[Byte] = {
    val subDim = checkDim(v, cb, m, k)
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        var i = 0
        val base = (s * k + c) * subDim
        while (i < subDim) {
          val diff = v.getFloat(s * subDim + i).toDouble - cb(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** Query → flat ADC table of 2·m·k doubles: slots [0, m·k) hold
    * dot(q_sub_s, centroid_sc), slots [m·k, 2·m·k) hold |centroid_sc|² —
    * together enough to rank codes by approximate cosine (the query's own
    * norm is a per-query constant and cannot change its ranking). */
  def adcLut(q: ArrayData, cb: Array[Float], m: Int, k: Int): ArrayData = {
    val subDim = checkDim(q, cb, m, k)
    val out = new Array[Double](2 * m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        var dot = 0.0
        var n2 = 0.0
        var i = 0
        val base = (s * k + c) * subDim
        while (i < subDim) {
          val x = cb(base + i).toDouble
          dot += q.getFloat(s * subDim + i).toDouble * x
          n2 += x * x
          i += 1
        }
        out(s * k + c) = dot
        out(m * k + s * k + c) = n2
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score of one code against one query's table: m lookups, no
    * decode — cosine(q, reconstruction) up to the constant 1/|q|. */
  def adcScore(code: Array[Byte], lut: ArrayData): Double = {
    val m = code.length
    val k = lut.numElements() / (2 * m)
    var dot = 0.0
    var n2 = 0.0
    var s = 0
    while (s < m) {
      val c = code(s) & 0xff
      dot += lut.getDouble(s * k + c)
      n2 += lut.getDouble(m * k + s * k + c)
      s += 1
    }
    if (n2 == 0.0) 0.0 else dot / math.sqrt(n2)
  }
}
