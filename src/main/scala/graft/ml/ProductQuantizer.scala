package graft.ml

/** Product quantizer for ANN over `array<float>` embeddings (the
  * FAISS-style PQ of Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split the vector into `m` subspaces,
  * k-means each subspace to `k` centroids, and represent a vector by
  * its `m` centroid codes — 64-dim float32 compresses 32× to 8 bytes at
  * m=8, k=16.
  *
  * Fit is driver-side Lloyd's on a bounded sample (codebooks are
  * m·k·subdim floats — KBs — and quantizer quality needs ~10⁴ vectors
  * regardless of corpus size; same fit-small/broadcast/score-distributed
  * regime as GraftIsolationForest). Encoding and asymmetric-distance
  * scanning are narrow distributed maps over the broadcast codebooks.
  * Deterministic for a fixed seed.
  */
case class ProductQuantizer(m: Int, k: Int, subDim: Int,
    codebooks: Array[Array[Array[Double]]]) extends Serializable {

  /** Nearest-centroid code per subspace. */
  def encode(v: Seq[Float]): Array[Byte] = {
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = Double.MaxValue
      var bi = 0
      var c = 0
      while (c < k) {
        val ctr = codebooks(s)(c)
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = v(s * subDim + i) - ctr(i); d += diff * diff; i += 1
        }
        if (d < best) { best = d; bi = c }
        c += 1
      }
      out(s) = bi.toByte
      s += 1
    }
    out
  }

  /** Asymmetric-distance lookup table for one query: table(s)(c) =
    * dot(q_s, centroid_sc); the PQ-approximate dot of q with any coded
    * vector is Σ_s table(s)(code_s). */
  def dotTable(q: Seq[Float]): Array[Array[Double]] =
    Array.tabulate(m, k) { (s, c) =>
      val ctr = codebooks(s)(c)
      var d = 0.0
      var i = 0
      while (i < subDim) { d += q(s * subDim + i) * ctr(i); i += 1 }
      d
    }

  /** PQ-approximate squared norm of a coded vector. Accumulated as a
    * left-fold of PER-SUBSPACE partial sums (not one flat chain): the
    * partial ‖c_sc‖² is a pure function of the codebook, so the
    * literal-embedding oracle can precompute it per (s, c) with this
    * exact inner loop and replay the outer 8-term sum in SQL
    * bit-for-bit — a flat 64-term chain has no such decomposition. */
  def normSq(code: Array[Byte]): Double = {
    var n = 0.0
    var s = 0
    while (s < m) {
      n += centroidNormSq(s, code(s) & 0xff)
      s += 1
    }
    n
  }

  /** ‖codebooks(s)(c)‖² with the fixed inner-loop order [[normSq]]'s
    * SQL replay depends on. */
  def centroidNormSq(s: Int, c: Int): Double = {
    val ctr = codebooks(s)(c)
    var p = 0.0
    var i = 0
    while (i < subDim) { p += ctr(i) * ctr(i); i += 1 }
    p
  }
}

object ProductQuantizer {

  /** Lloyd's k-means per subspace on the (bounded) sample. Init is a
    * deterministic spread pick (every n/k-th sample point in hashed
    * order); empty clusters re-seed from the farthest point. */
  def fit(sample: Array[Array[Float]], m: Int = 8, k: Int = 16,
      iters: Int = 10, seed: Long = 11L): ProductQuantizer = {
    require(sample.nonEmpty, "PQ fit needs a non-empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val rng = new scala.util.Random(seed)
    val order = rng.shuffle(sample.indices.toVector)
    val codebooks = Array.tabulate(m) { s =>
      val pts = sample.map { v =>
        val p = new Array[Double](subDim)
        var i = 0
        while (i < subDim) { p(i) = v(s * subDim + i); i += 1 }
        p
      }
      val centers = Array.tabulate(k)(c =>
        pts(order(c * pts.length / k)).clone())
      val assign = new Array[Int](pts.length)
      var it = 0
      while (it < iters) {
        var p = 0
        while (p < pts.length) {
          var best = Double.MaxValue
          var bi = 0
          var c = 0
          while (c < k) {
            var d = 0.0
            var i = 0
            while (i < subDim) {
              val diff = pts(p)(i) - centers(c)(i); d += diff * diff; i += 1
            }
            if (d < best) { best = d; bi = c }
            c += 1
          }
          assign(p) = bi
          p += 1
        }
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        p = 0
        while (p < pts.length) {
          val c = assign(p)
          counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += pts(p)(i); i += 1 }
          p += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var i = 0
            while (i < subDim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
          } else {
            // deterministic re-seed for an empty cluster
            centers(c) = pts(order(c % pts.length)).clone()
          }
          c += 1
        }
        it += 1
      }
      centers
    }
    ProductQuantizer(m, k, subDim, codebooks)
  }
}
