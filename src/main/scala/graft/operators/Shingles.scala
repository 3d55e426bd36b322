package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared distinct-hashed-shingle index for the dedup family
  * (d2/d7/d8/d9).
  *
  * Execution shape: a typed flatMap emitting (doc_id, hash) pairs
  * directly — measured 6× faster at sf0.1 (0.4 s vs 2.5 s warm,
  * d972764) than the declarative
  * `transform(sequence…) → explode → xxhash64` form, because array
  * HOFs run interpreted (the same measurement that shaped d4, see its
  * scaladoc) and the intermediate shingle-string array never needs to
  * exist as a row value at all. The flatMap is still a narrow map —
  * nothing shuffles until the caller's aggregate/join, and only
  * fixed-width (long, long) rows ever reach a shuffle.
  *
  * The hash is FNV-1a 64 computed in-JVM: the oracle contract never
  * sees these values (DuckDB recomputes candidates from the raw shingle
  * STRINGS), so any collision-safe 64-bit hash works. Collision odds at
  * 10⁶ distinct shingles ≈ 2·10⁻⁸; above ~10⁹ swap in a 128-bit hash,
  * same plan (d2's scaladoc note).
  */
object Shingles {

  private final val FnvOffset = -3750763034362895579L
  private final val FnvPrime = 1099511628211L

  def fnv1a64(s: String): Long = {
    var h = FnvOffset
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * FnvPrime; i += 1 }
    h
  }

  /** The distinct k-word-shingle hash set of ONE document — the single
    * definition of the shingling convention (docs shorter than k words
    * yield their whole text as one shingle; the `greatest(size - k, 0)`
    * convention the DuckDB oracles mirror). [[index]], [[indexFlagged]]
    * and the streaming d6-twin probe (st15) all call this, so the
    * convention cannot silently diverge between the batch and stream
    * paths. */
  def docShingleSet(text: String, k: Int): scala.collection.mutable.HashSet[Long] = {
    val w = text.split(" ")
    val out = new scala.collection.mutable.HashSet[Long]
    if (w.length <= k) out += fnv1a64(w.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder(16 * k)
      var i = 0
      while (i + k <= w.length) {
        sb.setLength(0)
        var j = i
        while (j < i + k) {
          if (j > i) sb.append(' ')
          sb.append(w(j))
          j += 1
        }
        out += fnv1a64(sb.toString)
        i += 1
      }
    }
    out
  }

  /** The k-word block hashes of one document, one per block POSITION
    * (within-doc repeats preserved; docs ≤ k words are one whole-text
    * block — the same short-doc convention as [[docShingleSet]]):
    * ⌊len/k⌋ non-overlapping full blocks, plus — when the length is
    * not block-aligned — the FINAL k-word window as a tail block, so
    * trailing words are screened too (a k-wide window, not the bare
    * remainder, keeps block selectivity uniform; a 2-word tail block
    * would collide constantly). Block hashing is inherently
    * offset-ALIGNED — the same span pasted at a different word offset
    * lands in different blocks; that is the block-vs-suffix-array
    * tradeoff (Lee et al. use suffix arrays), and the shifted-span
    * case is what d2/d7's OVERLAPPING shingles cover. The single
    * definition d10's batch audit and st16's streaming screen share,
    * so the block convention cannot drift between the batch and
    * stream paths. */
  def docBlocks(text: String, k: Int): Array[Long] = {
    val w = text.split(" ")
    if (w.length <= k) Array(fnv1a64(w.mkString(" ")))
    else {
      val full = Array.tabulate(w.length / k)(i =>
        fnv1a64(w.slice(i * k, (i + 1) * k).mkString(" ")))
      if (w.length % k == 0) full
      else full :+ fnv1a64(w.slice(w.length - k, w.length).mkString(" "))
    }
  }

  /** Distinct k-word-shingle hashes per doc: (doc_id, g), via
    * [[docShingleSet]]. */
  def index(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        docShingleSet(text, k).iterator.map(g => (id, g))
      }
      .toDF("doc_id", "g")
  }

  /** [[index]] carrying a per-doc boolean through the flatMap (the
    * d6 train/test split) — avoids re-joining the flag onto the
    * exploded index. Input frame must be (doc_id, text, flag). */
  def indexFlagged(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.as[(Long, String, Boolean)]
      .flatMap { case (id, text, flag) =>
        docShingleSet(text, k).iterator.map(g => (id, g, flag))
      }
      .toDF("doc_id", "g", "is_test")
  }
}
