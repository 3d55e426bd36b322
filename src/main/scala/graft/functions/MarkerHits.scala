package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-language marker-word scorer for t1/t15 language ID: the
  * value of the composed column stack
  * `size(filter(split(text, " "), w -> w.isInCollection(markers_L)))`
  * for EVERY language L at once, as one pass over the text's UTF-8
  * bytes, returned as `array<int>` in [[MarkerHits.langs]] order.
  *
  * The composed form splits the text into a words array (one UTF8String
  * allocation per token) and then runs five interpreted HOF lambdas —
  * array `filter` does not participate in whole-stage codegen, so a
  * 100-word doc pays ~500 boxed per-element predicate evaluations plus
  * five traversals. Here each space-delimited token (split on the
  * single byte 0x20 — exact for UTF-8, where a continuation byte can
  * never equal an ASCII space; same tokens as `split(text, " ")`) is
  * packed into a length-sentineled long (all markers are ≤ 7 ASCII
  * bytes; longer tokens can match nothing and are skipped) and probed
  * in a static open-addressed long→langmask table, so scoring is
  * zero-allocation per token and the whole scorer stays inside
  * whole-stage codegen via a static call. A token appearing in several
  * languages' marker lists (e.g. "de", "le") increments each of them,
  * exactly like the per-language `filter`s.
  *
  * Bit-identical to the composed form — pinned by MarkerHitsSpec
  * (crafted sentences, multi-space/empty/unicode/overlong tokens,
  * seeded random corpora) and by the unchanged t1/t15 DuckDB oracles.
  * Measured (v2 harness, re-based min-of-N at sf10 — the
  * `git show acf731b:BASELINE_SELF.md` numbers): t1 49.5 → 3.2 s, t15 18.0 → 3.1 s (the
  * first in-session reading was 6.5/6.6 s; min-of-N across later
  * passes settled lower). */
case class MarkerHits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MarkerHits.hits(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MarkerHits.hits($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MarkerHits {

  /** Per-language marker-word profiles (tiny embedded stopword lists —
    * the n-gram-profile approach of Cavnar & Trenkle 1994, reduced to
    * word unigrams). THE single definition — TextOps.langMarkers and
    * the probe table below both derive from it. */
  val langs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that"),
    "es" -> Seq("el", "los", "de", "y", "que", "en", "es", "una"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo", "zai", "you"))

  def hitsCol(text: Column): Column =
    GraftShim.column(MarkerHits(GraftShim.expression(text)))

  private val nLangs = langs.length

  /** Longest marker in bytes; tokens longer than this match nothing.
    * Must stay ≤ 7 so the 1-sentinel length-prefix-free packing below
    * never overflows a long. */
  private val MaxMarkerLen = {
    val m = langs.flatMap(_._2).map(_.getBytes("UTF-8").length).max
    require(m <= 7, s"marker longer than 7 bytes breaks long-packing: $m")
    m
  }

  /** Token bytes → length-prefix-free long key: a leading 1 sentinel
    * then each byte. Injective for 0 < len ≤ 7 bytes, never 0. */
  private def pack(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 1L
    var j = from
    while (j < until) { h = (h << 8) | (bytes(j) & 0xffL); j += 1 }
    h
  }

  // open-addressed long→int probe table (40 entries, 1/8 load; key 0 =
  // empty slot, impossible for a real token thanks to the 1 sentinel)
  private val TableBits = 8
  private val TableSize = 1 << TableBits
  private val keys = new Array[Long](TableSize)
  private val masks = new Array[Int](TableSize)

  private def slotOf(h: Long): Int = {
    val mixed = (h ^ (h >>> 29)) * 0x9E3779B97F4A7C15L
    (mixed >>> (64 - TableBits)).toInt & (TableSize - 1)
  }

  for (((_, markers), li) <- langs.zipWithIndex; m <- markers) {
    val b = m.getBytes("UTF-8")
    val key = pack(b, 0, b.length)
    var s = slotOf(key)
    while (keys(s) != 0L && keys(s) != key) s = (s + 1) & (TableSize - 1)
    keys(s) = key
    masks(s) |= 1 << li
  }

  /** All five language scores of `s` in one byte pass. */
  def hits(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val counts = new Array[Int](nLangs)
    var start = 0
    while (start <= n) {
      var end = start
      while (end < n && bytes(end) != 0x20) end += 1
      val len = end - start
      if (len > 0 && len <= MaxMarkerLen) {
        val key = pack(bytes, start, end)
        var s2 = slotOf(key)
        while (keys(s2) != 0L && keys(s2) != key) s2 = (s2 + 1) & (TableSize - 1)
        if (keys(s2) == key) {
          var m = masks(s2)
          var li = 0
          while (m != 0) {
            if ((m & 1) != 0) counts(li) += 1
            m >>>= 1
            li += 1
          }
        }
      }
      start = end + 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}
