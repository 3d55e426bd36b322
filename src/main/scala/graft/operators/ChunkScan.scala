package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one "chunk-parallel or per-key?" policy of the low-cardinality
  * sequential operators (a4 CUSUM, e18 drift scan, q13 window suite),
  * and the run iterator their chunked kernels walk.
  *
  * A per-key scan (window function or secondary-sort mapPartitions)
  * has |keys| parallelism — five tasks for five event types, however
  * many cores. Each chunked kernel cuts every key's ordered rows into
  * cells to reach keys × cells parallelism, bit-identical to its
  * per-key form, at the price of extra eager jobs and a driver-side
  * grid of keys × cells aggregate rows. So a dispatcher runs ONE eager
  * bounds aggregate ([[measure]]) and takes the chunked kernel only
  * when [[chunked]] says the input is big enough to pay for the
  * orchestration and the grid stays bounded. */
object ChunkScan {

  /** Below this many rows the per-key form is cheaper: 4 chunks of
    * e18's 65,536 rows. Measured at 100k events on 4 cores: e18's
    * window form 0.86 s vs forced chunking 1.22 s (min-of-4); a4's
    * sequential scan 2.7 s vs the fixpoint stitch 4.2 s per
    * batch_iterative pass (median of 10 perfbench pairs). */
  val MinRows: Long = 4L * 65536

  /** Cap on the driver grid (keys × cells-per-key aggregate rows).
    * Past it the per-key form is both the safe and the parallel plan:
    * that many keys already fan the per-key scan out. */
  val MaxGridCells: Long = 1L << 22

  /** The bounds aggregate: row count, approximate distinct keys and the
    * order column's range (`lo`/`hi` are null on empty input). */
  final case class Bounds[T](rows: Long, keys: Long, lo: T, hi: T)

  /** The one eager decision job: count, `approx_count_distinct` of the
    * key and min/max of the order column, in one pass. */
  def measure[T](df: DataFrame, key: Column, order: Column): Bounds[T] = {
    val r = df.agg(count(lit(1)), approx_count_distinct(key, rsd = 0.05),
      min(order), max(order)).head()
    Bounds(r.getLong(0), r.getLong(1), r.getAs[T](2), r.getAs[T](3))
  }

  /** Whether a keys × cells-per-key driver grid stays under the cap. */
  def fitsGrid(keys: Long, cellsPerKey: Int): Boolean =
    keys * cellsPerKey <= MaxGridCells

  /** The policy: chunk only from [[MinRows]] rows and within the grid
    * cap (empty input has 0 rows, so it takes the per-key form). */
  def chunked(rows: Long, keys: Long, cellsPerKey: Int): Boolean =
    rows >= MinRows && fitsGrid(keys, cellsPerKey)

  /** Walk a partition sorted by `runKey` as its maximal runs of equal
    * keys — one per (key, chunk) cell in the kernels, one per key in
    * the sequential CUSUM. Each run streams off the partition; rows a
    * caller leaves unread are skipped when the next run starts. */
  def runs[R, K](it: Iterator[R])(runKey: R => K): Iterator[(K, Iterator[R])] = {
    val buf = it.buffered
    new Iterator[(K, Iterator[R])] {
      private var run: Iterator[R] = Iterator.empty
      def hasNext: Boolean = {
        while (run.hasNext) run.next()
        buf.hasNext
      }
      def next(): (K, Iterator[R]) = {
        if (!hasNext) throw new NoSuchElementException("no more runs")
        val k = runKey(buf.head)
        run = new Iterator[R] {
          def hasNext: Boolean = buf.hasNext && runKey(buf.head) == k
          def next(): R = buf.next()
        }
        (k, run)
      }
    }
  }
}
