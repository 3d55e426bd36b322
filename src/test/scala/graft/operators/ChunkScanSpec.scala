package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import ChunkScan.{MaxGridCells, MinRows, chunked, fitsGrid, runs}

/** The one chunk-parallel-or-per-key policy of a4, e18 and q13, pinned
  * as a pure function of (rows, keys, cells per key): no frames, so the
  * boundaries are exact rather than approx_count_distinct-blurred. */
class ChunkScanSpec extends AnyFunSuite {

  test("the row floor: MinRows - 1 rows stay per-key, MinRows chunk") {
    assert(MinRows == 262144L)
    assert(!chunked(MinRows - 1, 5, 16))
    assert(chunked(MinRows, 5, 16))
    assert(!chunked(MinRows - 1, 3, 4096))
    assert(chunked(MinRows, 3, 4096))
  }

  test("the grid cap: keys x cells-per-key up to MaxGridCells chunk, one key more does not") {
    assert(MaxGridCells == (1L << 22))
    for (cells <- Seq(16, 4096)) {
      val maxKeys = MaxGridCells / cells
      assert(fitsGrid(maxKeys, cells))
      assert(!fitsGrid(maxKeys + 1, cells))
      assert(chunked(1L << 30, maxKeys, cells))
      assert(!chunked(1L << 30, maxKeys + 1, cells))
    }
  }

  test("empty input selects the per-key form") {
    assert(!chunked(0, 0, 16))
    assert(!chunked(0, 0, 4096))
  }

  test("scale-factor routing: a4 sequential to sf0.1 and chunked from sf1; e18 and q13 as before") {
    assert(!chunked(100000, 5, 16), "a4 at sf0.1 (100k events, 5 keys)")
    assert(chunked(1000000, 5, 16), "a4 at sf1 (1M events)")
    assert(!chunked(100000, 5, 4096), "e18 at sf0.1 keeps the window form")
    assert(!chunked(60000, 3, 4096), "q13 at sf0.01 (60k lineitems) keeps the window form")
    assert(chunked(600000, 3, 4096), "q13 at sf0.1 (600k lineitems) chunks")
  }

  test("runs walks each maximal run of equal keys; unread rows are skipped") {
    val rows = Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4), ("c", 5), ("c", 6))
    assert(runs(rows.iterator)(_._1).map { case (k, run) =>
      k -> run.map(_._2).toList
    }.toList == List("a" -> List(1, 2), "b" -> List(3), "c" -> List(4, 5, 6)))
    // read only the first row of every run
    assert(runs(rows.iterator)(_._1).map { case (k, run) =>
      k -> run.next()._2
    }.toList == List("a" -> 1, "b" -> 3, "c" -> 4))
    assert(runs(Iterator.empty[(String, Int)])(_._1).isEmpty)
  }
}
