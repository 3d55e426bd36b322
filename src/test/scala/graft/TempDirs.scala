package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a suite: every directory made through
  * [[tempDir]] is deleted, with everything under it, after the suite
  * has run, so streaming checkpoints and parquet fixtures do not pile
  * up in java.io.tmpdir across test runs. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under java.io.tmpdir, deleted after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => TempDirs.deleteRecursively(d))
}

object TempDirs {

  /** Delete `root` and everything under it, children first. A path
    * that cannot be deleted is reported on stderr, not thrown: a
    * leftover scratch file must not fail the suite that made it. */
  def deleteRecursively(root: Path): Unit = {
    if (!Files.exists(root)) return
    val walk = Files.walk(root)
    try {
      walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p)
        catch {
          case e: java.io.IOException =>
            System.err.println(s"TempDirs: could not delete $p: $e")
        }
      }
    } finally walk.close()
  }
}
