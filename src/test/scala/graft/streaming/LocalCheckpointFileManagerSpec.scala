package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint-file contract Spark's offset log, commit log and state
  * stores rely on, pinned for [[LocalCheckpointFileManager]] on a temp
  * directory (no streaming query): atomic publish on close, nothing
  * left by cancel, a loud `FileAlreadyExistsException` for a second
  * writer, and listings identical to Spark's default manager. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with graft.TempDirs {

  private val conf = new Configuration()

  private def tmpDir(): JPath = tempDir("graft_cfm")
  private def hpath(p: JPath) = new Path("file:" + p.toAbsolutePath)
  private def ours(dir: JPath) = new LocalCheckpointFileManager(hpath(dir), conf)
  private def sparks(dir: JPath) =
    new FileContextBasedCheckpointFileManager(hpath(dir), conf)
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(fm: CheckpointFileManager, p: JPath, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: JPath): String = {
    val in = fm.open(hpath(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic output is invisible until close") {
    val dir = tmpDir()
    val fm = ours(dir)
    val target = dir.resolve("0")
    val out = fm.createAtomic(hpath(target), false)
    out.write("batch 0".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(hpath(target)) && !Files.exists(target))
    out.close()
    assert(read(fm, target) == "batch 0")
    assert(names(dir) == Set("0"), "the temp file must be gone after close")
  }

  test("cancel() leaves no file") {
    val dir = tmpDir()
    val out = ours(dir).createAtomic(hpath(dir.resolve("1.delta")), true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty, s"cancel left ${names(dir)}")
  }

  test("overwrite = false on an existing path throws and keeps the original bytes") {
    val dir = tmpDir()
    val fm = ours(dir)
    val target = dir.resolve("2")
    write(fm, target, "first writer", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, target, "second writer", overwrite = false)
    }
    assert(read(fm, target) == "first writer")
    assert(names(dir) == Set("2"), s"the losing writer left ${names(dir)}")
  }

  test("overwrite = true replaces the file and removes its stale .crc sidecar") {
    val dir = tmpDir()
    val target = dir.resolve("3.delta")
    // Spark's default manager writes through Hadoop's checksummed local
    // file system, which leaves a `.3.delta.crc` beside the file
    write(sparks(dir), target, "old state", overwrite = true)
    assert(names(dir) == Set("3.delta", ".3.delta.crc"))
    write(ours(dir), target, "new state, longer than the old", overwrite = true)
    assert(names(dir) == Set("3.delta"))
    // so the default manager reads the replacement without a checksum error
    assert(read(sparks(dir), target) == "new state, longer than the old")
    ours(dir).delete(hpath(target))
    assert(names(dir).isEmpty)
  }

  test("list with a filter returns what Spark's default manager returns") {
    val dir = tmpDir()
    write(sparks(dir), dir.resolve("0"), "a", overwrite = false)
    write(sparks(dir), dir.resolve("1.delta"), "b", overwrite = true)
    write(ours(dir), dir.resolve("2"), "c", overwrite = false)
    write(ours(dir), dir.resolve("3.delta"), "d", overwrite = true)
    ours(dir).mkdirs(hpath(dir.resolve("state/0/1")))
    Files.write(dir.resolve(".4.tmp"), "e".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".crc")), "the fixture needs sidecars")
    val filters: Seq[(String, PathFilter)] = Seq(
      "all" -> ((_: Path) => true),
      "batch ids" -> ((p: Path) => p.getName.forall(_.isDigit)),
      "deltas" -> ((p: Path) => p.getName.endsWith(".delta")))
    filters.foreach { case (what, f) =>
      def listing(fm: CheckpointFileManager) = fm.list(hpath(dir), f)
        .map(s => (s.getPath.toString, s.getLen, s.isDirectory)).toSet
      assert(listing(ours(dir)) == listing(sparks(dir)), what)
    }
    assert(ours(dir).list(hpath(dir)).map(_.getPath.getName).toSet ==
      Set("0", "1.delta", "2", "3.delta", "state", ".4.tmp"))
  }

  test("one pure predicate picks the java.nio branch: file: and scheme-less paths only") {
    val localFs = URI.create("file:///")
    assert(LocalCheckpointFileManager.usesNio(new Path("file:/tmp/cp/offsets/0"), localFs))
    assert(LocalCheckpointFileManager.usesNio(new Path("/tmp/cp/offsets/0"), localFs))
    assert(!LocalCheckpointFileManager.usesNio(new Path("hdfs://nn:8020/cp/offsets/0"), localFs))
    assert(!LocalCheckpointFileManager.usesNio(new Path("s3a://bucket/cp/offsets/0"), localFs))
    // a scheme-less path is local only when the default file system is
    assert(!LocalCheckpointFileManager.usesNio(new Path("/cp/offsets/0"),
      URI.create("hdfs://nn:8020")))
  }
}
