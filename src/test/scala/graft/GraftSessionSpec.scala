package graft

import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
import org.apache.spark.sql.functions.{col, lit}

/** Pins the SF-aware shuffle-codec choice (r11, VERDICT r10 item 2):
  * zstd is the shipped default from the sf10 input class up (measured
  * −35% exchange bytes on the d2-family shuffles, twice, two scales,
  * two host days — `git show acf731b:BASELINE_SELF.md` §r10 scale
  * session), lz4 below it
  * (gate scale is codec-CPU-bound and zstd is wall-neutral there), and
  * the cluster-side builder defaults to zstd outright (a cluster IS
  * the at-scale class). A silent flip of any of these is a perf
  * regression at one scale or the other, so the choice is spec-pinned.
  */
class GraftSessionSpec extends SparkSpec {

  private def tmpDirWithBytes(n: Long): java.io.File = {
    val d = tempDir("graft_codec").toFile
    val f = new java.io.File(d, "documents.parquet")
    // sparse file: size metadata without writing n bytes
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(n) finally raf.close()
    d
  }

  test("small input (gate class) keeps lz4") {
    val d = tmpDirWithBytes(50L << 20) // 50 MB ~ sf0.1
    assert(GraftSession.shuffleCodecFor(d.getAbsolutePath) === "lz4")
  }

  test("sf10-class input (>= 2 GB) switches to zstd") {
    val d = tmpDirWithBytes(GraftSession.ZstdCutoverBytes + 1)
    assert(GraftSession.shuffleCodecFor(d.getAbsolutePath) === "zstd")
  }

  test("missing dir degrades to lz4, never throws") {
    assert(GraftSession.shuffleCodecFor("/nonexistent/graft") === "lz4")
  }

  test("cluster builder defaults the shuffle codec to zstd") {
    // the defaults are data (clusterDefaults) precisely so this pin
    // doesn't need a session: spark.io.compression.codec is a STATIC
    // conf, so reading it off a getOrCreate'd session in the shared
    // test JVM would read some earlier suite's session instead
    assert(GraftSession.clusterDefaults("spark.io.compression.codec")
      === "zstd")
    assert(GraftSession.clusterDefaults("spark.sql.adaptive.enabled")
      === "true")
  }

  test("cluster builder keeps Spark's checkpoint file manager") {
    // cluster checkpoints live on HDFS or S3, where Spark's default
    // FileContext manager is the right one; the java.nio manager is a
    // local-session choice only
    assert(!GraftSession.clusterDefaults.keySet
      .exists(_.startsWith("spark.sql.streaming.checkpoint")))
  }

  // ---- the local factory's conf, as data (GraftSession.localConf):
  // every main, the specs and the benchmark build their session here,
  // so this table IS the benchmark's session

  private val noEnv: String => Option[String] = _ => None

  test("local conf with an empty env is exactly the shipped table") {
    assert(GraftSession.localConf(6, "", noEnv) === Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.io.compression.codec" -> "lz4",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "graft.streaming.LocalCheckpointFileManager",
      "spark.sql.codegen.cache.maxEntries" -> "2048",
      "spark.ui.enabled" -> "false"))
    val small = tmpDirWithBytes(50L << 20)
    assert(GraftSession.localConf(6, small.getAbsolutePath, noEnv)
      === GraftSession.localConf(6, "", noEnv))
    val big = tmpDirWithBytes(GraftSession.ZstdCutoverBytes + 1)
    assert(GraftSession.localConf(6, big.getAbsolutePath, noEnv)
      === GraftSession.localConf(6, "", noEnv) +
        ("spark.io.compression.codec" -> "zstd"))
    assert(GraftSession.defaultCores(noEnv)
      === Runtime.getRuntime.availableProcessors)
  }

  test("each session env variable overrides only its own key") {
    val base = GraftSession.localConf(6, "", noEnv)
    Seq(
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> ("spark.sql.shuffle.partitions", "320"),
      "SPARK_GRAFT_MAX_PARTITION_BYTES" -> ("spark.sql.files.maxPartitionBytes", "16m"),
      "SPARK_GRAFT_IO_CODEC" -> ("spark.io.compression.codec", "zstd")
    ).foreach { case (v, (key, value)) =>
      assert(GraftSession.localConf(6, "", Map(v -> value).get)
        === base + (key -> value), v)
    }
    // SPARK_GRAFT_CPUS is the default core count and nothing else
    val cpus = Map("SPARK_GRAFT_CPUS" -> "3").get _
    assert(GraftSession.defaultCores(cpus) === 3)
    assert(GraftSession.localConf(6, "", cpus) === base)
  }

  // ---- the codegen cache ([[GraftSession.CodegenCacheEntries]]): a
  // plan built again must find its classes cached even after far more
  // than Spark's default 100 other classes were generated in between

  test("a rebuilt plan compiles nothing after 300 other generated classes") {
    def run(k: Long): Long =
      spark.range(4).select((col("id") * lit(k)).as("x")).queryExecution.toRdd.count()
    run(7919L)
    (1L to 300L).foreach(run)
    val before = METRIC_COMPILATION_TIME.getCount
    run(7919L)
    assert(METRIC_COMPILATION_TIME.getCount === before)
  }
}
