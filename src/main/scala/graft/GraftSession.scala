package graft

import org.apache.spark.sql.SparkSession

/** The one session factory (SURVEY.md §4/§5): every main, the specs
  * and the benchmark build their session through [[local]] (or, on a
  * cluster, [[builder]]), so what is tested and timed is what ships.
  * Local runs get cluster-honest parallelism (split the MB-scale test
  * parquet the way 128 MB splits would on a real cluster); cluster
  * runs keep Spark's defaults where they're already right.
  *
  * The session env knobs are read here and nowhere else:
  * `SPARK_GRAFT_CPUS` (default core count), `SPARK_GRAFT_SHUFFLE_PARTITIONS`,
  * `SPARK_GRAFT_MAX_PARTITION_BYTES`, `SPARK_GRAFT_IO_CODEC`. A caller
  * that needs a different runtime SQL conf sets it on the returned
  * session with `spark.conf.set`.
  */
object GraftSession {

  /** Input size above which shuffle compression switches to zstd —
    * ~2 GB of parquet is the sf10 class, where every measured host
    * becomes exchange-byte-limited before it becomes codec-CPU-limited. */
  val ZstdCutoverBytes: Long = 2L << 30

  /** Shuffle/IO codec by input scale (r11, VERDICT r10 item 2). zstd
    * is measured −35% shuffle bytes vs the lz4 default on the d2
    * family — twice, on different host days AND scales (r9: −35%
    * bytes / −17% wall at sf100; r10: 1807→1178 MB at sf10, 5715cd0,
    * identical record counts) — and wall-neutral at gate scale (r9
    * sf0.1 sum-ratio 0.993). So: lz4 for small-data CPU-bound local
    * runs (the sf≤1 class, where shuffle bytes are MBs and codec CPU
    * is the only term), zstd from ~sf10 up — at fleet scale shuffle
    * is the disk/network cost center and 35% fewer exchange bytes is
    * 35% less of it. `SPARK_GRAFT_IO_CODEC` overrides for A/B runs. */
  def shuffleCodecFor(inputDir: String): String =
    codecFor(inputDir, sys.env.get)

  private def codecFor(dir: String, env: String => Option[String]): String =
    env("SPARK_GRAFT_IO_CODEC").getOrElse(
      if (dir.nonEmpty && inputBytes(dir) >= ZstdCutoverBytes) "zstd"
      else "lz4")

  /** Total bytes under `dir` — a RECURSIVE file walk, so nested
    * layouts (partitioned parquet dirs) size correctly; the flat
    * testdata layout just makes it cheap. */
  private[graft] def inputBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
      else f.length()
    if (root.exists()) sz(root) else 0L
  }

  /** Core count [[local]] defaults to: `SPARK_GRAFT_CPUS`, else every
    * available processor. */
  private[graft] def defaultCores(env: String => Option[String]): Int =
    env("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The conf [[local]] applies, as data — a function of the core
    * count, the data dir and an env lookup, so the factory's choices
    * are spec-pinnable without spinning up a session.
    *
    * - shuffle partitions: one per core (the sf0.1 gate protocol).
    *   Scale sweeps raise it 10× per decade above sf10
    *   (`SPARK_GRAFT_SHUFFLE_PARTITIONS=320` at sf100) so per-task
    *   sort volume stays constant — at 32 partitions an sf100 rank
    *   shuffle hands each task 19M rows (~900 MB), forcing multi-pass
    *   external sort spill that a fleet sized to the data never pays.
    * - max partition bytes 1m: test parquet is MB-scale; split it so
    *   scans parallelize the way a real cluster's 128 MB splits would.
    *   At multi-GB scale points 1m degenerates (16k splits each
    *   re-parsing a 16 GB file's footer — a harness artifact, not plan
    *   cost), so scale sweeps override it
    *   (`SPARK_GRAFT_MAX_PARTITION_BYTES`: 16m at sf10, 160m at sf100),
    *   the shape of a fleet that grows with the data.
    * - IO codec: sized to `dataDir` (see [[shuffleCodecFor]]); lz4
    *   when no dir is given.
    * - streaming checkpoints on local paths write through `java.nio`
    *   ([[streaming.LocalCheckpointFileManager]]): Hadoop's local file
    *   system costs ~40 ms per checkpoint file, several per batch.
    * - codegen cache: [[CodegenCacheEntries]] compiled classes instead
    *   of Spark's 100. */
  private[graft] def localConf(cores: Int, dataDir: String,
      env: String => Option[String]): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" ->
      env("SPARK_GRAFT_SHUFFLE_PARTITIONS").getOrElse(cores.toString),
    "spark.sql.files.maxPartitionBytes" ->
      env("SPARK_GRAFT_MAX_PARTITION_BYTES").getOrElse("1m"),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.io.compression.codec" -> codecFor(dataDir, env),
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[streaming.LocalCheckpointFileManager].getName,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.ui.enabled" -> "false")

  /** Size of Spark's generated-class cache (a static conf: a JVM reads
    * it once, at its first code generation). The cache is keyed by generated
    * source, so a plan built again compiles nothing while its classes
    * are cached. Spark's 100 entries are fewer than one batch_iterative
    * pass generates (~140 classes), and an LRU cache walked in a cycle
    * longer than itself misses on every lookup: each pass recompiled
    * every class. All 104 queries at sf0.001 generate ~1,260 distinct
    * classes; 2048 holds them for ~8 MB of metaspace (OPERATIONS.md
    * "Codegen cache"). */
  val CodegenCacheEntries: Int = 2048

  /** Local session: `cores` threads, AQE on, graft extensions (SQL
    * functions + planner strategies) installed, [[localConf]] applied
    * with the process environment. */
  def local(cores: Int = defaultCores(sys.env.get),
      appName: String = "graft", dataDir: String = ""): SparkSession = {
    val s = localConf(cores, dataDir, sys.env.get).foldLeft(
      SparkSession.builder()
        .appName(appName)
        .withExtensions(new GraftExtensions())) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The conf defaults [[builder]] applies — exposed as data so the
    * choices are spec-pinnable without spinning up a session. Shuffle
    * codec defaults to zstd here: a cluster deployment IS the ≥sf10
    * class (the measured −35% exchange bytes, OPERATIONS.md "Shuffle
    * codec at scale"); callers on genuinely tiny data can override
    * back to lz4. */
  val clusterDefaults: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.io.compression.codec" -> "zstd")

  /** Cluster-side builder: graft extensions + [[clusterDefaults]]; no
    * local-only partition-size overrides. */
  def builder(appName: String = "graft"): SparkSession.Builder =
    clusterDefaults.foldLeft(
      SparkSession.builder()
        .appName(appName)
        .withExtensions(new GraftExtensions())) {
      case (b, (k, v)) => b.config(k, v)
    }
}
