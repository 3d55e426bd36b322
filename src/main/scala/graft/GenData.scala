package graft

import org.apache.spark.sql.{Column, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale validation beyond
  * the driver-provided SFs. Reproduces the TESTDATA.md schema with the
  * distributions measured off /root/testdata/sf0.1 (uniform key draws,
  * Exp(50) event values, 31-word document vocab with 10-100 words/doc,
  * random unit-sphere embeddings, ~4.07 lineitems/order via uniform
  * orderkey draws — verified: no planted near-dup or cluster structure
  * exists at the driver SFs either), so per-operator runtimes at sf1
  * are a faithful 10× extrapolation of the driver's own series.
  *
  * Everything derives from xxhash64(id, salt) / per-row seeded Random —
  * partitioning-independent and reproducible; no Date.now anywhere.
  *
  * Usage: scripts/run.sh graft.GenData [outDir=/tmp/testdata/sf1] [scale=1.0]
  */
object GenData {

  /** Uniform (0,1) derived from a column + salt — stable under
    * repartitioning, unlike rand(). */
  private def u(c: Column, salt: String): Column =
    (pmod(xxhash64(c, lit(salt)), lit(1000000000L)).cast("double") + lit(0.5)) /
      lit(1e9)

  private val Vocab = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val Adjs = Array("large", "hot", "blue", "red", "small",
    "green", "dark", "light", "cold", "new")
  private val Nouns = Array("ring", "bolt", "screw", "wheel", "gear",
    "pipe", "plate", "rod", "cap", "disk")
  private val Types = Array("LARGE", "ECONOMY", "SMALL", "STANDARD",
    "MEDIUM", "PROMO")
  private val Segments = Array("MACHINERY", "BUILDING", "HOUSEHOLD",
    "AUTOMOBILE", "FURNITURE")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("view", "click", "purchase", "signup",
    "error")

  /** `events.props` as written: exactly this format over k in 0..99.
    * a5 (AnomalyML.a5Mahalanobis) extracts k by the offsets this
    * string implies instead of parsing JSON, so a change here must
    * move them together (AnomalyMLSpec pins the contract). */
  val PropsFormat = "{\"k\": %d}"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/testdata/sf1")
    val scale = args.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
    // optional comma-separated table subset (3rd arg). lineitem's
    // l_linenumber window shuffles the full table (~2x its size in
    // temp), which prices the 600M-row sf100 lineitem out of this
    // sandbox's disk -- the doc/event/embedding families that the
    // high-SF scale checks target generate without it.
    val tables = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSet)
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { ts =>
      val bad = ts -- known
      require(bad.isEmpty, s"GenData: unknown table name(s) ${bad.mkString(",")} " +
        s"— valid: ${known.toSeq.sorted.mkString(",")}")
    }
    val s = GraftSession.local(appName = "graft-gendata")
    s.conf.set("spark.sql.shuffle.partitions", "32")
    import s.implicits._

    def n(base: Long) = math.max(1L, (base * scale).toLong)
    def write(df: => org.apache.spark.sql.DataFrame, name: String,
        files: Int): Unit = if (tables.forall(_.contains(name))) {
      df.repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")
      println(s"[gen] $name done")
    }

    // ---- fixed dimensions
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region", 1)
    write(s.range(25).select($"id".cast("int").as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).cast("int").as("n_regionkey")), "nation", 1)

    // ---- dimensions that scale 10x per decade
    val nCust = n(150000)
    write(s.range(nCust).select($"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      floor(u($"id", "cn") * 25).cast("int").as("c_nationkey"),
      round(u($"id", "cb") * 10000, 2).as("c_acctbal"),
      element_at(lit(Segments), (floor(u($"id", "cs") * 5) + 1).cast("int"))
        .as("c_mktsegment")), "customer", 4)

    val nSupp = n(10000)
    write(s.range(nSupp).select($"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      floor(u($"id", "sn") * 25).cast("int").as("s_nationkey"),
      round(u($"id", "sb") * 10000, 2).as("s_acctbal")), "supplier", 2)

    val nPart = n(200000)
    write(s.range(nPart).select($"id".as("p_partkey"),
      concat(element_at(lit(Adjs), (floor(u($"id", "pa") * 10) + 1).cast("int")),
        lit(" "),
        element_at(lit(Nouns), (floor(u($"id", "pn") * 10) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), (floor(u($"id", "pb") * 25) + 1).cast("int"))
        .as("p_brand"),
      element_at(lit(Types), (floor(u($"id", "pt") * 6) + 1).cast("int"))
        .as("p_type"),
      (floor(u($"id", "ps") * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + $"id" * 0.1, 2).as("p_retailprice")), "part", 4)

    // ---- facts
    val nOrders = n(1500000)
    write(s.range(nOrders).select($"id".as("o_orderkey"),
      floor(u($"id", "oc") * nCust).as("o_custkey"),
      element_at(lit(Array("F", "O", "P")),
        (floor(u($"id", "os") * 3) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u($"id", "op") * 499000, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) +
        floor(u($"id", "od") * 2405).cast("long") * 86400L)
        .as("o_orderdate"),
      element_at(lit(Priorities), (floor(u($"id", "opr") * 5) + 1).cast("int"))
        .as("o_orderpriority")), "orders", 8)

    val nLine = n(6000000)
    // l_linenumber's per-order window sorts the whole table in one
    // exchange; at sf100 (600M rows) that spill exceeds this sandbox's
    // disk. Orders are disjoint across l_orderkey, so slicing on
    // l_orderkey % chunks and windowing each slice in its own job
    // yields the IDENTICAL row set (a line number only depends on rows
    // of its own order) while peak spill drops to ~1/chunks.
    // SPARK_GRAFT_LINEITEM_CHUNKS=8 generated sf100 here; default 1
    // keeps the historical single-job plan.
    val liChunks = math.max(1,
      sys.env.get("SPARK_GRAFT_LINEITEM_CHUNKS").map(_.toInt).getOrElse(1))
    def lineBase = s.range(nLine).select($"id".as("lid"),
      floor(u($"id", "lo") * nOrders).as("l_orderkey"),
      floor(u($"id", "lp") * nPart).as("l_partkey"),
      floor(u($"id", "ls") * nSupp).as("l_suppkey"),
      (floor(u($"id", "lq") * 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u($"id", "le") * 104100, 2).as("l_extendedprice"),
      round(u($"id", "ld") * 0.1, 2).as("l_discount"),
      round(u($"id", "lt") * 0.08, 2).as("l_tax"),
      element_at(lit(Array("N", "A", "R")),
        (floor(u($"id", "lr") * 3) + 1).cast("int")).as("l_returnflag"),
      element_at(lit(Array("O", "F")),
        (floor(u($"id", "ll") * 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) +
        floor(u($"id", "lsd") * 2499).cast("long") * 86400L)
        .as("l_shipdate"))
    def lineNumbered(slice: org.apache.spark.sql.DataFrame) = slice
      // line numbers are per-order ordinals, like the driver's data
      .withColumn("l_linenumber",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy("lid")).cast("int"))
      .drop("lid")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    if (liChunks == 1) write(lineNumbered(lineBase), "lineitem", 16)
    else if (tables.forall(_.contains("lineitem"))) {
      val filesPerChunk = math.max(1, 16 / liChunks)
      for (c <- 0 until liChunks) {
        lineNumbered(lineBase.filter($"l_orderkey" % liChunks === c))
          .repartition(filesPerChunk).write
          .mode(if (c == 0) SaveMode.Overwrite else SaveMode.Append)
          .parquet(s"$out/lineitem.parquet")
        // drop the slice's shuffle files before the next job starts:
        // the ContextCleaner only reclaims them on GC, and 8 retained
        // sf100 slices would re-fill the disk the slicing freed
        System.gc()
        println(s"[gen] lineitem chunk ${c + 1}/$liChunks done")
      }
      println(s"[gen] lineitem done")
    }

    // ---- events: Exp(50) values, 30 uniform days of 2024-01, 10x users
    val nEvents = n(1000000)
    val nUsers = n(15000)
    // ts is written as TIMESTAMP_NTZ (parquet TIMESTAMP(MICROS,
    // isAdjustedToUTC=false)) — the round-5 driver layout; the reader
    // (Tables.events) relabels it to session-UTC TimestampType and the
    // DuckDB oracle reads it natively, same as the driver SFs
    write(s.range(nEvents).select($"id".as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u($"id", "et") * 30.0 * 86400 * 1e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      floor(u($"id", "eu") * nUsers).as("user_id"),
      element_at(lit(EventTypes), (floor(u($"id", "ek") * 5) + 1).cast("int"))
        .as("event_type"),
      round(-log(lit(1.0) - u($"id", "ev")) * 50.0, 2).as("value"),
      format_string(PropsFormat, floor(u($"id", "ep") * 100).cast("int"))
        .as("props")), "events", 8)

    // ---- documents: 10-100 words off the 31-word vocab, 20 sources
    val nDocs = n(50000)
    write(s.range(nDocs).as[Long].map { id =>
        val r = new scala.util.Random(id * 2654435761L + 42L)
        val k = 10 + r.nextInt(91)
        val text = Array.fill(k)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
        val lang = { val p = r.nextDouble()
          if (p < 0.412) "en" else Langs(1 + r.nextInt(4)) }
        (id, text, lang, "src" + (id % 20), text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents", 4)

    // ---- embeddings: random unit vectors, 4x per decade (driver series:
    // 500 -> 2000 from sf0.01 -> sf0.1), random labels
    val nEmb = n(8000)
    write(s.range(nEmb).as[Long].map { id =>
        val r = new scala.util.Random(id * 40503L + 7L)
        val v = Array.fill(64)(r.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(x => (x / nrm).toFloat).toSeq, r.nextInt(10))
      }.toDF("vec_id", "embedding", "label"), "embeddings", 2)

    println(s"""{"out":"$out","scale":$scale}""")
    s.stop()
  }
}
