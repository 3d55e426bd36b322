package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.ExactStats.{decimalSum, dsum}
import graft.Exec._
import org.apache.spark.sql.GraftShim

/** Core relational surface (SURVEY.md §2.A).
  *
  * Float discipline (SURVEY §6): every SUM over a double column goes
  * through [[graft.functions.ExactStats.dsum]], an exact DECIMAL(18,6)
  * intermediate cast back to double (a tie at the 6th fractional digit
  * is not binary-representable, so the per-row cast is unique) — so
  * the DuckDB oracle built the same way is bit-identical even though
  * Spark sums in parallel. Derived values (ratios, z-scores) are then
  * plain double arithmetic over identical inputs on both sides.
  *
  * Scale notes: every query projects only the columns it needs before
  * any shuffle (column pruning reaches the parquet scan), filters sit
  * directly on the scan (predicate pushdown), fixed-size dimension
  * tables (nation) are broadcast, and AQE handles the rest.
  */
object Analytics {

  /** q1_agg — pricing summary: groupBy aggregate with derived expressions.
    * Re-expresses the reference's per-entity metric aggregation
    * (app3_ML.py:108-130 routes rows by plant_type then summarises) as a
    * declarative hash aggregate with map-side partials. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q2_filter_project — predicate + projection pushdown straight to the
    * parquet scan (PushedFilters + pruned ReadSchema visible in explain). */
  def q2FilterProject(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
        col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q3's orders date slice (the 1996 order year) — ONE definition used
    * by BOTH the Bloom build and the real join (ADVICE r8): if the two
    * predicates could drift apart, the Bloom would prune lineitem keys
    * the real join still wants and the "lossless" pre-shuffle pruning
    * would silently turn lossy. */
  private def q3OrdersFiltered(s: SparkSession, dir: String) =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))

  /** Memoized broadcast Bloom over q3's date-surviving o_orderkey set —
    * built once (two eager jobs: count + bloomFilter), reused by every
    * subsequent q3 plan construction. Keyed by (applicationId, session
    * timezone, orders fingerprint) — ADVICE r8: a Broadcast is bound to
    * the SparkContext that created it, and the date predicate's
    * string→timestamp cast is timezone-sensitive, so neither a restarted
    * context nor a timezone change may reuse an entry. */
  private val q3BloomCache = new scala.collection.concurrent.TrieMap[
    (String, String, String),
    org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]]

  private def q3Bloom(s: SparkSession, dir: String) = {
    val key = (s.sparkContext.applicationId,
      s.conf.get("spark.sql.session.timeZone", ""),
      Tables.fingerprint(dir, "orders"))
    // entries from a stopped context are unreachable under the new
    // applicationId — destroy and drop them so the map can neither
    // grow across restarts nor hand back a dead-context broadcast
    q3BloomCache.keySet.filter(_._1 != key._1).foreach { k =>
      q3BloomCache.remove(k).foreach(b => scala.util.Try(b.destroy()))
    }
    q3BloomCache.getOrElseUpdate(key, {
      val ordKeys = q3OrdersFiltered(s, dir).select(col("o_orderkey"))
      s.sparkContext.broadcast(ordKeys.stat.bloomFilter("o_orderkey",
        math.max(ordKeys.count(), 1L), 0.01))
    })
  }

  /** q3_join_agg — revenue by nation: lineitem⋈orders⋈customer⋈nation.
    * nation is a fixed-size dim → explicit broadcast (no shuffle for it);
    * the fact-fact joins shuffle only post-projection key+payload. */
  def q3JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = q3OrdersFiltered(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    // Semi-join reduction: the date filter keeps ~15% of orders, so
    // ~85% of lineitem rows can never match — without this, ALL of
    // them ride the join exchange (measured exponent 1.29 sf10→sf100;
    // 600M-row shuffle at sf100). A broadcast Bloom over the surviving
    // o_orderkey set prunes the fact BEFORE the shuffle (lossless —
    // false positives die in the real join). Spark's own
    // InjectRuntimeFilter won't fire here: the creation side (~360 MB
    // of keys at sf100) is far past its 10 MB creation threshold.
    // NOTE (r8, ADVICE r7): the bloom build runs TWO eager Spark jobs
    // (count + bloomFilter) — plan construction is not lazy on first
    // call per dir. The built broadcast is memoized per orders
    // fingerprint (the a1/a3/a7 model-memo discipline), so repeated
    // calls — bench passes, PlanAuditSpec plan inspections — reuse one
    // broadcast instead of leaking a fresh ~27 MB one per call.
    val liPruned = li.filter(GraftShim.column(
      graft.functions.BloomMightContainLong(
        GraftShim.expression(col("l_orderkey")), q3Bloom(s, dir))))
    liPruned.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** q4_topn_window — top-3 orders by totalprice per priority class
    * (row_number window; o_orderkey tie-break keeps it deterministic).
    * Re-expresses the reference's "last N outliers per entity" table
    * (app3_ML.py:177-180) as a rank window. */
  def q4TopnWindow(s: SparkSession, dir: String): DataFrame = {
    // graft's custom top-k operator: partial per-partition k-heaps, so
    // only <= k rows per (group, partition) reach the shuffle — vs the
    // window-rank idiom's full shuffle + per-key sort (plans/TopKPerGroup)
    graft.plans.TopKPerGroup.perKey(
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_orderpriority")),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .withColumnRenamed("rank", "rn")
      .orderBy("o_orderpriority", "rn")
  }

  /** q5_distinct_agg — distinct counts per group (exact, shuffle-expanded
    * by Spark into a two-phase aggregate). */
  def q5DistinctAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_ord"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** q11_approx_distinct — q5's distinct counts via HyperLogLog++
    * (`approx_count_distinct`, rsd 0.02): the 100 TB form of exact
    * countDistinct. Exact distinct shuffle-expands every (group, key)
    * pair before collapsing; HLL ships one ~KB sketch per group per
    * partition and merges — the shuffle is O(groups × partitions),
    * independent of key cardinality. [rows-only]: sketch estimates are
    * engine-specific; the spec bounds the relative error against q5's
    * DuckDB-oracled exact twin (≤ 3×rsd). */
  def q11ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02).as("n_cust_est"),
        count(lit(1)).as("n_ord"))
      .orderBy("o_orderstatus")
  }

  /** q12_grouping_sets — two independent marginal aggregates (by
    * returnflag, by linestatus) in ONE scan via GROUPING SETS, with
    * `grouping_id` disambiguating which set a row belongs to. The
    * single-pass form replaces two scans + a union: Spark expands the
    * sets map-side (one `Expand` node), so the fact table is read once
    * however many marginals you ask for — the rollup-report shape q8
    * generalizes. [sql-oracle]. */
  def q12GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy("gid", "rf", "ls")
  }

  /** q13_window_suite — the ranking-window family in one pass per
    * group: ntile quartiles, percent_rank, cume_dist over price order
    * (the percentile-bucket / relative-standing reports every BI layer
    * asks of a fact table). One hash-partitioned sort per group — the
    * window frame is rank-only (no buffering), and all four functions
    * share the single sort. The ORDER BY carries a full unique
    * tiebreak (orderkey, linenumber) so rank ties cannot exist and
    * both engines agree bit-for-bit. [sql-oracle]. */
  /** q14_pivot — the `groupBy().pivot()` API surface: order-value totals
    * per nation pivoted across the five order priorities (wide
    * report-table shape). The pivot values are EXPLICIT — at scale an
    * implicit pivot runs an extra distinct-collect job over the fact
    * and caps silently at spark.sql.pivotMaxValues; with literals the
    * plan is a single two-phase hash aggregate (map-side partials on
    * (nation, priority), then one width-5 reshape — no fact rescan,
    * no collect). orders⋈customer is a projected shuffle hash join
    * (customer GROWS with SF — not broadcast; q3's discipline), nation
    * broadcasts; sums are exact decimal per the q1 discipline.
    * [sql-oracle] (conditional aggregates — the algebraic identity of
    * pivot). */
  def q14Pivot(s: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .pivot("o_orderpriority", priorities)
      .agg(dsum(col("o_totalprice")))
      .orderBy("n_name")
  }

  /** q15_bloom_semi — semi join behind a BROADCAST BLOOM PREFILTER:
    * high-balance customers' orders, where the fact scan first drops
    * rows failing a ~1%-FP Bloom membership test on the key set and
    * only the survivors enter the exact semi join. At 100 TB this is
    * THE technique for selective fact⋈dim-subset joins: the Bloom is
    * KBs–MBs broadcast regardless of fact size, it prunes
    * (1 − selectivity − fpp) of the fact BEFORE any shuffle, and the
    * exact join on the survivors erases the false positives — results
    * are bit-identical to the plain semi join (which is exactly what
    * the oracle checks). Spark's AQE runtime filters do this opportunistically
    * for some plans; here it is an explicit, composable step.
    *
    * The membership test is a UDF (the established exemption: Spark 4
    * exposes no public builtin for Bloom probe; the internal
    * might_contain of runtime filtering is not API). The Bloom build
    * is one bounded aggregate over the already-filtered dim.
    * [sql-oracle] (plain IN-subquery — the Bloom is invisible to
    * semantics). */
  def q15BloomSemi(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
    val bloom = keys.stat.bloomFilter("c_custkey",
      math.max(keys.count(), 1L), 0.01)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
      .filter(GraftShim.column(graft.functions.BloomMightContainLong(
        GraftShim.expression(col("o_custkey")),
        s.sparkContext.broadcast(bloom))))
      .join(keys, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** q16_colocated_join — the §5 bucketed co-located fact⋈fact join,
    * mechanically demonstrated: lineitem and orders are laid out as
    * bucketed+sorted tables on the SAME bucket count over the join
    * key, so the sort-merge join needs NO exchange and NO sort at read
    * time — matching keys already live in matching buckets in key
    * order. At 100 TB this converts every recurring fact-fact join
    * from "shuffle both facts" (the dominant cost) to a zip of
    * pre-aligned buckets: the layout is paid ONCE at ingest, not per
    * query. Here the layout step runs inline (the testdata isn't
    * bucketed); production would point at standing bucketed tables.
    *
    * The answer is layout-INVARIANT — identical to the plain join —
    * which is exactly what the DuckDB oracle checks on the raw
    * parquet; PlanAudit-style assertions in the spec pin the claims on
    * the physical plan with broadcast disabled: NO exchange
    * unconditionally, and no read-time Sort either once
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` tells
    * Spark to trust sortBy file order (safe exactly because
    * [[graft.sources.Bucketing.writeBucketedAt]] guarantees one
    * sorted file per bucket; the trust switch is legacy-gated since
    * 3.0 because multi-file buckets would break it). [sql-oracle]. */
  def q16ColocatedJoin(s: SparkSession, dir: String): DataFrame = {
    bucketedJoinInput(s, dir)
      .groupBy("o_orderpriority")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** The bucketed-layout join of [[q16ColocatedJoin]] BEFORE the
    * aggregate — the frame whose physical plan the spec audits. */
  private[graft] def bucketedJoinInput(s: SparkSession,
      dir: String): DataFrame = {
    // Layout path + table names are keyed by (input dir, JVM): parallel
    // Verify/Bench sessions never overwrite each other's files mid-read,
    // and within a session the layout is written ONCE per input and
    // reused — q16 re-runs pay only the read side, matching the
    // "standing bucketed tables" production posture the scaladoc claims.
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString +
      "_" + ProcessHandle.current().pid()
    val root = s"${sys.props("java.io.tmpdir")}/graft_bucketed_$tag"
    val liTable = s"graft_b_lineitem_$tag"
    val oTable = s"graft_b_orders_$tag"
    // The layout is JVM-scoped scratch (pid-keyed for the concurrency
    // soak). Reclaim it at exit, and sweep siblings whose owning JVM is
    // dead before writing a new one — at sf100 a layout is ~10 GB and
    // two stale ones (kill -9 skips shutdown hooks) filled the sandbox
    // disk mid-sweep.
    Analytics.reclaimBucketedLayouts(root)
    // Bucket count scales with the BIG side's bytes (~256 MB of source
    // parquet per bucket, floor 8, power of 2): a fixed count is the
    // classic bucketed-layout scale bug — 8 buckets at sf100 meant 8
    // writer tasks each sorting 75M rows and an 8-way-parallel join
    // over 16 GB (measured exponent 1.92 sf10→sf100); sizing by data
    // keeps both the layout write and the read-side zip at full
    // parallelism while the gate SFs still get the historical 8.
    val buckets = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      val target = math.max(8L, bytes / (256L << 20))
      java.lang.Long.highestOneBit(math.min(1024L, target) * 2 - 1).toInt
    }
    if (!s.catalog.tableExists(liTable))
      graft.sources.Bucketing.writeBucketedAt(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        liTable, "l_orderkey", buckets, s"$root/lineitem")
    if (!s.catalog.tableExists(oTable))
      graft.sources.Bucketing.writeBucketedAt(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        oTable, "o_orderkey", buckets, s"$root/orders")
    s.table(liTable)
      .join(s.table(oTable),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** q18_sketch_rollup — MERGEABLE distinct-count rollup via
    * DataSketches HLL: one pass builds a per-group sketch
    * (hll_sketch_agg), per-group estimates read off each sketch, and
    * the GLOBAL distinct comes from merging the group sketches
    * (hll_union_agg) — the fact is never rescanned for the rollup.
    * This is the composability q11's approx_count_distinct lacks: its
    * estimate is a number, dead on arrival for re-aggregation, while
    * a STORED sketch per group/day/partition answers any later rollup
    * (per-week, per-region, ALL) by KB-scale merges. At 100 TB this
    * is how distinct-count dashboards actually run: sketch at ingest,
    * merge at query.
    *
    * Union of same-k HLL sketches is lossless — the merged estimate
    * EQUALS the single-pass global sketch's (spec-asserted equal, not
    * approximately equal). [rows-only]: sketch internals are
    * library-specific; the spec bounds every estimate against q5's
    * exact DuckDB-oracled counts (±3% — lgK=12 rsd is ~1.6%) and pins
    * the merge-vs-direct equality. */
  def q18SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderstatus"), col("o_custkey"))
    val perGroup = o.groupBy("o_orderstatus")
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk")).cache()
    val grp = perGroup.select(col("o_orderstatus"),
      expr("hll_sketch_estimate(sk)").as("n_cust_est"))
    val all = perGroup
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_cust_est"))
      .withColumn("o_orderstatus", lit("ALL"))
      .select("o_orderstatus", "n_cust_est")
    val out = grp.unionByName(all).orderBy("o_orderstatus").finishIf()
    perGroup.unpersistIf()
    out
  }

  /** q17_incremental_agg — incremental AGGREGATE MAINTENANCE: the
    * standing corpus (base, ~90% by stable row hash) and a fresh delta
    * (~10%) are aggregated SEPARATELY and the partials merged — the
    * production incremental-ETL pattern where yesterday's aggregate is
    * a stored table and only the delta is scanned. At 100 TB this is
    * the difference between re-reading the fact per refresh and
    * reading 1/10th (or 1/10000th — merge cost tracks GROUP count,
    * not data).
    *
    * The merge is EXACT, not approximate, because the partials stay
    * DECIMAL until after the union-merge: decimal addition is
    * associative, so (Σbase + Σdelta) ≡ Σall bit-for-bit — which is
    * precisely what the oracle checks by aggregating the WHOLE fact
    * directly, and what the spec re-proves against the one-pass form.
    * (Partials cast to double before merging would NOT merge exactly —
    * the same reason dsum exists at all.) Counts merge by addition;
    * averages recompute from merged sums — never merge averages.
    * [sql-oracle]. */
  def q17IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"),
        (PortableHash.bucket(
          concat(col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string")), "inc", 10L) === 0)
          .as("is_delta"))
    def side(delta: Boolean) = li.filter(col("is_delta") === delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), decimalSum(col("l_quantity")).as("sq"),
        decimalSum(col("l_extendedprice")).as("sp"))
    // the merge: union of partial-aggregate ROWS, one tiny groupBy over
    // ≤ groups×2 rows — the fact is never rescanned
    side(delta = false).withColumn("src", lit("base"))
      .unionByName(side(delta = true).withColumn("src", lit("delta")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("n").as("count_order"),
        sum(when(col("src") === "delta", col("n")).otherwise(0L)).as("n_delta"),
        sum("sq").cast("double").as("sum_qty"),
        sum("sp").cast("double").as("sum_price"))
      .withColumn("avg_price", col("sum_price") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q13_window_suite — ntile/percent_rank/cume_dist per group over a
    * TOTAL order (price, orderkey, linenumber — the last two unique),
    * so rank ≡ row_number and all three functions are closed-form in
    * (global row number, group size). Where [[ChunkScan]] picks it,
    * that closed form is computed CHUNK-PARALLEL ([[q13Chunked]]): the
    * window form's parallelism is |l_returnflag| = 3 — three tasks
    * each sort and stream 20M rows at sf10 while 29 cores idle, and on
    * a real cluster the group count caps the whole plan. Below
    * [[ChunkScan.MinRows]] the plain window form is cheaper than the
    * rank orchestration and is used unchanged: sf0.01 takes the window
    * form, while the sf0.1 sweeps — bench AND DuckDB oracle —
    * exercise the chunked path, so the scale path is oracle-covered,
    * not only spec-covered. Both paths are bit-identical — spec-pinned
    * on tie-heavy data and every n<k edge. */
  def q13WindowSuite(s: SparkSession, dir: String): DataFrame =
    q13Suite(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice")))

  /** The [[ChunkScan]] dispatch between [[q13Window]] and
    * [[q13Chunked]] (factored out of the dir-bound entry so the routing
    * is spec-testable on synthetic frames). */
  private[operators] def q13Suite(li: DataFrame): DataFrame = {
    // NOT cached, deliberately: the suite reads the 4-column fact
    // three times (bounds agg, count grid, rank pass) and the e17-style
    // .cache() of the projection was tried and REVERTED — at sf100
    // (600M rows) building the columnar cache plus the storage pool's
    // squeeze on the rank shuffle measured 281 s cold vs 229 s for the
    // three pruned parquet scans (measured-no-win-revert, r7 s2)
    val b = ChunkScan.measure[Double](li, col("l_returnflag"),
      col("l_extendedprice"))
    if (ChunkScan.chunked(b.rows, b.keys, Q13FineBuckets)) q13Chunked(li, b)
    else q13Window(li)
  }

  /** Fine price buckets per group of [[q13Chunked]] — its cells per
    * key in [[ChunkScan]]'s grid. */
  private val Q13FineBuckets = 4096

  /** The |groups|-parallel window form — the small-input path and the
    * chunked path's correctness oracle. */
  private[operators] def q13Window(li: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    li
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Chunk-parallel twin of [[q13Window]], bit-identical output.
    *
    * 1. Fine VALUE buckets over the price range (monotone in price;
    *    price ties share a bucket, so bucket order is consistent with
    *    the total (price, orderkey, linenumber) sort).
    * 2. One bounded driver collect of the (group, bucket) COUNT grid
    *    (≤ groups·F cells, aggregate rows only — the a4/e18 boundary
    *    discipline) → cumulative base rank per bucket + group size +
    *    ntile bucket geometry, shipped back as a broadcast-joined
    *    tiny frame (no UDF, stays in codegen).
    * 3. row_number within (group, bucket) — parallelism groups·F —
    *    plus the base gives every row its exact global rank; the
    *    three window functions are then per-row formulas replicating
    *    Spark's own arithmetic: ntile's padded-bucket integer
    *    geometry, percent_rank's (rank−1)/(n−1) on integer-subtracted
    *    doubles, cume_dist's rank/n.
    *
    * Parallelism is groups×F everywhere; shuffled volume is n rows
    * once (the rank shuffle) — the same volume the window form
    * shuffles, just not three-tasks-wide. Measured (v2 harness,
    * min-of-2/3): sf10 214 s window form → 103 s, sf1 16.3 → 6.5 s —
    * the group-sort wall is gone and the residual cost is the output
    * orderBy + scans, which both forms pay and a cluster divides by
    * its executor count (the window form's 3-task sort it cannot). */
  private[operators] def q13Chunked(li: DataFrame, bounds: ChunkScan.Bounds[Double],
      fineBuckets: Int = Q13FineBuckets): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    val minP = bounds.lo
    val span = bounds.hi - minP
    val fb =
      if (span == 0) lit(0)
      else least(floor((col("l_extendedprice") - lit(minP)) / lit(span)
        * lit(fineBuckets)).cast("int"), lit(fineBuckets - 1))
    val withFb = li.withColumn("fb", fb)
    val grid = withFb.groupBy("l_returnflag", "fb").count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val nOf = grid.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val baseRows = grid.groupBy(_._1).iterator.flatMap { case (g, cells) =>
      val n = nOf(g)
      var acc = 0L
      cells.sortBy(_._2).map { case (_, fbi, c) =>
        val row = (g, fbi, acc, n, n / 4, n % 4); acc += c; row
      }
    }.toSeq
    val baseDf = baseRows
      .toDF("l_returnflag", "fb", "base", "n_grp", "bs", "rpad")
    val w = Window.partitionBy("l_returnflag", "fb")
      .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    withFb
      .withColumn("rloc", row_number().over(w))
      .join(broadcast(baseDf), Seq("l_returnflag", "fb"))
      .withColumn("rn", col("base") + col("rloc")) // 1-based global rank
      .withColumn("quartile", expr(
        """CAST(CASE WHEN rn <= (bs + 1) * rpad
          |  THEN (rn - 1) DIV (bs + 1) + 1
          |  ELSE rpad + (rn - 1 - (bs + 1) * rpad) DIV bs + 1
          |END AS INT)""".stripMargin))
      .withColumn("pct_rank", round(
        when(col("n_grp") > 1,
          (col("rn") - 1).cast("double") / (col("n_grp") - 1).cast("double"))
          .otherwise(0.0), 6))
      .withColumn("cume", round(
        col("rn").cast("double") / col("n_grp").cast("double"), 6))
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice", "quartile", "pct_rank", "cume")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q6_conditional_agg — CASE-WHEN pivot-style aggregates (single scan,
    * no shuffle per pivot column). */
  def q6ConditionalAgg(s: SparkSession, dir: String): DataFrame = {
    def flagged(f: String): Column =
      sum(when(col("l_returnflag") === f, 1L).otherwise(0L))
    def flaggedPrice(f: String): Column =
      dsum(when(col("l_returnflag") === f, col("l_extendedprice")).otherwise(lit(0.0)))
    Tables.lineitem(s, dir)
      .groupBy("l_linestatus")
      .agg(flagged("R").as("n_r"), flagged("A").as("n_a"), flagged("N").as("n_n"),
        flaggedPrice("R").as("price_r"), flaggedPrice("N").as("price_n"))
      .orderBy("l_linestatus")
  }

  /** q7_semi_anti — EXISTS / NOT EXISTS as left-semi / left-anti joins
    * (customers with vs without a completed 'F' order). */
  def q7SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    val fOrders = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val semi = cust.join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_f_order"))
    val anti = cust.join(fOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_f_order"))
    semi.unionAll(anti).orderBy("c_custkey", "tag")
  }

  /** q8_rollup — multi-level ROLLUP aggregate (subtotals + grand total). */
  def q8Rollup(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  /** q9_percentile — exact interpolated percentiles per group (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, both R-7). Rounded to 6 dp:
    * the two engines may differ in the last ulp of the interpolation.
    *
    * Computed by [[DistributedPercentile.exact]] — sketch-bracketed
    * distributed selection (same exact values) instead of the builtin's
    * per-group value buffering, whose merge runs on |groups| cores and
    * O(n) memory: at sf1 the builtin's 3-core merge was the whole
    * sweep's most expensive query (23.4 s; the selection form measures
    * the same result in ~1/5th of that — see
    * `git show acf731b:BASELINE_SELF.md`). Small
    * inputs (every group ≤ smallN) take the buffered builtin unchanged. */
  def q9Percentile(s: SparkSession, dir: String): DataFrame = {
    import DistributedPercentile.Target
    DistributedPercentile.exact(Tables.lineitem(s, dir), "l_returnflag",
      Seq(Target("l_quantity", 0.5, "med_qty"),
        Target("l_extendedprice", 0.9, "p90_price"),
        Target("l_extendedprice", 0.99, "p99_price")))
      .select(col("l_returnflag"),
        round(col("med_qty"), 6).as("med_qty"),
        round(col("p90_price"), 6).as("p90_price"),
        round(col("p99_price"), 6).as("p99_price"))
      .orderBy("l_returnflag")
  }

  /** e14_approx_quantile — q9's percentiles via the mergeable
    * Greenwald-Khanna summary (`approx_percentile`, accuracy 10000):
    * the 100 TB form of exact percentile. Exact percentile buffers
    * every group value; the GK summary is O(accuracy) per group per
    * partition and merges associatively — rank error ≤ n/accuracy
    * guaranteed. [rows-only]: summary contents are engine- and
    * merge-order-specific; the spec asserts each estimate sits within
    * the exact twin's ±1% rank neighborhood. */
  def e14ApproxQuantile(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)")
          .cast("double").as("med_qty"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)")
          .cast("double").as("p90_price"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)")
          .cast("double").as("p99_price"))
      .orderBy("l_returnflag")
  }

  /** q10_having_sub — HAVING against a scalar subquery (customers at or
    * above the mean order count). The scalar is broadcast, not recomputed
    * per row. Integer inputs keep the mean exact on both engines. */
  def q10HavingSub(s: SparkSession, dir: String): DataFrame = {
    // NOTE (r13): caching perCust (it feeds both the scalar threshold
    // and the output filter, and the orders rollup runs twice — AQE
    // stage reuse can't fire across the scalar-agg branch) was TRIED
    // and measured a ~2× NO-WIN at gate scale (0.50–0.62 s uncached vs
    // 0.97–1.25 s cached, 3/3 interleaved JVM pairs): the cache-build
    // + eager-checkpoint job barriers cost more than the 150k-row
    // rollup they save. The double rollup stays — it is the cheaper
    // form until the orders scan dominates, and the scalar stays a
    // broadcast (a one-pass `avg(...).over()` window would funnel all
    // customers through one task at 100 TB).
    val perCust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_ord"), dsum(col("o_totalprice")).as("spend"))
    val thr = perCust.agg(avg(col("n_ord")).as("thr"))
    perCust.join(broadcast(thr))
      .filter(col("n_ord") >= col("thr"))
      .select(col("o_custkey"), col("n_ord"), col("spend"))
      .orderBy("o_custkey")
  }

  /** DuckDB oracle SQL for §2.A — constructed with the same decimal
    * intermediates / expression shapes as the DataFrame plans above. */
  val oracle: Map[String, String] = Map(
    "q15_bloom_semi" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 9000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q14_pivot" ->
      """SELECT n_name,
        | CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
        |   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS "1-URGENT",
        | CAST(CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
        |   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS "2-HIGH",
        | CAST(CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
        |   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS "3-MEDIUM",
        | CAST(CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
        |   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS "4-NOT SPECIFIED",
        | CAST(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
        |   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS "5-LOW"
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q13_window_suite" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        | CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        | COALESCE(CAST(TRY_CAST(CAST(PERCENT_RANK() OVER w AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), PERCENT_RANK() OVER w) AS pct_rank,
        | COALESCE(CAST(TRY_CAST(CAST(CUME_DIST() OVER w AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), CUME_DIST() OVER w) AS cume
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q12_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        | GROUPING(l_returnflag, l_linestatus) AS gid,
        | COUNT(*) AS n, CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, rf, ls""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q17_incremental_agg" -> {
      val bucket = graft.functions.PortableHash.duckBucket(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
        "inc", 10L)
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order,
         | CAST(SUM(CASE WHEN $bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
         | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin
    },
    "q16_colocated_join" ->
      """SELECT o_orderpriority,
        | CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q3_join_agg" ->
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q4_topn_window" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q5_distinct_agg" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_ord,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q6_conditional_agg" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        | CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        | CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_n,
        | CAST(CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS price_r,
        | CAST(CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS price_n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q7_semi_anti" ->
      """SELECT c_custkey, c_mktsegment, 'has_f_order' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, 'no_f_order' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey, tag""".stripMargin,
    "q8_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        | COUNT(*) AS n, CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q9_percentile" ->
      """SELECT l_returnflag,
        | COALESCE(CAST(TRY_CAST(CAST(QUANTILE_CONT(l_quantity, 0.5) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), QUANTILE_CONT(l_quantity, 0.5)) AS med_qty,
        | COALESCE(CAST(TRY_CAST(CAST(QUANTILE_CONT(l_extendedprice, 0.9) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), QUANTILE_CONT(l_extendedprice, 0.9)) AS p90_price,
        | COALESCE(CAST(TRY_CAST(CAST(QUANTILE_CONT(l_extendedprice, 0.99) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), QUANTILE_CONT(l_extendedprice, 0.99)) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q10_having_sub" ->
      """SELECT o_custkey, COUNT(*) AS n_ord,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= (SELECT AVG(n) FROM
        |  (SELECT COUNT(*) AS n FROM orders GROUP BY o_custkey) t)
        |ORDER BY o_custkey""".stripMargin
  )

  /** Bucketed-layout scratch hygiene for [[bucketedJoinInput]]: delete
    * `graft_bucketed_*` siblings whose owning pid is dead (a killed
    * JVM never ran its hook), and register ONE exit hook per root that
    * reclaims this JVM's own layout. Never touches a dir whose pid is
    * alive or unparseable — the concurrency-soak isolation contract. */
  private val layoutHooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[operators] def reclaimBucketedLayouts(root: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
      f.delete(); ()
    }
    val dir = new java.io.File(root).getParentFile
    val stale = dir.listFiles((_, n) => n.startsWith("graft_bucketed_"))
    if (stale != null) stale.foreach { f =>
      val pidStr = f.getName.substring(f.getName.lastIndexOf('_') + 1)
      val ownerAlive = scala.util.Try(
        ProcessHandle.of(pidStr.toLong).map[Boolean](_.isAlive)
          .orElse(false)).getOrElse(true)
      if (!ownerAlive) rm(f)
    }
    if (layoutHooks.add(root))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => rm(new java.io.File(root))))
  }
}
