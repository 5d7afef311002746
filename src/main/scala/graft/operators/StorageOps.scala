package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators (round 9): co-located BUCKETED joins —
  * the one shuffle-elimination lever that works across JOBS, not just
  * across stages of one plan.
  *
  * Every fact-fact equi-join in the catalog (q10, q56, q80…) pays a
  * full shuffle of both sides every run, because parquet files carry
  * no partitioning contract. Writing both tables bucketed BY THE JOIN
  * KEY moves that shuffle to write time, ONCE: every subsequent join
  * on the key reads both sides already hash-partitioned
  * (`FileSourceScanExec` reports `HashPartitioning(key, n)`), and the
  * sort-merge join plans with ZERO Exchange under it. At 100 TB this
  * is the difference between re-shuffling 100 TB per analytics run
  * and re-shuffling it once per ingest — the standard warehouse
  * discipline (Hive/Spark bucketing; Iceberg/Delta call it the same
  * thing). `PlanQualitySpec` asserts the shape: no
  * ShuffleExchangeExec anywhere below the join when both sides are
  * bucketed, and one present when the same join reads the raw
  * parquet.
  *
  * The bucketed copies are a session-shared build (declared in
  * [[Artifacts]]): first use writes them under the layout root
  * ([[layoutBase]]`/bucketed_*`), Bench's warm-up pre-builds so
  * per-query numbers measure the steady state a real deployment
  * lives in.
  *
  * Reference coverage: the reference re-reads its MySQL/ES sources
  * per job with no layout control (SURVEY §2.1 S1-S9); this is the
  * Spark-native capability it has no analog for.
  */
object StorageOps {

  /** Buckets in each co-located table. 16 at the driver SFs keeps
    * every bucket a real multi-row file; production picks
    * data-size/target-file-size (e.g. 2048 at 100 TB) — the plan
    * shape is bucket-count-independent as long as the two sides
    * MATCH (Spark refuses co-located reads across mismatched counts).
    */
  private val NumBuckets = 16

  /** Every layout, built once per JVM and keyed by its path. */
  private val layouts = new graft.core.Memo[String, Unit]

  /** Session conf key overriding the layout root — the artifact tree
    * holding the compacted/sorted/z-order/bloom/erased copies; like
    * [[graft.core.Pin.RootConfKey]], point it at a shared-filesystem
    * URI on a cluster. Proven on HDFS-semantics storage by
    * `LayoutMemFsSpec`.
    */
  val RootConfKey = "spark.graft.layout.root"
  private val DefaultRoot = "target/graft-layout"

  /** The layout base for `dir` under the session's configured root. */
  private[graft] def layoutBase(spark: SparkSession, dir: String): String =
    s"${spark.conf.get(RootConfKey, DefaultRoot)}/${graft.core.Pin.tag(dir)}"

  private def hfsPath(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def touchMarker(spark: SparkSession, dir: String, marker: String): Unit = {
    val (fs, p) = hfsPath(spark, s"$dir/$marker")
    fs.create(p, true).close()
  }

  /** Build the layout at `path` once per JVM; a call that finds its
    * `marker` missing builds it again. Returns `path`. The marker is
    * probed via the Hadoop FS (round-11): the old `java.io.File` check
    * ran against the DRIVER's local disk, so on a cluster whose default
    * FS is HDFS/S3 it could never see the layout the write path had
    * created there — every call would rebuild the layout, and q142's
    * `_ERASED` marker would split-brain (marker local, data remote).
    */
  private[operators] def layout(spark: SparkSession, path: String,
      marker: String = "_SUCCESS")(build: => Unit): String = {
    val (fs, p) = hfsPath(spark, s"$path/$marker")
    layouts(path, fs.exists(p))(build)
    path
  }

  /** Table names of the bucketed (lineitem, orders) copies for `dir`,
    * building them on first use in this JVM. The copies live under the
    * layout root, qualified through the session's Hadoop FS: a relative
    * `path` option would resolve against the warehouse instead.
    */
  def ensureBucketed(spark: SparkSession, dir: String): (String, String) = {
    val t = graft.core.Pin.tag(dir)
    val li = s"graft_bkt_lineitem_$t"
    val ord = s"graft_bkt_orders_$t"
    val (fs, p) = hfsPath(spark, layoutBase(spark, dir))
    val base = fs.makeQualified(p).toString
    layouts(s"$base/bucketed_lineitem", spark.catalog.tableExists(li)) {
      // repartition by the bucket key first: each task then owns
      // whole buckets, so every bucket lands in ONE file — the
      // layout that keeps bucketed reads one-split-per-bucket.
      Tables.load(spark, dir, "lineitem")
        .repartition(NumBuckets, col("l_orderkey"))
        .write.mode("overwrite")
        .option("path", s"$base/bucketed_lineitem")
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(li)
      Tables.load(spark, dir, "orders")
        .repartition(NumBuckets, col("o_orderkey"))
        .write.mode("overwrite")
        .option("path", s"$base/bucketed_orders")
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(ord)
    }
    (li, ord)
  }

  /** Revenue by priority over the co-located join (q131): lineitem ⋈
    * orders on the bucket key, then a priority rollup. The `merge`
    * hint pins the sort-merge strategy the bucketed layout serves (at
    * driver SFs AQE would otherwise broadcast 60k-row orders and the
    * plan under test would vanish; at 100 TB both sides are fact
    * tables and SMJ is what the optimizer picks unhinted). The only
    * Exchange in the whole plan is the 5-group rollup above the join.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (li, ord) = ensureBucketed(spark, dir)
    spark.table(li).hint("merge")
      .join(spark.table(ord), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  /** The SAME logical join over the raw parquet — the control both
    * PlanQualitySpec (must contain the shuffle bucketing removes) and
    * the bench comparison read against q131.
    */
  def unbucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem").hint("merge")
      .join(Tables.load(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  private def oracleBucketedJoin: String =
    """SELECT o_orderpriority,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*)::BIGINT AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------------
  // Partitioned + compacted event layout (q134 / q135) and the
  // range-sorted fact layout (q136): the other two cross-JOB storage
  // levers besides bucketing. Partition-by-date turns every
  // time-windowed query from a full-corpus scan into a
  // touched-partitions scan (`FileSourceScanExec` lists the pruned
  // `selectedPartitions`); compaction fixes the small-files tax that
  // per-batch ingest leaves behind (a 100 TB table ingested in 5-min
  // micro-batches is millions of KB-sized files — listing + open
  // overhead dominates unless something folds them back to
  // target-size files); sorting-within-range-partitions gives every
  // parquet row group a tight min/max envelope on the sort column, so
  // the pushed-down predicate skips whole row groups at the reader.
  //
  // The reference has no layout tier at all — every job re-streams
  // its source store cursor-by-cursor (`d22d/task.py:88-116`
  // `Migration.run` always starts a fresh full `get_data` scan;
  // `d22d/utils/db/__init__.py:516-529` maps files 1:1, nothing ever
  // rewrites them) — so these are Spark-native capabilities the
  // 100 TB deployment needs and the reference cannot express.
  // ------------------------------------------------------------------

  /** Files per day the "micro-batch ingest" fixture fragments into —
    * small enough to be a visible tax (8 files × 30 days = 240 small
    * files at the driver SFs), real enough that compaction's 8→1
    * per-partition fold mirrors the production ratio.
    */
  private val IngestFilesPerDay = 8

  /** Run `body` with parquet timestamps written as INT64 micros
    * instead of the legacy INT96 default: INT96 chunks carry NO
    * min/max statistics, so a timestamp-sorted layout would lose all
    * row-group skipping (q136's whole point). The driver's oracle
    * reads Verify outputs as NAIVE timestamps, which only the INT96
    * default round-trips, so the switch lives on a PRIVATE cloned
    * session (round 16: a set/restore on the shared session raced
    * every concurrent writer in the JVM). The clone shares the
    * SparkContext but owns its SQLConf; `body` receives the clone and
    * must route its reads AND writes through it.
    */
  private def withMicrosTimestamps[T](spark: SparkSession)(body: SparkSession => T): T = {
    val ws = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
    ws.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // inert unless the written schema carries field-id metadata
    // (column-mapped tables, round 17)
    ws.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    body(ws)
  }

  /** Rebind a frame's plan to `ws` so ITS write reads the clone's conf
    * (a Dataset writes under the session it was created on, not the
    * caller's).
    */
  private def onSession(ws: SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(ws, df.queryExecution.analyzed)

  /** Paths of (fragmented, compacted) day-partitioned copies of
    * `events` for `dir`, building on first use. The fragmented copy
    * reproduces what per-batch ingest leaves behind (IngestFilesPerDay
    * files inside every `day=` directory); the compacted copy is one
    * `repartition($"day")` rewrite of the SAME rows — each output task
    * owns whole days, so every partition folds to ONE file without a
    * global sort. At 100 TB the identical job compacts day-by-day
    * (filter to the partitions behind a watermark) instead of
    * table-at-once; the per-partition plan is unchanged.
    */
  def ensureEventLayouts(spark: SparkSession, dir: String): (String, String) = {
    val base = layoutBase(spark, dir)
    val frag = s"$base/events_ingest"
    val comp = s"$base/events_by_day"
    layout(spark, comp) {
      val ev = Tables.load(spark, dir, "events")
        .withColumn("day", to_date(col("ts")))
      withMicrosTimestamps(spark) { ws =>
        // round-robin fan-out: every ingest task holds rows of EVERY
        // day, so each day= dir collects one file per task — the
        // small-files shape a streaming sink produces.
        onSession(ws, ev).repartition(IngestFilesPerDay)
          .write.mode("overwrite").partitionBy("day").parquet(frag)
        ws.read.parquet(frag)
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(comp)
      }
    }
    (frag, comp)
  }

  /** Path of the range-sorted lineitem copy (and its round-robin
    * control twin) for `dir`. `repartitionByRange` on the sort column
    * gives disjoint per-file date ranges; `sortWithinPartitions`
    * tightens every ROW GROUP's min/max envelope inside each file, so
    * the parquet reader's pushed-down predicate skips non-overlapping
    * row groups from footer stats alone. The control twin is written
    * by the same writer with round-robin placement — every row group
    * spans the full date range, nothing can skip — so the layout, not
    * the writer, is provably what prunes.
    */
  def ensureSortedLineitem(spark: SparkSession, dir: String): (String, String) = {
    val base = layoutBase(spark, dir)
    val sorted = s"$base/lineitem_by_shipdate"
    val control = s"$base/lineitem_roundrobin"
    layout(spark, sorted) {
      val li = Tables.load(spark, dir, "lineitem")
      withMicrosTimestamps(spark) { ws =>
        onSession(ws, li).repartitionByRange(32, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite").parquet(sorted)
        onSession(ws, li).repartition(32)
          .write.mode("overwrite").parquet(control)
      }
    }
    (sorted, control)
  }

  // ------------------------------------------------------------------
  // q138 dynamic partition pruning, q139 runtime bloom-filter join,
  // q140 z-order: the RUNTIME and MULTI-DIMENSIONAL scan-reduction
  // levers on top of the static layouts above. q134 prunes on a
  // literal predicate the optimizer sees at compile time; q138 prunes
  // on a set of days that only EXISTS at runtime (the output of a
  // filter on another table) — Spark's DPP turns the dim-side filter
  // result into a partition filter on the fact scan before listing.
  // q139 is the row-level analog for UNPARTITIONED keys: a bloom
  // filter built from the filtered dim side is pushed into the fact
  // scan, discarding non-joining rows before they enter the shuffle.
  // q140 extends q136's 1-D sort to two query dimensions via a
  // Z-order (Morton) curve, so row-group envelopes stay tight on BOTH
  // columns. The reference re-streams full source cursors per job
  // (`d22d/task.py:88-116`) — it has no analog for any of these.
  // ------------------------------------------------------------------

  /** The seven audit days the q138 dim marks — ONE definition feeding
    * the dim build AND the DuckDB oracle, so the two can never drift.
    */
  private val AuditDays = Seq(
    "2024-01-03", "2024-01-06", "2024-01-10", "2024-01-13",
    "2024-01-17", "2024-01-24", "2024-01-28")

  /** Path of the 30-row (day, kind) dim parquet for `dir`, building on
    * first use. Written as a FILE (not an in-memory relation) on
    * purpose: Catalyst constant-folds a filter over a local relation
    * into a new literal relation, and the DPP rule keys on a
    * *selective filter over a scan* on the dim side — exactly the
    * shape a real audit-calendar table has.
    */
  def ensureAuditDim(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val path = s"${layoutBase(spark, dir)}/dim_days"
    layout(spark, path) {
      val audit = AuditDays.toSet
      (1 to 30).map(d => f"2024-01-$d%02d")
        .map(d => (d, if (audit(d)) "audit" else "normal"))
        .toDF("day_str", "kind")
        .select(to_date(col("day_str")).as("day"), col("kind"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }
  }

  /** q138: the 7-audit-day event rollup, where the day set arrives as
    * a FILTER ON ANOTHER TABLE rather than a literal predicate. The
    * day-partitioned fact scan carries a `dynamicpruningexpression`
    * partition filter: at execution Spark runs the dim filter first
    * (reusing the join's broadcast), collects the surviving `day`
    * values, and lists only those 7 of 30 `day=` directories —
    * runtime pruning with compile-time-pruning economics
    * (plan-asserted in StorageLayoutSpec, 7 of 30 listed). At 100 TB
    * this is the star-schema staple: `fact JOIN dim ON pkey WHERE
    * dim.attr = …` scans only the partitions the dim filter names,
    * without anyone materializing the day list by hand.
    */
  def dppRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, comp) = ensureEventLayouts(spark, dir)
    val dim = spark.read.parquet(ensureAuditDim(spark, dir))
      .filter($"kind" === "audit")
    spark.read.parquet(comp)
      .join(dim, "day")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  private def oracleDpp: String = {
    // an OR-chain, not IN: the gate's DuckDB (1.0.0) resolves
    // `CAST(ts AS DATE) IN (DATE …)` to zero rows while the
    // equality chain answers correctly — same predicate, minus the
    // engine quirk
    val orChain = AuditDays
      .map(d => s"CAST(ts AS DATE) = DATE '$d'").mkString("\n   OR ")
    s"""SELECT event_type, count(*)::BIGINT AS n_events,
       |  round(sum(value), 2) AS sum_value
       |FROM events
       |WHERE $orChain
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** q139: a fact-dim join where the dim filter is pushed into the
    * fact scan as a RUNTIME BLOOM FILTER (`InjectRuntimeFilter`): the
    * filtered orders side aggregates its join keys into a bloom
    * filter, and `might_contain(l_orderkey)` is evaluated inside the
    * lineitem scan — non-joining lineitems are discarded BEFORE the
    * join shuffle, which at 100 TB is the difference between
    * shuffling the whole fact table and shuffling the ~20% that can
    * match. The row-level sibling of q138's partition-level DPP, for
    * join keys the layout is NOT partitioned by.
    *
    * The optimizer lever is session-scoped conf, so the query runs in
    * an isolated `newSession()` (shared context and catalog, private
    * SQLConf — nothing leaks into the caller's session):
    * application-side threshold 0 (default 10 GB — sized for real
    * clusters, not driver SFs), creation side capped at 512 MB, and
    * auto-broadcast off so the join keeps the shuffle shape the bloom
    * filter exists to protect (at 100 TB both sides are fact-sized
    * and that shape is what the optimizer picks unaided). Correctness
    * never depends on any of it — a bloom filter only drops rows the
    * join would drop — which the value oracle pins.
    */
  def bloomFilteredJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // builder-time options carry into newSession via
    // initialSessionOptions; RUNTIME conf changes on the parent do
    // not — mirror the ones table loading and planning depend on.
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled")
      .foreach(k => spark.conf.getOption(k).foreach(s.conf.set(k, _)))
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    val ord = Tables.load(s, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 150000.0)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice"), 2).as("revenue"))
      .orderBy($"l_returnflag")
  }

  private def oracleBloomJoin: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n_items,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Bit-interleave of two 16-bit-quantized columns — the Z-order
    * (Morton) key. Pure built-in shift/mask/or expressions: the whole
    * key stays inside whole-stage codegen, no UDF.
    */
  private def interleaveBits(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Path of the Z-ordered lineitem copy for `dir`: rows clustered by
    * the Morton interleave of (ship-day, suppkey), each quantized to
    * 16 bits over its observed domain. q136's 1-D sort gives PERFECT
    * envelopes on the sort column and USELESS ones on every other —
    * the z-curve splits the difference: a contiguous z-range projects
    * to a bounded box in BOTH dimensions, so every row group's
    * min/max footer envelope is tight on date AND key, and a
    * two-dimensional predicate skips on whichever dimension (or both)
    * it constrains. This is Delta/Iceberg `OPTIMIZE ZORDER BY` run
    * with plain parquet + public APIs. The domain bounds come from
    * one 4-value agg over the table (production uses table-metadata
    * domains; the quantization only needs bounds that CONTAIN the
    * data — staleness just wastes resolution).
    */
  def ensureZorderLineitem(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val path = s"${layoutBase(spark, dir)}/lineitem_zorder"
    layout(spark, path) {
      val li = Tables.load(spark, dir, "lineitem")
      val epoch = to_date(lit("1990-01-01"))
      val bounds = li.agg(
        min(datediff(to_date($"l_shipdate"), epoch)),
        max(datediff(to_date($"l_shipdate"), epoch)),
        min($"l_suppkey"), max($"l_suppkey")).head()
      val (dLo, dHi) = (bounds.getInt(0).toLong, bounds.getInt(1).toLong)
      val (kLo, kHi) = (bounds.getLong(2), bounds.getLong(3))
      def quant(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
        ((c - lit(lo)) * lit(65535L) / lit(math.max(hi - lo, 1L)))
          .cast("long")
      val z = interleaveBits(
        quant(datediff(to_date($"l_shipdate"), epoch).cast("long"), dLo, dHi),
        quant($"l_suppkey", kLo, kHi))
      withMicrosTimestamps(spark) { ws =>
        onSession(ws, li).withColumn("__z", z)
          .repartitionByRange(32, $"__z")
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(path)
      }
    }
  }

  /** q140: a two-dimensional window — one quarter × two suppliers —
    * answered from the Z-ordered layout. Both predicates reach the
    * parquet reader (`PushedFilters`), and BOTH meet tight row-group
    * envelopes: StorageLayoutSpec counts the footers on this layout
    * against the q136 1-D-sorted control, where the suppkey dimension
    * cannot skip at all. At 100 TB this is the (time, tenant) /
    * (date, customer) workload every multi-dim warehouse table has —
    * one clustered layout serving range predicates on either or both
    * dimensions instead of one physical sort per query family.
    */
  def zorderScanWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = ensureZorderLineitem(spark, dir)
    spark.read.parquet(path)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-07-01").cast("timestamp") &&
        $"l_suppkey" <= 1)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private def oracleZorderScan: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n_items,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND l_suppkey <= 1
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Partition-scoped incremental compaction: rewrite ONLY the given
    * `day=` partitions of a date-partitioned layout, leaving every
    * other partition's files untouched (byte-identical, never listed,
    * never opened — they are carried BY REFERENCE in the manifest).
    * This is the form a live table runs — a nightly job compacts
    * yesterday's closed partition behind the ingest watermark while
    * the table stays queryable; table-at-once (ensureEventLayouts'
    * build) is only for bootstraps.
    */
  def compactDays(
      spark: SparkSession, layoutDir: String, days: Seq[String],
      filesPerPartition: Int = 1): Unit =
    // repack = true: compaction changes NO rows, and saying so in the
    // manifest (a self-covering entry) keeps the change feed readable
    // across it — an unmarked rewrite must fail the feed loudly
    rewritePartitions(spark, layoutDir, days, identity, filesPerPartition,
      repack = true)

  /** Read a day-partitioned layout maintained by this engine. A
    * manifested layout reads through [[graft.core.ManifestFileIndex]]
    * (round 14): the live file set feeds ONE native FileScan node —
    * no per-generation union legs, so the ~60 ms/leg fixed driver cost
    * ManifestReadBench priced at max fragmentation is gone, and
    * catalyst partition filters prune inside the single scan. A plain
    * (not-yet-manifested) directory falls back to
    * [[graft.core.ManifestTable.read]]'s native-read path, which
    * honors `days` as an ordinary partition filter.
    */
  def readDayLayout(spark: SparkSession, layoutDir: String,
      days: Option[Set[String]] = None): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(layoutDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (graft.core.ManifestTable.resolve(fs, p).isDefined)
      graft.core.ManifestFileIndex.relation(spark, layoutDir, "day", days)
    else
      graft.core.ManifestTable.read(spark, layoutDir, days, partCol = "day")
  }

  /** The shared partition-rewrite engine behind [[compactDays]] and
    * [[eraseUsers]]: per named `day=` partition, read its live files,
    * apply `transform`, write `filesPerPartition` target files into a
    * fresh `g-*` generation directory — then ONE manifest-pointer
    * commit flips every rewritten partition live together (round 12:
    * the whole batch is atomic now, where the old per-partition
    * rename swap was not even per-PARTITION atomic on object stores —
    * S3A's rename is a non-atomic O(data) copy; see
    * [[graft.core.ManifestTable]] and `ObjectStoreCommitSpec` for the
    * demonstrated torn state). Untouched partitions are carried by
    * reference: byte-identical, never listed, never opened. A plain
    * `partitionBy` directory is adopted in place on first touch;
    * superseded partition data is gc'd after commit behind a
    * reader-grace history window. A partition whose rewrite comes
    * back EMPTY (every row erased) is dropped from the manifest.
    */
  private def rewritePartitions(
      spark: SparkSession, layoutDir: String, days: Seq[String],
      transform: DataFrame => DataFrame,
      filesPerPartition: Int = 1,
      repack: Boolean = false,
      captureDeletes: Option[(DataFrame, String) => DataFrame] = None): Unit = {
    import graft.core.{ManifestEntry, ManifestStaleException, ManifestTable}
    if (days.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(layoutDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // Optimistic concurrency (round 14, same discipline as the
    // connector upsert): the rewrite is derived from ONE committed
    // snapshot and commits conditionally on it still being live. The
    // unconditional commit this replaces could RESURRECT erased rows —
    // a compaction that adopted its file list before an interleaved
    // erasure committed would rewrite the victims back in and then
    // overwrite the erasure's entry. Staleness now aborts the attempt
    // (loser sweeps its own generation), re-resolves and re-derives
    // from the interleaved state, so erase-then-compact converges to
    // compacted-AND-erased in either completion order. Coarse
    // validation (any advance = stale) keeps disjoint-day concurrent
    // compactions safe too, at worst costing them a bounded re-derive.
    var attempts = 0
    while (attempts < MaxRewriteAttempts) {
      attempts += 1
      val manifest = ManifestTable.resolve(fs, root)
        .getOrElse(ManifestTable.adoptIfPlain(fs, root, partCol = "day"))
      val byPart = manifest.entries.map(e => e.part -> e).toMap
      val gen = ManifestTable.GenPrefix + java.util.UUID.randomUUID().toString.take(8)
      try {
        // erasure capture (round 16): the rows about to be REMOVED,
        // projected by the caller to key-only delete rows — written as
        // this commit's change record so downstream consumers can
        // PROPAGATE the deletion without the erased content ever
        // entering the feed. Accumulated per partition from the same
        // snapshot the rewrite reads; written before the commit that
        // names it (same atomicity as the merge's record).
        var captured = Seq.empty[DataFrame]
        // COLUMN-MAPPED tables (round 17): read each partition's files
        // with the manifest-held logical schema (names + field ids —
        // files from before a rename resolve by id) and stamp the
        // rewrite's output so the fresh generation keeps its ids.
        val mappedCols = manifest.cols
        def readLive(paths: Seq[String]): DataFrame =
          if (mappedCols.isEmpty) spark.read.parquet(paths: _*)
          else {
            graft.core.ManifestColumns.ensureReadConf(spark)
            spark.read.schema(graft.core.ManifestColumns.schemaOf(mappedCols))
              .parquet(paths: _*)
          }
        def stampIf(df: DataFrame): DataFrame =
          if (mappedCols.isEmpty) df
          else graft.core.ManifestColumns.stamp(df, mappedCols, "day",
            Set(graft.core.ManifestChanges.ChangeTypeCol))
        val updates: Map[String, Option[ManifestEntry]] = days.map { d =>
          val entry = byPart.getOrElse(d, throw new IllegalArgumentException(
            s"no partition day=$d under $layoutDir"))
          val live = ManifestTable.entryPaths(root, entry).map(_.toString)
          captureDeletes.foreach(f =>
            captured :+= f(readLive(live), d))
          val outDir = s"$gen/day=$d"
          val out = new org.apache.hadoop.fs.Path(root, outDir)
          withMicrosTimestamps(spark) { ws =>
            // the table's DECLARED order (round 18, [[TableOrder]]):
            // every rewrite re-applies the persisted clustering —
            // range-placed + sorted files whose envelopes keep
            // skipping selective across maintenance; unordered tables
            // keep the plain repartition
            onSession(ws, graft.core.TableOrder.shape(
              stampIf(transform(readLive(live))), manifest.order, filesPerPartition))
              .write.mode("error").parquet(out.toString)
          }
          // drop the _SUCCESS marker so the committed dir holds data
          // files only, like every other partition dir
          fs.delete(new org.apache.hadoop.fs.Path(out, "_SUCCESS"), false)
          // an erased-to-empty partition leaves a schema-only parquet file
          // (nonzero bytes, zero rows): detect with a limit-1 read — O(one
          // footer), independent of partition size
          val dataFiles = fs.listStatus(out).filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          val hasRows = dataFiles.nonEmpty && !spark.read.parquet(out.toString).isEmpty
          // the statuses are already in hand from the empty-check above —
          // record them (plus footer column envelopes) so readers
          // resolve with zero listing calls and skip non-matching files
          val stats = ManifestTable.fileStats(fs, dataFiles.toSeq, manifest.statsCols)
          // a pure repack (compaction) SAYS so: the entry covers its
          // own part key, the same writer declaration the streaming
          // sink's folds carry — the change feed reads "same rows,
          // repacked" and skips instead of failing (round 16). Only
          // the identity transform may claim it; a data-changing
          // rewrite (erasure) stays unmarked and fails the feed loudly.
          val covers = if (repack && hasRows) Seq(d) else Nil
          d -> (if (hasRows) Some(ManifestEntry(d, outDir, Nil, stats, covers)) else None)
        }.toMap
        val changesRel: Option[String] =
          if (captured.isEmpty) None
          else {
            val rel = s"${ManifestTable.ChangesDir}/$gen"
            val chg = stampIf(captured.reduce(_ unionByName _))
            withMicrosTimestamps(spark) { ws =>
              onSession(ws, chg).write.mode("error")
                .parquet(new org.apache.hadoop.fs.Path(root, rel).toString)
            }
            fs.delete(new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(root, rel), "_SUCCESS"), false)
            Some(rel)
          }
        beforeRewriteCommit()
        ManifestTable.commit(fs, root, "day", updates,
          expectedSeq = Some(manifest.seq), changes = changesRel)
        afterRewriteCommit()
        ManifestTable.gc(fs, root)
        return
      } catch {
        case _: ManifestStaleException =>
          fs.delete(new org.apache.hadoop.fs.Path(root, gen), true)
          fs.delete(new org.apache.hadoop.fs.Path(root,
            s"${ManifestTable.ChangesDir}/$gen"), true)
        case scala.util.control.NonFatal(e) =>
          // Commit success is TERMINAL: if the live manifest references
          // this attempt's generation, the commit landed and the failure
          // came AFTER it (a transient gc IOException) — deleting the
          // generation then would brick the table, because our OWN
          // commit is what advanced nowSeq past the base (the same
          // data-loss shape the connector upsert guards against).
          val now = ManifestTable.resolve(fs, root)
          val committedByUs = now.exists(_.entries.exists(en =>
            en.dir == gen || en.dir.startsWith(gen + "/")))
          if (committedByUs) return
          // a concurrent winner's gc can retire this attempt's base
          // files mid-rewrite — retry iff the table really advanced,
          // else the failure is genuine (same reasoning as the upsert).
          // Fatal errors skip this handler: propagate, delete nothing.
          val nowSeq = now.map(_.seq).getOrElse(0L)
          if (nowSeq == manifest.seq) throw e
          fs.delete(new org.apache.hadoop.fs.Path(root, gen), true)
          fs.delete(new org.apache.hadoop.fs.Path(root,
            s"${ManifestTable.ChangesDir}/$gen"), true)
      }
    }
    throw new java.io.IOException(
      s"partition rewrite at $layoutDir lost the optimistic-commit race " +
        s"$MaxRewriteAttempts times — sustained concurrent-writer contention; " +
        "nothing was lost, retry when it clears")
  }

  /** Same bound and reasoning as `FileConnector.MaxUpsertAttempts`:
    * each retry is caused by one other writer's successful commit.
    */
  private val MaxRewriteAttempts = 10

  /** Test seam (round 14): runs between a partition rewrite's
    * generation write and its conditional commit — the window an
    * interleaved erasure/compaction makes the attempt stale.
    * Production no-op.
    */
  @volatile private[graft] var beforeRewriteCommit: () => Unit = () => ()

  /** Test seam (round 15): runs between a rewrite's SUCCESSFUL
    * conditional commit and its gc — a failure here must read as
    * success (the pointer already flipped), never as a retriable
    * staleness. Production no-op.
    */
  @volatile private[graft] var afterRewriteCommit: () => Unit = () => ()

  /** Targeted row erasure — the right-to-be-forgotten primitive every
    * training-data pipeline eventually needs. Parquet files are
    * immutable, so row deletion IS a partition rewrite; the point of
    * this operator is to rewrite ONLY the partitions that contain the
    * victims. Step 1 finds them with an ordinary pushed-down scan
    * (the collect is bounded by the partition count — a calendar, not
    * a corpus); step 2 is [[rewritePartitions]] with a filter
    * transform, atomic per-partition swap, untouched partitions
    * byte-identical (spec-proven). At 100 TB an erasure request
    * touching one user's 3 active days rewrites ~3 partitions, not
    * the table — same discipline as Delta/Iceberg DELETE with
    * partition-level file rewrite. Idempotent: a re-run finds the
    * victims' partitions already clean and rewrites nothing.
    */
  def eraseUsers(spark: SparkSession, layoutDir: String,
      userIds: Seq[Long]): Seq[String] =
    eraseUsers(spark, layoutDir, userIds, Nil)

  /** Erase with DELETION PROPAGATION (round 16): when
    * `captureDeleteKeys` names the table's key columns, the erasure
    * commit carries a change record of KEY-ONLY delete rows — every
    * non-key column NULL — so a downstream consumer
    * ([[graft.core.ManifestChanges.replicate]], the change-feed
    * stream) drops the same rows WITHOUT the erased content ever
    * entering the feed: the record is the deletion order, not a copy
    * of the data it destroys (capturing preimages here would defeat
    * the erasure — the reason the plain erase stays uncaptured and
    * fails the feed loudly instead). Keys are assumed erasure-safe
    * identifiers (surrogate ids); do not name the sensitive columns
    * themselves as keys.
    */
  def eraseUsers(spark: SparkSession, layoutDir: String,
      userIds: Seq[Long], captureDeleteKeys: Seq[String]): Seq[String] = {
    val affected = readDayLayout(spark, layoutDir)
      .filter(col("user_id").isin(userIds: _*))
      .select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val capture: Option[(DataFrame, String) => DataFrame] =
      if (captureDeleteKeys.isEmpty) None
      else Some { (live: DataFrame, day: String) =>
        val victims = live.filter(col("user_id").isin(userIds: _*))
        val cols = live.schema.fields.toSeq.map { f =>
          if (captureDeleteKeys.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }
        victims.select(cols: _*)
          .withColumn("day", lit(day).cast("date"))
          .withColumn("_change_type", lit("delete"))
      }
    rewritePartitions(spark, layoutDir, affected,
      _.filter(!col("user_id").isin(userIds: _*)),
      captureDeletes = capture)
    affected
  }

  /** The q142 demo victims — present at every driver SF; ONE
    * definition feeding the erase, the oracle and the spec.
    */
  private[operators] val ErasedUsers = Seq(1L, 2L, 3L)

  /** Path of the erased-copy layout for `dir`: a private copy of the
    * compacted day-partitioned events with [[ErasedUsers]] erased via
    * [[eraseUsers]] at build time. Session-shared like every layout.
    */
  def ensureErasedLayout(spark: SparkSession, dir: String): String = {
    val path = s"${layoutBase(spark, dir)}/events_erased"
    // the copy's own _SUCCESS is not enough: a crash between copy
    // and erase would leave a marker-bearing layout with the victims
    // still present — the erase writes its OWN marker when done
    layout(spark, path, "_ERASED") {
      val (_, comp) = ensureEventLayouts(spark, dir)
      withMicrosTimestamps(spark) { ws =>
        ws.read.parquet(comp)
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(path)
      }
      eraseUsers(spark, path, ErasedUsers)
      touchMarker(spark, path, "_ERASED")
    }
  }

  /** The q143 point-lookup keys — present at every driver SF (and in
    * every ScaleFixture replica set, whose key shifts preserve the
    * base keys); ONE definition feeding the query, the oracle and the
    * spec's bloom probes.
    */
  private[operators] val LookupKeys = Seq(19L, 515L, 1133L)

  /** Paths of the (bloom-indexed, control) UNSORTED lineitem copies
    * for `dir`. Both are round-robin — deliberately: on an unsorted
    * layout every row group's min/max envelope spans the whole key
    * range, so zone maps (q136's lever) can skip NOTHING for a point
    * lookup; the parquet column BLOOM filter is the lever that still
    * works, answering "key definitely not in this row group" from a
    * footer-adjacent bitset regardless of physical order. The control
    * twin differs ONLY in the writer option, so the spec's footer
    * census proves the option (not the writer) planted the index.
    */
  def ensureBloomLineitem(spark: SparkSession, dir: String): (String, String) = {
    val base = layoutBase(spark, dir)
    val bloom = s"$base/lineitem_bloom"
    val control = s"$base/lineitem_nobloom"
    layout(spark, bloom) {
      val li = Tables.load(spark, dir, "lineitem")
      withMicrosTimestamps(spark) { ws =>
        onSession(ws, li).repartition(32)
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#l_orderkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_orderkey", "100000")
          .parquet(bloom)
        li.repartition(32)
          .write.mode("overwrite").parquet(control)
      }
    }
    (bloom, control)
  }

  /** q143: a point lookup over the bloom-indexed UNSORTED layout —
    * the "fetch these order ids out of 100 TB" shape. The IN
    * predicate is pushed to the parquet reader (`PushedFilters`),
    * which tests each row group's bloom bitset before decoding a
    * page: row groups whose bitsets reject all three keys are skipped
    * outright — on a layout where min/max statistics are provably
    * useless (every envelope spans the key range; the spec's footer
    * census shows it, and probes the bitsets directly: absent keys
    * rejected everywhere, present keys admitted somewhere). This is
    * the third skipping granularity after partitions (q134/q138) and
    * sorted zone maps (q136/q140), and the one that needs no layout
    * discipline at all — only the write-time option.
    */
  def bloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (bloom, _) = ensureBloomLineitem(spark, dir)
    spark.read.parquet(bloom)
      .filter($"l_orderkey".isin(LookupKeys: _*))
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_orderkey")
  }

  private def oracleBloomLookup: String =
    s"""SELECT l_orderkey, count(*)::BIGINT AS n_items,
       |  round(sum(l_quantity), 2) AS sum_qty
       |FROM lineitem WHERE l_orderkey IN (${LookupKeys.mkString(", ")})
       |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Per-row-group bloom-bitset census over a parquet directory: how
    * many row groups ADMIT `value` on `column` (reader semantics:
    * admit = must read, reject = skip), and how many carry a bloom
    * index at all. Public parquet-hadoop API — the same bitsets the
    * reader consults.
    */
  def bloomAdmitCount(spark: SparkSession, dirPath: String, column: String,
      value: Long): (Int, Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dirPath)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var total = 0
    var indexed = 0
    var admit = 0
    files.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getRowGroups.asScala.foreach { rg =>
          total += 1
          val cc = rg.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(sys.error(s"column $column not in $p"))
          val bf = reader.getBloomFilterDataReader(rg).readBloomFilter(cc)
          if (bf != null) {
            indexed += 1
            if (bf.findHash(bf.hash(value))) admit += 1
          }
        }
      } finally reader.close()
    }
    (total, indexed, admit)
  }

  /** q142: the per-day integrity profile of the ERASED layout — the
    * audit an erasure job emits as its completion evidence. The value
    * oracle recomputes it from the raw table minus the victims,
    * proving the rewrite removed exactly the victims' rows and
    * nothing else; StorageLayoutSpec proves the stronger operational
    * claims (only victim partitions rewritten, others byte-identical,
    * atomic swap, idempotent re-run).
    */
  def eraseAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readDayLayout(spark, ensureErasedLayout(spark, dir))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"day")
  }

  private def oracleEraseAudit: String = {
    val victims = ErasedUsers.mkString(", ")
    s"""SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_rows,
       |  count(DISTINCT user_id)::BIGINT AS n_users,
       |  round(sum(value), 2) AS sum_value
       |FROM events WHERE user_id NOT IN ($victims)
       |GROUP BY 1 ORDER BY day""".stripMargin
  }

  /** q134: a 7-day event rollup answered from the day-partitioned
    * compacted layout. The `day` filter is a PARTITION filter — the
    * scan lists 7 of the 30 `day=` directories and never opens the
    * rest (asserted via `selectedPartitions` in PlanQualitySpec). At
    * 100 TB this is the difference between scanning 100 TB and
    * scanning the ~23 TB-per-week the query asked about — pruning
    * happens at file-listing time, before a single byte is read.
    */
  def partitionPrunedRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, comp) = ensureEventLayouts(spark, dir)
    spark.read.parquet(comp)
      .filter($"day".between(to_date(lit("2024-01-10")), to_date(lit("2024-01-16"))))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  private def oraclePartitionPruned: String =
    """SELECT event_type, count(*)::BIGINT AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-17 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q135: the per-day integrity profile read from the COMPACTED
    * layout — the check a real compaction job runs before swapping
    * the new layout in (row counts and per-day user cardinality must
    * survive the rewrite byte-for-byte; the value-level oracle proves
    * it against the raw table). StorageLayoutSpec additionally proves
    * the stronger full-row set equality and the 8→1 per-partition
    * file fold.
    */
  def compactionProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, comp) = ensureEventLayouts(spark, dir)
    spark.read.parquet(comp)
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"day")
  }

  private def oracleCompactionProfile: String =
    """SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_rows,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** q136: a one-month revenue window answered from the
    * shipdate-sorted layout. The pushed-down range predicate
    * (`PushedFilters` in the scan) meets row groups whose footer
    * min/max envelopes are ~2.5 months wide (600k rows / 32 sorted
    * files), so ~31 of 32 row groups are skipped from stats alone —
    * `StorageLayoutSpec.rowGroupOverlap` counts the envelopes
    * directly from the footers, on this layout AND on the round-robin
    * control where every envelope spans the full range and nothing
    * can skip. This is the native-parquet form of the min/max
    * data-skipping tier (Delta/Iceberg file stats, Redshift zone
    * maps); at 100 TB the same sort discipline skips at BOTH
    * granularities (file listing via Iceberg-style stats, row groups
    * via these footers).
    */
  def sortedScanWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (sorted, _) = ensureSortedLineitem(spark, dir)
    spark.read.parquet(sorted)
      .filter($"l_shipdate" >= lit("1998-03-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-04-01").cast("timestamp"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"l_returnflag")
  }

  private def oracleSortedScan: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n_items,
      |  round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Row-group min/max envelope census over a parquet directory: how
    * many row groups' [min,max] on `column` (an INT64
    * micros-timestamp column, the layout Spark writes) overlap
    * [loMicros, hiMicros)? The parquet reader makes exactly this test
    * from footer stats before decoding a page, so (total, overlap) IS
    * the skipping ratio the sorted layout buys. Public parquet-hadoop
    * API only — the same footers every engine reads.
    */
  def rowGroupOverlap(
      spark: SparkSession, dirPath: String, column: String,
      loMicros: Long, hiMicros: Long): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dirPath)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var total = 0
    var overlap = 0
    files.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getRowGroups.asScala.foreach { rg =>
          val cc = rg.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(sys.error(s"column $column not in $p"))
          val st = cc.getStatistics
          total += 1
          val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
          val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
          if (mx >= loMicros && mn < hiMicros) overlap += 1
        }
      } finally reader.close()
    }
    (total, overlap)
  }

  /** Parquet data files under `dirPath`, recursively — the compaction
    * before/after evidence (spec-level; the content proof is q135's
    * value oracle + StorageLayoutSpec's full-row set equality).
    */
  def parquetFileCount(spark: SparkSession, dirPath: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dirPath)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Path of the MANIFESTED day-partitioned events copy for `dir` —
    * written through the graftmanifest Overwrite path
    * ([[graft.core.ManifestWrite]]), whose commit records each file's
    * (name, len) AND per-column min/max envelopes from its parquet
    * footers. One file per day partition (`repartition(day)`), so
    * every file's `ts` envelope spans exactly its day — the layout
    * that makes manifest-level skipping legible. Session-shared like
    * every layout; INT64-micros timestamps so footers carry usable
    * stats.
    */
  def ensureManifestedEvents(spark: SparkSession, dir: String): String = {
    val path = s"${layoutBase(spark, dir)}/events_manifested"
    val (fs, p) = hfsPath(spark, path)
    layouts(path, graft.core.ManifestTable.resolve(fs, p).isDefined) {
      val ev = Tables.load(spark, dir, "events")
        .withColumn("day", to_date(col("ts")))
      withMicrosTimestamps(spark) { ws =>
        graft.core.ManifestWrite.write(
          onSession(ws, ev).repartition(col("day")), path,
          "day", org.apache.spark.sql.SaveMode.Overwrite)
      }
    }
    path
  }

  /** q149: a 3-day event rollup whose predicate is on `ts` — NOT the
    * partition column — answered from the manifested layout. Static
    * partition pruning cannot fire (no `day` predicate exists), yet
    * 27 of 30 files never enter the scan: the manifest's per-file
    * `ts` min/max envelopes (recorded from parquet footers at COMMIT
    * time) prove them unsatisfiable inside
    * [[graft.core.ManifestFileIndex.listFiles]], with zero filesystem
    * calls — the already-read commit file IS the index. This is the
    * fourth skipping granularity in the catalog, and the only one
    * that skips whole FILES without a partition predicate: q134/q138
    * prune on the partition VALUE, q136/q140's zone maps and q143's
    * blooms still open every file to read its footer. At 100 TB on
    * S3 that footer GET per file is the listing tier's whole cost —
    * Iceberg/Delta record stats in the manifest for exactly this
    * reason. Value parity against the unskipped read plus the
    * file-count proof live in `ManifestSkippingSpec`.
    */
  def manifestSkipRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val layout = ensureManifestedEvents(spark, dir)
    graft.core.ManifestFileIndex.relation(spark, layout, "day")
      .filter($"ts" >= lit("2024-01-10").cast("timestamp") &&
        $"ts" < lit("2024-01-13").cast("timestamp"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  private def oracleManifestSkip: String =
    """SELECT event_type, count(*)::BIGINT AS n_events,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q150: the table-inspection aggregate — row count, non-null count,
    * and the date/time range of the manifested events layout —
    * answered ENTIRELY from the manifest's recorded stats: the
    * optimizer rule [[graft.plans.ManifestMetadataAggRule]] collapses
    * the filterless global aggregate to a [[LocalRelation]] (zero
    * tasks, zero file opens; plan-shape spec-asserted). At 100 TB this
    * is "how big is this table and what period does it cover" in one
    * commit-file read instead of a scan stage that opens a million
    * files — the Iceberg/Delta metadata-query discipline. The value
    * oracle recomputes all six aggregates from the raw table; the
    * rule's bail paths (filters, strings, floats, distinct,
    * stats-less generations) fall through to the ordinary scan,
    * parity-proven in `ManifestMetadataAggSpec`.
    */
  def manifestMetadataStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.ManifestMetadataAgg.ensure(spark)
    val layout = ensureManifestedEvents(spark, dir)
    graft.core.ManifestFileIndex.relation(spark, layout, "day")
      .agg(count(lit(1)).as("n_rows"),
        count($"user_id").as("n_user_rows"),
        min($"day").as("min_day"), max($"day").as("max_day"),
        min($"ts").as("min_ts"), max($"ts").as("max_ts"))
  }

  private def oracleManifestMetadata: String =
    """SELECT count(*)::BIGINT AS n_rows,
      |  count(user_id)::BIGINT AS n_user_rows,
      |  min(CAST(ts AS DATE)) AS min_day, max(CAST(ts AS DATE)) AS max_day,
      |  min(make_timestamp(epoch_ns(ts) // 1000)) AS min_ts,
      |  max(make_timestamp(epoch_ns(ts) // 1000)) AS max_ts
      |FROM events""".stripMargin

  /** The q151 merge constants — ONE definition feeding the build, the
    * oracle and the spec. A contiguous event_id range models the real
    * shape of a keyed backfill ("re-process events 100-299"), which is
    * also the shape the per-file key envelopes can prune on.
    */
  private[operators] val MergeUpdateLo = 100L
  private[operators] val MergeUpdateHi = 299L
  private[operators] val MergeDeleteLo = 300L
  private[operators] val MergeDeleteHi = 399L
  private[operators] val MergeInsertShift = 10000000L

  /** Path of the merged-copy layout for `dir`: a private manifested
    * copy of the day-partitioned events, each day split into
    * event_id-range files (so key envelopes are selective), then put
    * through TWO row-level merges ([[graft.core.ManifestMerge]]):
    * a keyed update+insert (value correction for ids 100-299 plus
    * shifted-id echo rows) and a keyed delete (ids 300-399), both
    * CHANGE-CAPTURED (`withChangeFeed`) so q153 can read the exact
    * row-level feed back. Rebuilt from scratch if the `_MERGED_CDF`
    * marker is missing — a crash between copy and merges (or a layout
    * built before change capture existed) must not pass as done.
    */
  def ensureMergedLayout(spark: SparkSession, dir: String): String = {
    val path = s"${layoutBase(spark, dir)}/events_merged"
    layout(spark, path, "_MERGED_CDF") {
      val ev = Tables.load(spark, dir, "events")
        .withColumn("day", to_date(col("ts")))
      withMicrosTimestamps(spark) { ws =>
        graft.core.ManifestWrite.write(
          onSession(ws, ev).repartitionByRange(8, col("event_id")), path,
          "day", org.apache.spark.sql.SaveMode.Overwrite)
      }
      // q155's replica: SEEDED at the pre-merge snapshot, so its
      // later catch-up must replay both merges purely from the
      // captured feed — the whole CDC loop under the value oracle.
      // A rebuild starts the replica over (its ledger would point
      // into the torn-down history otherwise).
      val (rfs, rpath) = hfsPath(spark, s"$path-replica")
      rfs.delete(rpath, true)
      graft.core.ManifestChanges.replicate(
        spark, path, s"$path-replica", Seq("event_id"), "day"): Unit
      // merge 1: keyed UPDATE (matched) + INSERT (shifted ids miss)
      val upd = ev.filter(col("event_id").between(MergeUpdateLo, MergeUpdateHi))
        .withColumn("value", col("value") + lit(1000.0))
      val ins = upd.withColumn("event_id", col("event_id") + lit(MergeInsertShift))
      graft.core.ManifestMerge(path, Seq("event_id"))
        .whenMatchedUpdate(Map("value" -> ((s, _) => s("value"))))
        .whenNotMatchedInsert()
        .withChangeFeed()
        .run(upd.unionByName(ins))
      // merge 2: keyed DELETE
      graft.core.ManifestMerge(path, Seq("event_id"))
        .whenMatchedDelete()
        .withChangeFeed()
        .run(ev.filter(col("event_id").between(MergeDeleteLo, MergeDeleteHi))
          .select("event_id"))
      touchMarker(spark, path, "_MERGED_CDF")
    }
  }

  /** q151: the per-day audit of the MERGED layout — the completion
    * evidence a keyed backfill job emits. The value oracle recomputes
    * the same update+insert+delete from the raw table in SQL, proving
    * the file-granular merge (only envelope-overlapping files
    * rewritten, untouched files carried by reference — spec-proven
    * byte-identical in `ManifestMergeSpec`) changed exactly the
    * addressed rows. This is S28/S29's key-granular upsert surface
    * (`d22d/model/mysqlmodel.py:167-194, 285-302`) re-expressed on an
    * immutable-file table: at 100 TB a 200-key correction rewrites the
    * handful of files whose recorded envelopes contain those keys,
    * not the table.
    */
  def mergeAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readDayLayout(spark, ensureMergedLayout(spark, dir))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"day")
  }

  private def oracleMergeAudit: String =
    s"""WITH m AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id,
       |    CASE WHEN event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |         THEN value + 1000 ELSE value END AS value
       |  FROM events
       |  WHERE event_id NOT BETWEEN $MergeDeleteLo AND $MergeDeleteHi
       |  UNION ALL
       |  SELECT CAST(ts AS DATE) AS day, user_id, value + 1000 AS value
       |  FROM events WHERE event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |)
       |SELECT day, count(*)::BIGINT AS n_rows,
       |  count(DISTINCT user_id)::BIGINT AS n_users,
       |  round(sum(value), 2) AS sum_value
       |FROM m GROUP BY 1 ORDER BY day""".stripMargin

  /** q152: the per-partition profile of the manifested events layout —
    * the "partitions" metadata table every Iceberg/Delta operator
    * dashboard queries (`SELECT day, count(*), min(ts), max(ts) …
    * GROUP BY day`) — answered with ZERO tasks: round 16 extended
    * [[graft.plans.ManifestMetadataAggRule]] to grouping expressions
    * that are exactly the partition column, so each output row comes
    * from one entry's key + its recorded per-file row counts and `ts`
    * envelopes. At 100 TB the same dashboard query otherwise scans
    * every partition to count rows the commit file already holds.
    * Value oracle recomputes from the raw table; plan shape asserted
    * in `ManifestMetadataAggSpec`.
    */
  def partitionProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.ManifestMetadataAgg.ensure(spark)
    val layout = ensureManifestedEvents(spark, dir)
    graft.core.ManifestFileIndex.relation(spark, layout, "day")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"),
        count($"user_id").as("n_user_rows"),
        min($"ts").as("min_ts"), max($"ts").as("max_ts"))
      .orderBy($"day")
  }

  private def oraclePartitionProfile: String =
    """SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_rows,
      |  count(user_id)::BIGINT AS n_user_rows,
      |  min(make_timestamp(epoch_ns(ts) // 1000)) AS min_ts,
      |  max(make_timestamp(epoch_ns(ts) // 1000)) AS max_ts
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** q153: the row-level CHANGE DATA FEED of the merged layout — what
    * an incremental downstream (replication, feature refresh, audit)
    * consumes instead of re-reading snapshots. The two q151 merges are
    * change-captured ([[graft.core.ManifestMerge.withChangeFeed]]):
    * each commit's exact `update_preimage`/`update_postimage`/`insert`/
    * `delete` rows land under `_changes/` and the commit names them
    * atomically; this query reads the feed back through the public
    * `readChangeFeed` option ([[graft.core.ManifestChanges]]) and
    * profiles it per change type and day. The value oracle recomputes
    * every change row from the raw table and the merge spec in SQL —
    * proving the captured feed is the exact delta, not an
    * approximation. At 100 TB the feed costs O(changed rows), never a
    * snapshot diff; an uncaptured rewrite fails the feed loudly rather
    * than misreporting churn.
    */
  def changeFeedAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = ensureMergedLayout(spark, dir)
    val (fs, rootPath) = hfsPath(spark, path)
    val vs = graft.core.ManifestChanges.versionsWithChanges(fs, rootPath)
    require(vs.nonEmpty, s"merged layout at $path carries no change records")
    spark.read.format("graftmanifest")
      .option("readChangeFeed", "true")
      .option("startingVersion", vs.min.toString)
      .option("endingVersion", vs.max.toString)
      .load(path)
      .groupBy($"_change_type", $"day")
      .agg(count(lit(1)).as("n_rows"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"_change_type", $"day")
  }

  private def oracleChangeFeedAudit: String =
    s"""WITH chg AS (
       |  SELECT 'update_preimage' AS _change_type, CAST(ts AS DATE) AS day, value
       |  FROM events WHERE event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |  UNION ALL
       |  SELECT 'update_postimage', CAST(ts AS DATE), value + 1000
       |  FROM events WHERE event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |  UNION ALL
       |  SELECT 'insert', CAST(ts AS DATE), value + 1000
       |  FROM events WHERE event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |  UNION ALL
       |  SELECT 'delete', CAST(ts AS DATE), value
       |  FROM events WHERE event_id BETWEEN $MergeDeleteLo AND $MergeDeleteHi
       |)
       |SELECT _change_type, day, count(*)::BIGINT AS n_rows,
       |  round(sum(value), 2) AS sum_value
       |FROM chg GROUP BY 1, 2 ORDER BY _change_type, day""".stripMargin

  /** q154: INCREMENTAL aggregate maintenance from the change feed —
    * the flagship CDF consumer. The per-day rollup starts from the
    * PRE-merge snapshot's aggregate and applies only the feed's
    * deltas: inserts and update postimages count +1, deletes and
    * update preimages count −1 (self-maintainable aggregates, the
    * materialized-view delta discipline). The oracle recomputes the
    * POST-merge rollup from scratch — incremental == full proves the
    * feed is a complete, exact delta. At 100 TB this is the point of
    * CDF: refreshing a downstream aggregate costs O(changed rows),
    * not a table scan. Integer measures only (count, sum of bigint) —
    * exact under signed cancellation, no float-order wobble.
    */
  def incrementalAggMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = ensureMergedLayout(spark, dir)
    val (fs, rootPath) = hfsPath(spark, path)
    val vs = graft.core.ManifestChanges.versionsWithChanges(fs, rootPath)
    require(vs.nonEmpty, s"merged layout at $path carries no change records")
    // the pre-merge snapshot's aggregate (= the raw table's: the layout
    // is a verbatim manifested copy before its merges)
    val base = Tables.load(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
      .groupBy($"day")
      .agg(count(lit(1)).as("b_n"), sum($"user_id").as("b_uid"))
    val feed = graft.core.ManifestChanges.between(spark, path, vs.min, vs.max)
    val delta = feed
      .withColumn("sgn",
        when($"_change_type".isin("insert", "update_postimage"), lit(1L))
          .otherwise(lit(-1L)))
      .groupBy($"day")
      .agg(sum($"sgn").as("d_n"), sum($"user_id" * $"sgn").as("d_uid"))
    base.join(delta, Seq("day"), "full_outer")
      .select($"day",
        (coalesce($"b_n", lit(0L)) + coalesce($"d_n", lit(0L))).as("n_rows"),
        (coalesce($"b_uid", lit(0L)) + coalesce($"d_uid", lit(0L))).as("sum_uid"))
      .filter($"n_rows" > 0)
      .orderBy($"day")
  }

  private def oracleIncrementalAgg: String =
    s"""WITH m AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id FROM events
       |  WHERE event_id NOT BETWEEN $MergeDeleteLo AND $MergeDeleteHi
       |  UNION ALL
       |  SELECT CAST(ts AS DATE) AS day, user_id
       |  FROM events WHERE event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |)
       |SELECT day, count(*)::BIGINT AS n_rows,
       |  coalesce(sum(user_id), 0)::BIGINT AS sum_uid
       |FROM m GROUP BY 1 ORDER BY day""".stripMargin

  /** q155: the per-day audit of a REPLICA maintained purely through
    * the change feed — seeded at the pre-merge snapshot inside
    * [[ensureMergedLayout]], caught up here by
    * [[graft.core.ManifestChanges.replicate]] replaying both captured
    * merges as keyed merges against the replica. The oracle is the
    * same final-state recomputation as q151 — so the value gate holds
    * the ENTIRE CDC loop (write-time capture → feed → idempotent
    * apply) to exactness, not just the primary table. At 100 TB this
    * is the multi-region replica / downstream lakehouse sync: each
    * sync costs O(changed rows since the ledger), never a source
    * re-scan.
    */
  def replicaAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = ensureMergedLayout(spark, dir)
    val replica = s"$path-replica"
    graft.core.ManifestChanges.replicate(spark, path, replica, Seq("event_id"), "day")
    readDayLayout(spark, replica)
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"day")
  }

  /** q156: the change feed through PURE SQL — the
    * `graft_table_changes(root, from, to)` table function
    * ([[graft.functions.GraftExtensions.tableFunctions]], the Delta
    * `table_changes` TVF shape): a SQL-only user reaches the exact
    * row-level feed q153 reads through the Scala/option surface, same
    * oracle. Round-17 verdict task 6 — CDF and time travel must not
    * require a Scala import.
    */
  def sqlChangeFeedAudit(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureMergedLayout(spark, dir)
    graft.functions.GraftExtensions.register(spark)
    val (fs, rootPath) = hfsPath(spark, path)
    val vs = graft.core.ManifestChanges.versionsWithChanges(fs, rootPath)
    require(vs.nonEmpty, s"merged layout at $path carries no change records")
    spark.sql(
      s"""SELECT _change_type, day, count(*) AS n_rows,
         |  round(sum(value), 2) AS sum_value
         |FROM graft_table_changes('$path', ${vs.min}, ${vs.max})
         |GROUP BY _change_type, day
         |ORDER BY _change_type, day""".stripMargin)
  }

  /** q157: TIME TRAVEL through pure SQL — `graft_table(root, version)`
    * resolves the merged layout AS OF its first captured merge (the
    * update+insert applied, the delete not yet), through the same
    * single-scan FileIndex the Scala path plans. The oracle recomputes
    * that intermediate state from the raw table — holding the
    * version-addressed read, not just the live one, to value
    * exactness. Retention note: the merges keep the default window,
    * so exactly this version is the oldest still-retained commit.
    */
  def sqlTimeTravelAudit(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureMergedLayout(spark, dir)
    graft.functions.GraftExtensions.register(spark)
    val (fs, rootPath) = hfsPath(spark, path)
    val vs = graft.core.ManifestChanges.versionsWithChanges(fs, rootPath)
    require(vs.nonEmpty, s"merged layout at $path carries no change records")
    spark.sql(
      s"""SELECT day, count(*) AS n_rows,
         |  count(DISTINCT user_id) AS n_users,
         |  round(sum(value), 2) AS sum_value
         |FROM graft_table('$path', ${vs.min})
         |GROUP BY day ORDER BY day""".stripMargin)
  }

  private def oracleSqlTimeTravel: String =
    s"""WITH m AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id,
       |    CASE WHEN event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |         THEN value + 1000 ELSE value END AS value
       |  FROM events
       |  UNION ALL
       |  SELECT CAST(ts AS DATE) AS day, user_id, value + 1000 AS value
       |  FROM events WHERE event_id BETWEEN $MergeUpdateLo AND $MergeUpdateHi
       |)
       |SELECT day, count(*)::BIGINT AS n_rows,
       |  count(DISTINCT user_id)::BIGINT AS n_users,
       |  round(sum(value), 2) AS sum_value
       |FROM m GROUP BY 1 ORDER BY day""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_bucketed_join" -> (bucketedJoin _),
    "q134_partition_prune" -> (partitionPrunedRollup _),
    "q135_compaction_profile" -> (compactionProfile _),
    "q136_sorted_skipping" -> (sortedScanWindow _),
    "q138_dynamic_partition_prune" -> (dppRollup _),
    "q139_bloom_filter_join" -> (bloomFilteredJoin _),
    "q140_zorder_skipping" -> (zorderScanWindow _),
    "q142_erase_audit" -> (eraseAudit _),
    "q143_bloom_point_lookup" -> (bloomPointLookup _),
    "q149_manifest_skipping" -> (manifestSkipRollup _),
    "q150_metadata_stats" -> (manifestMetadataStats _),
    "q151_merge_audit" -> (mergeAudit _),
    "q152_partition_profile" -> (partitionProfile _),
    "q153_change_feed" -> (changeFeedAudit _),
    "q154_incremental_agg" -> (incrementalAggMaintenance _),
    "q155_replica_audit" -> (replicaAudit _),
    "q156_sql_change_feed" -> (sqlChangeFeedAudit _),
    "q157_sql_time_travel" -> (sqlTimeTravelAudit _),
  )

  val oracles: Map[String, String] = Map(
    "q131_bucketed_join" -> oracleBucketedJoin,
    "q134_partition_prune" -> oraclePartitionPruned,
    "q135_compaction_profile" -> oracleCompactionProfile,
    "q136_sorted_skipping" -> oracleSortedScan,
    "q138_dynamic_partition_prune" -> oracleDpp,
    "q139_bloom_filter_join" -> oracleBloomJoin,
    "q140_zorder_skipping" -> oracleZorderScan,
    "q142_erase_audit" -> oracleEraseAudit,
    "q143_bloom_point_lookup" -> oracleBloomLookup,
    "q149_manifest_skipping" -> oracleManifestSkip,
    "q150_metadata_stats" -> oracleManifestMetadata,
    "q151_merge_audit" -> oracleMergeAudit,
    "q152_partition_profile" -> oraclePartitionProfile,
    "q153_change_feed" -> oracleChangeFeedAudit,
    "q154_incremental_agg" -> oracleIncrementalAgg,
    "q155_replica_audit" -> oracleMergeAudit,
    "q156_sql_change_feed" -> oracleChangeFeedAudit,
    "q157_sql_time_travel" -> oracleSqlTimeTravel,
  )
}
