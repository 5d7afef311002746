package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextPrims._

/** Sketch-as-DATA pipelines (round 9): the three Apache DataSketches
  * families Spark 4 ships natively — HLL (distinct), Theta (set
  * algebra), KLL (quantiles) — used the way a 100 TB pipeline actually
  * uses them: a fine-grained pass materializes one TINY mergeable
  * sketch per (group, time-slice), and every later question is
  * answered by MERGING stored sketches instead of re-scanning raw
  * data. That second stage moves kilobytes per slice through the
  * shuffle regardless of corpus size — the incremental-rollup shape
  * that `approx_count_distinct` inline (q43) cannot express, because
  * its sketch dies inside the aggregate.
  *
  * Correctness discipline is q43/q122's for order-dependent
  * approximations: sketch ESTIMATES never appear as output values
  * (they are not oracle-reproducible); the output carries the exact
  * companions plus in-engine boolean audits — estimate-within-
  * advertised-bound and merged-vs-direct consistency — which the
  * DuckDB oracle asserts as literal TRUE. A sketch drifting out of
  * bound turns a row red in the driver's value gate.
  *
  * Reference coverage: the reference's only distinct/count surface is
  * exact (`d22d/model/datafactory.py` `distinct_data` / `count`,
  * SURVEY §2.2 P4/P6); these operators are the scale path the
  * reference lacks, per the brief's training-pipeline mandate.
  */
object SketchOps {

  // ------------------------------- q130 HLL distinct rollup (events)

  /** lgConfigK for every HLL sketch here: 2^14 registers ≈ 12 KB per
    * sketch, relative standard error 1.04/√2^14 ≈ 0.8%. The 5% audit
    * bound below is >6σ — deterministically TRUE on fixed data unless
    * a sketch is actually broken.
    */
  private val HllLgK = 14

  /** Distinct-users rollup from stored daily sketches (q130): stage 1
    * builds one HLL sketch per (event_type, day) — at 100 TB this is
    * the artifact a nightly job persists, kilobytes per slice; stage 2
    * answers "distinct users per event_type over the whole window" by
    * `hll_union_agg` over those sketches, never touching raw events
    * again. A day's late data re-sketches ONE slice, not the window —
    * the property that makes incremental distinct possible at scale
    * (exact distinct forces a full re-shuffle of the raw key domain
    * every time the window moves).
    *
    * Audits (oracle asserts TRUE):
    *  - `daily_merge_ok`: the union-of-daily-sketches estimate is
    *    within 5% of exact — the merge path did not lose registers;
    *  - `direct_ok`: a single whole-window sketch is within 5% of
    *    exact — the base estimator bound. (The two estimates are NOT
    *    asserted equal: a direct-built sketch answers with its HIP
    *    estimator, a union falls back to the composite estimator —
    *    both inside the bound, equal only below saturation.)
    */
  def hllDistinctRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    // stage 1: the stored artifact — one 12 KB sketch per (type, day)
    val daily = ev
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(hll_sketch_agg($"user_id", lit(HllLgK)).as("sk"),
        count(lit(1)).as("n_events"))
    // stage 2: sketch-only rollup — bytes through the shuffle, not users
    val rolled = daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum($"n_events").as("n_events"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("est_merged"))
    // audit companions: exact distinct + a direct whole-window sketch
    val direct = ev
      .groupBy($"event_type")
      .agg(count_distinct($"user_id").as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg($"user_id", lit(HllLgK))).as("est_direct"))
    rolled.join(direct, "event_type")
      .select($"event_type", $"n_days", $"n_events", $"exact_users",
        (abs($"est_merged" - $"exact_users") <= $"exact_users" * 0.05)
          .as("daily_merge_ok"),
        (abs($"est_direct" - $"exact_users") <= $"exact_users" * 0.05)
          .as("direct_ok"))
      .orderBy($"event_type")
  }

  private def oracleHllRollup: String =
    """SELECT event_type,
      |  count(DISTINCT CAST(ts AS DATE))::BIGINT AS n_days,
      |  count(*)::BIGINT AS n_events,
      |  count(DISTINCT user_id)::BIGINT AS exact_users,
      |  TRUE AS daily_merge_ok, TRUE AS direct_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------- q132 Theta vocabulary overlap (documents)

  /** lgNomEntries for Theta sketches: 2^12 = 4096 retained hashes.
    * Per-source shingle vocabularies (~10k at sf0.1, ~100k at the sf1
    * fixture) exceed that from sf0.1 up, so the sketches genuinely
    * estimate there (below saturation Theta is exact and the audit is
    * vacuous-but-true; SketchOpsSpec pins the estimating regime).
    */
  private val ThetaLgK = 12

  /** Cross-source vocabulary overlap via Theta set algebra (q132) —
    * the sketch twin of q99's exact audit. q99 intersects the full
    * (source, shingle) index: one row per distinct pair, a shuffle
    * proportional to total vocabulary. Here each source's 3-gram
    * vocabulary is compressed to ONE ≤32 KB Theta sketch; every
    * pairwise intersection/union in the S×S overlap matrix is then
    * sketch algebra on the driver-side-joinable sketch table — at
    * 100 TB the matrix costs S scans' worth of sketching plus S²
    * kilobyte-sized set operations, while the exact form pays the
    * full index self-join every time the matrix is refreshed.
    *
    * Unlike HLL, Theta supports INTERSECTION natively — the operation
    * overlap/contamination audits actually need. Output: the exact
    * pair matrix (q99's n_common/n_a/n_b, value-oracled) plus audit
    * flags — union and intersection estimates within 8% of the exact
    * union (≈5σ at 2^12; intersection error scales with the UNION
    * size, the known Theta property, hence both flags share that
    * denominator).
    */
  def thetaVocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the SAME pinned (source, shingle) index q99 reads — one
    // ingest-time vocabulary artifact per corpus
    val sh = CorpusOps.sourceShingleIndex(spark, dir)
    // one sketch + exact vocab size per source: S rows, kilobytes each
    val sks = sh.groupBy($"source")
      .agg(theta_sketch_agg($"s", lit(ThetaLgK)).as("sk"),
        count(lit(1)).as("n"))
    val pairs = sks.select($"source".as("a_source"), $"sk".as("a_sk"), $"n".as("n_a"))
      .join(broadcast(sks.select($"source".as("b_source"), $"sk".as("b_sk"), $"n".as("n_b"))),
        $"a_source" < $"b_source")
      .select($"a_source", $"b_source", $"n_a", $"n_b",
        theta_sketch_estimate(theta_intersection($"a_sk", $"b_sk")).as("est_common"),
        theta_sketch_estimate(theta_union($"a_sk", $"b_sk", lit(ThetaLgK))).as("est_union"))
    // exact companion: per-shingle source posting lists, bounded by S
    // (q99's shape — pair expansion can never exceed S²/shingle)
    pairs.join(CorpusOps.sourcePairCommon(sh), Seq("a_source", "b_source"), "left")
      .withColumn("n_common", coalesce($"n_common", lit(0L)))
      .withColumn("exact_union", $"n_a" + $"n_b" - $"n_common")
      .select($"a_source", $"b_source", $"n_common", $"n_a", $"n_b",
        (abs($"est_union" - $"exact_union") <= $"exact_union" * 0.08)
          .as("union_est_ok"),
        (abs($"est_common" - $"n_common") <= greatest($"exact_union" * 0.08, lit(4.0)))
          .as("inter_est_ok"))
      .orderBy($"a_source", $"b_source")
  }

  private def oracleThetaOverlap: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${shingles3Sql("string_split(text, ' ')")}) AS s
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS a_source, b.source AS b_source, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT sa.source AS a_source, sb.source AS b_source,
       |  coalesce(p.n_common, 0)::BIGINT AS n_common,
       |  sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
       |  TRUE AS union_est_ok, TRUE AS inter_est_ok
       |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
       |LEFT JOIN pairs p ON p.a_source = sa.source AND p.b_source = sb.source
       |ORDER BY a_source, b_source""".stripMargin

  // ------------------------------ q133 KLL quantile rollup (lineitem)

  /** KLL k parameter: 200 keeps each sketch ≈ a few KB with a
    * normalized rank error ε ≈ 1.65% at 99% confidence; the audit
    * allows 3.5% plus the distribution's own per-value mass (quantity
    * is 50 integral values — rank is a step function, so the true
    * rank of ANY returned item is only defined up to its value's
    * probability mass).
    */
  private val KllK = 200

  /** Quantile rollup from stored daily KLL sketches (q133): stage 1
    * sketches l_quantity per ship-day (the persisted artifact); stage
    * 2 folds the day sketches into one window sketch with the scalar
    * `kll_sketch_merge_double` — Spark 4 ships no KLL union AGGREGATE,
    * so the fold runs over `collect_list` of the day sketches, which
    * is exactly as scale-safe as the slice count is bounded (365
    * day-sketches ≈ 1 MB on one executor; the raw column never
    * re-scans). p50/p90/p99 estimates are read off the merged sketch.
    *
    * The audit re-anchors each estimate in the RAW data: one pass
    * computes the true rank interval [P(X < v), P(X ≤ v)] of each
    * estimated quantile value v, and the flag checks the target rank
    * sits inside that interval widened by the KLL error budget. The
    * exact quantiles published alongside use integral doubles so
    * Spark `percentile` ≡ DuckDB `quantile_cont` bit-for-bit (the q40
    * precedent).
    */
  def kllQuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val daily = li
      .groupBy(date_trunc("day", $"l_shipdate").cast("date").as("day"))
      .agg(expr(s"kll_sketch_agg_double(l_quantity, $KllK)").as("sk"),
        count(lit(1)).as("n"))
    val merged = daily
      .agg(collect_list($"sk").as("ls"), sum($"n").as("n_rows"),
        count(lit(1)).as("n_days"))
      .select($"n_rows", $"n_days",
        expr("aggregate(slice(ls, 2, size(ls) - 1), ls[1], (a, x) -> kll_sketch_merge_double(a, x))")
          .as("msk"))
      .select($"n_rows", $"n_days",
        expr("kll_sketch_get_quantile_double(msk, 0.5)").as("est_p50"),
        expr("kll_sketch_get_quantile_double(msk, 0.9)").as("est_p90"),
        expr("kll_sketch_get_quantile_double(msk, 0.99)").as("est_p99"))
    // one array-percentile buffer instead of three scalar ones over
    // the full lineitem (optimization round 18, the psiCuts rewrite):
    // same Spark `percentile` interpolation, values identical.
    val exact = li.agg(
        expr("percentile(l_quantity, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(
        expr("ps[0]").as("exact_p50"),
        expr("ps[1]").as("exact_p90"),
        expr("ps[2]").as("exact_p99"))
    // rank audit: one raw pass, both rank bounds for all three values
    val audited = li.crossJoin(broadcast(merged)).agg(
      first($"n_rows").as("n_rows"), first($"n_days").as("n_days"),
      first($"est_p50").as("est_p50"), first($"est_p90").as("est_p90"),
      first($"est_p99").as("est_p99"),
      (sum(when($"l_quantity" < $"est_p50", 1L).otherwise(0L)) / count(lit(1))).as("lo50"),
      (sum(when($"l_quantity" <= $"est_p50", 1L).otherwise(0L)) / count(lit(1))).as("hi50"),
      (sum(when($"l_quantity" < $"est_p90", 1L).otherwise(0L)) / count(lit(1))).as("lo90"),
      (sum(when($"l_quantity" <= $"est_p90", 1L).otherwise(0L)) / count(lit(1))).as("hi90"),
      (sum(when($"l_quantity" < $"est_p99", 1L).otherwise(0L)) / count(lit(1))).as("lo99"),
      (sum(when($"l_quantity" <= $"est_p99", 1L).otherwise(0L)) / count(lit(1))).as("hi99"))
    val eps = 0.035
    audited.crossJoin(broadcast(exact))
      .select($"n_rows", $"n_days",
        round($"exact_p50", 2).as("exact_p50"),
        round($"exact_p90", 2).as("exact_p90"),
        round($"exact_p99", 2).as("exact_p99"),
        ($"lo50" - eps <= 0.5 && $"hi50" + eps >= 0.5).as("rank_p50_ok"),
        ($"lo90" - eps <= 0.9 && $"hi90" + eps >= 0.9).as("rank_p90_ok"),
        ($"lo99" - eps <= 0.99 && $"hi99" + eps >= 0.99).as("rank_p99_ok"))
  }

  private def oracleKllRollup: String =
    """SELECT count(*)::BIGINT AS n_rows,
      |  count(DISTINCT CAST(l_shipdate AS DATE))::BIGINT AS n_days,
      |  round(quantile_cont(l_quantity, 0.5), 2) AS exact_p50,
      |  round(quantile_cont(l_quantity, 0.9), 2) AS exact_p90,
      |  round(quantile_cont(l_quantity, 0.99), 2) AS exact_p99,
      |  TRUE AS rank_p50_ok, TRUE AS rank_p90_ok, TRUE AS rank_p99_ok
      |FROM lineitem""".stripMargin

  // --------------------------- q141 incremental rollup maintenance

  /** The closed/open split for the incremental demo: days 1-29 are the
    * closed history the stored artifact covers; day 30 is the open
    * delta. ONE definition feeding the base build, the apply step and
    * the spec.
    */
  private[operators] val RollupDeltaStart = "2024-01-30 00:00:00"

  /** Path of the STORED base rollup for `dir` — per event_type: row
    * count, raw value sum, and the HLL user sketch over the closed
    * period (ts < [[RollupDeltaStart]]). This parquet is the artifact
    * a nightly job persists; the apply step merges against it without
    * ever rescanning the closed days.
    */
  def ensureBaseRollup(spark: SparkSession, dir: String): String = {
    // _d6 suffix: artifact format versioning — the round-9 decimal
    // sum changed the stored schema, and a stale double-summed base
    // from an earlier build must not satisfy the _SUCCESS check.
    // Root + marker probe ride StorageOps' Hadoop-FS helpers
    // (round 11): a java.io.File check against the driver's local
    // disk could never see a cluster-side layout.
    val path = s"${StorageOps.layoutBase(spark, dir)}/rollup_base_d6"
    StorageOps.layout(spark, path) {
      Tables.load(spark, dir, "events")
        .filter(col("ts") < lit(RollupDeltaStart).cast("timestamp"))
        .groupBy(col("event_type"))
        // sum as DECIMAL(18,6): the artifact's sum and the delta's
        // sum are added in a DIFFERENT association order than any
        // single-pass sum over the same rows — exact decimal
        // accumulation makes split+merge ≡ one pass by construction
        // (double sums could land on opposite sides of a half-cent
        // rounding boundary; ExtendedRelational.scala's decimal
        // precedent)
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"),
          hll_sketch_agg(col("user_id"), lit(HllLgK)).as("sk"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Incremental rollup apply (q141): yesterday's stored aggregate +
    * today's delta → today's aggregate, with the CLOSED history never
    * rescanned. Every column of the artifact is a mergeable summary —
    * counts and sums add, the distinct-user HLL sketches union — so
    * the apply step's cost is O(|delta| + |artifact|) regardless of
    * how much history the artifact summarizes. At 100 TB this is the
    * difference between an O(day) nightly rollup job and an O(corpus)
    * one; it is also why the artifact stores the HLL sketch rather
    * than a distinct COUNT — counts don't merge, sketches do.
    *
    * Output carries the exact full-window companions the oracle can
    * recompute (count / sum / exact distinct — the last is the
    * test-scale audit; production reads the estimate) plus one
    * in-engine merged-vs-exact audit flag PER COLUMN FAMILY, each
    * oracle-asserted TRUE (the q43/q122 discipline — the contract is
    * stated in the engine, not implied by the compare):
    *   - `merged_ok`: the unioned sketch's estimate within 5% of the
    *     exact distinct count (>6σ at lgK=14);
    *   - `sum_merged_ok`: the split+merge decimal sum EQUALS the
    *     single-pass sum over the full window — exact equality, the
    *     decimal accumulation guarantee by construction;
    *   - `union_lossless_ok`: the merged sketch holds the SAME
    *     register content as the single-pass sketch — same-lgK HLL
    *     union is register-lossless, so mergeability costs zero
    *     accuracy, not merely "within epsilon". Compared by pushing
    *     BOTH sketches through one extra self-union so both estimates
    *     come from the identical (composite) estimator path: a raw
    *     estimate compare would be flaky because DataSketches uses the
    *     HIP estimator for directly-updated sketches but the composite
    *     estimator for union results, and those can differ over
    *     identical data (round-10 advice). Equal canonicalized
    *     estimates ⟺ equal registers in both directions, since union
    *     takes the per-register max.
    */
  def incrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(ensureBaseRollup(spark, dir))
      .withColumnsRenamed(Map("n_events" -> "n_base",
        "sum_value" -> "sum_base", "sk" -> "sk_base"))
    val ev = Tables.load(spark, dir, "events")
    val delta = ev
      .filter($"ts" >= lit(RollupDeltaStart).cast("timestamp"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_delta"),
        sum($"value".cast("decimal(18,6)")).as("sum_delta"), // same exact type as the artifact
        hll_sketch_agg($"user_id", lit(HllLgK)).as("sk_delta"))
    val applied = base.join(delta, Seq("event_type"), "full_outer")
      .select($"event_type",
        (coalesce($"n_base", lit(0L)) + coalesce($"n_delta", lit(0L)))
          .as("n_events"),
        (coalesce($"sum_base", lit(0).cast("decimal(18,6)")) +
          coalesce($"sum_delta", lit(0).cast("decimal(18,6)")))
          .as("sum_raw"),
        when($"sk_base".isNotNull && $"sk_delta".isNotNull,
          hll_union($"sk_base", $"sk_delta"))
          .otherwise(coalesce($"sk_base", $"sk_delta")).as("sk"))
    // audit companion: the exact full-window answer (test-scale only —
    // production's answer IS the estimate; the oracle needs exactness)
    val exact = ev.groupBy($"event_type")
      .agg(count_distinct($"user_id").as("exact_users"),
        sum($"value".cast("decimal(18,6)")).as("sum_single"),
        hll_sketch_agg($"user_id", lit(HllLgK)).as("sk_single"))
    applied.join(exact, Seq("event_type"))
      .select($"event_type", $"n_events",
        // round the EXACT decimal, then cast for oracle schema parity
        round($"sum_raw", 2).cast("double").as("sum_value"), $"exact_users",
        (abs(hll_sketch_estimate($"sk") - $"exact_users") <=
          $"exact_users" * 0.05).as("merged_ok"),
        ($"sum_raw" === $"sum_single").as("sum_merged_ok"),
        (hll_sketch_estimate(hll_union($"sk", $"sk")) ===
          hll_sketch_estimate(hll_union($"sk_single", $"sk_single")))
          .as("union_lossless_ok"))
      .orderBy($"event_type")
  }

  private def oracleIncrementalRollup: String =
    """SELECT event_type, count(*)::BIGINT AS n_events,
      |  round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value,
      |  count(DISTINCT user_id)::BIGINT AS exact_users,
      |  TRUE AS merged_ok, TRUE AS sum_merged_ok, TRUE AS union_lossless_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_hll_distinct_rollup" -> (hllDistinctRollup _),
    "q132_theta_vocab_overlap" -> (thetaVocabOverlap _),
    "q133_kll_quantile_rollup" -> (kllQuantileRollup _),
    "q141_incremental_rollup" -> (incrementalRollup _),
  )

  val oracles: Map[String, String] = Map(
    "q130_hll_distinct_rollup" -> oracleHllRollup,
    "q132_theta_vocab_overlap" -> oracleThetaOverlap,
    "q133_kll_quantile_rollup" -> oracleKllRollup,
    "q141_incremental_rollup" -> oracleIncrementalRollup,
  )
}
