package graft.operators

import graft.{SparkSpec, SparkEntry}
import graft.tools.ScaleFixture
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable

/** Skew robustness under a Zipf hot key: a corpus where 30% of ALL
  * documents share one viral boilerplate template concentrates a
  * single shingle/gram/word key. The df-capped and sketch families
  * must hold their shapes — work stays balanced across tasks (no
  * straggler), because the df-cap drops the hot shingles from pair
  * expansion, partial aggregation collapses the hot key map-side, and
  * the MG sketch never ships the domain at all. Measured with a task
  * listener on a real generated fixture, not argued from the plan.
  */
class SkewRobustnessSpec extends SparkSpec {

  private lazy val skewDir: String = {
    val d = tmpDir("skew-fixture") + "/sf"
    // corpus tables only: the spec reads documents exclusively, and
    // replicating 600k lineitems per CI run would be pure overhead
    ScaleFixture.scale(spark, "/root/testdata/sf0.1", d, 3, 30, scaleTpch = false)
    d
  }

  private final class TaskStats extends SparkListener {
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // stage -> ms
    var shuffleRecords = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      durations.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
      if (t.taskMetrics != null)
        shuffleRecords += t.taskMetrics.shuffleWriteMetrics.recordsWritten
    }
  }

  /** Listener events are async: drain the bus before attaching and
    * after the action, so no earlier job's TaskEnd is counted and every
    * TaskEnd of the action has landed before the assertions read the maps.
    */
  private def withStats[A](action: => A): (A, TaskStats) = {
    val stats = new TaskStats
    Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
    spark.sparkContext.addSparkListener(stats)
    try {
      val a = action
      Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
      (a, stats)
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  test("fixture really is skewed: the viral template owns ~30% of all documents") {
    val docs = graft.Tables.load(spark, skewDir, "documents")
    val n = docs.count()
    val hot = docs.filter(org.apache.spark.sql.functions.col("text")
      .startsWith("spark batch value sort")).count()
    assert(n == 15000, s"3x sf0.1 corpus expected, got $n")
    assert(hot >= (n * 0.25).toLong && hot <= (n * 0.35).toLong,
      s"template share off: $hot / $n")
  }

  test("q61 and q117 stay task-balanced under the hot key: no straggler >5x stage median") {
    for (q <- Seq("q61_dedup_jaccard_dfcap", "q117_dup_spans")) {
      val (_, stats) = withStats { SparkEntry.queries(q)(spark, skewDir).count() }
      val stages = stats.synchronized(stats.durations.toMap)
      assert(stages.nonEmpty, s"$q: no stages observed")
      // only stages where a straggler could hide: enough tasks to
      // compare and enough absolute work that scheduler jitter isn't
      // the signal (a genuine hot-key straggler lands in SECONDS)
      val candidates = stages.filter { case (_, ds) => ds.size >= 4 && ds.max >= 500 }
      candidates.foreach { case (stage, ds) =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).toDouble
        assert(ds.max <= 5.0 * math.max(med, 100.0),
          s"$q stage $stage has a straggler: max=${ds.max}ms median=${med}ms tasks=${ds.size}")
      }
      // non-vacuity: the run must have done real distributed work
      val totalMs = stages.values.map(_.sum).sum
      assert(totalMs > 2000, s"$q: too little task time (${totalMs}ms) to judge balance")
      assert(stages.values.exists(_.size >= 4), s"$q: no multi-task stage observed")
    }
  }

  test("q38's bucket key splits a hot user: per-key pair work bounded by the window") {
    // a bot user owning 30% of all events is to the user-keyed range
    // join what the viral template is to the pair-listing dedups: the
    // naive per-key cost is |views_bot| x |purchases_bot|. The bucket
    // key splits that user across ~every 5-minute bucket, so the
    // bucketed plan's pair work per (user, bucket) is bounded by the
    // window's density no matter how hot the user is.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 60000
    val hot = (n * 3) / 10
    // hot user 0: events every ~145 ms across 30 days; the rest spread
    // over 1500 users. Deterministic types: alternate view/purchase.
    val base = 1704067200000000L // 2024-01-01 micros
    val span = 30L * 86400 * 1000000 // 30 days in micros
    val ev = spark.range(0, n).select(
      $"id".as("event_id"),
      when($"id" < hot, 0L).otherwise(pmod($"id", lit(1500L))).as("user_id"),
      timestamp_micros(lit(base) + pmod($"id" * lit(2654435761L), lit(span))).as("ts"),
      when(pmod($"id", lit(2L)) === 0, "view").otherwise("purchase").as("event_type"))
    val dir = tmpDir("q38-skew")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (rows, stats) = withStats {
      ExtendedRelational.rangeJoinFunnel(spark, dir).collect()
    }
    assert(rows.nonEmpty)
    // the hot user produced pairs (sanity: the fixture exercised it)
    assert(rows.exists(_.getLong(0) == 0L), "hot user fell out of the result")
    // no straggler: in every >=0.5s stage, max task <= 5x stage median
    stats.durations.values.filter(_.sum >= 500).foreach { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2).max(1L)
      assert(sorted.last <= 5 * med,
        s"straggler under hot user: max ${sorted.last} ms vs median $med ms")
    }
  }

  test("q122's sketch ships O(m) state through the shuffle; the exact path ships the domain") {
    import org.apache.spark.sql.functions._
    val words = graft.Tables.load(spark, skewDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    // MG path: ONE sketch row per map partition crosses the shuffle
    val (_, mg) = withStats {
      words.agg(graft.functions.MisraGriesAgg.column(8)(col("w"))).head()
    }
    // exact path: every distinct (partition, word) survives the
    // map-side combine and crosses — the domain, not the sketch
    val (_, exact) = withStats {
      words.groupBy(col("w")).count().orderBy(desc("count")).limit(8).collect()
    }
    assert(mg.shuffleRecords > 0 && exact.shuffleRecords > 0, "both paths must shuffle")
    assert(mg.shuffleRecords * 5 <= exact.shuffleRecords,
      s"sketch should shuffle far less than exact: mg=${mg.shuffleRecords} exact=${exact.shuffleRecords}")
    // the sketch's shuffle volume is bounded by partitions, not data
    assert(mg.shuffleRecords <= spark.sparkContext.defaultParallelism * 2,
      s"MG shuffle records should be O(partitions): ${mg.shuffleRecords}")
  }
}
