package graft.core

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge

/** The `Migration` pipeline (SURVEY.md §3.1, `d22d/task.py:31-170`)
  * re-expressed as one declarative plan:
  *
  *   read → transform (P3) → dedup (P4) → limit (P5) → write (P8)
  *
  * What the reference does imperatively — window buffering, per-batch
  * retry, progress ETA — collapses into Spark: pipelining is whole-stage
  * codegen, retry is task/stage re-execution (kept safe by idempotent
  * [[WriteMode]]s), progress is the Spark UI / listener bus. The
  * per-table loop over `get_indexes()` (P1, `d22d/task.py:78-101`)
  * becomes [[runAll]] over the source catalog.
  *
  * Scale: the plan is a narrow map-only pipeline (no shuffle) unless
  * dedup is on — dropDuplicates shuffles once on the dedup keys, which
  * replaces the reference's unbounded driver-side `set` (OOM class
  * eliminated; spills instead).
  */
final case class MigrationJob(
    source: Connector,
    sink: Connector,
    transform: Transform = Transform.identity,
    dedup: Boolean = false,             // quchong (P4): whole-row distinct
    dedupCols: Seq[String] = Nil,       // or keyed distinct
    limit: Option[Int] = None,          // size (P5)
    mode: WriteMode = WriteMode.Append,
    createDdl: Option[(DataFrame, String) => Unit] = None, // P7 hook: DDL emission before first write
) {

  /** Copy one table (`run_one` analog). Returns the rows this step sent
    * to the sink: for Overwrite that is the new table, for Append or an
    * upsert into an existing table it is the batch, not the table total.
    *
    * The rows are counted while the sink writes them: the sink gets the
    * frame with an [[Observation]] attached, and once `write` returns the
    * listener bus is drained so the observation has landed. Nothing is
    * read back. When the observation is absent, empty or 0 — a lazy sink
    * such as [[MemConnector]], a sink that re-plans the frame in a cloned
    * session, an empty batch — the frame is counted by itself instead.
    */
  def runOne(spark: SparkSession, from: String, to: String): Long = {
    var df = transform(source.read(spark, from))
    if (dedup) df = if (dedupCols.nonEmpty) df.dropDuplicates(dedupCols) else df.dropDuplicates()
    limit.foreach(n => df = df.limit(n))
    createDdl.foreach(f => f(df, to))
    val sent = Observation()
    sink.write(df.observe(sent, count(lit(1))), to, mode)
    // a bus still busy after a minute leaves the frame to be counted below
    try Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
    sent.future.value.flatMap(_.toOption).filter(_.length > 0).map(_.getLong(0))
      .filter(_ > 0).getOrElse(df.count())
  }

  /** Whole-database copy (P1): every index in the source catalog, with
    * optional per-table rename.
    */
  def runAll(spark: SparkSession, renames: Map[String, String] = Map.empty): Map[String, Long] =
    source.listIndexes(spark).map { idx =>
      val to = renames.getOrElse(idx, idx)
      idx -> runOne(spark, idx, to)
    }.toMap
}
