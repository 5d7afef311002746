package perfbench

import org.apache.spark.sql.DataFrame
import java.io.File

/** Turns one traced pass (its spans plus the listener's events) into the
  * per-layer metrics.
  */
object Layers {

  /** Forces the Catalyst phases of `df` one at a time, each as a span.
    * Analysis already ran while the DataFrame was built, so it is taken
    * from the plan's tracker and placed under the construct span that
    * closed last.
    */
  def forcePhases(tr: Tracer, df: DataFrame): Unit = {
    val constructId = tr.lastId
    val qe = df.queryExecution
    qe.tracker.phases.get("analysis").foreach { ph =>
      tr.add(constructId, "analyze", ph.startTimeMs * 1000, ph.endTimeMs * 1000)
    }
    tr.span("optimize")(qe.optimizedPlan)
    tr.span("physical")(qe.executedPlan)
  }

  /** Span names whose summed duration is a per-layer metric, with the
    * metric each feeds.
    */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "analyze" -> "plans.analyze_ms",
    "optimize" -> "plans.optimize_ms",
    "physical" -> "plans.physical_ms",
    "execute" -> "exec.ms",
    "core.file.read" -> "core.file.read_ms",
    "core.file.write" -> "core.file.write_ms",
    "core.file.merge" -> "core.file.merge_ms",
    "core.jdbc.read" -> "core.jdbc.read_ms",
    "core.jdbc.write" -> "core.jdbc.write_ms",
    "core.jdbc.upsert" -> "core.jdbc.upsert_ms",
    "sources.sqldump.read" -> "sources.sqldump.read_ms",
    "sources.sqldump.write" -> "sources.sqldump.write_ms",
    "merge.merge" -> "merge.merge_ms")

  /** Sink kinds whose committed rows are reported next to their timing. */
  val RowMetrics: Seq[(String, String)] = Seq(
    "core.file.write" -> "core.file.write_rows",
    "core.file.merge" -> "core.file.merge_rows",
    "core.jdbc.write" -> "core.jdbc.write_rows",
    "core.jdbc.upsert" -> "core.jdbc.upsert_rows",
    "sources.sqldump.write" -> "sources.sqldump.write_rows")

  def of(tr: Tracer, pass: Span, snap: ListenerSnapshot, recs: Seq[OpRec], cores: Int,
      sinkBytes: Double): Map[String, Double] = {
    val spans = tr.descendants(pass.id)
    val byName = spans.groupBy(_.name)
    def ms(name: String): Double = byName.getOrElse(name, Nil).map(_.durUs).sum / 1e3
    val construct = byName.getOrElse("construct", Nil)
    val constructIds = construct.map(_.id).toSet
    val kids = tr.children
    val recount = byName.getOrElse("core.migration.run", Nil)
      .map(s => Tracer.selfUs(s, kids.getOrElse(s.id, Nil))).sum / 1e3
    val ops = math.max(recs.size, 1)

    // job and stage spans, for the span file
    val stageEnds = snap.stages.groupBy(_.stageId)
    snap.jobs.foreach { j =>
      val jobId = tr.add(if (j.span == 0) pass.id else j.span, s"job:${j.jobId}",
        j.startMs * 1000, j.endMs * 1000)
      j.stageIds.flatMap(stageEnds.getOrElse(_, Nil)).foreach { st =>
        tr.add(jobId, s"stage:${st.stageId}.${st.attempt}", st.submitMs * 1000, st.endMs * 1000)
      }
    }

    val exec = ExecStats.of(snap, cores)
    val bytesWritten = snap.tasks.map(_.bytesWritten).sum.toDouble
    val base = Map(
      "operators.construct_ms" -> (ms("construct") - ms("analyze")),
      "operators.construct_jobs" -> snap.jobs.count(j => constructIds(j.span)).toDouble,
      "exec.jobs_per_op" -> exec("exec.jobs") / ops,
      "core.migration.recount_ms" -> recount,
      "core.write_amp" -> (if (sinkBytes > 0) bytesWritten / sinkBytes else 0.0))
    val spanned = SpanMetrics.map { case (n, m) => m -> ms(n) }
    val rows = RowMetrics.map { case (kind, m) =>
      m -> recs.filter(r => r.sink == kind && r.rows > 0).map(_.rows).sum.toDouble
    }
    base ++ spanned ++ rows ++ exec
  }

  /** Bytes and files under the given roots. */
  def artifacts(roots: Seq[String]): Map[String, Double] = {
    val fs = files(roots)
    Map("artifacts.bytes" -> fs.map(_.length).sum.toDouble, "artifacts.files" -> fs.size.toDouble)
  }

  def bytesUnder(roots: Seq[String]): Double = files(roots).map(_.length).sum.toDouble

  private def files(roots: Seq[String]): Seq[File] = roots.flatMap(r => walk(new File(r)))

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f)
    else Nil
}
