package perfbench

import graft.core.{Connector, WriteMode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One timed interval of the traced run. Times are epoch microseconds;
  * `parent` is 0 for the root.
  */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Tracer {
  /** Local property carrying the innermost open span id, so the listener
    * can attribute each Spark job to the span whose call submitted it.
    */
  val SpanKey = "perfbench.span"

  /** Self time: the span's duration minus the union of the intervals its
    * children cover (clipped to the span).
    */
  def selfUs(span: Span, children: Seq[Span]): Long =
    span.durUs - unionLength(children.map(c =>
      (math.max(c.startUs, span.startUs), math.min(c.endUs, span.endUs))))

  /** Length of the union of [start, end] intervals; empty ones count 0. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Records spans in memory, on the driver thread. While `on` is false
  * every `span` call only runs its body.
  */
final class Tracer {
  var on: Boolean = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 1
  private var sc: Option[SparkContext] = None
  /** Id of the span closed last. */
  var lastId: Int = 0

  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = baseUs + System.nanoTime() / 1000
  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  def bind(ctx: SparkContext): Unit = { sc = Some(ctx); setProp(current) }

  private def setProp(id: Int): Unit =
    sc.foreach(_.setLocalProperty(Tracer.SpanKey, if (id == 0) null else id.toString))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack = (id, nowUs) :: stack
      setProp(id)
      try body
      finally {
        val start = stack.head._2
        stack = stack.tail
        spans += Span(id, parent, name, start, nowUs)
        lastId = id
        setProp(current)
      }
    }

  /** Adds a span measured elsewhere (a Catalyst phase, a Spark job or
    * stage) and returns its id.
    */
  def add(parent: Int, name: String, startUs: Long, endUs: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, startUs, endUs)
    id
  }

  def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Spans whose ancestors include `root` (not `root` itself). */
  def descendants(root: Int): Seq[Span] = {
    val kids = children
    def walk(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    walk(root)
  }

  def toJsonLines: Iterator[String] = spans.iterator.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}""")
}

final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, attempt: Int, submitMs: Long, endMs: Long)
final case class TaskRec(stageId: Int, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    schedDelayMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    peakExecMem: Long, bytesWritten: Long, failed: Boolean)
final case class ListenerSnapshot(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec])

/** Collects job, stage and task events. Readers drain the listener bus
  * first (`Main.drainBus`), then `take()` the
  * events seen so far.
  */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks += TaskRec(e.stageId, info.duration, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed)
    else {
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
      tasks += TaskRec(e.stageId, info.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        math.max(0L, sched), m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.peakExecutionMemory, m.outputMetrics.bytesWritten, failed)
    }
  }

  def take(): ListenerSnapshot = synchronized {
    val s = ListenerSnapshot(jobs.values.toSeq, stages.toSeq, tasks.toSeq)
    jobs.clear(); stages.clear(); tasks.clear()
    s
  }
}

object ExecStats {
  private val MB = 1024.0 * 1024.0

  /** The `exec.*` metrics of one pass; `cores` sizes core utilisation. */
  def of(s: ListenerSnapshot, cores: Int): Map[String, Double] = {
    val ts = s.tasks
    val taskMs = ts.map(_.runMs).sum.toDouble
    val jobWall = Tracer.unionLength(s.jobs.map(j => (j.startMs, j.endMs))).toDouble
    val stageTasks = ts.groupBy(_.stageId)
    val skew = stageTasks.values.filter(g => g.size >= 4 && g.map(_.durationMs).max >= 50).map { g =>
      val d = g.map(_.durationMs.toDouble).sorted
      d.last / math.max(median(d), 1.0)
    }
    Map(
      "exec.jobs" -> s.jobs.size.toDouble,
      "exec.stages" -> s.stages.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_ms" -> taskMs,
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.sched_delay_ms" -> ts.map(_.schedDelayMs).sum.toDouble,
      "exec.core_util" -> (if (jobWall > 0) taskMs / (jobWall * cores) else 0.0),
      "exec.failed_tasks" -> ts.count(_.failed).toDouble,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleReadBytes).sum / MB,
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / MB,
      "exec.spill_mb" -> ts.map(_.spillBytes).sum / MB,
      "exec.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakExecMem).max / MB),
      "exec.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
    )
  }

  def median(sorted: Seq[Double]): Double = {
    val n = sorted.size
    if (n == 0) 0.0 else if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }
}

/** Wraps a [[Connector]] so each read and write is a span named after
  * the layer it belongs to: `<layer>.read`, and `<layer>.<writeKind>`
  * for writes.
  */
final case class TimedConnector(inner: Connector, layer: String, tr: Tracer,
    writeKind: WriteMode => String = _ => "write") extends Connector {
  def name: String = inner.name
  def read(spark: SparkSession, index: String): DataFrame =
    tr.span(s"$layer.read")(inner.read(spark, index))
  def write(df: DataFrame, index: String, mode: WriteMode): Unit =
    tr.span(s"$layer.${writeKind(mode)}")(inner.write(df, index, mode))
  def listIndexes(spark: SparkSession): Seq[String] = inner.listIndexes(spark)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
