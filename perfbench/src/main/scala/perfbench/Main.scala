package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One operation of a pass: a catalog query or a migration step.
  * `run(pass)` performs it and returns the rows it committed to its
  * sink, or -1 when the rows are counted from the output afterwards.
  */
final case class Op(name: String, sink: String, run: Int => Long)

final case class OpRec(pass: Int, name: String, sink: String, ms: Double, rows: Long,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** What one workload contributes to a run. */
trait Workload {
  /** Resolves the workload's inputs; timed as part of set-up. */
  def resolve(spark: SparkSession): Unit
  def ops(spark: SparkSession): Seq[Op]
  /** Runs before each pass, outside the timing. */
  def reset(spark: SparkSession, pass: Int): Unit = ()
  /** Checks one pass's outputs, outside the timing; returns the records
    * with failed checks marked.
    */
  def check(spark: SparkSession, recs: Seq[OpRec]): Seq[OpRec] = recs
  /** Directories the ops of pass `pass` write their output to. */
  def sinkRoots(pass: Int): Seq[String]
  /** The oracle SQL of each op, for the caller's output check. */
  def oracles: Map[String, String] = Map.empty
}

final case class PassRec(pass: Int, traced: Boolean, wallS: Double, heapMb: Double,
    ops: Seq[OpRec], layers: Map[String, Double])

/** Drives one benchmark run inside one JVM: set-up (from JVM start to
  * the first op), one cold pass, one warm pass for the JIT, then warm
  * passes until `seconds` of them have been measured. Results go to
  * `<runDir>/result.json`, spans (traced runs) to `<runDir>/spans.jsonl`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --run-dir DIR --cores N
  */
object Main {
  /** Warm passes run at least this often, however long they take: one
    * that warms the JIT and is not measured, then two measured ones.
    */
  val WarmPasses = 3
  /** Warm passes of a traced run: one that warms the JIT, then untraced
    * and traced passes in turn, U T U T U.
    */
  val TracedWarmPasses = 6

  /** Whether warm pass `p` of a traced run is traced. Pass 1 is still on
    * the JIT's slope and is never traced nor measured; after it every
    * traced pass has an untraced pass on either side.
    */
  def tracedPass(p: Int): Boolean = p >= 3 && p % 2 == 1

  /** Waits until the listener bus has delivered every event posted so far. */
  def drainBus(spark: SparkSession): Unit = Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = new File(a("data")).getAbsolutePath
    val runDir = new File(a("run-dir")).getAbsolutePath
    val cores = a("cores").toInt
    val tr = new Tracer
    val listener = new LayerListener
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var setupS = 0.0
    var setupLayers = Map.empty[String, Double]
    var coldArtifacts = Map.empty[String, Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var fatal: Option[String] = None

    def writeResult(): Unit = {
      val passJson = passes.toSeq.map { p =>
        Json.obj(Seq(
          "pass" -> p.pass.toString, "traced" -> p.traced.toString,
          "wall_s" -> Json.num(p.wallS), "heap_mb" -> Json.num(p.heapMb),
          "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "ops" -> Json.arr(p.ops.map(o => Json.obj(Seq(
            "name" -> Json.str(o.name), "sink" -> Json.str(o.sink), "ms" -> Json.num(o.ms),
            "rows" -> o.rows.toString,
            "error" -> o.error.map(Json.str).getOrElse("null")))))))
      }
      val oracleJson = Option(wl).map(w =>
        Json.obj(w.oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
        .getOrElse("{}")
      val out = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
        "setup_s" -> Json.num(setupS),
        "setup_layers" -> Json.obj(setupLayers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "artifacts" -> Json.obj(coldArtifacts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "passes" -> Json.arr(passJson),
        "oracles" -> oracleJson,
        "fatal" -> fatal.map(Json.str).getOrElse("null")))
      Files.writeString(Paths.get(runDir, "result.json"), out)
      if (trace) Files.write(Paths.get(runDir, "spans.jsonl"),
        (tr.toJsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    try {
      tr.on = trace
      tr.span("run") {
        tr.span(s"workload:$workload") {
          // ---- set-up, from JVM start: session build plus input resolution ----
          val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
          spark = buildSession(runDir, cores)
          tr.bind(spark.sparkContext)
          if (trace) spark.sparkContext.addSparkListener(listener)
          wl = workloadFor(workload, data, runDir, seed, tr)
          tr.span("setup") { wl.resolve(spark) }
          setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
          if (trace) {
            drainBus(spark)
            val snap = listener.take()
            val loads = tr.descendants(tr.spans.last.id).filter(_.name == "tables.load")
            val loadIds = loads.map(_.id).toSet
            setupLayers = Map(
              "tables.load_ms" -> loads.map(_.durUs).sum / 1e3,
              "tables.load_jobs" -> snap.jobs.count(j => loadIds(j.span)).toDouble)
            spark.sparkContext.removeSparkListener(listener)
          }
          val ops = wl.ops(spark)

          // ---- passes: one cold, one for the JIT, then warm until `seconds` measured ----
          def runPass(p: Int, traced: Boolean): Unit = {
            wl.reset(spark, p)
            tr.on = traced
            if (traced) spark.sparkContext.addSparkListener(listener)
            val t0 = System.nanoTime()
            val recs = tr.span(s"pass:$p") {
              ops.map(op => runOp(op, p, tr))
            }
            val wall = (System.nanoTime() - t0) / 1e9
            val passSpan = if (traced) Some(tr.spans.last) else None
            val layers = passSpan.map { ps =>
              drainBus(spark)
              spark.sparkContext.removeSparkListener(listener)
              Layers.of(tr, ps, listener.take(), recs, cores, Layers.bytesUnder(wl.sinkRoots(p)))
            }.getOrElse(Map.empty)
            tr.on = trace
            val c0 = System.nanoTime()
            val checked = wl.check(spark, recs)
            System.err.println(f"[perfbench] pass $p: $wall%.2f s, checked in ${(System.nanoTime() - c0) / 1e9}%.2f s")
            System.gc()
            val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
            passes += PassRec(p, traced, wall, heap / (1024.0 * 1024.0), checked, layers)
          }
          runPass(0, traced = trace)
          // artifacts the library built: pins, layouts (some land under the
          // working directory's target/) and catalog tables
          if (trace) coldArtifacts = Layers.artifacts(
            Seq("artifacts", "target", "warehouse").map(d => s"$runDir/$d"))
          var measured = 0.0
          var p = 1
          // the gap between a traced pass and its untraced neighbours is
          // the tracing overhead; a traced run ends on an untraced pass
          val minPasses = if (trace) TracedWarmPasses else WarmPasses
          while (measured < seconds || p <= minPasses || (trace && tracedPass(p - 1))) {
            runPass(p, traced = trace && tracedPass(p))
            if (p > 1) measured += passes.last.wallS
            p += 1
          }
        }
      }
    } catch {
      case e: Throwable =>
        fatal = Some(Failure.describe(e))
        System.err.println(s"[perfbench] FATAL in workload $workload: ${fatal.get}")
        System.err.println(s"[perfbench] completed ops before the failure: " +
          passes.map(p => s"pass ${p.pass}: ${p.ops.map(_.name).mkString(",")}").mkString("; "))
    }
    try writeResult()
    catch { case NonFatal(e) => System.err.println(s"[perfbench] cannot write result: ${Failure.describe(e)}") }
    try if (spark != null) spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[perfbench] spark.stop failed: ${Failure.describe(e)}") }
    System.exit(if (fatal.isEmpty) 0 else 1)
  }

  /** Runs one op, timing it; a NonFatal throw is recorded with its cause
    * and the run goes on.
    */
  def runOp(op: Op, pass: Int, tr: Tracer): OpRec = {
    val t0 = System.nanoTime()
    val (rows, err) =
      try (tr.span(s"op:${op.name}")(op.run(pass)), None)
      catch {
        case NonFatal(e) =>
          val d = Failure.describe(e)
          System.err.println(s"[perfbench] op ${op.name} (pass $pass) failed: $d")
          (0L, Some(d))
      }
    OpRec(pass, op.name, op.sink, (System.nanoTime() - t0) / 1e6, rows, err)
  }

  def buildSession(runDir: String, cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Tables.configure(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config(graft.core.Pin.RootConfKey, s"$runDir/artifacts/pins")
      .config(graft.operators.StorageOps.RootConfKey, s"$runDir/artifacts/layout"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workloadFor(name: String, data: String, runDir: String, seed: Long, tr: Tracer): Workload =
    name match {
      case "catalog" => new QueryWorkload(Workloads.Catalog, data, runDir, seed, tr)
      case "migrate" => new MigrateWorkload(data, runDir, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

object Failure {
  /** Exception class, message and first stack frame. */
  def describe(e: Throwable): String = {
    val frame = e.getStackTrace.headOption.map(_.toString).getOrElse("no frame")
    val msg = Option(e.getMessage).map(_.linesIterator.take(3).mkString(" | ")).getOrElse("")
    s"${e.getClass.getName}: $msg at $frame"
  }
}

object Workloads {
  /** A fixed sample of the catalog: a grouped aggregate, the reference's
    * key merge with overwrite, a query whose construction fires eager
    * driver jobs, and IVF vector search over pinned centroids (an
    * artifact the cold pass builds).
    */
  val Catalog: Seq[String] = Seq(
    "q02_agg_groupby", "q09_merge_overwrite", "q56_revenue_by_nation", "q62_ann_ivf")
}

/** Catalog queries over one corpus directory. Each op builds the query's
  * DataFrame and writes the whole result as parquet under
  * `<runDir>/out/p<pass>/<name>`; the caller checks it against the
  * oracle. Op order is shuffled by the seed.
  */
final class QueryWorkload(names: Seq[String], dir: String, runDir: String, seed: Long, tr: Tracer)
    extends Workload {
  private val fns = SparkEntry.queries

  def resolve(spark: SparkSession): Unit = tr.span("tables.load") {
    Tables.All.foreach(t => Tables.load(spark, dir, t).schema)
  }

  def ops(spark: SparkSession): Seq[Op] =
    new scala.util.Random(seed).shuffle(names).map { name =>
      val fn = fns.getOrElse(name, throw new NoSuchElementException(s"no catalog query $name"))
      Op(name, "parquet", pass => {
        val df = tr.span("construct")(fn(spark, dir))
        if (tr.on) Layers.forcePhases(tr, df)
        tr.span("execute")(df.write.mode("overwrite").parquet(s"$runDir/out/p$pass/$name"))
        -1L
      })
    }

  def sinkRoots(pass: Int): Seq[String] = Seq(s"$runDir/out/p$pass")

  override def oracles: Map[String, String] = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
}
