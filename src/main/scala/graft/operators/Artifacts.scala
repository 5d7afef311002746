package graft.operators

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The session-shared ingest artifacts — pins, session caches,
  * storage layouts and catalog tables — each declared ONCE: a name,
  * the declared artifacts its build reads, and a builder that forces
  * the operator's own pin/cache/`ensure*` function. Operators never need this list:
  * every artifact still builds lazily on its first consumer. The list
  * exists so a harness can build them all up front ([[walk]]) and bill
  * the one-time cost to its own line item — left cold, the FIRST
  * query to touch an artifact is billed its whole build, so per-query
  * numbers flap with run order, and min-of-N then strips the build
  * from every reported number.
  *
  * Builders share ONE session concurrently, so they must not mutate
  * its conf: a conf-setting path derives a private cloned session (the
  * layouts' `withMicrosTimestamps`). [[walk]] checks this.
  */
object Artifacts {

  /** One declared artifact. `reads` names artifacts declared EARLIER
    * in the same list whose output this build consumes (a cached plan
    * it re-reads, a pin or layout it copies). Every builder goes
    * through a [[graft.core.Memo]], so builds of different artifacts
    * never wait on each other.
    */
  final case class Artifact(name: String, reads: Seq[String],
      build: (SparkSession, String) => Unit)

  /** What [[walk]] did with one artifact. */
  sealed trait Outcome
  final case class Built(sec: Double) extends Outcome
  final case class Failed(cause: Throwable) extends Outcome
  /** Not attempted: `failedReads` failed or were skipped themselves. */
  final case class Skipped(failedReads: Seq[String]) extends Outcome

  private def artifact(name: String, reads: String*)(
      build: (SparkSession, String) => Any): Artifact =
    Artifact(name, reads, (s, d) => { build(s, d); () })

  /** Every session-shared artifact, in dependency order. The order is
    * also the walk's priority: the StorageOps layouts are the largest
    * builds, and `erased_layout` waits on `event_layouts`, so that
    * chain starts first.
    */
  val All: Seq[Artifact] = Seq(
    artifact("event_layouts")(StorageOps.ensureEventLayouts),
    artifact("erased_layout", "event_layouts")(StorageOps.ensureErasedLayout),
    artifact("merged_layout")(StorageOps.ensureMergedLayout),
    artifact("bucketed_tables")(StorageOps.ensureBucketed),
    artifact("sorted_lineitem")(StorageOps.ensureSortedLineitem),
    artifact("audit_dim")(StorageOps.ensureAuditDim),
    artifact("zorder_lineitem")(StorageOps.ensureZorderLineitem),
    artifact("bloom_lineitem")(StorageOps.ensureBloomLineitem),
    artifact("manifested_events")(StorageOps.ensureManifestedEvents),
    // q21/q78/q90/q128 signatures + verify; every shingle pin reads it
    artifact("shingle_index")(TextDedup.shingleIndex(_, _).cache().count()),
    artifact("minhash_bands", "shingle_index")(TextDedup.minhashBandsPin(_, _).count()),
    artifact("eval_shingles", "shingle_index")(TextDedup.evalShinglePin(_, _).count()),
    artifact("pair_table", "shingle_index")(TextDedup.cappedRawPairs(_, _).count()),
    artifact("pair_list", "pair_table")(TextDedup.pairListPin(_, _).count()),
    artifact("kmeans_fit")(CorpusOps.kmeansFit(_, _)._2.count()),
    artifact("pq_artifacts")(CorpusOps.pqAdcRanked(_, _, 1).count()),
    artifact("two_stage_ann")(CorpusOps.twoStageCandidates(_, _).count()),
    artifact("int8_store")(
      CorpusOps.int8Quantized(_, _, "c_id", "c", isQuery = false).count()),
    artifact("ivf_centroids")(Similarity.ivfCentroidsPin(_, _).count()),
    artifact("ann_exact3")(CorpusOps.annExact3Pin(_, _).count()),
    artifact("span_grams")(SpanOps.grams(_, _).count()),
    artifact("eval_grams", "span_grams")(SpanOps.evalGramsPin(_, _).count()),
    artifact("textrank_edges")(TextAnalysis.textrankEdgesPin(_, _).count()),
    artifact("vocab_index")(CorpusOps.sourceShingleIndex(_, _).count()),
    artifact("dsir_features")(CorpusOps.dsirFeatures(_, _).count()),
    artifact("base_rollup")(SketchOps.ensureBaseRollup),
    artifact("catalog_orders")(CatalogOps.ensureTable),
    artifact("catalog_widen")(CatalogOps.ensureWidenTable))

  /** Concurrent builds: the artifacts are chains of small stages that
    * each leave most cores idle, and overlapping four measured ~2x
    * faster than building them one by one.
    */
  private val PoolSize = 4

  /** Build `artifacts` for (`spark`, `dir`) on a fixed pool of
    * [[PoolSize]] threads. An artifact starts only once everything it
    * reads is built, so no thread ever waits on another build; among
    * the ready ones the earliest declared goes first. A failure is
    * recorded with its cause and its dependents are skipped, naming
    * what they read. Returns each
    * artifact's outcome in declaration order. Throws when the list is
    * malformed (a name declared twice, a read not declared before its
    * reader) or when the builds changed the session's conf, naming the
    * keys.
    */
  def walk(spark: SparkSession, dir: String,
      artifacts: Seq[Artifact] = All): Seq[(String, Outcome)] = {
    val names = artifacts.map(_.name)
    require(names.distinct.size == names.size,
      s"artifacts declared twice: ${names.diff(names.distinct).distinct.mkString(", ")}")
    artifacts.zipWithIndex.foreach { case (a, i) =>
      val undeclared = a.reads.filterNot(names.take(i).contains)
      require(undeclared.isEmpty,
        s"${a.name} reads ${undeclared.mkString(", ")}, not declared before it")
    }
    val confBefore = spark.conf.getAll
    val outcomes = scala.collection.mutable.Map.empty[String, Outcome]
    val pool = Executors.newFixedThreadPool(PoolSize)
    val done = new ExecutorCompletionService[(String, Outcome)](pool)
    def run(a: Artifact): (String, Outcome) = {
      val t0 = System.nanoTime()
      val outcome =
        try { a.build(spark, dir); Built((System.nanoTime() - t0) / 1e9) }
        catch { case NonFatal(e) => Failed(e) }
      a.name -> outcome
    }
    try {
      var pending = artifacts
      var running = 0
      while (pending.nonEmpty || running > 0) {
        // in declaration order, so a skip propagates down the list
        pending = pending.filter { a =>
          val failedReads = a.reads.filter(r => outcomes.get(r).exists(!_.isInstanceOf[Built]))
          if (failedReads.nonEmpty) outcomes(a.name) = Skipped(failedReads)
          failedReads.isEmpty
        }
        val ready = pending.filter(_.reads.forall(outcomes.contains)).take(PoolSize - running)
        ready.foreach(a => done.submit(() => run(a)))
        running += ready.size
        pending = pending.filterNot(ready.contains)
        if (running > 0) {
          val (name, outcome) =
            try done.take().get()
            catch { case e: ExecutionException => throw e.getCause } // fatal
          outcomes(name) = outcome
          running -= 1
        }
      }
    } finally pool.shutdown()
    val confAfter = spark.conf.getAll
    val changed = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k))
    if (changed.nonEmpty) throw new IllegalStateException(
      s"artifact builds changed the shared session's conf: ${changed.toSeq.sorted.mkString(", ")}")
    names.map(n => n -> outcomes(n))
  }
}
