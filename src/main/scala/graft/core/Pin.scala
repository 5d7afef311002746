package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable materialization pins — the cluster-safe replacement for
  * `localCheckpoint()` at the points where two consumers must read the
  * SAME materialization of a plan whose physical layout is not a pure
  * function of its input (sampled range-partition boundaries,
  * iterative model fits), and where that materialization must survive
  * executor loss.
  *
  * `localCheckpoint` truncates lineage and stores its blocks on
  * executors with NO replication: on a real cluster a lost executor
  * makes the pinned RDD unrecoverable mid-job — Spark cannot
  * recompute past a truncated lineage, so a 100 TB corpus build dies
  * hours in. Until round 9 the operators papered over this with a
  * scaladoc note ("on a cluster, persist to reliable storage
  * instead"); this object makes the contract code. [[shared]] writes
  * the frame ONCE per (session, name) to parquet under
  * `target/graft-layout/pins` — the same artifact root
  * [[graft.operators.StorageOps]] uses for its layouts, which on a
  * cluster is a path on the shared filesystem (HDFS/S3) — and hands
  * every consumer the re-read. Recomputation after ANY failure
  * re-reads identical bytes, so pinned partition ids, pair lists and
  * model rows cannot drift or vanish mid-job, and repeated calls in
  * one session (Bench iterations, multi-consumer funnels) reuse the
  * artifact instead of re-deriving it (the build-once [[Memo]]; the
  * session-shared pins are declared in [[graft.operators.Artifacts]]).
  *
  * Path semantics go through the Hadoop [[FileSystem]] API resolved
  * from the session's Hadoop conf for writing, pruning and the
  * heartbeat alike, so the relative `Root` means the SAME directory on
  * a cluster whose default FS is HDFS/S3 as it does locally — pruning
  * with `java.io.File` against the driver CWD would silently never see
  * cluster-side pins (round-9 ADVICE).
  *
  * == Session isolation ==
  * The on-disk path carries a session-unique component alongside the
  * caller's name: a random UUID assigned to the session on its first
  * pin. The memo is keyed by (session, name), and a second session in
  * the same JVM (or a concurrent JVM) building the same name must NOT
  * `mode(overwrite)` a directory another session's memoized DataFrame
  * still lazily reads — `identityHashCode` (used before round 10) is
  * not guaranteed distinct across live sessions, a UUID is.
  *
  * == Pruning and the heartbeat ==
  * Stale directories from past JVMs are pruned lazily (untouched for
  * longer than [[PruneAfterMs]]) the first time a JVM pins anything.
  * "Untouched" is kept honest for jobs that RUN longer than the prune
  * horizon: every memoized reuse re-stamps the artifact directory's
  * mtime (rate-limited to one touch per [[BeatIntervalMs]]), so a
  * multi-day 100 TB build's live pins always look fresh to a newly
  * started JVM's pruner. [[PruneAfterMs]] therefore bounds the gap
  * between CONSUMPTIONS of a pin, not total job duration.
  *
  * Derived columns that are deterministic functions of stored columns
  * (hash keys, window ranks recomputed downstream) survive the
  * round-trip by construction; anything layout-dependent
  * (`spark_partition_id()`) must be computed BEFORE the pin so it is
  * stored as data — exactly what the global-numbering operators do.
  */
object Pin {

  // memo/sessionIds strongly retain sessions by design — a live
  // session's pins must stay memoized for the JVM lifetime; tools that
  // churn sessions call [[release]] to drop a dead session's entries
  // (and optionally its artifacts) eagerly. Each entry is the pin's
  // re-read and its last heartbeat stamp, which rate-limits the mtime
  // touch so hot loops (Bench iterations) don't do an FS op per call.
  private val memo = new Memo[(SparkSession, String), (DataFrame, AtomicLong)]

  /** UUID directory component per live session, assigned on first pin. */
  private val sessionIds =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Prune pin dirs untouched for this long. The heartbeat re-stamps
    * live pins on every reuse, so this bounds idle-between-reads time,
    * not job duration — concurrent JVMs never reap each other's live
    * pins.
    */
  private val PruneAfterMs: Long = 24L * 3600 * 1000

  /** Minimum gap between heartbeat touches of one pin dir. */
  private val BeatIntervalMs: Long = 15L * 60 * 1000

  /** Session conf key overriding the pin root — point it at a shared
    * filesystem URI (`hdfs://…/pins`, `s3a://…/pins`) on a cluster; the
    * default keeps local runs under the build directory. All pin I/O
    * (write, re-read, prune, heartbeat) goes through the Hadoop
    * [[FileSystem]] resolved FROM this path, so HDFS rename/commit
    * semantics apply unchanged — proven against an in-memory
    * HDFS-semantics FS in PinMemFsSpec.
    */
  val RootConfKey = "spark.graft.pin.root"

  private val Root = "target/graft-layout/pins"

  private def rootOf(spark: SparkSession): String =
    spark.conf.get(RootConfKey, Root)

  /** The (FileSystem, fully-qualified root) for this session — resolved
    * through the session's Hadoop conf so relative-path semantics match
    * between local runs (CWD) and cluster runs (default FS).
    */
  private def fsRoot(spark: SparkSession): (FileSystem, Path) = {
    val raw = new Path(rootOf(spark))
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(raw))
  }

  private def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(
      spark, _ => java.util.UUID.randomUUID().toString.replace("-", "").take(16))

  private val pruned = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def pruneStale(fs: FileSystem, root: Path): Unit =
    if (pruned.compareAndSet(false, true)) {
      try { gcAt(fs, root, PruneAfterMs); () }
      catch { case _: java.io.IOException => }
    }

  /** Newest FILE mtime under `p` (recursive max) — the same aging
    * discipline as [[ManifestTable.gc]]'s orphan sweep. Directory
    * statuses are never trusted for age: on object stores the
    * "directory" is synthetic and reports mtime 0, which would make a
    * pin another JVM is actively writing look infinitely old — the
    * round-12 gc lesson, re-applied here (the previous prune aged on
    * dir mtime ALONE and would have PREMATURELY deleted live pins on
    * real S3A). The dir's own mtime still PARTICIPATES when non-zero —
    * it is what [[heartbeat]] re-stamps, so a multi-day job whose pin
    * files were written once on day one stays protected — the age is
    * the MAX of both signals. A dir with neither signal (fileless,
    * mtime 0) counts as YOUNG: a writer may be about to land its first
    * file.
    */
  private def pinAge(fs: FileSystem, p: Path): Option[Long] = {
    def newestFile(q: Path): Option[Long] =
      try {
        val st = fs.listStatus(q)
        val mt = st.flatMap(s =>
          if (s.isDirectory) newestFile(s.getPath) else Some(s.getModificationTime))
        if (mt.isEmpty) None else Some(mt.max)
      } catch { case _: java.io.IOException => None }
    val dirMt =
      try Some(fs.getFileStatus(p).getModificationTime).filter(_ > 0L)
      catch { case _: java.io.IOException => None }
    (newestFile(p).toSeq ++ dirMt.toSeq).maxOption
  }

  /** Sweep the pin store: delete every pin directory that is (a)
    * UNREACHABLE — pin names carry a session-unique random component,
    * so a pin from any session not live in THIS JVM can never be read
    * by name again (the reachability criterion; no manifest scan
    * needed, unreachability is structural) — and (b) OLDER than
    * `maxAgeMs` by newest-file mtime, the grace window that keeps the
    * sweep from reaping a CONCURRENT JVM's live pins (whose heartbeat
    * re-stamps them every [[BeatIntervalMs]], exactly so this check
    * stays true for multi-day jobs). Returns reclaimed bytes and adds
    * them to [[reclaimedBytes]] — the number Bench publishes, so the
    * store's lifecycle is a measured fact, not a claim. Runs lazily on
    * every JVM's first pin ([[PruneAfterMs]] window) and on demand
    * from maintenance tooling with a caller-chosen window.
    */
  def gc(spark: SparkSession, maxAgeMs: Long = PruneAfterMs): Long = {
    val (fs, root) = fsRoot(spark)
    gcAt(fs, root, maxAgeMs)
  }

  private def gcAt(fs: FileSystem, root: Path, maxAgeMs: Long): Long = {
    if (!fs.exists(root)) return 0L
    import scala.jdk.CollectionConverters._
    val liveSuffixes = sessionIds.values.asScala.map(id => s"-s$id").toSet
    val now = System.currentTimeMillis()
    var bytes = 0L
    fs.listStatus(root)
      .filter(s => s.isDirectory &&
        !liveSuffixes.exists(s.getPath.getName.endsWith) &&
        pinAge(fs, s.getPath).exists(mt => now - mt >= maxAgeMs))
      .foreach { s =>
        bytes += (try fs.getContentSummary(s.getPath).getLength
                  catch { case _: java.io.IOException => 0L })
        fs.delete(s.getPath, true)
        ()
      }
    reclaimed.addAndGet(bytes)
    bytes
  }

  /** Corpus-dir tag for artifact names — the ONE rendering of the
    * scheme (StorageOps layouts, SketchOps rollups and the tools call
    * this too).
    */
  def tag(dir: String): String = java.lang.Integer.toHexString(dir.hashCode)

  /** The qualified artifact directory for (session, name). */
  private def dirOf(spark: SparkSession, name: String): Path = {
    val (_, root) = fsRoot(spark)
    new Path(root, s"$name-s${sessionId(spark)}")
  }

  /** Local-filesystem view of the artifact directory — spec hook; only
    * meaningful when the session's default FS is the local one.
    */
  private[graft] def pathOf(spark: SparkSession, name: String): java.io.File =
    new java.io.File(dirOf(spark, name).toUri.getPath)

  /** Re-stamp the pin dir's mtime so a concurrently started JVM's
    * age-based pruner sees it as live (at most once per
    * [[BeatIntervalMs]] per pin).
    *
    * CONTRACT (round-10 advice): the beat fires only on [[shared]]
    * re-entry — a consumer that holds a memoized DataFrame and runs
    * actions on it for longer than [[PruneAfterMs]] WITHOUT re-calling
    * `shared` gets no refresh and races a concurrent JVM's pruner.
    * Re-enter `shared(spark, name)(…)` per consumption (the catalog
    * paths all do; the by-name argument is not evaluated on a memo
    * hit, so re-entry costs one map lookup + rate-limited touch).
    * `lastBeat` records only SUCCESSFUL touches, so a transient FS
    * error retries on the next call instead of silently skipping a
    * whole beat interval. On object stores (S3A) directory mtimes are
    * synthetic and `setTimes` is unsupported — the beat stays a
    * best-effort no-op there, so [[gc]]'s age signal falls back to
    * FILE mtimes (S3 upload times: real, but frozen at write — a
    * multi-day job's pins look old without any heartbeat to refresh
    * them). The S3-like discipline therefore stays what this doc has
    * always mandated: set [[RootConfKey]] to a per-job unique root and
    * reap by job lifecycle (or pass gc a window exceeding the job's
    * duration); on heartbeat-capable stores (local, HDFS) the
    * [[PruneAfterMs]] default is safe for jobs of any length.
    */
  private def heartbeat(spark: SparkSession, name: String, lastBeat: AtomicLong): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastBeat.get > BeatIntervalMs) {
      try {
        val (fs, _) = fsRoot(spark)
        fs.setTimes(dirOf(spark, name), now, -1)
        lastBeat.set(now)
      } catch {
        case _: Exception => // best-effort: a missed beat only risks an
        // eager prune by ANOTHER jvm after 24h idle, never wrong data;
        // lastBeat stays unset so the NEXT call retries the touch
      }
    }
  }

  /** The parquet re-read of `df`, written once per (session, `name`).
    * `name` must identify the logical input AND every parameter the
    * pinned rows depend on (corpus-dir [[tag]], seeds, budgets); the
    * input plan must be value-deterministic so that a late rebuild
    * (fresh session, same dir) produces the same rows.
    */
  def shared(spark: SparkSession, name: String)(df: => DataFrame): DataFrame = {
    val (out, lastBeat) = memo((spark, name)) {
      val (fs, root) = fsRoot(spark)
      pruneStale(fs, root)
      val path = dirOf(spark, name).toString
      df.write.mode("overwrite").parquet(path)
      (spark.read.parquet(path), new AtomicLong(0L))
    }
    heartbeat(spark, name, lastBeat)
    out
  }

  /** True iff the artifact for (session, name) has been built this JVM
    * — spec hook. */
  private[graft] def isBuilt(spark: SparkSession, name: String): Boolean =
    memo.isBuilt((spark, name))

  private val reclaimed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bytes reclaimed by [[retireArtifact]] this JVM — surfaced in the
    * Bench record so the loop-round retention's win is a
    * reported number, not a claim.
    */
  def reclaimedBytes: Long = reclaimed.get()

  /** Delete the on-disk artifact for (session, `name`), returning the
    * bytes reclaimed (0 if absent or unmeasurable). The MEMO ENTRY IS
    * KEPT deliberately: loop-round retention needs later re-entries to
    * fast-forward (memo-hit, no rebuild, no rewrite) while the caller
    * guarantees no action will ever execute against the retired
    * frame — the iterative loops arrange that by recording per-round
    * convergence and only ever reading the retained tail. Library
    * callers outside that discipline must use [[release]] or nothing.
    */
  private[graft] def retireArtifact(spark: SparkSession, name: String): Long =
    try {
      val (fs, _) = fsRoot(spark)
      val dir = dirOf(spark, name)
      if (!fs.exists(dir)) 0L
      else {
        val bytes =
          try fs.getContentSummary(dir).getLength
          catch { case _: java.io.IOException => 0L }
        fs.delete(dir, true)
        reclaimed.addAndGet(bytes)
        bytes
      }
    } catch { case _: java.io.IOException => 0L }

  /** Drop every map entry held for `spark` and (optionally) delete its
    * pin directories. The memo/sessionIds maps strongly retain
    * sessions for the JVM lifetime by design (a live catalog session's
    * pins must stay memoized); tools that CHURN sessions — fault
    * harnesses spawning a fresh session per attempt — should call this
    * when done with one, or dead sessions' entries and orphaned pin
    * dirs accumulate until another JVM's age-based prune.
    * `deleteArtifacts = true` also removes the session's on-disk pins —
    * only safe once nothing will read the released session's frames.
    */
  def release(spark: SparkSession, deleteArtifacts: Boolean = false): Unit = {
    val sid = sessionIds.remove(spark)
    memo.removeIf(_._1 eq spark)
    if (deleteArtifacts && sid != null) {
      try {
        val (fs, root) = fsRoot(spark)
        if (fs.exists(root))
          fs.listStatus(root)
            .filter(_.getPath.getName.endsWith(s"-s$sid"))
            .foreach(s => fs.delete(s.getPath, true): Unit)
      } catch { case _: java.io.IOException => }
    }
  }

  /** Retire ONE-SHOT per-run pins (round-18 ADVICE): delete the on-disk
    * artifact like [[retireArtifact]] AND evict the (session, name)
    * memo entry — the loop-round fast-forward rationale for
    * keeping it does not apply to a pin whose name is a fresh uuid
    * every run ([[ManifestMerge.run]]'s source pin), where kept entries
    * each retain a DataFrame plan and accumulate without bound in a
    * long-lived session doing many merges (a foreachBatch MERGE sink).
    */
  private[graft] def releaseArtifact(spark: SparkSession, name: String): Long = {
    val bytes = retireArtifact(spark, name)
    memo.remove((spark, name))
    bytes
  }

  /** Spec hook: live memo entries for one session (leak assertions). */
  private[graft] def memoEntriesFor(spark: SparkSession): Int =
    memo.countBuilt(_._1 eq spark)

  /** Spec hook: re-arm the once-per-JVM lazy prune. */
  private[graft] def rearmPruneForTest(): Unit = pruned.set(false)
}
