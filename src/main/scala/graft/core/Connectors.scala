package graft.core

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A named connector: where tables ("indexes") live and how to read/write
  * them. The reference's connector protocol is five duck-typed methods per
  * backend — `get_data / save_data / create_index / get_count /
  * get_indexes` (SURVEY.md §2.1). Here a connector is declarative: a
  * format + options + a table→location mapping, and the five methods fall
  * out of `DataFrameReader`/`DataFrameWriter` (scan, sink), `df.schema` →
  * [[SchemaInfer]] DDL (create), `df.count()` (count pushed to parquet
  * footers / source stats by Catalyst), and a catalog listing.
  */
trait Connector {
  def name: String
  /** Scan: `get_data(index)` analog (S1/S6/S10…). */
  def read(spark: SparkSession, index: String): DataFrame
  /** Sink: `save_data(index, batch)` analog. Mode semantics per [[WriteMode]].
    *
    * Count contract: a sink executes `df` through the Dataset API (a
    * `DataFrameWriter`, `Dataset.foreachPartition`/`mapPartitions`) at
    * most once, or not at all. [[MigrationJob.runOne]] attaches an
    * observation to `df` and reports the rows it saw pass; a `df.rdd`
    * path, or an extra action such as `df.limit(0).write`, leaves that
    * observation empty or wrong.
    */
  def write(df: DataFrame, index: String, mode: WriteMode): Unit
  /** Catalog: `get_indexes()` analog. */
  def listIndexes(spark: SparkSession): Seq[String]
  /** Count pushdown: `get_count(index)` (S5). Catalyst answers parquet
    * counts from footer metadata — no data scan. */
  def count(spark: SparkSession, index: String): Long = read(spark, index).count()
}

/** Write modes mirroring the reference's INSERT flavors
  * (`d22d/utils/db/__init__.py:700-711`; `d22d/task.py:152`).
  * On key-less file sinks, Ignore/Replace are MERGE-style rewrites keyed
  * on `pks` — at cluster scale these map to `MERGE INTO` on a
  * transactional table format; here they are read-union-rewrite.
  */
sealed trait WriteMode
object WriteMode {
  /** plain INSERT INTO */
  case object Append extends WriteMode
  /** drop & recreate */
  case object Overwrite extends WriteMode
  /** INSERT IGNORE: existing rows win on pk conflict */
  final case class InsertIgnore(pks: Seq[String]) extends WriteMode
  /** REPLACE INTO: new rows win on pk conflict */
  final case class Replace(pks: Seq[String]) extends WriteMode
}

/** File-based connector: one file/dir per table under a root directory.
  * Table-name ↔ path mapping follows `BaseFileD.gen_path_by_index` /
  * `get_indexes` (`d22d/utils/db/__init__.py:510-529`): nested files map
  * to `subdir-filename` index names.
  */
final case class FileConnector(
    name: String,
    root: String,
    format: String, // csv | json | parquet | text
    options: Map[String, String] = Map.empty,
) extends Connector {

  private def ext: String = format match {
    case "json" => ".json"
    case "csv"  => ".csv"
    case "text" => ".txt"
    case _      => "" // parquet dirs have no extension requirement
  }

  /** Non-`file:` URI roots (hdfs://, s3a://, memfs://…) go through the
    * Hadoop FileSystem API and the [[ManifestTable]] commit protocol;
    * plain local paths keep the java.nio fast path (rename IS atomic
    * on one local filesystem, and a manifest would be pure overhead).
    * `option("commit" -> "manifest")` forces the manifest protocol on
    * local/file: roots too — for NFS-like shared mounts where several
    * writer PROCESSES share one directory (rename is atomic per host,
    * but last-writer-wins swaps still lose interleaved upserts without
    * the optimistic commit), and for fault harnesses that need the
    * commit path exercised on a filesystem real executor JVMs share.
    */
  private val isRemote: Boolean =
    (root.contains("://") && !root.startsWith("file:")) ||
      options.get("commit").contains("manifest")

  def pathFor(index: String): String =
    if (isRemote) s"${root.stripSuffix("/")}/${index.replace("-", "/")}$ext"
    else Paths.get(root, index.replace("-", java.io.File.separator) + ext).toString

  private def hfs(spark: SparkSession): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def configure(r: DataFrameReader): DataFrameReader =
    (FormatDefaults.read(format) ++ options)
      .foldLeft(r) { case (rr, (k, v)) => rr.option(k, v) }

  def read(spark: SparkSession, index: String): DataFrame = {
    val target = pathFor(index)
    if (isRemote) {
      // once a remote table has been written its live file set is named
      // by the manifest pointer, not by directory shape
      val p = new HPath(target)
      val fs = hfs(spark)
      ManifestTable.resolve(fs, p) match {
        case Some(m) =>
          val paths = m.entries.flatMap(e => ManifestTable.entryPaths(p, e)).map(_.toString)
          // a COLUMN-MAPPED table reads with the manifest-held logical
          // schema (names + field ids) — footer-inferred names go stale
          // the moment a rename lands (round-18 ADVICE)
          if (m.cols.nonEmpty) {
            ManifestColumns.ensureReadConf(spark)
            return spark.read.schema(ManifestColumns.schemaOf(m.cols)).parquet(paths: _*)
          }
          return configure(spark.read).format(format).load(paths: _*)
        case None if fs.exists(p) =>
          // no commit ever landed, but a crashed FIRST write may have
          // left g-*/_commits debris — a plain directory read would
          // surface its partial bytes as the table. Only flat data
          // files (a genuinely plain layout) are readable here.
          val children = fs.listStatus(p).toSeq
          val debris = children.exists { s =>
            val n = s.getPath.getName
            n == ManifestTable.CommitsDir || n.startsWith(ManifestTable.GenPrefix)
          }
          if (debris) {
            val flat = children.filter(s => s.isFile &&
              !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
            require(flat.nonEmpty,
              s"$name/$index: only uncommitted write debris at $target — no committed data")
            return configure(spark.read).format(format).load(flat.map(_.getPath.toString): _*)
          }
        case None => // plain layout or absent: native read below
      }
    }
    if (format == "parquet" && !isRemote && options.isEmpty) ParquetFooter.read(spark, target)
    else configure(spark.read).format(format).load(target)
  }

  private def configureW[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    (FormatDefaults.write(format) ++ options)
      .foldLeft(w) { case (ww, (k, v)) => ww.option(k, v) }

  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    val target = pathFor(index)
    if (isRemote) return writeRemote(df, index, new HPath(target), mode)
    val exists = Files.exists(Paths.get(target))
    mode match {
      case WriteMode.Append =>
        configureW(df.write).format(format).mode(SaveMode.Append).save(target)
      case WriteMode.Overwrite =>
        configureW(df.write).format(format).mode(SaveMode.Overwrite).save(target)
      case WriteMode.InsertIgnore(pks) if exists =>
        mergeRewrite(df, index, pks, newWins = false)
      case WriteMode.Replace(pks) if exists =>
        mergeRewrite(df, index, pks, newWins = true)
      case _ => // target absent: both upsert modes degenerate to overwrite
        configureW(df.write).format(format).mode(SaveMode.Overwrite).save(target)
    }
  }

  /** Remote (object-store / HDFS-URI) writes: EVERY mode gets the
    * [[ManifestTable]] pointer-flip discipline from the table's FIRST
    * write (round 14). Previously a not-yet-manifested table fell
    * through to plain `SaveMode.Overwrite`/`Append` — delete-then-
    * rewrite and rename-based job commit, whose torn/crash windows on
    * S3-family stores persisted for pure overwrite/append workloads
    * until a keyed upsert first touched the table.
    *
    *   - Append on a manifested table commits the fresh generation as
    *     an ADDITIONAL entry — one pointer PUT, no data read-modify-
    *     write. On a plain layout the existing flat files are ADOPTED
    *     (pointer-only, zero data movement) first, so they stay
    *     visible and become gc-able; a fresh/empty target starts
    *     manifested from this very write.
    *   - Overwrite lands the new data in a fresh generation and ONE
    *     commit retires every previous entry — readers flip between
    *     complete states; gc reclaims superseded bytes later. Plain
    *     `SaveMode.Overwrite` would delete `_commits` and live
    *     generations out from under concurrent readers.
    *   - Upserts on an existing table keep the adopt+merge-rewrite
    *     path ([[mergeRewrite]]); on an absent one they degenerate to
    *     the manifested overwrite.
    *
    * One documented fallback: an externally-written layout with
    * foreign SUBDIRECTORIES (e.g. hand-partitioned data) cannot be
    * adopted unpartitioned, so Append there stays a plain directory
    * append — visibility of the existing data wins over the commit
    * discipline this connector cannot retrofit onto a layout it did
    * not write.
    */
  private def writeRemote(df: DataFrame, index: String, table: HPath, mode: WriteMode): Unit = {
    val fs = hfs(df.sparkSession)
    def foreignSubdirs: Boolean = fs.exists(table) && fs.listStatus(table).exists(s =>
      s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith(ManifestTable.GenPrefix))
    def tableStatsCols: Seq[String] =
      ManifestTable.resolve(fs, table).map(_.statsCols).getOrElse(Nil)
    def commitOverwrite(retire: Seq[ManifestEntry]): Unit = {
      val gen = writeGeneration(df, fs, table)
      ManifestTable.commit(fs, table, partCol = "",
        retire.map(e => e.part -> (None: Option[ManifestEntry])).toMap +
          ("" -> Some(ManifestEntry("", gen, Nil,
            ManifestTable.fileStats(fs, new HPath(table, gen), tableStatsCols)))))
      ManifestTable.gc(fs, table)
      ()
    }
    mode match {
      case WriteMode.Append =>
        resolveOrAdopt(fs, table) match {
          case Some(_) =>
            val gen = writeGeneration(df, fs, table)
            ManifestTable.commit(fs, table, partCol = "",
              Map(gen -> Some(ManifestEntry(gen, gen, Nil,
                ManifestTable.fileStats(fs, new HPath(table, gen), tableStatsCols)))))
            ()
          case None if foreignSubdirs =>
            configureW(df.write).format(format).mode(SaveMode.Append).save(table.toString)
          case None => // fresh or empty target: manifested from write one
            commitOverwrite(Nil)
        }
      case WriteMode.Overwrite =>
        commitOverwrite(resolveOrAdopt(fs, table).map(_.entries).getOrElse(Nil))
      case WriteMode.InsertIgnore(pks) if fs.exists(table) =>
        mergeRewrite(df, index, pks, newWins = false)
      case WriteMode.Replace(pks) if fs.exists(table) =>
        mergeRewrite(df, index, pks, newWins = true)
      case _ => // upsert on an absent target degenerates to overwrite
        commitOverwrite(Nil)
    }
  }

  /** The table's current committed state: its manifest, or — when only
    * a plain flat layout exists — that layout adopted in place
    * (pointer-only commit 1 referencing the existing files by name).
    * None for a fresh/empty target and for foreign subdirectory
    * layouts this connector cannot adopt unpartitioned.
    */
  private def resolveOrAdopt(fs: FileSystem, table: HPath): Option[Manifest] =
    ManifestTable.resolve(fs, table).orElse {
      val children = if (fs.exists(table)) fs.listStatus(table).toSeq else Nil
      val visible = children.filterNot(s =>
        s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      val flatData = visible.exists(_.isFile)
      val foreign = visible.exists(s =>
        s.isDirectory && !s.getPath.getName.startsWith(ManifestTable.GenPrefix))
      if (flatData && !foreign) Some(ManifestTable.adoptIfPlain(fs, table, partCol = ""))
      else None
    }

  /** Write `df` into a fresh immutable `g-*` generation under `table`
    * and return the generation's directory name (not yet committed).
    *
    * A COLUMN-MAPPED target (manifest carries `cols` — created through
    * [[ManifestWrite]]) gets its field ids stamped into the output
    * footers here too (round-18 ADVICE): an id-less generation inside a
    * mapped table would break the table's field-id read contract — the
    * mapped read path requests columns BY ID, so the new files would
    * silently null-fill every column. Unknown columns are refused
    * loudly by [[ManifestColumns.stamp]]; non-parquet formats cannot be
    * mapped by construction.
    */
  private def writeGeneration(df: DataFrame, fs: FileSystem, table: HPath): String = {
    val gen = ManifestTable.GenPrefix + java.util.UUID.randomUUID().toString.take(8)
    val genPath = new HPath(table, gen)
    val mapCols = ManifestTable.resolve(fs, table).map(_.cols).getOrElse(Nil)
    val bound =
      if (mapCols.isEmpty) df
      else {
        require(format == "parquet",
          s"$name: table at $table carries a parquet column mapping but this " +
            s"connector writes '$format' — refusing to mix formats in one table")
        val stampedDf = ManifestColumns.stamp(df, mapCols, partCol = "")
        val ws = org.apache.spark.sql.graft.Bridge.cloneSession(df.sparkSession)
        ws.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        org.apache.spark.sql.graft.Bridge.ofRows(ws, stampedDf.queryExecution.analyzed)
      }
    configureW(bound.write).format(format).mode(SaveMode.ErrorIfExists).save(genPath.toString)
    fs.delete(new HPath(genPath, "_SUCCESS"), false)
    gen
  }

  /** Keyed upsert on a non-transactional file target: read-union-rewrite.
    * The anti-join side is the loser; at 100 TB this is `MERGE INTO` on
    * Delta/Iceberg — semantics identical, rewrite scoped to touched files.
    *
    * Staging: the plan reads the target path, so it cannot be overwritten
    * in place. Two swap disciplines by store family:
    *
    *   - REMOTE roots (hdfs/s3a/…): the rewrite lands in a fresh
    *     immutable `g-*` generation INSIDE the table directory and goes
    *     live via one [[ManifestTable]] pointer commit (adopt-if-plain
    *     on first touch). No data directory is ever renamed — on
    *     S3-family stores `rename` is a non-atomic O(data) copy window
    *     (`ObjectStoreCommitSpec` shows the two-rename swap silently
    *     losing rows there); a crash at any step leaves the previous
    *     commit live, never a mix (`FileConnectorObjectStoreSpec`).
    *   - LOCAL paths: the result is written once to a sibling directory
    *     on the same filesystem, then swapped in with two java.nio
    *     ATOMIC_MOVE renames — atomic on one local FS, and cheaper than
    *     a manifest a single-host table will never need.
    *
    * Writer model (round 14): remote upserts are OPTIMISTICALLY
    * CONCURRENT — each attempt records the committed state its merge
    * was derived from (the adopted/resolved manifest's seq) and commits
    * conditionally on that state still being live
    * (`ManifestTable.commit(expectedSeq)`). An interleaved commit makes
    * the attempt fail STALE instead of silently discarding the other
    * writer's rows (the pre-round-14 last-commit-wins anomaly); the
    * loser deletes its orphaned generation, re-reads the NEW state,
    * re-merges and retries — the Iceberg optimistic-retry discipline,
    * bounded at [[FileConnector.MaxUpsertAttempts]] (each retry is
    * caused by one other writer's SUCCESSFUL commit, so K concurrent
    * upserts need at most K-1 retries for the last to land; the bound
    * failing loudly means pathological sustained contention, not data
    * loss). The single-writer common case pays nothing: first attempt,
    * no extra I/O beyond the seq already in hand. Local paths keep the
    * single-writer rename swap (the reference's batch-loop shape).
    * Readers are never torn either way.
    */
  private def mergeRewrite(df: DataFrame, index: String, pks: Seq[String], newWins: Boolean): Unit = {
    require(pks.nonEmpty, s"$name/$index: InsertIgnore/Replace need pk columns")
    val spark = df.sparkSession
    if (isRemote) {
      val fs = hfs(spark)
      val table = new HPath(pathFor(index))
      var attempts = 0
      while (attempts < FileConnector.MaxUpsertAttempts) {
        attempts += 1
        // adopt/resolve FIRST: pins the pre-rewrite file set by name, so
        // the scan below, the retire list, AND the expectedSeq guard all
        // speak the same state. The merge reads the base manifest's
        // paths explicitly (never a re-resolving read()) — a base/scan
        // disagreement would unmoor the staleness check from the rows
        // actually merged.
        val base = ManifestTable.resolve(fs, table)
          .getOrElse(ManifestTable.adoptIfPlain(fs, table, partCol = ""))
        val basePaths = base.entries
          .flatMap(e => ManifestTable.entryPaths(table, e)).map(_.toString)
        val existing =
          if (base.cols.nonEmpty) {
            // mapped table: read by field id with the CURRENT logical
            // names, so the merged rewrite below speaks the live schema
            // even across files written before a rename (round-18 ADVICE)
            ManifestColumns.ensureReadConf(spark)
            spark.read.schema(ManifestColumns.schemaOf(base.cols)).parquet(basePaths: _*)
          } else configure(spark.read).format(format).load(basePaths: _*)
        val out = mergeFrames(df, existing, pks, newWins)
        var gen: String = null
        try {
          gen = writeGeneration(out, fs, table)
          FileConnector.beforeUpsertCommit()
          val retire = base.entries.map(e => e.part -> (None: Option[ManifestEntry])).toMap
          ManifestTable.commit(fs, table, partCol = "",
            retire + ("" -> Some(ManifestEntry("", gen, Nil,
              ManifestTable.fileStats(fs, new HPath(table, gen), base.statsCols)))),
            expectedSeq = Some(base.seq))
          FileConnector.afterUpsertCommit()
          ManifestTable.gc(fs, table)
          return
        } catch {
          case _: ManifestStaleException =>
            // our generation was never committed — orphan debris; sweep
            // it eagerly rather than waiting for gc's retention window
            FileConnector.onUpsertRetry()
            if (gen != null) fs.delete(new HPath(table, gen), true)
          case scala.util.control.NonFatal(e) =>
            // Commit success is TERMINAL: if the live manifest references
            // our generation, the commit landed and the failure came
            // AFTER it (a transient gc IOException, a test seam) — the
            // table already holds the merged state, so report success.
            // Treating this as "concurrent advance" would delete the
            // very generation the live pointer names (our own commit
            // advanced nowSeq past base.seq!) and permanently brick the
            // table — a transient post-commit error becoming silent data
            // loss. gc debris is the next sweep's job by contract.
            val now = ManifestTable.resolve(fs, table)
            val committedByUs = gen != null && now.exists(_.entries.exists(en =>
              en.dir == gen || en.dir.startsWith(gen + "/")))
            if (committedByUs) return
            // a concurrent WINNER's gc can retire our base's files while
            // our merge scan is still reading them (the in-flight-reader
            // grace caveat) — that surfaces as a job failure, not a
            // commit-guard trip. Same staleness, detected later: retry
            // iff the table really did advance past our base, else the
            // failure is genuine and must propagate. Fatal errors (OOM,
            // InterruptedException) skip this handler entirely — they
            // propagate without deleting anything (never a brick; at
            // worst an uncommitted generation the next gc sweeps) and
            // are never retried into fresh Spark jobs.
            val nowSeq = now.map(_.seq).getOrElse(0L)
            if (nowSeq == base.seq) throw e
            FileConnector.onUpsertRetry()
            if (gen != null) fs.delete(new HPath(table, gen), true)
        }
      }
      throw new java.io.IOException(
        s"$name/$index: upsert lost the optimistic-commit race " +
          s"${FileConnector.MaxUpsertAttempts} times — sustained concurrent-writer " +
          "contention on one table; nothing was lost, retry when it clears")
    } else {
      val existing = read(spark, index)
      val out = mergeFrames(df, existing, pks, newWins)
      val target = Paths.get(pathFor(index))
      val stamp = java.util.UUID.randomUUID().toString.take(8)
      def sibling(tag: String): Path =
        target.resolveSibling(target.getFileName.toString + s".$tag-$stamp")
      val staging = sibling("stage")
      configureW(out.write).format(format).mode(SaveMode.Overwrite).save(staging.toString)
      val retired = sibling("old")
      Files.move(target, retired, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      try Files.move(staging, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case e: Throwable => // roll the old data back before failing
        Files.move(retired, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE); throw e
      }
      deleteRecursively(retired)
    }
  }

  /** The upsert's merge plan: winner rows + loser rows whose pk has no
    * winner conflict (left anti join — the distributed `MERGE` shape).
    */
  private def mergeFrames(df: DataFrame, existing: DataFrame,
      pks: Seq[String], newWins: Boolean): DataFrame = {
    val winner = if (newWins) df else existing
    val loser = if (newWins) existing else df
    val survivors = loser.join(
      winner.select(pks.map(winner.apply): _*).dropDuplicates(pks), pks, "left_anti")
    winner.unionByName(survivors, allowMissingColumns = true)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }

  /** `Files.list` with the stream closed (it holds a directory handle). */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  def listIndexes(spark: SparkSession): Seq[String] = {
    if (isRemote) return listIndexesRemote(spark)
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) return Nil
    // A Spark output "file" is a directory of part-files; treat any dir
    // that is itself a table location (name carries the extension, or it
    // holds part-/_SUCCESS files) as a leaf rather than recursing.
    def isTableDir(p: Path): Boolean =
      (ext.nonEmpty && p.getFileName.toString.endsWith(ext)) ||
        listDir(p).exists { f =>
          val n = f.getFileName.toString
          n.startsWith("part-") || n == "_SUCCESS"
        }
    def isStagingLeftover(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.contains(".stage-") || n.contains(".old-")
    }
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p) && !isTableDir(p)) listDir(p).sorted.flatMap(walk)
      else Seq(p)
    walk(rootPath)
      .filter(p => !isStagingLeftover(p) && (ext.isEmpty || p.toString.endsWith(ext)))
      .map { p =>
        val rel = rootPath.relativize(p).toString
        rel.stripSuffix(ext).replace(java.io.File.separator, "-")
      }
      .sorted
  }

  /** Catalog walk over a Hadoop FS root — same index mapping as the
    * local walk, with manifest internals (`_commits`, `g-*`
    * generations) marking a directory as a TABLE leaf, never listed as
    * tables themselves.
    */
  private def listIndexesRemote(spark: SparkSession): Seq[String] = {
    val fs = hfs(spark)
    val rootPath = fs.makeQualified(new HPath(root))
    if (!fs.exists(rootPath)) return Nil
    def isTableDir(p: HPath): Boolean =
      (ext.nonEmpty && p.getName.endsWith(ext)) ||
        fs.listStatus(p).exists { s =>
          val n = s.getPath.getName
          n.startsWith("part-") || n == "_SUCCESS" ||
            n == ManifestTable.CommitsDir || n.startsWith(ManifestTable.GenPrefix)
        }
    def walk(p: HPath): Seq[HPath] =
      if (fs.getFileStatus(p).isDirectory && !isTableDir(p))
        fs.listStatus(p).toSeq.map(_.getPath).sortBy(_.getName).flatMap(walk)
      else Seq(p)
    val rootUriPath = rootPath.toUri.getPath.stripSuffix("/")
    walk(rootPath)
      .filter(p => ext.isEmpty || p.getName.endsWith(ext))
      .map { p =>
        val rel = p.toUri.getPath.stripPrefix(rootUriPath).stripPrefix("/")
        rel.stripSuffix(ext).replace("/", "-")
      }
      .sorted
  }
}

object FileConnector {
  /** Optimistic-upsert retry bound. Each retry is triggered by one
    * OTHER writer's successful commit landing mid-attempt, so the bound
    * is "how many concurrent upserts to ONE table the connector rides
    * out", not a spin count — 10 covers any realistic batch-loop fleet;
    * beyond it the named failure below reports contention, never data
    * loss (the table is left at the last successfully committed state).
    */
  val MaxUpsertAttempts = 10

  /** Test seam: runs between an upsert attempt's generation write and
    * its conditional commit — the exact window an interleaved writer's
    * commit makes the attempt stale. Production no-op.
    */
  @volatile private[graft] var beforeUpsertCommit: () => Unit = () => ()

  /** Test seam: runs between an upsert's SUCCESSFUL conditional commit
    * and its gc — the window where a post-commit failure must read as
    * success, never as a retriable staleness (deleting the committed
    * generation there bricks the table). Production no-op.
    */
  @volatile private[graft] var afterUpsertCommit: () => Unit = () => ()

  /** Observation seam: invoked on the CALLING writer's thread each time
    * an upsert attempt goes stale and re-derives — how
    * [[graft.tools.ContentionBench]] attributes retries per writer for
    * the SCALING §18 histogram. Production no-op.
    */
  @volatile private[graft] var onUpsertRetry: () => Unit = () => ()
}

/** In-memory connector (`ListD`, `d22d/utils/db/__init__.py:1469-1498`):
  * named DataFrames, registered programmatically. `get_dict_kv` — the
  * reference's join build side — is just the DataFrame handed to a join.
  */
final case class MemConnector(name: String) extends Connector {
  private val tables = TrieMap.empty[String, DataFrame]
  def put(index: String, df: DataFrame): Unit = tables.put(index, df)
  def read(spark: SparkSession, index: String): DataFrame =
    tables.getOrElse(index, throw new NoSuchElementException(s"$name/$index"))
  def write(df: DataFrame, index: String, mode: WriteMode): Unit = mode match {
    case WriteMode.Append if tables.contains(index) =>
      tables.put(index, tables(index).unionByName(df, allowMissingColumns = true))
    case _ => tables.put(index, df)
  }
  def listIndexes(spark: SparkSession): Seq[String] = tables.keys.toSeq.sorted
}

/** JDBC connector (S1-S5, S20-S23): MySQL/PG/ClickHouse/Oracle scans and
  * sinks via Spark's JDBC source. `fetchsize`/`batchsize` carry the
  * reference's streaming-cursor and executemany knobs;
  * `partitionColumn/numPartitions` add the parallel-scan the reference
  * lacks (its TODO "Multi process", reference README). No live database
  * exists in this environment, so this connector is exercised only through
  * its option plumbing.
  */
final case class JdbcConnector(
    name: String,
    url: String,
    options: Map[String, String] = Map.empty,
    /** ClickHouse-style sinks: clamp timestamp columns into the store's
      * representable range before write ([[Normalize.clampClickHouseDateTime]]).
      */
    clampTimestamps: Boolean = false,
) extends Connector {
  def read(spark: SparkSession, index: String): DataFrame = {
    val base = spark.read.format("jdbc").option("url", url)
      .option("fetchsize", options.getOrElse("fetchsize", "1000"))
    val withTable =
      if (index.trim.toLowerCase.startsWith("select ")) base.option("query", index)
      else base.option("dbtable", index) // raw-SQL passthrough parity: db/__init__.py:375-378
    options.foldLeft(withTable) { case (r, (k, v)) => r.option(k, v) }.load()
  }
  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    val prepared =
      if (!clampTimestamps) df
      else df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.TimestampType)
        .foldLeft(df) { (d, f) =>
          d.withColumn(f.name, Normalize.clampClickHouseDateTime(d(f.name)))
        }
    mode match {
      case WriteMode.InsertIgnore(pks) =>
        ensureTable(prepared, index, pks)
        JdbcExec.upsert(prepared, url, index, pks, newWins = false, options)
      case WriteMode.Replace(pks) =>
        ensureTable(prepared, index, pks)
        JdbcExec.upsert(prepared, url, index, pks, newWins = true, options)
      case m =>
        val saveMode = m match {
          case WriteMode.Overwrite => SaveMode.Overwrite
          case _                   => SaveMode.Append
        }
        options.foldLeft(
          prepared.write.format("jdbc").option("url", url).option("dbtable", index)
            .option("batchsize", options.getOrElse("batchsize", "1000"))
        ) { case (w, (k, v)) => w.option(k, v) }.mode(saveMode).save()
    }
  }
  /** Auto-create before a keyed write (P7, `create_index`): Spark's JDBC
    * writer emits dialect-correct DDL from the DataFrame schema (an empty
    * frame of that schema with the pk columns NOT NULL, Append — the
    * caller's frame is never run here), then the pk constraint is added
    * on the names as that writer quoted them. Best-effort, since not
    * every store takes `ADD PRIMARY KEY`; ANSI MERGE enforces the key
    * via its ON predicate regardless, but without it concurrent MERGE
    * batches lock whole scans (Derby deadlocks).
    */
  private def ensureTable(df: DataFrame, index: String, pks: Seq[String]): Unit =
    if (!JdbcExec.tableExists(url, index, options)) {
      val keys = pks.map(k => df.columns.find(_.equalsIgnoreCase(k)).getOrElse(k))
      val keyed = StructType(df.schema.map(f => if (keys.contains(f.name)) f.copy(nullable = false) else f))
      val empty = df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), keyed)
      options.foldLeft(
        empty.write.format("jdbc").option("url", url).option("dbtable", index)
      ) { case (w, (k, v)) => w.option(k, v) }.mode(SaveMode.Append).save()
      val dialect = JdbcDialects.get(url)
      try {
        JdbcExec.execute(url,
          s"ALTER TABLE $index ADD PRIMARY KEY (${keys.map(dialect.quoteIdentifier).mkString(", ")})",
          options)
        ()
      } catch { case _: java.sql.SQLException => () }
    }

  /** `get_indexes` over a live connection (`db/__init__.py:383-396`) —
    * the catalog walk that powers the whole-database loop (P1).
    */
  def listIndexes(spark: SparkSession): Seq[String] =
    JdbcExec.listTables(url, options)
}

/** Registry: name → connector (the reference passes connector instances
  * to `Migration(database_from=…, database_to=…)`; a registry makes the
  * pairing declarative and serializable).
  */
final class ConnectorRegistry {
  private val connectors = TrieMap.empty[String, Connector]
  def register(c: Connector): this.type = { connectors.put(c.name, c); this }
  def apply(name: String): Connector =
    connectors.getOrElse(name, throw new NoSuchElementException(s"connector $name not registered"))
  def names: Seq[String] = connectors.keys.toSeq.sorted
}
