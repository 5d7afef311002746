package graft.sources

import graft.core.{Connector, SchemaInfer, WriteMode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.charset.StandardCharsets

/** Emulated document/KV stores. No ES/Mongo server exists in this
  * environment (SURVEY §7.4 risk 5), so these reproduce the reference's
  * connector SEMANTICS — `_id` synthesis, keyed bulk upsert, mapping
  * emission, rename-and-append collections — over parquet directories
  * with the same option surface, swappable for the real
  * `elasticsearch-spark` / `mongo-spark` connectors on a live cluster.
  */

/** Elasticsearch-style connector (S6-S9):
  *  - `_id` synthesis on write: joined pk values (`-`-separated), else an
  *    existing `_id` column, else md5 of the whole row (the reference
  *    concatenates truncated values — same role: deterministic content id);
  *  - bulk write = upsert by `_id` (new wins), the ES index semantics;
  *  - `create_index` analog emits the mapping JSON sidecar from the
  *    schema ([[SchemaInfer.toEsMapping]]).
  */
final case class EsConnector(
    name: String,
    root: String,
    pks: Map[String, Seq[String]] = Map.empty,
) extends Connector {
  private def pathFor(index: String): String = s"$root/$index"

  def read(spark: SparkSession, index: String): DataFrame =
    spark.read.parquet(pathFor(index))

  /** ES query-DSL analog: the caller's filter/projection — pushdown is
    * Catalyst's job; this mirrors `get_data((index, query))`.
    */
  def search(spark: SparkSession, index: String, query: DataFrame => DataFrame): DataFrame =
    query(read(spark, index))

  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    val keyed = withId(df, pks.getOrElse(index, Nil))
    val target = pathFor(index)
    val fs = new Path(target).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(target))
    mode match {
      case WriteMode.Overwrite => // drop & recreate, even over an existing index
        keyed.write.mode(SaveMode.Overwrite).parquet(target)
      case _ if !exists =>
        keyed.write.mode(SaveMode.Overwrite).parquet(target)
      case _ => // bulk index = upsert by _id, new doc wins
        val existing = read(df.sparkSession, index)
        val survivors = existing.join(keyed.select("_id"), Seq("_id"), "left_anti")
        val out = keyed.unionByName(survivors, allowMissingColumns = true)
        // Single write to a same-FS sibling, then swap (the plan reads
        // the target, so in-place overwrite would clobber its own
        // input). The delete+rename here is EMULATION-ONLY surface: a
        // real deployment bulk-indexes into an ES server over the
        // wire; this file tree is the offline stand-in, not a table
        // layout (the manifest-commit discipline in core/ManifestTable
        // covers the real table-maintenance paths).
        val staging = new Path(target + ".stage-" + java.util.UUID.randomUUID().toString.take(8))
        out.write.mode(SaveMode.Overwrite).parquet(staging.toString)
        fs.delete(new Path(target), true)
        fs.rename(staging, new Path(target))
        ()
    }
    writeMapping(df, index)
  }

  private def withId(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.nonEmpty)
      df.withColumn("_id", concat_ws("-", keys.map(k => col(k).cast("string")): _*))
    else if (df.columns.contains("_id")) df
    else df.withColumn("_id", md5(concat_ws("", df.columns.map(c => col(c).cast("string")): _*)))

  /** Mapping sidecar — the `create_index` DDL analog. */
  private def writeMapping(df: DataFrame, index: String): Unit = {
    val mapping = SchemaInfer.toEsMapping(df.schema)
    val out = new Path(pathFor(index), "_mapping.json")
    val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val os = fs.create(out, true)
    try os.write(mapping.getBytes(StandardCharsets.UTF_8)) finally os.close()
  }

  def readMapping(spark: SparkSession, index: String): String = {
    val p = new Path(pathFor(index), "_mapping.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  def listIndexes(spark: SparkSession): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }
}

/** MongoDB-style connector (S18): collections of schemaless docs.
  * Reference semantics: scan drops the store's `_id`; "create" renames
  * any existing collection to a timestamped `_bak` and starts fresh
  * (dedup impossible in the reference's Mongo path — rename-and-append);
  * plain saves append.
  */
final case class MongoConnector(name: String, root: String) extends Connector {
  private def pathFor(index: String): String = s"$root/$index"

  def read(spark: SparkSession, index: String): DataFrame = {
    val df = spark.read.parquet(pathFor(index))
    if (df.columns.contains("_id")) df.drop("_id") else df
  }

  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    val spark = df.sparkSession
    val target = new Path(pathFor(index))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mode match {
      case WriteMode.Overwrite =>
        // rename-and-append semantics: back up the live collection
        if (fs.exists(target)) {
          val bak = new Path(s"${pathFor(index)}_bak_${System.currentTimeMillis()}")
          fs.rename(target, bak)
        }
        df.write.mode(SaveMode.Overwrite).parquet(target.toString)
      case _ =>
        df.write.mode(SaveMode.Append).parquet(target.toString)
    }
  }

  def listIndexes(spark: SparkSession): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.contains("_bak_")).sorted
  }
}

/** GridFS-style chunked binary store (S19): each bucket is a pair of
  * tables, `<bucket>.files` (filename, length, md5) and
  * `<bucket>.chunks` (files_id, n, data) with fixed-size binary chunks
  * — the GridFS layout on parquet. Everything is Column expressions:
  * chunking is an explode over `substring` windows of the binary
  * column (distributed — a 10 GB file becomes parallel chunk rows, the
  * point of GridFS), reassembly is a sorted `collect_list` +
  * binary-concat fold per file. Mirrors the reference's
  * `save_gridfs`/`get_gridfs` surface; multimodal corpora (q45/q46
  * binary columns) ride the same layout.
  *
  * `write` expects columns (filename: string, content: binary).
  * Overwrite replaces the bucket; every other mode appends.
  */
final case class GridFsConnector(name: String, root: String, chunkSize: Int = 255 * 1024)
    extends Connector {
  private def filesPath(bucket: String) = s"$root/$bucket.files"
  private def chunksPath(bucket: String) = s"$root/$bucket.chunks"

  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    val saveMode = mode match {
      case WriteMode.Overwrite => SaveMode.Overwrite
      case _ => SaveMode.Append
    }
    // every write is a distinct upload generation — re-appending an
    // existing filename must never interleave its chunks with the old
    // version's (GridFS's files_id role); read() picks the latest
    val upload = java.util.UUID.randomUUID().toString
    val uploadedAt = System.currentTimeMillis()
    val files = df.select(
      col("filename"),
      length(col("content")).cast("long").as("length"),
      md5(col("content")).as("md5"),
      lit(upload).as("upload"),
      lit(uploadedAt).as("uploaded_at"))
    val chunks = df.select(col("filename").as("files_id"), lit(upload).as("upload"), expr(
      s"""explode(transform(
         |  sequence(0, CAST(greatest(ceil(length(content) / $chunkSize.0) - 1, 0) AS INT)),
         |  i -> struct(i as n, substring(content, i * $chunkSize + 1, $chunkSize) as data)))
         |""".stripMargin).as("c"))
      .select(col("files_id"), col("upload"), col("c.n").as("n"), col("c.data").as("data"))
    // two writes over one frame: cache it (unless the caller already
    // has) so its plan runs once
    val cacheHere = df.storageLevel == StorageLevel.NONE
    if (cacheHere) df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      files.write.mode(saveMode).parquet(filesPath(index))
      chunks.write.mode(saveMode).parquet(chunksPath(index))
    } finally if (cacheHere) { df.unpersist(); () }
  }

  def read(spark: SparkSession, index: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = spark.read.parquet(filesPath(index))
    val latest = files
      .withColumn("rn", row_number().over(Window.partitionBy(col("filename"))
        .orderBy(col("uploaded_at").desc, col("upload").desc)))
      .filter(col("rn") === 1).drop("rn")
    val assembled = spark.read.parquet(chunksPath(index))
      .join(latest.select(col("filename").as("fid"), col("upload").as("u")),
        col("files_id") === col("fid") && col("upload") === col("u"), "left_semi")
      .groupBy(col("files_id"))
      .agg(sort_array(collect_list(struct(col("n"), col("data")))).as("cs"))
      .select(col("files_id"),
        expr("aggregate(cs, CAST('' AS BINARY), (acc, c) -> concat(acc, c.data))").as("content"))
    latest.join(assembled, latest("filename") === assembled("files_id"), "left")
      .select(col("filename"), col("length"), col("md5"),
        coalesce(col("content"), lit(Array.emptyByteArray)).as("content"))
      .orderBy(col("filename"))
  }

  def listIndexes(spark: SparkSession): Seq[String] = Listing.indexes(spark, root, ".files")
}
