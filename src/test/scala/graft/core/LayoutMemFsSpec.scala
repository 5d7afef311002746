package graft.core

import graft.SparkSpec

/** Round-11 continuation of the MemFs durability story: the STORAGE
  * LAYOUTS (not just the pins) on HDFS-semantics storage. Until this
  * round the layout ensure-functions probed their `_SUCCESS`/`_ERASED`
  * markers with `java.io.File` against the driver's local disk — on a
  * cluster whose default FS is HDFS/S3 that check could never see the
  * layout the write path created remotely (rebuild every call), and
  * q142's erased-marker would split-brain (marker local, data remote).
  * This spec drives the DEEPEST layout build — q142's erased copy:
  * partitioned dynamic write, per-partition rewrite with tmp-dir
  * rename swaps, completion marker — entirely on [[MemFs]], plus the
  * consuming audit query, value-identical to the local-root run.
  */
class LayoutMemFsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def memKeys(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    MemFsStore.entries.keySet().asScala.toSeq.sorted
  }

  test("q142 erased layout builds, swaps partitions and audits on HDFS-semantics storage") {
    val expected = graft.SparkEntry.queries("q142_erase_audit")(spark, sfDir)
      .collect().map(_.toString).toSeq
    MemFsStore.clear()
    spark.sparkContext.hadoopConfiguration
      .set("fs.memfs.impl", classOf[MemFs].getName)
    val s = spark.newSession()
    s.conf.set(graft.operators.StorageOps.RootConfKey, "memfs://shared/layout")
    val got = graft.SparkEntry.queries("q142_erase_audit")(s, sfDir)
      .collect().map(_.toString).toSeq
    assert(got == expected)
    // the layout really lives in the mem store: partition dirs from the
    // dynamic write + the erase-completion marker
    val keys = memKeys()
    assert(keys.exists(k => k.contains("/layout/") && k.contains("events_erased/day=")),
      s"no erased partition dirs on memfs: ${keys.filter(_.contains("layout")).take(10)}")
    assert(keys.exists(k => k.endsWith("events_erased/_ERASED")),
      "erase-completion marker missing on memfs")
    // marker probe goes through the SAME fs: a second call in this
    // session must fast-forward (marker found), not rebuild —
    // observable as identical file set afterwards
    val before = keys
    val again = graft.SparkEntry.queries("q142_erase_audit")(s, sfDir)
      .collect().map(_.toString).toSeq
    assert(again == expected)
    assert(memKeys() == before, "re-entry rebuilt a layout the marker should have skipped")
  }

  test("base rollup (q141 artifact) builds and re-reads on HDFS-semantics storage") {
    val expected = graft.SparkEntry.queries("q141_incremental_rollup")(spark, sfDir)
      .collect().map(_.toString).toSeq
    MemFsStore.clear()
    spark.sparkContext.hadoopConfiguration
      .set("fs.memfs.impl", classOf[MemFs].getName)
    val s = spark.newSession()
    s.conf.set(graft.operators.StorageOps.RootConfKey, "memfs://shared/layout")
    val got = graft.SparkEntry.queries("q141_incremental_rollup")(s, sfDir)
      .collect().map(_.toString).toSeq
    assert(got == expected)
    assert(memKeys().exists(_.contains("rollup_base_d6")),
      "rollup base artifact missing on memfs")
  }
}
