package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import org.apache.spark.sql.functions._

class GridFsSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(n: Int, seed: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + seed) % 251).toByte)

  test("round-trip: multi-chunk, single-chunk, and empty files") {
    val c = GridFsConnector("gridfs", tmpDir("gridfs-rt"), chunkSize = 8)
    val big = bytes(37, 1)   // 5 chunks: 8+8+8+8+5
    val one = bytes(5, 2)    // 1 chunk
    val empty = Array.emptyByteArray
    val df = Seq(("big.bin", big), ("one.bin", one), ("empty.bin", empty))
      .toDF("filename", "content")
    c.write(df, "media", WriteMode.Overwrite)
    val back = c.read(spark, "media")
      .select($"filename", $"length", $"md5", $"content")
      .as[(String, Long, String, Array[Byte])].collect().sortBy(_._1)
    assert(back.map(_._1).toSeq == Seq("big.bin", "empty.bin", "one.bin"))
    val byName = back.map(r => r._1 -> r).toMap
    assert(byName("big.bin")._2 == 37L && byName("big.bin")._4.sameElements(big))
    assert(byName("one.bin")._2 == 5L && byName("one.bin")._4.sameElements(one))
    assert(byName("empty.bin")._2 == 0L && byName("empty.bin")._4.isEmpty)
    // md5 column matches recomputation over reassembled content
    back.foreach { case (_, _, m, content) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(m == md.digest(content).map(b => f"$b%02x").mkString)
    }
  }

  test("chunk-boundary fuzz: every size around k*chunkSize round-trips byte-identical") {
    val chunk = 8
    val dir = tmpDir("gridfs-fuzz")
    val c = GridFsConnector("gridfs", dir, chunkSize = chunk)
    // sizes straddling every boundary through 3 chunks, plus a large odd one
    val sizes = Seq(0, 1, chunk - 1, chunk, chunk + 1,
      2 * chunk - 1, 2 * chunk, 2 * chunk + 1, 3 * chunk - 1, 3 * chunk, 1013)
    val files = sizes.zipWithIndex.map { case (n, i) => (s"f$n.bin", bytes(n, 100 + i)) }
    c.write(files.toDF("filename", "content"), "fuzz", WriteMode.Overwrite)
    val back = c.read(spark, "fuzz")
      .select($"filename", $"length", $"md5", $"content")
      .as[(String, Long, String, Array[Byte])].collect().map(r => r._1 -> r).toMap
    files.foreach { case (name, data) =>
      val (_, len, m, content) = back(name)
      assert(len == data.length, s"$name length")
      assert(content.sameElements(data), s"$name bytes diverged")
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(m == md.digest(data).map(b => f"$b%02x").mkString, s"$name md5")
    }
    // stored chunk count per file is exactly ceil(n/chunk)
    val counts = spark.read.parquet(s"$dir/fuzz.chunks")
      .groupBy($"files_id").count().as[(String, Long)].collect().toMap
    files.filter(_._2.nonEmpty).foreach { case (name, data) =>
      assert(counts(name) == (data.length + chunk - 1) / chunk, s"$name chunk count")
    }
  }

  test("chunk table layout: fixed-size chunks, 0-based n") {
    val dir = tmpDir("gridfs-layout")
    val c = GridFsConnector("gridfs", dir, chunkSize = 8)
    c.write(Seq(("f", bytes(20, 3))).toDF("filename", "content"), "b", WriteMode.Overwrite)
    val chunks = spark.read.parquet(s"$dir/b.chunks")
      .select($"n", length($"data").as("len")).as[(Int, Int)].collect().sortBy(_._1)
    assert(chunks.toSeq == Seq((0, 8), (1, 8), (2, 4)))
  }

  test("re-appending an existing filename: latest upload wins, no chunk interleaving") {
    val c = GridFsConnector("gridfs", tmpDir("gridfs-ver"), chunkSize = 8)
    val v1 = bytes(20, 7)
    val v2 = bytes(33, 8)
    c.write(Seq(("f.bin", v1)).toDF("filename", "content"), "b", WriteMode.Overwrite)
    c.write(Seq(("f.bin", v2)).toDF("filename", "content"), "b", WriteMode.Append)
    val rows = c.read(spark, "b")
      .select($"filename", $"length", $"content")
      .as[(String, Long, Array[Byte])].collect()
    assert(rows.length == 1) // one logical file, not two
    assert(rows.head._2 == 33L)
    assert(rows.head._3.sameElements(v2)) // exactly v2 — never a chunk mix
  }

  test("append mode adds files; listIndexes sees buckets") {
    val c = GridFsConnector("gridfs", tmpDir("gridfs-app"))
    c.write(Seq(("a", bytes(3, 4))).toDF("filename", "content"), "b1", WriteMode.Overwrite)
    c.write(Seq(("b", bytes(4, 5))).toDF("filename", "content"), "b1", WriteMode.Append)
    c.write(Seq(("c", bytes(5, 6))).toDF("filename", "content"), "b2", WriteMode.Overwrite)
    assert(c.listIndexes(spark) == Seq("b1", "b2"))
    assert(c.read(spark, "b1").count() == 2)
  }

  test("an upload evaluates each source row once") {
    val evaluated = spark.sparkContext.longAccumulator("gridfs-source-rows")
    val touch = udf { (_: String) => evaluated.add(1); true }.asNondeterministic()
    val src = (1 to 6).map(i => (s"f$i.bin", bytes(i * 5, i))).toDF("filename", "content")
      .repartition(2).filter(touch($"filename"))
    val c = GridFsConnector("gridfs", tmpDir("gridfs-once"), chunkSize = 8)
    c.write(src, "b", WriteMode.Overwrite)
    assert(evaluated.sum == 6L)
    c.write(src, "b", WriteMode.Append)
    assert(evaluated.sum == 12L)
    assert(src.storageLevel == org.apache.spark.storage.StorageLevel.NONE) // released after upload
    assert(c.read(spark, "b").count() == 6)
  }
}
