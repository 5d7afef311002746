package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}
import java.nio.charset.StandardCharsets

class EmulatedStoresSpec extends SparkSpec {
  import spark.implicits._

  test("EsConnector: _id from pks, bulk write upserts by _id, mapping sidecar emitted") {
    val es = EsConnector("es", tmpDir("es"), pks = Map("docs" -> Seq("k1", "k2")))
    es.write(Seq((1, "a", "v1"), (2, "b", "v2")).toDF("k1", "k2", "v"), "docs", WriteMode.Overwrite)
    val first = es.read(spark, "docs")
    assert(first.columns.contains("_id"))
    assert(first.filter($"_id" === "1-a").count() == 1) // joined-pk _id (db/__init__.py:125 analog)

    // bulk semantics: same _id replaces, new _id appends
    es.write(Seq((1, "a", "v1-new"), (3, "c", "v3")).toDF("k1", "k2", "v"), "docs",
      WriteMode.Append)
    val after = es.read(spark, "docs")
    assert(after.count() == 3)
    assert(after.filter($"_id" === "1-a").select("v").as[String].head() == "v1-new")

    val mapping = es.readMapping(spark, "docs")
    assert(mapping.contains(""""v": {"type": "text""""))
    assert(mapping.contains("keyword")) // text fields carry keyword subfield
    assert(es.listIndexes(spark) == Seq("docs"))
  }

  test("EsConnector: Overwrite over an EXISTING index drops old docs (no upsert fallthrough)") {
    val es = EsConnector("es3", tmpDir("es3"), pks = Map("docs" -> Seq("k")))
    es.write(Seq((1, "old1"), (2, "old2")).toDF("k", "v"), "docs", WriteMode.Overwrite)
    // Overwrite again with a disjoint batch: old docs must NOT survive.
    es.write(Seq((9, "new")).toDF("k", "v"), "docs", WriteMode.Overwrite)
    val after = es.read(spark, "docs")
    assert(after.count() == 1)
    assert(after.select("v").as[String].head() == "new")
  }

  test("EsConnector: content md5 _id when no pks; search applies query") {
    val es = EsConnector("es2", tmpDir("es2"))
    es.write(Seq((1, "x")).toDF("a", "b"), "i", WriteMode.Overwrite)
    val id = es.read(spark, "i").select("_id").as[String].head()
    assert(id.length == 32) // md5 hex
    val hits = es.search(spark, "i", _.filter($"a" === 1))
    assert(hits.count() == 1)
  }

  test("MongoConnector: read drops _id; overwrite backs up collection; append appends") {
    val m = MongoConnector("mongo", tmpDir("mongo"))
    m.write(Seq((1, "a")).toDF("x", "y"), "coll", WriteMode.Overwrite)
    m.write(Seq((2, "b")).toDF("x", "y"), "coll", WriteMode.Append)
    assert(m.read(spark, "coll").count() == 2)

    m.write(Seq((9, "z")).toDF("x", "y"), "coll", WriteMode.Overwrite)
    assert(m.read(spark, "coll").count() == 1) // fresh collection
    // the old collection survived as a _bak_ rename
    val baks = new java.io.File(m.root).list().filter(_.contains("_bak_"))
    assert(baks.length == 1)
    assert(m.listIndexes(spark) == Seq("coll")) // baks hidden from catalog
  }

  private def makeZip(path: String, members: (String, String)*): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(path))
    members.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
  }

  test("ZipSource: members concatenate, headers dropped per member, quoted CSV handled") {
    val dir = tmpDir("zips")
    makeZip(s"$dir/t.zip",
      "part1.csv" -> "id,name\n1,alice\n2,\"bob, jr\"\n",
      "part2.csv" -> "id,name\n3,\"say \"\"hi\"\"\"\n",
      "notes.txt" -> "ignored non-csv member")
    val df = spark.read.format("zip").load(s"$dir/t.zip")
    assert(df.columns.toSeq == Seq("id", "name"))
    val rows = df.orderBy($"id").as[(String, String)].collect().toSeq
    assert(rows == Seq(("1", "alice"), ("2", "bob, jr"), ("3", "say \"hi\"")))
  }

  test("ZipConnector: catalog listing and scan-only contract") {
    val dir = tmpDir("zipconn")
    makeZip(s"$dir/a.zip", "m.csv" -> "c\n1\n")
    makeZip(s"$dir/b.zip", "m.csv" -> "c\n2\n")
    val zc = ZipConnector("zip", dir)
    assert(zc.listIndexes(spark) == Seq("a", "b"))
    assert(zc.read(spark, "a").count() == 1)
    intercept[UnsupportedOperationException] {
      zc.write(Seq(1).toDF("c"), "a", WriteMode.Append)
    }
  }
}
