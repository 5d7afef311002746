package graft.operators

import java.util.concurrent.Executors

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The q158-q161 catalog tables touch no shared session state, so
  * builds for two corpus dirs can run in one session at once.
  */
class CatalogOpsSpec extends SparkSpec {

  test("two corpus dirs build their catalog tables at once in one session, each from its own orders") {
    val s = spark.newSession() // a fresh memo key: every build below really runs
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val builds = Seq[(org.apache.spark.sql.SparkSession, String) => String](
      CatalogOps.ensureTable, CatalogOps.ensureWidenTable)
    val pool = Executors.newFixedThreadPool(4)
    val tables =
      try dirs.flatMap(d => builds.map(b => pool.submit(() => b(s, d)))).map(_.get())
      finally pool.shutdown()
    def rows(tbl: String) = s.sql(s"SELECT count(*) FROM $tbl").head().getLong(0)
    val counts = dirs.zip(tables.grouped(2).toSeq).map { case (d, Seq(orders, widen)) =>
      val k = s.read.parquet(s"$d/orders.parquet").select(col("o_orderkey"))
      def keys(m: Int) = k.filter(col("o_orderkey") % m === 0).count()
      val merged = k.filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 2 === 0).count()
      assert(rows(orders) == merged, s"$orders does not hold $d's orders")
      assert(rows(widen) == keys(5) + keys(7), s"$widen does not hold $d's orders")
      merged
    }
    assert(counts.distinct.size == 2, s"the two dirs must differ to tell them apart: $counts")
  }
}
