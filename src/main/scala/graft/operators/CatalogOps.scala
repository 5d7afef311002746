package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracled catalog-surface queries (round-18 verdict task 1): the V2
  * `TableCatalog` ([[graft.catalog.GraftCatalog]]) exercised through
  * PURE SQL — CREATE TABLE … USING graft, INSERT INTO (partitioned
  * carry-append), MERGE INTO (lowered onto the row-level
  * [[graft.core.ManifestMerge]]), and native `VERSION AS OF` time
  * travel — each value-gated against a DuckDB recomputation from the
  * raw corpus.
  *
  * Build recipe (one deterministic table per (session, corpus dir),
  * memoized like [[StorageOps.ensureMergedLayout]]):
  *
  *   v1  CREATE TABLE (o_orderkey, o_totalprice, o_orderstatus)
  *       PARTITIONED BY (o_orderstatus)  — empty commit, colmap at birth
  *   v2  INSERT INTO … SELECT … WHERE o_orderkey % 3 = 0
  *   v3  MERGE INTO … USING (… WHERE o_orderkey % 2 = 0) s
  *       ON t.o_orderkey = s.o_orderkey
  *       WHEN MATCHED     THEN UPDATE SET o_totalprice = t+s
  *       WHEN NOT MATCHED THEN INSERT …
  *
  * Final state: keys ≡0 (mod 3) ∪ ≡0 (mod 2); totalprice doubled on
  * keys ≡0 (mod 6). The queries read the final and the AS-OF-v2
  * states; the oracles recompute both straight from `orders`.
  */
object CatalogOps {

  private val tables = new graft.core.Memo[(SparkSession, String, String), String]

  /** Build (once per session+dir) and return the catalog table
    * `graftcat.bench.<name>_<tag>` under the session's `graftcat`
    * warehouse (configured by [[graft.Tables.configure]]); `fill(tbl,
    * src)` creates and loads it from `src`, a SQL relation over `dir`'s
    * orders. Touches no session state — no conf, no temp view — so
    * builds for several dirs can share one session at once.
    */
  private def catalogTable(spark: SparkSession, dir: String, name: String)(
      fill: (String, String) => Unit): String =
    tables((spark, name, dir)) {
      val tbl = s"graftcat.bench.${name}_${graft.core.Pin.tag(dir)}"
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.bench")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      fill(tbl, s"parquet.`$dir/orders.parquet`")
      tbl
    }

  /** The q158-q160 table (the build recipe above). */
  private[operators] def ensureTable(spark: SparkSession, dir: String): String =
    catalogTable(spark, dir, "orders") { (tbl, src) =>
      spark.sql(
        s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE,
           |  o_orderstatus STRING) USING graft PARTITIONED BY (o_orderstatus)
           |""".stripMargin)
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT o_orderkey, o_totalprice, o_orderstatus
           |FROM $src WHERE o_orderkey % 3 = 0
           |""".stripMargin)
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT o_orderkey, o_totalprice, o_orderstatus
           |       FROM $src WHERE o_orderkey % 2 = 0) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
           |  VALUES (s.o_orderkey, s.o_totalprice, s.o_orderstatus)
           |""".stripMargin): Unit
    }

  /** q158: per-status rollup of the catalog table's FINAL state — the
    * whole SQL lifecycle (create/insert/merge) value-gated end to end.
    */
  def sqlCatalogRollup(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(spark, dir)
    spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  round(sum(o_totalprice), 2) AS sum_price
         |FROM $tbl GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val oracleRollup: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
      |)
      |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** q159: the MERGE's row-level effect under a pushed key filter —
    * keys ≡0 (mod 6) carry DOUBLED prices (update applied exactly
    * once), read with a data filter that prunes through the catalog
    * path's manifest scan.
    */
  def sqlCatalogMergeDetail(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(spark, dir)
    spark.sql(
      s"""SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
         |FROM $tbl WHERE o_orderkey % 6 = 0""".stripMargin)
  }

  private val oracleMergeDetail: String =
    """SELECT count(*)::BIGINT AS n_rows,
      |  round(sum(o_totalprice) * 2, 2) AS sum_price
      |FROM orders WHERE o_orderkey % 6 = 0""".stripMargin

  /** q160: native `VERSION AS OF` through the catalog — version 2 is
    * the post-insert, pre-merge snapshot (1 = the empty creation
    * commit, 3 = the merge; the merge's gc retains 2 and 3).
    */
  def sqlCatalogTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(spark, dir)
    spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  round(sum(o_totalprice), 2) AS sum_price
         |FROM $tbl VERSION AS OF 2
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val oracleTimeTravel: String =
    """SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders WHERE o_orderkey % 3 = 0
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** The q161 table (the widening recipe below). */
  private[operators] def ensureWidenTable(spark: SparkSession, dir: String): String =
    catalogTable(spark, dir, "widen") { (t, src) =>
      spark.sql(s"CREATE TABLE $t (o_orderkey INT, o_totalprice DOUBLE) USING graft")
      spark.sql(
        s"""INSERT INTO $t SELECT cast(o_orderkey AS INT), o_totalprice
           |FROM $src WHERE o_orderkey % 5 = 0""".stripMargin)
      spark.sql(s"ALTER TABLE $t ALTER COLUMN o_orderkey TYPE BIGINT")
      spark.sql(
        s"""INSERT INTO $t SELECT o_orderkey + 5000000000, o_totalprice
           |FROM $src WHERE o_orderkey % 7 = 0""".stripMargin): Unit
    }

  /** q161: metadata-only TYPE WIDENING through pure SQL — the table is
    * created with an INT key, `ALTER TABLE … ALTER COLUMN … TYPE
    * BIGINT` widens it in one pointer commit (no data rewrite), and a
    * second insert lands keys beyond the int32 range; the rollup reads
    * narrow and wide generations in one scan. The round-17 answer to
    * "my id outgrew int32" was a full Overwrite.
    */
  def sqlCatalogWiden(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ensureWidenTable(spark, dir)
    spark.sql(
      s"""SELECT count(*) AS n_rows, sum(o_orderkey) AS sum_key,
         |  round(sum(o_totalprice), 2) AS sum_price
         |FROM $tbl WHERE o_orderkey > 2000000000""".stripMargin)
  }

  private val oracleWiden: String =
    """SELECT count(*)::BIGINT AS n_rows,
      |  sum(o_orderkey + 5000000000)::BIGINT AS sum_key,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_sql_catalog" -> (sqlCatalogRollup _),
    "q159_sql_catalog_merge" -> (sqlCatalogMergeDetail _),
    "q160_sql_catalog_time_travel" -> (sqlCatalogTimeTravel _),
    "q161_sql_catalog_widen" -> (sqlCatalogWiden _),
  )

  val oracles: Map[String, String] = Map(
    "q158_sql_catalog" -> oracleRollup,
    "q159_sql_catalog_merge" -> oracleMergeDetail,
    "q160_sql_catalog_time_travel" -> oracleTimeTravel,
    "q161_sql_catalog_widen" -> oracleWiden,
  )
}
