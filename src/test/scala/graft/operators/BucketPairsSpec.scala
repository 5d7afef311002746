package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one bucket-pair operator ([[TextPrims.bucketPairs]] and its
  * cross, [[TextPrims.bucketCross]]): its pairs equal a reference
  * self-join on generated buckets, and the pairing families' executed
  * plans expand posting lists as a stream — no row ever holds a
  * bucket's pair array.
  */
class BucketPairsSpec extends SparkSpec {
  import TextPrims.{bucketCross, bucketPairs}

  private val dir = "/root/testdata/sf0.001"
  private val Cap = 6
  private val keys = Seq("band", "bkey")

  /** (band, bkey, id, p) rows over three bands. Per band: singletons,
    * buckets of Cap-1, Cap and Cap+1 ids, a few random sizes, and one
    * fixed bucket {41, 7, 23} whose pairs therefore meet in every band.
    * Ids come from a 60-id pool and arrive shuffled; `p` is a payload
    * that travels with the id in a struct item.
    */
  private lazy val rows: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val sizes = Seq(1, 1, 2, Cap - 1, Cap, Cap + 1) ++ Seq.fill(4)(2 + rnd.nextInt(10))
    val rs = for {
      band <- 0 until 3
      (ids, bkey) <- (sizes.map(n => rnd.shuffle((0L until 60L).toList).take(n)) :+
        List(41L, 7L, 23L)).zipWithIndex
      id <- ids
    } yield (band, bkey, id, id * 7 % 13)
    rnd.shuffle(rs).toDF("band", "bkey", "id", "p").repartition(3)
  }

  /** The reference: a self-join of rows x, y on the bucket key with
    * x.id < y.id (or `side`), over the buckets of at most `cap` rows.
    */
  private def selfJoin(cap: Int = Int.MaxValue,
      side: Column = col("x.id") < col("y.id")): DataFrame = {
    val small = rows.groupBy(keys.map(col): _*).count().filter(col("count") <= cap)
    val kept = rows.join(small, keys, "left_semi")
    kept.alias("x").join(kept.alias("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) && side)
      .select(col("x.id").as("a"), col("y.id").as("b"), col("x.p").as("pa"), col("y.p").as("pb"))
  }

  private def counted(df: DataFrame) = df.groupBy("a", "b").count().collect().toSet

  test("pairs equal the reference self-join, once per shared bucket") {
    val ref = counted(selfJoin())
    assert(counted(bucketPairs(rows, keys, col("id"))) == ref)
    // non-vacuous: the fixed bucket's pairs meet in all three bands
    assert(ref.count(_.getLong(2) >= 3L) >= 3, ref)
  }

  test("the cap drops a bucket above it whole, and keeps one at it") {
    val ref = counted(selfJoin(Cap))
    assert(counted(bucketPairs(rows, keys, col("id"), Cap)) == ref)
    assert(counted(bucketPairs(rows, keys, col("id"), Cap - 1)) == counted(selfJoin(Cap - 1)))
    // non-vacuous: the buckets of Cap and Cap+1 ids each change the pairs
    assert(selfJoin(Cap - 1).count() < selfJoin(Cap).count() &&
      selfJoin(Cap).count() < selfJoin().count())
  }

  test("a struct item pairs by its first field and carries the rest") {
    val got = bucketPairs(rows, keys, struct(col("id"), col("p")))
      .select(col("a.id").as("a"), col("b.id").as("b"), col("a.p").as("pa"), col("b.p").as("pb"))
    assert(got.distinct().collect().toSet == selfJoin().distinct().collect().toSet)
  }

  test("the cross pairs each left id with each right id of its bucket; an empty side pairs nothing") {
    val isLeft = pmod(col("id"), lit(3L)) === 0
    val ref = selfJoin(side =
      pmod(col("x.id"), lit(3L)) === 0 && pmod(col("y.id"), lit(3L)) =!= 0)
    assert(counted(bucketCross(rows, keys, col("id"), isLeft)) == counted(ref))
    assert(ref.count() > 0)
    assert(bucketCross(rows, keys, col("id"), lit(false)).isEmpty)
    assert(bucketCross(rows, keys, col("id"), lit(true)).isEmpty)
    assert(bucketPairs(rows.limit(0), keys, col("id")).isEmpty)
  }

  private def executedPlanString(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("no pairing query builds a bucket's pair array inside one row") {
    for (p <- Seq("q21_", "q23_", "q61_", "q78_", "q79_", "q99_", "q128_", "q132_")) {
      val name = SparkEntry.queries.keys.find(_.startsWith(p)).get
      val plan = executedPlanString(SparkEntry.queries(name)(spark, dir))
      assert(!plan.contains("flatten("), s"$name expands a bucket in one row:\n$plan")
    }
  }

  test("q78: incremental candidates are an in-row bucket cross over the mhbands pin") {
    val plan = executedPlanString(TextDedup.dedupIncremental(spark, dir))
    assert(plan.contains("mhbands-"), s"q78 must scan the mhbands pin:\n$plan")
    assert(!plan.contains("md5("), s"per-run md5 signature work crept back into q78:\n$plan")
  }

  test("q79: pairing is one keyed aggregation — no cap semi-join, no self-join") {
    val plan = executedPlanString(TextDedup.simhashPairs(spark, dir))
    assert(!plan.contains("Join"), s"a join crept back into q79's pairing:\n$plan")
  }

  test("q23: pairing is one keyed aggregation — no cap semi-join, no banded self-join") {
    val plan = executedPlanString(TextDedup.dedupEmbedding(spark, dir))
    assert(!plan.contains("LeftSemi"),
      s"the bucket-census cap semi-join crept back into q23:\n$plan")
    // the embedding fetch joins (by a_id/b_id) legitimately remain; the
    // pairing itself must be the in-row posting-list expansion
    assert(plan.contains("collect_list"),
      s"q23's in-row posting-list pairing is gone:\n$plan")
  }
}
