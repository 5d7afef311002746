package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Round-19 optimization pins — each test locks in a plan/behavior
  * property one of this round's rewrites established, so a later
  * refactor can't silently put the cost back:
  *
  *  - q21 reads its MinHash band keys from the durable `mhbands` pin:
  *    no per-run salted-md5 signature recompute in its plan (the
  *    pairing pins, q78's among them, are in [[BucketPairsSpec]]);
  *  - q105 counts hits with ONE (method, q_id) aggregation over the
  *    unioned candidate sets, not one aggregation per method;
  *  - q62/q105's IVF legs read the pinned coarse-quantizer centroids;
  *    q69/q96's eval legs read the pinned eval-shingle artifact.
  */
class OptimizationR19Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlanString(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q21: band keys come from the mhbands pin — no md5 recompute, no banding self-join") {
    val plan = executedPlanString(TextDedup.dedupMinhashLsh(spark, dir))
    assert(plan.contains("mhbands-"), s"q21 must scan the mhbands pin:\n$plan")
    assert(!plan.contains("md5("), s"per-run md5 signature work crept back into q21:\n$plan")
  }

  test("q105: hit counting is ONE (method, q_id) aggregation over the unioned methods") {
    val plan = executedPlanString(CorpusOps.annRecall(spark, dir))
    val aggExchanges = "hashpartitioning\\(method".r.findAllIn(plan).length
    // one per plan rendering (the formatted dump repeats the plan in
    // the Final/Initial sections; require at least one and no more
    // than one per section)
    assert(aggExchanges >= 1 && aggExchanges <= 2,
      s"expected the single (method, q_id) hit aggregation, found $aggExchanges:\n$plan")
  }

  test("q62: the IVF coarse quantizer is the pinned artifact") {
    val plan = executedPlanString(Similarity.annIvf(spark, dir))
    assert(plan.contains("ivf-cents-"), s"q62 must read the centroid pin:\n$plan")
    assert(!plan.contains("posexplode"),
      s"per-run centroid recompute crept back into q62:\n$plan")
  }

  test("q75: the df branch reuses the tf exchange and broadcasts df, not tf") {
    val plan = executedPlanString(TextAnalysis.tfidfTopTerms(spark, dir))
    assert(plan.contains("ReusedExchange"),
      s"q75's df branch re-scans and re-explodes the corpus instead of reusing the tf exchange:\n$plan")
    // the join build side must be the vocabulary-sized df, never the
    // corpus-sized tf (the planner picked tf before the explicit hint)
    assert(!plan.contains("BuildLeft"),
      s"q75's join broadcasts the corpus-sized tf side again:\n$plan")
  }

  test("q69/q96: eval legs read the pinned eval-shingle artifact") {
    for (df <- Seq(PipelineOps.decontamination(spark, dir),
                   CorpusOps.bloomDecontam(spark, dir))) {
      val plan = executedPlanString(df)
      assert(plan.contains("evshingles-"),
        s"eval leg must read the evshingles pin:\n$plan")
    }
  }
}
