package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextPrims._

/** Span-level deduplication and contamination localization.
  *
  * q92 measures HOW MUCH of each document is duplicated elsewhere
  * (per-doc duplicated-gram fractions); these operators localize
  * WHERE — the maximal token intervals covered by cross-document
  * repeated 5-grams. Span localization is the production shape of
  * dedup at 100 TB: instead of dropping a whole document because 8%
  * of it is boilerplate, you cut the boilerplate spans and keep the
  * rest (Lee et al. 2021, "Deduplicating Training Data Makes
  * Language Models Better", does exactly this with a suffix array;
  * the Spark-native equivalent below reaches the same spans through
  * relational primitives).
  *
  * Span definition: a token position is COVERED when some qualifying
  * 5-gram occurrence overlaps it; a span is a maximal run of
  * consecutive covered positions. Built this way, spans within a
  * document are disjoint by construction, so per-doc span-token sums
  * never double-count and the scrub audit (q118) is exact.
  *
  * Scale shape — every stage is linear in corpus size, with NO pair
  * expansion anywhere (contrast q20's Σdf² posting lists, which is
  * why that one is fenced):
  *   - gram extraction: map-only generator, ×~n_words rows;
  *   - "shared by ≥2 docs": a plain keyed aggregation on gram — one
  *     shuffle, output ≤ distinct grams, never doc×doc;
  *   - occurrence filter: equi-semi-join grams→shared-grams;
  *   - covered positions: map-side ×5 explode + distinct (keyed);
  *   - island merge: a window partitioned BY DOC over only the
  *     covered positions — bounded by document length, never global.
  * q119's eval-gram side is tiny (the benchmark) and broadcast.
  */
object SpanOps {

  private val Gram = 5
  /** Minimum span length (words) worth scrubbing — short incidental
    * matches stay; long verbatim repeats go. (Lee et al. use 50 BPE
    * tokens at web scale; 8 words keeps the policy visible at the
    * test SFs.)
    */
  private[graft] val MinDupSpan = 8

  /** (doc_id, pos, gram): every word 5-gram with its 1-based start —
    * works on any frame with (doc_id, text), batch or micro-batch
    * (the streaming ingest-time scrub reuses it).
    */
  private[graft] def gramsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= Gram)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(1, size(w) - ${Gram - 1}), i -> concat_ws(' ', slice(w, i, $Gram)))")))
      .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("gram"))
  }

  /** The corpus (doc_id, pos, 5-gram) index as a durable session-
    * shared artifact — the ingest-time materialization a span-dedup
    * deployment stores next to its documents. Before round 9 every
    * span query re-exploded it, TWICE each (shared-gram filter + join
    * back in q117/q118, eval set + train occurrences in q119).
    */
  private[operators] def grams(spark: SparkSession, dir: String): DataFrame =
    graft.core.Pin.shared(spark, s"grams5-${graft.core.Pin.tag(dir)}")(
      gramsOf(Tables.load(spark, dir, "documents")))

  /** The durable eval-suite 5-gram artifact (docs < 20, the q69/q96/
    * q119 held-out convention) — fixed at ingest in production, read by
    * q119's broadcast side each run instead of re-running the distinct
    * over the span index (round 19, the evalShinglePin pattern).
    */
  private[operators] def evalGramsPin(spark: SparkSession, dir: String): DataFrame =
    graft.core.Pin.shared(spark, s"evgrams5-${graft.core.Pin.tag(dir)}")(
      grams(spark, dir).filter(col("doc_id") < 20).select(col("gram")).distinct())

  /** Maximal disjoint covered intervals from qualifying gram starts.
    * Islands via the classic gaps-and-islands trick: consecutive
    * covered positions share (p - row_number).
    */
  private[graft] def spansOf(occ: DataFrame): DataFrame = {
    val cov = occ
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${Gram - 1})")).as("p"))
      .distinct()
    cov
      .withColumn("grp",
        col("p") - row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min("p").cast("long").as("span_start"),
        max("p").cast("long").as("span_end"),
        count(lit(1)).as("span_words"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_words"))
  }

  /** Occurrences of grams shared by ≥2 distinct documents. */
  private def sharedOcc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = grams(spark, dir)
    // "shared by ≥2 distinct docs" ⟺ the gram's doc ids are not all
    // equal — min/max replaces count(DISTINCT doc_id) (optimization
    // round 18, same rewrite as q92): one map-side-partial aggregation
    // instead of a two-stage distinct expansion. Exact, not
    // approximate.
    val shared = g.groupBy($"gram")
      .agg(min($"doc_id").as("d0"), max($"doc_id").as("d1"))
      .filter($"d0" =!= $"d1")
      .select($"gram")
    g.join(shared, "gram").select($"doc_id", $"pos")
  }

  // -------------------------------------------------- q117 dup spans

  /** Cross-document duplicated spans ≥ MinDupSpan words: the exact
    * intervals a span-level dedup pass would cut.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spansOf(sharedOcc(spark, dir))
      .filter($"span_words" >= MinDupSpan)
      .orderBy($"doc_id", $"span_start")
  }

  // -------------------------------------------------- q118 scrub audit

  /** Per-document scrub audit: tokens, tokens inside scrubbed spans,
    * tokens kept, scrub fraction — the corpus-level decision view
    * ("what does span dedup save us") one aggregation away.
    */
  def spanScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select($"doc_id", size(words($"text")).cast("long").as("tokens"))
    val perDoc = spansOf(sharedOcc(spark, dir))
      .filter($"span_words" >= MinDupSpan)
      .groupBy($"doc_id")
      .agg(sum($"span_words").as("dup_tokens"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_tokens"))
      .select($"doc_id", $"tokens", $"dup_tokens",
        ($"tokens" - $"dup_tokens").as("kept_tokens"),
        round($"dup_tokens" / $"tokens", 6).as("scrub_frac"))
      .orderBy($"doc_id")
  }

  // ----------------------------------------- q119 contamination spans

  /** Benchmark-contamination localization: spans of train documents
    * (doc_id ≥ 20) covered by 5-grams that also appear in the eval
    * set (doc_id < 20 — same held-out convention as q69/q96). No
    * length threshold: ANY verbatim 5-gram from a benchmark is
    * removal-worthy, a stricter policy than dup scrubbing.
    */
  def contaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = grams(spark, dir)
    val evalGrams = evalGramsPin(spark, dir) // identical rows to the old inline distinct
    val occ = g.filter($"doc_id" >= 20)
      .join(broadcast(evalGrams), "gram")
      .select($"doc_id", $"pos")
    spansOf(occ).orderBy($"doc_id", $"span_start")
  }

  // ------------------------------------------------------- oracles

  /** Shared CTE prefix: grams with positions. */
  private def gramCte: String =
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wg AS (SELECT doc_id, w FROM w WHERE len(w) >= $Gram),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
       |  FROM wg, unnest(generate_series(1, len(w) - ${Gram - 1})) AS t(i))""".stripMargin

  /** Shared CTE suffix: qualifying occurrences `q(doc_id, pos)` →
    * disjoint spans via covered-position islands.
    */
  private def spanCtes: String =
    s"""cov AS (
       |  SELECT DISTINCT doc_id, p
       |  FROM q, unnest(generate_series(pos, pos + ${Gram - 1})) AS u(p)),
       |isl AS (
       |  SELECT doc_id, p,
       |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |  FROM cov),
       |spans AS (
       |  SELECT doc_id, min(p) AS span_start, max(p) AS span_end,
       |         count(*) AS span_words
       |  FROM isl GROUP BY doc_id, grp)""".stripMargin

  private def dupOccCtes: String =
    """sh AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |q AS (SELECT g.doc_id, g.pos FROM g JOIN sh USING (gram))""".stripMargin

  private def oracleDupSpans: String =
    s"""WITH $gramCte,
       |$dupOccCtes,
       |$spanCtes
       |SELECT doc_id, span_start, span_end, span_words
       |FROM spans WHERE span_words >= $MinDupSpan
       |ORDER BY doc_id, span_start""".stripMargin

  private def oracleSpanScrub: String =
    s"""WITH $gramCte,
       |$dupOccCtes,
       |$spanCtes,
       |d AS (
       |  SELECT doc_id, sum(span_words) AS dup_tokens
       |  FROM spans WHERE span_words >= $MinDupSpan GROUP BY doc_id)
       |SELECT w.doc_id, len(w.w)::BIGINT AS tokens,
       |       coalesce(d.dup_tokens, 0)::BIGINT AS dup_tokens,
       |       (len(w.w) - coalesce(d.dup_tokens, 0))::BIGINT AS kept_tokens,
       |       round(coalesce(d.dup_tokens, 0)::DOUBLE / len(w.w), 6) AS scrub_frac
       |FROM w LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin

  private def oracleContaminationSpans: String =
    s"""WITH $gramCte,
       |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
       |q AS (SELECT g.doc_id, g.pos FROM g JOIN ev USING (gram) WHERE g.doc_id >= 20),
       |$spanCtes
       |SELECT doc_id, span_start, span_end, span_words
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------- q146 within-doc repetition scrub

  /** q146: WITHIN-document repetition scrub — the intra-doc sibling of
    * the cross-doc span scrubs above, and the removal step behind
    * q71's repetition PROFILE (the Gopher/MassiveText repetition
    * filters measure duplicate-line fractions precisely so this cut
    * can be made; Rae et al. 2021 §A.1.1). Each document keeps the
    * FIRST occurrence of every distinct sentence, in original order —
    * scraped pages repeat nav/boilerplate sentences within one page,
    * and repeated text both wastes tokens and trains degenerate
    * loops. Shape: one explode keyed by (doc, sentence) — the
    * min(pos) agg and the rebuild both shuffle on doc-cardinality
    * keys, no window over the corpus, no pairs. Output carries the
    * rebuilt text (hash-compared against the oracle's identical
    * rebuild) plus the count companions.
    */
  def repetitionScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sent = Tables.load(spark, dir, "documents")
      .select($"doc_id", posexplode(split($"text", "\\. ")))
      .toDF("doc_id", "pos", "sentence")
    val first = sent.groupBy($"doc_id", $"sentence")
      .agg(min($"pos").as("first_pos"), count(lit(1)).as("n_occ"))
    first.groupBy($"doc_id")
      .agg(
        sum($"n_occ").cast("long").as("n_sentences"),
        count(lit(1)).as("n_unique"),
        array_join(
          transform(
            array_sort(collect_list(struct($"first_pos", $"sentence"))),
            s => s.getField("sentence")),
          ". ").as("scrubbed"))
      .orderBy($"doc_id")
  }

  private def oracleRepetitionScrub: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, '. ')) AS sentence,
      |    unnest(generate_series(0, len(string_split(text, '. ')) - 1))
      |      AS pos
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, sentence, min(pos) AS first_pos,
      |    count(*) AS n_occ
      |  FROM s GROUP BY doc_id, sentence)
      |SELECT doc_id, sum(n_occ)::BIGINT AS n_sentences,
      |  count(*)::BIGINT AS n_unique,
      |  string_agg(sentence, '. ' ORDER BY first_pos) AS scrubbed
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q117_dup_spans" -> (dupSpans _),
    "q118_span_scrub" -> (spanScrub _),
    "q119_contamination_spans" -> (contaminationSpans _),
    "q146_repetition_scrub" -> (repetitionScrub _),
  )

  val oracles: Map[String, String] = Map(
    "q117_dup_spans" -> oracleDupSpans,
    "q118_span_scrub" -> oracleSpanScrub,
    "q119_contamination_spans" -> oracleContaminationSpans,
    "q146_repetition_scrub" -> oracleRepetitionScrub,
  )
}
