package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextPrims._

/** Text-analysis operators over the `documents` table: quality scoring,
  * language ID, token counting, document fingerprinting. All are pure
  * per-row Column expressions — map-only plans, no shuffle, full
  * whole-stage codegen; at 100 TB they scan at parquet read speed.
  * Every formula has an exact DuckDB rendering for the oracle.
  */
object TextAnalysis {

  /** Quality scoring: length/stopword/type-token signals, the standard
    * pre-training filters (length, repetition, stopword density).
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = words($"text")
    val nWords = size(w).cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    val sumLen = expr("aggregate(transform(split(text, ' '), x -> length(x)), 0L, (a, v) -> a + v)")
    val stopHits = size(filter(w, x => x.isin("a", "the"))).cast("long")
    val ttr = nDistinct.cast("double") / nWords
    val stopRatio = stopHits.cast("double") / nWords
    val quality = least(nWords.cast("double") / lit(50.0), lit(1.0)) * ttr * (lit(1.0) - stopRatio)
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        nWords.as("n_words"),
        nDistinct.as("n_distinct"),
        round(sumLen.cast("double") / nWords, 4).as("avg_word_len"),
        round(ttr, 4).as("type_token_ratio"),
        round(stopRatio, 4).as("stopword_ratio"),
        round(quality, 4).as("quality"))
      .orderBy($"doc_id")
  }

  private def oracleQuality: String =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS n_words,
      |  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
      |  round(list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
      |        / len(string_split(text, ' ')), 4) AS avg_word_len,
      |  round(len(list_distinct(string_split(text, ' ')))::DOUBLE
      |        / len(string_split(text, ' ')), 4) AS type_token_ratio,
      |  round(len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the')))::DOUBLE
      |        / len(string_split(text, ' ')), 4) AS stopword_ratio,
      |  round(least(len(string_split(text, ' '))::DOUBLE / 50.0, 1.0)
      |        * (len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')))
      |        * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the')))::DOUBLE
      |           / len(string_split(text, ' '))), 4) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Stopword lists per language (top function words; the zh leg is a
    * CJK-codepoint check). The heuristic is the standard n-gram/stopword
    * profile scorer; on this synthetic shared-vocabulary corpus most
    * docs score as 'en' — the operator's contract is the deterministic
    * formula, mirrored in the oracle, plus an agreement column vs the
    * corpus label.
    */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
  )

  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = words($"text")
    val n = size(w).cast("double")
    val scores = stopwords.map { case (lg, sw) =>
      lg -> (size(filter(w, x => x.isin(sw: _*))).cast("double") / n)
    }
    val scoreCols = scores.map { case (lg, c) => round(c, 4).as(s"score_$lg") }
    val isZh = regexp_count($"text", lit("[\\x{4e00}-\\x{9fff}]")) > 0
    // argmax with fixed tie order en > de > fr > es
    val Seq(en, de, fr, es) = scores.map(_._2)
    val predLang = when(isZh, "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    Tables.load(spark, dir, "documents")
      .select(($"doc_id" +: predLang.as("pred_lang") +: ($"lang" === predLang).as("agree") +: scoreCols): _*)
      .orderBy($"doc_id")
  }

  private def oracleLangId: String = {
    def score(sw: Seq[String]): String =
      s"(len(list_filter(string_split(text, ' '), x -> x IN (${sw.map(s => s"'$s'").mkString(", ")})))::DOUBLE" +
        " / len(string_split(text, ' ')))"
    val Seq(en, de, fr, es) = stopwords.map { case (_, sw) => score(sw) }
    val scoreCols = stopwords.map { case (lg, sw) => s"round(${score(sw)}, 4) AS score_$lg" }.mkString(",\n  ")
    s"""SELECT doc_id,
       |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
       |       WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |       WHEN $de >= $fr AND $de >= $es THEN 'de'
       |       WHEN $fr >= $es THEN 'fr'
       |       ELSE 'es' END AS pred_lang,
       |  lang = (CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
       |       WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |       WHEN $de >= $fr AND $de >= $es THEN 'de'
       |       WHEN $fr >= $es THEN 'fr'
       |       ELSE 'es' END) AS agree,
       |  $scoreCols
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Token counting three ways: whitespace tokens, a BPE-ish regex
    * (letter runs / single digits / punctuation — the GPT-2 pre-tokenizer
    * shape), and the chars/4 rule-of-thumb estimate.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        size(words($"text")).cast("long").as("ws_tokens"),
        regexp_count($"text", lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long").as("re_tokens"),
        ceil(length($"text").cast("double") / 4.0).cast("long").as("est_bpe"))
      .orderBy($"doc_id")
  }

  private def oracleTokenCount: String =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS re_tokens,
      |  ceil(length(text)::DOUBLE / 4.0)::BIGINT AS est_bpe
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: md5 of the whitespace/punct-normalized
    * text (fuzzy-exact dedup key) plus a TRUE rolling-hash minimum over
    * char 8-grams (winnowing-style content fingerprint, robust to local
    * edits) — [[graft.functions.RollingMinHash]], a codegen'd
    * Rabin–Karp pass: O(n) adds/multiplies per document instead of the
    * ~400 md5 calls the md5-per-window formulation cost (round-1
    * bench's slowest query). Map-only; the fingerprint then feeds the
    * same hash-groupBy as exact dedup.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val norm = trim(regexp_replace(regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " "))
    Tables.load(spark, dir, "documents")
      .withColumn("norm", norm)
      .filter(length($"norm") >= 8)
      .select(
        $"doc_id",
        md5($"norm").as("fp_md5"),
        graft.functions.RollingMinHash($"norm").as("fp_rolling"))
      .orderBy($"doc_id")
  }

  private def oracleFingerprint: String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
       |  FROM documents)
       |SELECT doc_id, md5(norm) AS fp_md5,
       |  ${graft.functions.RollingMinHash.duckDbSql("norm")} AS fp_rolling
       |FROM n WHERE length(norm) >= 8 ORDER BY doc_id""".stripMargin

  /** Corpus rollup: per (lang, source) quality/token statistics — the
    * monitoring query a pipeline runs per ingest batch. One shuffle on
    * the low-cardinality group keys with map-side partial aggregation.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = words($"text")
    Tables.load(spark, dir, "documents")
      .select($"lang", $"source", size(w).cast("long").as("nw"), $"n_chars")
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"nw").as("total_words"),
        round(avg($"nw"), 4).as("avg_words"),
        round(avg($"n_chars"), 4).as("avg_chars"))
      .orderBy($"lang", $"source")
  }

  private def oracleCorpusStats: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  sum(len(string_split(text, ' ')))::BIGINT AS total_words,
      |  round(avg(len(string_split(text, ' '))), 4) AS avg_words,
      |  round(avg(n_chars), 4) AS avg_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Vocabulary construction: corpus-wide word counts with rank — the
    * tokenizer-training input. Partial aggregation map-side; the
    * shuffle carries only distinct words.
    */
  def vocabulary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(explode(words($"text")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word")
      .agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"word")
      .limit(50)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"freq".desc, $"word")).cast("long"))
  }

  private def oracleVocabulary: String =
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
      |FROM (SELECT word, count(*) AS freq FROM w WHERE word <> '' GROUP BY word)
      |ORDER BY freq DESC, word LIMIT 50""".stripMargin

  private val FpDfCap = 20

  /** Exact-substring near-dup candidates: documents sharing their
    * minimum rolling 8-gram hash (the q27 winnowing fingerprint) —
    * docs with any identical 8-char window tend to collide on the
    * minimum. An equi-join on the fingerprint: candidate generation
    * without pairwise comparison.
    *
    * Document-frequency cap (the q61 lever): a fingerprint shared by
    * more than [[FpDfCap]] docs is boilerplate (a common substring —
    * headers, licenses), and its bucket would blow up quadratically in
    * the self-join; such fps are dropped before pairing, bounding the
    * per-key pair cost at cap² regardless of corpus size.
    */
  def sharedFingerprintPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cache: the fingerprint is ~400 md5s per doc; without it the df
    // count AND both self-join sides recompute the whole rolling-hash
    // pipeline (and the join-key expression again in exchange planning).
    val fp = fingerprint(spark, dir).select($"doc_id", $"fp_rolling").cache()
    val rare = fp.groupBy($"fp_rolling")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= FpDfCap)
      .select($"fp_rolling")
    val kept = fp.join(rare, "fp_rolling")
    val a = kept.select($"doc_id".as("a_id"), $"fp_rolling".as("fp"))
    val b = kept.select($"doc_id".as("b_id"), $"fp_rolling".as("fp2"))
    a.join(b, $"fp" === $"fp2" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id", $"fp")
      .orderBy($"a_id", $"b_id")
  }

  private def oracleSharedFp: String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
       |  FROM documents),
       |fp AS (
       |  SELECT doc_id,
       |    ${graft.functions.RollingMinHash.duckDbSql("norm")} AS fp_rolling
       |  FROM n WHERE length(norm) >= 8),
       |rare AS (
       |  SELECT fp_rolling FROM fp GROUP BY fp_rolling HAVING count(*) <= $FpDfCap),
       |kept AS (SELECT fp.* FROM fp JOIN rare USING (fp_rolling))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp_rolling AS fp
       |FROM kept a JOIN kept b ON a.fp_rolling = b.fp_rolling AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------- q71 repetition

  /** Gopher-style repetition signals: top-word fraction and duplicate
    * word-n-gram fractions per document, plus the composite keep flag.
    * Pure per-row array expressions (map-only, codegen'd): the top-word
    * count is a nested transform over the distinct words — O(distinct ×
    * n) per row on ~100-word docs, still scan-bound; the dup-n-gram
    * fraction is 1 − distinct/total over in-row n-gram arrays. These are
    * the standard repetition filters a pre-training pipeline runs
    * alongside [[textQuality]].
    */
  def repetitionProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = size($"w")
    val topCnt = topWordCount("w")
    val g2 = bigrams($"w")
    val g3 = shingles3($"w")
    def dupFrac(g: Column): Column =
      lit(1.0) - size(array_distinct(g)).cast("double") / size(g)
    val topFrac = topCnt.cast("double") / n
    val d2 = dupFrac(g2)
    val d3 = dupFrac(g3)
    Tables.load(spark, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .filter(n >= 3)
      .select($"doc_id",
        n.cast("long").as("n_words"),
        round(topFrac, 4).as("top_word_frac"),
        round(d2, 4).as("dup_2gram_frac"),
        round(d3, 4).as("dup_3gram_frac"),
        (topFrac <= 0.2 && d3 <= 0.3).as("keep"))
      .orderBy($"doc_id")
  }

  private def oracleRepetition: String = {
    val w = "string_split(text, ' ')"
    val top = s"list_max(list_transform(list_distinct($w), x -> len(list_filter($w, y -> y = x))))"
    val g2 = bigramsSql(w)
    val g3 = shingles3Sql(w)
    def dup(g: String) = s"(1.0 - len(list_distinct($g))::DOUBLE / len($g))"
    s"""SELECT doc_id,
       |  len($w)::BIGINT AS n_words,
       |  round($top::DOUBLE / len($w), 4) AS top_word_frac,
       |  round(${dup(g2)}, 4) AS dup_2gram_frac,
       |  round(${dup(g3)}, 4) AS dup_3gram_frac,
       |  ($top::DOUBLE / len($w) <= 0.2 AND ${dup(g3)} <= 0.3) AS keep
       |FROM documents WHERE len($w) >= 3 ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------- q75 tf-idf

  private val TfidfTopK = 3

  /** TF-IDF top-k terms per document. Shuffle inventory (all keyed,
    * all with map-side partial agg): tf on (doc, term), df on term,
    * the df join back on term, and the per-doc top-k window on doc —
    * no step is corpus²; N arrives via a broadcast 1-row cross join.
    * Ranking uses the 6-decimal-rounded score so cross-engine double
    * ulp noise cannot flip ranks; ties break on the term itself.
    *
    * The df branch aggregates `sum(least(tf, 1))` — tf is a per-group
    * count, always >= 1, so least(tf, 1) is the constant 1 and the sum
    * is exactly the row count. The point of the odd spelling:
    * referencing tf's VALUE keeps the branch's scan→explode→tf subtree
    * column-identical to the join's probe side, so it materializes as
    * ONE exchange + ReusedExchange instead of a second full
    * scan+explode+aggregate of the corpus. (`count(lit(1))` let column
    * pruning drop tf from the df branch — the partial aggregate
    * degenerated to a bare distinct — and `count($"tf")` was rewritten
    * right back to `count(1)` since tf is non-nullable; either way the
    * two subtrees no longer canonicalized equal and the corpus was
    * scanned and exploded twice.) df is vocabulary-sized — explicitly
    * broadcast so the planner can never pick the corpus-sized tf as
    * the build side (it did: 32 MB broadcast of tf at sf0.1 vs 1 KB of
    * df).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs.select($"doc_id", explode(words($"text")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"w").agg(sum(least($"tf", lit(1L))).as("df"))
    val nDf = docs.agg(countDistinct($"doc_id").as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"w".asc)
    tf.join(broadcast(df), "w").crossJoin(broadcast(nDf))
      .withColumn("score", round($"tf" * log($"n".cast("double") / $"df"), 6))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter($"rank" <= TfidfTopK)
      .select($"doc_id", $"w".as("term"), $"rank", $"score")
      .orderBy($"doc_id", $"rank")
  }

  private def oracleTfidf: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
       |scored AS (
       |  SELECT tf.doc_id, tf.w, round(tf.tf * ln(n.n::DOUBLE / df.df), 6) AS score
       |  FROM tf JOIN df ON df.w = tf.w CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, w, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rank
       |  FROM scored)
       |SELECT doc_id, w AS term, rank, score FROM ranked
       |WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------------ q76 textrank

  private val PrIters = 10
  private val PrDamping = 0.85
  private val PrTeleport = 0.15 // literal, NOT 1-0.85 (which is 0.15000000000000002)
  private val PrSmallEdgeMax = 2000000L

  // Spark's round() is HALF_UP on the BigDecimal of the double — match
  // it exactly on the driver path (math.rint would be HALF_EVEN).
  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** TextRank keyword scoring: PageRank over the word co-occurrence
    * graph (consecutive-word edges, both directions, co-occurrence
    * weighted) — the standard graph-based keyword/quality prior, and
    * the same iteration shape as host-graph PageRank over a web crawl.
    * Fixed [[PrIters]] iterations; each iteration is one keyed join
    * (edge src → rank) + one aggregation (inflow per dst) + one left
    * join back to the node set — all hash-partitioned on the word, no
    * broadcast of rank state needed at scale. Each iteration's rank
    * vector is a durable [[graft.core.Pin.shared]] parquet artifact
    * (keeps lineage O(1) AND survives executor loss — the distributed
    * loop only engages above [[PrSmallEdgeMax]], exactly where loss is
    * likely; a lost executor recomputes round i from round i-1's
    * artifact instead of failing the job). `smallEdgeMax` overrides
    * the driver threshold (tests use -1 to force the distributed
    * loop); `onRound` is a test seam invoked before each distributed
    * iteration. Ranks are rounded to 9
    * decimals every iteration ON BOTH ENGINES, so double-sum
    * reassociation noise (~1e-16/step) can never compound into the
    * 6-decimal compare.
    */
  /** The normalized co-occurrence edge table as a durable artifact
    * (round 19): the graph a textrank deployment builds once at ingest
    * — ONE pin serves the driver fast path's bounded collect AND the
    * distributed loop (which has always pinned this exact frame as
    * `textrank-<tag>-edges`); declared in [[Artifacts]] so its one-time
    * explode + two aggregations land in shared_cache_sec, not on each
    * q76 run.
    */
  private[operators] def textrankEdgesPin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val adj = Tables.load(spark, dir, "documents")
      .select(words($"text").as("w")).filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) as src, element_at(w, i + 1) as dst))"
      )).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
    val edges = adj.union(adj.select($"dst".as("src"), $"src".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("wt"))
    val outw = edges.groupBy($"src").agg(sum($"wt").as("ow"))
    graft.core.Pin.shared(spark, s"textrank-${graft.core.Pin.tag(dir)}-edges")(
      edges.join(outw, "src")
        .select($"src", $"dst", ($"wt" / $"ow").as("p")))
  }

  def textrankKeywords(spark: SparkSession, dir: String,
      smallEdgeMax: Long = PrSmallEdgeMax,
      onRound: Int => Unit = _ => ()): DataFrame = {
    import spark.implicits._
    val norm = textrankEdgesPin(spark, dir)
    // Driver-side power iteration when the WORD graph is small: vocab
    // grows ~log-ish with corpus size, so even big corpora often fit —
    // 2M edges ≈ tens of MB and milliseconds per iteration on the
    // driver vs ~3 scheduled jobs per iteration distributed. The
    // per-iteration 9-decimal rounding absorbs cross-path summation-
    // order drift (the distributed sum and the oracle each accumulate
    // in their own order); the driver path additionally PINS its
    // accumulation order — edges sorted by (dst, src) — so it is
    // bit-deterministic run to run, not merely round-absorbed. Above
    // the cap (a true web-scale vocab), the distributed loop below is
    // the shape that holds.
    // Driver fast path in ONE action (optimization round 18): a bounded
    // limit-collect replaces the old persist + count + collect — the
    // count existed only to pick the regime, and the collect re-read
    // the cache; pulling smallEdgeMax+1 rows answers both at once
    // (length ≤ max ⇒ we already hold the whole edge list).
    // limit() takes an Int; when the Int.MaxValue clamp binds, exactly
    // limN collected rows is ambiguous (complete vs truncated), so the
    // fast path requires the limit to have NOT bound (round-18 ADVICE:
    // the old `length <= smallEdgeMax` was trivially true under the
    // clamp and would have power-iterated a truncated edge list).
    val limN = math.min(smallEdgeMax + 1, Int.MaxValue.toLong).toInt
    val capped =
      if (smallEdgeMax < 0) Array.empty[(String, String, Double)]
      else norm.limit(limN)
        .as[(String, String, Double)].collect()
    if (smallEdgeMax >= 0 && capped.length < limN) {
      val es = capped
      val words = es.iterator.map(_._1).toArray.distinct.sorted
      val idx = words.zipWithIndex.toMap
      val n = words.length.toDouble
      var r = Array.fill(words.length)(round9(1.0 / n))
      val compact = es.map { case (s, d, p) => (idx(s), idx(d), p) }.sortBy(t => (t._2, t._1))
      for (_ <- 1 to PrIters) {
        val inflow = new Array[Double](words.length)
        for ((s, d, p) <- compact) inflow(d) += p * r(s)
        r = Array.tabulate(words.length)(i => round9(PrTeleport / n + PrDamping * inflow(i)))
      }
      return words.zip(r).toSeq.toDF("word", "r")
        .select($"word", round($"r", 6).as("rank")).orderBy($"word")
    }
    // Distributed regime: edges, nodes and every iteration's rank
    // vector are durable pins — a lost executor recomputes from the
    // previous iteration's parquet instead of failing the job on
    // truncated localCheckpoint lineage (round-9 verdict).
    val loop = s"textrank-${graft.core.Pin.tag(dir)}"
    val normPinned = norm // textrankEdgesPin: already the durable pin
    val nodes = graft.core.Pin.shared(spark, s"$loop-nodes")(
      normPinned.select($"src".as("word")).distinct())
    val n = nodes.count().toDouble
    var rank = nodes.select($"word", round(lit(1.0) / lit(n), 9).as("r"))
    (1 to PrIters).foreach { i =>
      onRound(i)
      val inflow = normPinned.join(rank, normPinned("src") === rank("word"))
        .groupBy($"dst").agg(sum($"p" * $"r").as("inflow"))
      rank = graft.core.Pin.shared(spark, s"$loop-round$i")(
        nodes.join(inflow, nodes("word") === inflow("dst"), "left")
          .select($"word",
            round(lit(PrTeleport) / lit(n) + lit(PrDamping) * coalesce($"inflow", lit(0.0)), 9).as("r")))
      // retention (round-10 verdict): the loop reads only round i (and
      // a mid-loop retry's first computed round reads round i−1 — the
      // earlier memo-hit rounds are never acted on, there is no
      // convergence check here), so rounds ≤ i−2 retire as the loop
      // advances and the pin dir holds at most two live rounds
      if (i >= 3)
        graft.core.Pin.retireArtifact(spark, s"$loop-round${i - 2}"): Unit
    }
    rank.select($"word", round($"r", 6).as("rank")).orderBy($"word")
  }

  private def oracleTextrank: String = {
    val w = "string_split(text, ' ')"
    val prSteps = (1 to PrIters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.word,
         |    round($PrTeleport / nn.n + $PrDamping * coalesce(s.inflow, 0.0), 9) AS r
         |  FROM nodes nd CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst, sum(e.p * p.r) AS inflow
         |    FROM norm e JOIN pr${i - 1} p ON p.word = e.src GROUP BY e.dst) s
         |  ON s.dst = nd.word)""".stripMargin
    }.mkString(",\n")
    s"""WITH adj AS (
       |  SELECT e.src AS src, e.dst AS dst FROM (
       |    SELECT unnest(list_transform(generate_series(1, len($w) - 1),
       |      i -> struct_pack(src := $w[i], dst := $w[i+1]))) AS e
       |    FROM documents WHERE len($w) >= 2)),
       |sym AS (SELECT src, dst FROM adj UNION ALL SELECT dst, src FROM adj),
       |edges AS (SELECT src, dst, count(*)::DOUBLE AS wt FROM sym GROUP BY 1, 2),
       |outw AS (SELECT src, sum(wt) AS ow FROM edges GROUP BY src),
       |norm AS (SELECT e.src, e.dst, e.wt / o.ow AS p FROM edges e JOIN outw o ON o.src = e.src),
       |nodes AS (SELECT DISTINCT src AS word FROM norm),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |pr0 AS (SELECT word, round(1.0 / nn.n, 9) AS r FROM nodes CROSS JOIN nn),
       |$prSteps
       |SELECT word, round(r, 6) AS rank FROM pr$PrIters ORDER BY word""".stripMargin
  }

  // ---------------------------------------------- q81 bigram lm score

  /** Bigram language-model scoring (q81): each document's mean log
    * probability under an add-one-smoothed bigram model estimated from
    * the corpus itself — the (simplified) KenLM-style fluency score
    * pre-training pipelines use to rank/filter text. Per-bigram score
    * ln((c(w1,w2)+1) / (c(w1)+V)); per-doc mean + perplexity. Shapes:
    * bigram/unigram count tables are keyed aggs; scoring joins are
    * keyed on the bigram/unigram; V arrives broadcast. At 100 TB the
    * count tables are the big side — they shuffle once each and the
    * scoring join stays key-partitioned; nothing is corpus².
    */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", words($"text").as("w")).filter(size($"w") >= 2)
    val bg = docs.select($"doc_id", explode(expr(
      "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"
    )).as("b")).select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val c2 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    // c1 and the vocabulary are DERIVED from c2 instead of re-running
    // the explode over the corpus two more times (optimization round
    // 18, guide §2.3/§2.4): c1(w1) = Σ_w2 c2(w1, w2) exactly (every
    // bigram instance contributes once to both), and the distinct-word
    // set of {c2.w1} ∪ {c2.w2} equals that of the instance stream —
    // aggregation inputs shrink from corpus-instance scale to
    // distinct-bigram scale, and two full scan+explode branches leave
    // the plan. Values are integer counts: bit-identical to the old
    // formulation.
    val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
    val vocab = c2.select($"w1").union(c2.select($"w2").toDF("w1"))
      .agg(countDistinct($"w1").as("v"))
    val scored = bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log(($"c2" + 1.0) / ($"c1" + $"v")))
    scored.groupBy($"doc_id")
      .agg(round(avg($"lp"), 6).as("avg_logprob"),
        round(exp(-avg($"lp")), 4).as("perplexity"))
      .orderBy($"doc_id")
  }

  private def oracleBigramLm: String = {
    val w = "string_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 2),
       |bg AS (
       |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
       |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |    FROM d)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
       |vocab AS (
       |  SELECT count(DISTINCT w1) AS v FROM (
       |    SELECT w1 FROM bg UNION ALL SELECT w2 FROM bg)),
       |scored AS (
       |  SELECT bg.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + vocab.v)) AS lp
       |  FROM bg JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
       |  JOIN c1 ON c1.w1 = bg.w1 CROSS JOIN vocab)
       |SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
       |  round(exp(-avg(lp)), 4) AS perplexity
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- q98 entropy signals

  /** Shannon-entropy quality signals (q98): character-level and
    * word-level entropy per document — the standard gibberish /
    * mojibake / boilerplate detector (random noise scores near the
    * alphabet's max entropy, templated text scores far below its
    * language's norm). Map-only per-row list arithmetic, full codegen,
    * parquet-scan speed at 100 TB. Determinism: the Σ p·log2 p term
    * list is SORTED before summation on BOTH engines, so accumulation
    * order is identical and the compare is exact, not just
    * round-absorbed.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def entropy(listExpr: String): Column = expr(
      s"""-aggregate(
         |  transform(array_sort(array_distinct($listExpr)),
         |    c -> (cast(size(filter($listExpr, x -> x = c)) as double) / size($listExpr))
         |         * log2(cast(size(filter($listExpr, x -> x = c)) as double) / size($listExpr))),
         |  0D, (a, v) -> a + v)""".stripMargin)
    Tables.load(spark, dir, "documents")
      .withColumn("cs", expr("regexp_extract_all(text, '.', 0)"))
      .withColumn("ws", words($"text"))
      // length >= 1, not size(ws) >= 1: split('', ' ') is [''] so the
      // word filter passes empty docs, where Spark's aggregate over an
      // empty char list yields the -0.0 seed but DuckDB list_sum yields
      // NULL — a latent cross-engine gate break
      .filter(length($"text") >= 1)
      .select(
        $"doc_id",
        round(entropy("cs"), 6).as("char_entropy"),
        round(entropy("ws"), 6).as("word_entropy"),
        size(array_distinct($"cs")).cast("long").as("n_distinct_chars"))
      .orderBy($"doc_id")
  }

  private def oracleEntropy: String = {
    def entropy(l: String): String =
      s"""-list_sum(list_transform(list_sort(list_distinct($l)),
         |  c -> (len(list_filter($l, x -> x = c))::DOUBLE / len($l))
         |       * log2(len(list_filter($l, x -> x = c))::DOUBLE / len($l))))""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id,
       |    regexp_extract_all(text, '.') AS cs,
       |    string_split(text, ' ') AS ws
       |  FROM documents WHERE length(text) >= 1)
       |SELECT doc_id,
       |  round(${entropy("cs")}, 6) AS char_entropy,
       |  round(${entropy("ws")}, 6) AS word_entropy,
       |  len(list_distinct(cs))::BIGINT AS n_distinct_chars
       |FROM base ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- q122 heavy hitters

  private val MgM = 64
  private val MgTopK = 20

  /** Heavy hitters via a mergeable Misra–Gries sketch (q122,
    * [[graft.functions.MisraGriesAgg]]): the corpus's word bigrams
    * stream through ONE m=64-counter summary — O(m) state per map
    * task, sketches (not the item domain) through the shuffle — and
    * the result audits the sketch against the exact top-k companion,
    * the q43 discipline for order-dependent approximations:
    *
    * The sketch's raw estimates depend on processing order (true of
    * any MG run), so the OUTPUT publishes only order-independent
    * facts: the exact top-k bigrams (deterministic companion,
    * count-desc/gram-asc), each row's two-sided bound check
    * `est ≤ exact ≤ est + err`, and the summary-wide mass invariant
    * `err · (m+1) ≤ n − Σ counters` — all guaranteed TRUE by the MG
    * theorems, which the DuckDB oracle asserts as literals. A
    * violated flag is a broken sketch, caught by the value gate. The
    * m=64-vs-916-bigram regime keeps the decrement/merge paths hot at
    * every SF (a sketch wider than the domain would audit exact
    * counting, not sketching); `MisraGriesSpec` property-checks the
    * bounds under random data, orderings and partitionings, including
    * the skewed case where presence of >n/(m+1) items is guaranteed.
    *
    * At 100 TB this replaces the full `groupBy(item)` when only the
    * frequent tail matters — the exact companion here is the audit's
    * ground truth at test scale, not part of the production shape.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = Tables.load(spark, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 2)
      .select(explode(bigrams($"w")).as("g"))
    val sk = bg.agg(graft.functions.MisraGriesAgg.column(MgM)($"g").as("sk"))
    // exact companion: global top-k over the gram domain rides
    // TopKPerKey on a constant key (map-side pass bounds every
    // partition to k rows — a global row_number window here would
    // single-partition the whole domain); the rank window then runs
    // over ≤ k survivors, not the domain. Ties break toward the
    // LARGER gram because the heap keeps lexicographically-largest
    // (count, gram) structs — the oracle mirrors with `g DESC`.
    val counts = bg.groupBy($"g").agg(count(lit(1)).as("exact_count"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"exact_count".desc, $"g".desc)
    val top = graft.plans.TopKPerKey(
        counts.withColumn("k0", lit(1)), Seq("k0"),
        struct($"exact_count", $"g"), MgTopK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .drop("k0")
    top.crossJoin(broadcast(sk))
      .withColumn("est", coalesce(element_at($"sk.counts", $"g"), lit(0L)))
      .withColumn("kept_mass",
        expr("aggregate(map_values(sk.counts), 0L, (a, x) -> a + x)"))
      .select($"rank", $"g", $"exact_count",
        ($"est" <= $"exact_count" && $"est" + $"sk.err" >= $"exact_count")
          .as("bounds_ok"),
        ($"sk.err" * (MgM + 1) <= $"sk.n" - $"kept_mass").as("err_theory_ok"))
      .orderBy($"rank")
  }

  private def oracleHeavyHitters: String = {
    val w = "string_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 2),
       |bg AS (
       |  SELECT unnest(${bigramsSql("w")}) AS g FROM d),
       |c AS (SELECT g, count(*) AS exact_count FROM bg GROUP BY g),
       |r AS (SELECT g, exact_count,
       |        row_number() OVER (ORDER BY exact_count DESC, g DESC) AS rank FROM c)
       |SELECT rank, g, exact_count::BIGINT AS exact_count,
       |  TRUE AS bounds_ok, TRUE AS err_theory_ok
       |FROM r WHERE rank <= $MgTopK ORDER BY rank""".stripMargin
  }

  // ------------------------------------- q126 per-source heavy hitters

  private val MgKeyedM = 16
  private val MgKeyedTopK = 5

  /** Heavy hitters PER SOURCE (q126): the q122 Misra–Gries sketch in
    * its KEYED form — `groupBy(source).agg(mg_sketch(g))` gives every
    * group its own m=16 summary, partial-merged per group through the
    * aggregate shuffle exactly like a sum would be; per-group state is
    * O(m), so 10k sources cost 10k×16 counters, not 10k item domains.
    * The audit discipline is q122's: exact per-source top-5 companion
    * (TopKPerKey keyed by source — no per-group sort of the gram
    * domain) with each row's two-sided bound flag and the group's
    * mass invariant, all theorem-TRUE against the group's own sketch.
    * m=16 against ~700 distinct bigrams per source keeps every
    * group's decrement/merge paths hot at both SFs.
    */
  def sourceHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = Tables.load(spark, dir, "documents")
      .select($"source", words($"text").as("w"))
      .filter(size($"w") >= 2)
      .select($"source", explode(bigrams($"w")).as("g"))
    val sk = bg.groupBy($"source")
      .agg(graft.functions.MisraGriesAgg.column(MgKeyedM)($"g").as("sk"))
    val counts = bg.groupBy($"source", $"g").agg(count(lit(1)).as("exact_count"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"exact_count".desc, $"g".desc)
    val top = graft.plans.TopKPerKey(
        counts, Seq("source"), struct($"exact_count", $"g"), MgKeyedTopK)
      .withColumn("rank", row_number().over(w).cast("long"))
    top.join(broadcast(sk), "source")
      .withColumn("est", coalesce(element_at($"sk.counts", $"g"), lit(0L)))
      .withColumn("kept_mass",
        expr("aggregate(map_values(sk.counts), 0L, (a, x) -> a + x)"))
      .select($"source", $"rank", $"g", $"exact_count",
        ($"est" <= $"exact_count" && $"est" + $"sk.err" >= $"exact_count")
          .as("bounds_ok"),
        ($"sk.err" * (MgKeyedM + 1) <= $"sk.n" - $"kept_mass").as("err_theory_ok"))
      .orderBy($"source", $"rank")
  }

  private def oracleSourceHeavyHitters: String = {
    val w = "string_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT source, $w AS w FROM documents WHERE len($w) >= 2),
       |bg AS (
       |  SELECT source, unnest(${bigramsSql("w")}) AS g FROM d),
       |c AS (SELECT source, g, count(*) AS exact_count FROM bg GROUP BY source, g),
       |r AS (SELECT source, g, exact_count,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY exact_count DESC, g DESC) AS rank FROM c)
       |SELECT source, rank, g, exact_count::BIGINT AS exact_count,
       |  TRUE AS bounds_ok, TRUE AS err_theory_ok
       |FROM r WHERE rank <= $MgKeyedTopK ORDER BY source, rank""".stripMargin
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_source_heavy_hitters" -> (sourceHeavyHitters _),
    "q122_heavy_hitters" -> (heavyHitters _),
    "q98_text_entropy" -> (textEntropy _),
    "q81_bigram_lm_score" -> (bigramLmScore _),
    "q76_textrank_keywords" -> ((s: SparkSession, d: String) => textrankKeywords(s, d)),
    "q71_repetition_profile" -> (repetitionProfile _),
    "q75_tfidf_top_terms" -> (tfidfTopTerms _),
    "q58_vocabulary" -> (vocabulary _),
    "q59_shared_fingerprint" -> (sharedFingerprintPairs _),
    "q24_text_quality" -> (textQuality _),
    "q25_lang_id" -> (langId _),
    "q26_token_count" -> (tokenCount _),
    "q27_fingerprint" -> (fingerprint _),
    "q28_corpus_stats" -> (corpusStats _),
  )

  val oracles: Map[String, String] = Map(
    "q126_source_heavy_hitters" -> oracleSourceHeavyHitters,
    "q122_heavy_hitters" -> oracleHeavyHitters,
    "q98_text_entropy" -> oracleEntropy,
    "q81_bigram_lm_score" -> oracleBigramLm,
    "q76_textrank_keywords" -> oracleTextrank,
    "q71_repetition_profile" -> oracleRepetition,
    "q75_tfidf_top_terms" -> oracleTfidf,
    "q58_vocabulary" -> oracleVocabulary,
    "q59_shared_fingerprint" -> oracleSharedFp,
    "q24_text_quality" -> oracleQuality,
    "q25_lang_id" -> oracleLangId,
    "q26_token_count" -> oracleTokenCount,
    "q27_fingerprint" -> oracleFingerprint,
    "q28_corpus_stats" -> oracleCorpusStats,
  )
}
