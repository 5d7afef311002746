package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-19 same-JVM A/B harness (Test/runMain — lives under src/test
  * so it never ships in the library jar; the round-18 ADVICE retired
  * its src/main predecessors). Each experiment pairs the FROZEN
  * pre-round-19 shape of a rewritten operator (copied verbatim from
  * the round-18 tree, constants inlined) with the current shape, and
  * times both in one JVM with interleaved iterations, so host drift
  * between runs cannot manufacture a win. Old shapes are frozen
  * copies by design — they must never drift with the live code.
  *
  * Usage: Test/runMain graft.operators.AbR19 <sfDir> <iters> [names]
  */
object AbR19 {

  // ---- frozen pre-r19 helpers (verbatim copies, r18 tree) ----------

  /** r18 minhashBands (copied from TextDedup) */
  private def oldMinhashBands(index: DataFrame): DataFrame = {
    val withH = TextPrims.MinhashSalts.foldLeft(index) { (df, t) =>
      df.withColumn(s"h$t", md5(concat(lit(s"$t:"), col("s"))))
    }
    def perm(i: Int): Column = {
      val (salt, j) = TextPrims.minhashSaltChunk(i)
      TextPrims.minhashChunk(col(s"h$salt"), j)
    }
    val sig = withH.groupBy(col("doc_id")).agg(
      min(perm(0)).as("m0"),
      (1 until TextPrims.MinhashPerms).map(i => min(perm(i)).as(s"m$i")): _*)
    val rowsPerBand = TextPrims.minhashRowsPerBand
    val bandStructs = (0 until TextPrims.MinhashBands).map { b =>
      val key = TextPrims.minhashBandKey(
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")))
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** r18 q21 dedupMinhashLsh */
  private def oldQ21(spark: SparkSession, dir: String): DataFrame = {
    val index = TextDedup.shingleIndex(spark, dir).cache()
    val bands = oldMinhashBands(index)
    val a = bands.toDF("a_id", "band", "bkey")
    val b = bands.toDF("b_id", "band2", "bkey2")
    val cand = a.join(b, a("band") === b("band2") && a("bkey") === b("bkey2") && a("a_id") < b("b_id"))
      .select(col("a_id"), col("b_id")).distinct().cache()
    TextDedup.verifyJaccard(cand, index)
      .filter(col("jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** r18 q78 dedupIncremental */
  private def oldQ78(spark: SparkSession, dir: String): DataFrame = {
    val index = TextDedup.shingleIndex(spark, dir).cache()
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    val bands = oldMinhashBands(index)
    val nb = bands.filter(isNew).toDF("new_id", "band", "bkey")
    val cb = bands.filter(!isNew).toDF("corp_id", "band2", "bkey2")
    val cand = nb.join(cb, col("band") === col("band2") && col("bkey") === col("bkey2"))
      .select(col("new_id"), col("corp_id")).distinct().cache()
    val win = Window.partitionBy(col("a_id")).orderBy(col("jaccard").desc, col("b_id").asc)
    TextDedup.verifyJaccard(
      cand.select(col("new_id").as("a_id"), col("corp_id").as("b_id")), index)
      .filter(col("jaccard") >= 0.7)
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("a_id").as("doc_id"), col("b_id").as("dup_of"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** r18 q128 dedupLshCollapsed */
  private def oldQ128(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val groups = docs.groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("members"))
      .select($"doc_id", $"members")
      .cache()
    val repDocs = docs.join(groups.select($"doc_id"), Seq("doc_id"), "left_semi")
    val index = repDocs
      .select($"doc_id", TextPrims.words($"text").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(array_distinct(TextPrims.shingles3($"w"))).as("s"))
      .cache()
    val bands = oldMinhashBands(index)
    val a = bands.toDF("a_id", "band", "bkey")
    val b = bands.toDF("b_id", "band2", "bkey2")
    val cand = a.join(b,
        a("band") === b("band2") && a("bkey") === b("bkey2") && a("a_id") < b("b_id"))
      .select(col("a_id"), col("b_id")).distinct().cache()
    val verified = TextDedup.verifyJaccard(cand, index)
      .filter(col("jaccard") >= 0.7)
    val withA = groups.toDF("a_id", "a_members").join(broadcast(verified), "a_id")
    groups.toDF("b_id", "b_members").join(broadcast(withA), "b_id")
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"),
        col("a_members"), col("b_members"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** r18 simhashOf (copied from TextDedup; 32 bits) */
  private def oldSimhashOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wds = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(array_distinct(TextPrims.words($"text"))).as("w"))
      .withColumn("h", TextPrims.hash64($"w"))
    val bitSums = wds.groupBy($"doc_id").agg(
      sum(when(shiftright($"h", 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("s0"),
      (1 until 32).map(j =>
        sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")): _*)
    val sim = (0 until 32).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    bitSums.select($"doc_id", sim.as("simhash"))
  }

  /** r18 q79 simhashPairs (bands=4×8 bits, cap 50, hamming ≤ 3) */
  private def oldQ79(spark: SparkSession, dir: String): DataFrame = {
    val sim = oldSimhashOf(spark, dir)
    val banded = sim.select(col("doc_id"), col("simhash"), explode(array(
      (0 until 4).map(b => struct(
        lit(b).as("band"),
        shiftright(col("simhash"), b * 8).bitwiseAND(255).as("bval"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    val cool = banded.groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= 50)
      .select(col("band"), col("bval"))
    val capped = banded.join(cool, Seq("band", "bval"), "left_semi")
      .select(col("doc_id"), col("simhash"), col("band"), col("bval"))
    val a = capped.toDF("a_id", "sim_a", "band", "bval")
    val b = capped.toDF("b_id", "sim_b", "band2", "bval2")
    a.join(b, col("band") === col("band2") && col("bval") === col("bval2") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** r18 embedding band planes (verbatim md5 construction) */
  private lazy val oldEmbPlanes: Array[Array[Array[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(4, 6, 64) { (b, j, i) =>
      val hex = md.digest(s"edband:$b:$j:$i".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
  }

  private def oldEmbBucketCol(band: Int, embCol: String): Column =
    (0 until 6).map { j =>
      val plane = oldEmbPlanes(band)(j).mkString("array(", "D, ", "D)")
      val dot = graft.functions.DotProduct(col(embCol), expr(plane))
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** r18 q23 dedupEmbedding (4 bands, cap 50, cosine ≥ 0.4) */
  private def oldQ23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
    val banded0 = e.select($"vec_id", explode(array(
      (0 until 4).map(b =>
        struct(lit(b).as("band"), oldEmbBucketCol(b, "embedding").as("bucket"))): _*
    )).as("bb")).select($"vec_id", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
    val cool = banded0.groupBy($"band", $"bucket")
      .agg(count(lit(1)).as("bn")).filter($"bn" <= 50)
      .select($"band", $"bucket")
    val banded = banded0.join(cool, Seq("band", "bucket"), "left_semi")
      .select($"vec_id", $"band", $"bucket")
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val ea = e.select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val eb = e.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    pairs.join(ea, "a_id").join(eb, "b_id")
      .withColumn("cosine", graft.functions.CosineSimilarity($"ea", $"eb"))
      .filter($"cosine" >= 0.4)
      .select($"a_id", $"b_id", round($"cosine", 6).as("cosine"))
      .orderBy($"a_id", $"b_id")
  }

  /** r18 q105 annRecall (per-method join + agg + left join) */
  private def oldQ105(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact3 = graft.core.Pin.shared(spark, s"ann-exact3-${graft.core.Pin.tag(dir)}")(
      Similarity.cosineTopK(spark, dir)
        .filter($"rank" <= 3).select($"q_id", $"c_id"))
    val qs = exact3.select($"q_id").distinct()
    val methods = Seq(
      "lsh" -> Similarity.annLsh(spark, dir),
      "ivf" -> Similarity.annIvf(spark, dir),
      "pq" -> CorpusOps.pqAnn(spark, dir),
      "two_stage" -> CorpusOps.annTwoStage(spark, dir))
    methods.map { case (name, df) =>
      val hits = df.select($"q_id", $"c_id").join(exact3, Seq("q_id", "c_id"))
        .groupBy($"q_id").agg(count(lit(1)).as("n"))
      qs.join(hits, Seq("q_id"), "left")
        .select(lit(name).as("method"), $"q_id",
          coalesce($"n", lit(0L)).as("n_hits"),
          round(coalesce($"n", lit(0L)) / 3.0, 6).as("recall"))
    }.reduce(_.unionAll(_)).orderBy($"method", $"q_id")
  }

  /** r18 q62 annIvf (centroids recomputed inline) */
  private def oldQ62(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = e
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim").agg(avg($"v".cast("double")).as("m"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"m"))).as("dm"))
      .select($"label".as("c_label"), expr("transform(dm, x -> x.m)").as("cvec"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val qcRanked = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", expr(
        "aggregate(zip_with(qe, cvec, (x, v) -> cast(x as double) * v), 0D, (a, v) -> a + v)") /
        (expr("sqrt(aggregate(qe, 0D, (a, v) -> a + cast(v as double) * cast(v as double)))") *
          expr("sqrt(aggregate(cvec, 0D, (a, v) -> a + v * v))")))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("c_label"))
    val assigned = qcRanked.withColumn("crn", row_number().over(wc))
      .filter(col("crn") === 1)
      .select(col("q_id"), col("qe"), col("c_label"))
    val corpus = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("label"), col("embedding").as("ce"))
    val scored = corpus.join(broadcast(assigned), col("label") === col("c_label"))
      .withColumn("cos", graft.functions.CosineSimilarity(col("qe"), col("ce")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("label"), col("c_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** r18 ADC ranking: the chained per-subspace broadcast-join shape,
    * replayed over the SAME durable pins the current literal-LUT shape
    * reads (pins must be warmed first — the by-name Pin.shared arg is
    * not evaluated on a memo hit).
    */
  private def oldAdcRanked(spark: SparkSession, dir: String, k: Int,
      suffix: String, pqM: Int): DataFrame = {
    import spark.implicits._
    val tag = graft.core.Pin.tag(dir)
    def pin(n: String) = graft.core.Pin.shared(spark, n)(
      sys.error(s"pin $n not warmed"): DataFrame)
    val codes = pin(s"pq-codes-$suffix$tag")
    val lut = pin(s"pq-lut-$suffix$tag")
    var scored: DataFrame = codes
    (0 until pqM).foreach { m =>
      val lm = lut.filter($"m" === m)
        .select((if (m == 0) $"q_id" else $"q_id".as(s"q$m")), $"cid".as(s"k$m"), $"d".as(s"d$m"))
      val joined = scored.join(broadcast(lm), col(s"c$m") === col(s"k$m"))
      scored = if (m == 0) joined
        else joined.filter(col(s"q$m") === col("q_id")).drop(s"q$m")
    }
    val adc = (0 until pqM).map(m => col(s"d$m")).reduce(_ + _)
    val w = Window.partitionBy($"q_id").orderBy($"adc_r", $"c_id")
    scored.withColumn("adc_r", round(adc, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
  }

  /** r18 q147 candidate stage (join-chain ADC, 8×16, top-32). */
  private def oldQ147Cands(spark: SparkSession, dir: String): DataFrame =
    oldAdcRanked(spark, dir, 32, "norm-m8-k16-", 8)
      .select(col("q_id"), col("c_id"))

  /** r18 q101 pqAnn (join-chain ADC, 4×4, top-5 + exact companion). */
  private def oldQ101(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
    val ranked = oldAdcRanked(spark, dir, 3, "", 4)
    val exact = graft.functions.SquaredDistance(col("qv"), col("cv"))
    ranked
      .join(ev.select($"vec_id".as("q_id"), $"v".as("qv")), "q_id")
      .join(ev.select($"vec_id".as("c_id"), $"v".as("cv")), "c_id")
      .select($"q_id", $"c_id", $"adc_r".as("pq_dist2"),
        round(exact, 6).as("exact_dist2"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** r18 q76 textrank (driver fast path, edges built inline per run) */
  private def oldQ76(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val adj = Tables.load(spark, dir, "documents")
      .select(TextPrims.words($"text").as("w")).filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) as src, element_at(w, i + 1) as dst))"
      )).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
    val edges = adj.union(adj.select($"dst".as("src"), $"src".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("wt"))
    val outw = edges.groupBy($"src").agg(sum($"wt").as("ow"))
    val norm = edges.join(outw, "src")
      .select($"src", $"dst", ($"wt" / $"ow").as("p"))
    val es = norm.limit(2000001).as[(String, String, Double)].collect()
    require(es.length <= 2000000)
    val words = es.iterator.map(_._1).toArray.distinct.sorted
    val idx = words.zipWithIndex.toMap
    val n = words.length.toDouble
    var r = Array.fill(words.length)(round9(1.0 / n))
    val compact = es.map { case (s, d, p) => (idx(s), idx(d), p) }.sortBy(t => (t._2, t._1))
    for (_ <- 1 to 10) {
      val inflow = new Array[Double](words.length)
      for ((s, d, p) <- compact) inflow(d) += p * r(s)
      r = Array.tabulate(words.length)(i => round9(0.15 / n + 0.85 * inflow(i)))
    }
    words.zip(r).toSeq.toDF("word", "r")
      .select($"word", round($"r", 6).as("rank")).orderBy($"word")
  }

  /** r18 q75 tfidf (df branch recomputes the corpus subtree — column
    * pruning dropped tf from it so the two subtrees did not
    * canonicalize equal and ReusedExchange never fired; join build
    * side left to the planner, which broadcast the corpus-sized tf).
    */
  private def oldQ75(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs.select($"doc_id", explode(TextPrims.words($"text")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val nDf = docs.agg(countDistinct($"doc_id").as("n"))
    val win = Window.partitionBy($"doc_id").orderBy($"score".desc, $"w".asc)
    tf.join(df, "w").crossJoin(broadcast(nDf))
      .withColumn("score", round($"tf" * log($"n".cast("double") / $"df"), 6))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"w".as("term"), $"rank", $"score")
      .orderBy($"doc_id", $"rank")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // build every declared shared artifact (a superset of what BOTH
    // sides read), so neither side is billed a one-time build
    val unbuilt = Artifacts.walk(spark, dir).collect {
      case (n, o) if !o.isInstanceOf[Artifacts.Built] => s"$n: $o"
    }
    require(unbuilt.isEmpty, s"shared artifacts not built: ${unbuilt.mkString("; ")}")

    val experiments: Seq[(String, (SparkSession, String) => DataFrame, (SparkSession, String) => DataFrame)] = Seq(
      ("q21", oldQ21 _, TextDedup.dedupMinhashLsh _),
      ("q78", oldQ78 _, TextDedup.dedupIncremental _),
      ("q128", oldQ128 _, TextDedup.dedupLshCollapsed _),
      ("q79", oldQ79 _, TextDedup.simhashPairs _),
      ("q23", oldQ23 _, TextDedup.dedupEmbedding _),
      ("q105", oldQ105 _, CorpusOps.annRecall _),
      ("q62", oldQ62 _, Similarity.annIvf _),
      ("q76", oldQ76 _,
        (s: SparkSession, d: String) => TextAnalysis.textrankKeywords(s, d)),
      ("q101", oldQ101 _, CorpusOps.pqAnn _),
      ("q75", oldQ75 _, TextAnalysis.tfidfTopTerms _),
      ("q147c", oldQ147Cands _,
        (s: SparkSession, d: String) => CorpusOps.twoStageCandidates(s, d)),
      ("q147", (s: SparkSession, d: String) => {
        // old q147 = old candidate stage + the UNCHANGED re-rank; the
        // current annTwoStage picks up the new candidate stage through
        // twoStageCandidates, so this pair isolates end-to-end q147
        import s.implicits._
        val cands = oldQ147Cands(s, d)
        val q = CorpusOps.int8Quantized(s, d, "q_id", "q", isQuery = true)
          .select($"q_id", $"qv")
        val c = CorpusOps.int8Quantized(s, d, "c_id", "c", isQuery = false)
          .select($"c_id", $"cv")
        val pairs = c.join(broadcast(cands), "c_id").join(broadcast(q), "q_id")
        val w = Window.partitionBy($"q_id").orderBy($"icos".desc, $"c_id")
        pairs.withColumn("icos", CorpusOps.int8Cos("qv", "cv"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 3)
          .select($"q_id", $"c_id", round($"icos", 6).as("int8_cosine"), $"rank")
          .orderBy($"q_id", $"rank")
      }, CorpusOps.annTwoStage _))

    // shuffle bytes written per timed call — the 100 TB-relevant metric
    // next to wall time (exchanges removed should show up here)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def time(fn: (SparkSession, String) => DataFrame): (Double, Long) = {
      org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
      shuffleBytes.set(0L)
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
      (dt, shuffleBytes.get())
    }

    experiments.filter(e => only.forall(_.contains(e._1))).foreach {
      case (name, oldFn, newFn) =>
        // row-count sanity: both shapes must agree before timing
        val (ro, rn) = (oldFn(spark, dir).count(), newFn(spark, dir).count())
        require(ro == rn, s"$name: old=$ro rows, new=$rn rows — shapes disagree")
        // interleaved iterations: host drift hits both sides equally
        val oldTs = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        val newTs = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        (1 to iters).foreach { _ =>
          oldTs += time(oldFn)
          newTs += time(newFn)
        }
        val (om, nm) = (oldTs.map(_._1).min, newTs.map(_._1).min)
        println(f"[ab] $name%-5s old_min=$om%.3f new_min=$nm%.3f " +
          f"speedup=${om / nm}%.2fx rows=$ro " +
          s"old_shuffle=${oldTs.map(_._2).max} new_shuffle=${newTs.map(_._2).max} " +
          s"old=${oldTs.map(t => f"${t._1}%.3f").mkString(",")} " +
          s"new=${newTs.map(t => f"${t._1}%.3f").mkString(",")}")
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}
