package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextPrims._

/** Round-4 corpus-curation operators: k-means clustering over
  * embeddings, document chunking, temperature-based language mixture
  * reweighting, int8-quantized ANN, shingle containment dedup, and a
  * fixed-weight quality classifier. Each is a standard step of a
  * large-scale training-data build; each is value-oracled against
  * DuckDB.
  *
  * Scale notes per operator are on the methods; the common discipline:
  * model state (centroids, mixture weights, corpus stats) is O(k) or
  * O(langs) and rides broadcast joins — document/vector data only ever
  * moves through keyed shuffles or map-only projections.
  */
object CorpusOps {

  // ------------------------------------------------------ q86 k-means

  private val K = 4
  private val KmeansIters = 2

  /** Mean cluster size the scale-adaptive k targets. SemDeDup's
    * within-cluster pair stage is Σ|cluster|² — linear overall ONLY if
    * k grows with the corpus so n/k stays constant (the contract
    * SCALING.md §4 documents). 500 keeps k at the [[K]]=4 oracle model
    * through the driver SFs (≤ 2000 vectors) and starts growing right
    * past them: 10× data → 10× clusters, same mean cluster, same
    * per-cluster pair cost.
    */
  private val TargetClusterSize = 500L

  /** Vector-count FLOOR for the Lloyd's iteration INPUT (not the final
    * assignment): above this the fit trains on a deterministic
    * hash-sample of ~max(this, [[MinFitPerCentroid]]·k) vectors. Set
    * above every driver/oracle SF (2k/20k vecs) so the oracle-replayed
    * model never changes.
    */
  private val FitSampleMax = 50000L

  /** Fit-sample vectors per centroid once k outgrows [[FitSampleMax]]
    * (round-10 advice): a FIXED 50k sample with adaptive k up to 65536
    * would leave most centroids 0-1 fit vectors past ~25M-vector
    * corpora — empty clusters silently drop out of the mean-recompute
    * groupBy and the model collapses to far fewer centroids than
    * [[TargetClusterSize]] intends. Scaling the sample with k keeps
    * ~50 expected fit vectors per centroid at ANY corpus size, and the
    * iteration cost (sample·k) stays dominated by the one-time full
    * assignment (n·k) that was always part of the bill — at the
    * 65536-cap the sample is ~3.3M vectors vs a ≥33M corpus.
    */
  private val MinFitPerCentroid = 50L

  /** k for an n-vector corpus: n / [[TargetClusterSize]], floored at
    * the [[K]]=4 oracle model (driver SFs reproduce the static oracle
    * exactly), capped defensively — past that, n/k growth is the
    * lesser problem and a k-sized broadcast would be the new one.
    */
  private[graft] def adaptiveK(n: Long): Int =
    math.min(math.max(K.toLong, n / TargetClusterSize), 65536L).toInt

  /** Lloyd's k-means over the embedding corpus, k=4, fixed 2
    * iterations, deterministic init (centroid j = vector with
    * vec_id=j). Per iteration: assignment = argmin squared-L2 against
    * the broadcast centroid set (tiny — k×64 doubles), recompute =
    * per-dimension mean via posexplode + keyed agg. No driver-side
    * collect: centroids stay a DataFrame, so the same plan shape runs
    * on a 1000-executor corpus — the per-iteration cost is one
    * broadcast join + one groupBy(cluster, dim) shuffle whose
    * cardinality is k×dim, not n.
    *
    * Cross-engine determinism (see [[Similarity.annIvf]] for the
    * pattern): centroid means are rounded to 9 decimals each iteration
    * — the only cross-engine drift point (sum order inside avg) — and
    * distances are then integer-free but bit-exact (zip_with/list_zip
    * accumulate in array order on both engines); argmin ties break on
    * cluster id.
    */
  /** The shared Lloyd's fit: (final centroids, final assignments) —
    * q86 reports the assignments, q113 evaluates the model. Centroids
    * are a durable [[graft.core.Pin.shared]] parquet artifact so both
    * consumers (and the assignment's broadcast) read the materialized
    * model instead of re-running the iterations — and survive executor
    * loss on a cluster.
    */
  /** One assignment pass, shared by the Lloyd's iterations, q86/q113/
    * q120 consumers and the streaming SemDeDup twin: vectors
    * (vec_id, v) × broadcast centroids (cid, cvec) → best cluster per
    * vector with its squared distance. ONE definition so ingest-time
    * assignment cannot drift from the fit that produced the model.
    */
  private[graft] def assignVectors(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    // codegen'd SquaredDistance, not the boxed HOF form — same math,
    // same order (see the expression's scaladoc)
    val dist2 = graft.functions.SquaredDistance(col("v"), col("cvec"))
    // argmin as a keyed MIN-STRUCT aggregate, not a window: the n×k
    // candidate rows combine map-side to one row per vector BEFORE the
    // shuffle, so the exchange carries n rows — with scale-adaptive k
    // (n/500 clusters) a per-vector window would sort n×k ≈ n²/500
    // rows through the shuffle, quadratic in corpus size. Tie-break is
    // the struct's lexicographic (d, cid) — exactly the old window's
    // ORDER BY d, cid with rn = 1, and the same order the oracle SQL
    // replays. `v` rides in the struct tail: (d, cid) is unique per
    // vector (cid is), so it is never compared.
    vecs.crossJoin(broadcast(cents))
      .withColumn("d", dist2)
      .groupBy($"vec_id")
      .agg(min(struct($"d", $"cid", $"v")).as("m"))
      .select($"vec_id", $"m.v".as("v"), $"m.cid".as("cid"), $"m.d".as("d"))
  }

  /** Raw embedding vectors of `dir` as (vec_id, v: array<double>). */
  private[graft] def embeddingVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
  }

  /** One fit per (session, corpus dir): q86 reports the assignments,
    * q113 evaluates the model, q120 dedups within its clusters — all
    * three (and a Bench/Verify session running the whole catalog) read
    * ONE materialized model and assignment table instead of re-running
    * Lloyd's per query. DataFrames are immutable plans, so handing the
    * same pair to every caller is safe; the assignments are cached so
    * the first action materializes them once. Production shape: the
    * assignments table persisted between pipeline stages.
    */
  private val fitMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame)]()

  private[operators] def kmeansFit(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    fitMemo.computeIfAbsent((spark, dir), _ => {
      import spark.implicits._
      val e = embeddingVectors(spark, dir)
      // one metadata-cheap count decides k; at the driver SFs the floor
      // reproduces the K=4 model the q86/q113/q120 oracles replay, at
      // scale k grows with n (deterministic init: centroid j = vector j,
      // which the fixtures' dense low ids always populate)
      val n = e.count()
      val k = adaptiveK(n)
      var centroids = e.filter($"vec_id" < k)
        .select($"vec_id".as("cid"), expr("transform(v, x -> round(x, 9))").as("cvec"))
      // Lloyd's ITERATIONS on a bounded deterministic hash-sample:
      // with scale-adaptive k (= n/500), iterating on the full corpus
      // is n·k = n²/500 distance rows per round — QUADRATIC in corpus
      // size (measured: 4.4 s at 20k vecs → 265 s at
      // 200k). A fixed-size fit sample caps iteration cost at S·k
      // (linear in n through k alone); the FULL corpus is still
      // assigned exactly once against the final model, as before.
      // Below the cap — every driver/oracle SF — the sample IS the
      // corpus and the fit is value-identical: the lever only engages
      // at the scale that needs it (the SmallGraphEdgeMax discipline).
      // The cap scales with k ([[MinFitPerCentroid]]) so huge corpora
      // never fit 65k centroids on 50k samples.
      val sampleTarget = math.max(FitSampleMax, MinFitPerCentroid * k.toLong)
      val fitSet =
        if (n <= sampleTarget) e
        else e.filter(pmod(xxhash64(lit("kmfit:"), $"vec_id"),
          lit(math.max(1L, n / sampleTarget))) === 0)
      def assign(cents: DataFrame): DataFrame = assignVectors(e, cents)
      (1 to KmeansIters).foreach { _ =>
        centroids = assignVectors(fitSet, centroids)
          .select($"cid", posexplode($"v").as(Seq("dim", "x")))
          .groupBy($"cid", $"dim").agg(round(avg($"x"), 9).as("m"))
          .groupBy($"cid")
          .agg(array_sort(collect_list(struct($"dim", $"m"))).as("dm"))
          .select($"cid", expr("transform(dm, t -> t.m)").as("cvec"))
      }
      // the model is a durable parquet artifact, not a localCheckpoint:
      // every consumer (q86/q113/q120, the streaming twin, the cached
      // assignment's own recompute path after cache eviction or
      // executor loss) re-reads the same 4..65k rows from reliable
      // storage instead of depending on unreplicated executor blocks
      val cents = graft.core.Pin.shared(spark, s"kmeans-cents-${graft.core.Pin.tag(dir)}")(centroids)
      (cents, assign(cents).cache())
    })

  /** The fitted centroid table of `dir`'s embedding corpus — the
    * 4-row (cid, cvec) model the streaming SemDeDup twin pins: write
    * it once, then assign arriving vectors against it at ingest.
    */
  private[graft] def fittedCentroids(spark: SparkSession, dir: String): DataFrame =
    kmeansFit(spark, dir)._1

  /** SemDeDup's τ, shared with [[graft.streaming.StreamingJobs.semanticDedupStream]]. */
  private[graft] def semDedupTauShared: Double = SemDedupTau

  def kmeansClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kmeansFit(spark, dir)._2
      .select($"vec_id", $"cid".as("cluster"), round($"d", 6).as("dist2"))
      .orderBy($"vec_id")
  }

  /** One assignment pass as SQL: vectors × centroids `cents` → best
    * cluster per vector with its squared distance.
    */
  private def assignSql(cents: String, out: String): String =
    s"""${out}_d AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |    list_sum(list_transform(list_zip(e.v, c.cvec),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
       |  FROM ev e, $cents c),
       |$out AS (
       |  SELECT vec_id, v, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM ${out}_d) WHERE rn = 1)""".stripMargin

  private def recomputeSql(assigned: String, out: String): String =
    s"""${out}_m AS (
       |  SELECT cid, dim, round(avg(x), 9) AS m FROM (
       |    SELECT cid, unnest(v) AS x,
       |           unnest(generate_series(1, len(v))) AS dim FROM $assigned)
       |  GROUP BY cid, dim),
       |$out AS (SELECT cid, list(m ORDER BY dim) AS cvec FROM ${out}_m GROUP BY cid)""".stripMargin

  /** The full Lloyd's chain as CTEs ending in `af` (final assignments,
    * vectors included) and `c2` (final centroids) — shared verbatim by
    * the q86/q113/q120 oracles so all three replay ONE model
    * definition; a drift between them would be a different model, not
    * a different view of the same one.
    */
  private def kmeansCtes: String =
    s"""ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cid, list_transform(v, x -> round(x, 9)) AS cvec
       |  FROM ev WHERE vec_id < $K),
       |${assignSql("c0", "a1")},
       |${recomputeSql("a1", "c1")},
       |${assignSql("c1", "a2")},
       |${recomputeSql("a2", "c2")},
       |${assignSql("c2", "af")}""".stripMargin

  private def oracleKmeans: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, cid AS cluster, round(d, 6) AS dist2 FROM af ORDER BY vec_id""".stripMargin

  // --------------------------------------------- q113 cluster quality

  /** Clustering-quality report (q113) over the q86 fit: per cluster
    * size, inertia (Σ dist² to own centroid) and the squared distance
    * to the NEAREST other centroid — the separation/compactness pair
    * behind silhouette-style model review, as a cluster-count-sized
    * table. Inertia sums are order-pinned (per-cluster term list
    * sorted by vec_id on both engines); centroid separation is a
    * k×k cross of the 4-row centroid table. One keyed agg over the
    * assignments, everything else is O(k).
    */
  def clusterQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cents, assigned) = kmeansFit(spark, dir)
    val sep = cents.toDF("cid", "cvec")
      .join(cents.toDF("cid2", "cvec2"), col("cid") =!= col("cid2"))
      .withColumn("d2", graft.functions.SquaredDistance(col("cvec"), col("cvec2")))
      .groupBy($"cid").agg(min($"d2").as("min_other_d2"))
    assigned
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_vecs"),
        array_sort(collect_list(struct($"vec_id", $"d"))).as("ds"))
      .withColumn("inertia",
        expr("aggregate(transform(ds, t -> t.d), 0D, (a, v) -> a + v)"))
      .join(broadcast(sep), "cid")
      .select($"cid".as("cluster"), $"n_vecs",
        round($"inertia", 6).as("inertia"),
        round($"inertia" / $"n_vecs", 6).as("mean_dist2"),
        round($"min_other_d2", 6).as("min_other_centroid_d2"))
      .orderBy($"cluster")
  }

  private def oracleClusterQuality: String =
    s"""WITH $kmeansCtes,
       |sep AS (
       |  SELECT a.cid, min(list_sum(list_transform(list_zip(a.cvec, b.cvec),
       |    p -> (p[1] - p[2]) * (p[1] - p[2])))) AS min_other_d2
       |  FROM c2 a JOIN c2 b ON a.cid <> b.cid GROUP BY a.cid),
       |agg AS (
       |  SELECT cid, count(*)::BIGINT AS n_vecs,
       |    list_sum(list(d ORDER BY vec_id)) AS inertia
       |  FROM af GROUP BY cid)
       |SELECT agg.cid AS cluster, agg.n_vecs,
       |  round(agg.inertia, 6) AS inertia,
       |  round(agg.inertia / agg.n_vecs, 6) AS mean_dist2,
       |  round(sep.min_other_d2, 6) AS min_other_centroid_d2
       |FROM agg JOIN sep ON sep.cid = agg.cid
       |ORDER BY cluster""".stripMargin

  // ------------------------------------------------ q120 semantic dedup

  private val SemDedupTau = 0.35

  /** Semantic dedup (q120) — the SemDeDup cluster-then-prune recipe
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means the embedding
    * corpus, then compare vectors ONLY within their own cluster and
    * drop every vector whose cosine to a lower-id cluster-mate reaches
    * τ. Complements the q23 LSH near-dup pass: LSH catches
    * near-identical vectors (high τ, random projections), SemDeDup
    * catches *semantic* redundancy at lower τ where hyperplane
    * signatures no longer collide reliably — the clustering supplies
    * the candidate structure instead.
    *
    * Reuses the q86 fit verbatim (same centroids the q86/q113 oracles
    * replay). Assignments come from the fit's shared cache, whose
    * lineage bottoms out at the durable centroid artifact: three
    * consumers (two join sides + the final frame) read the
    * materialized table instead of re-running Lloyd's per branch, and
    * on a cluster an evicted/lost block recomputes one assignment pass
    * from parquet — the persisted-between-stages production shape.
    *
    * Scale shape: the pair stage is an equi-join on the cluster id — a
    * keyed shuffle, never corpus×corpus — and within-cluster pairing
    * is Σ|cluster|², which SemDeDup keeps linear-ish by growing k with
    * the corpus (n/k vectors per cluster stays constant; K here is the
    * q86 model constant at test scale). A pathologically hot cluster
    * gets the same treatment as a hot LSH bucket: re-cluster or band
    * it (q23's banding composes within a cluster unchanged).
    *
    * Dup attribution is deterministic: the kept partner is the LOWEST
    * qualifying vec_id (min-struct agg, no arbitrary-tie window), so
    * the result is stable under any physical ordering.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the shared fit's assignment table is already cache()d, and since
    // round 9 its lineage bottoms out at the DURABLE centroid artifact
    // — eviction or executor loss just recomputes one assignment pass
    // from parquet, so no extra localCheckpoint is needed (or safe: its
    // unreplicated blocks would die with an executor)
    val assigned = kmeansFit(spark, dir)._2
    val a = assigned.select($"vec_id".as("a_id"), $"cid", $"v".as("va"))
    val b = assigned.select($"vec_id".as("b_id"), $"cid", $"v".as("vb"))
    val dups = a.join(b, Seq("cid"))
      .filter($"b_id" < $"a_id")
      // native fused cosine (double-array capable since round 9) — the
      // 47M-pair-at-sf10 hot loop; bit-equal to the composed cosineD
      .withColumn("cos", graft.functions.CosineSimilarity($"va", $"vb"))
      .filter($"cos" >= SemDedupTau)
      .groupBy($"a_id")
      .agg(min(struct($"b_id", $"cos")).as("m"))
      .select($"a_id".as("vec_id"), $"m.b_id".as("dup_of"),
        round($"m.cos", 6).as("dup_cos"))
    assigned.select($"vec_id", $"cid".as("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster", $"dup_of".isNull.as("kept"),
        $"dup_of", $"dup_cos")
      .orderBy($"vec_id")
  }

  private def oracleSemanticDedup: String =
    s"""WITH $kmeansCtes,
       |p AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosineSql("a.v", "b.v")} AS cos
       |  FROM af a JOIN af b ON a.cid = b.cid AND b.vec_id < a.vec_id),
       |q AS (SELECT a_id, b_id, cos FROM p WHERE cos >= $SemDedupTau),
       |d AS (SELECT a_id, min(b_id) AS dup_of FROM q GROUP BY a_id),
       |dc AS (
       |  SELECT d.a_id, d.dup_of, round(q.cos, 6) AS dup_cos
       |  FROM d JOIN q ON q.a_id = d.a_id AND q.b_id = d.dup_of)
       |SELECT af.vec_id, af.cid AS cluster,
       |  dc.dup_of IS NULL AS kept, dc.dup_of, dc.dup_cos
       |FROM af LEFT JOIN dc ON dc.a_id = af.vec_id
       |ORDER BY af.vec_id""".stripMargin

  // ----------------------------------------------------- q87 chunking

  private val ChunkSize = 20
  private val ChunkStride = 15

  /** Fixed-window document chunking with overlap (size 20 words,
    * stride 15) — the step that turns documents into training-context
    * pieces. Map-only: one generator per document (`posexplode` of the
    * stride sequence), chunk text re-joined and fingerprinted in the
    * same projection; no shuffle at all except the output sort, so it
    * scales with corpus bytes.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", $"w",
        posexplode(sequence(lit(1), size($"w"), lit(ChunkStride))).as(Seq("k", "s")))
      .withColumn("c", expr(s"slice(w, s, $ChunkSize)"))
      .select(
        $"doc_id",
        $"k".cast("long").as("chunk_id"),
        size($"c").cast("long").as("chunk_words"),
        md5(concat_ws(" ", $"c")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  private def oracleChunks: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |st AS (
       |  SELECT doc_id, w, unnest(generate_series(1, len(w), $ChunkStride)) AS s FROM w),
       |ch AS (
       |  SELECT doc_id, (s - 1) // $ChunkStride AS chunk_id,
       |         list_slice(w, s, least(s + ${ChunkSize - 1}, len(w))) AS c
       |  FROM st)
       |SELECT doc_id, chunk_id::BIGINT AS chunk_id, len(c)::BIGINT AS chunk_words,
       |       md5(array_to_string(c, ' ')) AS chunk_md5
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------- q88 mixture reweighting

  private val MixtureAlpha = 0.5

  /** Temperature-based language-mixture reweighting (the mT5/XLM-R
    * recipe): empirical share p_l, tempered share q_l ∝ p_l^α
    * (α = 0.5), and the per-document sampling weight q_l/p_l that
    * realizes the tempered mixture. One keyed agg over the corpus plus
    * arithmetic over |langs| rows — the model output is O(langs) and
    * broadcasts back onto documents for the actual resample step.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.load(spark, dir, "documents")
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum($"n_docs").as("total"))
    val p = counts.crossJoin(broadcast(total))
      .withColumn("p", $"n_docs".cast("double") / $"total")
      .withColumn("q_un", pow($"p", MixtureAlpha))
    val z = p.agg(sum($"q_un").as("z"))
    p.crossJoin(broadcast(z))
      .withColumn("q", $"q_un" / $"z")
      .select($"lang", $"n_docs", round($"p", 6).as("p"),
        round($"q", 6).as("q"), round($"q" / $"p", 6).as("sample_weight"))
      .orderBy($"lang")
  }

  private def oracleMixture: String =
    s"""WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
       |p AS (
       |  SELECT lang, n_docs, n_docs::DOUBLE / (SELECT sum(n_docs) FROM counts) AS p,
       |         pow(n_docs::DOUBLE / (SELECT sum(n_docs) FROM counts), $MixtureAlpha) AS q_un
       |  FROM counts)
       |SELECT lang, n_docs, round(p, 6) AS p,
       |       round(q_un / (SELECT sum(q_un) FROM p), 6) AS q,
       |       round((q_un / (SELECT sum(q_un) FROM p)) / p, 6) AS sample_weight
       |FROM p ORDER BY lang""".stripMargin

  // ------------------------------------------------- q89 int8-quant ANN

  private val NumQueries = 10
  private val QuantTopK = 3

  /** Symmetric per-vector int8 quantization + ANN re-rank — the memory
    * lever that makes a 100 TB embedding store scannable (4× smaller
    * than float32, integer dot products): scale = 127/max|x|,
    * q_i = floor(x_i·scale + 0.5), cosine on the int vectors (scales
    * cancel). The integer dots are exact in both engines, so the
    * quantized cosine is bit-reproducible — no rounding discipline
    * needed until the final display rounding. Exact float cosine is
    * computed alongside to expose the quantization error. Plan shape =
    * [[Similarity.cosineTopK]]: broadcast query set, one corpus scan.
    */
  /** One side of the corpus, symmetric-int8-quantized: (id, raw
    * embedding, quantized bigint vector) — shared by q89's exhaustive
    * scan and q147's candidate re-rank so the two stages score with
    * the SAME quantizer by construction.
    */
  private[operators] def int8Quantized(spark: SparkSession, dir: String,
      idCol: String, prefix: String, isQuery: Boolean): DataFrame = {
    import spark.implicits._
    def quantize(side: DataFrame): DataFrame = side.select(
      $"vec_id",
      expr(s"""transform(embedding, x ->
          cast(floor(cast(x as double) *
            (127.0D / array_max(transform(embedding, y -> abs(cast(y as double))))) + 0.5D) as bigint))""")
        .as("v"))
    val e = Tables.load(spark, dir, "embeddings")
    // the CORPUS-side quantized table is the whole point of int8 ANN —
    // the 4×-smaller store a production deployment writes ONCE at
    // ingest and every query scans. Materialize it as a durable
    // session-shared artifact: quantization is a higher-order-function
    // expression (CodegenFallback — per-element boxed lambdas, ~36 s
    // for one corpus pass at sf10), a price that belongs at write
    // time, not in every q89/q147 scan. The artifact holds ONLY
    // (vec_id, codes) — storing the raw floats alongside would make
    // the "4× smaller" store larger than its source; q89's exact-
    // cosine audit joins raw embeddings back for just its k output
    // rows. The query side is NumQueries rows — computed inline.
    val side =
      if (isQuery) quantize(e.filter($"vec_id" < NumQueries))
      else graft.core.Pin.shared(spark, s"int8-store-${graft.core.Pin.tag(dir)}")(
        quantize(e.filter($"vec_id" >= NumQueries)))
    side.select($"vec_id".as(idCol), $"v".as(s"${prefix}v"))
  }

  /** Int8 cosine of the quantized pair columns (scales cancel) — the
    * codegen'd [[graft.functions.Int8Cosine]] expression; exact long
    * accumulation, value-identical to the composed
    * aggregate/zip_with form it replaced (see its scaladoc).
    */
  private[operators] def int8Cos(qv: String, cv: String): Column =
    graft.functions.Int8Cosine(col(qv), col(cv))

  def annInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = int8Quantized(spark, dir, "q_id", "q", isQuery = true)
    val c = int8Quantized(spark, dir, "c_id", "c", isQuery = false)
    val scored = c.crossJoin(broadcast(q))
      .withColumn("icos", int8Cos("qv", "cv"))
    val w = Window.partitionBy($"q_id").orderBy($"icos".desc, $"c_id")
    val ranked = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= QuantTopK)
    // exact-cosine audit joined back for the k OUTPUT rows only —
    // ranking never looks at it, so computing it per candidate pair
    // was pure waste (and it is why the quantized store can hold
    // codes only); the k-row side broadcasts into the raw-vector scan
    val emb = Tables.load(spark, dir, "embeddings")
    ranked
      .join(emb.select($"vec_id".as("q_id"), $"embedding".as("qe")), "q_id")
      .join(emb.select($"vec_id".as("c_id"), $"embedding".as("ce")), "c_id")
      .withColumn("ecos", graft.functions.CosineSimilarity($"qe", $"ce"))
      .select($"q_id", $"c_id", round($"icos", 6).as("int8_cosine"),
        round($"ecos", 6).as("exact_cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** DuckDB renderings of the shared int8 quantizer — ONE definition
    * feeding the q89 and q147 oracles (the cappedDupSql discipline).
    */
  private def int8QuantSql(src: String) =
    s"""SELECT vec_id, embedding,
       |  list_transform(embedding, x -> floor(x::DOUBLE *
       |    (127.0 / list_max(list_transform(embedding, y -> abs(y::DOUBLE)))) + 0.5)::BIGINT) AS qv
       |FROM embeddings WHERE $src""".stripMargin

  private def int8IdotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))::DOUBLE"

  private def int8CosSql(a: String, b: String) =
    s"""${int8IdotSql(a, b)} /
       |      (sqrt(${int8IdotSql(a, a)}) * sqrt(${int8IdotSql(b, b)}))""".stripMargin

  private def oracleInt8: String =
    s"""WITH q AS (${int8QuantSql(s"vec_id < $NumQueries")}),
       |c AS (${int8QuantSql(s"vec_id >= $NumQueries")}),
       |s AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${int8CosSql("q.qv", "c.qv")} AS icos,
       |    ${cosineSql("q.embedding", "c.embedding")} AS ecos
       |  FROM q, c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY icos DESC, c_id) AS rank
       |      FROM s)
       |SELECT q_id, c_id, round(icos, 6) AS int8_cosine, round(ecos, 6) AS exact_cosine, rank
       |FROM r WHERE rank <= $QuantTopK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------ q90 containment dedup

  private val ContainThreshold = 0.8

  /** Asymmetric near-dup: shingle containment |A∩B| / |A| ≥ 0.8 flags
    * document A as (near-)contained in B — catches the
    * small-doc-quoted-inside-big-doc duplicates that symmetric Jaccard
    * misses (the union term drowns them). Runs over the DF-CAPPED
    * shingle index shared with q61/q70/q109 (one cached plan serves
    * them all): stop-shingles are dropped from BOTH the intersection
    * and the |A| denominator, which containment tolerates — a shingle
    * in >DfCap docs carries no identity signal, and dropping it from
    * both sides leaves the ratio of the remaining evidence. That bounds
    * the pair-expansion cost at DfCap² per shingle — the 100 TB shape
    * (the uncapped expansion is quadratic in stop-shingle df; q20 keeps
    * that exact-semantics baseline as a fenced lever demo). One shuffle
    * on the shingle, never a self-join of documents; both directions of
    * each unordered pair are tested, so the output is ordered
    * (contained, container).
    */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = TextDedup.cappedRawPairs(spark, dir)
    val ab = pairs.select($"a_id".as("doc_id"), $"b_id".as("container_id"),
      ($"common" / $"na").as("containment"))
    val ba = pairs.select($"b_id".as("doc_id"), $"a_id".as("container_id"),
      ($"common" / $"nb").as("containment"))
    ab.unionAll(ba)
      .filter($"containment" >= ContainThreshold)
      .select($"doc_id", $"container_id", round($"containment", 4).as("containment"))
      .orderBy($"doc_id", $"container_id")
  }

  private def oracleContainment: String =
    // composes the ONE rendering of the df-capped pair pipeline
    // (TextDedup.cappedDupSql: sh/sizes/pairs CTEs; its `dup` CTE goes
    // unused here — containment filters pairs itself, jaccard-free)
    s"""WITH ${TextDedup.cappedDupSql},
       |dir AS (
       |  SELECT p.a_id AS doc_id, p.b_id AS container_id,
       |         p.common::DOUBLE / sa.n AS containment
       |  FROM pairs p JOIN sizes sa ON sa.doc_id = p.a_id
       |  UNION ALL
       |  SELECT p.b_id, p.a_id, p.common::DOUBLE / sb.n
       |  FROM pairs p JOIN sizes sb ON sb.doc_id = p.b_id)
       |SELECT doc_id, container_id, round(containment, 4) AS containment
       |FROM dir WHERE containment >= $ContainThreshold
       |ORDER BY doc_id, container_id""".stripMargin

  // --------------------------------------------- q91 quality classifier

  /** Fixed-weight logistic quality model — the shape of a fastText-style
    * quality classifier's inference pass (weights would come from
    * training; here they are published literals, which keeps the
    * operator deterministic and oracle-replayable). Features are all
    * derivable in one map-only projection: word count, average word
    * length ((chars − spaces)/words on the single-space corpus —
    * exact, no second pass), top-word fraction (the q71 repetition
    * core), distinct-word ratio. score = σ(w·x + b); keep at 0.5.
    */
  /** documents → + (n, awl, twf, dr, score) columns — the q91 feature/
    * score projection, shared with the weighted-sample and quota ops.
    */
  private def withQualityScore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = words($"text")
    val feats = docs
      .select(docs.col("*"), w.as("w"), size(w).cast("double").as("n"))
      .withColumn("awl", (length($"text") - ($"n" - 1)) / $"n")
      .withColumn("twf", topWordCount("w").cast("double") / $"n")
      .withColumn("dr", size(array_distinct($"w")).cast("double") / $"n")
    val z = lit(-2.0) + lit(0.02) * $"n" + lit(0.5) * $"awl" -
      lit(3.0) * $"twf" + lit(2.0) * $"dr"
    feats.withColumn("score", lit(1.0) / (lit(1.0) + exp(-z)))
  }

  /** DuckDB CTEs computing the same (doc_id, …, score) — compose as
    * `WITH $qualitySqlCtes, …`.
    */
  private val qualitySqlCtes: String =
    """qf AS (
      |  SELECT *,
      |    len(string_split(text, ' '))::DOUBLE AS n,
      |    (len(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
      |      / len(string_split(text, ' ')) AS awl,
      |    list_max(list_transform(list_distinct(string_split(text, ' ')),
      |      x -> len(list_filter(string_split(text, ' '), y -> y = x))))::DOUBLE
      |      / len(string_split(text, ' ')) AS twf,
      |    len(list_distinct(string_split(text, ' ')))::DOUBLE
      |      / len(string_split(text, ' ')) AS dr
      |  FROM documents),
      |qs AS (
      |  SELECT *,
      |    1.0 / (1.0 + exp(-(-2.0 + 0.02 * n + 0.5 * awl - 3.0 * twf + 2.0 * dr))) AS score
      |  FROM qf)""".stripMargin

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withQualityScore(Tables.load(spark, dir, "documents"))
      .select($"doc_id", $"n".cast("long").as("n_words"),
        round($"awl", 6).as("avg_word_len"), round($"twf", 6).as("top_word_frac"),
        round($"dr", 6).as("distinct_ratio"), round($"score", 6).as("quality"),
        ($"score" >= 0.5).as("keep"))
      .orderBy($"doc_id")
  }

  private def oracleQuality: String =
    s"""WITH $qualitySqlCtes
       |SELECT doc_id, n::BIGINT AS n_words, round(awl, 6) AS avg_word_len,
       |       round(twf, 6) AS top_word_frac, round(dr, 6) AS distinct_ratio,
       |       round(score, 6) AS quality, score >= 0.5 AS keep
       |FROM qs ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- q94 weighted sample

  private val SampleN = 100

  /** Quality-weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES): per-doc uniform u from the shared 60-bit hash, sample key
    * ln(u)/w (equivalent to ranking u^(1/w)), keep the global top-N
    * keys. Runs on the custom [[graft.plans.TopKPerKey]] operator with
    * a constant grouping key: the map-side partial pass bounds the
    * shuffle to ≤ N rows PER INPUT PARTITION, so "global top-N of 100
    * TB" moves N×partitions rows instead of the corpus — the shape a
    * window/orderBy formulation cannot produce. Hash-deterministic:
    * same corpus → same sample, and the DuckDB oracle replays it.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = withQualityScore(Tables.load(spark, dir, "documents"))
      .withColumn("u",
        (hash64(concat(lit("ws:"), $"doc_id".cast("string"))) + 1).cast("double") /
          lit(1152921504606846976.0)) // 2^60; u ∈ (0, 1]
      .withColumn("samp_key", log($"u") / $"score")
      .withColumn("g", lit(1))
    graft.plans.TopKPerKey(scored, Seq("g"), $"samp_key", SampleN)
      .select($"doc_id", round($"score", 6).as("weight"),
        round($"samp_key", 6).as("samp_key"))
      .orderBy($"doc_id")
  }

  private def oracleWeightedSample: String =
    s"""WITH $qualitySqlCtes,
       |k AS (
       |  SELECT doc_id, score,
       |    ln((${hash64Sql("'ws:' || doc_id::VARCHAR")} + 1)::DOUBLE
       |        / 1152921504606846976.0) / score AS samp_key
       |  FROM qs),
       |r AS (SELECT *, row_number() OVER (ORDER BY samp_key DESC) AS rn FROM k)
       |SELECT doc_id, round(score, 6) AS weight, round(samp_key, 6) AS samp_key
       |FROM r WHERE rn <= $SampleN ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ q95 source quota

  private val QuotaK = 10 // binds at every sf (sources hold ≥ 25 docs)

  /** Per-source quota cap — keep at most K docs per `source`, best
    * quality first (doc_id breaks score ties, which exact-duplicate
    * texts DO produce) — the domain-balancing step that stops one
    * crawl domain from flooding the corpus. Runs on
    * [[graft.plans.TopKPerKey]] ordered by a (score, −doc_id) struct:
    * per-key bounded heaps, map-side partial pass, no sort of the
    * corpus — vs the window formulation's full per-source sort.
    */
  def sourceQuota(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = withQualityScore(Tables.load(spark, dir, "documents"))
      .withColumn("qord", struct($"score", (-$"doc_id").as("neg_id")))
    graft.plans.TopKPerKey(scored, Seq("source"), $"qord", QuotaK)
      .select($"source", $"doc_id", round($"score", 6).as("quality"))
      .orderBy($"source", $"doc_id")
  }

  private def oracleSourceQuota: String =
    s"""WITH $qualitySqlCtes,
       |r AS (
       |  SELECT *, row_number()
       |    OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM qs)
       |SELECT source, doc_id, round(score, 6) AS quality
       |FROM r WHERE rn <= $QuotaK ORDER BY source, doc_id""".stripMargin

  // -------------------------------------------- q92 duplicated-span frac

  /** Cross-document duplicated-span profile: the fraction of a
    * document's word 5-grams that also occur in ANY other document —
    * the doc-level signal substring-granular dedup (Lee et al. 2022)
    * thresholds on, complementing q71 (intra-doc repetition) and
    * q20/q90 (pairwise similarity). Shape: explode 5-gram instances
    * (map-only generator), one keyed agg for per-gram distinct-doc
    * counts, one keyed join back (output = instance count, no fanout —
    * a hot gram stays one row per instance), one per-doc agg. Cost is
    * ∝ total grams; nothing is pairwise.
    */
  def dupSpanFraction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the SAME pinned (doc_id, pos, gram) index the span family
    // (q117-q119) reads — one ingest-time 5-gram artifact per corpus
    val grams = SpanOps.grams(spark, dir).select($"doc_id", $"gram")
    // The per-doc rollup only consumes "nd >= 2", and a gram occurs in
    // ≥2 distinct docs iff its doc ids are not all equal — so min/max
    // replaces count(DISTINCT doc_id) (optimization round 18): the
    // two-stage distinct expansion (an extra Exchange over every
    // (gram, doc_id) pair) collapses into one map-side-partial min/max
    // aggregation. Exact, not approximate: min = max ⟺ one distinct
    // doc. Plan: 3 Exchange → 2 (plus the result sort).
    val docsPerGram = grams.groupBy($"gram")
      .agg((min($"doc_id") =!= max($"doc_id")).as("multi"))
    grams.join(docsPerGram, "gram")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when($"multi", 1L).otherwise(0L)).as("n_dup"))
      .select($"doc_id", $"n_grams", $"n_dup",
        round($"n_dup" / $"n_grams", 6).as("dup_frac"))
      .orderBy($"doc_id")
  }

  private def oracleDupSpan: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS gram
      |  FROM w),
      |nd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
      |SELECT g.doc_id, count(*) AS n_grams,
      |       sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
      |       round(sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_frac
      |FROM g JOIN nd ON nd.gram = g.gram
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ------------------------------------------------- q93 embedding QA

  /** Embedding-store QA: per-dimension drift statistics (mean, sample
    * std, min, max) over the whole store — the pre-indexing check that
    * catches dead dimensions, scale drift between embedding-model
    * versions, and outliers. One posexplode (map-only) + one agg keyed
    * by dimension — 64 output rows regardless of corpus size, so the
    * reduce side is constant.
    */
  def embeddingQa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select(posexplode($"embedding").as(Seq("dim", "v")))
      .select($"dim", $"v".cast("double").as("v"))
      .groupBy($"dim")
      .agg(
        count(lit(1)).as("n"),
        round(avg($"v"), 6).as("mean_v"),
        round(stddev_samp($"v"), 6).as("std_v"),
        round(min($"v"), 6).as("min_v"),
        round(max($"v"), 6).as("max_v"))
      .orderBy($"dim")
  }

  private def oracleEmbeddingQa: String =
    """WITH x AS (
      |  SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
      |         unnest(list_transform(embedding, e -> e::DOUBLE)) AS v
      |  FROM embeddings)
      |SELECT dim::INTEGER AS dim, count(*) AS n, round(avg(v), 6) AS mean_v,
      |       round(stddev_samp(v), 6) AS std_v,
      |       round(min(v), 6) AS min_v, round(max(v), 6) AS max_v
      |FROM x GROUP BY dim ORDER BY dim""".stripMargin

  // ----------------------------------------------- q96 bloom decontam

  private val BloomOverlapMin = 3
  private val BloomItems = 20000L // ≥ distinct eval shingles at sf0.1
  private val BloomBits = 8 * BloomItems // ~8 bits/item ≈ 2% false-positive rate

  /** Bloom-prefiltered benchmark decontamination — q69's semantics in
    * the shape a 100 TB corpus needs when the eval set is too big to
    * broadcast as rows but fits as a SKETCH: aggregate the eval
    * shingles into a KB-scale Bloom filter (`graft_bloom_agg`, Spark's
    * own runtime-join-filter machinery exposed as SQL — see
    * [[graft.functions.GraftExtensions]]), prefilter the corpus scan
    * with `graft_might_contain` (a scalar subquery: one sketch build,
    * reused by every task), and run the exact overlap join only on
    * surviving grams (~fpp of the corpus instead of all of it). The
    * result is EXACT — false positives die in the verify join, false
    * negatives cannot happen — which is precisely what the value-gate
    * proves: the DuckDB oracle computes plain exact decontamination
    * with no bloom anywhere.
    */
  def bloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    // uniquified view name, dropped after analysis: never clobbers (or
    // leaks) a user view — spark.sql() analyzes eagerly, so the returned
    // plan holds the resolved subtree and survives the drop
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val view = s"graft_bloom_sh_$uid"
    val evView = s"graft_bloom_ev_$uid"
    Tables.load(spark, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(array_distinct(shingles3($"w"))).as("s"))
      .createOrReplaceTempView(view)
    // both eval legs (the bloom build and the exact verify join) read
    // the shared durable eval-shingle pin (round 19) — the old CTE
    // inlined `SELECT DISTINCT … WHERE doc_id < 20` twice, paying the
    // distinct exchange once per leg per run; the pin holds the
    // identical row set
    graft.operators.TextDedup.evalShinglePin(spark, dir)
      .createOrReplaceTempView(evView)
    try spark.sql(
      s"""WITH ev AS (SELECT s FROM $evView),
         |bf AS (SELECT graft_bloom_agg(xxhash64(s), CAST($BloomItems AS BIGINT), CAST($BloomBits AS BIGINT)) AS b FROM ev),
         |hits AS (
         |  SELECT t.doc_id, t.s FROM $view t
         |  WHERE t.doc_id >= 20
         |    AND graft_might_contain((SELECT b FROM bf), xxhash64(t.s)))
         |SELECT h.doc_id, count(*) AS n_overlap
         |FROM hits h JOIN ev ON ev.s = h.s
         |GROUP BY h.doc_id HAVING count(*) >= $BloomOverlapMin
         |ORDER BY doc_id""".stripMargin)
    finally {
      spark.catalog.dropTempView(view)
      spark.catalog.dropTempView(evView)
      ()
    }
  }

  private def oracleBloomDecontam: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${shingles3Sql("string_split(text, ' ')")}) AS s
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |d AS (SELECT DISTINCT doc_id, s FROM sh),
       |ev AS (SELECT DISTINCT s FROM d WHERE doc_id < 20)
       |SELECT doc_id, count(*) AS n_overlap
       |FROM d JOIN ev USING (s)
       |WHERE doc_id >= 20
       |GROUP BY doc_id HAVING count(*) >= $BloomOverlapMin ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ q101 PQ ANN

  private val Dim = 64
  private val PqM = 4 // subspaces (64 dims → 4 × 16)
  private val PqK = 4 // codebook size per subspace
  private val PqIters = 2

  /** Product-quantization ANN (q101): the codebook compression that
    * makes billion-vector stores searchable — each vector becomes
    * [[PqM]] one-byte codes (here 4), and query scoring is a lookup
    * table sum (ADC), never a float-vector scan. Pipeline, all
    * deterministic and oracle-replayed:
    *  1. codebooks: per-subspace k-means ([[PqK]] centroids,
    *     [[PqIters]] Lloyd iterations, init = first vectors'
    *     subvectors, means rounded to 9 decimals per iteration — the
    *     q86 discipline, keyed by (m, cid));
    *  2. encode: argmin centroid per (vector, subspace) — broadcast
    *     centroids, corpus never shuffles;
    *  3. ADC: per-query lookup table (NumQueries × PqM × PqK rows,
    *     broadcast), approximate dist² = fixed-order sum of the PqM
    *     table entries (no float-agg reassociation anywhere);
    *  4. top-[[QuantTopK]] per query on the ROUNDED ADC distance,
    *     tie-broken by corpus id; exact dist² joined alongside to
    *     expose the quantization error.
    * At 100 TB: codebooks and LUTs are KBs (broadcast), encoding and
    * scoring are map-side; the only shuffle is the per-query top-k.
    */
  /** The PQ pipeline through ADC ranking: per-query top-`k` corpus
    * candidates by rounded ADC distance, tie-broken by c_id — the
    * shared prune stage: q101 consumes it at k = [[QuantTopK]] (its
    * final answer), q147 at k = [[TwoStageCandidates]] (its candidate
    * set for exact re-rank).
    */
  private[operators] def pqAdcRanked(spark: SparkSession, dir: String, k: Int,
      normalized: Boolean = false, pqM: Int = PqM, pqK: Int = PqK): DataFrame = {
    import spark.implicits._
    require(Dim % pqM == 0, s"subspace count $pqM must divide $Dim")
    val pqSub = Dim / pqM
    val raw = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v0"))
    // normalized = the q147 candidate stage: on unit vectors
    // ‖q−c‖² = 2 − 2·cos, so the L2-trained codebook's ADC ranking is
    // rank-aligned with the cosine metric the re-rank stage uses —
    // without it the prune provably drops cosine winners whose raw
    // norms differ (measured at sf0.01). q101 keeps the raw-L2 fit.
    val ev =
      if (normalized) {
        // the norm is the codegen'd DotProduct(v0, v0) (same
        // accumulation order as the aggregate form and the oracle's
        // list_sum rendering) — an aggregate(...) INSIDE the transform
        // lambda would be re-evaluated per element, O(d²) per vector
        // in a boxed HOF
        val nrm = sqrt(graft.functions.DotProduct($"v0", $"v0"))
        raw.select($"vec_id", transform($"v0", x => x / nrm).as("v"))
      } else raw.select($"vec_id", $"v0".as("v"))
    val pinSuffix =
      (if (normalized) "norm-" else "") +
        (if (pqM != PqM || pqK != PqK) s"m$pqM-k$pqK-" else "")
    val ms = 0 until pqM
    val subs = ev.select($"vec_id", explode(array(ms.map(m =>
        struct(lit(m).as("m"), expr(s"slice(v, ${m * pqSub + 1}, $pqSub)").as("sub"))): _*)).as("t"))
      .select($"vec_id", $"t.m".as("m"), $"t.sub".as("sub"))
    var cents = subs.filter($"vec_id" < pqK)
      .select($"m", $"vec_id".as("cid"), expr("transform(sub, x -> round(x, 9))").as("cvec"))
    // codegen'd, not the boxed HOF form — the Lloyd's/encode hot loop
    val d2 = graft.functions.SquaredDistance(col("sub"), col("cvec"))
    // argmin as a keyed MIN-STRUCT aggregate, not a window — the
    // assignVectors (q86) discipline: the n×pqK candidate rows combine
    // map-side, so the exchange carries n×pqM rows instead of sorting
    // n×pqM×pqK through a window (measured: the window shape cost
    // ~100 s/call at sf10 with pqK=16). (d, cid) is unique per
    // (vec_id, m), so the struct tie-break replays the old
    // ORDER BY d, cid exactly and `sub` is never compared.
    def assign(cs: DataFrame): DataFrame =
      subs.join(broadcast(cs), "m")
        .withColumn("d", d2)
        .groupBy($"vec_id", $"m")
        .agg(min(struct($"d", $"cid", $"sub")).as("t"))
        .select($"vec_id", $"m", $"t.sub".as("sub"), $"t.cid".as("cid"), $"t.d".as("d"))
    (1 to PqIters).foreach { _ =>
      cents = assign(cents)
        .select($"m", $"cid", posexplode($"sub").as(Seq("dim", "x")))
        .groupBy($"m", $"cid", $"dim").agg(round(avg($"x"), 9).as("c"))
        .groupBy($"m", $"cid").agg(array_sort(collect_list(struct($"dim", $"c"))).as("dm"))
        .select($"m", $"cid", expr("transform(dm, t -> t.c)").as("cvec"))
    }
    // collapse the k-means lineage once: cents is PqM×PqK rows, but its
    // plan is the whole iterative pipeline — codes + each of the PqM
    // broadcast LUT joins would otherwise re-run it (measured ~3x cost).
    // Durable artifact (not localCheckpoint): the PQ codebook is the
    // model every downstream stage (q101 scoring, q105 recall, q147
    // re-rank) must agree on, and it must survive executor loss.
    cents = graft.core.Pin.shared(spark, s"pq-cents-$pinSuffix${graft.core.Pin.tag(dir)}")(cents)
    // the ENCODED CORPUS is the artifact PQ exists to store: in
    // production, codes are written once at ingest and every query
    // scans codes, never float vectors. Pin them durably — without
    // this, each query re-ran the encode pass (an O(n·pqM·pqK) scan),
    // which at sf10 dominated the whole two-stage query.
    val codes = graft.core.Pin.shared(spark,
      s"pq-codes-$pinSuffix${graft.core.Pin.tag(dir)}")(
      assign(cents).filter($"vec_id" >= NumQueries)
        .groupBy($"vec_id").agg(
          ms.map(m => max(when($"m" === m, $"cid")).as(s"c$m")).head,
          ms.map(m => max(when($"m" === m, $"cid")).as(s"c$m")).tail: _*)
        .withColumnRenamed("vec_id", "c_id"))
    val lut = subs.filter($"vec_id" < NumQueries)
      .join(broadcast(cents), "m")
      .select($"vec_id".as("q_id"), $"m", $"cid", round(d2, 9).as("d"))
      // NumQueries×pqM×pqK rows; derived from the durable codebook
      // artifact, so this pin too survives re-derive
      .transform(d => graft.core.Pin.shared(spark,
        s"pq-lut-$pinSuffix${graft.core.Pin.tag(dir)}")(d))
    // ADC scoring stays the chained per-subspace broadcast-join shape.
    // A literal-LUT rewrite (collect the pinned LUT once, fold the
    // lookups into the code scan as element_at over array literals —
    // zero joins, zero broadcasts) was built and MEASURED this round:
    // same-JVM interleaved min-of-5 came out 0.69× on q101, 0.83× on
    // the q147 candidate stage — the Generate×NumQueries projection
    // costs more than the codegen'd broadcast hash probes it removes —
    // so it was reverted (guide §1.1: the "ideal" plan lost to the
    // measured one).
    var scored: DataFrame = codes
    ms.foreach { m =>
      val lm = lut.filter($"m" === m)
        .select((if (m == 0) $"q_id" else $"q_id".as(s"q$m")), $"cid".as(s"k$m"), $"d".as(s"d$m"))
      val joined = scored.join(broadcast(lm), col(s"c$m") === col(s"k$m"))
      scored = if (m == 0) joined
        else joined.filter(col(s"q$m") === col("q_id")).drop(s"q$m")
    }
    val adc = ms.map(m => col(s"d$m")).reduce(_ + _)
    val w = Window.partitionBy($"q_id").orderBy($"adc_r", $"c_id")
    scored.withColumn("adc_r", round(adc, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
  }

  def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
    val ranked = pqAdcRanked(spark, dir, QuantTopK)
    val exact = graft.functions.SquaredDistance(col("qv"), col("cv"))
    ranked
      .join(ev.select($"vec_id".as("q_id"), $"v".as("qv")), "q_id")
      .join(ev.select($"vec_id".as("c_id"), $"v".as("cv")), "c_id")
      .select($"q_id", $"c_id", $"adc_r".as("pq_dist2"),
        round(exact, 6).as("exact_dist2"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  // ------------------------------------- q147 two-stage ANN retrieval

  /** Candidate-set width of the PQ prune stage — 32 per query against
    * a top-3 answer leaves a wide recall margin for the coarse
    * (PqK=4) ADC ranking, and the re-rank stage's cost is
    * O(NumQueries × 32) exact dot products regardless of corpus size.
    */
  private val TwoStageCandidates = 32

  /** Candidate-stage codebook resolution: 8 subspaces × 16 centroids
    * (32 bits/vector) instead of q101's demo-scale 4 × 4. The prune's
    * ADC ordering must track cosine tightly enough that every true
    * top-[[QuantTopK]] lands in the top-[[TwoStageCandidates]]; at the
    * 4 × 4 resolution the ADC ranking provably dropped half the
    * winners (measured at sf0.01), at 8 × 16 the margin holds with
    * room. Production tunes exactly this knob (bits/vector) against
    * measured recall.
    */
  private val CandPqM = 8
  private val CandPqK = 16

  /** Two-stage ANN (q147): the standard production retrieval shape —
    * stage 1 prunes the corpus to [[TwoStageCandidates]] candidates
    * per query with a PQ/ADC scan over unit-normalized vectors
    * ([[CandPqM]]×[[CandPqK]] codebook — reads code columns, never
    * float vectors; codebooks and LUTs are broadcast durable
    * artifacts), stage 2 re-ranks ONLY those candidates with q89's
    * exact integer dot products and returns the top-[[QuantTopK]].
    * Scan cost drops from O(n·d) float work (q89's exhaustive shape)
    * to an O(n) code scan plus O(candidates·d) integer work.
    *
    * Correctness gate: the oracle replays the whole deterministic
    * pipeline (normalized PQ fit → ADC candidates → int8 re-rank) in
    * SQL — the q101 discipline. End-to-end recall against the
    * EXHAUSTIVE scans is measured and oracle-gated in q105
    * (`two_stage` method row), and q89 stays in the catalog as the
    * exact audit companion. Recall 1.0 is NOT claimed: this corpus'
    * embeddings are clusters plus isotropic noise, and the true
    * top-3's margin over the field is mostly noise — a constant-width
    * prune provably cannot always contain it (measured: exact winners
    * ranked as low as 136/490 in the 8×16 ADC ordering at sf0.01;
    * bound-based exact pruning degenerates for the same reason). The
    * production dial is [[CandPqM]]/[[CandPqK]] bits-per-vector and
    * [[TwoStageCandidates]], priced against the q105 recall row.
    */
  /** Profiling hook: the q147 candidate stage alone. */
  private[graft] def twoStageCandidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pqAdcRanked(spark, dir, TwoStageCandidates,
        normalized = true, pqM = CandPqM, pqK = CandPqK)
      .select($"q_id", $"c_id")
  }

  def annTwoStage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cands = twoStageCandidates(spark, dir)
    val q = int8Quantized(spark, dir, "q_id", "q", isQuery = true)
      .select($"q_id", $"qv")
    val c = int8Quantized(spark, dir, "c_id", "c", isQuery = false)
      .select($"c_id", $"cv")
    // candidate list is queries×candidates rows — broadcast it against
    // the corpus side so re-rank is one map-side semi-join, no shuffle
    val pairs = c.join(broadcast(cands), "c_id").join(broadcast(q), "q_id")
    val w = Window.partitionBy($"q_id").orderBy($"icos".desc, $"c_id")
    pairs.withColumn("icos", int8Cos("qv", "cv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= QuantTopK)
      .select($"q_id", $"c_id", round($"icos", 6).as("int8_cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  private def oracleTwoStage: String =
    pqAdcReplaySql(CandPqM, CandPqK, normalized = true, tail =
      s""", cand AS (SELECT q_id, c_id FROM ranked WHERE rank <= $TwoStageCandidates),
         |qq AS (${int8QuantSql(s"vec_id < $NumQueries")}),
         |cc AS (${int8QuantSql(s"vec_id >= $NumQueries")}),
         |rr AS (
         |  SELECT cand.q_id, cand.c_id,
         |    ${int8CosSql("qq.qv", "cc.qv")} AS icos
         |  FROM cand
         |  JOIN qq ON qq.vec_id = cand.q_id
         |  JOIN cc ON cc.vec_id = cand.c_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY icos DESC, c_id) AS rank
         |       FROM rr)
         |SELECT q_id, c_id, round(icos, 6) AS int8_cosine, rank
         |FROM rk WHERE rank <= $QuantTopK ORDER BY q_id, rank""".stripMargin)

  /** DuckDB replay of [[pqAdcRanked]], parameterized exactly like the
    * Spark side (subspace count, codebook size, unit-normalization):
    * the full Lloyd's fit + encode + ADC scoring as CTEs, ending in a
    * `ranked(q_id, c_id, adc_r, rank)` CTE. `tail` is appended after
    * it — either further CTEs (leading `,`) or the final SELECT — so
    * the q101 and q147 oracles share ONE rendering of the pipeline
    * (the cappedDupSql discipline).
    */
  private def pqAdcReplaySql(pqM: Int, pqK: Int, normalized: Boolean,
      tail: String): String = {
    val pqSub = Dim / pqM
    val ms = 0 until pqM
    def d2Sql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    def assignCte(cents: String, out: String): String =
      s"""${out}_d AS MATERIALIZED (
         |  SELECT s.vec_id, s.m, s.sub, c.cid, ${d2Sql("s.sub", "c.cvec")} AS d
         |  FROM subs s JOIN $cents c ON c.m = s.m),
         |$out AS MATERIALIZED (
         |  SELECT vec_id, m, sub, cid, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
         |    FROM ${out}_d) WHERE rn = 1)""".stripMargin
    def recomputeCte(assigned: String, out: String): String =
      s"""${out}_m AS MATERIALIZED (
         |  SELECT m, cid, dim, round(avg(x), 9) AS c FROM (
         |    SELECT m, cid, unnest(sub) AS x,
         |           unnest(generate_series(1, len(sub))) AS dim FROM $assigned)
         |  GROUP BY m, cid, dim),
         |$out AS MATERIALIZED (SELECT m, cid, list(c ORDER BY dim) AS cvec FROM ${out}_m GROUP BY m, cid)""".stripMargin
    val iterCtes = (1 to PqIters).map { i =>
      val prev = if (i == 1) "cents0" else s"cents${i - 1}"
      s"${assignCte(prev, s"a$i")},\n${recomputeCte(s"a$i", s"cents$i")}"
    }.mkString(",\n")
    val codeCols = ms.map(m => s"max(CASE WHEN m = $m THEN cid END) AS c$m").mkString(", ")
    val lutJoins = ms.map(m =>
      s"JOIN lut l$m ON l$m.m = $m AND l$m.cid = k.c$m${if (m > 0) s" AND l$m.q_id = l0.q_id" else ""}")
      .mkString("\n  ")
    val adcSum = ms.map(m => s"l$m.d").mkString(" + ")
    // same double math, same order as the Spark normalization lambda
    val vExpr =
      if (normalized)
        """list_transform(embedding, x -> x::DOUBLE /
          |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))""".stripMargin
      else "list_transform(embedding, x -> x::DOUBLE)"
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id, $vExpr AS v FROM embeddings),
       |subs AS MATERIALIZED (
       |  SELECT vec_id, m, v[m * $pqSub + 1 : m * $pqSub + $pqSub] AS sub
       |  FROM ev CROSS JOIN (SELECT unnest([${ms.mkString(", ")}]) AS m)),
       |cents0 AS MATERIALIZED (
       |  SELECT m, vec_id AS cid, list_transform(sub, x -> round(x, 9)) AS cvec
       |  FROM subs WHERE vec_id < $pqK),
       |$iterCtes,
       |${assignCte(s"cents$PqIters", "acode")},
       |codes AS MATERIALIZED (
       |  SELECT vec_id AS c_id, $codeCols FROM acode
       |  WHERE vec_id >= $NumQueries GROUP BY vec_id),
       |lut AS MATERIALIZED (
       |  SELECT s.vec_id AS q_id, s.m, c.cid, round(${d2Sql("s.sub", "c.cvec")}, 9) AS d
       |  FROM subs s JOIN cents$PqIters c ON c.m = s.m
       |  WHERE s.vec_id < $NumQueries),
       |scored AS MATERIALIZED (
       |  SELECT l0.q_id, k.c_id, round($adcSum, 6) AS adc_r
       |  FROM codes k
       |  $lutJoins),
       |ranked AS MATERIALIZED (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_r, c_id) AS rank
       |  FROM scored)
       |$tail""".stripMargin
  }

  private def oraclePqAnn: String = {
    def d2Sql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    pqAdcReplaySql(PqM, PqK, normalized = false, tail =
      s"""SELECT r.q_id, r.c_id, r.adc_r AS pq_dist2,
         |  round(${d2Sql("q.v", "c.v")}, 6) AS exact_dist2, r.rank
         |FROM ranked r
         |JOIN ev q ON q.vec_id = r.q_id
         |JOIN ev c ON c.vec_id = r.c_id
         |WHERE r.rank <= $QuantTopK ORDER BY r.q_id, r.rank""".stripMargin)
  }

  // ------------------------------------------- q102 source KL divergence

  /** Per-source KL divergence (q102): D_KL(p_source ‖ p_corpus) over
    * unigram distributions, in bits — the drift/outlier audit that
    * ranks sources by how far their language deviates from the corpus
    * mix (domain skew, format artifacts, wrong-language dumps all
    * surface here). Shapes: one (source, word) count shuffle, two
    * O(|vocab|)-sized side aggs, a broadcast total; the KL sum itself
    * is computed over the per-source term list SORTED by word on both
    * engines, so float accumulation order is pinned and the compare is
    * exact. (At web-scale vocabularies, swap the sorted-list sum for a
    * round-per-term groupBy sum — same 6-decimal contract.)
    */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wc = Tables.load(spark, dir, "documents")
      .select($"source", explode(words($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c_sw"))
    val totS = wc.groupBy($"source").agg(sum($"c_sw").as("n_s"))
    val totW = wc.groupBy($"w").agg(sum($"c_sw").as("c_w"))
    val n = wc.agg(sum($"c_sw").as("n"))
    val terms = wc.join(totS, "source").join(totW, "w").crossJoin(broadcast(n))
      .withColumn("ps", $"c_sw".cast("double") / $"n_s")
      .withColumn("p", $"c_w".cast("double") / $"n")
      .withColumn("term", $"ps" * log2($"ps" / $"p"))
    terms.groupBy($"source")
      .agg(sum($"c_sw").as("n_words"),
        count(lit(1)).as("n_distinct"),
        array_sort(collect_list(struct($"w", $"term"))).as("ts"))
      .select($"source", $"n_words", $"n_distinct",
        round(expr("aggregate(transform(ts, t -> t.term), 0D, (a, v) -> a + v)"), 6).as("kl_bits"))
      .orderBy($"source")
  }

  private def oracleSourceKl: String =
    """WITH wx AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT source, w, count(*) AS c_sw FROM wx GROUP BY source, w),
      |tot_s AS (SELECT source, sum(c_sw) AS n_s FROM wc GROUP BY source),
      |tot_w AS (SELECT w, sum(c_sw) AS c_w FROM wc GROUP BY w),
      |n AS (SELECT sum(c_sw) AS n FROM wc),
      |terms AS (
      |  SELECT wc.source, wc.w, wc.c_sw,
      |    (wc.c_sw::DOUBLE / s.n_s) * log2((wc.c_sw::DOUBLE / s.n_s) / (t.c_w::DOUBLE / n.n)) AS term
      |  FROM wc JOIN tot_s s ON s.source = wc.source
      |  JOIN tot_w t ON t.w = wc.w CROSS JOIN n)
      |SELECT source, sum(c_sw)::BIGINT AS n_words, count(*)::BIGINT AS n_distinct,
      |  round(list_sum(list(term ORDER BY w)), 6) AS kl_bits
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------- q103 robust outliers

  /** Robust length-outlier detection per language (q103): median/MAD
    * z-scores (the outlier filter that, unlike mean/stddev, is not
    * itself dragged by the outliers it hunts). Two grouped EXACT
    * percentile passes (Spark `percentile` == DuckDB `quantile_cont`,
    * the q40-proven parity) with the O(|langs|) stats broadcast back —
    * the corpus never shuffles, only lang-keyed aggregates do. MAD = 0
    * (degenerate constant-length stratum) yields NULL z / NULL flag on
    * both engines via nullif.
    */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars")
    val med = docs.groupBy($"lang")
      .agg(percentile($"n_chars", lit(0.5)).as("med"))
    val stats = docs.join(broadcast(med), "lang")
      .withColumn("adev", abs($"n_chars" - $"med"))
      .groupBy($"lang")
      .agg(max($"med").as("med"), percentile($"adev", lit(0.5)).as("mad"))
    val z = ($"n_chars" - $"med") / (lit(1.4826) * nullif($"mad", lit(0.0)))
    docs.join(broadcast(stats), "lang")
      .select($"doc_id", $"lang", $"n_chars",
        round($"med", 4).as("med"), round($"mad", 4).as("mad"),
        round(z, 4).as("robust_z"),
        (abs(z) > 3.0).as("is_outlier"))
      .orderBy($"doc_id")
  }

  private def oracleRobustOutliers: String =
    """WITH med AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
      |  FROM documents GROUP BY lang),
      |stats AS (
      |  SELECT d.lang, max(m.med) AS med,
      |    quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
      |  FROM documents d JOIN med m ON m.lang = d.lang GROUP BY d.lang)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  round(s.med, 4) AS med, round(s.mad, 4) AS mad,
      |  round((d.n_chars - s.med) / (1.4826 * nullif(s.mad, 0)), 4) AS robust_z,
      |  abs((d.n_chars - s.med) / (1.4826 * nullif(s.mad, 0))) > 3.0 AS is_outlier
      |FROM documents d JOIN stats s ON s.lang = d.lang
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ q104 Zipf slope

  /** Zipf rank-frequency slope per source (q104): OLS fit of
    * ln(count) against ln(rank) over each source's word-frequency
    * table — natural text sits near slope −1; templated or synthetic
    * text drifts far from it, making this a cheap corpus-health
    * fingerprint. One (source, word) count shuffle, a per-source rank
    * window, then closed-form OLS over the per-source term list sorted
    * by rank (same pinned-accumulation discipline as q102). Rank ties
    * break on the word itself, so both engines rank identically.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wc = Tables.load(spark, dir, "documents")
      .select($"source", explode(words($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val rw = Window.partitionBy($"source").orderBy($"c".desc, $"w")
    val terms = wc.withColumn("rank", row_number().over(rw).cast("long"))
      .withColumn("x", log($"rank".cast("double")))
      .withColumn("y", log($"c".cast("double")))
    def s(f: String) = expr(s"aggregate(transform(ts, t -> $f), 0D, (a, v) -> a + v)")
    terms.groupBy($"source")
      .agg(count(lit(1)).as("n_vocab"),
        array_sort(collect_list(struct($"rank", $"x", $"y"))).as("ts"))
      .withColumn("n", $"n_vocab".cast("double"))
      .withColumn("sx", s("t.x")).withColumn("sy", s("t.y"))
      .withColumn("sxy", s("t.x * t.y")).withColumn("sxx", s("t.x * t.x"))
      .select($"source", $"n_vocab",
        round(($"sxy" - $"sx" * $"sy" / $"n") / ($"sxx" - $"sx" * $"sx" / $"n"), 6).as("slope"),
        round(($"sy" - ($"sxy" - $"sx" * $"sy" / $"n") / ($"sxx" - $"sx" * $"sx" / $"n") * $"sx") / $"n", 6).as("intercept"))
      .orderBy($"source")
  }

  private def oracleZipfSlope: String =
    """WITH wx AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT source, w, count(*) AS c FROM wx GROUP BY source, w),
      |terms AS (
      |  SELECT source, ln(c::DOUBLE) AS y,
      |    ln(row_number() OVER (PARTITION BY source ORDER BY c DESC, w)::DOUBLE) AS x,
      |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rank
      |  FROM wc),
      |sums AS (
      |  SELECT source, count(*)::BIGINT AS n_vocab, count(*)::DOUBLE AS n,
      |    list_sum(list(x ORDER BY rank)) AS sx,
      |    list_sum(list(y ORDER BY rank)) AS sy,
      |    list_sum(list(x * y ORDER BY rank)) AS sxy,
      |    list_sum(list(x * x ORDER BY rank)) AS sxx
      |  FROM terms GROUP BY source)
      |SELECT source, n_vocab,
      |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
      |  round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 6) AS intercept
      |FROM sums ORDER BY source""".stripMargin

  // --------------------------------------------- q105 ANN recall audit

  /** ANN recall audit (q105): recall@3 of each approximate index —
    * hyperplane LSH (q30), IVF (q62), PQ/ADC (q101) — against the exact
    * cosine top-3 (q29), per query. The quality dial every ANN
    * deployment needs next to its speed dial; composing it from the
    * catalog keeps one definition of each method. (PQ ranks by L2 ADC,
    * not cosine, so its recall also prices the metric mismatch.) All
    * inputs are deterministic, so the audit itself is value-oracled:
    * the oracle nests the component queries' own oracle SQL as
    * subquery CTEs — one source of truth per method on both engines.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // durable pin, not localCheckpoint: consumed four times below, and
    // the round-10 kill-soak (an executor SIGKILLed every 20 s through
    // the whole cluster-mode Verify) caught the old localCheckpoint
    // dying unrecoverably mid-query (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    // — the exact failure mode Pin.shared exists to remove. The exact
    // top-3 is also a sensible ingest-time artifact in its own right
    // (the ground-truth table an ANN deployment audits against).
    val exact3 = graft.core.Pin.shared(spark, s"ann-exact3-${graft.core.Pin.tag(dir)}")(
      Similarity.cosineTopK(spark, dir)
        .filter($"rank" <= 3).select($"q_id", $"c_id"))
    val qs = exact3.select($"q_id").distinct()
    val methods = Seq(
      "lsh" -> Similarity.annLsh(spark, dir),
      "ivf" -> Similarity.annIvf(spark, dir),
      // the recall audit needs only the PQ leg's (q_id, c_id): consume
      // the shared ranked stage directly (round 19) instead of full
      // pqAnn, whose two extra ev joins exist only to expose exact
      // dist² — they join on unique present keys, so they are
      // row-preserving and dropping them cannot change the id set
      "pq" -> pqAdcRanked(spark, dir, QuantTopK).select($"q_id", $"c_id"),
      // round 9: the q147 two-stage pipeline joins the priced methods —
      // its recall vs the exact scan is GATED here, not assumed
      "two_stage" -> annTwoStage(spark, dir))
    // Union the tagged candidate sets BEFORE the hit join/aggregation
    // (optimization round 19, guide §2.4): one broadcast join against
    // exact3 + one (method, q_id) aggregation + one left join replace
    // four of each — the same shape the oracle SQL has always used.
    // Row-for-row identical output: each (method, q_id) cell counts the
    // same hits, grouped once instead of per method.
    val tagged = methods.map { case (name, df) =>
      df.select(lit(name).as("method"), $"q_id", $"c_id")
    }.reduce(_.unionAll(_))
    val hits = tagged.join(exact3, Seq("q_id", "c_id"))
      .groupBy($"method", $"q_id").agg(count(lit(1)).as("n"))
    val methodNames = methods.map(_._1).toDF("method")
    // hits is methods×queries-bounded (40 rows) — broadcast it so the
    // left join never exchanges either side on (method, q_id)
    qs.crossJoin(methodNames)
      .join(broadcast(hits), Seq("method", "q_id"), "left")
      .select($"method", $"q_id",
        coalesce($"n", lit(0L)).as("n_hits"),
        round(coalesce($"n", lit(0L)) / 3.0, 6).as("recall"))
      .orderBy($"method", $"q_id")
  }

  private def oracleAnnRecall: String =
    s"""WITH exact_r AS (${Similarity.oracles("q29_cosine_topk")}),
       |lsh_r AS (${Similarity.oracles("q30_ann_lsh")}),
       |ivf_r AS (${Similarity.oracles("q62_ann_ivf")}),
       |pq_r AS ($oraclePqAnn),
       |ts_r AS ($oracleTwoStage),
       |exact3 AS (SELECT q_id, c_id FROM exact_r WHERE rank <= 3),
       |qs AS (SELECT DISTINCT q_id FROM exact3),
       |m AS (
       |  SELECT 'lsh' AS method, q_id, c_id FROM lsh_r
       |  UNION ALL SELECT 'ivf', q_id, c_id FROM ivf_r
       |  UNION ALL SELECT 'pq', q_id, c_id FROM pq_r
       |  UNION ALL SELECT 'two_stage', q_id, c_id FROM ts_r),
       |hits AS (
       |  SELECT m.method, m.q_id, count(*) AS n
       |  FROM m JOIN exact3 e ON e.q_id = m.q_id AND e.c_id = m.c_id
       |  GROUP BY m.method, m.q_id),
       |methods AS (SELECT unnest(['lsh', 'ivf', 'pq', 'two_stage']) AS method)
       |SELECT mt.method, qs.q_id, coalesce(h.n, 0)::BIGINT AS n_hits,
       |  round(coalesce(h.n, 0) / 3.0, 6) AS recall
       |FROM methods mt CROSS JOIN qs
       |LEFT JOIN hits h ON h.method = mt.method AND h.q_id = qs.q_id
       |ORDER BY mt.method, qs.q_id""".stripMargin

  // --------------------------------------------- q99 source overlap

  /** Cross-source overlap matrix (q99): Jaccard similarity of the
    * word-3-gram VOCABULARIES of every source pair — the corpus-level
    * leakage/contamination audit (which feeds overlap-aware mixture
    * weighting and dedup priorities). Scale shape: the distinct
    * (source, shingle) index is one shuffle; pair expansion happens on
    * the per-shingle posting list of SOURCES, whose length is bounded
    * by the (small) source count — so the join can never explode the
    * way a doc-level pairing can, regardless of corpus size. Source
    * pairs with zero shared shingles are absent by construction.
    */
  /** The distinct (source, 3-shingle) vocabulary index — ONE durable
    * session-shared artifact read by q99 (exact overlap matrix, twice)
    * and q132 (Theta sketches + exact companion, twice); each used to
    * re-derive its own copy per consumer.
    */
  private[operators] def sourceShingleIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.core.Pin.shared(spark, s"srcshingles-${graft.core.Pin.tag(dir)}")(
      Tables.load(spark, dir, "documents")
        .select($"source", words($"text").as("w"))
        .filter(size($"w") >= 3)
        .select($"source", explode(array_distinct(shingles3($"w"))).as("s"))
        .distinct())
  }

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = sourceShingleIndex(spark, dir)
    val sizes = idx.groupBy($"source").agg(count(lit(1)).as("n"))
    val common = idx.groupBy($"s")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> transform(slice(srcs, i + 2, size(srcs)), y -> struct(x as a_source, y as b_source))))"
      )).as("p"))
      .groupBy($"p.a_source".as("a_source"), $"p.b_source".as("b_source"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.toDF("a_source", "n_a"), "a_source")
      .join(sizes.toDF("b_source", "n_b"), "b_source")
      .select($"a_source", $"b_source", $"n_common", $"n_a", $"n_b",
        round($"n_common" / ($"n_a" + $"n_b" - $"n_common"), 6).as("jaccard"))
      .orderBy($"a_source", $"b_source")
  }

  private def oracleSourceOverlap: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${shingles3Sql("string_split(text, ' ')")}) AS s
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS a_source, b.source AS b_source, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.a_source, p.b_source, p.n_common, sa.n AS n_a, sb.n AS n_b,
       |  round(p.n_common::DOUBLE / (sa.n + sb.n - p.n_common), 6) AS jaccard
       |FROM pairs p
       |JOIN sizes sa ON sa.source = p.a_source
       |JOIN sizes sb ON sb.source = p.b_source
       |ORDER BY p.a_source, p.b_source""".stripMargin

  // --------------------------------------------- q100 length deciles

  /** Per-language length-decile profile (q100): ntile(10) over
    * deterministic (n_chars, doc_id) order within each language, then
    * decile-level stats — the length-distribution audit behind
    * truncation/packing budget choices. The window partitions by lang
    * (never a single global partition); the decile assignment is
    * tie-broken by doc_id so both engines bucket identically.
    */
  def lengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    Tables.load(spark, dir, "documents")
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"lang", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        round(avg($"n_chars"), 4).as("avg_chars"))
      .orderBy($"lang", $"decile")
  }

  private def oracleLengthDeciles: String =
    """WITH d AS (
      |  SELECT lang, n_chars,
      |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
      |  FROM documents)
      |SELECT lang, decile, count(*)::BIGINT AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  round(avg(n_chars), 4) AS avg_chars
      |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin

  // ------------------------------------------- q121 DSIR importance

  private[graft] val DsirBuckets = 128
  private val DsirTarget = "src0"
  private val DsirKeep = 10

  /** Feature bucket of a gram — ONE hashing definition shared by q121,
    * the streaming scorer ([[graft.streaming.StreamingJobs
    * .dsirScoreStream]]) and the oracle rendering below.
    */
  private[graft] def dsirBucket(g: Column): Column =
    pmod(hash64(concat(lit("dsir:"), g)), lit(DsirBuckets.toLong))

  /** The smoothed log-likelihood-ratio weight of one bucket, given
    * target/raw counts and totals — shared for the same reason.
    */
  private[graft] def dsirWeight(tc: Column, rc: Column, tt: Column, rt: Column): Column =
    log((coalesce(tc, lit(0L)) + 1.0) / (tt + DsirBuckets)) -
      log((coalesce(rc, lit(0L)) + 1.0) / (rt + DsirBuckets))

  /** DSIR-style data selection (q121) — Data Selection via Importance
    * Resampling (Xie et al. 2023): score every raw document by its
    * log-likelihood ratio under two hashed-n-gram bag models, a target
    * domain (here `src0`, standing in for the high-quality corpus) vs
    * the raw pool, and keep the top documents per source. The model is
    * O(buckets) regardless of corpus size — that is the method's whole
    * point — so at 100 TB the weight table (128 rows here; ~10k in the
    * paper) broadcasts, scoring is one map + one per-doc keyed agg,
    * and selection rides [[graft.plans.TopKPerKey]] (map-side top-k
    * bounds the shuffle to k rows per source per partition; no sort,
    * no full window).
    *
    * Determinism: feature hashing uses the shared md5-derived
    * [[TextPrims.hash64]]; ranking uses the 6-decimal-rounded score
    * (cross-engine ulp noise cannot flip ranks) with vec-order ties
    * broken toward the lower doc_id via the struct order key — the
    * deterministic counterpart of the paper's Gumbel resampling (the
    * stochastic variant is q94's weighted-sample key, which composes
    * with these scores unchanged).
    */
  /** The DSIR hashed-feature table — what DSIR materializes once per
    * corpus (the paper's preprocessing artifact): durable-pinned, so
    * the md5 bucket hashing of every bigram runs once per session
    * instead of once per consumer.
    */
  private[operators] def dsirFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.core.Pin.shared(spark, s"dsir-features-${graft.core.Pin.tag(dir)}")(
      Tables.load(spark, dir, "documents")
        .select($"doc_id", $"source", words($"text").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", $"source", explode(bigrams($"w")).as("g"))
        .select($"doc_id", $"source", dsirBucket($"g").as("b")))
  }

  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // both aggregations below read the pinned feature table
    val bk = dsirFeatures(spark, dir)
    // ONE pass over the exploded grams yields both per-bucket counts
    // (raw + target-filtered) — totals then derive from the B-row
    // count table, not from re-scanning the corpus (measured: the
    // separate tCnt/rCnt/tot formulation re-ran the explode 3×)
    val cnt = bk.groupBy($"b").agg(
      count(lit(1)).as("rc"),
      sum(when($"source" === DsirTarget, 1L).otherwise(0L)).as("tc"))
    // coalesce-to-0 mirrors the streaming twin (dsirScoreStream): on a
    // degenerate empty corpus sum() is NULL, and any consumer reading
    // the wts frame alone would silently get all-NULL weights
    val tot = cnt.agg(
      coalesce(sum($"rc"), lit(0L)).as("rt"),
      coalesce(sum($"tc"), lit(0L)).as("tt"))
    // the smoothed log-ratio weight per hash bucket; missing buckets
    // (never seen in target/raw) still get their smoothing mass via the
    // dense 0..B-1 frame, so the weight table is exactly B rows
    val wts = spark.range(DsirBuckets).select($"id".as("b"))
      .join(cnt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select($"b", dsirWeight($"tc", $"rc", $"tt", $"rt").as("wt"))
    val scored = bk.join(broadcast(wts), "b")
      .groupBy($"doc_id", $"source")
      .agg(round(sum($"wt"), 6).as("dsir_score"))
    val sel = graft.plans.TopKPerKey(scored, Seq("source"),
        struct($"dsir_score", (-$"doc_id").as("nid")), DsirKeep)
      .select($"doc_id", lit(true).as("sel"))
    scored.join(broadcast(sel), Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"dsir_score",
        coalesce($"sel", lit(false)).as("selected"))
      .orderBy($"doc_id")
  }

  private def oracleDsir: String = {
    val w = "string_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT doc_id, source, $w AS w FROM documents WHERE len($w) >= 2),
       |bg AS (
       |  SELECT doc_id, source, unnest(${bigramsSql("w")}) AS g FROM d),
       |bk AS (
       |  SELECT doc_id, source,
       |    ${hash64Sql("'dsir:' || g")} % $DsirBuckets AS b FROM bg),
       |t AS (SELECT b, count(*) AS tc FROM bk WHERE source = '$DsirTarget' GROUP BY b),
       |r AS (SELECT b, count(*) AS rc FROM bk GROUP BY b),
       |tot AS (
       |  SELECT count(*) FILTER (WHERE source = '$DsirTarget')::BIGINT AS tt,
       |    count(*)::BIGINT AS rt FROM bk),
       |gs AS (SELECT unnest(generate_series(0, ${DsirBuckets - 1})) AS b),
       |wt AS (
       |  SELECT gs.b,
       |    ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + $DsirBuckets)) -
       |    ln((coalesce(r.rc, 0) + 1.0) / (tot.rt + $DsirBuckets)) AS wt
       |  FROM gs LEFT JOIN t ON t.b = gs.b LEFT JOIN r ON r.b = gs.b CROSS JOIN tot),
       |sc AS (
       |  SELECT doc_id, source, round(sum(wt), 6) AS dsir_score
       |  FROM bk JOIN wt ON wt.b = bk.b GROUP BY doc_id, source),
       |sel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER
       |      (PARTITION BY source ORDER BY dsir_score DESC, doc_id) AS rn
       |    FROM sc) WHERE rn <= $DsirKeep)
       |SELECT sc.doc_id, sc.source, sc.dsir_score,
       |  sel.doc_id IS NOT NULL AS selected
       |FROM sc LEFT JOIN sel ON sel.doc_id = sc.doc_id
       |ORDER BY sc.doc_id""".stripMargin
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_length_deciles" -> (lengthDeciles _),
    "q101_pq_ann" -> (pqAnn _),
    "q102_source_kl" -> (sourceKl _),
    "q103_robust_outliers" -> (robustOutliers _),
    "q104_zipf_slope" -> (zipfSlope _),
    "q105_ann_recall" -> (annRecall _),
    "q99_source_overlap" -> (sourceOverlap _),
    "q96_bloom_decontam" -> (bloomDecontam _),
    "q92_dup_span_fraction" -> (dupSpanFraction _),
    "q93_embedding_qa" -> (embeddingQa _),
    "q94_weighted_sample" -> (weightedSample _),
    "q95_source_quota" -> (sourceQuota _),
    "q86_kmeans_clusters" -> (kmeansClusters _),
    "q113_cluster_quality" -> (clusterQuality _),
    "q120_semantic_dedup" -> (semanticDedup _),
    "q121_dsir_select" -> (dsirSelect _),
    "q87_doc_chunking" -> (docChunks _),
    "q88_mixture_weights" -> (mixtureWeights _),
    "q89_ann_int8" -> (annInt8 _),
    "q147_ann_two_stage" -> (annTwoStage _),
    "q90_containment_dedup" -> (containmentDedup _),
    "q91_quality_classifier" -> (qualityClassifier _),
  )

  val oracles: Map[String, String] = Map(
    "q100_length_deciles" -> oracleLengthDeciles,
    "q101_pq_ann" -> oraclePqAnn,
    "q102_source_kl" -> oracleSourceKl,
    "q103_robust_outliers" -> oracleRobustOutliers,
    "q104_zipf_slope" -> oracleZipfSlope,
    "q105_ann_recall" -> oracleAnnRecall,
    "q99_source_overlap" -> oracleSourceOverlap,
    "q96_bloom_decontam" -> oracleBloomDecontam,
    "q92_dup_span_fraction" -> oracleDupSpan,
    "q93_embedding_qa" -> oracleEmbeddingQa,
    "q94_weighted_sample" -> oracleWeightedSample,
    "q95_source_quota" -> oracleSourceQuota,
    "q86_kmeans_clusters" -> oracleKmeans,
    "q113_cluster_quality" -> oracleClusterQuality,
    "q120_semantic_dedup" -> oracleSemanticDedup,
    "q121_dsir_select" -> oracleDsir,
    "q87_doc_chunking" -> oracleChunks,
    "q88_mixture_weights" -> oracleMixture,
    "q89_ann_int8" -> oracleInt8,
    "q147_ann_two_stage" -> oracleTwoStage,
    "q90_containment_dedup" -> oracleContainment,
    "q91_quality_classifier" -> oracleQuality,
  )
}
