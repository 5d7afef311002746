package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text/hash primitives for the data-pipeline operator suite.
  *
  * Every hash is derived from md5 so the DuckDB oracle can reproduce it
  * exactly: Spark `conv(substring(md5(s),1,15),16,10)::long` ==
  * DuckDB `('0x'||substr(md5(s),1,15))::BIGINT` (60-bit positive,
  * verified bit-exact in the round-1 parity probe).
  */
object TextPrims {

  /** Deterministic 60-bit hash of a string column, reproducible in
    * DuckDB — the shared primitive under MinHash / SimHash / LSH /
    * fingerprinting.
    */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB rendering of [[hash64]] for oracle generation. */
  def hash64Sql(e: String): String =
    s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** Corpus tokenization: the synthetic corpus is single-space joined;
    * split on ' ' keeps Spark and DuckDB `string_split` identical.
    */
  def words(text: Column): Column = split(text, " ")

  // ---- MinHash family: ONE definition for batch (TextDedup), ----
  // ---- streaming (StreamingJobs.lshBands) and the DuckDB oracle ----
  // 16 permutations from 4 salted md5 digests split into 32-bit hex
  // chunks (md5 dominates the signature stage; 4 digests instead of 16
  // measured 4x); 4 bands of 4 rows. Batch and streaming MUST bucket
  // identically — both sides derive every salt/chunk/band from here.
  val MinhashSalts: Seq[String] = Seq("A", "B", "C", "D")
  val MinhashPerms = 16
  val MinhashBands = 4
  def minhashRowsPerBand: Int = MinhashPerms / MinhashBands

  /** (salt, hex-chunk index) of permutation i. */
  def minhashSaltChunk(i: Int): (String, Int) =
    (MinhashSalts(i / (MinhashPerms / MinhashSalts.length)),
      i % (MinhashPerms / MinhashSalts.length))

  /** 32-bit chunk j of an md5-hex digest column. */
  def minhashChunk(digest: Column, j: Int): Column =
    conv(substring(digest, j * 8 + 1, 8), 16, 10).cast("long")

  /** Permutation i of a shingle as a SQL snippet (for lambda contexts
    * like `array_min(transform(...))` where Columns can't reach).
    */
  def minhashPermSql(i: Int, shingleExpr: String): String = {
    val (salt, j) = minhashSaltChunk(i)
    s"cast(conv(substring(md5(concat('$salt:', $shingleExpr)), ${j * 8 + 1}, 8), 16, 10) as long)"
  }

  /** DuckDB rendering of permutation i over shingle expression `s`. */
  def minhashPermDuckSql(i: Int, shingleExpr: String): String = {
    val (salt, j) = minhashSaltChunk(i)
    s"('0x'||substr(md5('$salt:' || $shingleExpr), ${j * 8 + 1}, 8))::BIGINT"
  }

  /** Band key from the band's signature columns. */
  def minhashBandKey(ms: Seq[Column]): Column = md5(concat_ws(",", ms: _*))

  /** Every pair of distinct `item`s that share a bucket of `rows`
    * grouped by `keys`, one row per (bucket, pair), as columns `a` < `b`
    * — the one posting-list pairing behind the Jaccard, LSH, SimHash,
    * embedding and source-overlap families. ONE exchange, keyed on
    * `keys`. Invariants every caller relies on:
    *  - each bucket's posting list is `sort_array(collect_list(item))`,
    *    so (each element, each later element) enumerates exactly the
    *    a < b pairs of the bucket (items are distinct within a bucket);
    *  - a pair recurs once per bucket it shares (several bands, several
    *    shingles), so the caller decides: `distinct` for a candidate
    *    set, `count` for a shared-key count;
    *  - `cap` filters the collected size: a bucket over the cap is
    *    collected (O(|g|)) but never expanded, nor is a singleton;
    *  - the expansion streams: it explodes the posting list with each
    *    element's position, then each row's later elements, so the
    *    largest array any row holds is the posting list itself, |g| —
    *    never the |g|(|g|-1)/2 pair array. A hot bucket costs its
    *    output and nothing more.
    */
  def bucketPairs(rows: DataFrame, keys: Seq[String], item: Column,
      cap: Int = Int.MaxValue): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(item)).as("g"))
      .filter(size(col("g")).between(2, cap))
      .select(col("g"), posexplode(col("g")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("g"), col("i") + 2, size(col("g")))).as("b"))

  /** [[bucketPairs]]' cross: every (a, b) pair of one bucket where `a`
    * comes from a row with `isLeft` and `b` from a row without it
    * (new batch × corpus). Streamed the same way: it explodes the left
    * list, then each row's right list; a pair recurs per shared bucket.
    */
  def bucketCross(rows: DataFrame, keys: Seq[String], item: Column,
      isLeft: Column): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(collect_list(when(isLeft, item)).as("l"),
        collect_list(when(!isLeft, item)).as("r"))
      .filter(size(col("l")) >= 1 && size(col("r")) >= 1)
      .select(explode(col("l")).as("a"), col("r"))
      .select(col("a"), explode(col("r")).as("b"))

  /** Occurrence count of the most frequent element of a word-array
    * column (named by `arr`) — the shared core of the q71 repetition
    * profile and the streaming ingest filter; one definition so the
    * batch and streaming keep-logic cannot diverge.
    */
  def topWordCount(arr: String): Column =
    // longest run in the sorted array — O(n log n) vs the naive
    // distinct×filter O(d·n) (measured ~2s of the q83/q71 scan at
    // sf0.1); same value: count of the most frequent element
    expr(s"""aggregate(array_sort($arr),
      named_struct('p', '', 'r', 0, 'b', 0),
      (a, x) -> named_struct(
        'p', x,
        'r', IF(x = a.p, a.r + 1, 1),
        'b', greatest(a.b, IF(x = a.p, a.r + 1, 1))),
      a -> a.b)""")

  /** Word 2-grams — the bigram unit shared by q71/q121/q122 (q81
    * builds struct pairs and keeps its own shape). ONE definition so
    * the three consumers' gram domains cannot drift. Caller must
    * filter `size(w) >= 2` first — same descending-`sequence` trap as
    * [[shingles3]].
    */
  def bigrams(w: Column): Column =
    transform(sequence(lit(1), size(w) - 1), i =>
      concat_ws(" ", element_at(w, i), element_at(w, i + 1)))

  /** DuckDB rendering of [[bigrams]]. */
  def bigramsSql(w: String): String =
    s"list_transform(generate_series(1, len($w) - 1), i -> $w[i] || ' ' || $w[i+1])"

  /** Word k-shingles (k=3): the n-gram unit for Jaccard/MinHash. Caller
    * must filter `size(words) >= 3` first — `sequence(1, n-2)` runs
    * DESCENDING when n < 3 (Spark auto-negates the step), which would
    * fabricate shingles on short docs.
    */
  def shingles3(w: Column): Column =
    transform(sequence(lit(1), size(w) - 2), i =>
      concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))

  /** DuckDB rendering of [[shingles3]] over `string_split(text, ' ')`. */
  def shingles3Sql(w: String): String =
    s"list_transform(generate_series(1, len($w)-2), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])"

  /** Double-valued dot product of two float-array columns, accumulation
    * order = array order (bit-exact vs DuckDB
    * `list_sum(list_transform(list_zip(a,b), p -> p[1]::DOUBLE*p[2]::DOUBLE))`).
    * Stays inside codegen — no UDF.
    */
  def dotD(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")

  def normD(a: String): Column =
    expr(s"sqrt(aggregate($a, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double)))")

  def cosineD(a: String, b: String): Column = dotD(a, b) / (normD(a) * normD(b))

  /** DuckDB rendering of [[cosineD]]. NOTE: deliberately NOT
    * `list_cosine_similarity` — that builtin accumulates in float32 and
    * diverges from Spark's double accumulation at ~1e-8.
    */
  def cosineSql(a: String, b: String): String =
    s"(list_sum(list_transform(list_zip($a, $b), p -> p[1]::DOUBLE * p[2]::DOUBLE)) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))))"
}
