package graft

import org.scalatest.funsuite.AnyFunSuite

/** The requeue defense's record parser (round 14) and its probe
  * normalization (round 15): Bench compares each query's first-pass min
  * against the previous CANONICAL record — HOST-SPEED-CORRECTED by the
  * ratio of the record's probe median to the run's — and re-queues >2x
  * excursions for a late second set. The parser must read the exact
  * full-vector format Bench itself persists and fail CLOSED (empty map /
  * scale 1.0 → defense runs un-normalized) on anything else.
  */
class BenchRequeueSpec extends AnyFunSuite {

  private val line =
    """{"metric":"total","value":40.29,"unit":"sec","queries":{"q01_scan_project":[0.1612,0.1100,0.1099],""" +
      """"q02_agg_groupby":[0.3395,0.1996,0.1752],"q99_broken":-1,"q23_dedup_embedding":[1.52,0.91,0.80,0.84]},""" +
      """"probe":{"n":117,"min":0.041,"med":0.064,"max":0.188},"sf":"x"}"""

  test("parses per-query mins from the canonical full-vector format") {
    val mins = Bench.parseCanonicalMins(line)
    assert(mins("q01_scan_project") === 0.1099)
    assert(mins("q02_agg_groupby") === 0.1752)
    assert(mins("q23_dedup_embedding") === 0.80)
    // a failed query (-1, no vector) must yield NO record — it can
    // never gate a requeue into masking a real fix
    assert(!mins.contains("q99_broken"))
  }

  test("parses the record's probe median; fails closed when absent") {
    assert(Bench.parseProbeMedian(line).contains(0.064))
    assert(Bench.parseProbeMedian("""{"queries":{}}""").isEmpty)
    assert(Bench.parseProbeMedian("").isEmpty)
  }

  test("missing record disables the defense instead of failing the run") {
    assert(Bench.parseCanonicalMins("").isEmpty)
  }

  test("probe normalization: a slower host shrinks times before the 2x compare (the r14 drift)") {
    // r14's actual shape: record probe med 0.064, run probe med 0.072 —
    // the box was ~12% slower, every raw time ~12% inflated
    val scale = Bench.probeScale(Some(0.064), 0.072)
    assert(math.abs(scale - 0.8889) < 0.001)
    // a +60% raw drift on an untouched query: NOT contention once
    // normalized (0.16 * 0.889 = 0.142 < 2 * 0.1) — and also not
    // requeued raw (under 2x); the normalization just records it
    assert(!Bench.requeueNeeded(0.16, 0.1, scale))
    // a genuine contention hit (4x raw) still fires through the scale
    assert(Bench.requeueNeeded(0.40, 0.1, scale))
    // a FASTER host must not mask a real regression: raw 0.19 on a
    // 0.1 record reads under 2x, but the host runs 1.3x quicker —
    // corrected to 0.247, the trigger fires
    val fast = Bench.probeScale(Some(0.064), 0.049)
    assert(fast > 1.25 && Bench.requeueNeeded(0.19, 0.1, fast))
    // sub-50ms records stay exempt (dispatch jitter, not stalls)
    assert(!Bench.requeueNeeded(1.0, 0.04, 1.0))
    // no record probe → scale 1.0, raw behavior unchanged
    assert(Bench.probeScale(None, 0.072) === 1.0)
  }
  test("stall-bracket attribution: a parked probe indicts exactly the queries it brackets (round 16)") {
    // 8 queries -> probes 0..8 (leading each + one closing); probe 4
    // parked for 3 s: queries 3 and 4 are bracketed by it
    val probes = Seq(0.05, 0.06, 0.05, 0.05, 3.0, 0.05, 0.06, 0.05, 0.05)
    assert(Bench.stallAttributed(probes, 8) == Set(3, 4))
    // clean series attributes nothing
    assert(Bench.stallAttributed(Seq.fill(9)(0.05), 8) == Set.empty)
    // a 5x-but-short probe (JIT jitter) attributes nothing
    assert(Bench.stallAttributed(Seq(0.05, 0.3, 0.05, 0.05, 0.05), 4) == Set.empty)
    // a stall on the CLOSING bracket indicts the last query
    assert(Bench.stallAttributed(Seq(0.05, 0.05, 0.05, 2.0), 3) == Set(2))
    // truncated probe series (shouldn't happen) fails closed: no attribution
    assert(Bench.stallAttributed(Seq(0.05, 0.05), 8) == Set.empty)
  }

  test("retry bracket verdicts: clean rescues, stalled-again does not") {
    // first-pass probes then retry probes: retry lead at index 9
    val clean = Seq(0.05, 0.06, 0.05, 3.0, 0.05, 0.05, 0.05, 0.05, 0.05, 0.05, 0.06)
    assert(Bench.bracketClean(clean, lead = 9))
    val stalledRetry = clean.updated(10, 4.0)
    assert(!Bench.bracketClean(stalledRetry, lead = 9))
    // a lead with no closing probe is NOT clean (fails closed)
    assert(!Bench.bracketClean(clean, lead = 10))
  }

  test("compact summary line: one JSON object, documented keys and types, no per-item maps") {
    val longSf = "/data/scale/" + "nested-fixture-dir/" * 40 + "sf0.1"
    val line = Bench.compactSummaryLine(total = 36.2, totalNorm = 35.9, nQueries = 160,
      sfDir = longSf, master = "local[32]", iters = 3, scale = 0.991,
      sharedCacheSec = 27.5, probeN = 162, pMin = 0.041, pMed = 0.064, pMax = 0.188,
      hostNoise = 4.59, noisy = 2, requeued = 1, failedN = 0, contaminated = false)
    assert(line.length < 2000, s"${line.length} chars")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    val keys = node.fieldNames().asScala.toSet
    val numbers = Set("value", "probe_scale", "value_normalized", "shared_cache_sec", "host_noise")
    val ints = Set("n_queries", "iters", "noisy_queries", "requeued", "failed_queries")
    val strings = Set("metric", "unit", "sf", "master")
    assert(keys == numbers ++ ints ++ strings ++ Set("probe", "contaminated"))
    numbers.foreach(k => assert(node.get(k).isNumber, k))
    ints.foreach(k => assert(node.get(k).isIntegralNumber, k))
    strings.foreach(k => assert(node.get(k).isTextual, k))
    assert(node.get("contaminated").isBoolean)
    assert(node.get("sf").asText == longSf && node.get("n_queries").asInt == 160)
    // the probe summary is the ONE nested object: four scalars, never a
    // per-query or per-artifact map (those live in the full record)
    val probe = node.get("probe")
    assert(probe.fieldNames().asScala.toSet == Set("n", "min", "med", "max"))
    assert(probe.elements().asScala.forall(_.isNumber))
    assert(node.elements().asScala.count(_.isContainerNode) == 1)
  }

  test("persist refusal: filtered, non-canonical sf, non-canonical master, contaminated") {
    val sf = "/root/testdata/sf0.1"
    def refusal(only: Option[Seq[String]] = None, sfPath: String = sf,
        master: String = "local[32]", cluster: Boolean = false,
        contaminated: Boolean = false, exists: Boolean = true) =
      Bench.persistRefusal(only, sfPath, master, cluster, contaminated, exists)
    // the canonical full run persists, and so does a contaminated one
    // that bootstraps a missing record
    assert(refusal().isEmpty)
    assert(refusal(contaminated = true, exists = false).isEmpty)
    assert(refusal(only = Some(Seq("q01", "q70"))).exists(_.contains("filtered run (q01,q70)")))
    assert(refusal(sfPath = "/data/sf1").exists(_.contains("non-canonical sf dir /data/sf1")))
    // a local[8] run leaves the local[32] record untouched
    assert(refusal(master = "local[8]").exists(_.contains("master local[8]")))
    assert(refusal(contaminated = true).exists(_.contains("contaminated run")))
    // the cluster record is keyed by its own file, not the local master
    assert(refusal(master = "local-cluster[2,4,4096]", cluster = true).isEmpty)
  }
}
