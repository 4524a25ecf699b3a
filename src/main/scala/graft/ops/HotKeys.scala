package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The hot-key probe shared by the exact-vs-capped dispatchers
  * ([[Dedup.minhashLshAuto]], [[Dedup.sharedNgramPairsAuto]],
  * [[Graph.knnGraphAuto]]). Each of them self-joins rows on a key — an
  * LSH band bucket, a shared n-token window, an IVF cell — and a key
  * holding k rows costs C(k,2) pairs, so the one quantity that prices
  * the join is the pair mass Σ C(k,2) of the key histogram. On skewed
  * input one key at a linear corpus fraction carries a quadratic share;
  * the dispatchers measure that mass here and each applies its own
  * routing rule and cap.
  */
object HotKeys {

  /** One key histogram's pair statistics: `pairs` = Σ C(k,2); `pairsCapped`
    * = the same sum with each key over the cap counted as the caller's
    * `overCap` mass instead (0 unless the caller splits hot keys); `maxKey`
    * = the hottest key's k; `rows` = Σ k; `keys` = the number of keys.
    */
  case class Mass(pairs: Double, pairsCapped: Double, maxKey: Long, rows: Long,
                  keys: Long)

  /** The per-key row count inside [[mass]]'s aggregate, for `overCap`. */
  val k: Column = col("k")

  /** ONE map-side-combined probe: `groupBy(keys).count`, then a fold of the
    * per-key statistics in each partition, reduced on the driver (one small
    * record per partition; unlike a global aggregate there is no
    * single-partition exchange, so the probe is the histogram's shuffle
    * job plus one result job). Pair mass sums in DOUBLE: a hot key of k
    * rows contributes k(k-1)/2, and at the corpus sizes this probe exists
    * to defend against (k a linear fraction of 1e10+ rows) the Long form
    * wraps silently and could route the most degenerate input EXACT (r12
    * review). Double is approximate above 2^53 — routing is an
    * order-of-magnitude decision, and the reported estimates saturate at
    * Long.MaxValue. An empty input reads as all zeros.
    */
  def mass(rows: DataFrame, keys: Seq[String], cap: Int,
           overCap: Column = lit(0.0)): Mass = {
    val half = k.cast("double") * (k - 1).cast("double") / 2
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("k"))
      .select(half, when(k <= cap, half).otherwise(overCap).cast("double"), k)
      .rdd.aggregate(Mass(0.0, 0.0, 0L, 0L, 0L))((m, r) =>
        plus(m, Mass(r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(2), 1L)),
        plus)
  }

  private def plus(a: Mass, b: Mass): Mass =
    Mass(a.pairs + b.pairs, a.pairsCapped + b.pairsCapped,
      math.max(a.maxKey, b.maxKey), a.rows + b.rows, a.keys + b.keys)

  /** Document-sample modulus of the sampled pre-probe: docs with
    * `md5(id) mod S == 0` (deterministic, engine-reproducible) feed one
    * streaming key-histogram aggregate that never materializes the full
    * key frame. The estimators are exactly unbiased: a key shared by k
    * docs keeps Binomial(k, 1/S) sampled members and E[C(k_s,2)]·S² =
    * C(k,2) for every k, so pair mass scales by S², rows by S, and the
    * pairs-per-unit routing ratio by one clean S with no bias term. At
    * sf100 the checkpointed span probe's wall was 569 s against an 86 s
    * routed plan (the LSH probe: 12.8% of its routed total), all of it
    * materialization the EXACT route never reads — its two self-join
    * scans share one exchange.
    */
  val ProbeSampleMod: Int = 64

  /** The sample only decides when the estimated ratio is OUTSIDE
    * `[threshold/band, threshold·band]` on an adequate sample; anything
    * closer to the boundary (or sampled thinly) falls back to the exact
    * probe, so small and borderline inputs behave exactly as without the
    * sample. Real corpus shapes sit decades from the boundary (sf100 span:
    * 0.002 pairs/row vs 8; the boilerplate shape: hundreds vs 8), so the
    * band only catches genuinely borderline inputs, where the exact
    * probe's cost is modest anyway.
    */
  val ProbeAmbiguityBand: Double = 4.0

  /** A route decided from the sample: `nInput` and `estPairs` are S-scaled
    * estimates, `maxKey` a sample LOWER BOUND.
    */
  case class Sample(exact: Boolean, nInput: Long, estPairs: Long, maxKey: Long)

  /** The sampled pre-probe. `keyRows` builds the key frame from the sampled
    * docs (`rowsPerUnit` key rows per input unit: `bands` per doc for LSH,
    * 1 per gram row for spans); the estimated pairs per unit routes EXACT
    * at or below `maxPairsPerUnit / band`, CAPPED at or above
    * `maxPairsPerUnit · band`. None = fall through to the exact probe:
    * `sampleMod <= 1`, fewer than `minRows` sampled key rows, or a ratio
    * inside the band.
    */
  def sampled(docs: DataFrame, idCol: String, sampleMod: Int, minRows: Long,
              rowsPerUnit: Int, maxPairsPerUnit: Long, keys: Seq[String])
             (keyRows: DataFrame => DataFrame): Option[Sample] =
    if (sampleMod <= 1) None
    else {
      val s = sampleMod.toLong
      // cap = Int.MaxValue: the ≤cap mass is not estimable from the sample
      // (with S ≫ cap a key of k ≤ cap docs almost never draws 2 sampled
      // members), so only the resolvable statistics are read
      val m = mass(keyRows(docs.filter(
        pmod(Pipeline.md5Hash60(col(idCol)), lit(s)) === 0L)), keys, Int.MaxValue)
      // estimated pairs per unit = (pairs·S²) / (rows·S / rowsPerUnit)
      val ratio = if (m.rows > 0) m.pairs * s * rowsPerUnit / m.rows else 0.0
      val thr = maxPairsPerUnit.toDouble
      val exact = ratio <= thr / ProbeAmbiguityBand
      if (m.rows >= minRows && (exact || ratio >= thr * ProbeAmbiguityBand))
        Some(Sample(exact, m.rows * s / math.max(rowsPerUnit, 1),
          (m.pairs * s * s).toLong, m.maxKey))
      else None
    }
}

/** One dispatched exact-vs-capped run: the regime, the probe that chose it,
  * its statistics, and the routed result (`pairs`: verified LSH pairs,
  * shared-span pairs, or symmetrized kNN-graph edges).
  *
  *  - `probeMode`: `"exact"` = the full key-histogram aggregate (stats
  *    exact); `"sampled"` = the document-sampled pre-probe, where `nInput`/
  *    `estPairs` are unbiased S-scaled estimates and `maxKey` is a sample
  *    LOWER BOUND; `"none"` = the probe was skipped (an LSH corpus at or
  *    below its probe floor: exact by construction, every `est*`/`maxKey`
  *    field `-1`, never measured).
  *  - `nInput`: docs (LSH), gram rows (spans), indexed vectors (kNN).
  *  - `estPairs`: Σ C(k,2) over the keys. LSH counts BAND multiplicity (a
  *    pair colliding in b bands counts b times).
  *  - `estPairsCapped`: the pair mass of the ROUTED plan in every probe
  *    mode — `estPairs` in the exact regime (no cap is applied, so the
  *    capped mass IS the mass), the ≤cap-restricted mass (kNN: the
  *    sub-bucket mass) in the exact-probe capped regime, and `-1` in the
  *    sampled capped regime.
  *  - `retention`: the routed plan's share of the pair mass (1.0 exact;
  *    NaN in the sampled capped regime). For LSH a PESSIMISTIC bound on
  *    verified-pair recall (a true pair survives if ANY of its band
  *    buckets is under the cap); for kNN a PROXY, not a bound (a
  *    sub-bucket's top-k may promote farther neighbors rather than drop
  *    edges). Measure with the family's recall eval before trusting a cap
  *    on a new corpus.
  *
  * The sampled capped sentinels (-1 / NaN) are honest "not estimable"
  * markers: the ≤cap mass sits below sample resolution at S ≫ cap, and a
  * plausible-looking wrong number is worse.
  */
case class Dispatch(regime: String, probeMode: String, nInput: Long,
                    estPairs: Long, estPairsCapped: Long, maxKey: Long,
                    retention: Double, cap: Int, pairs: DataFrame) {
  def probed: Boolean = probeMode != "none"
}

object Dispatch {

  /** A route decided by the exact probe's [[HotKeys.Mass]]. */
  def fromMass(exact: Boolean, nInput: Long, m: HotKeys.Mass, cap: Int,
               pairs: DataFrame): Dispatch =
    Dispatch(if (exact) "exact" else "capped", "exact", nInput,
      estPairs = m.pairs.toLong,
      estPairsCapped = (if (exact) m.pairs else m.pairsCapped).toLong,
      maxKey = m.maxKey,
      retention = if (exact) 1.0 else m.pairsCapped / math.max(m.pairs, 1.0),
      cap = if (exact) Int.MaxValue else cap, pairs = pairs)

  /** A route decided by [[HotKeys.sampled]]. */
  def fromSample(s: HotKeys.Sample, cap: Int, pairs: DataFrame): Dispatch =
    Dispatch(if (s.exact) "exact" else "capped", "sampled", s.nInput,
      estPairs = s.estPairs,
      estPairsCapped = if (s.exact) s.estPairs else -1L,
      maxKey = s.maxKey,
      retention = if (s.exact) 1.0 else Double.NaN,
      cap = if (s.exact) Int.MaxValue else cap, pairs = pairs)
}
