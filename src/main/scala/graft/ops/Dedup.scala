package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines, each designed
  * around Spark's shuffle model so the same plan holds at 100 TB:
  *
  *  - exact:      hash-groupBy on a content digest — one shuffle on md5,
  *                perfectly balanced unless the corpus is one document.
  *  - MinHash-LSH: shingle → k minhashes → banded bucket-join. Candidate
  *                generation is a shuffle on (band, bandHash) — never a
  *                cross join — then only candidate pairs are verified.
  *  - SimHash:    64-bit signature via per-bit majority vote over token
  *                hashes; near-dups collide on bit-prefix buckets.
  *  - n-gram Jaccard: exact verification kernel (also usable standalone
  *                with a blocking key).
  *
  * Hashing is md5-based everywhere (not Spark's xxhash64) so every
  * signature is reproducible in any engine — the DuckDB oracle mirrors
  * these pipelines expression-for-expression.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the lowest id.
    * `count` is the family size (1 = unique).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup MATERIALIZATION: the full rows of each digest family's
    * canonical keeper (min id). One digest aggregation + one semi join
    * on (digest, id) — the corpus is scanned twice, shuffled once per
    * side, and never collected.
    */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exact(df, textCol, idCol).select(col("digest"), col("keep_id"))
    df.withColumn("__digest", md5(col(textCol)))
      .join(keep,
        col("__digest") === col("digest") && col(idCol) === col("keep_id"),
        "left_semi")
      .drop("__digest")
  }

  /** Jaccard similarity of two string-array columns (distinct-element
    * semantics on both sides of the ratio).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** k minhashes of a shingle array via Kirsch-Mitzenmacher double
    * hashing: h_i(s) = h1(s) + i*h2(s), where h1/h2 are 60- and 56-bit
    * slices of md5(s) — one digest per shingle instead of k, and the
    * arithmetic stays below 2^63 so it is exact in any engine's BIGINT.
    */
  /** The (h1, h2) digest pair per shingle — compute once per document
    * (materialize/cache the result before fanning out to k minhash
    * entries; see minhashLsh).
    */
  def shingleHashPairs(shingleCol: Column): Column =
    transform(shingleCol, s => struct(
      conv(substring(md5(s), 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(md5(s), 16, 14), 16, 10).cast("long").as("h2")))

  def minhashFromPairs(hashPairs: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(hashPairs, h =>
        h.getField("h1") + lit(i.toLong) * h.getField("h2")))): _*)

  def minhashSignature(shingleCol: Column, k: Int): Column =
    minhashFromPairs(shingleHashPairs(shingleCol), k)

  /** Shared LSH prep: the shingle frame (with sorted xxhash64 shingle
    * hashes for exact verification) and the banded signature rows.
    * Both are localCheckpointed: each feeds several consumers, and
    * projection collapse would otherwise recompute the md5 pyramid per
    * use (see the comment in minhashLsh for the full rationale).
    *
    * Returns (shingle frame, band frame, band-row count). The count is
    * `-1` when the bands are not checkpointed; otherwise it is read off
    * the SAME job that materializes the checkpoint (lazy localCheckpoint
    * + count — one action instead of eager-checkpoint-then-probe), so
    * the dispatcher's row-count floor costs zero extra jobs.
    */
  private def shingleBands(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int, bands: Int, rows: Int,
                           checkpointBands: Boolean = true,
                           checkpointSh: Boolean = true): (DataFrame, DataFrame, Long) = {
    val sh0 = df.select(col(idCol).as("doc_id"),
      TextAnalysis.shingles(col(textCol), shingleN).as("s"))
      // A doc shorter than shingleN tokens has an EMPTY shingle set: no
      // similarity signal, jaccard undefined. Exclude it from banding —
      // the kernel's sentinel signature (Long.MaxValue minima) would
      // otherwise band all short docs together while a SQL replay's
      // list_min over an empty list yields NULL digests that never join.
      // Verified paths were immune (0/0 jaccard fails every threshold),
      // but the raw candidate view (lshCandidatePairs) was not.
      .filter(size(col("s")) > 0)
      .withColumn("sx", sort_array(transform(col("s"), s => xxhash64(s))))
    // checkpoint sh only for callers that verify (they re-scan it twice
    // by id); a candidates-only caller would pay a full materialization
    // of the shingle arrays for a frame it never reads again. LAZY: the
    // band count below (or the first consumer) materializes it inside a
    // job that was running anyway — concurrent first scans coordinate
    // through the block manager, so it is still computed once.
    val sh = if (checkpointSh) sh0.localCheckpoint(false) else sh0
    // one-pass codegen kernel == minhashFromPairs(shingleHashPairs(s), k)
    // (property-checked in OpsSpec); k running minima over one md5 per
    // shingle instead of a k-wide interpreted transform pyramid
    val sig = sh.select(col("doc_id"),
      graft.functions.HashColumns.minhashSignature(col("s"), bands * rows).as("sig"))
    val bandRows = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|",
          slice(col("sig"), b * rows + 1, lit(rows)).cast("array<string>")))))
        .as(Seq("band", "digest")))
    // checkpoint only when the caller scans the band frame more than once
    // (minhashLsh's self-join does; incrementalMinhash's one-shot probe
    // join would pay an eager full-corpus materialization for nothing)
    if (checkpointBands) {
      val b = bandRows.localCheckpoint(false)
      // classic RDD count over the internal rows: ONE job (a Dataset
      // .count() plans an AQE aggregate that runs as two), materializing
      // b AND the lazy sh — byte-for-byte what eager localCheckpoint's
      // own internal count did, plus the number comes back
      (sh, b, b.queryExecution.toRdd.count())
    } else (sh, bandRows, -1L)
  }

  /** MinHash-LSH near-duplicate pairs over `df(idCol, textCol)`.
    *
    * Pipeline: shingle → signature(bands*rows) → explode one row per band
    * with a band digest → self-join on (band, digest) for candidates →
    * verify exact shingle Jaccard >= threshold. The only shuffles are the
    * band-bucket exchange and the two verification joins on id — all
    * key-partitioned, no quadratic blowup. Skewed buckets (boilerplate
    * documents) are bounded by the band digest's 128-bit spread; AQE's
    * skew-join handles the rest.
    *
    * `maxBucket` contract. A (band, digest) bucket holding k docs
    * contributes C(k,2) candidate pairs, and on vocabulary-limited
    * corpora the per-band minima concentrate on the few globally-smallest
    * shingle hashes, so the hottest bucket grows as a LINEAR FRACTION of
    * the corpus — candidates then grow n² (measured: 1.1M pairs at 50k
    * docs → 10.2M at 150k on the driver-shaped corpus, with the top
    * bucket at 0.2% of all docs). Buckets above the cap are dropped
    * before the self-join — the stop-shingle rule: a collision shared by
    * thousands of documents carries little similarity information. A true
    * near-dup pair survives iff SOME band bucket under the cap contains
    * it, and on this corpus that is a measured RECALL TRADE-OFF, not a
    * free lunch: at 150k docs, cap=50 keeps 238 of 300 verified pairs
    * (79%) at 2.4× the speed. Tune the cap with q_eval_dedup_recall
    * before trusting it, and run exact dedup first so a giant EXACT-dup
    * family (a legitimate hot bucket) is collapsed before LSH ever sees
    * it.
    *
    * The DEFAULT is [[AutoBucket]] — the size-aware dispatcher (r10
    * verdict: "default exact" handed a user pointing this at 100 TB the
    * n² plan). Pass `Int.MaxValue` to force exact, a positive cap to
    * force capped; see [[minhashLshAuto]] for the probe/route contract
    * and the dispatch metadata.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 shingleN: Int = 3, bands: Int = 3, rows: Int = 3,
                 threshold: Double = 0.5,
                 maxBucket: Int = AutoBucket): DataFrame =
    if (maxBucket == AutoBucket)
      minhashLshAuto(df, textCol, idCol, shingleN, bands, rows, threshold).pairs
    else {
      // Shingling and the k-minhash signature feed three consumers (band
      // self-join + both verification joins); materialize them once instead
      // of letting projection collapse recompute the md5 pyramid per use.
      // localCheckpoint is eager (each scan reads materialized blocks, never
      // the md5 upstream), truncates lineage, and — unlike catalog .cache()
      // — is released by the ContextCleaner when the result is dropped, so
      // library use in a long-lived session doesn't accumulate storage
      // (ADVICE r1). At cluster scale this becomes a reliable checkpoint —
      // the plan shape is the same.
      val (sh, bandRows0, _) = shingleBands(df, textCol, idCol, shingleN, bands, rows)
      verifiedPairs(sh, capBuckets(bandRows0, maxBucket), threshold)
    }

  /** Sentinel `maxBucket` value: let [[minhashLshAuto]] probe the bucket
    * distribution and pick the regime. The default everywhere a caller
    * does not state an explicit exact/capped choice.
    */
  val AutoBucket: Int = -1

  /** The dispatcher's default cap / routing threshold / probe floor —
    * named once and referenced by BOTH [[minhashLshAuto]]'s signature and
    * the band-only auto path ([[autoCapBuckets]], behind
    * [[lshCandidatePairs]] and [[incrementalMinhash]]), so every Auto
    * entry point routes identically under identical inputs; a retune
    * here retunes them together (ADVICE r11).
    */
  val DefaultCappedBucket: Int = 50
  val DefaultMaxCandidatesPerDoc: Long = 96L

  /** Row-count floor for the probe itself: at or below this many docs the
    * dispatcher routes EXACT without running the bucket-distribution
    * probe. Sub-floor work is bounded by a corpus-size-independent
    * constant — even the fully degenerate worst case (every doc in one
    * bucket) is ≤ bands·C(floor,2) raw collisions, the kind of bounded
    * job the cap exists to protect, not produce — so the probe would be
    * pure overhead (measured +29% canary-normalized on sf0.1's 5k-doc
    * corpus in r11). The doc count is read off the same job that
    * materializes the band checkpoint, so the floor check is free.
    */
  val DefaultProbeFloorDocs: Long = 8192L

  /** Sampled LSH routing decides only on an adequate sample: at least
    * this many sampled band rows (see [[HotKeys.ProbeAmbiguityBand]]).
    */
  val MinSampledBandRows: Long = 8192L

  /** Phase-1 engagement gate: the sampled pre-probe itself costs one
    * job, and on a small corpus that job is pure overhead on top of a
    * probe that was already cheap (the r11 lesson — +29% canary-
    * normalized from probing a 5k-doc corpus; dedup_minhash_lsh is a
    * bench canary member). The gate reads Catalyst's size statistic
    * (file bytes for a scan — no job): below it the corpus cannot
    * produce an adequate sample at the default S anyway
    * (MinSampledBandRows needs ~175k docs), so phase 2 runs directly
    * and every sub-gate corpus keeps the r14 plan byte-for-byte.
    */
  val DefaultLshProbeSampleMinBytes: Long = 64L << 20

  /** Size-aware MinHash-LSH dispatcher (the Ranks.groupedPercentiles
    * pattern applied to dedup). ONE cheap probe over the
    * already-checkpointed band rows ([[HotKeys.mass]] over the
    * (band, digest) buckets — map-side-combined on a frame of `bands`
    * rows per doc) decides:
    *
    *  - Σ C(k,2) ≤ `maxCandidatesPerDoc` · nDocs → EXACT: candidate
    *    generation is linear-in-corpus work, no reason to pay recall.
    *  - above → CAPPED at `cappedBucket`: the hot-bucket n² regime has
    *    arrived (sf10 soak: 113.8M candidates = 228/doc, 24× wall slope
    *    at the old exact default; cap=50 holds 1.75×/decade at 75–79%
    *    verified-pair recall).
    *
    * Σ C(k,2) counts BAND multiplicity (a pair colliding in b bands
    * counts b times — the probe never pays the distinct-pair shuffle),
    * so thresholds are in raw collisions: the default 96/doc ≈ 32
    * distinct pairs/doc at 3 bands. Measured routing on the driver-shaped
    * corpus: sf0.01 (298 raw ≈ 0.6/doc) … sf1 (2.05M ≈ 41/doc) exact;
    * sf3+ (the n² onset: ~31M ≈ 204/doc) capped. The probe is an eager
    * construction-time job, accounted in the probe-job budget sweep
    * (PlanSpec). See [[Dispatch]] for the reported statistics.
    */
  def minhashLshAuto(df: DataFrame, textCol: String, idCol: String,
                     shingleN: Int = 3, bands: Int = 3, rows: Int = 3,
                     threshold: Double = 0.5,
                     cappedBucket: Int = DefaultCappedBucket,
                     maxCandidatesPerDoc: Long = DefaultMaxCandidatesPerDoc,
                     probeFloorDocs: Long = DefaultProbeFloorDocs,
                     probeSampleMod: Int = HotKeys.ProbeSampleMod,
                     minSampledBandRows: Long = MinSampledBandRows,
                     probeSampleMinBytes: Long = DefaultLshProbeSampleMinBytes)
      : Dispatch = {
    // Phase 1 — SAMPLED pre-probe (r15, the span two-phase pattern):
    // shingle/band 1/S of the docs, one streaming bucket-histogram
    // aggregate, no checkpoints. The clear-EXACT route then builds the
    // band frame CHECKPOINT-FREE (its two self-join scans share one
    // exchange) and skips the checkpoint's count job; the clear-CAPPED
    // route keeps the checkpoint (the stop-shingle gate's keep-aggregate
    // plus both self-join sides = three consumers).
    // fail CLOSED on plans without real size statistics (review r15):
    // a LogicalRDD (localCheckpointed input — pervasive in this
    // library) reports defaultSizeInBytes = Long.MaxValue, which would
    // pass a plain >= gate and pay the phase-1 job on exactly the small
    // corpora the gate protects. Unknown size -> phase 2, the same
    // fail-safe direction as AsOfJoinPlan's broadcast threshold.
    val szStats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sample =
      if (szStats >= BigInt(probeSampleMinBytes) &&
          szStats < BigInt(Long.MaxValue) / 2)
        HotKeys.sampled(df, idCol, probeSampleMod, minSampledBandRows, bands,
          maxCandidatesPerDoc, Seq("band", "digest"))(
          shingleBands(_, textCol, idCol, shingleN, bands, rows,
            checkpointBands = false, checkpointSh = false)._2)
      else None
    sample.map { s =>
      val (sh, bandRows, _) = shingleBands(df, textCol, idCol, shingleN,
        bands, rows, checkpointBands = !s.exact)
      Dispatch.fromSample(s, cappedBucket, verifiedPairs(sh,
        if (s.exact) bandRows else capBuckets(bandRows, cappedBucket), threshold))
    }.getOrElse {
      // Phase 2 — exact probe (fallback; also probeSampleMod <= 1): the
      // r14 behavior verbatim — band checkpoint + count job + one
      // map-side-combined bucket aggregate riding on it
      val (sh, bandRows, nBandRows) = shingleBands(df, textCol, idCol, shingleN, bands, rows)
      val nDocs = nBandRows / math.max(bands, 1)
      if (nDocs <= probeFloorDocs)
        // sub-floor corpus: exact is certain (see [[DefaultProbeFloorDocs]]),
        // the probe would be the only superfluous job — skip it
        Dispatch("exact", "none", nDocs, estPairs = -1L, estPairsCapped = -1L,
          maxKey = -1L, retention = 1.0, cap = Int.MaxValue,
          pairs = verifiedPairs(sh, bandRows, threshold))
      else {
        val (routed, exact, m) =
          probeRoute(bandRows, bands, cappedBucket, maxCandidatesPerDoc)
        Dispatch.fromMass(exact, nDocs, m, cappedBucket,
          verifiedPairs(sh, routed, threshold))
      }
    }
  }

  /** The dispatcher's probe + route over a CHECKPOINTED band frame: one
    * [[HotKeys.mass]] aggregate, then either the frame unchanged (exact)
    * or its ≤cap restriction.
    */
  private def probeRoute(bandRows: DataFrame, bands: Int, cappedBucket: Int,
                         maxCandidatesPerDoc: Long)
      : (DataFrame, Boolean, HotKeys.Mass) = {
    val m = HotKeys.mass(bandRows, Seq("band", "digest"), cappedBucket)
    val nDocs = m.rows / bands // each banded doc emits exactly `bands` rows
    val exact = m.pairs <= maxCandidatesPerDoc.toDouble * math.max(nDocs, 1L)
    (if (exact) bandRows else capBuckets(bandRows, cappedBucket), exact, m)
  }

  /** [[probeRoute]] with the dispatcher defaults, band frame only — the
    * auto path of [[lshCandidatePairs]] and [[incrementalMinhash]].
    * `nBandRows` is the checkpoint-job count from [[shingleBands]]; a
    * sub-floor corpus skips the probe entirely (same contract as
    * [[minhashLshAuto]]; -1 = unknown count, always probes).
    */
  private def autoCapBuckets(bandRows: DataFrame, bands: Int,
                             nBandRows: Long): DataFrame =
    if (nBandRows >= 0 &&
        nBandRows / math.max(bands, 1) <= DefaultProbeFloorDocs) bandRows
    else probeRoute(bandRows, bands, DefaultCappedBucket,
      DefaultMaxCandidatesPerDoc)._1

  /** The candidates-then-verify tail shared by every LSH path: band
    * self-join on (band, digest) → distinct pairs → exact sorted-array
    * jaccard against the checkpointed shingle frame.
    */
  private def verifiedPairs(sh: DataFrame, bandRows: DataFrame,
                            threshold: Double): DataFrame = {
    val cand = bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(sh.select(col("doc_id"), col("sx").as("s_a")), col("a_id") === col("doc_id"))
      .drop("doc_id")
      .join(sh.select(col("doc_id"), col("sx").as("s_b")), col("b_id") === col("doc_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.ArrayKernels.sortedIntersectCount(col("s_a"), col("s_b")).as("__i"),
        size(col("s_a")).as("__na"), size(col("s_b")).as("__nb"))
      .select(col("a_id"), col("b_id"),
        round(col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")), 6)
          .as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Stop-shingle gate shared by the LSH paths: drop (band, digest)
    * buckets holding more than `maxBucket` docs before any self-join.
    * Int.MaxValue (the default everywhere) skips the gating aggregate
    * entirely — exact semantics cost nothing.
    */
  private def capBuckets(bandRows: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) bandRows
    else {
      val keep = bandRows.groupBy("band", "digest")
        .agg(count(lit(1)).as("__k")).filter(col("__k") <= maxBucket)
        .select("band", "digest")
      bandRows.join(keep, Seq("band", "digest"), "left_semi")
    }

  /** The raw LSH candidate pairs — band-digest collisions BEFORE the
    * exact-jaccard verification. Exposed for recall/precision evaluation
    * against exact ground truth (q_eval_dedup_recall): the candidate set
    * is what the bands×rows trade-off actually controls, and tuning it
    * blind is how LSH deployments silently lose near-dups. Same band
    * self-join as minhashLsh (one key-partitioned shuffle on
    * (band, digest)); returns distinct (a_id, b_id), a_id < b_id.
    * `maxBucket` follows the minhashLsh contract (default [[AutoBucket]];
    * the probe/route thresholds are [[minhashLshAuto]]'s defaults).
    */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, bands: Int = 3,
                        rows: Int = 3,
                        maxBucket: Int = AutoBucket): DataFrame = {
    val (_, bandRows0, nBandRows) = shingleBands(df, textCol, idCol, shingleN, bands, rows,
      checkpointSh = false)
    val bandRows =
      if (maxBucket == AutoBucket) autoCapBuckets(bandRows0, bands, nBandRows)
      else capBuckets(bandRows0, maxBucket)
    bandPairs(bandRows)
  }

  /** The (doc_id, band, digest) frame [[lshCandidatePairs]] self-joins,
    * exposed for SWEEP callers (r16): the band build (shingle + minhash
    * + band digests — the whole corpus-scaled cost) is independent of
    * `maxBucket`, so a cap sweep computes it ONCE (checkpoint at the
    * call site) and gates per configuration via
    * [[lshCandidatePairsFromBands]] instead of re-shingling the corpus
    * per cap.
    */
  def lshBandFrame(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 3,
                   rows: Int = 3): DataFrame =
    shingleBands(df, textCol, idCol, shingleN, bands, rows,
      checkpointBands = false, checkpointSh = false)._2

  /** [[lshCandidatePairs]] over a precomputed [[lshBandFrame]], one
    * EXPLICIT cap per call (the auto route needs the band count probe,
    * which a sweep deliberately bypasses).
    */
  def lshCandidatePairsFromBands(bandRows: DataFrame,
                                 maxBucket: Int): DataFrame = {
    require(maxBucket != AutoBucket,
      "lshCandidatePairsFromBands takes an explicit cap")
    bandPairs(capBuckets(bandRows, maxBucket))
  }

  private def bandPairs(bandRows: DataFrame): DataFrame =
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** Exact shared-span pairs: documents sharing at least one contiguous
    * run of `n` tokens — the windowed form of suffix-array substring
    * dedup (two docs share an n-token window iff they share a common
    * token substring of length >= n), so unlike the set-similarity
    * paths this catches a verbatim paragraph pasted into an otherwise
    * unrelated document. Exact, no verification step: the shingle IS the
    * criterion. One shuffle keyed on the n-gram itself; a window shared
    * by m documents contributes m·(m-1)/2 pairs, all true results, so
    * fan-out is output-bounded — which is exactly the danger on a
    * boilerplate-heavy corpus, where the OUTPUT is n² (see the
    * `maxGramDocs` contract below; stripping boilerplate first via
    * repeatedSpans remains the semantically cleanest fix). Returns
    * (a_id, b_id, n_shared = distinct shared windows).
    */
  /** `maxGramDocs` contract (r12; closes the documented boilerplate
    * caveat): a window shared by m docs contributes C(m,2) pairs — every
    * one TRUE, so on a boilerplate-heavy corpus the OUTPUT itself is n²
    * (all docs carrying the same boilerplate sentence pair up). The
    * DEFAULT is [[AutoBucket]] — [[sharedNgramPairsAuto]] probes the
    * window-frequency distribution and, only when pair mass is
    * superlinear in the gram rows, drops windows above the cap before
    * the self-join (the stop-gram rule: a window shared by thousands of
    * documents is boilerplate, not provenance). Under the cap a pair
    * survives iff it shares at least one sub-cap window, and `n_shared`
    * counts only sub-cap windows. `Int.MaxValue` forces exact (plan
    * unchanged from r11 — no gating aggregate); a positive cap forces
    * the gate.
    */
  def sharedNgramPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 8, maxGramDocs: Int = AutoBucket): DataFrame =
    if (maxGramDocs == AutoBucket)
      sharedNgramPairsAuto(df, textCol, idCol, n).pairs
    else {
      // shingles() already de-dups windows within a document, so the join
      // key stream carries each (doc, window) once and COUNT = distinct.
      // A FORCED positive cap gives the gram frame three consumers (keep
      // aggregate + both self-join sides): checkpoint it, as the auto
      // path does — only the forced-exact plan stays checkpoint-free
      // (its two self-join scans share one exchange)
      val grams0 = gramFrame(df, textCol, idCol, n)
      val grams =
        if (maxGramDocs == Int.MaxValue) grams0
        else grams0.localCheckpoint(false)
      gramSelfJoin(capGrams(grams, maxGramDocs))
    }

  private def gramFrame(df: DataFrame, textCol: String, idCol: String,
                        n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.shingles(col(textCol), n)).as("g"))

  /** Drop windows shared by more than `maxGramDocs` docs before the
    * self-join; Int.MaxValue skips the gating aggregate entirely.
    */
  private def capGrams(grams: DataFrame, maxGramDocs: Int): DataFrame =
    if (maxGramDocs == Int.MaxValue) grams
    else {
      val keep = grams.groupBy("g").agg(count(lit(1)).as("__k"))
        .filter(col("__k") <= maxGramDocs).select("g")
      grams.join(keep, Seq("g"), "left_semi")
    }

  private def gramSelfJoin(grams: DataFrame): DataFrame =
    // explode-derived join sides defeat the size estimator (it cannot see
    // the fan-out) — pin the shuffle join so a "small" estimate never
    // broadcasts a corpus-sized gram frame (the q_fuzzy_join lesson)
    grams.as("a").hint("shuffle_hash")
      .join(grams.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** Stop-gram dispatcher defaults. The cap matches the LSH bucket cap
    * (both gate "key shared by a linear corpus fraction" hot keys); the
    * routing threshold is in PAIRS PER GRAM ROW — gram rows ≈ corpus
    * token mass, so `pairs ≤ 8 · gramRows` holds for real dup families
    * (a family of m verbatim copies contributes ~L·C(m,2) pairs on
    * ~L·m rows = (m−1)/2 per row — families to m≈17 stay exact) while a
    * boilerplate window shared by a corpus FRACTION crosses it at any
    * real scale (measured on the constructed shapes in PLANS.md r12).
    */
  val DefaultCappedGramDocs: Int = 50
  val DefaultMaxPairsPerGramRow: Long = 8L

  /** The sampled span pre-probe decides only on an adequate sample: at
    * least this many sampled gram rows (see [[HotKeys.ProbeAmbiguityBand]]).
    */
  val MinSampledGramRows: Long = 65536L

  /** Size-aware shared-span dispatcher (the minhashLshAuto pattern on
    * the window-posting distribution), two-phase since r14:
    *
    * Phase 1 — SAMPLED pre-probe ([[HotKeys.sampled]], S =
    * `probeSampleMod`): one streaming window-frequency aggregate over the
    * sampled docs — no checkpoint, 1/S of the shingle CPU. A clear
    * decision routes immediately: the exact regime builds
    * CHECKPOINT-FREE (its two self-join scans share one exchange — the
    * r13 sf100 run paid 569 s materializing a gram checkpoint the exact
    * route never read), the capped regime keeps the checkpoint
    * (keep-aggregate + both join sides = three consumers). The OUTPUT
    * pairs do not depend on the probe: capGrams gates on FULL window
    * counts regardless.
    *
    * Phase 2 — exact probe (fallback; also `probeSampleMod <= 1`): the
    * r12 behavior verbatim — gram frame checkpoints lazily, ONE
    * map-side-combined [[HotKeys.mass]] probe rides on it. Small corpora
    * (sample under [[MinSampledGramRows]]) and boundary ratios always
    * land here, so fixtures and near-threshold inputs keep exact stats
    * and unchanged routing. No row-count floor: unlike the band frame
    * (`bands` rows/doc) the gram frame's worst case is not bounded by
    * its row count alone. See [[Dispatch]] for the reported statistics.
    */
  def sharedNgramPairsAuto(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 8,
                           cappedGramDocs: Int = DefaultCappedGramDocs,
                           maxPairsPerGramRow: Long = DefaultMaxPairsPerGramRow,
                           probeSampleMod: Int = HotKeys.ProbeSampleMod,
                           minSampledGramRows: Long = MinSampledGramRows)
      : Dispatch =
    HotKeys.sampled(df, idCol, probeSampleMod, minSampledGramRows, 1,
        maxPairsPerGramRow, Seq("g"))(gramFrame(_, textCol, idCol, n))
      .map { s =>
        val grams = gramFrame(df, textCol, idCol, n)
        Dispatch.fromSample(s, cappedGramDocs, gramSelfJoin(
          if (s.exact) grams
          else capGrams(grams.localCheckpoint(false), cappedGramDocs)))
      }.getOrElse {
        val grams = gramFrame(df, textCol, idCol, n).localCheckpoint(false)
        val m = HotKeys.mass(grams, Seq("g"), cappedGramDocs)
        val exact = m.pairs <= maxPairsPerGramRow.toDouble * math.max(m.rows, 1L)
        Dispatch.fromMass(exact, m.rows, m, cappedGramDocs, gramSelfJoin(
          if (exact) grams else capGrams(grams, cappedGramDocs)))
      }

  /** Incremental shared-span filter: drop incoming docs sharing ANY
    * verbatim n-token window with an already-kept base doc — the
    * exact-substring member of the incremental family (exact digests /
    * MinHash / semantic / this). The base grams build once; incoming
    * probes them with a semi-join on the window, so only gram keys
    * shuffle and the base is never pairwise-scanned. Exact: no
    * verification step, the window IS the criterion. Returns surviving
    * incoming rows with their original columns.
    */
  def incrementalSharedNgram(base: DataFrame, incoming: DataFrame,
                             textCol: String, idCol: String,
                             n: Int = 8): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.shingles(col(textCol), n)).as("g"))
    val contaminated = grams(incoming).hint("shuffle_hash")
      .join(grams(base).hint("shuffle_hash"), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    incoming.join(contaminated.withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** Incremental NEAR-dup filter: drop incoming docs whose MinHash band
    * digest collides with any already-kept BASE doc's band AND whose
    * exact shingle jaccard against that doc reaches the threshold —
    * minhashLsh's candidates-then-verify contract, applied across a
    * base/incoming split instead of pairwise within one corpus. The base
    * is banded once (digest rows, never pairwise), incoming probes it
    * with an equi-join on (band, digest), and only colliding pairs pay
    * the exact verification. Returns the SURVIVING incoming rows with
    * their original columns. Same recall contract as minhashLsh: a
    * near-dup pair missed by every band is missed here too (LSH
    * probability, tunable via bands×rows), while the exact verify means
    * band collisions alone never drop a document.
    */
  /** `maxBucket` follows the [[minhashLsh]] contract (default
    * [[AutoBucket]] since r11): the probe join bandI×bandB explodes on
    * hot BASE buckets exactly like the self-join did — a base (band,
    * digest) bucket of k docs makes every colliding incoming doc pay k
    * verifications, so a vocabulary-limited base is n·m in candidates.
    * The dispatcher probes the BASE band distribution (the big,
    * reusable side) and gates it when candidate mass is superlinear.
    * Capping here trades the DROP criterion, not result pairs: an
    * incoming doc whose only collisions sit in gated hot buckets
    * SURVIVES (is kept) — the conservative direction for a
    * contamination filter's recall on drops; measure with the
    * incremental entries of q_eval_dedup_recall before trusting it.
    */
  def incrementalMinhash(base: DataFrame, incoming: DataFrame,
                         textCol: String, idCol: String, shingleN: Int = 3,
                         bands: Int = 3, rows: Int = 3,
                         threshold: Double = 0.5,
                         maxBucket: Int = AutoBucket): DataFrame = {
    // gated paths scan the base band frame twice (probe/keep aggregate
    // + the join); only the plain exact path stays one-shot uncached
    val (shB, bandB0, nBandB) = shingleBands(base, textCol, idCol, shingleN, bands, rows,
      checkpointBands = maxBucket != Int.MaxValue)
    val bandB =
      if (maxBucket == AutoBucket) autoCapBuckets(bandB0, bands, nBandB)
      else capBuckets(bandB0, maxBucket)
    val (shI, bandI, _) = shingleBands(incoming, textCol, idCol, shingleN, bands, rows,
      checkpointBands = false)
    val cand = bandI.as("i").join(bandB.as("b"),
        col("i.band") === col("b.band") && col("i.digest") === col("b.digest"))
      .select(col("i.doc_id").as("i_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val contaminated = cand
      .join(shI.select(col("doc_id"), col("sx").as("s_i")), col("i_id") === col("doc_id"))
      .drop("doc_id")
      .join(shB.select(col("doc_id"), col("sx").as("s_b")), col("b_id") === col("doc_id"))
      .select(col("i_id"),
        graft.functions.ArrayKernels.sortedIntersectCount(col("s_i"), col("s_b")).as("__i"),
        size(col("s_i")).as("__ni"), size(col("s_b")).as("__nb"))
      .filter(round(col("__i").cast("double") /
        (col("__ni") + col("__nb") - col("__i")), 6) >= threshold)
      .select(col("i_id")).distinct()
    incoming.join(contaminated.withColumnRenamed("i_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** Blocked n-gram Jaccard near-dup pairs: exact pairwise similarity
    * within a blocking key (e.g. language) — the brute-force baseline the
    * LSH path approximates. The block join is a key-partitioned shuffle;
    * quadratic only within a block, so blocks must be chosen small at
    * scale.
    */
  /** Blocked n-gram Jaccard near-dup pairs: exact pairwise similarity
    * within a blocking key (`blockCol` × same-or-adjacent length bucket of
    * `bucketWidth` chars) — the brute-force baseline the LSH path
    * approximates. Candidates within a block are prefix-filtered on each
    * set's rarest shingles (AllPairs), so the per-block cost follows
    * posting-list mass, not block population squared. Cost levers that
    * leave survivors unchanged:
    *  - shingles compare as xxhash64 longs, not strings (collision
    *    probability over a corpus is ~1e-7);
    *  - a size-ratio pre-filter (jac >= t implies min|s|/max|s| >= t)
    *    skips the intersection for most pairs;
    *  - |A∪B| is derived as |A|+|B|-|A∩B| — one set op per pair, staged
    *    so the intersection is evaluated exactly once.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, shingleN: Int = 3,
                        threshold: Double = 0.5, bucketWidth: Int = 64): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"), col(blockCol).as("block"),
      floor(length(col(textCol)) / lit(bucketWidth.toDouble)).as("bucket"),
      sort_array(transform(TextAnalysis.shingles(col(textCol), shingleN),
        s => xxhash64(s))).as("s"))
      .localCheckpoint() // eager: all three consumers scan materialized blocks
    // The length bucket joins as an EQUI key: the probe side fans out to
    // buckets {b-1, b, b+1}, the build side keeps its own bucket, so a
    // |Δbucket| <= 1 pair matches exactly once and the shuffle key is
    // (block, bucket) — parallelism scales with block × length-bucket
    // cardinality instead of collapsing onto the block column alone.
    // Candidate generation shuffles only (id, block, bucket, |s|) — the
    // shingle arrays (the bulk of the bytes) never ride the 3-way
    // fan-out; they are fetched per surviving candidate by two id-keyed
    // joins against the checkpointed sh. At 100 TB this is the
    // difference between shuffling 3× the corpus and 3× its id list.
    // AllPairs prefix filter (Bayardo et al.): under any consistent total
    // order on shingles, jac(A,B) >= t implies A and B share a shingle
    // within each one's first |s| - ceil(t*|s|) + 1 shingles (else every
    // common element sits in a suffix shorter than t*|s| <= |A∩B|).
    // Ordering by (corpus df ascending, hash) keys the candidate join on
    // the RAREST shingles, so posting lists — not block population —
    // bound the fan-out. The same both-side-prefix formula is oracle-
    // proven in dedup_prefix_jaccard; here it runs on 3-gram shingles,
    // whose vocabulary is ~|words|^3, making the filter strong even on
    // corpora where word-level prefixes are worst-case. Candidates still
    // require the (block, ±length-bucket) key and the size-ratio bound,
    // so this strictly shrinks the old dense-per-block candidate set:
    // sf0.1 -> sf1 wall time on the documents table went 2.3 s -> 221 s
    // dense, 10x data -> ~quadratic; prefix-filtered the same measure is
    // bounded by posting-list mass. Exact: zero false negatives.
    val toks = sh.select(col("doc_id"), col("block"), col("bucket"),
      size(col("s")).as("ns"), explode(col("s")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))))
      .filter(col("rnk") <= col("ns") - ceil(col("ns") * lit(threshold)) + 1)
    val probe = ranked.select(col("doc_id").as("a_id"), col("block"),
      col("ns").as("na"), col("tok"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("jb"))
    val build = ranked.select(col("doc_id").as("b_id"), col("block").as("block_b"),
      col("ns").as("nb"), col("tok").as("tok_b"), col("bucket").as("jb_b"))
    val cand = probe.join(build,
        col("tok") === col("tok_b") &&
          col("block") === col("block_b") && col("jb") === col("jb_b") &&
          col("a_id") < col("b_id") &&
          // size-ratio bound implied by jac >= t: skips the intersection
          col("na").cast("double") >= col("nb") * threshold &&
          col("nb").cast("double") >= col("na") * threshold)
      .select(col("a_id"), col("b_id"))
      // a pair can share several prefix shingles; verify it once
      .distinct()
    cand
      .join(sh.select(col("doc_id"), col("s").as("s_a")), col("a_id") === col("doc_id"))
      .drop("doc_id")
      .join(sh.select(col("doc_id"), col("s").as("s_b")), col("b_id") === col("doc_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.ArrayKernels.sortedIntersectCount(col("s_a"), col("s_b")).as("__i"),
        size(col("s_a")).as("__na"), size(col("s_b")).as("__nb"))
      .select(col("a_id"), col("b_id"),
        round(col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")), 6)
          .as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** 60-bit SimHash over whitespace tokens. Each token contributes ±1 to
    * every bit position according to its md5; the signature bit is the
    * sign of the vote. 60 bits (15 hex chars) keeps the value in a signed
    * long on any engine. Near-dup candidates = equal signatures (or equal
    * on rotated prefixes for Hamming-distance search).
    */
  /** Cluster near-dup pairs into families: iterative min-label
    * propagation over the pair graph (each doc converges to the smallest
    * doc_id reachable from it). Each iteration is one shuffle join; the
    * loop runs until fixpoint (bounded by `maxIters`, which caps the
    * graph diameter it can resolve — dup families are near-cliques, so a
    * handful of iterations suffices). Returns (doc_id, cluster_id); the
    * canonical keeper per family is cluster_id itself.
    */
  def clusterPairs(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // Iterative algorithm ⇒ every intermediate MUST be lineage-truncated:
    // localCheckpoint is eager (materializes all partitions) and cuts the
    // plan at an in-memory RDD scan. Round 1 used .cache() + isEmpty,
    // which only materializes partitions until the probe finds a row;
    // unpersisting the previous labels then forced later scans to
    // recompute the whole upstream (LSH pipeline included) once per
    // iteration — 206 s at sf0.1 for what is a sub-second graph.
    // r16: materialize the PAIR frame once before the union — both union
    // arms read `pairs`, so checkpointing after the union executed the
    // (expensive) pair lineage twice; the count that sizes the adaptive
    // partition pin below doubles as the materializing action.
    val p0 = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val m2 = 2L * p0.count()
    // loop-invariant hoist (the pageRank eDeg lesson, applied here r16):
    // every iteration joins the |2E| edge frame on b_id — pre-partition
    // it on that key ONCE, sized by Width.forWork, so iterations
    // reshuffle only the label frame
    val nPart = Width.forWork(pairs.sparkSession, m2.toDouble, Width.RowsPerTask)
    val edges = p0
      .union(p0.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .repartition(nPart, col("b_id")).localCheckpoint(false)
    var labels = edges.select(col("a_id").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).localCheckpoint(false)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // each node adopts the min of its own label and its neighbors'
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("cluster_id", "nbr_label"), Seq("b_id"))
        .groupBy(col("a_id").as("doc_id"))
        .agg(min("nbr_label").as("nbr_min"))
      val propagated = labels.withColumnRenamed("cluster_id", "prev")
        .join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("prev"), coalesce(col("nbr_min"), col("prev"))).as("mid"))
      // pointer jumping: also adopt the label's own label — chain
      // diameters halve per round, so path-shaped families converge in
      // O(log d) iterations instead of O(d)
      val next = propagated.as("x")
        .join(propagated.select(col("doc_id").as("cid"), col("mid").as("cmid")).as("y"),
          col("x.mid") === col("y.cid"), "left")
        .select(col("x.doc_id").as("doc_id"),
          least(col("x.mid"), coalesce(col("cmid"), col("x.mid"))).as("cluster_id"),
          (least(col("x.mid"), coalesce(col("cmid"), col("x.mid"))) =!= col("x.prev"))
            .as("changed"))
        // lazy (r16): the convergence probe below (on probe iterations)
        // or the next iteration's join is the materializing action —
        // eager paid one extra final-stage job per iteration. A probe's
        // partial materialization leaves the rest to the next consumer,
        // which recomputes at most from the previous round's cache.
        .localCheckpoint(false)
      // convergence probe every 2nd iteration only: iteration 0 always
      // changes something when any edge exists, and with pointer jumping
      // diameters halve per round, so consecutive probes mostly pay a
      // job to learn nothing. Probing at i = 1, 3, 5… halves the probe
      // jobs on this tiny labels frame; the worst case (convergence
      // lands on an even i) runs one extra — already-stable — iteration
      // before the next probe confirms it, which costs about the same as
      // the probes saved and only touches label-sized frames.
      converged = i % 2 == 1 && next.filter(col("changed")).isEmpty
      labels = next.select("doc_id", "cluster_id")
      i += 1
    }
    labels
  }

  /** The dedup MATERIALIZATION: minhash-LSH pairs → connected components
    * → drop every document that is not its family's canonical keeper
    * (min id). This is the operator a corpus pipeline actually ends with
    * — the others diagnose duplication, this one removes it.
    *
    * The drop set is only the duplicate ids (a small fraction of the
    * corpus even at 100 TB, and orders of magnitude smaller than the
    * corpus itself), so the final prune is a broadcast left-anti: the
    * full corpus is scanned once and never shuffled.
    */
  def dedupByMinhash(df: DataFrame, textCol: String, idCol: String,
                     shingleN: Int = 3, bands: Int = 3, rows: Int = 3,
                     threshold: Double = 0.5,
                     maxBucket: Int = AutoBucket): DataFrame = {
    val pairs = minhashLsh(df, textCol, idCol, shingleN, bands, rows, threshold,
      maxBucket)
    val dropped = clusterPairs(pairs)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))
    df.join(broadcast(dropped), Seq(idCol), "left_anti")
  }

  /** `dedupByMinhash` with a CURATION POLICY: within each near-dup
    * cluster the keeper is the row minimizing `(priority, id)` — "keep
    * the copy from the most trusted source" instead of min-id. This is
    * how production corpora fold mirror sites / re-crawls: when the same
    * document appears in a curated dump and a raw crawl, the curated copy
    * must survive, whatever its id.
    *
    * Same plan shape as `dedupByMinhash` (the keeper election is one
    * extra cluster-sized aggregate: `min(struct(priority, id))` is an
    * ordinary associative min, map-side combined); ties are impossible
    * because the id completes the struct key.
    */
  def dedupByMinhashPriority(df: DataFrame, textCol: String, idCol: String,
                             priority: Column,
                             shingleN: Int = 3, bands: Int = 3, rows: Int = 3,
                             threshold: Double = 0.5,
                             maxBucket: Int = AutoBucket): DataFrame = {
    val pairs = minhashLsh(df, textCol, idCol, shingleN, bands, rows, threshold,
      maxBucket)
    val labeled = clusterPairs(pairs)
      .join(df.select(col(idCol).as("doc_id"), priority.as("__prio")), "doc_id")
    val keepers = labeled.groupBy("cluster_id")
      .agg(min(struct(col("__prio"), col("doc_id"))).getField("doc_id")
        .as("keeper_id"))
    val dropped = labeled.join(keepers, "cluster_id")
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id").as(idCol))
    df.join(broadcast(dropped), Seq(idCol), "left_anti")
  }

  /** 60-bit token hash array (15 hex chars of md5 keeps the value in a
    * signed long on any engine) — single-pass codegen kernel; the
    * composed equivalent below is the semantic reference.
    */
  def tokenHashes(text: Column): Column =
    graft.functions.HashColumns.tokenHashes60(text)

  /** Built-in-composed tokenHashes (kernel cross-check / oracle form). */
  def tokenHashesComposed(text: Column): Column =
    transform(TextAnalysis.tokens(text),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  /** SimHash signature from a pre-computed token-hash array — one-pass
    * codegen kernel (60 vote counters in a single loop).
    */
  def simhashFromHashes(hashes: Column): Column =
    graft.functions.HashColumns.simhash60(hashes)

  /** Built-in-composed simhashFromHashes (kernel cross-check / oracle
    * form): one aggregate() vote per bit — 60 interpreted passes.
    */
  def simhashFromHashesComposed(hashes: Column, bits: Int = 60): Column = {
    val votes = (0 until bits).map { j =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
    }
    votes.zipWithIndex.map { case (v, j) =>
      when(v >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** Per-document SimHash signatures. With the fused kernels this is a
    * single narrow codegen'd projection — no materialization needed (the
    * round-1 checkpoint existed only because 60 aggregate() votes would
    * re-run tokenization + md5 per bit after projection collapse).
    */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sig"))

  /** SimHash dedup families: documents sharing a signature. */
  def simhashFamilies(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashSignatures(df, textCol, idCol)
      .groupBy("sig")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"),
        sort_array(collect_list("doc_id")).as("doc_ids"))

  /** SimHash near-dup pairs within Hamming distance `maxHamming`.
    * Candidates come from a band equi-join (pigeonhole: distance <= b-1
    * over b bands guarantees at least one equal band), then the exact
    * popcount-of-XOR verifies — never a cross join, same LSH shuffle
    * shape as minhash.
    */
  def simhashHammingPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          bandBits: Int = 15): DataFrame = {
    require(maxHamming <= bands - 1, "pigeonhole requires maxHamming <= bands-1")
    val sigs = simhashSignatures(df, textCol, idCol)
      .localCheckpoint() // eager: the band self-join scans this twice
    val mask = (1L << bandBits) - 1
    // Two-level pigeonhole: hamming <= b-1 guarantees one band of b is
    // EQUAL, and the <= b-1 remaining diffs all sit in the complementary
    // (bands-1)*bandBits bits — so of `bands` equal-width sub-bands cut
    // from that complement, at least one is also equal. Keying the join
    // on (band, bandValue, sub, subValue) is therefore still exact, and
    // it splinters hot band buckets by the REST of the signature: on the
    // synthetic corpus (correlated bits, every signature distinct) the
    // candidate mass drops 27.0M -> 2.65M at sf1 for 4x the key rows.
    // nSub = bands, so the sub-band pigeonhole is covered by the require
    // above (maxHamming <= bands-1)
    val nSub = bands
    val compBits = (bands - 1) * bandBits
    val subBits = (compBits + nSub - 1) / nSub
    val subMask = (1L << subBits) - 1
    val keyRows = sigs.select(col("doc_id"), col("sig"), explode(array(
      (for { j <- 0 until bands; k <- 0 until nSub } yield {
        val bv = shiftright(col("sig"), j * bandBits).bitwiseAND(lit(mask))
        val comp = col("sig").bitwiseAND(lit((1L << (j * bandBits)) - 1))
          .bitwiseOR(shiftleft(shiftright(col("sig"), (j + 1) * bandBits),
            j * bandBits))
        val sbv = shiftright(comp, k * subBits).bitwiseAND(lit(subMask))
        struct(lit(j).as("band"), lit(k).as("sub"),
          bv.as("bv"), sbv.as("sbv"))
      }): _*)).as("key"))
      .select(col("doc_id"), col("sig"), col("key.band").as("band"),
        col("key.sub").as("sub"), col("key.bv").as("bv"), col("key.sbv").as("sbv"))
    keyRows.as("a").join(keyRows.as("b"),
        col("a.band") === col("b.band") && col("a.sub") === col("b.sub") &&
          col("a.bv") === col("b.bv") && col("a.sbv") === col("b.sbv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // hamming is a pure function of the pair, so filtering before the
      // dedup shuffle is result-identical — only verified near-dups ride
      // the distinct(), not every band collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** EXACT Jaccard similarity join via prefix filtering (PPJoin-style) —
    * the deterministic alternative to minhash-LSH: no false negatives,
    * no probabilistic bands. Tokens sort by global document frequency
    * (rarest first); for J ≥ t, two sets must share a token among their
    * first `|s| − ⌈t·|s|⌉ + 1` rarest tokens, so the candidate join keys
    * on PREFIX tokens only. Rare tokens have tiny posting lists, which
    * is what bounds the fan-out on a natural (Zipf) vocabulary — the
    * df-ascending order is the entire trick. Survivors verify with the
    * O(n+m) SortedIntersectCount kernel and one IEEE division.
    */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                         threshold: Double = 0.8): DataFrame = {
    val st = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .localCheckpoint() // three consumers: dfq, rank, verify sets
    val dfq = st.groupBy("tok").agg(count(lit(1)).as("df"))
    // Adaptive representation, decided from one measured statistic (a
    // single-long aggregate): prefix filtering is powerless on a tiny
    // token universe — with ~31 distinct tokens and near-uniform doc
    // sizes, the sf1 scale soak measured 1.29e9 candidate pairs
    // SURVIVING the prefix+length+positional predicates for ~3e6 true
    // pairs, because every filter needs token diversity to discriminate.
    // But a universe of <= 64 tokens means a token set IS a 64-bit mask:
    // jaccard becomes two popcounts, the pair scan runs over DISTINCT
    // masks (duplicate-heavy corpora collapse hard), and multiplicity
    // expansion restores doc pairs. Both paths are exact; PPJoin remains
    // the path for real vocabularies, where its filters do the work.
    if (dfq.count() <= 64)
      return smallUniverseJaccardPairs(st, dfq.select("tok"), threshold)
    val w = Window.partitionBy("doc_id").orderBy("df", "tok")
    val wn = Window.partitionBy("doc_id")
    val rk = st.join(dfq, "tok")
      .select(col("doc_id"), col("tok"), row_number().over(w).as("rnk"),
        count(lit(1)).over(wn).as("sz"))
    val pfx = rk.filter(col("rnk") <=
        col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select("doc_id", "tok", "rnk", "sz")
    // Exact PPJoin prunes on top of the prefix join, applied BEFORE the
    // pair-dedup shuffle (both are implied by jac >= t, so survivors are
    // unchanged):
    //  - length: t*|A| <= |B| and t*|B| <= |A|;
    //  - positional: a shared token at df-ranks (ra, rb) caps the overlap
    //    at min(|A|-ra, |B|-rb) + 1, which must reach the required
    //    overlap ceil(t/(1+t)*(|A|+|B|)) — the 1e-9 slack keeps a
    //    floating ceil() at an exact integer boundary from over-pruning.
    // On this corpus's worst-case 31-token vocabulary the prefix filter
    // alone admits ~N^2/31 candidates; the positional filter is what
    // keeps the distinct() input near the verified-pair count.
    val reqOverlap = ceil(
      lit(threshold / (1.0 + threshold)) * (col("a.sz") + col("b.sz")) - lit(1e-9))
    // Push the length filter INTO the join key: a prefix token alone has
    // vocab-bounded cardinality (31 here), which both caps shuffle
    // parallelism at 31 keys and enumerates every same-token pair before
    // the length predicate runs. Exploding each a-row across its allowed
    // partner sizes makes the key (tok, partner_sz): ~|vocab| * |sizes|
    // balanced keys, and pairs failing the length bound are never
    // enumerated. The range is widened by 1 on each end so float rounding
    // at a ceil/floor boundary can only ADD candidates — the original
    // exact predicates below remain the source of truth.
    val apfx = pfx.withColumn("szb", explode(sequence(
      greatest(floor(col("sz") * threshold).cast("int") - 1, lit(1)),
      ceil(col("sz") / lit(threshold)).cast("int") + 1)))
    val cand = apfx.as("a").join(pfx.as("b"),
        col("a.tok") === col("b.tok") && col("a.szb") === col("b.sz") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz").cast("double") >= col("b.sz") * threshold &&
          col("b.sz").cast("double") >= col("a.sz") * threshold &&
          least(col("a.sz") - col("a.rnk"), col("b.sz") - col("b.rnk")) + 1 >=
            reqOverlap)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id")).distinct()
    // tokens compare as xxhash64 longs (SortedIntersectCount is a sorted-
    // LONG merge; corpus collision probability ~1e-7, survivors identical
    // — same trade as ngramJaccardPairs, which the oracle mirrors with
    // string lists)
    val sets = st.groupBy("doc_id")
      .agg(sort_array(collect_set(xxhash64(col("tok")))).as("s"),
        count(lit(1)).as("n"))
    val v = cand
      .join(sets.select(col("doc_id").as("a_id"), col("s").as("s_a"), col("n").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("s").as("s_b"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.ArrayKernels.sortedIntersectCount(col("s_a"), col("s_b"))
          .cast("long").as("inter"),
        col("na"), col("nb"))
    v.select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
  }

  /** Exact jaccard pairs when the whole token universe fits in 64 bits.
    * Token sets become bitmasks (bit = dense token rank, deterministic),
    * so `jac = popcount(a&b) / popcount(a|b)` — the same integers the
    * list-based formulation divides, hence bit-identical doubles. The
    * quadratic scan runs over DISTINCT masks only, spread with the
    * (i <= j) all-pairs cell grid (same blocking as the embedding-cosine
    * dedup) so no shuffle key is hotter than a grid cell; doc pairs are
    * restored by multiplicity expansion, which is output-bounded work.
    */
  private def smallUniverseJaccardPairs(st: DataFrame, vocab: DataFrame,
                                        threshold: Double): DataFrame = {
    // vocab is the caller's already-aggregated distinct-token frame (the
    // <=64 gate read it) — re-deriving it here would re-shuffle the
    // corpus-sized token stream
    val bits = vocab.select(col("tok"),
      (row_number().over(Window.orderBy("tok")) - 1).as("bit")) // <= 64 rows
    val masks = st.join(broadcast(bits), "tok").groupBy("doc_id")
      .agg(sum(expr("shiftleft(cast(1 as bigint), bit)")).as("mask"))
      .localCheckpoint() // consumers: distinct scan + two expansion joins
    val dm = masks.select("mask").distinct()
    val g = 64
    val e = dm.withColumn("sb", pmod(xxhash64(col("mask")), lit(g)).cast("int"))
    val lhs = e.withColumn("cj", explode(sequence(col("sb"), lit(g - 1))))
    val rhs = e.withColumn("ci", explode(sequence(lit(0), col("sb"))))
    // the jac filter divides the SAME way the oracle does — comparing
    // inter >= union*t instead would round differently at boundaries
    def jacExpr = bit_count(col("a.mask").bitwiseAND(col("b.mask"))).cast("double") /
      bit_count(col("a.mask").bitwiseOR(col("b.mask")))
    val maskPairs = lhs.as("a").hint("shuffle_hash")
      .join(rhs.as("b").hint("shuffle_hash"),
        col("a.sb") === col("b.ci") && col("a.cj") === col("b.sb") &&
          (col("a.sb") < col("a.cj") || col("a.mask") < col("b.mask")) &&
          jacExpr >= threshold)
      .select(col("a.mask").as("ma"), col("b.mask").as("mb"), jacExpr.as("jac"))
    val cross = maskPairs
      .join(masks.select(col("mask").as("ma"), col("doc_id").as("ida")), "ma")
      .join(masks.select(col("mask").as("mb"), col("doc_id").as("idb")), "mb")
      .select(least(col("ida"), col("idb")).as("a_id"),
        greatest(col("ida"), col("idb")).as("b_id"), col("jac"))
    val same = masks.as("a").join(masks.as("b"),
        col("a.mask") === col("b.mask") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        lit(1.0).as("jac"))
    same.unionAll(cross)
      .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
  }
}
