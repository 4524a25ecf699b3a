package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Record linkage / entity resolution: multi-pass blocking + Fellegi-Sunter
  * field-agreement scoring + three-zone decisions (match / possible /
  * non-match).
  *
  * This is the classic probabilistic-linkage pipeline (Fellegi & Sunter
  * 1969; see also the Splink/dedupe lineage) re-expressed Spark-first:
  * a 100 TB customer-matching job is blocking equi-joins plus a narrow
  * scoring projection, never an all-pairs comparison. The reference
  * engine has no linkage surface at all (it stops at byte-level parse,
  * /root/reference/crates/evolution-parser/src/parser.rs:1-40); this is
  * part of the §7.5 pipeline extension layer.
  *
  * Scale shape:
  * - `candidates` is a UNION of equi-joins on the blocking keys (one
  *   shuffle per pass on its key, or map-side when one side broadcasts)
  *   followed by one pair-id dedup shuffle. No cross join exists: a pair
  *   is only ever materialized if some pass keys it together, so cost is
  *   Σ_block |L_b|·|R_b| per pass — bounded by the block-key design, the
  *   knob every production linker exposes.
  * - `score` is a pure narrow projection over the pair frame (levenshtein
  *   + integer weight sums; whole-stage codegen keeps it fused).
  * - Weights are LITERAL integers (scaled log-odds quantized up front,
  *   the same discipline as the NDCG/HLL constant tables) so scores are
  *   exact, associative, and bit-identical across engines — the real
  *   FS m/u log-ratios would be floats and engine-order-dependent.
  *
  * Block-size skew: a hot blocking key makes one task quadratic. The
  * multi-pass union lets each pass use tight keys (hot passes can be
  * dropped or refined); for observability `blockSizes` reports the pair
  * fan-out per key before the join runs.
  */
object Linkage {

  /** One field comparator: ordered agreement `levels` (first predicate
    * that holds wins, earning its weight), else `missWeight`. Level
    * index is emitted for the pattern string (len(levels) = exact match
    * down to 1; 0 = total disagreement).
    */
  case class Comparator(name: String, levels: Seq[(Column, Int)], missWeight: Int)

  /** Multi-pass blocked candidate pairs: for each pass (leftKey, rightKey)
    * equi-join `left` × `right`, union all passes, dedup on the id pair.
    * Both inputs must carry disjoint column names (pre-alias); the output
    * keeps every column of both sides for downstream scoring.
    *
    * The blocking joins and the cross-pass dedup run IDS-ONLY — each
    * pass joins (id, block-key) projections and the union dedups two id
    * columns — then the payloads attach through one join per side on
    * the id. Duplicate pairs carry identical payloads, so this is
    * exactly the all-columns dropDuplicates result, without ever
    * hash-shuffling payload rows per CANDIDATE (payload joins key on
    * the entity id: broadcast-able here, an ordinary id-keyed join at
    * scale). Measured 7.7 → 1.8 s on the 2.2M-pair customer fixture's
    * zones aggregate at sf0.1.
    */
  /** `maxBlockPairs` contract. When set to a positive cap, any block
    * whose |L_b|·|R_b| fan-out exceeds it is skipped IN THAT PASS — the
    * standard linkage defense against a degenerate key (a constant-ish
    * block is all-pairs in disguise). A skipped block's true pairs
    * survive iff another pass catches them, so cap only passes that have
    * a corruption-independent backstop, and run [[blockSizes]] first.
    *
    * The DEFAULT is [[AutoBlockPairs]] — the size-aware dispatcher (the
    * Dedup.minhashLshAuto pattern; r11 verdict: a degenerate blocking
    * key on real data is all-pairs in disguise, and "default exact"
    * hands a 100 TB caller that plan). One ids-only probe measures each
    * pass's block fan-out and gates ONLY passes whose candidate mass is
    * superlinear in the input; well-designed keys never pay a gating
    * aggregate. Pass `Long.MaxValue` to force exact everywhere, a
    * positive cap to force capping on every pass; see [[candidatesAuto]]
    * for the probe/route contract and the per-pass dispatch metadata.
    */
  def candidates(left: DataFrame, right: DataFrame,
                 leftId: String, rightId: String,
                 passes: Seq[(Column, Column)],
                 maxBlockPairs: Long = AutoBlockPairs): DataFrame =
    if (maxBlockPairs == AutoBlockPairs)
      candidatesAuto(left, right, leftId, rightId, passes).pairs
    else attachPayloads(left, right, leftId, rightId,
      candidateIdPairs(left, right, leftId, rightId, passes,
        Seq.fill(passes.size)(maxBlockPairs)))

  /** Sentinel `maxBlockPairs` value: let [[candidatesAuto]] probe each
    * pass's block fan-out and pick its regime. The default everywhere a
    * caller does not state an explicit exact/capped choice.
    */
  val AutoBlockPairs: Long = -1L

  /** The dispatcher's default per-block cap for a GATED pass (the
    * sf30-soak-tested value: recall 0.9999997 on the customer fixture)
    * and its routing threshold — a pass stays EXACT while its total
    * fan-out Σ_b |L_b|·|R_b| ≤ `DefaultMaxPairsPerRow` · (|L|+|R|),
    * i.e. while candidate generation is linear-in-input work. The
    * customer fixture's designed keys measure ~85-90 pairs/row flat from
    * sf0.1 to sf10 (PLANS.md), so 256 carries ~3× headroom for honest
    * keys while a degenerate key (pairs/row that GROWS with the corpus)
    * crosses it immediately at any real scale.
    */
  val DefaultCappedBlockPairs: Long = 100000L
  val DefaultMaxPairsPerRow: Long = 256L

  /** One blocking pass's dispatch decision: the probe's measured totals
    * (`estPairs` = Σ|L_b|·|R_b|, `estPairsGated` = the ≤cap restriction,
    * `overCapBlocks` = blocks whose fan-out exceeds the cap — OBSERVED
    * by the probe in both regimes; they are actually skipped only when
    * the pass routes capped) and the regime chosen — `cap` is
    * `Long.MaxValue` when the pass runs exact.
    */
  case class PassDispatch(pass: Int, regime: String, estPairs: Long,
                          estPairsGated: Long, overCapBlocks: Long,
                          cap: Long)

  /** One dispatched candidate generation: per-pass decisions plus input
    * sizes and the candidate-pair frame. `regime` is "exact" iff every
    * pass ran ungated.
    */
  case class LinkDispatch(regime: String, nLeft: Long, nRight: Long,
                          passes: Seq[PassDispatch], pairs: DataFrame)

  /** Size-aware blocked-candidates dispatcher. ONE ids-only probe job
    * (per pass: groupBy counts on each side's block key, full-outer
    * joined so the same aggregate also yields |L| and |R|, then a
    * single-row rollup; the per-pass rows union into one collect of
    * `passes.size` rows) decides PER PASS:
    *
    *  - Σ|L_b|·|R_b| ≤ `maxPairsPerRow` · (|L|+|R|) → EXACT: this
    *    pass's candidate mass is linear in its input, no gate, no
    *    gating aggregate in the result plan.
    *  - above → CAPPED at `cappedBlockPairs`: some block's fan-out is
    *    all-pairs in disguise; blocks over the cap are skipped in this
    *    pass (their true pairs survive iff a backstop pass catches
    *    them — the [[candidates]] maxBlockPairs contract).
    *
    * The probe shuffles only (block key, count) rows — bounded by block
    * cardinality, never by pairs — and is the same aggregate
    * [[blockSizes]] exposes for pre-flight review. Null block keys
    * count toward |L|/|R| but never pair (equi-joins drop them), which
    * matches the generation join exactly.
    */
  def candidatesAuto(left: DataFrame, right: DataFrame,
                     leftId: String, rightId: String,
                     passes: Seq[(Column, Column)],
                     cappedBlockPairs: Long = DefaultCappedBlockPairs,
                     maxPairsPerRow: Long = DefaultMaxPairsPerRow): LinkDispatch = {
    require(passes.nonEmpty, "at least one blocking pass required")
    val probeRows = passes.zipWithIndex.map { case ((lk, rk), i) =>
      val l = left.select(lk.as("__bk")).groupBy("__bk")
        .agg(count(lit(1)).as("__nl"))
      val r = right.select(rk.as("__bk")).groupBy("__bk")
        .agg(count(lit(1)).as("__nr"))
      // fan-out products and their sums in DOUBLE: on the degenerate
      // 1e10-rows-per-side block this probe exists to catch, the Long
      // product wraps silently and could route the pass EXACT (r12
      // review). Routing is an order-of-magnitude decision; reported
      // estimates saturate at Long.MaxValue.
      val p = coalesce(col("__nl"), lit(0L)).cast("double") *
        coalesce(col("__nr"), lit(0L)).cast("double")
      l.join(r, Seq("__bk"), "full_outer")
        .agg(lit(i).as("pass"),
          sum(p).as("pairs"),
          sum(when(p <= cappedBlockPairs.toDouble, p).otherwise(lit(0.0d)))
            .as("pairs_gated"),
          sum(when(p > cappedBlockPairs.toDouble, lit(1L)).otherwise(lit(0L)))
            .as("over"),
          sum(coalesce(col("__nl"), lit(0L))).as("nl"),
          sum(coalesce(col("__nr"), lit(0L))).as("nr"))
    }.reduce(_ union _).collect()
    def lng(r: org.apache.spark.sql.Row, i: Int): Long =
      if (r.isNullAt(i)) 0L else r.getLong(i)
    def dbl(r: org.apache.spark.sql.Row, i: Int): Double =
      if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val byPass = probeRows.map(r => r.getInt(0) -> r).toMap
    val (nL, nR) = (lng(byPass(0), 4), lng(byPass(0), 5))
    val decisions = passes.indices.map { i =>
      val r = byPass(i)
      val pairs = dbl(r, 1)
      val exact = pairs <= maxPairsPerRow.toDouble * math.max(nL + nR, 1L)
      PassDispatch(i, if (exact) "exact" else "capped", pairs.toLong,
        dbl(r, 2).toLong, lng(r, 3),
        if (exact) Long.MaxValue else cappedBlockPairs)
    }
    LinkDispatch(
      regime = if (decisions.forall(_.regime == "exact")) "exact" else "capped",
      nLeft = nL, nRight = nR, passes = decisions,
      pairs = attachPayloads(left, right, leftId, rightId,
        candidateIdPairs(left, right, leftId, rightId, passes,
          decisions.map(_.cap),
          // rows INTO the dedup exchange = the probe's own per-pass
          // estimates (gated totals where a pass routes capped)
          estPairs = passes.indices.map { i =>
            val r = byPass(i)
            if (decisions(i).regime == "exact") dbl(r, 1) else dbl(r, 2)
          }.sum)))
  }

  /** The capped pass's in-plan keep gate: |L_b|·|R_b| ≤ cap, with the
    * product in DOUBLE, matching the probe's arithmetic (r13, ADVICE
    * r12): a degenerate block of ~3e9 rows per side wraps the Long
    * product to a NEGATIVE that passes `<= cap` — keeping exactly the
    * all-pairs block this cap exists to refuse. Routing and gating are
    * order-of-magnitude decisions; double is exact to 2^53 and merely
    * approximate beyond, both fine here.
    */
  private[graft] def blockKeep(nl: Column, nr: Column, cap: Long): Column =
    nl.cast("double") * nr.cast("double") <= cap.toDouble

  /** The multi-pass union of blocked id pairs, one cap per pass
    * (`Long.MaxValue` = exact, no gating aggregate in that pass's plan).
    * Shared by the exact/forced paths and the dispatcher.
    */
  private def candidateIdPairs(left: DataFrame, right: DataFrame,
                               leftId: String, rightId: String,
                               passes: Seq[(Column, Column)],
                               caps: Seq[Long],
                               estPairs: Double = -1.0): DataFrame = {
    // SIZE the pin from the dispatcher's own pair estimate
    // (Width.forWork, PairsPerTask). Callers without an estimate (the
    // forced exact/capped path — no probe ran) keep session width.
    val spark = left.sparkSession
    val nPart =
      if (estPairs < 0) Width.session(spark)
      else Width.forWork(spark, estPairs, Width.PairsPerTask)
    passes.zip(caps).map { case ((lk, rk), cap) =>
      val l = left.select(col(leftId), lk.as("__bk"))
      val r = right.select(col(rightId), rk.as("__bk"))
      val (lf, rf) =
        if (cap == Long.MaxValue) (l, r) // exact: no gating aggregate
        else {
          val keep = l.groupBy("__bk").agg(count(lit(1)).as("__nl"))
            .join(r.groupBy("__bk").agg(count(lit(1)).as("__nr")), "__bk")
            .filter(blockKeep(col("__nl"), col("__nr"), cap))
            .select("__bk")
          (l.join(keep, Seq("__bk"), "left_semi"),
            r.join(keep, Seq("__bk"), "left_semi"))
        }
      lf.join(rf, "__bk").select(leftId, rightId)
    }.reduce(_ union _)
      // PIN the pair-dedup exchange at `nPart` (r16, guide §2.5):
      // everything downstream of this exchange is CPU-heavy per PAIR
      // (the FS scoring's levenshtein) while the id-pair rows
      // are ~16 bytes, so AQE's byte-based coalescing — which only sees
      // bytes — folded the post-shuffle stage to a handful of tasks
      // (measured at sf0.1: 9.4 s of scoring task time squeezed onto 6
      // coalesced tasks, 3.5 s wall for q_link_matches). An explicit-
      // width repartition on the dedup keys is exempt from AQE
      // coalescing, and the dropDuplicates aggregate reuses its
      // clustering, so this pins the width of the exchange that already
      // existed rather than adding one. Cost: duplicate candidate id
      // pairs now ship through the exchange instead of being partially
      // deduped map-side — a few bytes per duplicate, bounded by the
      // cross-pass overlap, irrelevant beside the scoring it spreads.
      .repartition(nPart, col(leftId), col(rightId))
      .dropDuplicates(leftId, rightId)
  }

  /** Attach both sides' payload columns to a deduped id-pair frame —
    * one id-keyed join per side (broadcast-able here, an ordinary
    * id-keyed join at scale; see the [[candidates]] scale note).
    */
  private def attachPayloads(left: DataFrame, right: DataFrame,
                             leftId: String, rightId: String,
                             idPairs: DataFrame): DataFrame =
    idPairs.join(left, leftId).join(right, rightId)

  /** Pair fan-out per blocking key for one pass — the pre-flight skew
    * check (|L_b| · |R_b| per key, descending). Run before committing to
    * a key design; a key whose product rivals the table size means that
    * pass degenerates toward all-pairs.
    */
  def blockSizes(left: DataFrame, right: DataFrame,
                 leftKey: Column, rightKey: Column): DataFrame = {
    val l = left.groupBy(leftKey.as("block")).agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(rightKey.as("block")).agg(count(lit(1)).as("n_right"))
    l.join(r, "block")
      .withColumn("n_pairs", col("n_left") * col("n_right"))
      .orderBy(col("n_pairs").desc, col("block"))
  }

  /** Score a candidate-pair frame: per comparator a `<name>_lv` level
    * column, plus the concatenated agreement `pattern` and the summed
    * integer `fs_score`. Narrow projection — no shuffle.
    */
  def score(pairs: DataFrame, comps: Seq[Comparator]): DataFrame = {
    val withLevels = comps.foldLeft(pairs) { (df, c) =>
      val n = c.levels.size
      val lv = c.levels.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, ((pred, _), i)) =>
          when(acc.isNotNull, acc).otherwise(when(pred, lit(n - i)))
      }
      df.withColumn(s"${c.name}_lv", coalesce(lv, lit(0)))
    }
    val weight = comps.map { c =>
      val n = c.levels.size
      c.levels.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, ((_, w), i)) =>
          when(acc.isNotNull, acc)
            .otherwise(when(col(s"${c.name}_lv") === (n - i), lit(w)))
      }
    }.map(w => coalesce(w, lit(0)))
      .reduce(_ + _)
    // missWeight: applied where the level column is 0
    val miss = comps.map(c =>
      when(col(s"${c.name}_lv") === 0, lit(c.missWeight)).otherwise(lit(0)))
      .reduce(_ + _)
    val pattern = concat_ws("|",
      comps.map(c => concat(lit(c.name.take(1)), col(s"${c.name}_lv"))): _*)
    withLevels
      .withColumn("pattern", pattern)
      .withColumn("fs_score", weight + miss)
  }

  /** Three-zone FS decision: score ≥ upper ⇒ match, ≥ lower ⇒ possible
    * (clerical review), else nonmatch.
    */
  def decide(scored: DataFrame, upper: Int, lower: Int): DataFrame =
    scored.withColumn("zone",
      when(col("fs_score") >= upper, "match")
        .when(col("fs_score") >= lower, "possible")
        .otherwise("nonmatch"))

  /** Deterministic corruption fixture over the customer table: a "dirty"
    * replica with name typos (case fold / dropped last char / trailing
    * space), nation-key transpositions, and small balance drift, keyed by
    * the md5-derived hash so both engines fabricate the IDENTICAL dirty
    * set (no RNG). Two thirds of customers get a dirty copy.
    */
  def dirtyCustomers(customer: DataFrame): DataFrame = {
    val h = Pipeline.md5Hash60(col("c_custkey"))
    val bal = col("c_acctbal").cast("decimal(12,2)")
    customer
      .filter(col("c_custkey") % 3 =!= 2)
      .select(
        col("c_custkey").as("d_id"),
        when(pmod(h, lit(4)) === 0, upper(col("c_name")))
          .when(pmod(h, lit(4)) === 1, expr("substring(c_name, 1, length(c_name)-1)"))
          .when(pmod(h, lit(4)) === 2, concat(col("c_name"), lit(" ")))
          .otherwise(col("c_name")).as("d_name"),
        when(pmod(h, lit(7)) === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")).as("d_nat"),
        when(pmod(h, lit(5)) === 0, bal + expr("CAST(0.07 AS DECIMAL(12,2))"))
          .otherwise(bal).as("d_bal"),
        col("c_mktsegment").as("d_seg"))
  }

  /** The standard comparator set for the customer fixture: three-level
    * name agreement (exact / levenshtein≤2 on the case-folded form /
    * disagree), balance-within-0.10, nation and segment equality.
    * Weights are scaled log-odds literals (match zone ≥ 18).
    */
  def customerComparators: Seq[Comparator] = Seq(
    Comparator("name", Seq(
      (col("d_name") === col("c_name"), 20),
      // banded threshold form: O(len·k) with early exit (returns -1
      // above the band) instead of the full O(len²) table — the linkage
      // bench's dominant cost across ~1M candidate pairs; decision-
      // equivalent to `levenshtein(...) <= 2`, which the oracle keeps
      (levenshtein(lower(col("d_name")), lower(col("c_name")), 2) >= 0, 12)), -10),
    Comparator("bal", Seq(
      (abs(col("d_bal") - col("c_acctbal").cast("decimal(12,2)"))
        <= expr("CAST(0.10 AS DECIMAL(12,2))"), 6)), -4),
    Comparator("key", Seq((col("d_nat") === col("c_nationkey"), 3)), -2),
    Comparator("seg", Seq((col("d_seg") === col("c_mktsegment"), 3)), -2))

  /** End-to-end customer linkage: dirty fixture → two blocking passes →
    * FS scoring. Blocking keys are chosen the way a production linker
    * chooses them — per dataset, so every key is BOTH corruption-stable
    * and low-fan-out, and (the scale rule this file learned twice) the
    * key's CARDINALITY must grow with the corpus:
    *  - pass A: (nation, segment, $100-balance-bucket). The bucket term
    *    is load-bearing: (nation, segment) alone has 125 values at ANY
    *    corpus size, so pairs grow n²/125 — measured 2.5 s at sf0.1 but
    *    257 s at sf1 (quadratic, not host noise). The balance bucket
    *    multiplies cardinality by ~110 and, because balances spread with
    *    n, keeps per-block size roughly flat. Balance drift (+0.07) can
    *    cross a $100 edge for ~0.1% of records; those true pairs fall
    *    through to pass B, which is immune to every fixture corruption.
    *  - pass B: name characters 10..16 (the stable digit region of
    *    `Customer#\d{9}` — untouched by case folds, last-char drops, and
    *    trailing spaces) — catches the nation-transposed and
    *    bucket-straddling records pass A misses, with blocks capped at
    *    100 customers BY CONSTRUCTION at any corpus size. The tempting
    *    `substr(name, 1, 12)` prefix is the same trap as bare
    *    (nation, segment): constant over the whole corpus, degenerates
    *    to all-pairs (`blockSizes` flags both immediately).
    */
  /** `maxBlockPairs` follows the [[candidates]] contract — DEFAULT
    * [[AutoBlockPairs]] (r12): the dispatcher's probe measures both
    * passes' fan-out and routes exact while it is linear-in-input
    * (~85-90 pairs/row flat from sf0.1 to sf10 on these designed keys,
    * so engine and oracle agree at every verification scale), gating a
    * pass only if a corruption or a corpus shift ever degenerates its
    * key. Explicit `Long.MaxValue` forces exact; an explicit positive
    * cap (100000L is the sf30-soak-tested value) forces capping — pass
    * B's name-digit blocks are ≤100 customers by construction at any
    * corpus size and catch every fixture-true pair (LinkageSpec holds
    * that property end-to-end with the cap engaged).
    */
  def linkCustomers(customer: DataFrame,
                    maxBlockPairs: Long = AutoBlockPairs): DataFrame = {
    val dirty = dirtyCustomers(customer)
    val pairs = candidates(dirty, customer, "d_id", "c_custkey", Seq(
      (concat_ws("|", col("d_nat"), col("d_seg"),
        floor(col("d_bal") / 100).cast("int")),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal").cast("decimal(12,2)") / 100).cast("int"))),
      (substring(col("d_name"), 10, 7),
        substring(col("c_name"), 10, 7))),
      maxBlockPairs = maxBlockPairs)
    score(pairs, customerComparators)
  }

  /** Survivorship / golden-record merge over a decided customer match
    * frame (the q_golden_record aggregation, extracted r11 so scale
    * probes exercise the exact query path): per matched customer the
    * longest (tie: lexicographically greatest) name across both sources
    * and the maximum balance. Every output column is a
    * DUPLICATE-INSENSITIVE per-custkey aggregate (max-by-(length,name),
    * max balance, distinct d_id count), so the merge is ONE groupBy over
    * an exploded two-struct array and the match frame is referenced
    * exactly once — no localCheckpoint, no executor-pinned blocks, one
    * shuffle after the linkage itself.
    */
  def goldenRecord(matches: DataFrame): DataFrame =
    matches.select(col("c_custkey"), col("d_id"), explode(array(
        struct(length(col("d_name")).as("l"), col("d_name").as("nm"),
          col("d_bal").as("bal")),
        struct(length(col("c_name")).as("l"), col("c_name").as("nm"),
          col("c_acctbal").cast("decimal(12,2)").as("bal")))).as("e"))
      .groupBy("c_custkey")
      .agg(countDistinct("d_id").cast("int").as("n_matched"),
        max(struct(col("e.l"), col("e.nm"))).as("b"),
        max(col("e.bal")).cast("double").as("max_bal"))
      .select(col("c_custkey"), col("n_matched"), col("b.nm").as("best_name"),
        col("max_bal"))
}
