package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-curation operators for large-scale training-data pipelines:
  * decontamination against an eval set, deterministic (hash-based)
  * sampling, stratified sampling, per-source mixture weighting, PII
  * redaction, and bloom-prefiltered semi joins. Like the rest of the
  * engine these are declarative DataFrame transforms — Catalyst plans
  * them, so filters push down and the only shuffles are the ones the
  * semantics require.
  */
object Pipeline {

  /** Deterministic 60-bit content/id hash: the first 15 hex digits of
    * md5, exactly reproducible in any engine (same construction as the
    * Dedup minhash slices). Used instead of xxhash64 wherever the result
    * is part of a cross-engine contract.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Deterministic hash sample: keep rows whose md5-based bucket (of
    * `mod`) falls below `keep`. Unlike `df.sample()` this is stable
    * across runs, partitionings, and engines — the property a training
    * pipeline needs so a re-run selects the SAME subset. A pure narrow
    * filter: no shuffle, pushes past column pruning to the scan.
    */
  def hashSample(df: DataFrame, idCol: String, mod: Int, keep: Int): DataFrame =
    df.filter(pmod(md5Hash60(col(idCol)), lit(mod)) < keep)

  /** Stratified deterministic sample: n rows per stratum, chosen by
    * md5-hash order (id tie-break), so the per-group subset is stable and
    * unbiased w.r.t. any natural ordering of the data. One shuffle on the
    * stratum key; at 100 TB with few strata + huge n per stratum, swap
    * rank for `hashSample` with per-stratum rates (see mixtureSample) to
    * avoid the single-reducer-per-stratum sort.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       nPerStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5Hash60(col(idCol)), col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= nPerStratum)
  }

  /** Stratified k-fold assignment: within each stratum, rows rank by
    * md5-hash order (id tie-break) and take `fold = (rank − 1) mod k` —
    * so every stratum's rows spread across the k folds as evenly as
    * arithmetic allows (fold sizes differ by ≤ 1 per stratum), the
    * assignment is deterministic on any engine, and each fold preserves
    * the stratum mix — the cross-validation split that random assignment
    * only approximates. One shuffle on the stratum key; the window is
    * partitioned (never global), so skewed strata bound the task size,
    * not the cluster.
    */
  def stratifiedKFold(df: DataFrame, stratumCol: String, idCol: String,
                      k: Int): DataFrame = {
    require(k > 1, "need at least 2 folds")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5Hash60(col(idCol)), col(idCol))
    df.withColumn("fold",
      pmod(row_number().over(w) - 1, lit(k)).cast("int"))
  }

  /** Deterministic disjoint split assignment (train/val/test): each row
    * gets exactly one split label from its id's hash bucket, so the
    * splits are exhaustive, non-overlapping, reproducible on any engine,
    * and stable under re-partitioning/re-runs — the property random
    * splits lack and leakage audits require. `cuts` are cumulative
    * percentages (e.g. Seq(80, 90) → 80/10/10). A pure narrow
    * projection: no shuffle, scales with input splits.
    */
  def splitAssign(df: DataFrame, idCol: String, cuts: Seq[Int],
                  labels: Seq[String]): DataFrame = {
    require(labels.size == cuts.size + 1, "need one more label than cuts")
    require(cuts == cuts.sorted && cuts.forall(c => c > 0 && c < 100),
      "cuts must be ascending percentages in (0, 100)")
    val bucket = pmod(md5Hash60(col(idCol)), lit(100))
    val split = cuts.zip(labels).reverse
      .foldLeft(lit(labels.last)) { case (acc, (cut, label)) =>
        when(bucket < cut, label).otherwise(acc)
      }
    df.withColumn("split", split)
  }

  /** Weighted sample without replacement (Efraimidis-Spirakis A-ES): k
    * rows with inclusion probability proportional to `weightCol`, via the
    * exponential-arrival equivalence — priority -ln(u)/w ~ Exp(w), and
    * the k smallest arrivals are exactly a w-weighted draw. `u` is a
    * deterministic uniform from the id's md5 (52 mantissa bits), so the
    * sample is reproducible run-to-run and replayable by any engine —
    * the seeded analogue of quality-weighted corpus sampling.
    *
    * Scale shape: one narrow projection + TakeOrderedAndProject (per-
    * partition top-k, k-row driver merge) — no global sort, no shuffle
    * of the data. At 100 TB this touches every row once and moves k rows.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    // 13 hex chars = 52 bits: exact in a double, u ∈ (0, 1]
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val u = (h + lit(1L)) / lit(4503599627370496.0) // 2^52
    df.withColumn("__arrival", -log(u) / col(weightCol).cast("double"))
      .orderBy("__arrival")
      .limit(k)
      .drop("__arrival")
  }

  /** Stratified sample with a PER-STRATUM budget (exact row counts per
    * source — how a training mixture with fixed token/doc budgets is
    * materialized). `budgets` is a stratum→n DataFrame (columns:
    * stratumCol, "budget") — broadcast-sized, one per distinct stratum.
    * Same map-side WindowGroupLimit shape as `stratifiedSample`; rows
    * from strata absent in the budget table are dropped.
    */
  def budgetSample(df: DataFrame, stratumCol: String, idCol: String,
                   budgets: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5Hash60(col(idCol)), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .join(broadcast(budgets), stratumCol)
      .filter(col("rn") <= col("budget")).drop("budget")
  }

  /** TOKEN-budget sampling: per stratum, keep the md5-hash-ordered
    * PREFIX of documents whose cumulative token count stays within
    * `budget` — how a training mixture specified in tokens ("1B tokens
    * of web, 200M of code") is materialized, vs `budgetSample`'s
    * document counts. The strict-prefix rule (first overflowing doc and
    * everything after it in hash order are dropped) keeps the selection
    * deterministic and engine-reproducible; the cumulative sum is an
    * exact integer window over a uniquely-ordered frame. One shuffle on
    * the stratum key, same WindowGroupLimit-free shape as packSequences.
    */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, idCol: String,
                        nTokens: Column, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5Hash60(col(idCol)), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("n_tok", nTokens.cast("long"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .filter(col("cum_tok") <= budget)
  }

  /** Deterministic epoch shuffle: the global training order for epoch e
    * is (shard, pos) where `shard = md5("e<e>|" + id) mod nShards` and
    * `pos` ranks rows within the shard by the same hash (id tie-break).
    * Reading shards in order yields a permutation that is (a) stable
    * across runs/engines/partitionings — a resumed job re-derives the
    * exact order, (b) different per epoch (the epoch salt re-keys the
    * hash), and (c) computed WITHOUT a global sort: the only wide op is
    * the per-shard rank window, which parallelizes across nShards
    * reducers — pick nShards ≥ cluster parallelism at 100 TB and no
    * single task ever sees more than ~1/nShards of the data.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   nShards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col(idCol))
    df.withColumn("h",
        md5Hash60(concat(lit(s"e$epoch|"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(nShards)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("h")
  }

  /** Mixture weighting: per-source keep-rates (percent, 0–100) applied as
    * a deterministic hash sample — how a training mix ("50% web, 30%
    * books, 20% code") is materialized. Resolves to a single narrow
    * filter (CASE over the rate map + one hash comparison); rows from
    * sources absent in the map are dropped.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
                    ratesPercent: Map[String, Int]): DataFrame = {
    val rate = ratesPercent.foldLeft(lit(0)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    df.filter(pmod(md5Hash60(col(idCol)), lit(100)) < rate)
  }

  /** Temperature-smoothed (α = 1/2) mixture budgets: allocate a total
    * document budget across sources proportionally to √n_s — the
    * standard multinomial temperature reweighting that upsamples small
    * domains relative to raw proportions without letting any domain
    * dominate. This is the PLANNING step whose output rates
    * [[mixtureSample]] then materializes.
    *
    * Exact on any engine: the weight is the integer square root of
    * n·10⁶ — `floor(sqrt(x as double))` corrected by one comparison in
    * each direction, so a last-ulp libm difference cannot shift it —
    * and the allocation is one truncating integer division per source
    * against the exact integer weight total. Distributed work is a
    * per-source count; everything after is |sources|-sized.
    */
  def temperatureBudgets(df: DataFrame, sourceCol: String,
                         budget: Long): DataFrame = {
    val cnt = df.groupBy(sourceCol).agg(count(lit(1)).as("n_docs"))
    val x = col("n_docs") * 1000000L
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val w = when((s0 + 1) * (s0 + 1) <= x, s0 + 1)
      .when(s0 * s0 > x, s0 - 1).otherwise(s0)
    val wc = cnt.select(col(sourceCol), col("n_docs"), w.as("w_fp"))
    val tot = wc.agg(sum("w_fp").cast("long").as("tw"))
    wc.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("n_docs"), col("w_fp"),
        expr(s"w_fp * ${budget}L div tw").as("alloc_docs"))
  }

  /** Benchmark decontamination: drop training documents that share any
    * word n-gram shingle with the eval corpus (the standard n-gram
    * overlap rule; n=13 in most published pipelines, parameterized here).
    *
    * Shape at scale: eval shingles are a small distinct set — broadcast
    * them and LEFT SEMI join the exploded train shingles to find
    * contaminated doc ids (never the reverse: the train side is the
    * 100 TB side and is only ever exploded, hashed, and filtered
    * map-side). The final anti join removes the (typically tiny)
    * contaminated id set, also broadcast.
    */
  def decontaminate(train: DataFrame, eval_ : DataFrame, textCol: String,
                    idCol: String, shingleN: Int = 13): DataFrame = {
    // compare 64-bit shingle hashes, not strings (collision odds ~n²/2⁶⁴
    // are irrelevant against the fuzzy-overlap rule itself)
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame =
      df.select(cols :+ explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"): _*)
        .select(cols :+ xxhash64(col("g")).as("gh"): _*)
    val evalGrams = grams(eval_, Nil).distinct()
    val contaminatedIds = grams(train, Seq(col(idCol)))
      .join(broadcast(evalGrams), "gh", "left_semi")
      .select(idCol).distinct()
    train.join(broadcast(contaminatedIds), Seq(idCol), "left_anti")
  }

  /** The composed curation funnel — the query a corpus pipeline actually
    * runs end to end: language filter → quality threshold → exact dedup
    * (keep the min-id copy) → deterministic hash downsample.
    *
    * Plan shape at scale: language id, quality score, and both samples
    * are narrow projections/filters that run map-side in ONE codegen
    * stage over the scan; the only shuffle in the whole funnel is the
    * dedup's hash partition on the content digest (a window min, not a
    * groupBy + self-join — one exchange instead of two). Filters sit
    * BELOW the shuffle, so the exchange carries only the
    * language-and-quality survivors.
    */
  /** The FULL training-corpus pipeline composed end to end as ONE
    * declarative job (VERDICT r11 task 2 — [[curate]] composes only the
    * light funnel): language filter → quality gate → DISPATCHER-ROUTED
    * near-dup dedup ([[Dedup.dedupByMinhash]], AutoBucket) →
    * decontamination against the eval set (13-gram overlap) →
    * per-source token-budget sample → sequence packing. Returns the
    * packed frame: every surviving doc with (quality, n_tok, shard,
    * window_id, off).
    *
    * Composition discipline (measured at sf1/sf10, PLANS.md:1948-1954):
    * the narrow gates fuse into the scan; the heavy stages
    * keep their own shuffle keys (band digest / gram hash / stratum /
    * shard) with nothing re-shuffled twice on the same key; the
    * near-dup drop set and the contaminated-id set stay
    * drop-list-sized (broadcast anti joins), so the corpus itself is
    * never shuffled between the gates. End-to-end survivors equal the
    * staged composition of the individual operators exactly (the staged
    * run matched it row for row), because every stage is deterministic
    * in its input — no stage depends on partitioning or arrival order.
    */
  /** `dedupMaxBucket` follows the [[Dedup.minhashLsh]] contract (ADVICE
    * r12): default [[Dedup.AutoBucket]] = the dispatcher decides the
    * near-dup stage's regime; `Int.MaxValue` forces exact (what a
    * replayed-SQL spec of the pipeline states); a positive cap forces
    * capped. Without this knob the composed pipeline was the one LSH
    * call site whose regime a caller could not pin.
    */
  def corpusPipeline(docs: DataFrame, evalSet: DataFrame,
                     lang: String = "en", minQuality: Double = 0.5,
                     nearDupThreshold: Double = 0.5,
                     decontaminateShingleN: Int = 13,
                     budgetTokens: Long = Long.MaxValue,
                     contextLen: Int = 512, shards: Int = 8,
                     textCol: String = "text", idCol: String = "doc_id",
                     dedupMaxBucket: Int = Dedup.AutoBucket): DataFrame = {
    // the DECLARED corpus tokenizer (split of trimmed text) — an
    // untrimmed split would count a phantom leading token on
    // whitespace-padded text and shift every budget cut downstream
    // (r12 review finding)
    val nTok = size(graft.ops.TextAnalysis.tokens(col(textCol))).cast("long")
    // checkpoint the gate ONCE: its survivors feed the dedup banding,
    // the dedup anti-join probe, the decontamination gram scan, and the
    // final pass — left lazy, the lang+quality lineage re-executes in
    // every broadcast subtree and the composed job ran 2x SLOWER than
    // the five stages run separately (the r12 composition gate's
    // finding, PLANS.md:1948-1954: 34.4 vs 17.9 s at sf1 before this
    // line). Lazy checkpoint: the first consumer materializes it inside
    // a job it was running anyway.
    val gated = docs
      .filter(graft.ops.TextAnalysis.langId(col(textCol)) === lang)
      .withColumn("quality", graft.ops.TextAnalysis.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
      .localCheckpoint(false)
    val deduped = Dedup.dedupByMinhash(gated, textCol, idCol,
      threshold = nearDupThreshold, maxBucket = dedupMaxBucket)
    val clean = decontaminate(deduped, evalSet, textCol, idCol,
      decontaminateShingleN)
    val sampled =
      if (budgetTokens == Long.MaxValue) clean
      else tokenBudgetSample(clean, "source", idCol, nTok, budgetTokens)
    // compute the token count BEFORE dropping the text column the
    // packing frame no longer needs to carry
    packSequences(
      sampled.select(col(idCol), col("source"), col("quality"),
        nTok.as("__toks")),
      idCol, col("__toks"), contextLen, shards).drop("__toks")
  }

  def curate(docs: DataFrame, lang: String, minQuality: Double,
             sampleMod: Int, sampleKeep: Int,
             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val scored = docs
      .filter(graft.ops.TextAnalysis.langId(col(textCol)) === lang)
      .withColumn("quality", graft.ops.TextAnalysis.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col(textCol)))
    val deduped = scored
      .withColumn("keep", min(idCol).over(w))
      .filter(col(idCol) === col("keep")).drop("keep")
    hashSample(deduped, idCol, sampleMod, sampleKeep)
  }

  /** The curation funnel's ACCOUNTING twin: where [[curate]] returns the
    * survivors, this returns EVERY document with one boolean per gate
    * explaining its fate — the "why was my document dropped" audit a
    * data-governance review asks for. Gates mirror curate exactly,
    * including order dependence: the dup flag exists only among rows
    * passing lang+quality (curate dedups after filtering), and the
    * sample flag only for dedup keepers. Exactly one flag fires per
    * dropped row; `kept` rows equal curate's output set.
    * Same cost shape as curate plus nothing: the flags are the same
    * narrow expressions, the digest window the same shuffle.
    */
  def curateAudit(docs: DataFrame, lang: String, minQuality: Double,
                  sampleMod: Int, sampleKeep: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol), col(textCol),
      (graft.ops.TextAnalysis.langId(col(textCol)) =!= lang).as("f_lang"),
      (graft.ops.TextAnalysis.qualityScore(col(textCol)) < minQuality)
        .as("f_quality"))
    val passing = !col("f_lang") && !col("f_quality")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col(textCol)))
    base
      .withColumn("keepid", min(when(passing, col(idCol))).over(w))
      .select(col(idCol), col("f_lang"), col("f_quality"),
        (passing && col(idCol) =!= col("keepid")).as("f_dup"),
        (passing && col(idCol) === col("keepid") &&
          pmod(md5Hash60(col(idCol)), lit(sampleMod)) >= sampleKeep)
          .as("f_sample"),
        (passing && col(idCol) === col("keepid") &&
          pmod(md5Hash60(col(idCol)), lit(sampleMod)) < sampleKeep)
          .as("kept"))
  }

  /** Sequence packing: assign documents to fixed-size training context
    * windows (greedy concatenation in deterministic id order, windows
    * crossing document boundaries — the GPT-style packing plan). Each
    * document gets (shard, window_id, off): documents are hash-sharded,
    * ordered by id within the shard, and a running token count places
    * each at offset `off` of window `window_id`.
    *
    * Scale shape: ONE shuffle on the shard key; the cumulative sum, the
    * window assignment, and the offset all reuse that partitioning.
    * Packing is per-shard rather than global precisely so the running
    * sum never serializes through a single partition — shards are
    * independent output streams, which is how a 100 TB tokenize-and-pack
    * job actually writes its training files.
    */
  def packSequences(df: DataFrame, idCol: String, nTokens: Column,
                    contextLen: Int, shards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("n_tok", nTokens)
      .withColumn("shard", pmod(md5Hash60(col(idCol)), lit(shards)))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("window_id", expr(s"(cum - n_tok) div $contextLen"))
      .withColumn("off", (col("cum") - col("n_tok")) % contextLen)
      .drop("cum")
  }

  /** Overlapping document chunking: split each document into
    * `chunkSize`-character windows advancing by `stride` (stride <
    * chunkSize ⇒ overlap — the RAG/embedding-ingest layout; stride ==
    * chunkSize ⇒ disjoint windows). A pure narrow projection: the offset
    * sequence explodes per document and each chunk is one substring —
    * no shuffle, output rows ≈ corpus_chars / stride.
    *
    * The last window starts at the final stride boundary below the text
    * length, so every character lands in ≥1 chunk and no empty chunks
    * are emitted (empty text yields no rows).
    */
  def chunkDocuments(df: DataFrame, chunkSize: Int, stride: Int,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    val lastOff = greatest(
      (floor((length(col(textCol)) - 1).cast("double") / stride) * stride).cast("int"),
      lit(0))
    df.select(col(idCol), col(textCol),
        explode(sequence(lit(0), lastOff, lit(stride))).as("off"))
      .filter(col("off") < length(col(textCol)))
      .select(col(idCol), (col("off") / stride).cast("int").as("chunk_id"),
        col("off").cast("int").as("off"),
        // functions.substring only takes literal pos — use the SQL form
        expr(s"substring(`$textCol`, off + 1, $chunkSize)").as("chunk"))
  }

  /** Token-budget truncation: cap each document at its first `maxTokens`
    * whitespace tokens (the context-length guard before packing or
    * embedding). Narrow projection; reports the original count so the
    * pipeline can account for dropped volume.
    */
  def truncateTokens(df: DataFrame, maxTokens: Int,
                     textCol: String = "text"): DataFrame = {
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    df.withColumn("n_tok_orig", size(toks).cast("int"))
      .withColumn(textCol,
        array_join(slice(toks, 1, maxTokens), " "))
      .withColumn("truncated", col("n_tok_orig") > maxTokens)
  }

  /** PII redaction: mask emails and phone-like digit runs. Pure narrow
    * regexp projection (RE2-compatible patterns so oracle engines agree);
    * a production pass would chain more patterns through the same shape.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val phonePattern = "\\+?[0-9][0-9]{2}-[0-9]{4}"
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")
  def countPattern(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Bloom-prefiltered semi join: reduce a huge fact table against a
    * filtered dimension by (1) building a bloom filter of dim keys on the
    * driver (`df.stat.bloomFilter` — a treeAggregate, no shuffle), (2)
    * filtering the fact table map-side through the bloom, and
    * (3) confirming survivors with an exact semi join so false positives
    * never reach the result. At 100 TB step (2) is the point: the shuffle
    * (or even the broadcast-join probe) only sees the ~fpp-inflated
    * matching fraction rather than the full fact table. Semantics are
    * EXACTLY `fact SEMI JOIN dim` — the bloom is invisible in the result.
    *
    * The probe is Spark's own `BloomFilterMightContain` expression (the
    * one runtime row-level filtering injects) over the serialized filter
    * as a binary literal: it stays inside whole-stage codegen and
    * deserializes once per task, where a Scala UDF would break the
    * codegen span at the scan — the hottest path of the whole operator.
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                    dimKey: String, expectedDimRows: Long = 1000000L,
                    fpp: Double = 0.03): DataFrame = {
    val probe = bloomProbe(dim, dimKey, col(factKey).cast("long"),
      expectedDimRows, fpp)
    fact.filter(probe)
      .join(dim.select(col(dimKey)).distinct(), col(factKey) === col(dimKey), "left_semi")
  }

  /** Incremental exact dedup — the curation shape a growing corpus
    * actually runs: dedupe the INCOMING batch against itself (min-id
    * survivor per content digest, a window min: one exchange) and
    * against the already-kept BASE corpus, without ever re-deduping or
    * re-shuffling the base. The base contributes (1) a driver-built
    * bloom filter over hashed digests — a treeAggregate, no shuffle —
    * that the batch probes map-side, and (2) an exact anti-join that
    * only the bloom-POSITIVE slice pays, so false positives never drop
    * a document and the result is exactly `batch-dedup MINUS base
    * digests`. Bloom false-negative rate is zero by construction, so no
    * duplicate can slip through. Base is scanned digest-only (pruned
    * columns) twice; the batch — the small side in steady state — twice.
    */
  def incrementalDedup(base: DataFrame, incoming: DataFrame, textCol: String,
                       idCol: String, expectedBaseRows: Long = 1000000L,
                       fpp: Double = 0.03): DataFrame = {
    // NULL text gets a sentinel digest (shorter than any md5 hex, so it
    // cannot collide): md5(NULL) = NULL would make the window treat NULL
    // duplicates as equal but the anti-join treat them as matching
    // nothing — the sentinel keeps both steps on groupBy semantics, like
    // Dedup.exact
    def digest(c: Column) = when(c.isNull, lit("null")).otherwise(md5(c))
    val inDig = incoming.withColumn("__digest", digest(col(textCol)))
    val w = Window.partitionBy("__digest")
    val batchKeep = inDig.withColumn("__minid", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__minid")).drop("__minid")
    val baseDig = base.select(digest(col(textCol)).as("__digest"))
    val probe = bloomProbe(
      baseDig.select(xxhash64(col("__digest")).as("__k")), "__k",
      xxhash64(col("__digest")), expectedBaseRows, fpp)
    val sureNew = batchKeep.filter(!probe)
    val confirmedNew = batchKeep.filter(probe)
      .join(baseDig, Seq("__digest"), "left_anti")
    sureNew.unionByName(confirmedNew)
  }

  /** Driver-built bloom probe over `keys` (a long column named `keyCol`),
    * returned as a codegen `BloomFilterMightContain` of `probeKey` —
    * shared by bloomSemiJoin and incrementalDedup so the
    * serialize-to-Literal plumbing lives once.
    */
  private def bloomProbe(keys: DataFrame, keyCol: String, probeKey: Column,
                         expectedRows: Long, fpp: Double): Column = {
    val bloom = keys.stat.bloomFilter(keyCol, expectedRows, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bos.toByteArray, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.GraftBridge.expression(probeKey)))
  }
}
