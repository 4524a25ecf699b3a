package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language-ID heuristics,
  * document fingerprinting. Scalar helpers are pure narrow projections
  * over built-in codegen'd functions — no UDFs, no shuffles; they scale
  * linearly with input splits. (`tfidfTopK` is the one relational op here:
  * two keyed aggregations plus a broadcast join.)
  */
object TextAnalysis {

  /** Whitespace tokenization (the canonical token unit for the dedup and
    * quality operators). Trim first so leading/trailing whitespace cannot
    * produce empty tokens.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles (distinct), the dedup unit for MinHash/Jaccard —
    * a single-pass custom kernel (graft.functions.WordShingles); see
    * `shinglesComposed` for the equivalent built-in composition it
    * replaces (kept as the semantic reference and test oracle).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles(text, n)

  /** Built-in-composed shingles — semantically identical to `shingles`;
    * retained as the cross-check for WordShingles and for engines without
    * the custom expression. Returns an empty array below n tokens
    * (guarded explicitly: Spark's `sequence(1, 0)` would count *down*).
    * NOT for production paths: `element_at(w, i+j)` references the split
    * expression tree inside the lambda, which re-evaluates per element
    * (the lambda-CSE trap, PLANS.md trap #5) — fine for test fixtures,
    * quadratic on real documents. The kernel form has no such cost.
    */
  def shinglesComposed(text: Column, n: Int = 3): Column = {
    val w = tokens(text)
    val grams = transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array()))
  }

  /** Per-document statistics: token count, distinct-token count, type-token
    * ratio, mean token length, and a BPE-ish subword-unit estimate
    * (ceil(len/4) pieces per token — the usual ~4-chars-per-token prior).
    *
    * Counts come from the one-pass TextStats kernel (a struct per row),
    * staged in its own projection so every ratio derives from a single
    * evaluation; the composed form below is the semantic reference.
    */
  def stats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val others = df.columns.filter(_ != textCol).map(col)
    df.select(others :+ graft.functions.TextStats(col(textCol), Nil).as("__st"): _*)
      .select(others
        :+ col("__st.n_tokens").as("n_tokens")
        :+ col("__st.n_distinct").as("n_distinct")
        :+ (col("__st.n_distinct").cast("double") / col("__st.n_tokens")).as("ttr")
        :+ (col("__st.sum_len").cast("double") / col("__st.n_tokens")).as("mean_token_len")
        :+ col("__st.est_subword").as("est_subword_tokens"): _*)
  }

  /** Built-in-composed stats (kernel cross-check / oracle form). */
  def statsComposed(df: DataFrame, textCol: String = "text"): DataFrame = {
    val w = tokens(col(textCol))
    df.select(
      df.columns.filter(_ != textCol).map(col) :+
        size(w).as("n_tokens") :+
        size(array_distinct(w)).as("n_distinct") :+
        (size(array_distinct(w)).cast("double") / size(w)).as("ttr") :+
        (aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(w))
          .as("mean_token_len") :+
        aggregate(w, lit(0L), (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))
          .as("est_subword_tokens"): _*)
  }

  /** Heuristic quality score in [0,1]: lexical diversity, length prior,
    * stopword-density prior. Deterministic double arithmetic (identical
    * IEEE evaluation order on any engine); integer counts from the
    * TextStats kernel (deduplicated by codegen subexpression
    * elimination), ratios as the same single IEEE divisions as the
    * composed reference below.
    */
  def qualityScore(text: Column, stopwords: Seq[String] = Seq("the", "a")): Column = {
    val st = graft.functions.TextStats(text, stopwords)
    val ttr = st.getField("n_distinct").cast("double") / st.getField("n_tokens")
    val lengthPrior = least(lit(1.0), st.getField("n_tokens").cast("double") / 100.0)
    val stopRatio = st.getField("n_stop").cast("double") / st.getField("n_tokens")
    round(ttr * 0.4 + lengthPrior * 0.3 + (lit(1.0) - stopRatio) * 0.3, 6)
  }

  /** Built-in-composed qualityScore (kernel cross-check / oracle form). */
  def qualityScoreComposed(text: Column, stopwords: Seq[String] = Seq("the", "a")): Column = {
    val w = tokens(text)
    val ttr = size(array_distinct(w)).cast("double") / size(w)
    val lengthPrior = least(lit(1.0), size(w).cast("double") / 100.0)
    val stopRatio =
      size(filter(w, t => stopwords.map(t === _).reduce(_ || _))).cast("double") / size(w)
    round(ttr * 0.4 + lengthPrior * 0.3 + (lit(1.0) - stopRatio) * 0.3, 6)
  }

  /** Per-document repetition signals (Gopher-style quality heuristics,
    * adapted to single-line corpora: the repetition unit is the word
    * n-gram, not the line):
    *  - top_bigram_frac: occurrences of the most frequent bigram / total
    *    bigram occurrences (boilerplate detector),
    *  - dup_trigram_frac: fraction of trigram occurrences that are
    *    repeats of an earlier trigram,
    *  - adj_dup_frac: fraction of adjacent token pairs that are equal
    *    (stutter/filler detector).
    * A pure narrow projection — per-document work only, no shuffle, so
    * the pass scales with input splits like the other text signals.
    * Ratios are single IEEE divisions rounded to 6 places; empty-unit
    * documents report 0.0.
    */
  def repetitionSignals(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    // gram arrays staged in their own projection: each is consumed by
    // several ratio expressions, and CollapseProject would re-inline the
    // kernel per consumer (the round-2 projection-collapse trap)
    val staged = df.select(col(idCol),
      tokens(col(textCol)).as("w"),
      graft.functions.WordNGrams(col(textCol), 2).as("g2"),
      graft.functions.WordNGrams(col(textCol), 3).as("g3"))
    val n2 = size(col("g2"))
    val n3 = size(col("g3"))
    // O(|g2|²) per document — bounded by document length, embarrassingly
    // parallel; a counting kernel drops in behind the same column if
    // profile-justified
    val top2 = array_max(transform(array_distinct(col("g2")),
      g => size(filter(col("g2"), x => x === g))))
    val adjDup = size(filter(sequence(lit(1), size(col("w")) - 1),
      i => element_at(col("w"), i) === element_at(col("w"), i + 1)))
    staged.select(col(idCol),
      n2.as("n_bigrams"),
      round(when(n2 > 0, top2.cast("double") / n2).otherwise(0.0), 6)
        .as("top_bigram_frac"),
      round(when(n3 > 0, (n3 - size(array_distinct(col("g3")))).cast("double") / n3)
        .otherwise(0.0), 6).as("dup_trigram_frac"),
      round(when(size(col("w")) > 1, adjDup.cast("double") / (size(col("w")) - 1))
        .otherwise(0.0), 6).as("adj_dup_frac"))
  }

  /** Character-class language-ID heuristic: script detection (CJK,
    * Cyrillic, kana) then diacritic profiles for Latin-alphabet languages,
    * defaulting to English. A real n-gram profile model drops in behind the
    * same Column signature.
    */
  def langId(text: Column): Column =
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[\\u3040-\\u30ff]"), "ja")
      .when(text.rlike("[\\u0400-\\u04ff]"), "ru")
      .when(text.rlike("[¡¿ñ]"), "es")
      .when(text.rlike("[äöüß]"), "de")
      .when(text.rlike("[çàâêîôûœ]"), "fr")
      .otherwise("en")

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set. Documents that are word-order permutations of each other
    * collide — the cheap first-pass near-dup family key.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Rolling-hash fingerprint over shingles (winnowing-style): the minimum
    * md5 of the document's shingles — robust to local edits.
    */
  def minShingleFingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(shingles(text, n), s => md5(s)))

  /** Top-k salient terms per document by TF-IDF — the inverted-index join
    * every keyword-extraction / BM25-feature pipeline runs.
    *
    * The weight is the ln-free linear form `tf · N / df` (one exact integer
    * product, one IEEE division): `ln` is libm-dependent and would break
    * cross-engine exactness, and for RANKING within a document any strictly
    * decreasing function of df orders identically.
    *
    * Scale shape: term frequencies shuffle on (doc, token); document
    * frequencies are a second aggregation of the SAME exploded tokens
    * (distinct doc per token) whose output is vocabulary-sized — orders of
    * magnitude smaller than the corpus — so the tf←df equi-join broadcasts
    * the df side. Ties rank by token for run-to-run determinism.
    */
  /** Corpus vocabulary as (freq, unit-list) rows: the shared substrate
    * of BPE training and encoding. Single-char words can never pair or
    * merge, and dropping them also guards the length-0 edge
    * (`sequence(1,0)` counts DOWN in Spark).
    */
  private def charUnits(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("u"))
      .localCheckpoint() // per-round lineage truncation (iterative rule)

  /** Greedy non-overlapping left fold: merge (a,b) wherever the PREVIOUS
    * emitted unit is a and the next incoming unit is b — one definition
    * shared by training and encoding (the DuckDB oracle's list_reduce
    * mirrors exactly this fold).
    */
  private def applyMerge(units: DataFrame, a: String, b: String): DataFrame =
    units.select(col("w"), col("freq"),
        aggregate(col("u"), array().cast("array<string>"), (acc, x) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(element_at(acc, -1), x))))
            .otherwise(concat(acc, array(x)))).as("u"))
      .localCheckpoint()

  /** The BPE training loop: per round, the argmax adjacent pair (count
    * desc, pair asc — fully deterministic) is collected (ONE row) and
    * greedily applied. Returns the merges AND the final unit table so
    * train-then-encode is a single pass.
    */
  private def bpeLoop(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, Long)], DataFrame) = {
    var units = charUnits(docs, textCol)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (r <- 1 to rounds) {
      val best = units
        .select(col("freq"), explode(zip_with(
          slice(col("u"), lit(1), size(col("u")) - 1),
          slice(col("u"), lit(2), size(col("u")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect() // exactly ONE row: the round's winning merge
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        merges += ((r, pair, best(0).getLong(1)))
        val parts = pair.split(" ", 2)
        units = applyMerge(units, parts(0), parts(1))
      }
    }
    (merges.toSeq, units)
  }

  /** Iterative BPE merge training (Sennrich-style, word-level): learn
    * `rounds` merges over the corpus vocabulary. Each round is one
    * distributed pass over the VOCABULARY (words × current units), never
    * the corpus: pair frequencies aggregate adjacent unit pairs weighted
    * by word frequency. Only the single winning (pair, count) row reaches
    * the driver per round — the same "tiny codebook, huge corpus" shape
    * as the IVF k-means trainer. At 100 TB the corpus collapses to its
    * vocabulary in the first aggregation (orders of magnitude smaller)
    * and every round after that is vocabulary-sized work.
    *
    * Returns the merge table (round, pair, n) — `pair` is the two merged
    * units separated by one space (units are whitespace-tokenized, so
    * they can never contain one).
    */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, textCol, rounds)._1.toDF("round", "pair", "n")
  }

  /** Train `rounds` merges and emit the resulting subword vocabulary with
    * corpus-weighted frequencies in ONE pass (the trained unit table is
    * reused, not re-derived) — the train-then-encode composition.
    */
  def bpeVocab(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    unitFrequencies(bpeLoop(docs, textCol, rounds)._2)

  /** Apply an ALREADY-LEARNED merge list (from [[bpeMerges]], in order) —
    * the encode half on its own: train once, apply everywhere.
    */
  def bpeVocab(docs: DataFrame, textCol: String,
               merges: Seq[String]): DataFrame =
    unitFrequencies(merges.foldLeft(charUnits(docs, textCol)) { (units, pair) =>
      val parts = pair.split(" ", 2)
      applyMerge(units, parts(0), parts(1))
    })

  private def unitFrequencies(units: DataFrame): DataFrame =
    units.select(col("freq"), explode(col("u")).as("unit"))
      .groupBy("unit").agg(sum("freq").as("n"))

  /** Per-DOCUMENT BPE encoding with corpus-trained merges — the apply
    * half at document granularity: each document's token stream becomes
    * its subword-unit sequence.
    *
    * Scale shape: merges train once (driver traffic = one row per
    * round); each DISTINCT word encodes once in the vocabulary-sized
    * unit table, and documents join their tokens against it broadcast —
    * the per-doc work is a join plus a position-ordered reassembly, never
    * a per-document merge loop. Words under 2 chars (excluded from
    * training) encode as themselves via the left join's coalesce.
    * Reassembly sorts each doc's OWN (pos, units) structs — deterministic
    * regardless of partition order.
    */
  def bpeEncode(docs: DataFrame, textCol: String, idCol: String,
                rounds: Int): DataFrame = {
    val units = bpeLoop(docs, textCol, rounds)._2.select(col("w"), col("u"))
    val dtoks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    dtoks.join(broadcast(units), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("u"), array(col("w"))).as("u"))
      .groupBy("doc_id")
      .agg(flatten(transform(sort_array(collect_list(struct(col("pos"), col("u")))),
        s => s.getField("u"))).as("units"))
      .select(col("doc_id"), size(col("units")).as("n_units"),
        array_join(col("units"), " ").as("encoded"))
  }

  /** Corpus-trained bigram LM quality score (the CCNet-style statistical
    * filter): train bigram/unigram counts on the corpus itself, then
    * score each document by its mean transition probability
    * mean_i P(w_i | w_{i-1}) with P = c(bigram)/c(prev-unigram). Scores
    * near the corpus norm mark fluent text; outliers mark gibberish —
    * the shape of perplexity filtering without `log` (libm `log` is not
    * bit-specified across engines; the mean of exact-integer-ratio
    * divisions is, when summed in document order).
    *
    * Determinism: every p_i is one IEEE division of exact ints, and the
    * per-doc sum folds over the doc's OWN bigrams in position order
    * (sort_array + aggregate), never a partition-order float sum.
    * Scale shape: both count tables are vocabulary-sized → broadcast
    * joins against the narrow (doc, pos, bigram) stream; per-doc state
    * is bounded by document length. One shuffle, on doc_id.
    */
  def bigramLmScore(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val w = tokens(col(textCol))
    val pairRows = docs.select(col(idCol).as("doc_id"),
      posexplode(zip_with(
        slice(w, lit(1), size(w) - 1),
        slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b))).as(Seq("pos", "bg")))
    val uni = docs.select(explode(tokens(col(textCol))).as("prev"))
      .groupBy("prev").agg(count(lit(1)).as("cw"))
    val bi = pairRows.groupBy("bg").agg(count(lit(1)).as("cb"))
    // bi is bigram-TYPE-scaled (can approach corpus scale on open-domain
    // text) — leave its join strategy to AQE; only the vocabulary-sized
    // unigram table is pinned broadcast
    pairRows
      .withColumn("prev", substring_index(col("bg"), " ", 1))
      .join(bi, "bg")
      .join(broadcast(uni), "prev")
      .select(col("doc_id"), col("pos"),
        (col("cb").cast("double") / col("cw")).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).as("n_bigrams"),
        (floor(aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p"))
          / size(col("ps")) * 1e6 + 0.5) / 1e6).as("lm_score"))
  }

  /** Markup extraction: strip tags and decode the five XML/HTML core
    * entities — the first step of any web-corpus ingest (the simplified
    * deterministic core of trafilatura-style extraction; no DOM, no
    * heuristics, so both engines replay it exactly). Tag removal is one
    * RE2/Java-identical regex `<[^>]*>`; entity decode is a FIXED chain
    * of literal replaces (amp LAST, so `&amp;lt;` decodes to the literal
    * `&lt;` the author wrote, not a tag-opening `<`). Narrow projection —
    * no shuffle.
    */
  def htmlStrip(docs: DataFrame, html: org.apache.spark.sql.Column,
                idCol: String = "doc_id"): DataFrame = {
    val noTags = regexp_replace(html, "<[^>]*>", "")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    docs.select(col(idCol),
      regexp_count(html, lit("<[^>]*>")).as("n_tags"),
      length(html).as("n_raw_chars"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("extracted"))
  }

  /** Per-document Unicode SCRIPT profile — the multilingual-corpus
    * routing primitive (which alphabet is this document actually written
    * in?) that complements the n-gram [[langId]]: counts of Latin,
    * Cyrillic, CJK-unified, and digit code points via explicit BMP
    * ranges (identical byte-for-byte in Java and RE2 regex engines — no
    * \p{Script=…} dialect drift), plus the dominant script with a fixed
    * latin > cyrillic > cjk tie order. A pure narrow projection: no
    * shuffle, scales with input splits.
    */
  def scriptProfile(docs: DataFrame, txt: org.apache.spark.sql.Column,
                    idCol: String = "doc_id"): DataFrame = {
    val nLatin = regexp_count(txt, lit("[A-Za-z]")).as("n_latin")
    val nCyr = regexp_count(txt, lit("[Ѐ-ӿ]")).as("n_cyrillic")
    val nCjk = regexp_count(txt, lit("[一-鿿]")).as("n_cjk")
    val nDig = regexp_count(txt, lit("[0-9]")).as("n_digit")
    docs.select(col(idCol), length(txt).as("n_chars"),
        nLatin, nCyr, nCjk, nDig)
      .withColumn("dominant",
        when(col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_cjk"), "latin")
          .when(col("n_cyrillic") >= col("n_cjk"), "cyrillic")
          .otherwise("cjk"))
  }

  /** Kneser–Ney-smoothed bigram LM scoring — the standard statistical
    * quality filter upgrade over [[bigramLmScore]]'s raw MLE: unseen
    * continuations receive mass proportional to how PROMISCUOUS a word's
    * contexts are (its distinct-left-neighbor count), which is what
    * separates "rare but well-formed" from "garbled" text far better
    * than raw bigram frequency.
    *
    *   p_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1•)
    *               + (D·N1+(w1•)/c(w1•)) · (N1+(•w2)/T)
    *
    * with the textbook discount D = 3/4 and T = distinct bigram types.
    * Every factor is an integer count; each p is ONE fixed expression
    * tree of IEEE operations replicated operator-for-operator in the
    * DuckDB oracle (no ln anywhere — the [[bm25TopK]] trade), and the
    * per-document mean folds in document order like `bigramLmScore`, so
    * scores hash-match cross-engine. Per-document output:
    * (doc_id, n_bigrams, kn_score).
    *
    * Scale shape: the context/continuation tables and the 1-row type
    * total are vocabulary-sized (broadcast); the bigram-TYPE table
    * scales with the corpus on open-domain text, so its join is left to
    * AQE (shuffle join at web scale, auto-broadcast when small). Within
    * each fixed w1, the KN masses sum to exactly 1 (OpsSpec holds this
    * as a property).
    */
  def kneserNeyLmScore(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val w = tokens(col(textCol))
    val pairRows = docs.select(col(idCol).as("doc_id"),
      posexplode(zip_with(
        slice(w, lit(1), size(w) - 1),
        slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b))).as(Seq("pos", "bg")))
    val bi = pairRows.groupBy("bg").agg(count(lit(1)).as("cb"))
    val biKeys = bi
      .withColumn("prev", substring_index(col("bg"), " ", 1))
      .withColumn("nxt", substring_index(col("bg"), " ", -1))
    val left = biKeys.groupBy("prev")
      .agg(sum("cb").as("cw1"), count(lit(1)).as("n1l"))
    val right = biKeys.groupBy("nxt").agg(count(lit(1)).as("n1r"))
    val tt = bi.agg(count(lit(1)).as("tt"))
    val p = (greatest(col("cb").cast("double") - lit(0.75), lit(0.0)) / col("cw1")) +
      (lit(0.75) * col("n1l") / col("cw1")) * (col("n1r").cast("double") / col("tt"))
    // biKeys scales with distinct BIGRAM types (near-linear in corpus
    // tokens on web text) — never force-broadcast it; AQE still
    // broadcasts when it is actually small. Joining it ALSO supplies
    // prev/nxt, computed once per TYPE instead of twice per token
    // occurrence. The context/continuation tables and the 1-row total
    // are vocabulary-sized and safe to pin.
    pairRows
      .join(biKeys, "bg")
      .join(broadcast(left), "prev")
      .join(broadcast(right), "nxt")
      .crossJoin(broadcast(tt))
      .select(col("doc_id"), col("pos"), p.as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).as("n_bigrams"),
        (floor(aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p"))
          / size(col("ps")) * 1e6 + 0.5) / 1e6).as("kn_score"))
  }

  /** BM25 top-k retrieval with EXACT integer fixed-point scoring.
    *
    * Classic BM25 (k1 = 1.2, b = 3/4) with one deliberate, documented
    * substitution: the idf factor is Robertson's argument
    * `(N - df + 0.5) / (df + 0.5)` used directly (scaled 1e6, truncating
    * division) instead of its ln — the same trade `bigramLmScore` makes
    * to stay log-free. Per-term document ranking is identical (exp is
    * monotone); across terms the weighting skews further toward rare
    * terms than ln-idf. In exchange every score is a 64-bit integer
    * computed with one fixed sequence of exact operations, so a DuckDB
    * oracle reproduces it bit-for-bit; no cross-engine libm ln drift.
    *
    * With b = 3/4 and k1 = 6/5 the tf saturation term reduces to the
    * all-integer form `22·T·tf / (10·T·tf + 3·T + 9·dl·N)` (T = total
    * corpus tokens, N = docs, dl = doc length): multiply out
    * `tf·(k1+1) / (tf + k1·(1 - b + b·dl·N/T))` by `10T/10T`.
    * Overflow bounds (64-bit, ANSI mode aborts rather than wraps): the
    * tf numerator `22·T·tf·1e6` needs `T·tf ≲ 4e11`, and the
    * idf·tf-part product needs `N ≲ 6e6` docs at df = 1 — comfortable
    * for the bench corpora, NOT for a 1e12-token corpus. Past that,
    * switch the two scaled factors to DECIMAL(38,0) (both engines keep
    * exact integer semantics; only the overflow headroom changes).
    *
    * Scale shape: the token scan is filtered to query terms BEFORE the
    * tf aggregation (predicate reaches the parquet scan), df comes from
    * the already-filtered tf frame, and corpus stats are a two-long
    * aggregate joined as a broadcast literal row. The only full-corpus
    * shuffle is the per-doc length aggregate; top-k is a rank window the
    * optimizer group-limits map-side.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(String, String)], k: Int = 10,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, text) =>
      text.trim.split("\\s+").distinct.toSeq.map(t => (qid, t))
    }.toDF("query_id", "tok")
    val allTerms = queries.flatMap(_._2.trim.split("\\s+")).distinct
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    // per-doc lengths are |docs| rows — checkpointing them pins the full
    // corpus to TWO scans (lengths + query-term tf); without it each of
    // the dl consumers (score join, corpus stats) re-scans the corpus
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl")).localCheckpoint()
    // corpus stats re-aggregate the per-doc lengths — no third corpus scan
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val tf = toks.filter(col("tok").isin(allTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(qterms), "tok")
      .join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (expr("(2 * (n - df) + 1) * 1000000L div (2 * df + 1)") *
          expr("22L * t * tf * 1000000L div (10L * t * tf + 3L * t + 9L * dl * n)"))
          .as("term_fp"))
      .groupBy("query_id", "doc_id").agg(sum("term_fp").as("score_fp"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_fp").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_fp"))
  }

  def tfidfTopK(docs: DataFrame, k: Int = 3, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val nDocs = docs.select(col(idCol)).distinct().count()
    val scored = tf.join(broadcast(dfreq), "tok")
      .withColumn("tfidf", (col("tf") * lit(nDocs)).cast("double") / col("dfreq"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("tok"), col("tf"), col("dfreq"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  /** TF-IDF query retrieval (the second system for hybrid fusion): per
    * (query, doc), score = Σ_terms tf · N / df, kept EXACT as the
    * fixed-point integer `tf · N · 10^6 div df` per term so the ranking
    * reproduces bit-for-bit in any engine (same discipline as bm25TopK's
    * ln-free scoring). Plan shape matches bm25TopK: the token scan is
    * filtered to query terms before the tf aggregate, df and the query
    * terms broadcast, top-k is a rank window the optimizer group-limits
    * map-side.
    */
  def tfidfRetrieveTopK(docs: DataFrame, queries: Seq[(String, String)],
                        k: Int = 10, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, text) =>
      text.trim.split("\\s+").distinct.toSeq.map(t => (qid, t))
    }.toDF("query_id", "tok")
    val allTerms = queries.flatMap(_._2.trim.split("\\s+")).distinct
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    // corpus doc count as a broadcast one-row frame, not an eager
    // .count() — DataFrame construction must not run a corpus job
    // (bm25TopK's stats pattern)
    val ndDf = docs.select(col(idCol)).distinct().agg(count(lit(1)).as("nd"))
    val tf = toks.filter(col("tok").isin(allTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(qterms), "tok")
      .join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(ndDf))
      .select(col("query_id"), col("doc_id"),
        expr("tf * nd * 1000000L div df").as("term_fp"))
      .groupBy("query_id", "doc_id").agg(sum("term_fp").as("score_fp"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_fp").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_fp"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of retrieval
    * runs: fused score = Σ_runs 1/(kRrf + rank), kept exact as the
    * truncating integer `10^9 div (kRrf + rnk)` per run so the fused
    * order is engine-reproducible. Inputs carry (query_id, doc_id, rnk)
    * — any mix of systems (BM25, TF-IDF, ANN) over the same id space.
    * Each run is already top-k-bounded per query, so the union +
    * re-aggregation shuffles O(queries × k × runs) rows regardless of
    * corpus size — fusion cost never touches the corpus.
    */
  def rrfFuse(runs: Seq[DataFrame], k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(runs.nonEmpty, "need at least one run")
    val u = runs.map(_.select(col("query_id"), col("doc_id"), col("rnk")))
      .reduce(_ unionByName _)
    val scored = u
      .select(col("query_id"), col("doc_id"),
        expr(s"1000000000L div ($kRrf + rnk)").as("contrib"))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("rrf_fp"), count(lit(1)).as("n_runs"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_fp").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf_fp"),
        col("n_runs"))
  }

  /** The spread tokenized corpus both skip-gram consumers read:
    * [[Width.spread]] keyed on the WHOLE ROW's hash (r17, ADVICE r16 —
    * keying on the text alone sent every exact-duplicate document to one
    * partition, re-serializing the kernel the rebalance exists to
    * spread; with the id column in the key, duplicates spread), then
    * ONE tokenize projection. Binding the token array as a column
    * attribute FIRST matters: a free subexpression inside a lambda body
    * is re-evaluated per element (no CSE through lambdas), so
    * element_at(split(...), i) inside the nested transform would
    * re-split the document per (i, j) — cubic per-row work.
    */
  private def spreadTokens(df: DataFrame, textCol: String): DataFrame =
    // project BEFORE the exchange (guide §2.3): only the text and the
    // 8-byte fan key ship; the other document columns never leave the
    // scan. The key still hashes the WHOLE row so duplicates spread.
    Width.spread(
      df.select(col(textCol), xxhash64(df.columns.map(col): _*).as("__fk")),
      col("__fk"))
      .select(tokens(col(textCol)).as("__w"))

  /** The windowed pair explode over a pre-tokenized `__w` frame — split
    * out (r17) so collocationsTopK can share ONE tokenize pass between
    * the pair and unigram scans.
    */
  private def skipGramPairsFromTokens(tokFrame: DataFrame,
                                      window: Int): DataFrame = {
    val toks = tokFrame.filter(size(col("__w")) >= 2)
    val w = col("__w")
    // for token index i (1-based), pair with each of the next `window`
    // tokens in both orientations — forward pairs (t_i, t_{i+d}) and
    // their mirrors (t_{i+d}, t_i) — covering all |i-j| <= window pairs
    val pairs = flatten(transform(sequence(lit(1), size(w) - 1), i =>
      flatten(transform(sequence(i + 1, least(i + window, size(w))), j =>
        array(struct(element_at(w, i).as("w1"), element_at(w, j).as("w2")),
          struct(element_at(w, j).as("w1"), element_at(w, i).as("w2")))))))
    toks.select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
  }

  /** Skip-gram (center, context) pair counts — the training-pair
    * extraction for word2vec-style embedding pipelines: every ordered
    * pair of tokens at distance 1..window within a document, counted
    * corpus-wide. Pair GENERATION is a pure narrow projection (a
    * higher-order transform over the token array — no self-join, no
    * positional explode), so the only shuffle is the final (w1, w2)
    * count aggregation, map-side combined. At 100 TB the pair stream is
    * ~2·window×tokens rows but collapses to vocabulary² keys before the
    * exchange.
    */
  def skipGramPairs(df: DataFrame, textCol: String = "text",
                    window: Int = 2): DataFrame =
    skipGramPairsFromTokens(spreadTokens(df, textCol), window)

  /** Collocation ranking by an ln-free PMI surrogate: for each skip-gram
    * pair, `score_fp = n_ab · T · 10^6 div (n_a · n_b)` where n_a/n_b are
    * corpus token occurrence counts and T the total token count — the
    * integer-exact monotone transform of pointwise mutual information
    * (PMI = ln of that ratio), so the RANKING is identical to PMI's and
    * reproduces bit-for-bit in any engine. Unigram counts are
    * vocabulary-sized → broadcast; the pair side arrives already
    * aggregated.
    */
  def collocationsTopK(df: DataFrame, textCol: String = "text",
                       window: Int = 2, k: Int = 20,
                       minCount: Long = 5): DataFrame = {
    // ONE tokenize pass feeds BOTH the pair and unigram scans (r17,
    // VERDICT r16 #7): the r16 shape ran the spread + tokenize twice
    // over the same corpus — tokenize is the dominant per-row kernel
    // here, and the budget carried two extra exchanges for it. Lazy
    // checkpoint: whichever side executes first materializes the token
    // arrays once (corpus-sized MEMORY_AND_DISK blocks — the trade vs a
    // second full tokenize scan; regex tokenize is CPU-heavy enough
    // that materializing wins at every measured scale).
    val toks = spreadTokens(df, textCol).localCheckpoint(false)
    val pairs = skipGramPairsFromTokens(toks, window)
      .filter(col("n") >= minCount)
    val uni = toks.select(explode(col("__w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = uni.agg(sum("cnt").as("t"))
    // headroom: the product n·T·10^6 must stay under 2^63, i.e.
    // n·T < ~9.2e12 — a pair count of 1e5 against a 1e9-token corpus is
    // already 1e20 and overflows. Past that, switch the product to
    // DECIMAL(38,0) on both engines (same exactness, wider headroom)
    val scored = pairs
      .join(broadcast(uni.select(col("tok").as("w1"), col("cnt").as("na"))), "w1")
      .join(broadcast(uni.select(col("tok").as("w2"), col("cnt").as("nb"))), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n"),
        expr("n * t * 1000000L div (na * nb)").as("score_fp"))
    // global top-k as orderBy+limit → TakeOrderedAndProject (distributed
    // per-partition heaps, only k rows move); the rank is then assigned
    // over k rows, not over the pair stream
    val top = scored.orderBy(col("score_fp").desc, col("w1"), col("w2")).limit(k)
    Ranks.smallRank(top, Seq(-col("score_fp"), col("w1"), col("w2")), "rk")
      .select(col("rk"), col("w1"), col("w2"), col("n"), col("score_fp"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, adapted
    * to single-line corpora): per-document boolean gates
    *  - ok_words:   50 ≤ word count ≤ 100000
    *  - ok_wlen:    3 ≤ mean word length ≤ 10
    *  - ok_symbol:  ≤ 10% of words start with '#' or end with '…'/'...'
    *  - ok_alpha:   ≥ 80% of words contain an alphabetic character
    *  - ok_stop:    ≥ 2 distinct stopwords present
    * and `pass` = conjunction. Every ratio gate is evaluated in INTEGER
    * cross-multiplied form (e.g. `10·n_alpha ≥ 8·n_words`), so there is
    * no float to drift between engines. A pure narrow projection: no
    * shuffle, scales with input splits.
    */
  def gopherRules(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id",
                  stopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"))
  : DataFrame = {
    val w = tokens(col(textCol))
    val nWords = size(w)
    val sumLen = aggregate(w, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(w, t => t.rlike("[A-Za-z]")))
    val nSymbol = size(filter(w,
      t => t.startsWith("#") || t.endsWith("...") || t.endsWith("…")))
    val nStop = size(filter(array_distinct(w),
      t => stopwords.map(t === _).reduce(_ || _)))
    df.select(col(idCol), nWords.as("n_words"),
        (nWords >= 50 && nWords <= 100000).as("ok_words"),
        (sumLen >= lit(3L) * nWords && sumLen <= lit(10L) * nWords).as("ok_wlen"),
        (lit(10) * nSymbol <= nWords).as("ok_symbol"),
        (lit(10) * nAlpha >= lit(8) * nWords).as("ok_alpha"),
        (nStop >= 2).as("ok_stop"))
      .withColumn("pass",
        col("ok_words") && col("ok_wlen") && col("ok_symbol") &&
          col("ok_alpha") && col("ok_stop"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection via
    * Importance Resampling"): score each RAW-pool document by how much its
    * unigram distribution looks like the TARGET corpus, so the raw pool
    * can be resampled toward the target domain without a trained
    * classifier.
    *
    * Per token, the add-one-smoothed likelihood ratio
    * `p_target(tok) / p_raw(tok)` is computed CROSS-MULTIPLIED —
    * `(c_t+1)·(n_raw+V)` over `(c_raw+1)·(n_target+V)`, both exact 64-bit
    * integers — and spent as ONE IEEE division. The per-document weight is
    * the MEAN ratio over token positions, folded in document order
    * (`sort_array` list fold ≡ DuckDB `list(p ORDER BY pos)` reduce) and
    * rounded once at 1e-6, the same bit-exactness discipline as
    * `bigramLmScore`. (Canonical DSIR sums LOG ratios — a geometric mean —
    * but ln is libm-dependent; the arithmetic mean ranks domain affinity
    * the same way for filtering and stays hash-identical across engines.
    * Overflow headroom: the cross products need `c·(n+V) < 2^63`, i.e.
    * fine to ~1e9 tokens per side; past that, widen to DECIMAL(38,0).)
    *
    * Scale shape: one token-count shuffle, totals as a broadcast literal
    * row, ratio table broadcast back (vocabulary-sized — switch the probe
    * join to a shuffle join if the vocab outgrows the driver), then one
    * per-doc aggregation. No driver collect.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val cnt = toks.groupBy("tok").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cs"))
    val tot = cnt.agg(sum("ct").as("nt"), sum("cs").as("ns"),
      count(lit(1)).as("v"))
    val ratios = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
        (((col("ct") + 1) * (col("ns") + col("v"))).cast("double") /
          ((col("cs") + 1) * (col("nt") + col("v"))).cast("double")).as("p"))
    toks.filter(!col("is_t"))
      .join(broadcast(ratios), "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).as("n_toks"),
        (floor(aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p"))
          / size(col("ps")) * 1e6 + 0.5) / 1e6).as("dsir_w"))
  }

  /** Vocabulary pruning report — the min_df / max_df gate every
    * tokenizer/TF-IDF pipeline applies, measured before committing to
    * it: tokens kept when their document frequency satisfies
    * `df >= minDf` and `df · maxDfDen <= nDocs · maxDfNum` (the max-df
    * ratio in integer cross-multiplied form — no float threshold), and
    * per source the token coverage / OOV rate the pruned vocabulary
    * would leave. One df aggregation, kept-vocab broadcast back to the
    * token stream, the doc count a broadcast 1-row frame — nothing
    * row-sized shuffles twice.
    */
  def vocabPruneStats(docs: DataFrame, minDf: Int = 3,
                      maxDfNum: Int = 1, maxDfDen: Int = 2,
                      textCol: String = "text",
                      sourceCol: String = "source"): DataFrame = {
    val toks = docs.select(col(sourceCol).as("source"),
      explode(tokens(col(textCol))).as("tok"))
    val dfreq = docs
      .select(explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("dfq"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val kept = dfreq.crossJoin(broadcast(nd))
      .filter(col("dfq") >= minDf &&
        col("dfq") * maxDfDen <= col("nd") * maxDfNum)
      .select("tok")
    val vsize = kept.agg(count(lit(1)).as("vocab_size"))
    toks.join(broadcast(kept.withColumn("inv", lit(1L))), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("inv"), lit(0L))).as("n_covered"))
      .crossJoin(broadcast(vsize))
      .select(col("source"), col("n_tokens").cast("int").as("n_tokens"),
        col("n_covered").cast("int").as("n_covered"),
        col("vocab_size").cast("int").as("vocab_size"),
        round((col("n_tokens") - col("n_covered")).cast("double")
          / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Per-document lexical diversity WITHOUT logarithms: token count,
    * type count, type-token ratio, and the repeat probability
    * Σ c_t(c_t−1) / n(n−1) — the probability two tokens drawn without
    * replacement are equal (Simpson's index; 1−D is Gini-Simpson, its
    * reciprocal the Hill number of order 2). It carries the same
    * "low diversity = TEMPLATE/boilerplate" signal Shannon entropy does,
    * but is an exact rational in integer counts, so it hash-matches any
    * engine where entropy's per-term ln drifts. High rep_prob + low ttr
    * is the cheap pre-filter before the n-gram repetition signals.
    *
    * Shuffle shape: explode → one map-side-combined count keyed
    * (doc, token) → one count keyed doc. Per-row state is O(1); a
    * million-token document streams through — nothing collects a
    * per-doc token list.
    */
  def lexicalDiversity(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("n"), count(lit(1)).as("types"),
        sum(col("c") * (col("c") - 1)).as("coll"))
      .select(col(idCol), col("n").cast("int").as("n_tokens"),
        col("types").cast("int").as("n_types"),
        round(col("types").cast("double") / col("n"), 6).as("ttr"),
        when(col("n") > 1,
          round(col("coll").cast("double") / (col("n") * (col("n") - 1)), 6))
          .otherwise(lit(0.0)).as("rep_prob"))

  /** Per-group Flesch reading-ease from exact integer counts: whitespace
    * words, terminal-punctuation sentences (a document with no terminal
    * punctuation counts as ONE sentence — the honest convention for
    * space-joined corpora), and the standard vowel-group syllable
    * surrogate (`[aeiouy]+` runs — the classic heuristic, not a
    * dictionary). The three sums reduce map-side; the Flesch formula
    * 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is one fixed IEEE expression
    * per group row.
    */
  def readability(df: DataFrame, textCol: String = "text",
                  groupCol: String = "source"): DataFrame =
    df.select(col(groupCol),
        size(tokens(col(textCol))).cast("long").as("nw"),
        regexp_count(col(textCol), lit("[aeiouy]+")).as("ny"),
        size(split(col(textCol), "[.!?]+\\s+", -1)).cast("long").as("ns"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
        sum("ny").as("n_syllables"), sum("ns").as("n_sentences"))
      .select(col(groupCol), col("n_docs"), col("n_words"),
        col("n_syllables"), col("n_sentences"),
        round(col("n_words").cast("double") / col("n_sentences"), 6)
          .as("words_per_sentence"),
        round(col("n_syllables").cast("double") / col("n_words"), 6)
          .as("syll_per_word"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 6)
          .as("flesch"))

  /** Per-group encoding-health audit — the mojibake/controls screen run
    * before any text enters a training corpus: documents carrying the
    * U+FFFD replacement character (a decode already went wrong upstream),
    * total non-printing control characters (every C0 control except the
    * whitespace trio tab U+0009 / newline U+000A / CR U+000D — NUL, VT,
    * and FF count as controls), and
    * non-ASCII character count with the ASCII ratio. All counts are exact
    * integers from codegen'd regexp counts (narrow, map-side combined);
    * the ratio is one IEEE division per group.
    */
  def encodingAudit(df: DataFrame, textCol: Column,
                    groupCol: String = "source"): DataFrame =
    df.select(col(groupCol), textCol.as("txt"))
      .select(col(groupCol),
        length(col("txt")).cast("long").as("nc"),
        when(col("txt").contains(lit("\ufffd")), 1L).otherwise(0L).as("repl"),
        regexp_count(col("txt"), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).as("ctrl"),
        regexp_count(col("txt"), lit("[^\\x00-\\x7F]")).as("nona"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
        sum("repl").as("n_repl_docs"), sum("ctrl").as("n_ctrl_chars"),
        sum("nona").as("n_nonascii_chars"))
      .select(col(groupCol), col("n_docs"), col("n_chars"),
        col("n_repl_docs"), col("n_ctrl_chars"), col("n_nonascii_chars"),
        round(lit(1.0) - col("n_nonascii_chars").cast("double") / col("n_chars"), 6)
          .as("ascii_ratio"))

  /** Canonical URL form for web-corpus dedup — the normalization every
    * crawl pipeline applies before URL-level dedup so that tracking
    * params, host case, default ports and fragments don't fan one page
    * out into many "distinct" URLs (cf. the reference's trimmer
    * normalization discipline, trimmer.rs:55-167, applied to the web
    * domain). Rules, in order: drop the `#fragment`; lowercase scheme
    * and host; strip the scheme's default port (`:80` http, `:443`
    * https) and a leading `www.`; drop tracking query params
    * (`utm_*`, `fbclid`, `gclid`); sort the surviving params; empty
    * path becomes `/`. A pure narrow projection over codegen'd builtins
    * (regexp_extract / filter / array_sort) — no UDF, no shuffle, scales
    * with input splits.
    */
  def canonicalizeUrl(u: Column): Column = {
    val nf = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(nf, "^([^:/?#]+)://", 1))
    val hostport = lower(regexp_extract(nf, "^[^:/?#]+://([^/?#]*)", 1))
    val noPort = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val host = regexp_replace(noPort, "^www\\.", "")
    val pathq = regexp_extract(nf, "^[^:/?#]+://[^/?#]*(.*)$", 1)
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    val query = when(pathq.contains("?"),
      regexp_replace(pathq, "^[^?]*\\?", "")).otherwise(lit(""))
    val keep = filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)="))
    val cq = array_join(array_sort(keep), "&")
    concat(scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(cq === "", lit("")).otherwise(concat(lit("?"), cq)))
  }

  /** Vocabulary-growth (Heaps-law) profile: cumulative token and
    * distinct-type counts at every `bucketDocs`-document checkpoint of
    * the corpus in id order — the curve whose flattening says when more
    * data stops buying new vocabulary. Each token's contribution to the
    * type curve is its FIRST document (one `min` aggregation), so the
    * whole profile costs two keyed aggregations plus
    * [[Ranks.prefixCounts]] — cumulative sums with no unpartitioned
    * window, scaling to corpus-sized bucket counts.
    */
  def heapsLaw(docs: DataFrame, bucketDocs: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("tok"))
    val perBucket = toks
      .groupBy(floor(col("__id") / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("toks"))
    val newTypes = toks.groupBy("tok").agg(min("__id").as("first_id"))
      .groupBy(floor(col("first_id") / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    // a bucket always has tokens when it has first-occurrences, so the
    // left join from the token side is exhaustive
    val g = perBucket.join(newTypes, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
    Ranks.prefixCounts(g, "bucket", Seq("toks", "new_types"))
      .select(col("bucket"),
        ((col("bucket") + 1) * bucketDocs).cast("long").as("docs_seen"),
        col("toks_cum").as("tokens_seen"),
        col("new_types_cum").as("vocab"))
  }

  /** Global token frequencies ranked 1..V by (freq desc, token asc) via
    * [[Ranks.globalRank]] — the shared input of [[vocabCoverage]] and
    * [[zipfDecades]]; no unpartitioned window, so the rank pass holds up
    * on web-scale vocabularies.
    */
  def rankedTokenFreqs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val freqs = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    Ranks.globalRank(freqs, col("freq") * -1, col("tok"), "rnk")
  }

  /** Top-k vocabulary coverage: for each k, what fraction of all token
    * OCCURRENCES the k most frequent types cover (the tokenizer-budget /
    * OOV-rate planning table; complement of coverage = OOV mass under a
    * k-entry vocab). Exact integers end to end — one ranked-frequency
    * pass, one conditional aggregate per k, one integer division.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int],
                    textCol: String = "text"): DataFrame = {
    require(ks.nonEmpty)
    val ranked = rankedTokenFreqs(docs, textCol)
    val aggd = ranked.agg(
      sum(when(col("rnk") <= ks.head, col("freq")).otherwise(0L))
        .cast("long").as(s"c${ks.head}"),
      ks.tail.map(k => sum(when(col("rnk") <= k, col("freq")).otherwise(0L))
        .cast("long").as(s"c$k")) :+ sum("freq").cast("long").as("total"): _*)
    aggd.select(
        explode(array(ks.map(k => struct(lit(k).as("k"),
          col(s"c$k").as("covered"))): _*)).as("e"), col("total"))
      .select(col("e.k").as("k"), col("e.covered").as("covered"),
        col("total"), expr("e.covered * 1000000 div total").as("coverage_x1e6"))
  }

  /** Zipf profile by rank decade: tokens at ranks [10^d, 10^(d+1)) and
    * their mean freq×rank product (×1000, truncating integer division) —
    * Zipf's law says the product stays roughly flat across decades, and
    * a decade where it collapses marks where the long tail stops pulling
    * its weight (vocab-prune threshold planning). Exact integers.
    */
  def zipfDecades(docs: DataFrame, textCol: String = "text"): DataFrame =
    rankedTokenFreqs(docs, textCol)
      .groupBy((length(col("rnk").cast("string")) - 1).cast("int").as("decade"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("freq") * col("rnk")).cast("long").as("fr_sum"))
      .withColumn("fr_avg_x1000", expr("fr_sum * 1000 div n_tokens"))

  /** Pairwise cosine similarity between per-group unigram
    * term-frequency vectors (group = source, domain, shard…) — the
    * standard corpus-mix comparison: which sources say the same things,
    * which one is the odd duck before weighting a mixture. Exact until
    * the end: integer tf dot products via ONE token-keyed self-join
    * (never a dense |V| vector per group on the driver), integer
    * squared norms, then cosine = dot/√(na·nb) as one IEEE expression.
    * The token join shuffles on the token key; a Zipf head token
    * contributes one row per group PAIR sharing it (≤ |G|²), so fan-out
    * is bounded by the group count, not the corpus.
    */
  def sourceCosine(docs: DataFrame, groupCol: Column,
                   textCol: String = "text"): DataFrame = {
    def d38(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val tf = docs.select(groupCol.as("g"), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("g", "tok").agg(count(lit(1)).as("f"))
      .localCheckpoint() // consumers: norms + both sides of the pair join
    val norms = tf.groupBy("g")
      .agg(sum(d38(col("f")) * d38(col("f"))).as("n2"))
    val dots = tf.as("a").join(tf.as("b"),
        col("a.tok") === col("b.tok") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(sum(d38(col("a.f")) * d38(col("b.f"))).as("dot"))
    dots
      .join(norms.select(col("g").as("ga"), col("n2").as("na")), Seq("ga"))
      .join(norms.select(col("g").as("gb"), col("n2").as("nb")), Seq("gb"))
      .select(col("ga"), col("gb"), col("dot").cast("long").as("dot"),
        round(col("dot").cast("double")
          / sqrt((col("na") * col("nb")).cast("double")), 6).as("cosine"))
  }

  /** Hill tail-index estimate of the token-frequency distribution:
    * α = k / Σ_{i≤k} ln(f_i / f_{k+1}) over the k most frequent tokens
    * against the (k+1)-th as threshold — the quantitative check on the
    * Zipf exponent ([[zipfDecades]] shows the shape; this estimates the
    * tail). A heavier tail (smaller α) means dedup/vocab decisions move
    * more mass than a log-log eyeball suggests. Frequencies reduce
    * map-side; only k+1 `(tok, f)` rows leave the cluster (TakeOrdered
    * top-k, id tie-break); each ln takes an exact integer rational,
    * quantized once to 1e12 — one IEEE division total.
    */
  def hillTailIndex(df: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k >= 2, "need at least 2 tail points")
    val f = df.select(explode(tokens(textCol)).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(k + 1)
      .localCheckpoint() // consumers: threshold row + the top-k reduce
    val ref = f.orderBy(col("f").asc, col("tok").desc).limit(1)
      .select(col("f").as("f_ref"))
    f.orderBy(col("f").desc, col("tok")).limit(k)
      .crossJoin(broadcast(ref))
      .agg(count(lit(1)).cast("int").as("k"),
        first("f_ref").cast("long").as("f_ref"),
        sum(floor(log(col("f").cast("double") / col("f_ref").cast("double"))
          * 1e12 + 0.5).cast("long")).as("s_q"))
      .select(col("k"), col("f_ref"),
        // s_q = 0 ⇔ the top-k ties the threshold frequency (vocabulary
        // ≤ k distinct tokens) — no tail to estimate, NULL not Infinity
        when(col("s_q") > 0, round(col("k").cast("double") * 1e12
          / col("s_q").cast("double"), 6)).as("hill_alpha"))
  }
}
