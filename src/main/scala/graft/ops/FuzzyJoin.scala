package graft.ops

import graft.functions.HashColumns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) self-join via deletion-neighborhood candidate
  * generation (Mor-Fraenkel / SymSpell): an edit script of k ≤ `maxEdits`
  * ops deletes at most k chars from each side to reach a common string,
  * so two names within distance k MUST share a ≤k-deletion variant —
  * joining on xxhash64(variant) has zero false negatives (hash collisions
  * only ADD candidates; the exact verification removes them). Variant
  * count is O(len²) per row — LINEAR in the corpus — where a plain block
  * equi-join is quadratic inside each block. Survivors pay a banded
  * levenshtein(_, _, k) (O(len·k), early-exit), never the full O(len²)
  * DP. Extracted from the q_fuzzy_join query (r11) so the hot-bucket cap
  * below is a library contract with a spec, like Dedup.minhashLsh's
  * maxBucket and Linkage.candidates' maxBlockPairs.
  */
object FuzzyJoin {

  /** Broadcast floor for the hot-key anti join: over-cap key sets up to
    * this many rows (8-byte longs — ~8 MiB of key payload) broadcast;
    * larger sets take a shuffled left_anti instead. Guards the
    * degenerate small-cap × low-entropy case where "the skew set" is a
    * large fraction of all variant keys.
    */
  private val MaxBroadcastHotKeys: Long = 1L << 20

  /** `maxBucket`: RESULT-CHANGING opt-in (the hotKeyCap contract —
    * default = exact, no gate), mirroring [[Linkage.candidates]]'
    * maxBlockPairs. A (variant-hash × block) bucket holding m rows
    * contributes C(m,2) candidate pairs; on a bounded-entropy name space
    * the sf30 soak measured the OUTPUT itself densifying (513,922 pairs
    * at sf10 → 7.7M at sf30, 15.1× on 10× data) — every pair true, so
    * unlike LSH's stop-shingle rule this cap trades RESULT pairs, not
    * just redundant candidates. When set, buckets above the cap are
    * dropped before the self-join; a true pair survives iff SOME shared
    * deletion variant sits in a bucket under the cap (an identical-name
    * family of m docs shares ALL variants, so the family vanishes
    * together once m exceeds the cap — run exact dedup first, exactly as
    * with minhashLsh). Measure recall with the FuzzySpec contract test /
    * ProbeFuzzyCap before trusting a cap on a new corpus.
    */
  /** `maxNeighborhood`: the OTHER result-changing opt-in, for the case
    * the cap above cannot touch (measured at sf10/sf30: variant buckets
    * stay ≤24 rows even at sf30, so ≥98% of candidate mass sits in
    * small buckets — the superlinear growth is the ANSWER densifying,
    * 513,922 pairs at sf10 → 7.7M at sf30 on a bounded-entropy name
    * space, every pair true). When set, each record keeps only its k
    * nearest incident pairs (by (dist, neighbor id)); a pair survives if
    * EITHER endpoint keeps it — kNN-graph union semantics, so cluster
    * connectivity degrades gracefully and output is bounded by k·n at
    * any corpus size. The trim runs on the OUTPUT frame (one window +
    * one semi join on pair ids), never on the candidate mass.
    */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, nameCol: String,
                           blockCols: Seq[String], maxEdits: Int = 2,
                           rowsPerBuildPartition: Long = 500000L,
                           maxBucket: Int = Int.MaxValue,
                           maxNeighborhood: Int = Int.MaxValue): DataFrame = {
    val spark = df.sparkSession
    val p = df.select((idCol +: nameCol +: blockCols).map(col): _*)
    // one fused codegen pass emits the name's hash and all deletion
    // variant hashes (O(1) each via polynomial prefix hashes) — the HOF
    // formulation (nested transform + substr + xxhash64) is interpreted
    // per element and measured 14x slower on the same plan.
    // Fold (variant hash, blocks...) into ONE long join key so the
    // variant shuffle carries 16 bytes/row, and pin the self-join to
    // shuffle-hash: Spark's size estimator doesn't see the explode
    // fan-out and would otherwise try to BROADCAST the exploded side.
    // Spread the scan first: the ~100x variant explode otherwise runs at
    // the input's split count.
    val variants = Width.spread(p, col(idCol))
      .select(col(idCol) +: blockCols.map(col) :+
        explode(HashColumns.deletionVariantHashes(col(nameCol), maxEdits))
          .as("__vh"): _*)
      .select(col(idCol),
        xxhash64(col("__vh") +: blockCols.map(col): _*).as("h"))
    // SIZE the self-join's shuffle so each task's hash-relation build
    // stays bounded REGARDLESS of corpus size (the r10 sf3 OOM fix): the
    // variant count is estimable cheaply and EXACTLY where Spark's
    // estimator is blind — rows × (1 + L + L(L−1)/2) deletion variants
    // from one count + one tiny avg-length aggregate.
    val stats = p.agg(count(lit(1)).as("n"),
      avg(length(col(nameCol))).as("len")).head()
    val nVariants = {
      // avg() over zero rows is NULL — an empty input must size to the
      // session default, not NPE at construction time
      val l = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
      stats.getLong(0) * (1 + l + l * (l - 1) / 2)
    }
    val joinParts = math.max(Width.session(spark),
      math.ceil(nVariants / rowsPerBuildPartition.toDouble).toInt)
    val spread0 = variants.repartition(joinParts, col("h"))
    // the opt-in hot-bucket gate, phrased as a broadcast ANTI join on
    // the (tiny, by definition: it is the skew) set of over-cap keys —
    // a keep-set semi join would shuffle the full variant frame a second
    // time and recompute the explode three times (measured 97.9 s vs
    // 45.6 s exact at sf10); the anti form pays one extra aggregate pass
    // and nothing else
    val spread =
      if (maxBucket == Int.MaxValue) spread0
      else {
        // "tiny by definition" only holds for generous caps: a small cap
        // on a low-entropy corpus can push a large fraction of variant
        // keys over it, and an unconditional broadcast() of that set
        // would hit the driver/executor broadcast wall. Checkpoint the
        // hot set (lazy — the count below materializes it in the same
        // job), read its size off the materialized blocks, and only
        // broadcast when it is actually small; above the floor fall back
        // to a shuffled left_anti (one extra exchange on h, never a
        // driver-sized collect).
        val hot = spread0.groupBy("h").agg(count(lit(1)).as("__k"))
          .filter(col("__k") > maxBucket).select("h")
          .localCheckpoint(false)
        // classic internal-RDD count: one job that also materializes the
        // checkpoint (Dataset.count would plan an AQE aggregate = two)
        val nHot = hot.queryExecution.toRdd.count()
        if (nHot <= MaxBroadcastHotKeys)
          spread0.join(broadcast(hot), Seq("h"), "left_anti")
        else spread0.join(hot.hint("shuffle_hash"), Seq("h"), "left_anti")
      }
    val cand = spread.as("a").hint("shuffle_hash")
      .join(spread.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    // fetch names for survivors only, re-check the block columns EXACTLY
    // (the folded hash key alone would make block equality probabilistic),
    // then verify with the banded DP
    def side(tag: String) = p.select((col(idCol) +:
      col(nameCol).as(s"${tag}_name") +:
      blockCols.map(c => col(c).as(s"${tag}_$c"))): _*)
    val named = cand
      .join(side("a"), col("a_id") === col(idCol)).drop(idCol)
      .join(side("b"), col("b_id") === col(idCol)).drop(idCol)
    val verified = blockCols.foldLeft(named) { (acc, c) =>
        acc.filter(col(s"a_$c") === col(s"b_$c"))
      }
      .withColumn("dist", levenshtein(col("a_name"), col("b_name"), maxEdits))
      .filter(col("dist") >= 0)
      .select("a_id", "b_id", "a_name", "b_name", "dist")
    if (maxNeighborhood == Int.MaxValue) verified
    else {
      // output-sized frame, referenced three times below (both union
      // arms + the semi-join probe): checkpoint or the whole candidate
      // pipeline above recomputes per reference
      val v = verified.localCheckpoint()
      val sym = v.select(col("a_id").as("src"), col("b_id").as("dst"),
          col("dist"))
        .union(v.select(col("b_id").as("src"), col("a_id").as("dst"),
          col("dist")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("dist"), col("dst"))
      val kept = sym.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxNeighborhood)
        .select(least(col("src"), col("dst")).as("a_id"),
          greatest(col("src"), col("dst")).as("b_id"))
        .distinct()
      v.join(kept, Seq("a_id", "b_id"), "left_semi")
    }
  }
}
