package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge DataFrames. Connected components
  * live in [[Dedup.clusterPairs]] (label propagation + pointer jumping);
  * here: triangle enumeration, the canonical "two-hop plus closing edge"
  * shuffle pattern.
  */
object Graph {

  /** Symmetrized distinct edge list from a directed kNN frame
    * ((q_id, n_id) → undirected (src, dst) both ways): the shape the
    * src/dst-consuming operators here take (pageRank, kCore,
    * labelPropagation, bfsHops, personalizedPageRank). NOT the
    * [[triangles]]/[[clusteringCoefficient]] input — those take
    * canonical one-row-per-edge (pa < pb, distinct) frames; derive one
    * with `edges.filter(col("src") < col("dst"))
    * .select(col("src").as("pa"), col("dst").as("pb"))`. One dedup
    * shuffle on the edge pair.
    */
  private def symmetrize(knn: DataFrame): DataFrame = {
    // lazy checkpoint: BOTH union arms read the directed kNN — left
    // un-truncated, each arm re-ran the full cell-join + top-k (measured
    // 2× the whole build at sf1). First consumer materializes it inside
    // a job it was running anyway.
    val k = knn.localCheckpoint(false)
    k.select(col("q_id").as("src"), col("n_id").as("dst"))
      .union(k.select(col("n_id").as("src"), col("q_id").as("dst")))
      .distinct()
  }

  /** Exact cosine kNN graph by brute force — O(n²) pair scoring. The
    * TRUTH BASELINE for [[knnGraph]]'s recall eval and the right call
    * only on a bounded slice (the q_graph_* fixture rule: explicit
    * row-count filter before calling). For corpus-scale graph
    * construction use [[knnGraph]].
    */
  def knnGraphBrute(vectors: DataFrame, k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    symmetrize(Similarity.bruteForceKnnBlocked(vectors, vectors, k, idCol, vecCol))

  /** ANN-backed kNN-graph construction over a PERSISTED IVF index
    * (r13, VERDICT r12 §2): every indexed vector is joined to its own
    * cell's vectors — the cells are PRECOMPUTED on disk
    * ([[Similarity.writeIvfIndex]]), so the build is one cell-keyed
    * shuffle + within-cell scoring + per-vector top-k, never the n²
    * all-pairs scan. Returns the symmetrized distinct (src, dst) edge
    * list the Graph operators consume.
    *
    * Scale shape: with c balanced cells the candidate mass is Σ|cell|²
    * ≈ n²/c — pick c ~ √(n/k̄) so per-cell work is linear-in-n, and
    * read q_eval_ivf_cell_balance first: a hot cell quietly carries a
    * quadratic fraction (the LSH hot-bucket failure mode). Recall is a
    * measured trade — edges whose endpoints land in different cells are
    * missed; `nProbe` is the recall-vs-cost knob (each vector's QUERY
    * side fans out to its nProbe nearest cells; the corpus side stays
    * the stored one-cell assignment, so candidate mass scales ×nProbe,
    * never ×nProbe²). q_eval_knn_graph_recall is the tuning table:
    * edge recall vs the brute truth per nProbe on the bounded fixture —
    * read it before a corpus-scale build trusts a (cells, nProbe) pair.
    */
  /** `maxCellVecs` follows the dispatcher contract every operator family
    * with a degenerate n² regime carries (the [[Dedup.minhashLsh]]
    * pattern): the within-cell self-join costs Σ|cell|² — on a skewed
    * index one hot cell quietly carries a quadratic fraction of the
    * corpus AND one task carries the whole hot cell. DEFAULT
    * [[AutoCellVecs]] = probe the cell histogram (ONE single-row
    * aggregate) and route: exact while the hottest cell ≤
    * [[DefaultMaxCellVecs]]; above it, over-cap cells split into
    * deterministic md5 sub-buckets of ≤ cap vectors and each vector
    * scores only its own sub-bucket — every task stays ≤ cap² work at
    * ANY corpus size. Unlike the dedup caps this trades neighbor RANK,
    * not just recall (a sub-bucket's top-k can promote farther
    * neighbors); q_eval_knn_graph_recall-style measurement plus a
    * refinement round ([[knnGraphRefined]] — bridges recover cross-
    * sub-bucket neighbors) is the standing guidance before trusting a
    * cap. `Int.MaxValue` forces exact, a positive cap forces splitting;
    * see [[knnGraphAuto]] for the probe/route metadata.
    */
  def knnGraph(spark: org.apache.spark.sql.SparkSession, indexPath: String,
               k: Int, nProbe: Int = 1, maxCellVecs: Int = AutoCellVecs,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    if (maxCellVecs == AutoCellVecs)
      knnGraphAuto(spark, indexPath, k, nProbe, idCol = idCol,
        vecCol = vecCol).pairs
    else
      symmetrize(directedIvfKnn(spark, indexPath, k, nProbe, maxCellVecs,
        idCol, vecCol))

  /** Sentinel `maxCellVecs`: let [[knnGraphAuto]] probe the cell
    * histogram and pick the regime.
    */
  val AutoCellVecs: Int = -1

  /** The dispatcher's default cap / routing threshold: a cell of 4096
    * vectors costs ~8.4M within-cell pairs — an honest task; a hot cell
    * at a linear corpus fraction is the n² regime this cap refuses.
    */
  val DefaultMaxCellVecs: Int = 4096

  /** Size-aware kNN-graph dispatcher: ONE [[HotKeys.mass]] aggregate
    * over the stored cell histogram routes exact vs sub-bucketed. See
    * [[knnGraph]] for the contract and [[Dispatch]] for the reported
    * statistics (`pairs` = the symmetrized edges).
    */
  def knnGraphAuto(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, k: Int, nProbe: Int = 1,
                   cappedCellVecs: Int = DefaultMaxCellVecs,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Dispatch = {
    val cells = spark.read.parquet(Similarity.ivfCellsPath(spark, indexPath))
    // an over-cap cell splits into s = ceil(k/cap) sub-buckets of k/s
    // vectors: s·C(k/s, 2) pairs are still scored
    val s = ceil(HotKeys.k / cappedCellVecs.toDouble).cast("double")
    val sub = HotKeys.k.cast("double") / s
    val m = HotKeys.mass(cells, Seq("cell"), cappedCellVecs,
      overCap = s * sub * (sub - lit(1.0)) / 2)
    val exact = m.maxKey <= cappedCellVecs
    Dispatch.fromMass(exact, m.rows, m, cappedCellVecs,
      symmetrize(directedIvfKnn(spark, indexPath, k, nProbe,
        if (exact) Int.MaxValue else cappedCellVecs, idCol, vecCol)))
  }

  /** The directed index-backed kNN build behind [[knnGraph]] /
    * [[knnGraphAuto]]: exact = the plain cell join; capped = over-cap
    * cells split into `ceil(|cell|/cap)` deterministic md5 sub-buckets
    * (each vector — query side included, at any nProbe — lands in ONE
    * sub-bucket per probed cell, so the per-task bound holds).
    */
  private def directedIvfKnn(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String, k: Int, nProbe: Int,
                             maxCellVecs: Int, idCol: String,
                             vecCol: String): DataFrame = {
    val cells = spark.read.parquet(Similarity.ivfCellsPath(spark, indexPath))
    if (maxCellVecs == Int.MaxValue) {
      // spread the QUERY side (Width.spread): a compacted small index
      // sits in a handful of parquet files, and the scan's split count
      // would cap the scoring stage. The corpus side needs no spread — it
      // is either broadcast or shuffled on the cell key anyway.
      val q = Width.spread(cells, col(idCol))
      if (nProbe <= 1)
        Similarity.ivfKnn(cells, q, k, cellCol = "cell", idCol, vecCol)
      else
        Similarity.ivfMultiProbeKnnFromIndex(spark, indexPath, q, k,
          nProbe, idCol, vecCol)
    } else {
      // sub-bucketed: (cell, salt) is the join key, salt = md5(id) mod
      // ceil(|cell|/cap) — engine-reproducible (the md5Hash60 contract)
      // so a SQL oracle can replay the split
      val cnt = cells.groupBy("cell").agg(count(lit(1)).as("__ck"))
      def keyed(df: DataFrame): DataFrame = df.join(cnt, "cell")
        .withColumn("__cell2", concat_ws(":", col("cell"),
          pmod(Pipeline.md5Hash60(col(idCol)),
            greatest(ceil(col("__ck") / maxCellVecs.toDouble).cast("long"),
              lit(1L)))))
      val c = Similarity.vecSide(keyed(cells), "n", idCol, vecCol,
        col("__cell2").as("cell"))
      // spread the QUERY side here too, as in the exact branch; the
      // corpus side is shuffled on the (cell, salt) key regardless
      val qSrc = Width.spread(cells, col(idCol))
      val qb =
        if (nProbe <= 1) keyed(qSrc)
        else keyed(qSrc.select(col(idCol), col(vecCol)).withColumn("cell",
          explode(Similarity.ivfAssignCells(col(vecCol),
            Similarity.readIvfCodebook(spark, indexPath), nProbe))))
      Similarity.cellTopK(
        Similarity.vecSide(qb, "q", idCol, vecCol, col("__cell2").as("cell")), c, k)
    }
  }

  /** [[knnGraph]] + `rounds` NN-Descent refinement passes
    * ([[Similarity.knnRefine]]): each round replaces every vector's list
    * with the exact top-k over {current neighbors} ∪ {neighbors of
    * neighbors, both directions} — the standard way to buy graph recall
    * at LINEAR cost (≤4nk² rescored candidates per round) instead of
    * probing more cells. REQUIRES a cross-cell base: with nProbe = 1
    * every base edge lives inside one k-means cell, the two-hop closure
    * can never leave the cell, and refinement is exactly a no-op (the
    * base was already the within-cell exact top-k — measured flat on
    * the fixture). Start from nProbe ≥ 2 — the second-best-cell edges
    * are the bridges each round amplifies.
    *
    * DECISION RULE (measured r13-r14 on BOTH corpus shapes, PLANS.md
    * "refinement vs probes, both shapes"): spend the wall on PROBES
    * first. On the clustered sf1 corpus nProbe=4 reaches recall 0.74
    * where nProbe=2 + 2 rounds reaches 0.52 at equal wall; on the
    * isotropic scattered fixture (64 cells, no cluster structure — the
    * shape once hypothesized to favor refinement) the gap WIDENS:
    * nProbe=4 recall 0.467 at 16.9 s vs nProbe=2+1 round 0.280 at
    * 18.8 s, and refinement CONVERGES by round 2 (+0.007 total) because
    * two-hop expansion carries no signal when similarities concentrate.
    * Refinement's failure mode is its recall CEILING — the transitive
    * reach of the base graph's bridges — not its per-round cost
    * (≤4nk² stays linear at any cell count). Reach for rounds > 0 only
    * when more probes are genuinely unavailable (a frozen per-vector
    * scan budget) AND the corpus is strongly clustered; confirm with
    * q_eval_knn_graph_refine on the real corpus first. rounds = 0
    * degenerates to [[knnGraph]].
    */
  def knnGraphRefined(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, k: Int, nProbe: Int = 1,
                      rounds: Int = 1, maxCellVecs: Int = AutoCellVecs,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    knnGraphRefinedTrajectory(spark, indexPath, k, nProbe, rounds,
      maxCellVecs, idCol, vecCol).last

  /** The whole refinement TRAJECTORY: the symmetrized edge list after
    * 0, 1, …, `rounds` refinement passes, sharing ONE base-graph build
    * (q_eval_knn_graph_refine consumes all of them — calling
    * [[knnGraphRefined]] per rounds value would rebuild the base each
    * time). Element i = the graph after i rounds. `maxCellVecs` follows
    * the [[knnGraph]] dispatcher contract for the BASE build.
    */
  def knnGraphRefinedTrajectory(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String, k: Int, nProbe: Int = 1,
                                rounds: Int = 1,
                                maxCellVecs: Int = AutoCellVecs,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): Seq[DataFrame] = {
    require(rounds >= 0, "rounds >= 0")
    val cells = spark.read.parquet(Similarity.ivfCellsPath(spark, indexPath))
    var g =
      if (maxCellVecs == AutoCellVecs)
        directedIvfKnn(spark, indexPath, k, nProbe,
          knnGraphAuto(spark, indexPath, k, nProbe, idCol = idCol,
            vecCol = vecCol).cap, idCol, vecCol)
      else
        directedIvfKnn(spark, indexPath, k, nProbe, maxCellVecs,
          idCol, vecCol)
    val out = Seq.newBuilder[DataFrame]
    // each round's directed graph feeds TWO consumers (its symmetrized
    // snapshot + the next refine) — lazy checkpoint so the chain never
    // re-executes an earlier round's lineage
    g = g.localCheckpoint(false)
    out += symmetrize(g)
    for (_ <- 1 to rounds) {
      g = Similarity.knnRefine(g, cells, k, idCol, vecCol)
        .localCheckpoint(false)
      out += symmetrize(g)
    }
    out.result()
  }

  /** All triangles (x < y < z) of an undirected graph given as canonical
    * edges (pa < pb, distinct), via the compact-forward algorithm: every
    * edge is re-oriented from its lower-(degree, id) endpoint to the
    * higher one, wedges are built in that orientation (o1.dst = o2.src),
    * and the closing join checks the oriented (src, dst). Each triangle
    * has exactly one vertex ordering that is rank-increasing, so it is
    * produced exactly once — no post-hoc dedup shuffle.
    *
    * The orientation is the skew defense: a degree-d super-node stores
    * all its edges as INCOMING except the few toward even-higher-rank
    * vertices, so per-vertex wedge fan-out is out-degree², bounded by
    * O(m) total wedges ≤ O(m^1.5) on ANY degree distribution — a
    * power-law hub no longer contributes deg² pairs. Costs one extra
    * linear degree join versus the naive id-oriented wedge join.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("pa"), col("pb"))
    val deg = e.select(col("pa").as("v")).union(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // rank(v) = (deg(v), v); canonical pa < pb breaks degree ties by id
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val o = e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
      .select(when(fwd, col("pa")).otherwise(col("pb")).as("src"),
        when(fwd, col("pb")).otherwise(col("pa")).as("dst"))
      // lazy (r16): all three consumers sit in ONE downstream plan, so
      // the first consumer's job materializes it — eager paid a separate
      // job for the same work
      .localCheckpoint(false) // three consumers; don't recompute the degree joins
    o.as("o1").join(o.as("o2"), col("o1.dst") === col("o2.src"))
      .join(o.as("o3"),
        col("o3.src") === col("o1.src") && col("o3.dst") === col("o2.dst"))
      .select(array_sort(array(col("o1.src"), col("o1.dst"), col("o2.dst"))).as("t"))
      .select(col("t").getItem(0).as("x"), col("t").getItem(1).as("y"),
        col("t").getItem(2).as("z"))
  }

  /** PageRank in INTEGER arithmetic: ranks are fixed-point longs scaled
    * by `scale`, per-edge contributions are floor divisions, and the 0.85
    * damping factor is the exact rational 85/100 — so every iteration is
    * reproducible bit-for-bit in any engine (floating-point PageRank sums
    * in partition order and drifts). Oracle-checked against a DuckDB
    * recursive CTE running the identical integer recurrence.
    *
    * `edges` is directed (src, dst); pass both directions for undirected
    * graphs — that also guarantees no vertex lacks in-edges. Loop-
    * invariant work is hoisted OUT of the loop (ProbeGraphScale, r15):
    * the out-degree joins into the edge frame once, and that (src, dst,
    * d) frame is hash-partitioned on src and checkpointed — localCheckpoint
    * preserves the physical partitioning, so every iteration's rank join
    * reshuffles only the |V|-sized rank frame, never the |E|-sized
    * edges, and the per-iteration degree join disappears entirely. At
    * 13.4M symmetric edges the 5-iteration wall dropped from ~30 s to a
    * 9-14 s band (host noise dominates tighter reads; PLANS.md r15
    * table) with bit-identical ranks — the arithmetic is untouched,
    * only the plan moved. Remaining per-iteration cost: the map-side-combined
    * contribution sum keyed on dst plus the vertex left join;
    * intermediates are lineage-truncated per the iterative-operator
    * rule (see Dedup.clusterPairs).
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d")).localCheckpoint(false)
    // ONE probe sizes everything: |V| (for r0) and |E| = Σd ride the same
    // single-row aggregate the old verts.count() already paid, and |E|
    // drives the partition pin below.
    val st = deg.agg(count(lit(1)).as("n"), sum("d").as("m")).collect()(0)
    val n = st.getLong(0)
    val mEdges = if (st.isNullAt(1)) 0L else st.getLong(1)
    // EXPLICIT partition count: a bare repartition(col) is eligible for
    // AQE coalescing, so the materialized count would vary run-to-run
    // and the co-partitioning match below would silently break — the
    // loop then re-shuffles the |E| frame every iteration (measured
    // bimodal 1.5 s vs 10 s/iter at 13.4M edges before pinning).
    // Sized from |E| by Width.forWork (RowsPerTask).
    val nPart = Width.forWork(edges.sparkSession, mEdges.toDouble, Width.RowsPerTask)
    val eDeg = e.join(deg, "src")
      .repartition(nPart, col("src")).localCheckpoint(false)
    val verts = deg.select(col("src").as("p"))
    val r0 = scale / n
    val base = (15L * r0) / 100L
    // loop checkpoints are LAZY (r16): eager ones paid one extra
    // final-stage job per iteration — under AQE the construction of the
    // next iteration's frame materializes every non-final stage anyway,
    // and the next consumer (join or caller action) folds the final
    // stage in. Arithmetic and lineage truncation are unchanged.
    var rank = verts.withColumn("rank", lit(r0)).localCheckpoint(false)
    for (_ <- 1 to iters) {
      val contrib = rank.join(eDeg, rank("p") === eDeg("src"))
        .select(col("dst"), expr("rank div d").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      rank = verts.join(contrib, verts("p") === contrib("dst"), "left")
        .select(col("p"),
          (lit(base) + expr("(85 * coalesce(s, 0)) div 100")).as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Personalized PageRank: identical integer fixed-point iteration to
    * [[pageRank]] but the teleport mass restarts at the SEED set instead
    * of uniformly — rank_{t+1}(v) = [v ∈ S]·(15·scale/|S|)/100 +
    * 85·Σ_{u→v} rank_t(u)/deg(u) / 100 — the "similar to these"
    * neighborhood scorer behind related-item and expansion queries.
    * All-integer (÷ truncating), so a recursive SQL replay is
    * bit-identical. Same scale shape as pageRank: per iteration one
    * contribution shuffle keyed on dst; the seed membership joins
    * broadcast (seeds ≪ vertices).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d")).localCheckpoint(false)
    // same loop-invariant hoist as pageRank: degree pre-joined, edge
    // frame pre-partitioned on src once, count pinned against AQE
    // coalescing; the pin is sized from |E| = Σd (Width.forWork) via the
    // same single-row probe
    val st = deg.agg(sum("d").as("m")).collect()(0)
    val mEdges = if (st.isNullAt(0)) 0L else st.getLong(0)
    val nPart = Width.forWork(edges.sparkSession, mEdges.toDouble, Width.RowsPerTask)
    val eDeg = e.join(deg, "src")
      .repartition(nPart, col("src")).localCheckpoint(false)
    val verts = deg.select(col("src").as("p"))
    // seeds restricted to GRAPH vertices before sizing the teleport
    // share: a seed with no out-edges is not a chain state — counting it
    // would silently starve the surviving seeds' restart mass
    val sd = seeds.select(col("p")).distinct()
      .join(verts, Seq("p"), "left_semi")
      .withColumn("__seed", lit(true)).localCheckpoint()
    val ns = sd.count()
    require(ns > 0, "personalizedPageRank: no seed has outgoing edges")
    val r0 = scale / ns
    val base = (15L * r0) / 100L
    // LOOP-INVARIANT seed membership hoisted out of the loop (r16): the
    // old form re-ran the broadcast seed join every iteration to decide
    // the teleport term; (p, is_seed) is iteration-independent, so fold
    // it into the vertex frame once. Same integer arithmetic per row.
    val vb = verts.join(broadcast(sd), verts("p") === sd("p"), "left")
      .select(verts("p"), col("__seed").isNotNull.as("is_seed"))
      .localCheckpoint(false)
    // lazy loop checkpoints, as in pageRank (r16)
    var rank = vb
      .select(col("p"), when(col("is_seed"), r0).otherwise(0L).as("rank"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val contrib = rank.join(eDeg, rank("p") === eDeg("src"))
        .select(col("dst"), expr("rank div d").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      rank = vb.join(contrib, vb("p") === contrib("dst"), "left")
        .select(vb("p"), coalesce(col("s"), lit(0L)).as("s0"),
          col("is_seed"))
        .select(col("p"), (when(col("is_seed"), base).otherwise(0L)
          + expr("(85 * s0) div 100")).as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Canonical co-occurrence edges: vertices u sharing at least one key
    * with v (u < v), deduplicated. The self-join keys on the shared
    * attribute, so parallelism scales with its cardinality.
    *
    * Skew defense: a key shared by n vertices emits C(n,2) pairs, and a
    * self-join cannot split one key across tasks — a single hot attribute
    * value (a stop-word-like token, a default/sentinel key) would hand one
    * task quadratic work AND quadratic output. Keys above `hotKeyCap`
    * distinct vertices are excluded before the join, the same stop-word
    * rule similarity joins apply to high-df tokens (see Dedup prefix
    * filtering): such keys carry no co-occurrence signal in proportion to
    * their cost. Below the cap the result is exact; the worst surviving
    * key is bounded at C(cap, 2) pairs. The count filter reuses the same
    * hash partitioning on `s` as the self-join, so the defense costs one
    * map-side-combined aggregate, not an extra full shuffle of pairs.
    *
    * The default is EXACT (`hotKeyCap = Int.MaxValue`, no gate, no extra
    * aggregate): a result-changing truncation must be chosen, not
    * inherited — a caller who never read this scaladoc gets every edge.
    * Large-scale callers opt into the cap explicitly (see
    * q_graph_triangles, which pins 10000 even though its input bounds
    * every key at 300, so the choice is visible at the call site).
    */
  def coOccurrenceEdges(df: DataFrame, vertexCol: String, keyCol: String,
                        hotKeyCap: Int = Int.MaxValue): DataFrame = {
    val ps = df.select(col(vertexCol).as("p"), col(keyCol).as("s")).distinct()
    val kept =
      if (hotKeyCap == Int.MaxValue) ps // exact: skip the gating aggregate
      else {
        val coldKeys = ps.groupBy("s").agg(count(lit(1)).as("n_s"))
          .filter(col("n_s") <= hotKeyCap).select("s")
        ps.join(coldKeys, Seq("s"))
      }
    kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.p") < col("b.p"))
      .select(col("a.p").as("pa"), col("b.p").as("pb")).distinct()
  }

  /** k-core decomposition by iterative peeling: repeatedly drop vertices
    * of degree < k (with their edges) until the graph stabilizes — the
    * densely-knit backbone used for community seeds and graph cleanup.
    * Returns the surviving vertices with their in-core degrees.
    *
    * Each round is one degree aggregation + two semi joins; the edge
    * frame is lineage-truncated per round (the iterative-operator rule)
    * and the convergence probe ships one count. Peeling is monotone, so
    * extra rounds are no-ops — `maxIters` caps the loop for the oracle's
    * unrolled replay (q_graph_kcore verifies convergence within the cap
    * on its fixture; a non-converged cap would surface as a mismatch).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 12): DataFrame = {
    // lazy checkpoints (r16): every round's convergence count is the
    // materializing action anyway — the eager form paid one extra
    // final-stage job per round for nothing
    var e = edges.select(col("pa"), col("pb")).localCheckpoint(false)
    var n = e.count()
    var iter = 0
    var stable = false
    while (!stable && iter < maxIters) {
      val deg = e.select(col("pa").as("v")).union(e.select(col("pb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("v")
      val e2 = e
        .join(keep.withColumnRenamed("v", "pa"), Seq("pa"), "left_semi")
        .join(keep.withColumnRenamed("v", "pb"), Seq("pb"), "left_semi")
        .localCheckpoint(false)
      val n2 = e2.count()
      stable = n2 == n
      e = e2; n = n2; iter += 1
    }
    e.select(col("pa").as("v")).union(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("int").as("d"))
  }

  /** Link prediction over an undirected graph given as canonical edges
    * (pa < pb, distinct): for every NON-adjacent pair (x < y) with at
    * least one common neighbor, emit the common-neighbor count and the
    * Jaccard coefficient |N(x)∩N(y)| / |N(x)∪N(y)| — the two classic
    * unsupervised predictors (Liben-Nowell & Kleinberg 2003). The union
    * size is the exact identity deg(x)+deg(y)−common (integers), so the
    * score is one IEEE division, reproducible anywhere.
    *
    * Shuffle shape: candidate pairs come from the wedge self-join keyed
    * on the CENTER vertex (two neighbors of the same v), aggregated
    * map-side into counts; existing edges leave via one anti join; two
    * broadcast-able degree joins finish. Nothing touches all pairs.
    *
    * Skew: a center of degree d contributes C(d,2) wedges — the same
    * hub-quadratic hazard as coOccurrenceEdges, with the same contract:
    * the default is EXACT, and `wedgeCap` (max degree for a wedge
    * CENTER) is an explicit, result-changing opt-in for power-law graphs.
    * A hub above the cap stops generating candidates THROUGH itself but
    * still counts in each endpoint's degree, so surviving scores are
    * unchanged; only pairs whose every common neighbor is a super-hub
    * disappear — at 100 TB that is the standard stop-word rule again.
    */
  /** Per-vertex local clustering coefficient 2·t(v)/(deg(v)·(deg(v)−1)):
    * how close each vertex's neighborhood is to a clique — the community-
    * structure signal next to the global triangle count. Triangle counts
    * per vertex come from [[triangles]] (compact-forward, skew-bounded);
    * the ratio is exact integers until one IEEE division. Degree-1
    * vertices are excluded (coefficient undefined).
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    // lazy (r16): both consumers (triangles' orientation build and the
    // degree aggregate) sit in one downstream plan — see triangles
    val e = edges.select(col("pa"), col("pb")).localCheckpoint(false)
    val tv = triangles(e)
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    val deg = e.select(col("pa").as("v")).union(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    deg.join(tv, Seq("v"), "left")
      .select(col("v"), col("d"), coalesce(col("t"), lit(0L)).as("t"))
      .filter(col("d") >= 2)
      .select(col("v"), col("d").cast("int").as("d"),
        col("t").cast("int").as("t"),
        round((col("t") * 2).cast("double") / (col("d") * (col("d") - 1)), 6)
          .as("coef"))
  }

  def linkPredict(edges: DataFrame, wedgeCap: Int = Int.MaxValue): DataFrame = {
    val e = edges.select(col("pa"), col("pb"))
    val nb = e.select(col("pa").as("v"), col("pb").as("u"))
      .union(e.select(col("pb").as("v"), col("pa").as("u")))
      // lazy (r16): all consumers sit in one downstream plan
      .localCheckpoint(false) // consumed by degrees and both wedge sides
    val deg = nb.groupBy("v").agg(count(lit(1)).as("d"))
    val centers =
      if (wedgeCap == Int.MaxValue) nb
      else nb.join(deg.filter(col("d") <= wedgeCap).select("v"), Seq("v"))
    val common = centers.as("a").join(centers.as("b"),
        col("a.v") === col("b.v") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("x"), col("b.u").as("y"))
      .agg(count(lit(1)).as("common"))
    common.join(e,
        common("x") === e("pa") && common("y") === e("pb"), "left_anti")
      .join(deg.select(col("v").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x").as("pa"), col("y").as("pb"),
        col("common").cast("int").as("common"),
        round(col("common").cast("double") /
          (col("dx") + col("dy") - col("common")), 6).as("jaccard"))
  }

  /** Multi-source BFS over an undirected graph given as canonical edges
    * (pa < pb, distinct): the minimum hop distance from ANY source vertex,
    * up to `maxHops`. Vertices unreachable within the bound are absent.
    *
    * Each round expands only the newest frontier (hop = round − 1) through
    * one equi-join per edge direction, then folds into the hop table with
    * a min-aggregation — so total cost is rounds × (frontier-sized probe +
    * one vertex-keyed shuffle), never |V|×|E|. Lineage truncates per round
    * via localCheckpoint (the kCore/pageRank discipline), and an empty
    * frontier stops early, so a diameter-d region costs d rounds, not
    * maxHops. At 100 TB the frontier join is an equi-join on the vertex
    * key — broadcast-able while the frontier is small, shuffle otherwise.
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    // lazy checkpoints (r16): each round's frontier-empty probe (and the
    // next round's joins) materialize the frames — eager paid an extra
    // job per round (see pageRank)
    val e = edges.select(col("pa"), col("pb")).localCheckpoint(false)
    var hops = sources.select(col("v")).distinct()
      .withColumn("hop", lit(0)).localCheckpoint(false)
    var h = 1
    var frontierEmpty = false
    while (h <= maxHops && !frontierEmpty) {
      val frontier = hops.filter(col("hop") === h - 1).select("v")
      val nbrs = e.join(frontier.withColumnRenamed("v", "pa"), Seq("pa"), "inner")
        .select(col("pb").as("v"))
        .union(e.join(frontier.withColumnRenamed("v", "pb"), Seq("pb"), "inner")
          .select(col("pa").as("v")))
        .withColumn("hop", lit(h))
      hops = hops.union(nbrs)
        .groupBy("v").agg(min("hop").as("hop")).localCheckpoint(false)
      frontierEmpty = hops.filter(col("hop") === h).isEmpty
      h += 1
    }
    hops.select(col("v"), col("hop").cast("int").as("hop"))
  }

  /** Semi-supervised label propagation with SYNCHRONOUS rounds and a
    * deterministic tie-break: seed vertices keep their label forever;
    * every round, each vertex reachable from a labeled neighbor adopts
    * the plurality label among its currently-labeled neighbors, ties
    * breaking to the SMALLEST label. Synchronous updates + the total
    * tie order make the result engine-replayable (asynchronous/random
    * LPA is not) — the same determinism discipline as pageRank's integer
    * fixed-point.
    *
    * Per round: ONE equi-join of the pre-built symmetric neighbor frame
    * against the current labels (hoisted out of the loop and hash-
    * partitioned on the join key once, the pageRank discipline — the
    * |2E| frame never reshuffles per round, only the label frame does),
    * a map-side-combined (v, label) count, a per-vertex hash-aggregate
    * argmax (max over (cnt, −label) structs — the same plurality-with-
    * smallest-label-tiebreak the sort window computed, without the
    * per-round sort exchange), and a seed-priority union; lineage
    * truncates per round. ProbeGraphScale (r15) measured the rewrite's
    * per-iteration wall at 1.7-2.6 s vs the window form's 2.9-3.4 s on
    * 13.4M symmetric edges with a 223k-degree hub, identical labels.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
                       iters: Int): DataFrame = {
    // the canonical edge list materializes ONCE (r16): the two union
    // arms below each read `edges`, so an un-truncated caller lineage
    // (a knn build) would execute twice; the count that sizes the
    // adaptive pin doubles as the materializing action
    val e0 = edges.select(col("pa"), col("pb")).localCheckpoint(false)
    val m2 = 2L * e0.count()
    // both directions of every edge, keyed on the VOTING endpoint —
    // explicit partition count so AQE coalescing cannot break the
    // per-round co-partitioning (the pageRank eDeg lesson), sized by
    // Width.forWork
    val nPart = Width.forWork(edges.sparkSession, m2.toDouble, Width.RowsPerTask)
    val nb = e0.select(col("pa").as("v"), col("pb").as("u"))
      .union(e0.select(col("pb").as("v"), col("pa").as("u")))
      .repartition(nPart, col("v")).localCheckpoint(false)
    val seed = seeds.select(col("v"), col("label").cast("int").as("label"))
      .localCheckpoint(false)
    var labels = seed
    for (_ <- 1 to iters) {
      val votes = nb.join(labels, Seq("v"))
        .select(col("u").as("v"), col("label"))
      val counts = votes.groupBy("v", "label").agg(count(lit(1)).as("cnt"))
      // plurality label, ties to the SMALLEST label: max of the
      // (cnt, −label) struct — long-widened so no label value can
      // overflow the negation
      val best = counts
        .groupBy("v")
        .agg(max(struct(col("cnt"),
          (-col("label").cast("long")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).cast("int").as("label"))
      labels = seed
        .union(best.join(seed.select("v"), Seq("v"), "left_anti"))
        .localCheckpoint(false) // lazy loop checkpoint (r16, see pageRank)
    }
    labels
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * the DIRECTED view of the undirected edge set (each edge counted in
    * both orientations, the standard Newman convention — so the pair
    * distribution is symmetric and r is well defined). Degrees are
    * integers, so the five power sums are exact DECIMAL(38,0) and the
    * correlation is one IEEE combination — the acf float discipline.
    * Positive r = hubs attach to hubs; social graphs skew positive,
    * dependency/co-occurrence graphs negative.
    *
    * Two degree joins + one reduce; by symmetry Σx = Σy and Σx² = Σy²,
    * so only three sums ship.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // lazy (r16): all consumers sit in one downstream plan — see triangles
    val e = edges.select(col("pa"), col("pb")).localCheckpoint(false)
    val deg = e.select(col("pa").as("v")).union(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val pairs = e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
      .select(col("da"), col("db"))
    pairs.agg((count(lit(1)) * 2).as("m2"),
        sum(d38(col("da") + col("db"))).as("sx"),
        sum(d38(col("da")) * d38(col("da"))
          + d38(col("db")) * d38(col("db"))).as("sxx"),
        (sum(d38(col("da")) * d38(col("db"))) * 2).as("sxy"))
      .select(col("m2").cast("long").as("n_endpoints"),
        round((col("m2") * col("sxy") - col("sx") * col("sx")).cast("double")
          / (col("m2") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("assortativity"))
  }

  /** Newman modularity of a vertex partition (e.g. the
    * [[labelPropagation]] communities): Q = Σ_c [in_c/m − (tot_c/2m)²],
    * evaluated EXACTLY as Q·4m² = Σ_c (4m·in_c − tot_c²) over integer
    * edge and degree counts, one truncating ×10⁶ division at the end
    * (positive m). Unlabeled vertices count as singleton communities
    * (in = 0, tot = their degree) — the honest penalty for an
    * incomplete labeling. One edge-keyed join per endpoint + a
    * per-community reduce; long bound 4m²·10⁶ < 2⁶³ (m < 1.5·10⁶ —
    * lift to decimal beyond).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    // lazy (r16): first consumer (verts' distinct inside withC's own
    // materialization) folds the edge materialization into a job it was
    // already running
    val e = edges.select(col("pa"), col("pb")).localCheckpoint(false)
    val lab = labels.select(col("v"), col("label").cast("long").as("c"))
    val verts = e.select(col("pa").as("v")).union(e.select(col("pb").as("v")))
      .distinct()
    val vc = verts.join(lab, Seq("v"), "left")
      .select(col("v"), coalesce(col("c"), -col("v") - 1).as("c"))
    val withC = e
      .join(vc.select(col("v").as("pa"), col("c").as("ca")), Seq("pa"))
      .join(vc.select(col("v").as("pb"), col("c").as("cb")), Seq("pb"))
      // lazy: the m count below is the materializing action (r16)
      .localCheckpoint(false) // consumers: m count, in_c, tot_c
    val m = withC.count()
    val inC = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("in_c"))
    val totC = withC.select(col("ca").as("c"))
      .union(withC.select(col("cb").as("c")))
      .groupBy("c").agg(count(lit(1)).as("tot_c"))
    totC.join(inC, Seq("c"), "left")
      .select(coalesce(col("in_c"), lit(0L)).as("in_c"), col("tot_c"))
      .agg(count(lit(1)).cast("long").as("n_communities"),
        sum(lit(4) * lit(m) * col("in_c") - col("tot_c") * col("tot_c"))
          .cast("long").as("q4m2"))
      // sign/abs split: Q can be negative, and Spark `div` truncates where
      // DuckDB `//` floors — positive-domain division keeps them equal
      .select(lit(m).as("m_edges"), col("n_communities"), col("q4m2"),
        // 4m² as a LONG literal (r16 bug fix): the un-suffixed form let
        // the SQL parser type 4·m·m as INT, whose ANSI constant folding
        // overflows once m > 23170 — invisible under the bench's
        // count() (the projection prunes away) but fatal to any full
        // materialization at sf ≥ 0.1. Same integers, wider type.
        (signum(col("q4m2")).cast("long") *
          expr(s"abs(q4m2) * 1000000 div (4 * ${m}L * ${m}L)")).cast("long")
          .as("modularity_x1e6"))
  }
}
