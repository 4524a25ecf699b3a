package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Every kNN search is a candidate generator feeding one top-k tail:
  *  - a generator joins a query side to a corpus side, each projected by
  *    [[vecSide]], and scores the pairs it produces. The generators are
  *    all pairs (brute force, hard negatives, int8 codes), a shared LSH
  *    bucket, a shared IVF cell (single or multi-probe, in-memory or
  *    persisted codebook), PQ codes, a PQ shortlist (two-stage) and the
  *    two-hop neighbourhood of NN-Descent refinement.
  *  - [[topKPerQuery]] keeps each query's k best pairs.
  * [[bruteForceKnnBlocked]] also ranks inside its own scan, then hands
  * its survivors to the same tail.
  *
  * Result contract, shared by every kNN entry point: rows
  * (q_id, n_id, cos) — (q_id, n_id, adc) for the PQ scores, which rank
  * ascending — with the score rounded to 6 places and ties broken by
  * n_id ascending.
  *  - A zero or null vector has cosine 0.0 against every vector.
  *  - NaN or ±Inf components can make the score NaN. Spark's double
  *    order puts NaN above every number, so a NaN cosine ranks first and
  *    a NaN ADC distance last.
  *  - A null id never pairs: the self-pair filter `q_id != n_id` (or
  *    the id equi-join) is null for it. The exception is
  *    [[hardNegativeKnn]], whose only predicate is the label mismatch.
  *
  * All dot products run in double precision with a sequential fold
  * (deterministic, engine-reproducible).
  */
object Similarity {

  /** Deterministic index-order dot product of two float vectors — a custom
    * codegen'd kernel (graft.functions.FloatDotProduct); bit-identical to
    * the sequential fold `aggregate(zip_with(a, b, _*_), 0.0, _+_)`.
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayKernels.floatDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** One side of a kNN candidate join: `<prefix>_id`, `<prefix>_vec` and
    * the hoisted `<prefix>_norm`, plus the `extra` columns the generator
    * joins on (cell, label, bucket).
    */
  private[ops] def vecSide(df: DataFrame, prefix: String, idCol: String,
                           vecCol: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(s"${prefix}_id"), col(vecCol).as(s"${prefix}_vec"),
      l2Norm(col(vecCol)).as(s"${prefix}_norm")) ++ extra: _*)

  /** Cosine with both norms hoisted to the join inputs ([[vecSide]]'s
    * `q_norm`/`n_norm`): per pair only `pairDot` is evaluated; each side's
    * norm is computed once per row before the join (bit-identical result —
    * same IEEE ops, same order).
    */
  private def cosineHoisted(pairDot: Column): Column = {
    val den = col("q_norm") * col("n_norm")
    // zero-norm guard: cosine against the zero vector is undefined — rank
    // it last (0.0) instead of failing the whole scan under ANSI mode; a
    // null norm (null vector) makes the test null and takes 0.0 as well
    when(den =!= 0.0, pairDot / den).otherwise(0.0)
  }

  /** The contract score of a candidate pair: hoisted cosine, rounded to 6. */
  private def cos6(pairDot: Column = dot(col("q_vec"), col("n_vec"))): Column =
    round(cosineHoisted(pairDot), 6).as("cos")

  /** The one top-k tail: project (q_id, n_id, score) from a candidate pair
    * frame and keep each query's k best — highest score first (lowest when
    * `ascending`, for distances), then n_id ascending.
    */
  private[ops] def topKPerQuery(pairs: DataFrame, k: Int, score: Column,
                                ascending: Boolean = false): DataFrame = {
    val scored = pairs.select(col("q_id"), col("n_id"), score)
    val s = col(scored.columns(2))
    val w = Window.partitionBy("q_id")
      .orderBy(if (ascending) s.asc else s.desc, col("n_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Queries are expected small (they are broadcast); the corpus side
    * streams through one scan + a per-query-partition top-k window.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(vecSide(queries, "q", idCol, vecCol))
    val c = vecSide(Width.spread(corpus, col(idCol)), "n", idCol, vecCol)
    topKPerQuery(q.join(c, col("q_id") =!= col("n_id")), k, cos6())
  }

  /** BLOCKED brute-force kNN (r17, VERDICT r16 #3): row-identical to
    * [[bruteForceKnn]] on every input, with the O(|corpus|·|queries|)
    * scoring run as a tight JVM loop over a broadcast query block instead
    * of a Catalyst broadcast-nested-loop join feeding a pair-scale window.
    * Needs `long` ids and `array<float>` vectors on both sides; any other
    * schema runs [[bruteForceKnn]] itself. Each corpus task keeps one
    * bounded top-k buffer PER QUERY ordered by the final total order
    * (cos6 desc, n_id asc), so only partitions×|queries|×k candidate
    * rows ever reach the (shared) top-k tail — the map-side group-limit
    * the expression form cannot do.
    *
    * Bit-identity argument, piece by piece:
    *  - dot: index-order `((double) a(i)) * ((double) b(i))` fold — the
    *    FloatDotProduct codegen loop verbatim.
    *  - norms: `sqrt(dot(v, v))` per row, hoisted — as in cosineHoisted.
    *  - zero-norm guard: `if (den != 0) dot/den else 0.0` — same; a null
    *    vector takes the 0.0 branch, as its null norm does there.
    *  - round: Spark's Round(double, 6) is
    *    `BigDecimal(d).setScale(6, HALF_UP).toDouble` over the decimal
    *    text form, NaN/±Inf passed through — replicated verbatim.
    *  - order: Spark's double order (`SQLOrderingUtil.compareDoubles`):
    *    NaN above every number and equal to itself, -0.0 == 0.0.
    *  - a null id skips the row, as the null `q_id != n_id` test does.
    *  - per-partition top-k under a TOTAL order, unioned, re-ranked by
    *    the same order = global top-k exactly (any global winner is a
    *    partition winner). Ranks within k are preserved because the
    *    comparator is identical and total (n_id unique).
    * AdviceRegressionSpec holds blocked ≡ expression on duplicate,
    * zero-norm, NaN, ±Inf, null-vector and null-id rows. The queries frame
    * collects to the driver — the same rows bruteForceKnn ships as a
    * broadcast relation, so the size contract is unchanged.
    */
  def bruteForceKnnBlocked(corpus: DataFrame, queries: DataFrame, k: Int,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    def blockedOk(df: DataFrame): Boolean =
      df.schema(idCol).dataType == LongType && (df.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    if (blockedOk(corpus) && blockedOk(queries))
      blockedTopK(corpus, queries, k, idCol, vecCol)
    else bruteForceKnn(corpus, queries, k, idCol, vecCol)
  }

  /** The kernel behind [[bruteForceKnnBlocked]], for long ids and
    * float-array vectors.
    */
  private def blockedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def normD(v: Array[Float]): Double = if (v == null) 0.0 else math.sqrt(dotD(v, v))
    def round6(x: Double): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else scala.math.BigDecimal(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val qRows = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .collect().filterNot(_.isNullAt(0))
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
    val qNorms = qVecs.map(normD)
    val bc = spark.sparkContext.broadcast((qIds, qVecs, qNorms))
    val part = Width.spread(corpus, col(idCol))
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .as[(java.lang.Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, vecs, norms) = bc.value
        val nq = ids.length
        // per-query sorted top-k buffers: arrays of (cos, id), kept in
        // (cos desc, id asc) order — k is small (3-10), insertion wins
        val bufC = Array.fill(nq)(new Array[Double](k))
        val bufI = Array.fill(nq)(new Array[Long](k))
        val bufN = new Array[Int](nq)
        // candidate (c, id) is strictly better than slot (bc, bi) under
        // Spark's double order?
        def beats(c: Double, id: Long, bc0: Double, bi: Long): Boolean = {
          val o = if (c == bc0) 0 else java.lang.Double.compare(c, bc0)
          o > 0 || (o == 0 && id < bi)
        }
        // a null corpus id never pairs
        for ((boxedId, nVec) <- it if boxedId != null) {
          val nId = boxedId.longValue
          val nNorm = normD(nVec)
          var qi = 0
          while (qi < nq) {
            if (ids(qi) != nId) {
              val qVec = vecs(qi)
              val den = if (qVec == null || nVec == null) 0.0 else norms(qi) * nNorm
              val raw = if (den != 0.0) dotD(qVec, nVec) / den else 0.0
              val n0 = bufN(qi)
              val cs = bufC(qi); val is0 = bufI(qi)
              // Rounding is the per-pair cost ceiling (decimal-string
              // BigDecimal, ~100x the 64-wide dot product) — and the
              // expression path pays it for EVERY pair. Here it is
              // skipped whenever the RAW cosine provably cannot reach
              // the k-th slot: round6 moves a value by < 1e-6 (5e-7
              // half-step + representation slack), so
              // raw < kth − 1e-6 ⇒ cos6 < kth ⇒ cannot beat or tie the
              // k-th entry. A NaN raw is never skipped (it ranks first).
              // Once the buffer warms up (first k corpus rows per
              // query) almost every pair takes this branch, leaving the
              // dot product as the true per-pair cost.
              if (n0 < k || !(raw < cs(k - 1) - 1e-6)) {
                val cos = round6(raw)
                if (n0 < k || beats(cos, nId, cs(n0 - 1), is0(n0 - 1))) {
                  // insertion sort from the tail
                  var j = math.min(n0, k - 1)
                  while (j > 0 && beats(cos, nId, cs(j - 1), is0(j - 1))) {
                    cs(j) = cs(j - 1); is0(j) = is0(j - 1); j -= 1
                  }
                  cs(j) = cos; is0(j) = nId
                  if (n0 < k) bufN(qi) = n0 + 1
                }
              }
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          (0 until bufN(qi)).iterator.map(j =>
            (ids(qi), bufI(qi)(j), bufC(qi)(j)))
        }
      }.toDF("q_id", "n_id", "cos")
    topKPerQuery(part, k, col("cos"))
  }

  /** Hard-negative mining for contrastive training data: each query's
    * top-k most similar vectors with a DIFFERENT label — the highest-
    * value negatives are the ones the embedding currently confuses.
    * Same scan shape as bruteForceKnn (queries broadcast, corpus spread
    * across the shuffle width, map-side group-limited top-k); the label
    * mismatch is the join predicate, so same-label vectors never leave
    * the scan.
    */
  def hardNegativeKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                      labelCol: String = "label", idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(vecSide(queries, "q", idCol, vecCol, col(labelCol).as("q_label")))
    val c = vecSide(Width.spread(corpus, col(idCol)), "n", idCol, vecCol,
      col(labelCol).as("n_label"))
    topKPerQuery(q.join(c, col("q_label") =!= col("n_label")), k, cos6())
  }

  /** The seeded random hyperplanes backing lshBucket — exposed so the
    * DuckDB oracle can embed the identical planes as double literals
    * (Double.toString round-trips bit-exactly through any correctly
    * rounded decimal parser).
    */
  def hyperplanes(dim: Int, planes: Int): Seq[Array[Float]] =
    (0 until planes).map { p =>
      val rnd = new scala.util.Random(0x5EEDL * (p + 1))
      Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    }

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into a
    * long. Hyperplanes are plan-time literal arrays (seeded, deterministic
    * across runs and engines), so each sign bit is one fused
    * FloatDotProduct against a constant — not a dim×planes interpreted
    * expression tree.
    */
  def lshBucket(vec: Column, dim: Int, planes: Int = 8): Column = {
    val bits = hyperplanes(dim, planes).zipWithIndex.map { case (plane, p) =>
      val proj = graft.functions.ArrayKernels.floatDot(vec, typedLit(plane))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: score only pairs sharing an LSH bucket.
    * One shuffle on the bucket key; within-bucket scoring is quadratic but
    * bounded by bucket occupancy (2^planes buckets).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             planes: Int = 8, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    def side(df: DataFrame, prefix: String) = vecSide(df, prefix, idCol, vecCol,
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    val pairs = side(queries, "q").join(side(corpus, "n"), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
    topKPerQuery(pairs, k, cos6())
  }

  /** One (cos, -id) struct per centroid — the shared scoring step behind
    * both assignment forms. Struct ordering then gives the deterministic
    * argmax contract: max/descending = (cos DESC, -id DESC) =
    * (cos DESC, id ASC).
    */
  private def centroidEntries(vec: Column,
                              centroids: Seq[Array[Float]]): Seq[Column] =
    centroids.zipWithIndex.map { case (cvec, i) =>
      var cn = 0.0
      var j = 0
      while (j < cvec.length) { cn += cvec(j).toDouble * cvec(j).toDouble; j += 1 }
      val ccos = graft.functions.ArrayKernels.floatDot(vec, typedLit(cvec)) /
        (l2Norm(vec) * lit(math.sqrt(cn)))
      struct(ccos.as("c"), lit(-i).as("negid"))
    }

  /** Assign each vector to its nearest centroid by cosine (ties broken
    * by the lowest centroid index). The codebook is a plan-time literal
    * (collected once — IVF codebooks are tiny relative to the corpus),
    * so assignment is a narrow codegen'd projection: `|codebook|` fused
    * dot products per row, no join, no shuffle.
    */
  def ivfAssignCell(vec: Column, centroids: Seq[Array[Float]]): Column =
    // array_max keeps the hot corpus-assignment path O(k) per row (the
    // nProbe>1 form below pays a k log k sort instead)
    array_max(array(centroidEntries(vec, centroids): _*)).getField("negid") * -1

  /** The query's `nProbe` nearest cells by centroid cosine, best first —
    * multi-probe IVF's query-side assignment. Same argmax contract as
    * [[ivfAssignCell]] (cos DESC, then lowest centroid index): sorting
    * the (cos, -id) structs descending orders ties by -id descending =
    * id ascending. Still a narrow literal-codebook projection.
    */
  def ivfAssignCells(vec: Column, centroids: Seq[Array[Float]],
                     nProbe: Int): Column =
    transform(
      slice(sort_array(array(centroidEntries(vec, centroids): _*),
        asc = false), 1, nProbe),
      s => s.getField("negid") * -1)

  /** Multi-probe IVF search: the corpus lives in exactly one cell, each
    * query fans out to its `nProbe` nearest cells — the standard
    * recall-vs-cost knob (nProbe=1 searches only the query's own cell;
    * nProbe=|cells| degenerates to brute force). The fan-out multiplies
    * the QUERY side only — queries are the small side by construction —
    * and a (q, n) pair can meet at most once because each corpus vector
    * owns one cell, so no dedup step is needed before the top-k window.
    */
  def ivfMultiProbeKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                       centroids: Seq[Array[Float]], nProbe: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val q = vecSide(queries, "q", idCol, vecCol,
      explode(ivfAssignCells(col(vecCol), centroids, nProbe)).as("cell"))
    val c = vecSide(corpus, "n", idCol, vecCol,
      ivfAssignCell(col(vecCol), centroids).as("cell"))
    cellTopK(q, c, k)
  }

  /** The shared cell-join generator: every (query, same-cell corpus
    * vector) pair of two [[vecSide]] frames carrying a `cell` column,
    * into the top-k tail.
    */
  private[ops] def cellTopK(q: DataFrame, c: DataFrame, k: Int): DataFrame =
    topKPerQuery(q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id")), k, cos6())

  /** One NN-Descent refinement round (Dong, Moses & Li 2011, the
    * neighbor-of-my-neighbor principle) over a DIRECTED kNN frame
    * ((q_id, n_id, cos)): candidates = the current edges plus every
    * two-hop neighbor through the UNDIRECTED base graph (NN-Descent's
    * reverse-edge trick — a vector is a candidate for the points it is
    * near, not just the points near it), rescored exactly and cut back
    * to top-k. Recall climbs toward the true graph with each round at
    * LINEAR cost: the undirected frame has 2nk edges, the two-hop join
    * fans out to ≤4nk² candidate rows — never a function of corpus²,
    * unlike lowering the cell count or raising nProbe past the probed
    * fraction. The input graph must CROSS its partition boundaries for
    * refinement to find anything: two-hop expansion stays inside a
    * connected component, so a cell-confined nProbe=1 IVF graph (each
    * component ⊆ one cell, already the within-cell exact top-k) refines
    * to itself — start from nProbe ≥ 2 (see [[Graph.knnGraphRefined]]).
    */
  def knnRefine(knn: DataFrame, vectors: DataFrame, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val e = knn.select(col("q_id"), col("n_id"))
    // three consumers (both join sides + the union arm): checkpoint the
    // undirected frame so the upstream kNN build runs once
    val und = e.union(e.select(col("n_id").as("q_id"), col("q_id").as("n_id")))
      .localCheckpoint(false)
    val hop = und.as("a").join(und.as("b"), col("a.n_id") === col("b.q_id"))
      .select(col("a.q_id").as("q_id"), col("b.n_id").as("n_id"))
    val cand = hop.union(und).filter(col("q_id") =!= col("n_id")).distinct()
    val pairs = cand.join(vecSide(vectors, "q", idCol, vecCol), "q_id")
      .join(vecSide(vectors, "n", idCol, vecCol), "n_id")
    topKPerQuery(pairs, k, cos6())
  }

  /** Multi-probe search against a PERSISTED index: the corpus side reads
    * its precomputed cells from the current snapshot (no assignment pass
    * at query time — [[ivfKnnFromIndex]]'s contract), only the QUERY
    * side fans out to its `nProbe` nearest cells through the loaded
    * codebook. A (q, n) pair still meets at most once (each corpus
    * vector owns one cell), so no dedup precedes the top-k window.
    */
  def ivfMultiProbeKnnFromIndex(spark: org.apache.spark.sql.SparkSession,
                                path: String, queries: DataFrame, k: Int,
                                nProbe: Int, idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val codebook = readIvfCodebook(spark, path)
    val corpus = spark.read.parquet(ivfCellsPath(spark, path))
    val q = vecSide(queries, "q", idCol, vecCol,
      explode(ivfAssignCells(col(vecCol), codebook, nProbe)).as("cell"))
    cellTopK(q, vecSide(corpus, "n", idCol, vecCol, col("cell")), k)
  }

  /** Fixed-point scale for kmeansCodebook's centroid means: 2^20, a
    * power of two so `x.toDouble * Scale` is EXACT for any float x (the
    * multiply only shifts the exponent), and `+ 0.5` stays exact for
    * |x| < 2^31 — the quantization is therefore bit-identical in any
    * engine that evaluates the same expression.
    */
  val KmeansScale: Long = 1048576L

  /** Lloyd's k-means over an embedding column, producing the IVF
    * codebook. Each iteration is one distributed pass: assignment is the
    * narrow literal-codebook projection (ivfAssignCell), the update is a
    * per-(cell, dimension) mean — only k×dim aggregates ever reach the
    * driver, so the corpus scales freely while the codebook stays tiny.
    *
    * Engine-reproducible by construction (the integer-PageRank recipe):
    * a floating `avg` sums in partition order and drifts, so the mean
    * runs in fixed-point integers instead — each coordinate quantizes to
    * `floor(x·2^20 + 0.5)` (exact double ops, see [[KmeansScale]]), the
    * per-cell sum is exact long arithmetic (order-independent), the mean
    * is one truncating `div` on offset-nonnegative values (so floor and
    * truncation agree across engines), and the centroid re-enters float
    * via one deterministic round-to-nearest. Assignment is the cosine
    * argmax of ivfAssignCell — a per-row double chain with a fixed op
    * order, the contract every knn oracle already replays. Seeded by the
    * first k vectors in `idCol` order; ties break by centroid index; an
    * empty cell keeps its centroid. A DuckDB oracle can replay whole
    * iterations bit-for-bit (see knn_cosine_ivf_kmeans).
    */
  def kmeansCodebook(df: DataFrame, k: Int, iters: Int, dim: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Seq[Array[Float]] = {
    val off = KmeansScale // offset keeps sums nonnegative for |x| <= 1
    var centroids: Seq[Array[Float]] = df.orderBy(idCol).limit(k)
      .select(vecCol).collect().map(_.getSeq[Float](0).toArray).toSeq
    val scaled = df.select(
      col(vecCol).as("v"),
      transform(col(vecCol),
        x => floor(x.cast("double") * KmeansScale + 0.5) + off).as("s_off"))
    for (_ <- 0 until iters) {
      val assigned = scaled.select(col("s_off"),
        ivfAssignCell(col("v"), centroids).as("cell"))
      val sums = assigned
        .select(col("cell"), posexplode(col("s_off")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(sum("x").as("sm"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"), (expr("sm div n") - off).as("cm"))
        .collect() // k×dim rows — the legit codebook-size driver traffic
      val next = centroids.zipWithIndex.map { case (old, c) =>
        val dims = sums.filter(_.getInt(0) == c)
        if (dims.isEmpty) old // empty cell keeps its centroid
        else {
          val arr = old.clone()
          dims.foreach(r =>
            arr(r.getInt(1)) = (r.getLong(2).toDouble / KmeansScale).toFloat)
          arr
        }
      }
      centroids = next
    }
    centroids
  }

  /** SemDeDup-style semantic deduplication: assign every vector to its
    * trained k-means cell, then within each cell drop any vector whose
    * cosine to a LOWER-id vector in the same cell reaches `tau` — the
    * embedding-space analogue of exact dedup's keep-first rule, on
    * clusters the codebook LEARNED rather than a pre-labelled block.
    * A threshold pair (x, y), x < y, always drops y (whether or not x
    * itself is dropped by an even earlier partner), so the kept set is
    * exactly {v : no earlier same-cell vector within tau} — order-free,
    * fully parallel, engine-replayable.
    *
    * Scale shape: assignment is ivfAssignCell's narrow literal-codebook
    * projection (no shuffle); the within-cell pair scan reuses the
    * all-pairs grid of dedup_embedding_cosine — each cell splits into G
    * id-sub-blocks and pairs meet in the (i <= j) cell grid, so k cells
    * become k·G·(G+1)/2 balanced shuffle keys and neither side needs to
    * fit in memory. Returns the KEPT rows as (vec_id, cell).
    */
  def semanticDedup(df: DataFrame, centroids: Seq[Array[Float]], tau: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    g: Int = 8): DataFrame = {
    val e = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
      l2Norm(col(vecCol)).as("nrm"),
      ivfAssignCell(col(vecCol), centroids).as("cell"))
    val drops = Grid.allPairs(e, "vec_id", g, keyCols = Seq("cell"))
      // dot and the norm product are IEEE-commutative, so the unordered
      // grid orientation cannot change a bit of the score
      .filter(round(dot(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm")), 6) >= tau)
      .select(greatest(col("a.vec_id"), col("b.vec_id")).as("vec_id"))
      .distinct()
    e.join(drops, Seq("vec_id"), "left_anti").select("vec_id", "cell")
  }

  /** Incremental semantic filter: drop INCOMING vectors within cosine
    * `tau` of any BASE vector in the same trained cell — the
    * embedding-space member of the incremental-dedup family
    * (incrementalDedup = exact digests, incrementalMinhash = shingle
    * LSH, this = SemDeDup's criterion across a base/incoming split).
    * The base is assigned once and never pairs with itself; train the
    * codebook on the base (the kept corpus) so cell geometry doesn't
    * drift with each arriving batch.
    *
    * Scale shape: both assignments are narrow literal-codebook
    * projections. The probe join's natural key is the cell id alone —
    * at most k shuffle keys carrying all pair work, the same trap as
    * the label-blocked cosine join — so the base side sub-blocks by id
    * and the incoming side fans out over the G sub-blocks: k·G balanced
    * keys, fan-out G on the (small) incoming batch, never on the
    * corpus. Returns surviving incoming rows as (vec_id, cell).
    */
  def semanticFilter(base: DataFrame, incoming: DataFrame,
                     centroids: Seq[Array[Float]], tau: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     g: Int = 8): DataFrame = {
    def prep(df: DataFrame) = df.select(col(idCol).as("vec_id"),
      col(vecCol).as("embedding"), l2Norm(col(vecCol)).as("nrm"),
      ivfAssignCell(col(vecCol), centroids).as("cell"))
    val b = prep(base).withColumn("sb", pmod(col("vec_id"), lit(g)).cast("int"))
    val i = prep(incoming)
      .withColumn("sb", explode(sequence(lit(0), lit(g - 1))))
    val drops = i.as("i").hint("shuffle_hash")
      .join(b.as("b").hint("shuffle_hash"),
        col("i.cell") === col("b.cell") && col("i.sb") === col("b.sb"))
      .filter(round(dot(col("i.embedding"), col("b.embedding")) /
        (col("i.nrm") * col("b.nrm")), 6) >= tau)
      .select(col("i.vec_id").as("vec_id"))
      .distinct()
    prep(incoming).join(drops, Seq("vec_id"), "left_anti")
      .select("vec_id", "cell")
  }

  /** Int8 scalar quantization: per-vector symmetric scale (max |x|),
    * codes = round(x / scale * 127). At rest the corpus shrinks 4× vs
    * float32 (the standard first rung of the memory/recall ladder, below
    * PQ's 16-32×); similarity is computed on the integer codes — the
    * inner loop is exact integer arithmetic, so scores are deterministic
    * on any engine (one final IEEE division per pair).
    *
    * Both stages are staged projections: the scale is consumed by every
    * lane of the code transform and the code array by the self-dot, so
    * inlining them would re-evaluate an O(dim) expression per lane
    * (the same CollapseProject trap as the PQ distance arrays).
    */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String,
                prefix: String): DataFrame = {
    val scaled = df.select(col(idCol).as(s"${prefix}_id"), col(vecCol).as("v"))
      .withColumn("scale_raw", array_max(transform(col("v"), x => abs(x.cast("double")))))
      .withColumn("scale", when(col("scale_raw") === 0.0, 1.0).otherwise(col("scale_raw")))
      .select(col(s"${prefix}_id"),
        transform(col("v"), x => round(x.cast("double") / col("scale") * 127.0)
          .cast("long")).as(s"${prefix}_code"))
    scaled.select(col(s"${prefix}_id"), col(s"${prefix}_code"),
      sqrt(aggregate(col(s"${prefix}_code"), lit(0L), (acc, x) => acc + x * x)
        .cast("double")).as(s"${prefix}_norm"))
  }

  /** Approximate top-k cosine over int8-quantized vectors. Shape is the
    * brute-force scan (queries broadcast, corpus scanned once) but each
    * pair costs an integer dot product over the 4×-smaller codes; at
    * scale the encoded corpus is what you'd persist and re-rank from.
    */
  def sq8Knn(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(sq8Encode(queries, idCol, vecCol, "q"))
    val c = sq8Encode(Width.spread(corpus, col(idCol)), idCol, vecCol, "n")
    val intDot = aggregate(
      zip_with(col("q_code"), col("n_code"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    topKPerQuery(q.join(c, col("q_id") =!= col("n_id")), k, cos6(intDot.cast("double")))
  }

  /** Seeded product-quantization codebooks: `m` subspaces of `dim/m`
    * dimensions, `k` centroids each — plan-time literals, deterministic
    * across runs and engines (same contract as `hyperplanes`). Callers
    * wanting trained codebooks run `kmeansCodebook` per subspace offline
    * and pass the result through the same shape.
    */
  def pqCodebooks(dim: Int, m: Int, k: Int): Seq[Seq[Array[Float]]] = {
    val sub = dim / m
    (0 until m).map { j =>
      (0 until k).map { c =>
        val rnd = new scala.util.Random(0x9E3779B9L * (j * k + c + 1))
        Array.fill(sub)(rnd.nextFloat() * 2f - 1f)
      }
    }
  }

  /** Squared L2 distance between `vec[offset+1 .. offset+len]` (1-based
    * SQL indexing) and a literal centroid — the fused FloatL2SubDist
    * kernel, whose index-order accumulation from +0.0 is the exact IEEE
    * op sequence of the DuckDB oracle's left-associated
    * `list_sum(list_transform(...))` chain, so distances (and therefore
    * PQ codes and ADC ranks) agree bit-for-bit. (The composed unrolled
    * chain it replaces is equivalence-tested in ArrayKernelsSpec.)
    */
  private def pqSubDist(vec: Column, offset: Int, centroid: Array[Float]): Column =
    graft.functions.ArrayKernels.floatL2SubDist(vec, offset, centroid.map(_.toDouble))

  /** The composed built-in form of pqSubDist (semantic reference / kernel
    * cross-check; not used in the hot path).
    */
  def pqSubDistComposed(vec: Column, offset: Int, centroid: Array[Float]): Column =
    (1 to centroid.length).map { i =>
      val d = element_at(vec, offset + i).cast("double") - lit(centroid(i - 1).toDouble)
      d * d
    }.reduceLeft(_ + _)

  /** Per-subspace centroid distances as an array column (the query-side
    * ADC distance table; argmin of it is the corpus-side code).
    */
  private def pqDistArray(vec: Column, j: Int, codebooks: Seq[Seq[Array[Float]]]): Column = {
    val sub = codebooks(j).head.length
    array(codebooks(j).map(c => pqSubDist(vec, j * sub, c)): _*)
  }

  /** The PQ-encoded corpus side: `n_id`, the `extra` columns, and one
    * 1-based argmin code `c<j>` per subspace (first-match tie-break:
    * identical to DuckDB list_position(l, list_min(l))). The distance
    * arrays are staged in their own projection: argmin consumes each
    * array twice (position + min), and CollapseProject would otherwise
    * re-inline the full literal distance chain per consumer, doubling the
    * tree.
    */
  private def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                       codebooks: Seq[Seq[Array[Float]]], extra: Column*): DataFrame = {
    val staged = corpus.select(Seq(col(idCol).as("n_id")) ++ extra ++
      codebooks.indices.map(j => pqDistArray(col(vecCol), j, codebooks).as(s"d$j")): _*)
    staged.select(staged.columns.take(1 + extra.size).map(col).toSeq ++
      codebooks.indices.map { j =>
        array_position(col(s"d$j"), array_min(col(s"d$j"))).cast("int").as(s"c$j")
      }: _*)
  }

  /** The broadcast query side of ADC: `q_id`, the `extra` columns, and
    * one distance table `dt<j>` per subspace.
    */
  private def pqTables(queries: DataFrame, idCol: String, vecCol: String,
                       codebooks: Seq[Seq[Array[Float]]], extra: Column*): DataFrame =
    broadcast(queries.select(Seq(col(idCol).as("q_id")) ++ extra ++
      codebooks.indices.map(j => pqDistArray(col(vecCol), j, codebooks).as(s"dt$j")): _*))

  /** A candidate's ADC distance: its m table lookups, summed. */
  private def adcScore(m: Int): Column =
    round((0 until m).map(j => element_at(col(s"dt$j"), col(s"c$j"))).reduceLeft(_ + _),
      6).as("adc")

  /** Product-quantization ADC top-k: corpus vectors are encoded to one
    * centroid index per subspace (a narrow argmin projection — at rest
    * this is the m-byte-per-vector representation, 16-32x smaller than
    * the raw floats); each query precomputes an m×k distance table; a
    * candidate's approximate distance is m table lookups instead of a
    * dim-length dot product. The scale path when even one full-precision
    * scan per query batch is too expensive — compose with ivfKnn cells to
    * also cut the scanned fraction. Exact-checkable: codebooks are seeded
    * literals and every distance is a deterministic double chain.
    */
  def pqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
            codebooks: Seq[Seq[Array[Float]]], idCol: String = "vec_id",
            vecCol: String = "embedding"): DataFrame = {
    val c = pqEncode(Width.spread(corpus, col(idCol)), idCol, vecCol, codebooks)
    val q = pqTables(queries, idCol, vecCol, codebooks)
    topKPerQuery(q.join(c, col("q_id") =!= col("n_id")), k,
      adcScore(codebooks.length), ascending = true)
  }

  /** Two-stage retrieval: a cheap compressed-domain shortlist (PQ ADC,
    * `kShortlist` candidates per query) re-ranked by EXACT cosine to the
    * final `kFinal` — the architecture every production retrieval system
    * converges on (FAISS/ScaNN-style): the approximate stage bounds how
    * many full-precision vectors are ever touched, the exact stage
    * restores ranking quality on that bounded set.
    *
    * Scale shape: stage 1 is pqKnn's broadcast scan (corpus scanned once
    * in the compressed domain, map-side group-limited top-kShortlist).
    * Stage 2 never re-scores the corpus: the shortlist (|queries| ×
    * kShortlist rows) is BROADCAST against the corpus scan, so the
    * re-rank fetch is one more narrow corpus pass with no shuffle; the
    * final top-k window partitions on q_id like every other knn.
    */
  def twoStageKnn(corpus: DataFrame, queries: DataFrame, kFinal: Int,
                  kShortlist: Int, codebooks: Seq[Seq[Array[Float]]],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val shortlist = pqKnn(corpus, queries, kShortlist, codebooks, idCol, vecCol)
      .select("q_id", "n_id")
    val qv = broadcast(vecSide(queries, "q", idCol, vecCol))
    val cv = vecSide(Width.spread(corpus, col(idCol)), "n", idCol, vecCol)
    topKPerQuery(cv.join(broadcast(shortlist), Seq("n_id")).join(qv, Seq("q_id")),
      kFinal, cos6())
  }

  /** Per-group centroid of an embedding column, in long format
    * (group, dimension index, mean) — the vector-aggregation building
    * block behind k-means assignment stats, per-cluster quality metrics,
    * and IVF cell refreshes.
    *
    * Scale shape: the posexplode looks like a ×dim row blow-up, but the
    * partial (map-side) average collapses each partition to
    * n_groups × dim rows before the exchange — the shuffle carries group
    * summaries, never the corpus.
    */
  def labelCentroids(df: DataFrame, labelCol: String,
                     vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos0", "x")))
      .groupBy(col(labelCol), (col("pos0") + 1).cast("int").as("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"),
        count(lit(1)).as("n_vecs"))

  /** Full IVF-PQ composition: candidates are restricted to the query's
    * coarse cell (IVF) AND scored in the compressed domain (PQ ADC) — the
    * index layout every production-scale ANN system converges on. The
    * cell equi-join cuts the scanned fraction to ~1/n_cells; the ADC
    * lookup cuts per-candidate cost from a dim-length dot product to m
    * array reads. Both reductions compose multiplicatively, which is what
    * makes a 100 TB corpus searchable per query batch.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               codebooks: Seq[Seq[Array[Float]]], cellCol: String,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = pqEncode(corpus, idCol, vecCol, codebooks, col(cellCol).as("cell"))
    val q = pqTables(queries, idCol, vecCol, codebooks, col(cellCol).as("cell"))
    topKPerQuery(q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id")), k,
      adcScore(codebooks.length), ascending = true)
  }

  /** IVF-style coarse quantization using an existing label/centroid
    * assignment column: restrict search to the query's cell (plus
    * neighboring cells at higher recall settings).
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             cellCol: String, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    cellTopK(vecSide(queries, "q", idCol, vecCol, col(cellCol).as("cell")),
      vecSide(corpus, "n", idCol, vecCol, col(cellCol).as("cell")), k)
  }

  /** PERSISTED IVF index: the trained codebook (`codebook.parquet`,
    * k×dim rows) and the per-vector cell assignments + vectors written
    * as a parquet layout — the index build is paid once and amortized
    * across query batches instead of recomputed per run. Floats
    * round-trip parquet losslessly, so a search against the loaded index
    * is bit-identical to one against the in-memory codebook it was
    * built from.
    *
    * CELLS LAYOUT — versioned directories + manifest markers (the
    * snapshot scheme every table format uses so readers never observe a
    * half-swapped state):
    *
    *   path/codebook.parquet        frozen k×dim centroids
    *   path/cells-v<N>.parquet      cell rows; N = 0, 1, 2, …
    *   path/manifest-<N>            empty marker; CURRENT version = max N
    *
    * Readers ([[ivfKnnFromIndex]]) resolve max-manifest → read that one
    * complete, immutable-once-superseded directory. [[ivfIndexCompact]]
    * fully commits `cells-v(N+1)` BEFORE creating `manifest-(N+1)`, and
    * RETAINS `cells-vN` until the next compaction, so a search that
    * resolved version N keeps a readable snapshot through the entire
    * following inter-compaction period — no FileNotFound race, no
    * "index briefly absent" window. Every crash point is recoverable
    * from the markers alone: an orphan `cells-v(N+1)` without its
    * manifest is uncommitted (GC'd on the next maintenance entry), two
    * manifests resolve to the newer, and re-running the failed
    * operation completes it. Writes assume ONE maintenance writer at a
    * time (the same discipline as any LSM/lakehouse compactor); reads
    * need no coordination at all.
    */
  def writeIvfIndex(corpus: DataFrame, path: String, k: Int, iters: Int,
                    dim: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    mode: String = "overwrite"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val codebook = kmeansCodebook(corpus, k, iters, dim, idCol, vecCol)
    codebook.zipWithIndex.map { case (cv, cid) => (cid, cv.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1) // k×dim — one footer, not one file per cell
      .write.mode(mode).parquet(s"$path/codebook.parquet")
    val fs = hadoopFs(spark, path)
    if (mode == "overwrite") wipeCellsLayout(fs, path)
    corpus.select(col(idCol), col(vecCol))
      .withColumn("cell", ivfAssignCell(col(vecCol), codebook))
      .write.mode(mode).parquet(cellsDir(path, 0))
    createManifest(fs, path, 0)
  }

  // ----- versioned-cells plumbing -----

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
                       path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def cellsDir(path: String, v: Int): String =
    s"$path/cells-v$v.parquet"

  private val ManifestRe = "manifest-(\\d+)".r
  private val CellsRe = "cells-v(\\d+)\\.parquet".r

  /** CURRENT version = the highest committed manifest marker. */
  private def currentVersion(fs: org.apache.hadoop.fs.FileSystem,
                             path: String): Option[Int] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) None
    else fs.listStatus(root).map(_.getPath.getName).collect {
      case ManifestRe(n) => n.toInt
    }.maxOption
  }

  private def createManifest(fs: org.apache.hadoop.fs.FileSystem,
                             path: String, v: Int): Unit = {
    val m = new org.apache.hadoop.fs.Path(s"$path/manifest-$v")
    if (!fs.exists(m)) fs.create(m, false).close()
  }

  private def wipeCellsLayout(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root)) fs.listStatus(root).map(_.getPath).foreach { p =>
      p.getName match {
        case ManifestRe(_) | CellsRe(_) | "cells.parquet" =>
          fs.delete(p, true); ()
        case _ => ()
      }
    }
  }

  /** Entry hook for every maintenance WRITE: adopt a pre-versioned
    * layout (plain `cells.parquet` becomes version 0), then sweep what
    * the markers prove dead — orphan cells dirs NEWER than the current
    * manifest (a crashed compaction's uncommitted output), manifests
    * older than current (a crash between marker create and marker
    * delete), and cells dirs older than `cur − 1` (the one prior
    * version is RETAINED deliberately as the readers' grace snapshot;
    * [[ivfIndexCompact]] retires it). Returns the current version.
    */
  private def ensureVersioned(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Int = {
    val legacy = new org.apache.hadoop.fs.Path(s"$path/cells.parquet")
    if (currentVersion(fs, path).isEmpty && fs.exists(legacy)) {
      if (!fs.rename(legacy, new org.apache.hadoop.fs.Path(cellsDir(path, 0))))
        sys.error(s"IVF index: cannot adopt legacy layout at $path")
      createManifest(fs, path, 0)
    }
    val cur = currentVersion(fs, path).getOrElse(
      sys.error(s"IVF index: no committed cells manifest under $path"))
    val root = new org.apache.hadoop.fs.Path(path)
    fs.listStatus(root).map(_.getPath).foreach { p =>
      p.getName match {
        case ManifestRe(n) if n.toInt < cur => fs.delete(p, false); ()
        case CellsRe(n) if n.toInt > cur || n.toInt < cur - 1 =>
          fs.delete(p, true); ()
        case _ => ()
      }
    }
    cur
  }

  /** The CURRENT cells directory of a persisted index — the path every
    * reader should scan. Public so callers inspecting the layout (cell
    * balance reports, tests) resolve it the same way search does.
    */
  def ivfCellsPath(spark: org.apache.spark.sql.SparkSession,
                   path: String): String = {
    val fs = hadoopFs(spark, path)
    currentVersion(fs, path) match {
      case Some(v) => cellsDir(path, v)
      case None =>
        val legacy = s"$path/cells.parquet"
        if (fs.exists(new org.apache.hadoop.fs.Path(legacy))) legacy
        else sys.error(s"IVF index: no cells layout under $path")
    }
  }

  /** INCREMENTAL index maintenance: append a batch of new vectors to a
    * persisted IVF index WITHOUT retraining or touching the existing
    * corpus. The batch is assigned with the STORED codebook (k×dim
    * driver literals — the same narrow argmax projection the build
    * uses) and its cell rows append as new parquet files under the
    * CURRENT versioned cells directory (see [[writeIvfIndex]] for the
    * layout); the codebook file is untouched, so a search after
    * N appends is bit-identical to a search against a single build
    * whose corpus carried every batch (same codebook → same cells →
    * same cosine top-k). This is the production ANN flow: the codebook
    * is paid once on the kept base, and each arriving batch costs one
    * batch-sized assignment pass plus an append commit — never a corpus
    * rewrite. (Re-train + full rebuild only when drift makes the cell
    * balance degrade.)
    */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     commitTag: Option[String] = None): Unit =
    ivfIndexAppendWith(readIvfCodebook(spark, path), path, batch,
      idCol, vecCol, commitTag)

  /** [[ivfIndexAppend]] with a PRELOADED codebook — the loop form for
    * callers appending many batches (the streaming ingest): the k×dim
    * collect happens once, not per batch.
    *
    * `commitTag`: when set, the append is IDEMPOTENT under that tag —
    * the batch lands in a staging dir, any `<tag>-*` files from a
    * previous (possibly partial) attempt are deleted, and the staged
    * files move in under tag-prefixed names. Re-running the same tag
    * (Structured Streaming's at-least-once foreachBatch replay, a
    * retried maintenance job) replaces rather than duplicates — which
    * is what keeps the drained-stream index bit-identical to a batch
    * build. Untagged appends keep the plain one-shot `mode("append")`
    * commit. Concurrent READERS are safe against either form in the
    * torn-state sense (parquet files commit whole; a racing search can
    * at worst miss part of the in-flight batch, or — during a crash
    * REPLAY of a tagged batch only — see that one batch's rows absent
    * between the drop and the re-commit).
    */
  def ivfIndexAppendWith(codebook: Seq[Array[Float]], path: String,
                         batch: DataFrame, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         commitTag: Option[String] = None): Unit = {
    // every maintenance entry point normalizes the layout FIRST: adopt
    // a legacy un-versioned index, then sweep whatever the manifest
    // markers prove dead (crashed-compaction orphans, superseded
    // markers, expired grace snapshots)
    val fs = hadoopFs(batch.sparkSession, path)
    val cur = ensureVersioned(fs, path)
    val cells = new org.apache.hadoop.fs.Path(cellsDir(path, cur))
    val assigned = batch.select(col(idCol), col(vecCol))
      .withColumn("cell", ivfAssignCell(col(vecCol), codebook))
    commitTag match {
      case None =>
        assigned.write.mode("append").parquet(cells.toString)
      case Some(tag) =>
        import org.apache.hadoop.fs.Path
        // [A-Za-z0-9_]+ enforces the prefix-uniqueness invariant
        // ivfIndexDropTag relies on: committed files are named
        // `<tag>-<part>`, so a tag containing '-' (say "a-b") would let
        // dropTag("a") delete tag "a-b"'s files. Rejecting '-' (and '/',
        // '.', whitespace — anything path- or separator-like) makes the
        // documented invariant checked rather than assumed.
        require(tag.matches("[A-Za-z0-9_]+"),
          s"bad commit tag '$tag' (want [A-Za-z0-9_]+)")
        val staging = new Path(s"$path/.staging-$tag")
        assigned.write.mode("overwrite").parquet(staging.toString)
        // wipe any partial earlier attempt of THIS tag, then move in
        ivfIndexDropTag(batch.sparkSession, path, tag)
        fs.listStatus(staging)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { s =>
            if (!fs.rename(s.getPath, new Path(cells, s"$tag-${s.getPath.getName}")))
              sys.error(s"ivfIndexAppend: cannot commit ${s.getPath} under $tag")
          }
        fs.delete(staging, true)
        ()
    }
  }

  /** Delete every CURRENT-version cells file committed under `tag` (tag
    * names contain no `-`, and files are named `<tag>-<part>`, so `b1`
    * can never match `b11`'s files). Used by the tagged append's replace
    * step and by the streaming ingest to drop a crashed attempt's
    * uncommitted files before compacting.
    */
  def ivfIndexDropTag(spark: org.apache.spark.sql.SparkSession,
                      path: String, tag: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(spark, path)
    val cells = new Path(ivfCellsPath(spark, path))
    if (fs.exists(cells))
      fs.listStatus(cells).filter(_.getPath.getName.startsWith(s"$tag-"))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** COMPACTION: rewrite the cell partitions of a persisted index after
    * many [[ivfIndexAppend]] batches. Each append commits its own small
    * parquet files; a corpus maintained by N batches accumulates N× the
    * file (and footer/open) count until scan startup dominates query
    * latency. Compacting re-reads the current cells, repartitions ON THE
    * CELL ID (each cell's vectors land contiguously, which is exactly
    * the locality the cell equi-join scan wants), and commits the result
    * as the NEXT version — codebook untouched, rows untouched, so a
    * search after compaction is BIT-IDENTICAL to one before (the
    * AdviceRegressionSpec proves it). File count drops from
    * O(appends × partitions) to at most the shuffle parallelism.
    *
    * SNAPSHOT-ISOLATED swap: `cells-v(N+1)` fully commits before
    * `manifest-(N+1)` appears, and the superseded `cells-vN` is
    * RETAINED until the NEXT compaction retires it — so a reader that
    * resolved version N (or is mid-scan on it) keeps a complete
    * directory for the whole following inter-compaction period; there
    * is no instant at which the index is absent or torn. The retained
    * prior version costs one extra corpus copy between compactions
    * (the standard table-format snapshot trade); pass
    * `retainPrior = false` to drop it immediately when no reader can
    * be concurrent (single-process batch jobs). Any crash point is
    * repaired by the next maintenance entry's marker sweep
    * ([[ensureVersioned]]); "re-run the compaction" remains the
    * complete repair procedure. Run compaction as the index's single
    * maintenance WRITER (the discipline any LSM/lakehouse compactor
    * assumes); readers need no coordination.
    */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession,
                      path: String, retainPrior: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(spark, path)
    val cur = ensureVersioned(fs, path)
    // the PREVIOUS grace snapshot (cur−1) has now survived one full
    // inter-compaction period — retire it before creating the next one
    fs.delete(new Path(cellsDir(path, cur - 1)), true)
    spark.read.parquet(cellsDir(path, cur))
      .repartition(col("cell"))
      .write.mode("overwrite").parquet(cellsDir(path, cur + 1))
    createManifest(fs, path, cur + 1)
    fs.delete(new Path(s"$path/manifest-$cur"), false)
    if (!retainPrior) fs.delete(new Path(cellsDir(path, cur)), true)
    ()
  }

  /** Load the codebook of a persisted index (k×dim rows — index-sized
    * driver traffic, the same legit collect as training).
    */
  def readIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Array[Float]] =
    spark.read.parquet(s"$path/codebook.parquet").orderBy("cid")
      .collect().map(_.getSeq[Float](1).toArray).toSeq

  /** Search a persisted index: queries are assigned with the loaded
    * codebook (narrow projection); the corpus side reads its
    * PRECOMPUTED cells straight from the CURRENT snapshot of the index
    * layout ([[ivfCellsPath]]) — no assignment pass over the corpus at
    * query time, and no coordination with maintenance writers (the
    * resolved snapshot stays complete on disk until the compaction
    * after next).
    */
  def ivfKnnFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val codebook = readIvfCodebook(spark, path)
    val corpus = spark.read.parquet(ivfCellsPath(spark, path))
    val q = queries.withColumn("cell", ivfAssignCell(col(vecCol), codebook))
    ivfKnn(corpus, q, k, cellCol = "cell", idCol, vecCol)
  }

  /** Greedy k-center coreset (farthest-point sampling): pick the min-id
    * vector, then k−1 times the point farthest from its nearest chosen
    * center — the 2-approximation cover that selects maximally spread
    * prototypes (coreset distillation, diverse seed selection, k-means++
    * without the randomness). Distances are squared-L2 folded in a fixed
    * per-dimension order and rounded to 6 before comparisons; argmax ties
    * break on the smaller id — fully engine-replayable (see
    * q_coreset_kcenter's unrolled DuckDB chain).
    *
    * Scale shape: per iteration ONE narrow pass updates each row's
    * min-distance against the single new center (a dim-length literal),
    * and a TakeOrderedAndProject ships exactly one row to the driver;
    * the running frame is lineage-truncated per iteration. Total driver
    * traffic is k rows + k centroid vectors — the codebook rule.
    * Output: (sel_order, id, md) where md is the point's distance to the
    * previously chosen centers at selection time (0 for the seed).
    */
  def kCenterCoreset(df: DataFrame, k: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k >= 1")
    val spark = df.sparkSession
    def d2(a: Column, b: Column): Column =
      round(aggregate(
        zip_with(a, b, (x, y) =>
          (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, e) => acc + e), 6)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint()
    val first = base.orderBy("id").limit(1).collect()(0)
    var picked = Vector((first.getLong(0), 0.0))
    var lastVec: Seq[Float] = first.getSeq[Float](1)
    var cur = base
      .withColumn("md", d2(col("v"), array(lastVec.map(lit): _*)))
      .localCheckpoint()
    for (i <- 2 to k) {
      val next = cur.filter(!col("id").isInCollection(picked.map(_._1)))
        .orderBy(col("md").desc, col("id")).limit(1).collect()(0)
      picked = picked :+ ((next.getLong(0), next.getDouble(2)))
      lastVec = next.getSeq[Float](1)
      if (i < k) // the last pick needs no further distance refresh
        cur = cur
          .withColumn("md",
            least(col("md"), d2(col("v"), array(lastVec.map(lit): _*))))
          .localCheckpoint()
    }
    import spark.implicits._
    picked.zipWithIndex
      .map { case ((id, md), i) => (i + 1, id, md) }
      .toDF("sel_order", idCol, "md")
  }

  /** Embedding-distribution drift between two cohorts (old batch vs new
    * batch, train vs serve): squared centroid distance, centroid
    * cosine, and the single most-shifted dimension — the cheap monitor
    * that catches an upstream encoder change before an index rebuild
    * degrades. Exactly: per-dim coordinate sums on the 2²⁰ quantization
    * grid (the [[KmeansScale]] rule), centroid differences as
    * cross-multiplied integers over the common (n_a·n_b) denominator —
    * so the dims-sized reduction is an EXACT decimal sum, never an
    * order-dependent double accumulation — then three IEEE combinations.
    * In the cosine the scale and counts cancel:
    * cos = Σs_a·s_b / √(Σs_a²·Σs_b²). One explode + one dim-keyed
    * aggregate (`dim` rows), one broadcast of the two counts.
    */
  def embeddingDrift(vecs: DataFrame, isA: Column,
                     vecCol: Column = col("embedding")): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val q = vecs.select(isA.as("a"),
        posexplode(vecCol).as(Seq("dim", "x")))
      .select(col("a"), col("dim"),
        floor(col("x").cast("double") * KmeansScale + 0.5).cast("long").as("q"))
    val cnt = vecs.agg(
      sum(when(isA, 1L).otherwise(0L)).as("na"),
      sum(when(isA, 0L).otherwise(1L)).as("nb"))
    val byDim = q.groupBy("dim")
      .agg(sum(when(col("a"), col("q")).otherwise(0L)).as("sa"),
        sum(when(!col("a"), col("q")).otherwise(0L)).as("sb"))
      .crossJoin(broadcast(cnt))
      .select(col("dim"), col("na"), col("nb"),
        (d38(col("sa")) * col("nb") - d38(col("sb")) * col("na")).as("ddn"),
        d38(col("sa")).as("sa"), d38(col("sb")).as("sb"))
      .localCheckpoint() // consumers: the reduce + the top-dim pick
    val agg = byDim.groupBy("na", "nb")
      .agg(count(lit(1)).cast("int").as("n_dims"),
        sum(col("ddn") * col("ddn")).as("d2n"),
        sum(col("sa") * col("sb")).as("sab"),
        sum(col("sa") * col("sa")).as("saa"),
        sum(col("sb") * col("sb")).as("sbb"))
    val top = byDim
      .orderBy((col("ddn") * col("ddn")).desc, col("dim")).limit(1)
      .select(col("dim").as("top_dim"), col("ddn").as("top_ddn"))
    val den = col("na").cast("double") * col("nb").cast("double") *
      lit(KmeansScale.toDouble)
    agg.crossJoin(top)
      .select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        col("n_dims"),
        round(col("d2n").cast("double") / (den * den), 6).as("centroid_dist2"),
        round(col("sab").cast("double")
          / sqrt(col("saa").cast("double") * col("sbb").cast("double")), 6)
          .as("centroid_cos"),
        col("top_dim"),
        round(col("top_ddn").cast("double") / den, 6).as("top_dim_shift"))
  }
}
