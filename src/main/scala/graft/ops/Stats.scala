package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second-moment statistics (variance / stddev / covariance / correlation /
  * regression slope) computed from EXACT decimal power sums, combined into
  * doubles with one fixed sequence of IEEE operations at the end.
  *
  * Spark's built-in `stddev`/`corr` accumulate doubles in partition order,
  * so their low bits vary with partitioning and engine — unusable for a
  * hash-checked oracle and, at 100 TB, unstable across re-runs. Here every
  * aggregation is a decimal sum (associative, exact, still map-side
  * partial-aggregated — one shuffle of six numbers per group), and the
  * float combination happens once per GROUP, not per row, so determinism
  * costs nothing at scale.
  *
  * CHECKPOINT CONVENTION: the rank-statistic operators below
  * (`mannWhitneyU`, `ksTest`, `kaplanMeier`) `localCheckpoint()` their
  * per-value aggregate at PLAN-CONSTRUCTION time — building the
  * DataFrame eagerly runs the aggregation once so the multi-action
  * Ranks machinery (see the Ranks deterministic-input contract) reads a
  * materialized frame instead of re-executing lineage per action. The
  * checkpoint blocks stay pinned in executor storage for the session; a
  * long-lived session constructing MANY of these should expect that
  * storage growth (the blocks are aggregate-sized, not corpus-sized)
  * or recycle sessions between batches.
  */
object Stats {

  /** Per-group n, mean/var/stddev of x, covar/corr/OLS-slope of (x, y).
    * All outputs derive from {n, Σx, Σx², Σy, Σy², Σxy} — the same six
    * sums a distributed sketch would ship — via the textbook
    * `n·Σx² - (Σx)²` forms evaluated in doubles.
    */
  def moments(df: DataFrame, groupCol: String, xCol: String, yCol: String,
              p: Int = 12, s: Int = 2): DataFrame = {
    val x = col(xCol).cast(s"decimal($p,$s)")
    val y = col(yCol).cast(s"decimal($p,$s)")
    val sums = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
      sum(y).cast("double").as("sy"), sum(y * y).cast("double").as("syy"),
      sum(x * y).cast("double").as("sxy"))
    val n = col("n").cast("double")
    val varxNum = n * col("sxx") - col("sx") * col("sx")
    val varyNum = n * col("syy") - col("sy") * col("sy")
    val covNum = n * col("sxy") - col("sx") * col("sy")
    sums.select(col(groupCol), col("n"),
      round(col("sx") / n, 6).as("mean_x"),
      round(varxNum / (n * (n - 1)), 6).as("var_x"),
      round(sqrt(varxNum / (n * (n - 1))), 6).as("std_x"),
      round(covNum / (n * (n - 1)), 6).as("covar_xy"),
      round(covNum / (sqrt(varxNum) * sqrt(varyNum)), 6).as("corr_xy"),
      round(covNum / varxNum, 6).as("slope_xy"))
  }

  /** Per-group simple linear regression y = a + b·x with fit quality:
    * slope, intercept, and R² combined from the same exact decimal
    * power sums as [[moments]] — one shuffle of six numbers per group,
    * three fixed IEEE combinations per group row.
    */
  def olsFit(df: DataFrame, groupCol: String, xCol: String, yCol: String,
             p: Int = 12, s: Int = 2): DataFrame = {
    val x = col(xCol).cast(s"decimal($p,$s)")
    val y = col(yCol).cast(s"decimal($p,$s)")
    val sums = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
      sum(y).cast("double").as("sy"), sum(y * y).cast("double").as("syy"),
      sum(x * y).cast("double").as("sxy"))
    val n = col("n").cast("double")
    val varxNum = n * col("sxx") - col("sx") * col("sx")
    val varyNum = n * col("syy") - col("sy") * col("sy")
    val covNum = n * col("sxy") - col("sx") * col("sy")
    val slope = covNum / varxNum
    sums.select(col(groupCol), col("n"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / n, 6).as("intercept"),
      round(covNum * covNum / (varxNum * varyNum), 6).as("r2"))
  }

  /** Mann-Whitney U between two groups — the nonparametric two-sample
    * test (no normality assumption, no logs): with average ranks for
    * ties, 2·avgrank(v) = 2·(#values < v) + (#values = v) + 1 is an
    * INTEGER, so 2·U₁ = 2·R₁ − n₁(n₁+1) is exact; the rank-biserial
    * effect size 1 − 2U₁/(n₁n₂) is one division. Compare u2x against
    * the normal approximation offline for significance.
    *
    * Scale shape: one aggregation to per-VALUE counts, then the global
    * cumulative count comes from [[Ranks.prefixCounts]] — range-bucketed
    * two-pass prefix sums, NO unpartitioned window — so the plan holds
    * even on a CONTINUOUS score column where distinct values ≈ rows (the
    * old `Window.orderBy(v)` form was a full-corpus single-task sort
    * there), then a two-number reduce. Both groups must be nonempty
    * (n₁n₂ = 0 nulls the effect size).
    */
  def mannWhitneyU(df: DataFrame, isA: Column, valCol: Column): DataFrame = {
    val g = df.select(isA.as("a"), valCol.as("v"))
      .groupBy("v").agg(sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        count(lit(1)).as("c"))
      .localCheckpoint() // consumers: boundary sample + the cum pass
    val ranked = Ranks.prefixCounts(g, "v", Seq("c"))
      .select(col("ca"), col("c"), (col("c_cum") - col("c")).as("rlo"))
    ranked.agg(
        sum("ca").as("n1"), (sum("c") - sum("ca")).as("n2"),
        sum(col("ca") * (lit(2) * col("rlo") + col("c") + 1)).as("r1x2"))
      .select(col("n1").cast("int").as("n1"), col("n2").cast("int").as("n2"),
        (col("r1x2") - col("n1") * (col("n1") + 1)).as("u2x"),
        round(lit(1.0) - (col("r1x2") - col("n1") * (col("n1") + 1))
          .cast("double") / (col("n1") * col("n2")).cast("double"), 6)
          .as("rank_biserial"))
  }

  /** Spearman rank correlation WITHOUT a global sort: average ranks (as
    * exact integers — doubled, so ties' half-ranks stay integral) come
    * from the windowless prefix machinery per distinct value, join back
    * to the rows, and the Pearson combination runs over CENTERED doubled
    * ranks u = 2·rank_avg − (n+1), whose sums are exactly zero — so
    * ρ = Σuv / √(Σu²·Σv²) has NO catastrophic cancellation and the
    * decimal→double casts at the end can move the result by at most an
    * ulp. Rank maps are |distinct values| rows joined on the value (the
    * low-cardinality side auto-broadcasts); the base is scanned ONCE —
    * everything runs over the distinct-(x,y)-cell compression. Per-cell
    * products are computed in longs: exact while 4n² < 2⁶³, i.e.
    * n ≲ 1.5·10⁹ rows — beyond that, cast the centered ranks to decimals
    * at the call site.
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    // ONE corpus scan (r16, guide §2.3 "aggregate before you shuffle" /
    // §2.4 "remove shuffles outright"): the old form ran FOUR full
    // passes over the base — a sizing count, one groupBy per rank map,
    // and the final join+aggregate pass. Every one of those only needs
    // the distinct (x, y) CELLS with their multiplicities: n = Σc, each
    // rank map is a re-aggregation of the cells, and every power sum is
    // the cell's product weighted by its count. So compress to cells
    // first (one scan, one shuffle of (x, y) pairs with map-side
    // partials), checkpoint that bounded frame, and run everything else
    // over it. Sums are exact integers either way — bit-identical rho.
    val cells = df.select(xCol.as("x"), yCol.as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cc"))
      // lazy (r16): the n aggregate is the materializing action
      .localCheckpoint(false) // consumers: n agg + two rank maps + final
    // null-guard (ADVICE r16): sum over an empty cell frame is NULL — a
    // bare getLong NPEs where the old base.count() returned 0
    val st0 = cells.agg(sum("cc")).collect()(0)
    val n = if (st0.isNullAt(0)) 0L else st0.getLong(0)
    def rankMap(c: String): DataFrame = {
      // lazy: the prefix pass's sizing count materializes it
      val g = cells.groupBy(c).agg(sum("cc").as("cnt")).localCheckpoint(false)
      Ranks.prefixCounts(g, c, Seq("cnt"))
        .select(col(c),
          (lit(2) * col("cnt_cum") - col("cnt") + 1 - (n + 1)).as(s"u_$c"))
    }
    val withU = cells.join(rankMap("x"), Seq("x")).join(rankMap("y"), Seq("y"))
    def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // per-cell products stay in longs (exact while 4n² < 2⁶³ — the
    // documented contract); the count weight multiplies as a decimal so
    // c·u·u cannot wrap even at the contract's edge
    withU.agg(sum(d(col("cc"))).cast("long").as("n"),
        sum(d(col("u_x") * col("u_y")) * d(col("cc"))).as("suv"),
        sum(d(col("u_x") * col("u_x")) * d(col("cc"))).as("suu"),
        sum(d(col("u_y") * col("u_y")) * d(col("cc"))).as("svv"))
      .select(col("n"),
        round(col("suv").cast("double") /
          (sqrt(col("suu").cast("double")) * sqrt(col("svv").cast("double"))), 6)
          .as("rho"))
  }

  /** Cramér's V association between two categorical columns, from a
    * contingency table in exact fixed-point: per cell the lift
    * O·N/(R·C) is one truncating long division at ×10⁶ (deterministic
    * on any engine), χ² = Σ O·lift − N via an exact decimal sum
    * (clamped at 0: truncation can push an independent table a hair
    * negative), and V = √(χ²/(N·(min(k_a,k_b)−1))) is one fixed IEEE
    * combination on the single result row. One groupBy over the pair,
    * two marginal aggregates broadcast back — no shuffle wider than the
    * distinct-pair count. Long fixed-point bound: O·N·10⁶ < 2⁶³, i.e.
    * N ≲ 3·10⁹ per profiled pair (cast to decimals beyond).
    */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ra = cells.groupBy("a").agg(sum("o").cast("long").as("ra"))
    val cb = cells.groupBy("b").agg(sum("o").cast("long").as("cb"))
    val tot = cells.agg(sum("o").cast("long").as("n"),
      countDistinct("a").cast("long").as("ka"),
      countDistinct("b").cast("long").as("kb"))
    def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    cells.join(broadcast(ra), Seq("a")).join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("ka"), col("kb"),
        (col("o") * expr("o * 1000000 * n div (ra * cb)")).as("olift"))
      .groupBy("n", "ka", "kb")
      .agg(sum(d(col("olift"))).as("s"))
      .select(col("n"), col("ka"), col("kb"),
        greatest(col("s") - d(col("n") * 1000000L), d(lit(0)))
          .cast("long").as("chi2_x1e6"))
      .select(col("n"), col("ka"), col("kb"), col("chi2_x1e6"),
        round(sqrt(col("chi2_x1e6").cast("double") /
          (col("n") * (least(col("ka"), col("kb")) - 1) * 1000000L)
            .cast("double")), 6).as("cramers_v"))
  }

  /** Partial autocorrelation at lags 1..maxLag via Levinson–Durbin over
    * the [[acf]] vector — the AR-order diagnostic (PACF cuts off after
    * the true AR order). The distributed work IS the acf computation;
    * the recursion runs driver-side over the maxLag collected values
    * (bounded by construction) using one fixed IEEE sequence — dot
    * products fold ascending, one subtraction, one division per order —
    * which the oracle's recursive CTE replays operation for operation
    * on the SAME rounded acf inputs, so the doubles match bit for bit.
    * E→0 (a perfectly AR series) would make later kappas ±Inf/NaN; real
    * count series keep E bounded away from 0.
    */
  def pacf(df: DataFrame, tCol: Column, vCol: Column,
           maxLag: Int): DataFrame = {
    require(maxLag >= 1)
    val spark = df.sparkSession
    val rows = acf(df, tCol, vCol, maxLag).orderBy("lag").collect()
    val rv = new Array[Double](maxLag + 1)
    rows.foreach(x => rv(x.getInt(0)) = x.getAs[Double]("acf"))
    var phis = Array(rv(1))
    var e = 1.0 - rv(1) * rv(1)
    val pac = scala.collection.mutable.ArrayBuffer(rv(1))
    for (m <- 2 to maxLag) {
      var s = 0.0
      var j = 1
      while (j < m) { s += phis(j - 1) * rv(m - j); j += 1 }
      val kap = (rv(m) - s) / e
      val nphis = new Array[Double](m)
      var i = 1
      while (i < m) { nphis(i - 1) = phis(i - 1) - kap * phis(m - i - 1); i += 1 }
      nphis(m - 1) = kap
      phis = nphis
      e = e * (1 - kap * kap)
      pac += kap
    }
    import spark.implicits._
    (1 to maxLag).map(l => (l, rv(l), BigDecimal(pac(l - 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("lag", "acf", "pacf")
  }

  /** Log-rank (Mantel–Cox) test comparing the survival experience of
    * group A against the rest: per distinct event time, observed group-A
    * deaths vs the hypergeometric expectation d·n_A/n and variance
    * d(n−d)/(n−1)·(n_A/n)(1−n_A/n) over the at-risk sets — the
    * companion test to [[kaplanMeier]]. At-risk counts come from the
    * windowless prefix machinery (one row per distinct duration);
    * expectation and variance accumulate in truncating ×10⁶ fixed point
    * (exact longs — identical truncations in any engine) and the χ²
    * combines once in doubles on the single result row. Censored
    * subjects leave the risk set at their censor time and contribute no
    * deaths, the standard handling. Long bound: n²·10⁶ < 2⁶³ per
    * comparison, i.e. n ≲ 2.5·10⁶ subjects (cast to decimals beyond).
    */
  def logRank(df: DataFrame, isA: Column, durCol: Column,
              eventCol: Column): DataFrame = {
    val g = df.select(isA.cast("boolean").as("a"), durCol.as("t"),
        eventCol.cast("long").as("d"))
      .groupBy("t").agg(count(lit(1)).as("c"), sum("d").as("dd"),
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), col("d")).otherwise(0L)).as("da"))
      .localCheckpoint() // consumers: totals + the prefix passes
    val tot = g.agg(sum("c").cast("long").as("nn"), sum("ca").cast("long").as("na"))
    val terms = Ranks.prefixCounts(g, "t", Seq("c", "ca"))
      .crossJoin(broadcast(tot))
      .select(col("dd"), col("da"),
        (col("nn") - (col("c_cum") - col("c"))).as("nr"),
        (col("na") - (col("ca_cum") - col("ca"))).as("nra"))
      .filter(col("dd") > 0)
      .select(col("da"),
        expr("dd * nra * 1000000 div nr").as("e_fp"),
        expr("(dd * (nr - dd) * 1000000 div greatest(nr - 1, 1))" +
          " * nra div nr * (nr - nra) div nr").as("v_fp"))
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    terms.agg(sum("da").cast("long").as("o_a"),
        sum(d38(col("e_fp"))).cast("long").as("e_l"),
        sum(d38(col("v_fp"))).cast("long").as("v_l"))
      .crossJoin(broadcast(tot))
      .select(col("nn").as("n"), col("na").as("n_a"), col("o_a"),
        col("e_l").as("e_a_x1e6"), col("v_l").as("v_x1e6"),
        round((col("o_a") * 1000000L - col("e_l")).cast("double")
          * (col("o_a") * 1000000L - col("e_l")).cast("double")
          / (col("v_l").cast("double") * 1e6), 6).as("logrank_chi2"))
  }

  /** Sample autocorrelation of an integer-valued regular series at lags
    * 1..maxLag — pairwise-complete Pearson over the (t, t+lag)
    * equi-join (gaps in the series simply produce no pair; no gap-fill
    * assumption). One explode to maxLag rows per point, ONE shuffle
    * join on the shifted index, exact DECIMAL(18,0) power sums per lag
    * and the usual single IEEE combination — deterministic on any
    * partitioning or engine. maxLag is a literal fan-out factor, never
    * data-scaled.
    */
  def acf(df: DataFrame, tCol: Column, vCol: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1)
    val base = df.select(tCol.as("t"), vCol.as("v"))
    def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val lagged = base.select(col("t"), col("v").as("x"),
        explode(array((1 to maxLag).map(lit): _*)).as("lag"))
      .withColumn("t2", col("t") + col("lag"))
    val right = base.select(col("t").as("t2"), col("v").as("y"))
    lagged.join(right, "t2")
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
        sum(d(col("x") * col("x"))).as("sxx"),
        sum(d(col("y") * col("y"))).as("syy"),
        sum(d(col("x") * col("y"))).as("sxy"))
      .select(col("lag"), col("n").cast("long").as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("acf"))
  }

  /** Cross-correlation between TWO integer-valued regular series at
    * lags −maxLag..maxLag: Pearson of (x_t, y_{t+lag}) pairs — which
    * side LEADS shows up as the sign of the peak lag. Same shape and
    * float discipline as [[acf]] (one explode, one shuffle join on the
    * shifted index, exact decimal power sums per lag).
    */
  def ccf(x: DataFrame, y: DataFrame, tCol: String, vCol: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 0)
    def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val lags = (-maxLag to maxLag)
    val lagged = x.select(col(tCol).as("t"), col(vCol).as("xv"),
        explode(array(lags.map(lit): _*)).as("lag"))
      .withColumn("t2", col("t") + col("lag"))
    val right = y.select(col(tCol).as("t2"), col(vCol).as("yv"))
    lagged.join(right, "t2")
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(d(col("xv"))).as("sx"), sum(d(col("yv"))).as("sy"),
        sum(d(col("xv") * col("xv"))).as("sxx"),
        sum(d(col("yv") * col("yv"))).as("syy"),
        sum(d(col("xv") * col("yv"))).as("sxy"))
      .select(col("lag"), col("n").cast("long").as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("ccf"))
  }

  /** Seasonal MASE of the naive seasonal forecast (v̂_t = v_{t−season})
    * against the one-step naive benchmark (v̂_t = v_{t−1}), pairwise-
    * complete over whatever lags exist: MASE = mean|e_season| /
    * mean|e_naive| as ONE truncating ×10⁶ integer division of exact
    * cross-multiplied sums — below 10⁶ means the seasonal structure is
    * real (the seasonal predictor beats last-value persistence). Two
    * shifted-index joins, all integers.
    */
  def seasonalMase(df: DataFrame, tCol: Column, vCol: Column,
                   season: Int): DataFrame = {
    require(season >= 2)
    val base = df.select(tCol.as("t"), vCol.as("v"))
    def absErr(lag: Int, nName: String, sName: String): DataFrame =
      base.join(base.select((col("t") + lag).as("t"), col("v").as("vp")), "t")
        .agg(count(lit(1)).cast("long").as(nName),
          sum(abs(col("v") - col("vp"))).cast("long").as(sName))
    absErr(season, "n_season", "sum_season")
      .crossJoin(absErr(1, "n_naive", "sum_naive"))
      .select(col("n_season"), col("sum_season"), col("n_naive"), col("sum_naive"),
        expr("sum_season * n_naive * 1000000 div (n_season * sum_naive)")
          .as("mase_x1e6"))
  }

  /** Wald–Wolfowitz runs test on the above-mean indicator of a regular
    * series in time order: run count from adjacent-index pairs (a JOIN
    * on t+1 — no window, gaps simply contribute no boundary), the
    * above/below split by EXACT cross-multiplied mean comparison
    * (v·n > Σv), expectation 1 + 2n₁n₂/n and variance
    * 2n₁n₂(2n₁n₂−n)/(n²(n−1)) in ×10⁶ truncating fixed point, and the
    * z-score as one double combination. Long bound: n²·10⁶ < 2⁶³, i.e.
    * n ≲ 3·10⁶ points per series (cast to decimals beyond — series
    * here are GRID-sized, not corpus-sized).
    */
  def runsTest(df: DataFrame, tCol: Column, vCol: Column): DataFrame = {
    val base = df.select(tCol.as("t"), vCol.as("v")).localCheckpoint()
    val tot = base.agg(count(lit(1)).cast("long").as("n"),
      sum("v").cast("long").as("sv"))
    val ind = base.crossJoin(broadcast(tot))
      .select(col("t"), (col("v") * col("n") > col("sv")).as("hi"))
    val bounds = ind.join(ind.select((col("t") + 1).as("t"), col("hi").as("hip")),
        "t")
      .agg(sum(when(col("hi") =!= col("hip"), 1L).otherwise(0L)).as("chg"))
    ind.agg(sum(when(col("hi"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("hi"), 1L).otherwise(0L)).as("n2"))
      .crossJoin(bounds)
      .select(col("n1"), col("n2"), (col("chg") + 1).as("runs"),
        expr("1000000 + 2 * n1 * n2 * 1000000 div (n1 + n2)").as("e_x1e6"),
        expr("(2 * n1 * n2 * 1000000 div ((n1 + n2) * (n1 + n2)))" +
          " * (2 * n1 * n2 - n1 - n2) div greatest(n1 + n2 - 1, 1)")
          .as("v_x1e6"))
      .select(col("n1"), col("n2"), col("runs"), col("e_x1e6"), col("v_x1e6"),
        round((col("runs") * 1000000L - col("e_x1e6")).cast("double") /
          sqrt(col("v_x1e6").cast("double") * 1e6), 6).as("z"))
  }

  /** Gini coefficient of a non-negative integer value column (cents):
    * G = Σ(2·rank − n − 1)·v / (n·Σv) over values ranked ascending with
    * a unique tie-break — the inequality summary for spend/token/size
    * distributions. Ranks come from [[Ranks.globalRank]] (no global
    * sort); the numerator and denominator accumulate as EXACT decimals
    * and combine in one IEEE division on the single result row. With a
    * deterministic unique tie-break the tied-value contributions sum to
    * the same total as average-rank Gini, so the result is the classic
    * statistic, engine-replayable.
    */
  def gini(df: DataFrame, valCol: Column, tieCol: Column): DataFrame = {
    // checkpoint convention: the input is typically a per-entity
    // AGGREGATE whose lineage would otherwise re-execute once per rank
    // action (boundary sample, bucket totals, final pass)
    val base = df.select(valCol.as("v"), tieCol.as("t")).localCheckpoint()
    val ranked = Ranks.globalRank(base, col("v"), col("t"), "r")
    def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(d(col("v"))).as("sv"),
        sum(d((lit(2) * col("r")) * col("v"))).as("s2rv"))
      .select(col("n"),
        round((col("s2rv").cast("double")
            - (col("n") + 1).cast("double") * col("sv").cast("double")) /
          (col("n").cast("double") * col("sv").cast("double")), 6).as("gini"))
  }

  /** Lorenz curve at k quantile buckets of the same ranked order:
    * per-bucket population and value share plus the CUMULATIVE value
    * share (the curve itself), cumulative sums via the windowless
    * prefix machinery over the ≤ k bucket rows. Shares are one IEEE
    * division each over exact decimal sums.
    */
  def lorenzBuckets(df: DataFrame, valCol: Column, tieCol: Column,
                    k: Int = 10): DataFrame = {
    val base = df.select(valCol.as("v"), tieCol.as("t")).localCheckpoint()
    val n = base.count()
    val ranked = Ranks.globalRank(base, col("v"), col("t"), "r")
      .withColumn("bucket", Ranks.ntileOfRank(col("r"), lit(n), k))
    def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val g = ranked.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(d(col("v"))).cast("long").as("v_sum"))
    val tot = g.agg(sum("v_sum").cast("long").as("v_tot"))
    Ranks.prefixCounts(g, "bucket", Seq("v_sum"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_rows"), col("v_sum"),
        round(col("v_sum").cast("double") / col("v_tot").cast("double"), 6)
          .as("share"),
        round(col("v_sum_cum").cast("double") / col("v_tot").cast("double"), 6)
          .as("cum_share"))
  }

  /** Herfindahl–Hirschman concentration index over a grouped value
    * column: per-group shares in truncating ×10⁶ fixed point against
    * the exact total, HHI = Σ share² (reported ×10⁶). One aggregation
    * plus a |groups|-sized reduce — all integers. Long bound: group
    * value ×10⁶ < 2⁶³ (cast to decimals beyond).
    */
  def hhi(df: DataFrame, groupCol: Column, valCol: Column): DataFrame = {
    val g = df.select(groupCol.as("g"), valCol.as("v"))
      .groupBy("g").agg(sum(col("v")).cast("long").as("gv"))
    val tot = g.agg(sum("gv").cast("long").as("t"),
      count(lit(1)).cast("long").as("n_groups"))
    g.crossJoin(broadcast(tot))
      .select(col("n_groups"), expr("gv * 1000000 div t").as("share_fp"))
      .groupBy("n_groups")
      .agg(expr("sum(share_fp * share_fp) div 1000000").as("hhi_x1e6"))
      .select(col("n_groups"), col("hhi_x1e6"))
  }

  /** Welch's unequal-variance t-test from the same exact decimal power
    * sums as [[moments]]: per group n, Σv, Σv² are exact (map-side
    * partial-aggregated, one shuffle of three numbers per group), the two
    * sample variances, the t statistic, and the Welch–Satterthwaite
    * degrees of freedom are one fixed sequence of IEEE operations on a
    * single result row — deterministic on any partitioning or engine.
    *
    * Contract: BOTH arms must be present with n ≥ 2. An empty arm yields
    * a row of nulls (its n/s/q aggregates are null) and an n = 1 arm a
    * null variance (division by n−1 = 0 → the whole statistic nulls) —
    * there is no error signal, only null t_stat/df_welch, so gate on a
    * count (`df.groupBy(isA).count()`) before trusting a null-bearing
    * result row.
    */
  def welchT(df: DataFrame, isA: Column, valCol: Column): DataFrame = {
    val g = df.select(isA.as("a"), valCol.as("v"))
      .groupBy("a").agg(count(lit(1)).as("n"),
        sum("v").cast("double").as("s"),
        sum(col("v") * col("v")).cast("double").as("q"))
    val t = g.agg(
      sum(when(col("a"), col("n"))).as("n1"),
      max(when(col("a"), col("s"))).as("s1"),
      max(when(col("a"), col("q"))).as("q1"),
      sum(when(!col("a"), col("n"))).as("n2"),
      max(when(!col("a"), col("s"))).as("s2"),
      max(when(!col("a"), col("q"))).as("q2"))
    def nd(c: Column) = c.cast("double")
    val (n1, n2) = (nd(col("n1")), nd(col("n2")))
    val var1 = (n1 * col("q1") - col("s1") * col("s1")) / (n1 * (n1 - 1))
    val var2 = (n2 * col("q2") - col("s2") * col("s2")) / (n2 * (n2 - 1))
    val se1 = var1 / n1
    val se2 = var2 / n2
    val meanDiff = col("s1") / n1 - col("s2") / n2
    t.select(col("n1").cast("int").as("n1"), col("n2").cast("int").as("n2"),
      round(meanDiff, 6).as("mean_diff"),
      round(meanDiff / sqrt(se1 + se2), 6).as("t_stat"),
      round((se1 + se2) * (se1 + se2) /
        (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 6).as("df_welch"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic, exactly: over the pooled
    * per-value cumulative counts, D·n₁·n₂ = max |c₁·n₂ − c₂·n₁| is an
    * integer (the CUSUM cross-multiplication trick on ECDFs); ties on
    * the argmax break to the smallest value. One division at the end.
    * Same counts-then-prefix-sum shape as [[mannWhitneyU]] — the pooled
    * ECDFs come from [[Ranks.prefixCounts]], no unpartitioned window,
    * so a continuous value domain (distinct ≈ rows) stays distributed.
    */
  def ksTest(df: DataFrame, isA: Column, valCol: Column): DataFrame = {
    val g = df.select(isA.as("a"), valCol.as("v"))
      .groupBy("v").agg(sum(when(col("a"), 1L).otherwise(0L)).as("da"),
        sum(when(col("a"), 0L).otherwise(1L)).as("db"))
      .localCheckpoint() // consumers: totals + boundary sample + cum pass
    val tot = g.agg(sum("da").as("n1"), sum("db").as("n2"))
    val cum = Ranks.prefixCounts(g, "v", Seq("da", "db"))
      .select(col("v"), col("da_cum").as("c1"), col("db_cum").as("c2"))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("n1"), col("n2"),
        abs(col("c1") * col("n2") - col("c2") * col("n1")).as("dnum"))
    cum.orderBy(col("dnum").desc, col("v")).limit(1)
      .select(col("n1").cast("int").as("n1"), col("n2").cast("int").as("n2"),
        col("v").cast("double").as("at_value"),
        round(col("dnum").cast("double") /
          (col("n1") * col("n2")).cast("double"), 6).as("ks_d"))
  }

  /** Cumulative Poisson(1) thresholds quantized to the 2^60 hash grid —
    * computed ONCE driver-side (the NDCG-discount discipline), so the
    * bootstrap's per-row weights are pure integer hash compares in both
    * engines. Weight = #thresholds strictly below the row's hash.
    */
  def poissonThresholds60: Seq[Long] = {
    val e = math.exp(-1.0)
    var cum = 0.0
    var fact = 1.0
    (0 to 6).map { k => // cdf(0..6); weights cap at 7
      if (k > 0) fact *= k
      cum += e / fact
      math.floor(cum * 1.152921504606846976e18).toLong
    }
  }

  /** Deterministic Poisson bootstrap CI of a mean: each of `b` replicas
    * weights every row by a Poisson(1) draw derived from
    * md5(replica, id) — the standard one-pass distributed bootstrap
    * (no resampling shuffle), made REPRODUCIBLE by hash-derived
    * uniforms against quantized thresholds. Replica means use exact
    * decimal sums and one division each; the CI reads the sorted
    * replica means at the physical floor(q·(b−1)) positions (the
    * quantile-sketch rule). Only `b` means ever leave the aggregation.
    * Contract: rows ≫ b — a replica drawing all-zero weights (P = e^−n
    * per replica) would divide by zero; realistic input sizes make that
    * impossible.
    */
  def bootstrapMeanCI(df: DataFrame, idCol: Column, valCol: Column,
                      b: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val thr = poissonThresholds60
    val reps = df.select(idCol.as("id"), valCol.as("x"))
      .crossJoin((0 until b).toDF("rep"))
    val u = Pipeline.md5Hash60(concat_ws("_", col("rep"), col("id")))
    val wCol = thr.map(t => when(u >= t, 1L).otherwise(0L)).reduce(_ + _)
    val means = reps.withColumn("w", wCol)
      .groupBy("rep")
      .agg(round(sum(col("x") * col("w")).cast("double") / sum("w"), 6)
        .as("m"))
    val at: Int => Column = i => element_at(col("ms"), i)
    means.agg(sort_array(collect_list("m")).as("ms"))
      .select(lit(b).as("b"),
        at(1 + (0.05 * (b - 1)).floor.toInt).as("ci_lo"),
        at(1 + (0.5 * (b - 1)).floor.toInt).as("median"),
        at(1 + (0.95 * (b - 1)).floor.toInt).as("ci_hi"))
  }

  /** Kaplan–Meier survival curve with right censoring: at each distinct
    * duration t, S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}) where d = events
    * and n = subjects still at risk.
    *
    * Scale shape — nothing holds more than O(blockW + #blocks) state:
    * the at-risk counts come from [[Ranks.prefixCounts]] over the
    * per-duration aggregate (range-bucketed prefix sums, no
    * unpartitioned window), and the survival prefix product runs as a
    * TWO-LEVEL fold on a fixed duration grid (`bk = floor(t/blockW′)`,
    * where blockW′ auto-scales from the observed domain span so
    * #blocks ≤ maxBlocks — the grid contract is ENFORCED, not assumed):
    * per-block factor lists hold the block's distinct durations, the
    * block-product carry folds over the ≤ maxBlocks-sized block table,
    * and S(t) = fold(within-block factors up to t, init = carry). The grouping of IEEE multiplies — (Πblocks)·f₁·f₂… — is
    * part of the metric's definition (both engines replay the identical
    * two-level sequence; the old flat fold packed EVERY distinct
    * duration into one row). No logs, no exp.
    */
  def kaplanMeier(df: DataFrame, durCol: Column, eventCol: Column,
                  blockW: Int = 64, maxBlocks: Int = 4096): DataFrame = {
    val g = df.select(durCol.as("t"), eventCol.cast("long").as("d"))
      .groupBy("t").agg(sum("d").as("d"), count(lit(1)).as("c"))
      .localCheckpoint() // consumers: totals + boundary sample + cum pass
    // DURATION-GRID ENFORCEMENT: the carry pack below is one row of
    // #blocks structs, so #blocks must stay bounded no matter what the
    // duration unit is. A second-resolution column over years at the
    // default blockW=64 would pack millions of structs into that row —
    // so the effective block width auto-scales from the observed domain
    // span to keep #blocks ≤ maxBlocks (a grid choice, made once,
    // driver-side — the same deterministic-once discipline as the Ranks
    // boundaries; callers pinning a unit for oracle replay pass a blockW
    // that already satisfies the cap and nothing changes). floor()
    // division keeps the old tolerance for fractional durations.
    val span = g.agg(min(col("t").cast("double")).as("lo"),
      max(col("t").cast("double")).as("hi")).collect()(0)
    val blockWEff: Long =
      if (span.isNullAt(0)) blockW.toLong
      else math.max(blockW.toLong,
        math.ceil((span.getDouble(1) - span.getDouble(0) + 1) / maxBlocks).toLong)
    val tot = g.agg(sum("c").as("n_tot"))
    val staged = Ranks.prefixCounts(g, "t", Seq("c"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("d"),
        (col("n_tot") - (col("c_cum") - col("c"))).as("n_risk"))
    val fb = staged.withColumn("bk", floor(col("t") / blockWEff).cast("long"))
      .groupBy("bk")
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("n_risk"))))
        .as("ls"))
      .withColumn("fs", transform(col("ls"), e => lit(1.0) -
        e.getField("d").cast("double") / e.getField("n_risk").cast("double")))
      .withColumn("pb", aggregate(col("fs"), lit(1.0), (acc, f) => acc * f))
      .localCheckpoint() // consumers: the carry pack + the final explode
    val carry = fb
      .agg(sort_array(collect_list(struct(col("bk"), col("pb")))).as("bl"))
      .select(posexplode(col("bl")).as(Seq("i0", "be")), col("bl"))
      .select(col("be").getField("bk").as("bk"),
        aggregate(slice(transform(col("bl"), x => x.getField("pb")),
          lit(1), col("i0")), lit(1.0), (acc, p) => acc * p).as("carry"))
    fb.join(broadcast(carry), "bk")
      .select(col("carry"), col("fs"), posexplode(col("ls")).as(Seq("i0", "e")))
      .select(col("e").getField("t").as("t"),
        col("e").getField("d").cast("int").as("d"),
        col("e").getField("n_risk").cast("int").as("n_risk"),
        round(aggregate(slice(col("fs"), lit(1), col("i0") + 1),
          col("carry"), (acc, f) => acc * f), 6).as("s_t"))
  }

  /** Restricted mean survival time: the area under the [[kaplanMeier]]
    * curve on [0, τ] — the "average event-free time in the first τ
    * units" that stays meaningful when the curve never reaches the
    * median. Each interval term re-quantizes the curve's published 6-dp
    * S(t) to an exact ×10⁶ integer and multiplies by the exact integer
    * interval width (next event time, clipped at τ), so the area is an
    * EXACT integer sum — order-free; the leading [0, t₁) interval
    * contributes at S = 1. Event-grid-sized input after the K-M pass;
    * the next-time lookup is a rank self-join ([[Ranks.globalRank]]),
    * not an unpartitioned window.
    */
  def rmst(df: DataFrame, durCol: Column, eventCol: Column, tau: Long,
           blockW: Int = 64, maxBlocks: Int = 4096): DataFrame = {
    require(tau > 0, "tau must be positive")
    val km = kaplanMeier(df, durCol, eventCol, blockW, maxBlocks)
      .filter(col("t") < tau)
      .select(col("t").cast("long").as("t"),
        floor(col("s_t") * 1e6 + 0.5).cast("long").as("s6"))
      .localCheckpoint() // consumers: rank pass + first/area aggregates
    val ranked = Ranks.globalRank(km, col("t"), col("t"), "rk")
      .localCheckpoint() // consumers: the self-join's two sides
    val nxt = ranked.select((col("rk") - 1).as("rk"), col("t").as("t_next"))
    val head = ranked.agg(
      coalesce(min("t"), lit(tau)).cast("long").as("t_first"),
      count(lit(1)).cast("int").as("k_times"))
    ranked.join(nxt, Seq("rk"), "left")
      .select(col("s6"),
        (least(coalesce(col("t_next"), lit(tau)), lit(tau)) - col("t"))
          .as("gap"))
      .agg(coalesce(sum(col("s6") * col("gap")), lit(0L)).as("area_q"))
      .crossJoin(head)
      .select(lit(tau).as("tau"), col("k_times"),
        round((col("t_first") * lit(1000000L) + col("area_q"))
          .cast("double") / 1e6, 6).as("rmst"))
  }

  /** Anomaly z-score of an integer metric against its trailing window
    * (`lookback` prior rows, current row excluded). The window sums are
    * integer — exact under any evaluation order, so segment-tree vs
    * streaming window implementations agree bit-for-bit — and the z-score
    * is one fixed double combination per row. Rows without a full trailing
    * window emit null (warm-up).
    *
    * Scale shape: one hash partitioning on the partition column; the
    * window never holds more than `lookback` longs per partition.
    */
  def trailingZScore(df: DataFrame, partCol: String, ordCol: String,
                     metricCol: String, lookback: Int = 24): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol).orderBy(ordCol)
      .rowsBetween(-lookback, -1)
    val m = col(metricCol).cast("long")
    val base = df.withColumn("w_n", count(lit(1)).over(w))
      .withColumn("w_s1", sum(m).over(w))
      .withColumn("w_s2", sum(m * m).over(w))
    val n = col("w_n").cast("double")
    val s1 = col("w_s1").cast("double")
    val s2 = col("w_s2").cast("double")
    val varNum = n * s2 - s1 * s1
    val z = (m.cast("double") - s1 / n) / sqrt(varNum / (n * (n - 1)))
    base.withColumn("zscore",
        when(col("w_n") === lookback && varNum =!= 0.0, round(z, 6)))
      .drop("w_n", "w_s1", "w_s2")
  }

  /** Trimmed mean per group: drop values outside the [lo, hi] exact
    * percentiles, then average the survivors with an exact decimal sum —
    * the robust-location statistic that ignores outliers/corrupt rows.
    * Bounds are group-cardinality-sized (broadcast back); the data makes
    * two passes (bounds, then filtered mean) — unavoidable for exact
    * percentiles without a sketch.
    */
  /** Trimmed mean inside the exact PHYSICAL percentile bounds (the
    * elements at rank 1 + (n−1)·pct div 100 — integer selection, no
    * interpolation, deterministic under duplicate values because the
    * value at a sorted rank does not depend on tie order).
    *
    * Bounds come from one rank window over the group sort — Spark's
    * window sort spills to disk, so a group of any size streams through.
    * The previous `percentile()` aggregate buffered EVERY group value in
    * an in-memory array on the reducer: wrong cost class at 100 TB (and
    * measured 1.9 s vs 0.6 s at sf0.1). Bounds then broadcast back for
    * the one-pass trim + exact decimal mean.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valCol: String,
                  loPct: Int = 5, hiPct: Int = 95,
                  p: Int = 12, s: Int = 2): DataFrame = {
    val g = df.select(col(groupCol), col(valCol))
    val wOrd = Window.partitionBy(groupCol).orderBy(valCol)
    val wAll = Window.partitionBy(groupCol)
    val ranked = g.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
    val bounds = ranked
      .filter(col("rn") === expr(s"1 + (n - 1) * $loPct div 100") ||
        col("rn") === expr(s"1 + (n - 1) * $hiPct div 100"))
      .groupBy(groupCol)
      .agg(min(when(col("rn") === expr(s"1 + (n - 1) * $loPct div 100"),
        col(valCol))).as("plo"),
        min(when(col("rn") === expr(s"1 + (n - 1) * $hiPct div 100"),
          col(valCol))).as("phi"))
    g.join(broadcast(bounds), groupCol)
      .filter(col(valCol) >= col("plo") && col(valCol) <= col("phi"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col(valCol).cast(s"decimal($p,$s)")).cast("double")
          / count(lit(1)), 6).as("trimmed_mean"))
  }

  /** Dominant principal direction of a vector column (uncentered PCA) by
    * power iteration in FIXED-POINT integer arithmetic — deterministic on
    * any engine/partitioning, like [[Graph.pageRank]].
    *
    * The second-moment matrix M is computed once, distributed: each
    * vector fans out to dim² fixed-point products `floor(xᵢ·xⱼ·1e12)`
    * whose integer sums are order-free; the ~dim² cell grid then drives
    * `iters` rounds of v ← M·v with per-round max-|w| renormalization in
    * integer division (truncating — Spark `div` and DuckDB `//` agree).
    * Per iteration: one dim²-row join, one 64-row driver readback for the
    * normalizer. At 100 TB the corpus pass is the only data-sized job;
    * everything after runs on the dim² synopsis.
    */
  def topComponentFixedPoint(df: DataFrame, vecCol: String, dim: Int,
                             iters: Int = 6): DataFrame = {
    val spark = df.sparkSession
    val a = df.select(col(vecCol).as("e"))
      .select(posexplode(col("e")).as(Seq("i0", "xi")), col("e"))
    val b = a.select(col("i0"), col("xi"),
      posexplode(col("e")).as(Seq("j0", "xj")))
    val m = b.select((col("i0") + 1).as("i"), (col("j0") + 1).as("j"),
        floor(col("xi").cast("double") * col("xj").cast("double") * lit(1e12))
          .cast("long").as("c"))
      .groupBy("i", "j").agg(sum("c").as("m0"))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        expr("m0 div 1000000").as("m"))
      .localCheckpoint() // reused every iteration
    var v = spark.range(1, dim + 1)
      .select(col("id").cast("int").as("i"), lit(1000000L).as("v"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // lazy checkpoint on w (r16): the mx probe below materializes it,
      // and the rescaled v then READS that cache — the uncheckpointed
      // form executed the join+aggregate twice per iteration (once for
      // the probe, once inside v's eager checkpoint), 2 jobs + double
      // work per round on this dim²-bounded frame
      val w = m.join(v.withColumnRenamed("i", "j"), "j")
        .groupBy("i").agg(sum(expr("m * v")).as("w"))
        .localCheckpoint(false)
      val mx = w.agg(max(abs(col("w")))).head().getLong(0)
      val d = math.max(mx / 1000000L, 1L)
      v = w.select(col("i"), expr(s"w div $d").as("v")).localCheckpoint(false)
    }
    v
  }

  /** Full pairwise Pearson correlation matrix over `cols` in ONE pass:
    * a single aggregation computes every Σx, Σx², and Σxᵢxⱼ as EXACT
    * decimal sums (associative, map-side combined — one shuffle of
    * k + k + k(k-1)/2 numbers total), then each of the k(k-1)/2 output
    * rows is one fixed double combination of those sums. Compare: naive
    * per-pair `corr()` calls would scan the table k(k-1)/2 times AND
    * accumulate doubles in partition order (not hash-stable).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String],
                 p: Int = 12, s: Int = 2): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val decs = cols.map(c => c -> col(c).cast(s"decimal($p,$s)")).toMap
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.flatMap(c => Seq(
        sum(decs(c)).cast("double").as(s"s_$c"),
        sum(decs(c) * decs(c)).cast("double").as(s"ss_$c"))) ++
      pairs.map { case (a, b) =>
        sum(decs(a) * decs(b)).cast("double").as(s"sp_${a}__$b") }
    // Width.spread: ~k² exact-decimal multiplies per row is CPU work the
    // fixture's single-split scan serialized onto one task (1.6 s of
    // task time ≈ the whole wall); decimal sums are exact, so the
    // rebalanced combine order cannot move the result
    val wide = Width.spread(df.select(cols.map(col): _*),
        xxhash64(cols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast("double")
    def corrOf(a: String, b: String): Column = {
      val num = n * col(s"sp_${a}__$b") - col(s"s_$a") * col(s"s_$b")
      val da = n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val db = n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      round(num / (sqrt(da) * sqrt(db)), 6)
    }
    // one explode over the single aggregate row — the scan happens once,
    // not once per pair
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("x_col"), lit(b).as("y_col"), corrOf(a, b).as("corr"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.x_col").as("x_col"), col("r.y_col").as("y_col"),
        col("r.corr").as("corr"))
  }

  /** Per-key final EWMA (`s_n = (1-α)·s_{n-1} + α·x_n`, `s_1 = x_1`) of a
    * double metric, folded in explicit event order. α must be DYADIC
    * (0.5, 0.25, …) so every multiply is exact bit-shifting in IEEE
    * doubles; the fold order is pinned by `sort_array` over the ordering
    * struct (≡ DuckDB `list(x ORDER BY …)` + `list_reduce`), so both
    * engines run the IDENTICAL operation sequence and the result is
    * bit-exact without rounding. The output still rounds at 1e-6 as
    * belt-and-braces against future metric columns that are derived
    * (not raw-parquet) doubles.
    *
    * Scale shape: one shuffle on the key; per-key state during the fold
    * is the key's event list (bounded by per-key activity, not table
    * size). The recurrence is a linear scan — for unbounded per-key
    * histories use the streaming form (`mapGroupsWithState` carrying one
    * double) instead of the batch fold.
    */
  def ewmaLast(df: DataFrame, keyCol: String, ordCols: Seq[Column],
               valCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha < 1 &&
      java.lang.Double.doubleToLongBits(alpha).toBinaryString.count(_ == '1') <= 12,
      s"alpha should be a short dyadic/low-mantissa constant, got $alpha")
    val ordered = sort_array(collect_list(struct(
      ordCols :+ col(valCol).cast("double").as("x"): _*)))
    df.groupBy(keyCol)
      .agg(ordered.as("s"))
      .select(col(keyCol), size(col("s")).as("n"),
        (floor(aggregate(
          slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
          element_at(col("s"), 1).getField("x"),
          (acc, e) => acc * lit(1 - alpha) + e.getField("x") * lit(alpha))
          * 1e6 + 0.5) / 1e6).as("ewma"))
  }

  /** Per-group robust outlier summary: lower median, MAD (median absolute
    * deviation), and the count of points deviating more than `k`·MAD —
    * entirely in EXACT decimal arithmetic (the median is the physical
    * element at position ⌊(n+1)/2⌋ of the sorted list, never an
    * interpolation, so no floats exist until the final display casts).
    *
    * Scale shape: one shuffle on the group key; each group's values are
    * collected and sorted within its task — right for many-groups/
    * bounded-group data (per-priority, per-day, per-tenant). For a group
    * that alone exceeds task memory, swap the exact median for the
    * KLL/GK sketch path (`q_sketch_quantiles`) and keep the same
    * deviation-count contract.
    */
  def madOutliers(df: DataFrame, groupCol: String, valCol: Column,
                  k: Int = 3): DataFrame = {
    val idx: Column => Column = n => ((n + 1) / lit(2)).cast("int")
    val g = df.select(col(groupCol), valCol.as("v"))
    g.groupBy(groupCol)
      .agg(sort_array(collect_list("v")).as("vs"), count(lit(1)).as("n"))
      .select(col(groupCol), col("n"),
        element_at(col("vs"), idx(col("n"))).as("med"), col("vs"))
      .select(col(groupCol), col("n"), col("med"),
        sort_array(transform(col("vs"), v => abs(v - col("med")))).as("ds"))
      .select(col(groupCol), col("n"), col("med"),
        element_at(col("ds"), idx(col("n"))).as("mad"), col("ds"))
      .select(col(groupCol), col("n"),
        col("med").cast("double").as("med"),
        col("mad").cast("double").as("mad"),
        size(filter(col("ds"), d => d > col("mad") * lit(k))).as("n_outliers"))
  }

  /** Trailing-window Pearson correlation per key: the six power sums
    * (n, Σx, Σy, Σx², Σy², Σxy) accumulate as EXACT decimals over a
    * ROWS frame, combined per row by one fixed IEEE sequence —
    * [[moments]]' determinism contract applied to a moving window, for
    * co-movement monitoring (price/quantity, metric pairs) without a
    * per-group collect. One hash exchange on the key feeds every
    * windowed sum. Rows with an incomplete window or a zero-variance
    * side are dropped (both conditions are exact decimal compares, so
    * the survivor set is engine-identical).
    */
  def rollingCorr(df: DataFrame, keyCol: String, ordCols: Seq[Column],
                  xCol: Column, yCol: Column, window: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ordCols: _*)
      .rowsBetween(-(window - 1), 0)
    val wn = Window.partitionBy(keyCol).orderBy(ordCols: _*)
    val staged = df.select(col(keyCol),
      row_number().over(wn).as("rn"),
      count(lit(1)).over(w).as("n"),
      sum(xCol).over(w).as("sx"), sum(yCol).over(w).as("sy"),
      sum(xCol * xCol).over(w).as("sxx"),
      sum(yCol * yCol).over(w).as("syy"),
      sum(xCol * yCol).over(w).as("sxy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    staged.filter(col("n") === window && dx > 0 && dy > 0)
      .select(col(keyCol), col("rn").cast("int").as("rn"),
        round(num.cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 6).as("corr"))
  }

  /** Per-group winsorized mean: clamp values at the exact PHYSICAL
    * percentile elements (position 1+⌊(n−1)·p/100⌋ of the sorted list —
    * element selection, never interpolation, same contract as
    * madOutliers' median) and average the clamped values — the standard
    * robust alternative to trimming that keeps n constant. The clamped
    * sum is an exact decimal aggregate; the single float op is the final
    * display division.
    *
    * Scale shape: bounds come from the per-group sorted list (bounded-
    * group contract, or swap in the quantile sketch); the clamped sum is
    * a SECOND streaming pass over the raw rows with the tiny bounds
    * frame broadcast back — so the heavy aggregation never materializes
    * per-group lists, only the bounds pass does.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, valCol: Column,
                     loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct <= hiPct && hiPct <= 100, "bad percent bounds")
    val g = df.select(col(groupCol).as("grp"), valCol.as("v"))
    // physical bound elements via a SPILLABLE rank window — identical
    // values to the previous sort_array(collect_list) form (the element
    // at a sorted rank is tie-order-proof), but a group of any size
    // streams through the window sort instead of materializing in one
    // reducer array (the collect_list 100 TB trap; see trimmedMean)
    val wOrd = Window.partitionBy("grp").orderBy("v")
    val wAll = Window.partitionBy("grp")
    val loAt = expr(s"1 + (n - 1) * $loPct div 100")
    val hiAt = expr(s"1 + (n - 1) * $hiPct div 100")
    val bounds = g.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === loAt || col("rn") === hiAt)
      .groupBy("grp")
      .agg(max("n").as("n"),
        min(when(col("rn") === loAt, col("v"))).as("lo"),
        min(when(col("rn") === hiAt, col("v"))).as("hi"))
    g.join(broadcast(bounds), Seq("grp"))
      .groupBy("grp", "n", "lo", "hi")
      .agg(sum(least(greatest(col("v"), col("lo")), col("hi"))).as("sw"))
      .select(col("grp"), col("n").cast("int").as("n"),
        col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"),
        round(col("sw").cast("double") / col("n"), 6).as("mean_w"))
  }

  /** Offline CUSUM change-point screen per key: for each key's series
    * x_1..x_n (ordered by `ordCols`), the centered cumulative sum at
    * position i is S_i = Σ_{j≤i}(x_j − x̄). The estimated single change
    * point is argmax_i |S_i| (ties → smallest i), and the statistic is
    * max|S_i|/n — the classic mean-shift detector (Page 1954; the offline
    * form is Pettitt-style). Everything before the final display division
    * is INTEGER arithmetic: x is scaled to micro-units with one IEEE
    * multiply + floor (bit-identical in any engine), and the centered sum
    * is kept as D_i = n·C_i − i·T (C_i = running sum, T = total) so no
    * rational mean ever appears — D_i = n·S_i exactly.
    *
    * Scale shape: one hash partitioning on the key feeds BOTH window
    * passes (running sum and the argmax rank — same partition spec, the
    * exchange is planned once), then the rn=1 filter. No collect, no
    * per-key list materialization: state per row is O(1), so a key with
    * millions of events streams through its sorted partition. Output is
    * one row per key.
    */
  def cusumChangePoint(df: DataFrame, keyCol: String, ordCols: Seq[Column],
                       valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ordCols: _*)
    val all = Window.partitionBy(keyCol)
    val scaled = df.withColumn("x",
      floor(col(valCol).cast("double") * 1e6 + 0.5).cast("long"))
    val d = scaled
      .select(col(keyCol),
        row_number().over(w).as("i"),
        sum("x").over(w).as("c"),
        sum("x").over(all).as("t"),
        count(lit(1)).over(all).as("n"))
      .select(col(keyCol), col("i"), col("n"),
        abs(col("n") * col("c") - col("i") * col("t")).as("d_abs"))
    val rank = Window.partitionBy(keyCol)
      .orderBy(col("d_abs").desc, col("i"))
    d.withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("n").cast("int").as("n"),
        col("i").cast("int").as("cp_pos"),
        round(col("d_abs").cast("double") / (col("n") * lit(1e6)), 6)
          .as("cp_stat"))
  }

  /** One-way ANOVA F on an INTEGER-valued column (callers quantize —
    * the `floor(x·10^s + 0.5)` house rule) across k groups, exact until
    * the final two IEEE divisions: per-group means are ×`scaleK`
    * truncating fixed point (`S_g·K div n_g`, positive-sum domain so
    * `div` == DuckDB `//`), and both sums of squares accumulate as
    * exact DECIMAL(38,0) in the SCALED space — SSW per row
    * `(v·K − m_g)²`, SSB per group `n_g·(m_g − m)²` — so no k-term
    * double sum ever depends on partition order. One aggregation over
    * the rows + a k-row reduce; the group means broadcast back.
    *
    * Bounds (document at call sites): |v|·K < 2⁶³ per row, and
    * N·(max|v·K − m|)² < 10³⁸ for the decimal SSW sum.
    *
    * η² = SSB/(SSB+SSW) is scale-invariant; F additionally multiplies
    * by the exact integer df ratio. Quantization means this is ANOVA of
    * the quantized values — deviations O(1/K) of a value unit,
    * deterministic on both engines.
    */
  def anovaF(df: DataFrame, groupCol: Column, valCol: Column,
             scaleK: Long = 1000000L): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val rows = df.select(groupCol.as("g"), valCol.cast("long").as("v"))
    val g = rows.groupBy("g").agg(count(lit(1)).as("n"), sum(d38(col("v"))).as("s"))
      .withColumn("m", expr(s"s * $scaleK div n"))
    val tot = g.agg(sum("n").cast("long").as("nn"),
        count(lit(1)).cast("int").as("k"), sum(d38(col("s"))).as("ss"))
      .withColumn("mm", expr(s"ss * $scaleK div nn"))
    val ssb = g.crossJoin(broadcast(tot))
      .agg(sum(d38(col("n")) * d38(col("m") - col("mm"))
        * d38(col("m") - col("mm"))).as("ssb"))
    val ssw = rows.join(broadcast(g.select("g", "m")), Seq("g"))
      .agg(sum(d38(col("v") * lit(scaleK) - col("m"))
        * d38(col("v") * lit(scaleK) - col("m"))).as("ssw"))
    ssb.crossJoin(ssw).crossJoin(broadcast(tot.select("nn", "k")))
      .select(col("k").as("k_groups"), col("nn").as("n"),
        col("ssb").cast("double").as("ssb"),
        col("ssw").cast("double").as("ssw"),
        round(col("ssb").cast("double") / (col("k") - 1)
          / (col("ssw").cast("double") / (col("nn") - col("k"))), 6).as("f_stat"),
        round(col("ssb").cast("double")
          / (col("ssb") + col("ssw")).cast("double"), 6).as("eta2"))
  }

  /** Levene's homogeneity-of-variance test (mean-centered form): ANOVA F
    * on z = |v·K − m_g| — absolute deviations from the ×K truncating
    * fixed-point group mean. The classic pre-check before trusting a
    * pooled-variance t-test. Deviations carry the K scale already, so
    * the inner ANOVA quantizes no further than `innerK`.
    */
  def levene(df: DataFrame, groupCol: Column, valCol: Column,
             scaleK: Long = 1000000L, innerK: Long = 1000L): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // no checkpoint: rows is corpus-sized and every consumer re-derives it
    // from the deterministic source scan with one narrow projection
    val rows = df.select(groupCol.as("g"), valCol.cast("long").as("v"))
    val means = rows.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(d38(col("v"))).as("s"))
      .withColumn("m", expr(s"s * $scaleK div n"))
    val z = rows.join(broadcast(means.select("g", "m")), Seq("g"))
      .select(col("g"), abs(col("v") * lit(scaleK) - col("m")).as("z"))
    anovaF(z, col("g"), col("z"), innerK)
  }

  /** Kruskal–Wallis H: the k-group rank test (Mann–Whitney's
    * generalization), exactly. Tie-averaged ranks stay integral as
    * DOUBLED ranks: a value with `c_v` copies and `p_v` smaller rows has
    * 2·r̄ = 2p_v + c_v + 1, with p_v from the windowless
    * [[Ranks.prefixCounts]] prefix machinery over the per-value counts —
    * a continuous value domain stays distributed. Per group,
    * T_g = (2R_g)² div n_g in truncating fixed point (positive domain),
    * H = 3·ΣT_g/(N(N+1)) − 3(N+1), then the tie correction
    * H/(1 − Σ(c³−c)/(N³−N)) — integers until the final IEEE steps.
    * Long bound: (2R_g)² div n_g ≈ n_g·N² must fit 2⁶³ (holds through
    * ~10⁹ rows per group at N ≈ 10⁹ × ... — beyond that lift T to
    * decimal).
    */
  def kruskalWallis(df: DataFrame, groupCol: Column, valCol: Column): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val vg = df.select(groupCol.as("g"), valCol.as("v"))
      .groupBy("v", "g").agg(count(lit(1)).as("cgv"))
      .localCheckpoint() // consumers: per-value totals + the rank passes
    val pv = vg.groupBy("v").agg(sum("cgv").as("c"))
    val pre = Ranks.prefixCounts(pv, "v", Seq("c"))
      .select(col("v"), col("c"), (col("c_cum") - col("c")).as("p"))
    val ties = pre.agg(sum(d38(col("c")) * d38(col("c")) * d38(col("c"))
      - d38(col("c"))).cast("decimal(38,0)").as("tie"))
    val grp = vg.join(pre, Seq("v"))
      .groupBy("g").agg(sum("cgv").cast("long").as("n"),
        // 2r̄ = 2p + c + 1 uses the value's TOTAL count c (ties average
        // across ALL groups), weighted by this group's slice cgv
        sum(d38(col("cgv")) * d38(lit(2) * col("p") + col("c") + 1))
          .as("r2"))
      .select(col("g"), col("n"), expr("r2 * r2 div n").as("t_fp"))
    val tot = grp.agg(count(lit(1)).cast("int").as("k"),
      sum("n").cast("long").as("nn"), sum(d38(col("t_fp"))).as("t"))
    tot.crossJoin(ties)
      .select(col("k").as("k_groups"), col("nn").as("n"),
        col("t").cast("long").as("t_sum"), col("tie").cast("long").as("tie_sum"),
        round(lit(3) * col("t").cast("double")
            / (col("nn").cast("double") * (col("nn") + lit(1)).cast("double"))
          - lit(3) * (col("nn") + lit(1)).cast("double"), 6).as("h"),
        round((lit(3) * col("t").cast("double")
            / (col("nn").cast("double") * (col("nn") + lit(1)).cast("double"))
          - lit(3) * (col("nn") + lit(1)).cast("double"))
          / (lit(1) - col("tie").cast("double")
            / (d38(col("nn")) * d38(col("nn")) * d38(col("nn"))
               - d38(col("nn"))).cast("double")), 6).as("h_adj"))
  }

  /** Inter-arrival burstiness per stream key: gaps from each entity's
    * ordered event sequence (per-entity PARTITIONED window — state
    * bounded by one entity's history), grouped by the stream key of the
    * gap-opening event. Exact integer power sums of millisecond gaps →
    * CV² = (nQ − S²)·10⁶ div S² in truncating fixed point (positive
    * domain) and the Goh–Barabási B = (σ−μ)/(σ+μ) with one IEEE sqrt.
    * Decimal bound: n·Σgap² < 10³⁸ (holds to ~10¹² gaps of a year in
    * ms).
    */
  def burstiness(df: DataFrame, entityCol: Column, keyCol: Column,
                 tsMillisCol: Column, tieCol: Column): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val w = Window.partitionBy("e").orderBy(col("t"), col("tie"))
    val gaps = df.select(entityCol.as("e"), keyCol.as("key"),
        tsMillisCol.cast("long").as("t"), tieCol.as("tie"))
      .withColumn("nxt", lead(col("t"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("key"), (col("nxt") - col("t")).as("gap"))
    gaps.groupBy("key")
      .agg(count(lit(1)).as("n"), sum(d38(col("gap"))).as("s"),
        sum(d38(col("gap")) * d38(col("gap"))).as("q"))
      .select(col("key"), col("n").cast("long").as("n_gaps"),
        col("s").cast("long").as("sum_ms"),
        expr("(n * q - s * s) * 1000000 div (s * s)").cast("long")
          .as("cv2_x1e6"),
        round((sqrt((col("n") * col("q") - col("s") * col("s")).cast("double"))
            - col("s").cast("double"))
          / (sqrt((col("n") * col("q") - col("s") * col("s")).cast("double"))
            + col("s").cast("double")), 6).as("burstiness"))
  }

  /** Mann–Kendall monotonic-trend test + Sen's slope over an
    * integer-valued regular series: S = Σ sign(v_j − v_i) over ordered
    * pairs, tie-corrected Var·18 exactly in integers, the
    * continuity-corrected z as one IEEE combination, and Sen's slope as
    * the PHYSICAL lower-middle pairwise slope (dv, dt reported exactly;
    * the ordering key is the deterministic IEEE quotient with (dv, dt)
    * tie-breaks, so both engines select the identical pair).
    *
    * SPAN-BOUNDED CONTRACT (the acf discipline): the pair join is
    * O(T²) in the SERIES length — the time-domain span (an hourly year
    * is 8.8k points → 38M pairs), never the event volume that produced
    * it. Callers aggregate to the series first.
    */
  def mannKendall(df: DataFrame, tCol: Column, vCol: Column): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val h = df.select(tCol.cast("long").as("t"), vCol.cast("long").as("v"))
      .localCheckpoint() // consumers: pairs ×2 actions, tie counts, T
    val pairs = h.as("a").join(h.as("b"), col("b.t") > col("a.t"))
      .select((col("b.v") - col("a.v")).as("dv"),
        (col("b.t") - col("a.t")).as("dt"))
    val sAgg = pairs.agg(count(lit(1)).cast("long").as("n_pairs"),
      sum(when(col("dv") > 0, 1L).when(col("dv") < 0, -1L).otherwise(0L))
        .cast("long").as("s"))
    val tn = h.count()
    val tie = h.groupBy("v").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(d38(col("c")) * (col("c") - 1) * (lit(2) * col("c") + 5)),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("ts"))
    val sen = pairsMedianSlope(pairs)
    sAgg.crossJoin(tie).crossJoin(sen)
      .select(lit(tn).as("n_points"), col("n_pairs"), col("s"),
        (d38(lit(tn)) * (lit(tn) - 1) * (lit(2) * tn + 5) - col("ts"))
          .cast("long").as("var18"),
        round((col("s") - signum(col("s"))).cast("double")
          / sqrt((d38(lit(tn)) * (lit(tn) - 1) * (lit(2) * tn + 5) - col("ts"))
            .cast("double") / 18.0), 6).as("z"),
        col("sen_dv"), col("sen_dt"),
        round(col("sen_dv").cast("double") / col("sen_dt").cast("double"), 6)
          .as("sen_slope"))
  }

  /** The pair whose slope sits at the 0-based lower-middle of the
    * ascending slope order — selected PHYSICALLY by the double-sort
    * trick (asc limit k+1, then desc limit 1): both sorts plan as
    * TakeOrdered, never a full global sort. The ordering key is the
    * IEEE quotient with exact (dv, dt) tie-breaks — identical on any
    * engine, so the picked pair (and hence the reported exact dv/dt)
    * is deterministic even among equal slopes.
    */
  private def pairsMedianSlope(pairs: DataFrame): DataFrame = {
    val m = pairs.count()
    val k = ((m - 1) / 2).toInt
    val keyed = pairs.withColumn("__q",
      col("dv").cast("double") / col("dt").cast("double"))
    keyed.orderBy(col("__q"), col("dv"), col("dt")).limit(k + 1)
      .orderBy(col("__q").desc, col("dv").desc, col("dt").desc).limit(1)
      .select(col("dv").as("sen_dv"), col("dt").as("sen_dt"))
  }

  /** Kendall's τ-b between two integer-valued regular series joined on
    * the shared index: concordant/discordant/tied pair counts exactly,
    * τ-b = (C − D)/√((n0−n1)(n0−n2)) as one IEEE combination. Same
    * span-bounded O(T²) pair contract as [[mannKendall]].
    */
  def kendallTau(x: DataFrame, y: DataFrame, tCol: String,
                 vCol: String): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val j = x.select(col(tCol).cast("long").as("t"), col(vCol).cast("long").as("xv"))
      .join(y.select(col(tCol).cast("long").as("t"), col(vCol).cast("long").as("yv")),
        "t")
    val p = j.as("a").join(j.as("b"), col("b.t") > col("a.t"))
      .select((col("b.xv") - col("a.xv")).as("dx"),
        (col("b.yv") - col("a.yv")).as("dy"))
    p.agg(count(lit(1)).cast("long").as("n0"),
        sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
          (col("dx") > 0) === (col("dy") > 0), 1L).otherwise(0L))
          .cast("long").as("c"),
        sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
          (col("dx") > 0) =!= (col("dy") > 0), 1L).otherwise(0L))
          .cast("long").as("d"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).cast("long").as("n2"))
      .select(col("n0"), col("c"), col("d"), col("n1"), col("n2"),
        round((col("c") - col("d")).cast("double")
          / sqrt((d38(col("n0") - col("n1")) * d38(col("n0") - col("n2")))
            .cast("double")), 6).as("tau_b"))
  }

  /** Per-group Sen's slope (the Theil–Sen robust trend, grouped): for
    * each group, the PHYSICAL lower-middle pairwise slope of its
    * (t, v) series. Pairs join per group (same span-bounded contract
    * as [[mannKendall]]), then a PARTITIONED row_number window over the
    * deterministic (IEEE quotient, dv, dt) order picks index
    * ⌊(m−1)/2⌋ — one sort per group, each group's pair list
    * span-bounded by construction.
    */
  def senSlopeByGroup(df: DataFrame, gCol: Column, tCol: Column,
                      vCol: Column): DataFrame = {
    // PIN the group exchange width (r16, guide §2.5, the linkage
    // lesson): the per-group pair fan-out is O(T²) CPU while the hourly
    // rows are bytes, so AQE's byte-based coalescing folded the
    // join+window stage to 4 tasks (2.4 s of task time serialized).
    // Both self-join arms and the rank window reuse this ONE pinned
    // exchange (ClusteredDistribution(g) is satisfied), so no shuffle
    // is added; parallelism is still bounded by |groups|.
    // SIZED from the exact pair fan-out Σ T_g(T_g−1)/2 (Width.forWork,
    // PairsPerTask), read by one HotKeys.mass probe on the checkpointed
    // input (bytes on the driver stay constant at any group count; the
    // checkpoint means the input aggregation still runs exactly once).
    // Capped at 8× the group count so distinct groups rarely hash-collide
    // into one task while a tiny input still plans a few tasks.
    val h0 = df.select(gCol.as("g"), tCol.cast("long").as("t"),
      vCol.cast("long").as("v"))
      .localCheckpoint(false) // consumers: probe + both self-join arms
    val m = HotKeys.mass(h0, Seq("g"), Int.MaxValue)
    val nPart = math.max(1L, math.min(8L * m.keys,
      Width.forWork(df.sparkSession, m.pairs, Width.PairsPerTask))).toInt
    val h = h0.repartition(nPart, col("g"))
    val p = h.as("a").join(h.as("b"),
        col("a.g") === col("b.g") && col("b.t") > col("a.t"))
      .select(col("a.g").as("g"), (col("b.v") - col("a.v")).as("dv"),
        (col("b.t") - col("a.t")).as("dt"))
      .withColumn("__q", col("dv").cast("double") / col("dt").cast("double"))
    val w = Window.partitionBy("g").orderBy(col("__q"), col("dv"), col("dt"))
    val all = Window.partitionBy("g")
    p.withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(all))
      .filter(col("rn") === expr("(m - 1) div 2 + 1"))
      .select(col("g"), col("m").as("n_pairs"), col("dv").as("sen_dv"),
        col("dt").as("sen_dt"),
        round(col("dv").cast("double") / col("dt").cast("double"), 6)
          .as("sen_slope"))
  }

  /** Cochran–Armitage trend-in-proportions test across ordered doses
    * (tiers, buckets, priority levels): is the positive rate rising or
    * falling MONOTONICALLY with the dose score w? T·N =
    * Σ wᵢ(xᵢN − nᵢX) exactly in integers, and
    * z = T·N / √(X(N−X)(N·Σw²nᵢ − (Σwnᵢ)²)/N) as one IEEE combination
    * over exact decimal pieces. One dose-keyed aggregate (k rows) + a
    * k-row reduce.
    */
  def cochranArmitage(df: DataFrame, doseCol: Column, posCol: Column): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val g = df.select(doseCol.cast("long").as("w"),
        when(posCol, 1L).otherwise(0L).as("x"))
      .groupBy("w").agg(count(lit(1)).as("n"), sum("x").as("x"))
    val tot = g.agg(sum("n").cast("long").as("nn"), sum("x").cast("long").as("xx"))
    val parts = g.crossJoin(broadcast(tot))
      .agg(count(lit(1)).cast("int").as("k_doses"),
        sum(d38(col("w")) * (d38(col("x")) * col("nn") - d38(col("n")) * col("xx")))
          .as("tn"),
        sum(d38(col("w")) * col("w") * col("n")).as("w2n"),
        sum(d38(col("w")) * col("n")).as("wn"))
    parts.crossJoin(broadcast(tot))
      .select(col("k_doses"), col("nn").as("n"), col("xx").as("x"),
        col("tn").cast("long").as("t_n"),
        round(col("tn").cast("double")
          / sqrt((d38(col("xx")) * (col("nn") - col("xx"))
            * (col("nn") * col("w2n") - col("wn") * col("wn"))).cast("double")
            / col("nn").cast("double")), 6).as("z"))
  }

  /** Classical seasonal decomposition at an even period P (the X-11
    * opening move): trend = centered (P+1)-term moving average with
    * half-weight ends — exactly, as S = v_{t−P/2} + v_{t+P/2} +
    * 2·Σ_{|k|<P/2} v_{t+k}, trend·2P = S·10⁶ div 2P in truncating fixed
    * point (positive counts) — then the seasonal index per phase
    * (t mod P) as the mean detrended deviation, reported as an exact
    * sum + one IEEE division. Gap-robust: a t missing any of its 2P+1
    * neighbors is excluded (pairwise-complete, the acf rule). One
    * literal (2P+1)-way explode + ONE shifted-index equi-join — linear
    * in the series, no window, no driver state.
    */
  def seasonalDecompose(df: DataFrame, tCol: Column, vCol: Column,
                        period: Int): DataFrame = {
    require(period >= 2 && period % 2 == 0, "even period required")
    val half = period / 2
    val h = df.select(tCol.cast("long").as("t"), vCol.cast("long").as("v"))
    val offs = (-half to half).map(k =>
      struct(lit(k).as("k"), lit(if (math.abs(k) == half) 1L else 2L).as("w")))
    val fan = h.select(col("t"), explode(array(offs: _*)).as("o"))
      .select((col("t") + col("o.k")).as("ts"), col("t"), col("o.w"))
    val nbr = h.select(col("t").as("ts"), col("v").as("nv"))
    val trend = fan.join(nbr, "ts")
      .groupBy("t").agg(count(lit(1)).as("cnt"),
        sum(col("w") * col("nv")).as("s2p"))
      .filter(col("cnt") === 2 * half + 1)
      .select(col("t"), expr(s"s2p * 1000000 div ${2 * period}").as("trend_fp"))
    trend.join(h, "t")
      .select(pmod(col("t"), lit(period)).cast("int").as("phase"),
        (col("v") * 1000000L - col("trend_fp")).as("d_fp"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_points"), sum("d_fp").cast("long").as("d_sum"))
      .select(col("phase"), col("n_points"), col("d_sum"),
        round(col("d_sum").cast("double")
          / (col("n_points").cast("double") * 1e6), 6).as("seasonal"))
  }

  /** Mutual information between two categorical columns, with the
    * marginal entropies and the normalized MI — the feature-redundancy /
    * label-leakage screen run before training a classifier on tabular
    * features. Each cell term ln(n_ij·N / (n_i·n_j)) takes its log of an
    * EXACT rational (decimal cross-products, one IEEE division), is
    * quantized once to 1e12 fixed point, and the Σ n_ij·t_ij reductions
    * are exact decimal sums — order-free, so the result is bit-stable
    * under any partitioning; the only remaining float ops are three final
    * divisions and one sqrt. One (x,y)-keyed aggregate (cells) + two
    * cell-table re-aggregates for the margins — the raw rows are scanned
    * once.
    */
  def mutualInfo(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def d38(c: Column): Column = Exact.d38(c)
    def qln(num: Column, den: Column): Column = Exact.qln12(num, den)
    val cells = df.select(xCol.as("x"), yCol.as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // consumers: both margins + the cell reduce
    val mx = cells.groupBy("x").agg(sum("nij").as("ni"))
    val my = cells.groupBy("y").agg(sum("nij").as("nj"))
    val tot = cells.agg(sum("nij").cast("long").as("n"))
    val mi = cells.join(mx, "x").join(my, "y").crossJoin(broadcast(tot))
      .agg(sum(d38(col("nij")) *
        qln(d38(col("nij")) * col("n"), d38(col("ni")) * col("nj"))).as("mi_q"))
    def entQ(m: DataFrame, cnt: String, kName: String, qName: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .agg(count(lit(1)).cast("int").as(kName),
          sum(d38(col(cnt)) * qln(d38(col("n")), d38(col(cnt)))).as(qName))
    val scale = lit(1e12)
    entQ(mx, "ni", "k_x", "hx_q").crossJoin(entQ(my, "nj", "k_y", "hy_q"))
      .crossJoin(mi).crossJoin(broadcast(tot))
      .select(col("n"), col("k_x"), col("k_y"),
        round(col("mi_q").cast("double") / (col("n").cast("double") * scale), 6)
          .as("mi_nats"),
        round(col("hx_q").cast("double") / (col("n").cast("double") * scale), 6)
          .as("h_x"),
        round(col("hy_q").cast("double") / (col("n").cast("double") * scale), 6)
          .as("h_y"),
        round(col("mi_q").cast("double")
          / sqrt(col("hx_q").cast("double") * col("hy_q").cast("double")), 6)
          .as("nmi"))
  }

  /** Nelson–Aalen cumulative hazard with right censoring: at each
    * distinct duration t, H(t) = Σ_{t'≤t} d_{t'}/n_{t'} — the additive
    * companion to [[kaplanMeier]] (same per-duration aggregate, same
    * at-risk machinery), preferred when hazards are summed or compared
    * across cohorts. Each increment d/n is one IEEE division quantized
    * to 1e12 fixed point; the cumulative sum is then an EXACT integer
    * prefix sum via [[Ranks.prefixCounts]] — no unpartitioned window, no
    * order-dependent float accumulation, identical under any
    * partitioning. Two prefix passes over the duration-sized aggregate
    * (at-risk counts, then the hazard cumsum); the raw rows are scanned
    * once.
    */
  def nelsonAalen(df: DataFrame, durCol: Column, eventCol: Column): DataFrame = {
    val g = df.select(durCol.as("t"), eventCol.cast("long").as("d"))
      .groupBy("t").agg(sum("d").as("d"), count(lit(1)).as("c"))
      .localCheckpoint() // consumers: totals + two Ranks passes
    val tot = g.agg(sum("c").as("n_tot"))
    val staged = Ranks.prefixCounts(g, "t", Seq("c"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("d"),
        (col("n_tot") - (col("c_cum") - col("c"))).as("n_risk"))
      .withColumn("hq",
        floor(col("d").cast("double") / col("n_risk").cast("double") * 1e12
          + 0.5))
      .localCheckpoint() // Ranks deterministic-input contract, pass 2
    Ranks.prefixCounts(staged, "t", Seq("hq"))
      .select(col("t"), col("d").cast("int").as("d"),
        col("n_risk").cast("int").as("n_risk"),
        round(col("hq_cum").cast("double") / 1e12, 6).as("h_t"))
  }

  /** Sequential probability ratio test (Wald) for a Bernoulli rate over
    * a DETERMINISTIC observation order: cumulative log-likelihood ratio
    * Λ_n = Σ xᵢ·ln(p₁/p₀) + (1−xᵢ)·ln((1−p₁)/(1−p₀)) against the
    * boundaries ln((1−β)/α) (accept H₁) and ln(β/(1−α)) (accept H₀) —
    * the always-valid A/B readout that stops as soon as the evidence
    * suffices instead of at a fixed n. The two per-observation log
    * terms and both boundaries are constants: each takes its log ONCE
    * (quantized to 1e12 fixed point), so the running Λ is an EXACT
    * integer prefix sum via [[Ranks.prefixCounts]] — no unpartitioned
    * window, no order-dependent float accumulation. Output one row:
    * n, final Λ (nats), the first crossing position per boundary, and
    * the decision at the data's end. `ordCol` must be unique per row
    * (the prefix contract) — pre-aggregate to one observation per
    * subject first.
    */
  def sprtBernoulli(df: DataFrame, ordCol: Column, xCol: Column,
                    p0: Double, p1: Double,
                    alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "need distinct rates inside (0, 1)")
    def q12(c: Column): Column = floor(c * 1e12 + 0.5).cast("long")
    // all four log constants evaluate once via constant folding — the
    // engines share the literal ratios, so the quantized longs agree
    val la = q12(log(lit(p1) / lit(p0)))
    val lb = q12(log((lit(1d) - lit(p1)) / (lit(1d) - lit(p0))))
    val up = q12(log((lit(1d) - lit(beta)) / lit(alpha)))
    val dn = q12(log(lit(beta) / (lit(1d) - lit(alpha))))
    val g = df.select(ordCol.as("i"), xCol.cast("long").as("x"))
      .withColumn("llr_q",
        col("x") * la + (lit(1L) - col("x")) * lb)
    val c = Ranks.prefixCounts(g, "i", Seq("llr_q"))
    c.agg(count(lit(1)).cast("long").as("n"),
        max_by(col("llr_q_cum"), col("i")).as("llr_final_q"),
        min(when(col("llr_q_cum") >= up, col("i"))).as("first_h1"),
        min(when(col("llr_q_cum") <= dn, col("i"))).as("first_h0"))
      .select(col("n"),
        round(col("llr_final_q").cast("double") / 1e12, 6).as("llr_final"),
        col("first_h1"), col("first_h0"),
        when(col("first_h1").isNotNull &&
            (col("first_h0").isNull || col("first_h1") <= col("first_h0")),
            "accept_h1")
          .when(col("first_h0").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** Entropy rate of a first-order Markov process from observed
    * transitions: H = −Σ_{s,s'} (n_{ss'}/N)·ln(n_{ss'}/n_s) — how
    * predictable the next event is given the current one, with the
    * normalized predictability 1 − H/ln k (k = observed states). The
    * behavioral-sequence companion to [[mutualInfo]]: same exact-decimal
    * cell machinery, each ln of an exact rational quantized once to 1e12,
    * exact order-free reductions, three final IEEE divisions. One
    * (cur,next)-cell aggregate; cells ≪ rows.
    */
  def entropyRate(df: DataFrame, curCol: Column, nxtCol: Column): DataFrame = {
    def d38(c: Column): Column = Exact.d38(c)
    def qln(num: Column, den: Column): Column = Exact.qln12(num, den)
    val c = df.select(curCol.as("cur"), nxtCol.as("nxt"))
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      .localCheckpoint() // consumers: margins + the cell reduce
    val t = c.groupBy("cur").agg(sum("n").as("tn"))
    val tot = c.agg(sum("n").cast("long").as("nn"),
      countDistinct("cur").cast("long").as("k"))
    c.join(broadcast(t), "cur").crossJoin(broadcast(tot))
      .agg(first("nn").as("nn"), first("k").as("k"),
        sum(d38(col("n")) * qln(col("n"), col("tn"))).as("h_q"))
      .select(col("nn").as("n_transitions"), col("k").cast("int")
          .as("k_states"),
        round(-col("h_q").cast("double") / (col("nn").cast("double") * 1e12),
          6).as("entropy_rate_nats"),
        round(log(col("k").cast("double")), 6).as("max_entropy_nats"),
        // single-state chains have ln k = 0: predictability undefined,
        // published NULL rather than a NaN/−Inf
        when(col("k") > 1, round(lit(1d) + col("h_q").cast("double")
          / (col("nn").cast("double") * 1e12 * log(col("k").cast("double"))),
          6)).as("predictability"))
  }

  /** Instrumental-variable (Wald) estimate with a BINARY instrument:
    * β_IV = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — the local average treatment effect when
    * the instrument (an encouragement, a rollout flag) moves exposure
    * but can only touch the outcome THROUGH it. Cross-multiplied form
    * (sy₁n₀ − sy₀n₁)/(sx₁n₀ − sx₀n₁): exact decimal sums, ONE IEEE
    * division for β (and one each for the first stage and the ITT).
    * NULL when the instrument does not move exposure (zero denominator).
    * One tiny two-arm aggregate; rows are scanned once.
    */
  def ivWald(df: DataFrame, zCol: Column, xCol: Column,
             yCol: Column): DataFrame = {
    def d38(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val g = df.select(zCol.as("z"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .agg(sum(when(col("z"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("z"), col("x")).otherwise(0L)).as("sx1"),
        sum(when(col("z"), col("y")).otherwise(0L)).as("sy1"),
        sum(when(!col("z"), 1L).otherwise(0L)).as("n0"),
        sum(when(!col("z"), col("x")).otherwise(0L)).as("sx0"),
        sum(when(!col("z"), col("y")).otherwise(0L)).as("sy0"))
    val dx = d38(col("sx1")) * col("n0") - d38(col("sx0")) * col("n1")
    val dy = d38(col("sy1")) * col("n0") - d38(col("sy0")) * col("n1")
    val nn = d38(col("n1")) * col("n0")
    g.select(col("n1"), col("n0"),
      round(dx.cast("double") / nn.cast("double"), 6).as("first_stage"),
      round(dy.cast("double") / nn.cast("double"), 6).as("itt"),
      when(dx =!= 0, round(dy.cast("double") / dx.cast("double"), 6))
        .as("beta_iv"))
  }

  /** Sharp regression discontinuity: local-linear fits on either side of
    * the cutoff (running variable pre-centered so the cutoff is 0,
    * window ±`bandwidth`), effect = the jump between the two intercepts
    * AT the cutoff. Per side the OLS closed form runs on exact decimal
    * power sums (n, Σx, Σy, Σxx, Σxy) — intercept and slope each take
    * one IEEE division; sides with a singular design (n < 2 or constant
    * x) report NULL. One aggregate over the two windows; rows outside
    * the bandwidth are filtered at the scan.
    */
  def rdd(df: DataFrame, runCol: Column, yCol: Column,
          bandwidth: Long): DataFrame = {
    require(bandwidth > 0, "bandwidth must be positive")
    def d38(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val base = df.select(runCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .filter(col("x") >= -bandwidth && col("x") <= bandwidth)
      .withColumn("side", col("x") >= 0)
    val g = base.groupBy("side").agg(count(lit(1)).as("n"),
      sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
      sum(d38(col("x")) * col("x")).as("sxx"),
      sum(d38(col("x")) * col("y")).as("sxy"))
    def sideRow(flag: Boolean, tag: String): DataFrame = {
      val det = col("n") * col("sxx") - col("sx") * col("sx")
      g.filter(col("side") === flag).select(
        col("n").as(s"n_$tag"),
        when(det =!= 0, round((col("sy") * col("sxx")
          - col("sx") * col("sxy")).cast("double") / det.cast("double"), 6))
          .as(s"a_$tag"),
        when(det =!= 0, round((col("n") * col("sxy")
          - col("sx") * col("sy")).cast("double") / det.cast("double"), 6))
          .as(s"b_$tag"))
    }
    sideRow(false, "l").crossJoin(sideRow(true, "r"))
      .select(lit(bandwidth).as("bandwidth"), col("n_l"), col("n_r"),
        col("a_l"), col("b_l"), col("a_r"), col("b_r"),
        round(col("a_r") - col("a_l"), 6).as("rdd_effect"))
  }

  /** Raking / iterative proportional fitting: per-cell weights that make
    * the SAMPLE's two categorical margins match a REFERENCE's (the
    * post-stratification step survey analysis and covariate-balancing
    * A/B reads run before comparing outcomes). `iters` alternating
    * row/column passes in ×10⁶ truncating integer fixed point —
    * w ← w·(10⁶·target_margin) ÷ current_weighted_margin, target margins
    * the reference's counts rescaled to the sample total (÷ truncating) —
    * so every engine replays the identical integers; IPF converges
    * geometrically and 8 double-passes are far past 6-dp stability on
    * non-degenerate tables. Cells missing from the sample get no weight
    * (a margin the sample cannot express stays unmatched — check
    * `w_margin_*` in the output). One aggregate per side; the fitting
    * loop runs driver-side on the (domain × domain)-bounded cell table.
    * Output per cell: row/col keys, n, the fitted weight, and the
    * weighted count n·w (both ÷10⁶, 6 dp).
    */
  def rake(sample: DataFrame, reference: DataFrame, rowCol: String,
           colCol: String, iters: Int = 8): DataFrame = {
    val spark = sample.sparkSession
    import spark.implicits._
    // BOUNDED collects: category-domain-sized margins + cells
    // keys cast to STRING on both sides (margins already do): any key
    // type rakes, and targets always match cell keys
    val cells = sample.groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("n")).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val n = cells.map(_._3).sum
    def margins(df: DataFrame, k: String) =
      df.groupBy(col(k).cast("string").as("k")).agg(count(lit(1)).as("n"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val (refR, refC) = (margins(reference, rowCol), margins(reference, colCol))
    val refN = refR.values.sum
    // reference margins rescaled to the sample total (truncating)
    def target(m: Map[String, Long]): Map[String, Long] =
      m.map { case (k, v) => k -> v * n / refN }
    val (tR, tC) = (target(refR), target(refC))
    var w = cells.map { case (r, c, _) => (r, c) -> 1000000L }.toMap
    for (_ <- 1 to iters) {
      val rowTot = cells.groupBy(_._1).map { case (r, cs) =>
        r -> cs.map(x => BigInt(x._3) * w((x._1, x._2))).sum
      }
      w = cells.map { case (r, c, _) =>
        val t = BigInt(tR.getOrElse(r, 0L)) * 1000000L
        (r, c) -> (BigInt(w((r, c))) * t / rowTot(r).max(1)).toLong
      }.toMap
      val colTot = cells.groupBy(_._2).map { case (c, cs) =>
        c -> cs.map(x => BigInt(x._3) * w((x._1, x._2))).sum
      }
      w = cells.map { case (r, c, _) =>
        val t = BigInt(tC.getOrElse(c, 0L)) * 1000000L
        (r, c) -> (BigInt(w((r, c))) * t / colTot(c).max(1)).toLong
      }.toMap
    }
    cells.map { case (r, c, cn) =>
      val wq = w((r, c))
      (r, c, cn,
        BigDecimal(wq.toDouble / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(cn.toDouble * wq / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.toDF(rowCol, colCol, "n", "weight", "n_weighted")
  }

  /** Two-sided normal p-value ×10⁹ from |z|, via the Zelen–Severo
    * polynomial (Abramowitz–Stegun 26.2.17, |ε| < 7.5·10⁻⁸) — a FIXED
    * Horner chain + one exp, so any engine replays the same doubles;
    * quantized once so downstream comparisons are exact integers.
    * Clamped to ≤ 10⁹ (the polynomial overshoots 1 by <1e-7 at z≈0).
    */
  private def twoSidedPQ9(absZ: Column): Column = {
    val k = lit(1d) / (lit(1d) + lit(0.2316419) * absZ)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) + k *
      (lit(1.781477937) + k * (lit(-1.821255978) + k * lit(1.330274429)))))
    val pdf = exp(absZ * absZ * lit(-0.5)) * lit(0.3989422804014327)
    least(floor(lit(2d) * pdf * poly * 1e9 + 0.5).cast("long"),
      lit(1000000000L))
  }

  /** Benjamini–Hochberg FDR correction over per-stratum two-proportion
    * z-tests — the multiple-testing discipline a segment-drilldown A/B
    * readout needs (25 segments at α=0.05 expect one false "winner"
    * uncorrected). Per stratum: pooled-variance z (the
    * [[Eval.twoProportionZ]] shape), two-sided p ×10⁹ via a shared
    * normal-CDF polynomial (one quantization, so the step-up compares
    * are EXACT integers: p_q·m·1000 ≤ rank·α_milli·10⁹ as decimals),
    * rank from [[Ranks.globalRank]] (no single-task sort), significant ⇔
    * rank ≤ max passing rank. Strata with an empty arm or a degenerate
    * pooled rate report p = 1.
    */
  def bhFdrTwoProportion(df: DataFrame, strataCol: Column, isACol: Column,
                         convCol: Column, alphaMilli: Int = 50): DataFrame = {
    require(alphaMilli > 0 && alphaMilli < 1000, "alphaMilli in (0, 1000)")
    def d38(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val cells = df.select(strataCol.as("s"), isACol.as("a"),
        convCol.cast("long").as("c"))
      .groupBy("s").agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("a"), col("c")).otherwise(0L)).as("x1"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("a"), col("c")).otherwise(0L)).as("x2"))
      .localCheckpoint() // consumers: count + rank pass + the k-max join
    val m = cells.count()
    def d(c: Column) = c.cast("double")
    val p1 = d(col("x1")) / d(col("n1"))
    val p2 = d(col("x2")) / d(col("n2"))
    val pp = d(col("x1") + col("x2")) / d(col("n1") + col("n2"))
    val zc = (p1 - p2) / sqrt(pp * (lit(1) - pp)
      * (lit(1.0) / d(col("n1")) + lit(1.0) / d(col("n2"))))
    val valid = col("n1") > 0 && col("n2") > 0 &&
      col("x1") + col("x2") > 0 && col("x1") + col("x2") < col("n1") + col("n2")
    val scored = cells
      .withColumn("z", when(valid, round(zc, 6)).otherwise(lit(0d)))
      .withColumn("p_q", when(valid, twoSidedPQ9(abs(zc)))
        .otherwise(lit(1000000000L)))
    val ranked = Ranks.globalRank(scored, col("p_q"), col("s"), "rank")
    val ok = d38(col("p_q")) * (m * 1000L) <=
      d38(col("rank")) * (alphaMilli * 1000000000L)
    val kmax = ranked.agg(max(when(ok, col("rank"))).as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("s"), col("n1"), col("x1"), col("n2"), col("x2"),
        col("z"), round(col("p_q").cast("double") / 1e9, 6).as("p_value"),
        col("rank").cast("int").as("rank"),
        (col("rank") <= coalesce(col("kmax"), lit(0L))).as("significant"))
  }

  /** Bucket-jackknife variance of a RATIO metric Σnum/Σden — the
    * standard-error machinery A/B platforms need for per-user ratio
    * metrics (avg order value, sessions/user), where the naive binomial
    * SE is wrong because both numerator and denominator are random.
    * Leave-one-bucket-out estimates come from the group totals alone
    * (θ₍₋g₎ = (N−n_g)/(D−d_g) — one aggregate, no per-row resample);
    * each θ₍₋g₎ takes ONE IEEE division of exact decimal sums and is
    * quantized to 1e6 fixed point (×1e12 would overflow LONG for
    * cents-scale ratios), so the jackknife mean/variance are exact
    * integer algebra over the G-sized table: Var = (G−1)/G ·
    * Σ(t_q·G − T)² / (G²·10¹²). Output one row: G, θ, SE, and the
    * normal 95% CI (pinned z). Buckets should be randomization units
    * (user hash buckets), G ≳ 20.
    */
  def jackknifeRatio(df: DataFrame, bucketCol: Column, numCol: Column,
                     denCol: Column): DataFrame = {
    def d38(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val g = df.select(bucketCol.as("g"), numCol.cast("long").as("x"),
        denCol.cast("long").as("y"))
      .groupBy("g").agg(sum(d38(col("x"))).as("sn"), sum(d38(col("y"))).as("sd"))
      .localCheckpoint() // consumers: totals + the leave-one-out pass
    val tot = g.agg(sum("sn").as("nn"), sum("sd").as("dd"),
      count(lit(1)).cast("long").as("gg"))
    val loo = g.crossJoin(broadcast(tot))
      // a bucket holding the ENTIRE denominator has no leave-one-out
      // estimate (x/0 → an ANSI Inf-to-long abort); its t_q stays null
      // and the aggregate below nulls the SE/CI instead of crashing
      .withColumn("t_q", when(col("dd") =!= col("sd"),
        floor((col("nn") - col("sn")).cast("double")
          / (col("dd") - col("sd")).cast("double") * 1e6 + 0.5).cast("long")))
    val s = loo.agg(first("gg").as("gg"), first("nn").as("nn"),
      first("dd").as("dd"), sum(d38(col("t_q"))).as("tt"),
      count(col("t_q")).as("n_loo"))
    // Σ(t_q·G − T)²: second pass keeps every term exact decimal
    val dev = loo.crossJoin(broadcast(
        s.select(col("tt").as("tt2"), col("gg").as("gg2"))))
      .agg(sum((d38(col("t_q")) * col("gg2") - col("tt2")) *
        (d38(col("t_q")) * col("gg2") - col("tt2"))).as("ss"))
    val zc = lit(ZAlpha025)
    val theta = col("nn").cast("double") / col("dd").cast("double")
    val se = sqrt((col("gg") - 1).cast("double") / col("gg").cast("double")
      * col("ss").cast("double")
      / (col("gg").cast("double") * col("gg").cast("double") * 1e12))
    val full = col("n_loo") === col("gg") // every bucket had an estimate
    s.crossJoin(dev)
      .select(col("gg").cast("int").as("g_buckets"),
        round(theta, 6).as("theta"),
        when(full, round(se, 6)).as("se_jack"),
        when(full, round(theta - zc * se, 6)).as("ci_lo"),
        when(full, round(theta + zc * se, 6)).as("ci_hi"))
  }

  /** z(0.975) and z(0.80): the two normal quantiles of the conventional
    * α=0.05 two-sided / 80%-power design, pinned as LITERALS (no inverse
    * CDF at query time) so both engines share the exact doubles.
    */
  val ZAlpha025: Double = 1.9599639845400545
  val ZPower80: Double = 0.8416212335729143

  /** Two-proportion power analysis from observed data: the per-arm
    * sample size needed to detect the OBSERVED rate difference at
    * α=0.05 two-sided with 80% power (unpooled-variance normal
    * approximation, n = (z_α/2+z_β)²·(p₁q₁+p₂q₂)/Δ²), plus the minimum
    * detectable effect at the CURRENT smaller arm — the "how much longer
    * must this A/B run" readout. One tiny aggregate per arm (exact
    * counts), then scalar IEEE arithmetic on the one-row combine; the
    * raw rows are scanned once.
    */
  def powerTwoProportion(df: DataFrame, groupCol: Column,
                         convCol: Column): DataFrame = {
    val g = df.select(groupCol.as("g"), convCol.cast("long").as("c"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("c").as("x"))
    val two = g.agg(
      max(when(col("g"), col("n"))).as("n1"),
      max(when(col("g"), col("x"))).as("x1"),
      max(when(!col("g"), col("n"))).as("n2"),
      max(when(!col("g"), col("x"))).as("x2"))
    val z = lit(ZAlpha025 + ZPower80)
    val p1 = col("x1").cast("double") / col("n1").cast("double")
    val p2 = col("x2").cast("double") / col("n2").cast("double")
    val vsum = p1 * (lit(1d) - p1) + p2 * (lit(1d) - p2)
    val dlt = p1 - p2
    val nMin = least(col("n1"), col("n2")).cast("double")
    two.select(col("n1").cast("long").as("n1"), col("x1").cast("long").as("x1"),
      col("n2").cast("long").as("n2"), col("x2").cast("long").as("x2"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      // NULL when the arms tie exactly: an Inf→long ANSI cast would abort
      when(dlt =!= 0d, ceil(z * z * vsum / (dlt * dlt)).cast("long"))
        .as("n_per_arm_req"),
      round(z * sqrt(vsum / nMin), 6).as("mde_at_n"))
  }

  /** Direct standardization: compare two groups' event rates with the
    * stratum mix held fixed at the POOLED distribution — the
    * Simpson's-paradox-proof rate comparison (adjusted rate_g =
    * Σ_s w_s·r_{g,s}, w_s = pooled stratum share). Each stratum term
    * (n_s·x_{g,s})/(N·n_{g,s}) is an exact decimal rational taking ONE
    * IEEE division, quantized to 1e12 fixed point; the per-group
    * reduction is an exact integer sum — order-free. Strata a group
    * never enters contribute nothing (their rate is unobserved).
    * Scale shape: one (group, stratum) aggregate, a strata-sized
    * re-aggregate broadcast back, and a groups-sized output.
    */
  def directStandardization(df: DataFrame, groupCol: Column,
                            strataCol: Column, eventCol: Column): DataFrame = {
    def d38(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val cells = df.select(groupCol.as("g"), strataCol.as("s"),
        eventCol.cast("long").as("e"))
      .groupBy("g", "s").agg(count(lit(1)).as("n_gs"), sum("e").as("x_gs"))
      .localCheckpoint() // consumers: stratum margins + the term reduce
    val strata = cells.groupBy("s").agg(sum("n_gs").as("n_s"))
    val tot = strata.agg(sum("n_s").cast("long").as("n_tot"))
    cells.join(broadcast(strata), "s").crossJoin(broadcast(tot))
      .withColumn("term_q", floor(
        (d38(col("n_s")) * col("x_gs")).cast("double")
          / (d38(col("n_tot")) * col("n_gs")).cast("double") * 1e12 + 0.5))
      .groupBy("g")
      .agg(sum("n_gs").cast("long").as("n"),
        sum("x_gs").cast("long").as("x"),
        count(lit(1)).cast("int").as("k_strata"),
        round(sum(d38(col("x_gs"))).cast("double")
          / sum(d38(col("n_gs"))).cast("double"), 6).as("crude_rate"),
        round(sum("term_q").cast("double") / 1e12, 6).as("adj_rate"))
  }
}
