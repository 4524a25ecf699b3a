package graft

import graft.ops._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events `ts` column however the parquet stored it: legacy
  * nanos-as-long (older generated data) or a real timestamp (current
  * data stores timestamp[us]); normalize to a timestamp either way.
  */
object TestEvents {
  def normalized(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
}

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def eventsNormalized(path: String): org.apache.spark.sql.DataFrame =
    TestEvents.normalized(spark, path)

  val docs = Seq(
    (0L, "the cat sat on the mat and looked at the dog", "en"),
    (1L, "the cat sat on the mat and looked at the dog", "en"), // exact dup of 0
    (2L, "the cat sat on the mat and stared at the dog", "en"), // near dup of 0
    (3L, "quantum flux capacitors energize the warp drive core", "en"),
    (4L, "completely different words about gardening tulips roses", "en"))
    .toDF("doc_id", "text", "lang")

  test("ccf: a known lead shows up at the right lag with sign") {
    // y is x shifted forward by 2 (y_{t} = x_{t-2}): perfect corr at
    // lag -2 (x_t pairs with y_{t-2+...}): x leads y by 2
    val xs = (0L until 60L).map(t => (t, 10L + (t * 7 % 13))).toDF("t", "v")
    val ys = (0L until 60L).map(t => (t + 2, 10L + (t * 7 % 13))).toDF("t", "v")
    val r = Stats.ccf(xs, ys, "t", "v", maxLag = 3).collect()
      .map(x => x.getInt(0) -> x.getAs[Double]("ccf")).toMap
    assert(r(2) == 1.0, s"x leads y by 2 -> perfect ccf at lag +2, got $r")
    assert(r(0) != 1.0 && r(-2) != 1.0)
  }

  test("seasonalMase and runsTest: hand-checkable limits") {
    // pure period-4 series: seasonal error 0 -> mase 0; alternating
    // above/below mean -> maximum runs
    val per = (0L until 40L).map(t => (t, Seq(5L, 9L, 5L, 9L)((t % 4).toInt)))
      .toDF("t", "v")
    val m = Stats.seasonalMase(per, col("t"), col("v"), season = 4)
      .collect().head
    assert(m.getAs[Long]("sum_season") == 0L && m.getAs[Long]("mase_x1e6") == 0L)
    val alt = (0L until 20L).map(t => (t, if (t % 2 == 0) 1L else 9L))
      .toDF("t", "v")
    val rt = Stats.runsTest(alt, col("t"), col("v")).collect().head
    // perfectly alternating: 20 runs; n1 = n2 = 10 -> E = 1 + 2*100/20 = 11
    assert((rt.getAs[Long]("n1"), rt.getAs[Long]("n2"), rt.getAs[Long]("runs"),
      rt.getAs[Long]("e_x1e6")) == (10L, 10L, 20L, 11000000L))
    assert(rt.getAs[Double]("z") > 0)
  }

  test("pacf: lag 1 equals acf(1); lag 2 matches the closed form") {
    // deterministic wavy series (period 8, no exact AR degeneracy)
    val wave = (0L until 200L)
      .map(t => (t, 100L + 37L * ((t % 8) - 3) + (t % 5))).toDF("t", "v")
    val p = Stats.pacf(wave, col("t"), col("v"), maxLag = 3)
      .orderBy("lag").collect()
      .map(r => (r.getInt(0), r.getAs[Double]("acf"), r.getAs[Double]("pacf")))
    assert(p(0)._2 == p(0)._3, "pacf(1) must equal acf(1)")
    // Levinson order 2 closed form on the same rounded acf inputs:
    // kappa2 = (r2 - r1*r1) / (1 - r1*r1)
    val (r1, r2) = (p(0)._2, p(1)._2)
    val expect2 = BigDecimal((r2 - r1 * r1) / (1.0 - r1 * r1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p(1)._3 == expect2)
    assert(p.forall(x => !x._3.isNaN && !x._3.isInfinite))
  }

  test("logRank: hand-computed hypergeometric terms; censoring leaves the risk set") {
    // A events at t=1,2; B events at t=3,4 — fully separated groups
    val df = Seq((true, 1L, 1L), (true, 2L, 1L), (false, 3L, 1L), (false, 4L, 1L))
      .toDF("a", "t", "d")
    val r = Stats.logRank(df, col("a"), col("t"), col("d")).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("n_a"), r.getAs[Long]("o_a"),
      r.getAs[Long]("e_a_x1e6"), r.getAs[Long]("v_x1e6")) ==
      (4L, 2L, 2L, 833333L, 472222L))
    val num = (2L * 1000000L - 833333L).toDouble
    assert(r.getAs[Double]("logrank_chi2") ==
      BigDecimal(num * num / (472222L.toDouble * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a censored B subject at t=1 leaves the risk set: at t=2 only the
    // remaining B event is at risk (n=1), not 2
    val cen = Seq((true, 1L, 1L), (false, 1L, 0L), (false, 2L, 1L))
      .toDF("a", "t", "d")
    val c = Stats.logRank(cen, col("a"), col("t"), col("d")).collect().head
    assert((c.getAs[Long]("o_a"), c.getAs[Long]("e_a_x1e6"),
      c.getAs[Long]("v_x1e6")) == (1L, 333333L, 222222L))
  }

  test("nelsonAalen: hand-computed hazard increments; censoring leaves " +
    "the risk set without an increment") {
    // (1,death) (2,death) (2,censored) (3,death):
    // H = 1/4, then +1/3 = 0.583333, then +1/1 = 1.583333
    val df = Seq((1, 1), (2, 1), (2, 0), (3, 1)).toDF("t", "d")
    val got = Stats.nelsonAalen(df, col("t"), col("d")).orderBy("t").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq ==
      Seq((1, 1, 4, 0.25), (2, 1, 3, 0.583333), (3, 1, 1, 1.583333)))
  }

  test("mutualInfo: dependent pair gives MI = H = ln 2 and nmi = 1; " +
    "independent pair gives MI = 0") {
    val dep = Seq(("a", 1), ("a", 1), ("b", 2), ("b", 2)).toDF("x", "y")
    val r = Stats.mutualInfo(dep, col("x"), col("y")).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Int]("k_x"), r.getAs[Int]("k_y")) ==
      (4L, 2, 2))
    assert(r.getAs[Double]("mi_nats") == 0.693147)
    assert(r.getAs[Double]("h_x") == 0.693147)
    assert(r.getAs[Double]("nmi") == 1.0)
    val ind = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("x", "y")
    val i = Stats.mutualInfo(ind, col("x"), col("y")).collect().head
    assert(i.getAs[Double]("mi_nats") == 0.0)
    assert(i.getAs[Double]("nmi") == 0.0)
  }

  test("psi: hand-replayed quantized terms; empty-side bins are counted " +
    "but excluded from the sum") {
    val a = Seq("a", "a", "b", "b", "c").toDF("bin")
    val b = Seq("a", "b", "b", "b").toDF("bin")
    val r = Quality.psi(a, b, "bin").collect().head
    assert((r.getAs[Int]("k_bins"), r.getAs[Int]("k_zero"),
      r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) == (3, 1, 5L, 4L))
    // replay the exact-rational quantization: bins a(2,1) b(2,3), n1=5 n2=4
    val terms = Seq((2L, 1L), (2L, 3L)).map { case (o1, o2) =>
      val dlt = o1 * 4 - o2 * 5
      dlt * math.floor(
        math.log((o1 * 4).toDouble / (o2 * 5).toDouble) * 1e12 + 0.5)
    }
    val expect = BigDecimal(terms.sum / (20.0 * 1e12))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("psi") == expect)
    // identical cohorts: zero drift exactly
    val z = Quality.psi(a, a, "bin").collect().head
    assert(z.getAs[Double]("psi") == 0.0 && z.getAs[Int]("k_zero") == 0)
  }

  test("categoricalDrift: TVD/chi2/JSD/Hellinger replay on a two-bin panel") {
    val a = Seq("x", "x", "y", "y").toDF("c")
    val b = Seq("x", "y", "y", "y").toDF("c")
    val r = Quality.categoricalDrift(a, b, "c").collect().head
    assert((r.getAs[Int]("k_bins"), r.getAs[Long]("n_a"),
      r.getAs[Long]("n_b")) == (2, 4L, 4L))
    assert(r.getAs[Double]("tvd") == 0.25)
    // chi2: bins x(2,1) y(2,3) → 16/(16·3) + 16/(16·5), each q6
    // (direct Σ(O−E)²/E over the 2×2 pooled table = 0.533333 ✓)
    val chi2 = (math.floor(16d / 48 * 1e6 + 0.5) +
      math.floor(16d / 80 * 1e6 + 0.5)) / 1e6
    assert(r.getAs[Double]("chi2") ==
      BigDecimal(chi2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def q12(x: Double) = math.floor(x * 1e12 + 0.5)
    val jsdQ = Seq((2L, 1L), (2L, 3L)).map { case (o1, o2) =>
      val (pn, qn, mix) = (o1 * 4, o2 * 4, o1 * 4 + o2 * 4)
      pn * q12(math.log(2.0 * pn / mix)) + qn * q12(math.log(2.0 * qn / mix))
    }.sum
    val jsd = BigDecimal(jsdQ / (2 * 16.0 * 1e12))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("jsd_nats") == jsd)
    val hellQ = Seq((2L, 1L), (2L, 3L)).map { case (o1, o2) =>
      q12(math.sqrt(o1 * o2 / 16.0))
    }.sum
    val hell = BigDecimal(math.sqrt(math.max(0.0, 1.0 - hellQ / 1e12)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("hellinger") == hell)
    // identical cohorts: all four measures vanish
    val z = Quality.categoricalDrift(a, a, "c").collect().head
    assert(z.getAs[Double]("tvd") == 0.0 && z.getAs[Double]("chi2") == 0.0 &&
      z.getAs[Double]("jsd_nats") == 0.0 && z.getAs[Double]("hellinger") == 0.0)
  }

  test("ohlcBars: open/close resolve ts ties by the id tie-break; " +
    "volume is exact") {
    val rows = Seq(
      ("2024-01-01 00:00:01", 1L, 10L), ("2024-01-01 00:00:01", 0L, 20L),
      ("2024-01-01 00:30:00", 9L, 5L), ("2024-01-01 00:59:00", 3L, 30L),
      ("2024-01-01 01:10:00", 4L, 7L))
      .toDF("ts", "id", "v")
      .select(col("ts").cast("timestamp_ntz").as("ts"), col("id"), col("v"))
    val got = Resample.ohlcBars(rows, col("ts"), col("v"), col("id"))
      .orderBy("bar").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    // hour 0: open = 20 (id 0 wins the 00:00:01 tie), close = 30
    assert(got.toSeq == Seq((4L, 20L, 30L, 5L, 30L, 65L),
      (1L, 7L, 7L, 7L, 7L, 7L)))
  }

  test("compactionPlan: start-offset next-fit bins; oversize file " +
    "overshoots alone") {
    val files = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 12L))
      .toDF("id", "sz")
    val got = Bucketing.compactionPlan(files, "id", "sz", 10L)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // offsets 0,5,10,15,20 → bins 0,0,1,1,2; the 12-byte file fills 1.2
    assert(got.toSeq == Seq((0L, 2, 10L, 1L, 2L, 1.0),
      (1L, 2, 10L, 3L, 4L, 1.0), (2L, 1, 12L, 5L, 5L, 1.2)))
  }

  test("stratifiedKFold: per-stratum fold sizes differ by at most one; " +
    "assignment is deterministic") {
    val df = (1 to 17).map(i => (if (i <= 7) "a" else "b", i.toLong))
      .toDF("g", "id")
    val a = Pipeline.stratifiedKFold(df, "g", "id", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val b = Pipeline.stratifiedKFold(df, "g", "id", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(a.sortBy(_._2).toSeq == b.sortBy(_._2).toSeq) // md5: bit-stable
    val sizes = a.groupBy(x => (x._1, x._3)).view.mapValues(_.length).toMap
    // stratum a: 7 rows over 3 folds → 3/2/2; stratum b: 10 → 4/3/3
    assert(Seq(0, 1, 2).map(f => sizes(("a", f))).sorted == Seq(2, 2, 3))
    assert(Seq(0, 1, 2).map(f => sizes(("b", f))).sorted == Seq(3, 3, 4))
    assert(a.forall(x => x._3 >= 0 && x._3 < 3))
  }

  test("powerTwoProportion: textbook 60% vs 50% arms replay") {
    val rows = (0 until 100).map(i => (true, if (i < 60) 1 else 0)) ++
      (0 until 100).map(i => (false, if (i < 50) 1 else 0))
    val df = rows.toDF("g", "c")
    val r = Stats.powerTwoProportion(df, col("g"), col("c")).collect().head
    assert((r.getAs[Long]("n1"), r.getAs[Long]("x1"), r.getAs[Long]("n2"),
      r.getAs[Long]("x2")) == (100L, 60L, 100L, 50L))
    val z = Stats.ZAlpha025 + Stats.ZPower80
    val vsum = 0.6 * (1 - 0.6) + 0.5 * (1 - 0.5)
    assert(r.getAs[Long]("n_per_arm_req") ==
      math.ceil(z * z * vsum / (0.1 * 0.1)).toLong)
    assert(r.getAs[Double]("mde_at_n") ==
      BigDecimal(z * math.sqrt(vsum / 100.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // identical arms: n_per_arm_req is NULL, not an Inf-cast abort
    val tie = ((0 until 4).map(i => (true, i % 2)) ++
      (0 until 4).map(i => (false, i % 2))).toDF("g", "c")
    val t = Stats.powerTwoProportion(tie, col("g"), col("c")).collect().head
    assert(t.isNullAt(t.fieldIndex("n_per_arm_req")))
  }

  test("directStandardization: equal pooled weights average the stratum " +
    "rates; crude rates tie") {
    // s1: T 1/1, F 2/3; s2: T 1/3, F 0/1 — crude 0.5 vs 0.5, but the
    // mix-adjusted rates are 2/3 vs 1/3
    val rows = Seq(("T", "s1", 1)) ++
      Seq(1, 1, 0).map(e => ("F", "s1", e)) ++
      Seq(1, 0, 0).map(e => ("T", "s2", e)) ++ Seq(("F", "s2", 0))
    val df = rows.toDF("g", "s", "e")
    val got = Stats.directStandardization(df, col("g"), col("s"), col("e"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("F", 4L, 2L, 2, 0.5, 0.333333),
      ("T", 4L, 2L, 2, 0.5, 0.666667)))
  }

  test("personalizedPageRank: hand-replayed integer iterations on a " +
    "3-path with seed {1}") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("p")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 2)
      .orderBy("p").collect().map(r => (r.getLong(0), r.getLong(1)))
    // iter1: r=(150e9, 850e9, 0); iter2 contribs: 1→2:150e9,
    // 2→{1,3}:425e9 each → r=(150e9+361.25e9, 127.5e9, 361.25e9)
    assert(got.toSeq == Seq((1L, 511250000000L), (2L, 127500000000L),
      (3L, 361250000000L)))
  }

  test("sprtBernoulli: strong evidence crosses the H1 boundary at the " +
    "replayed position") {
    val df = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 0L), (5L, 1L))
      .toDF("i", "x")
    val r = Stats.sprtBernoulli(df, col("i"), col("x"), p0 = 0.2, p1 = 0.8)
      .collect().head
    def q12(x: Double) = math.floor(x * 1e12 + 0.5).toLong
    val la = q12(math.log(0.8 / 0.2)); val lb = q12(math.log(0.2 / 0.8))
    val up = q12(math.log(0.95 / 0.05))
    // cum: la, 2la, 3la (≥ up: 3·1.3863e12 > 2.9444e12 at n=3), …
    assert(2 * la < up && 3 * la >= up)
    assert((r.getAs[Long]("n"), r.getAs[Long]("first_h1"),
      r.getAs[String]("decision")) == (5L, 3L, "accept_h1"))
    assert(r.isNullAt(r.fieldIndex("first_h0")))
    assert(r.getAs[Double]("llr_final") ==
      BigDecimal((4 * la + lb).toDouble / 1e12)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("liftGains: three tiles of two rows each — rates, capture, lift") {
    val df = Seq((1L, 60L, 1L), (2L, 50L, 1L), (3L, 40L, 0L),
      (4L, 30L, 0L), (5L, 20L, 1L), (6L, 10L, 0L)).toDF("id", "score", "y")
    val got = Eval.liftGains(df, col("score"), col("y"), col("id"), k = 3)
      .orderBy("tile").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq((1, 2L, 2L, 1.0, 0.666667, 2.0),
      (2, 2L, 0L, 0.0, 0.666667, 0.0), (3, 2L, 1L, 0.5, 1.0, 1.0)))
  }

  test("rmst: hand-replayed K-M area with the leading S=1 interval and " +
    "tau clipping") {
    val df = Seq((1, 1), (2, 1), (2, 0), (3, 1)).toDF("t", "d")
    // K-M: S(1)=.75, S(2)=.5, S(3)=0; tau=3 → 1·1 + .75·1 + .5·1 = 2.25
    val r = Stats.rmst(df, col("t"), col("d"), tau = 3L).collect().head
    assert((r.getAs[Long]("tau"), r.getAs[Int]("k_times"),
      r.getAs[Double]("rmst")) == (3L, 2, 2.25))
    // tau before the first event: the whole window survives at S = 1
    val e = Stats.rmst(df, col("t"), col("d"), tau = 1L).collect().head
    assert((e.getAs[Int]("k_times"), e.getAs[Double]("rmst")) == (0, 1.0))
  }

  test("ece: n-weighted |gap| sum and max over two hand bins") {
    // bin 9: mean_p=.9 vs rate .75 → gap .15 (n=4); bin 1: .1 vs 0 → .1
    val rows = Seq.fill(3)((true, 900L)) ++ Seq((false, 900L)) ++
      Seq.fill(4)((false, 100L))
    val df = rows.toDF("pos", "pm")
    val r = Eval.ece(df, col("pos"), col("pm"), bins = 10).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Int]("k_bins"),
      r.getAs[Double]("ece"), r.getAs[Double]("mce")) == (8L, 2, 0.125, 0.15))
  }

  test("lttb: keeps endpoints and the per-tile spike (max-area point)") {
    // flat zero series with one spike per tile: the spike wins its tile
    val rows = (0L to 9L).map(t =>
      (t, if (t == 3) 100L else if (t == 7) 80L else 0L))
    val df = rows.toDF("t", "v")
    val got = Resample.lttb(df, col("t"), col("v"), buckets = 2)
      .orderBy("t").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 0L), (3L, 100L), (7L, 80L), (9L, 0L)))
  }

  test("skippingEval: interleaved values defeat natural zone maps; " +
    "clustering prunes them") {
    val rows = Seq((1L, 10L), (2L, 50L), (3L, 11L), (4L, 51L),
      (5L, 12L), (6L, 52L), (7L, 13L), (8L, 53L)).toDF("id", "p")
    val got = Bucketing.skippingEval(rows, col("id"), col("p"), col("id"),
        lo = 50L, hi = 54L, files = 4)
      .orderBy("layout").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(5)))
    // natural 2-row files each span both clusters → 4/4 hit; clustered
    // isolates [50..53] into 2 files → 2/4 hit, half the rows scanned
    assert(got.toSeq == Seq(("clustered", 4, 2, 4L, 0.5),
      ("natural", 4, 4, 8L, 0.0)))
  }

  test("bloomFppEval: no false negatives; self-probe has zero FPP") {
    val a = (1L to 4L).toDF("key")
    val b = (1L to 8L).toDF("key")
    val r = Sketch.bloomFppEval(a, b, col("key"), col("key"), m = 16, k = 2)
      .collect().head
    assert((r.getAs[Long]("n_build"), r.getAs[Long]("n_probe"),
      r.getAs[Long]("n_true")) == (4L, 8L, 4L))
    // a bloom can only over-approximate: every true member passes
    assert(r.getAs[Long]("n_pass") >= 4L && r.getAs[Long]("n_false_pos") >= 0L)
    val fpp = r.getAs[Double]("fpp_observed")
    assert(fpp >= 0.0 && fpp <= 1.0 && r.getAs[Double]("fill") <= 0.5)
    val self = Sketch.bloomFppEval(a, a, col("key"), col("key"), m = 16, k = 2)
      .collect().head
    assert(self.getAs[Long]("n_pass") == 4L &&
      self.getAs[Long]("n_false_pos") == 0L)
    // all-member probe: FPP undefined → NULL, not a 0-divide abort
    assert(self.isNullAt(self.fieldIndex("fpp_observed")))
  }

  test("jackknifeRatio: constant per-bucket ratio has zero jackknife SE; " +
    "hand replay on a varying frame") {
    val const = (1 to 40).map(i => (i % 4, 10L, 5L)).toDF("g", "x", "y")
    val c = Stats.jackknifeRatio(const, col("g"), col("x"), col("y"))
      .collect().head
    assert((c.getAs[Int]("g_buckets"), c.getAs[Double]("theta"),
      c.getAs[Double]("se_jack")) == (4, 2.0, 0.0))
    assert(c.getAs[Double]("ci_lo") == 2.0 && c.getAs[Double]("ci_hi") == 2.0)
    // varying buckets: replay the quantized leave-one-out algebra
    val rows = Seq((0, 10L, 2L), (1, 30L, 2L), (2, 20L, 4L))
    val df = rows.toDF("g", "x", "y")
    val r = Stats.jackknifeRatio(df, col("g"), col("x"), col("y"))
      .collect().head
    val (nn, dd, gg) = (60L, 8L, 3L)
    val tq = rows.map { case (_, x, y) =>
      math.floor((nn - x).toDouble / (dd - y).toDouble * 1e6 + 0.5).toLong
    }
    val tt = tq.sum
    val ss = tq.map(t => { val d = t * gg - tt; d.toDouble * d }).sum
    val se = math.sqrt((gg - 1).toDouble / gg * ss / (gg.toDouble * gg * 1e12))
    assert(r.getAs[Double]("theta") == 7.5)
    assert(r.getAs[Double]("se_jack") ==
      BigDecimal(se).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("conformalCoverage: exact per-segment model gives zero residuals, " +
    "q-hat 0 and full coverage") {
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b",
      if (i % 2 == 0) 100L else 50L)).toDF("id", "seg", "y")
    val r = Eval.conformalCoverage(df, col("id"), col("seg"), col("y"))
      .collect().head
    assert(r.getAs[Double]("q_hat") == 0.0)
    assert(r.getAs[Double]("coverage") == 1.0)
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_cal")
      + r.getAs[Long]("n_test") == 400L)
    // md5 split: bit-stable across runs
    val r2 = Eval.conformalCoverage(df, col("id"), col("seg"), col("y"))
      .collect().head
    assert(r.toSeq == r2.toSeq)
  }

  test("entropyRate: deterministic chain has H = 0 and predictability 1; " +
    "half-random chain replays to ln2/2") {
    val det = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("b", "a"))
      .toDF("cur", "nxt")
    val d = Stats.entropyRate(det, col("cur"), col("nxt")).collect().head
    assert((d.getAs[Long]("n_transitions"), d.getAs[Int]("k_states"),
      d.getAs[Double]("entropy_rate_nats"), d.getAs[Double]("predictability"))
      == (4L, 2, 0.0, 1.0))
    val mix = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("b", "a"))
      .toDF("cur", "nxt")
    val m = Stats.entropyRate(mix, col("cur"), col("nxt")).collect().head
    // a splits 1/1 (H=ln2), b is deterministic → rate = (2/4)·ln2
    val q = math.floor(math.log(0.5) * 1e12 + 0.5) // per-cell quantized ln(1/2)
    val expect = BigDecimal(-(2 * q) / (4 * 1e12))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m.getAs[Double]("entropy_rate_nats") == expect)
    assert(m.getAs[Double]("max_entropy_nats") ==
      BigDecimal(math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("dpNoisyCounts: seeded Laplace draw replays exactly and is " +
    "bit-stable across runs") {
    val df = (Seq.fill(7)("x") ++ Seq.fill(3)("y")).toDF("c")
    val a = Quality.dpNoisyCounts(df, "c", epsilon = 1.0, seed = "t")
      .orderBy("bin").collect()
    val b = Quality.dpNoisyCounts(df, "c", epsilon = 1.0, seed = "t")
      .orderBy("bin").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // replay the md5 inverse-CDF draw for bin "x"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("t|x".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val u = ((h % 4503599627370496L).toDouble + 0.5) / 4503599627370496L
    val c = u - 0.5
    val noise = math.floor(-1.0 * math.signum(c) *
      math.log(1 - 2 * math.abs(c)) * 1e6 + 0.5) / 1e6
    val x = a.find(_.getString(0) == "x").get
    assert(x.getAs[Double]("noise") == noise)
    assert(x.getAs[Double]("n_noisy") == 7 + noise)
  }

  test("hillTailIndex: geometric frequencies replay the quantized alpha") {
    val doc = (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++ Seq.fill(2)("cc")
      ++ Seq("dd")).mkString(" ")
    val df = Seq(doc).toDF("text")
    val r = TextAnalysis.hillTailIndex(df, col("text"), k = 3).collect().head
    def q12(x: Double) = math.floor(x * 1e12 + 0.5).toLong
    val sq = q12(math.log(8.0)) + q12(math.log(4.0)) + q12(math.log(2.0))
    val expect = BigDecimal(3.0 * 1e12 / sq.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((r.getAs[Int]("k"), r.getAs[Long]("f_ref"),
      r.getAs[Double]("hill_alpha")) == (3, 1L, expect))
  }

  test("removalEffectAttribution: hand-solved two-channel chain with a " +
    "non-converting journey") {
    // u1 view→conv, u2 view→(end), u3/u4 click→conv:
    // p(view)=.5, p(click)=1, p(start)=(2·.5+2·1)/4=.75 in ×1e6 integers
    val rows = Seq(
      (1L, 1L, 1L, "view"), (1L, 2L, 2L, "purchase"),
      (2L, 1L, 3L, "view"),
      (3L, 1L, 4L, "click"), (3L, 2L, 5L, "purchase"),
      (4L, 1L, 6L, "click"), (4L, 2L, 7L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.removalEffectAttribution(rows, "user_id", "ts",
        "event_id", "event_type", convType = "purchase")
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // remove view: p=(2·1e6)//4=.5 → eff=1e6−500000·1e6//750000=333334
    // remove click: p=(2·5e5)//4=.25 → eff=666667; shares /1000001
    assert(got.toSeq == Seq(
      ("click", 0.75, 0.25, 0.666667, 0.666666),
      ("view", 0.75, 0.5, 0.333334, 0.333334)))
  }

  test("bhFdrTwoProportion: a strong effect survives the step-up, a null " +
    "and a degenerate stratum do not") {
    val rows =
      (0 until 100).map(i => ("A", true, if (i < 90) 1L else 0L)) ++
      (0 until 100).map(i => ("A", false, if (i < 10) 1L else 0L)) ++
      (0 until 100).map(i => ("B", i % 2 == 0, if (i % 4 < 2) 1L else 0L)) ++
      (0 until 20).map(_ => ("C", true, 0L)) ++
      (0 until 20).map(_ => ("C", false, 0L))
    val df = rows.toDF("s", "a", "c")
    val got = Stats.bhFdrTwoProportion(df, col("s"), col("a"), col("c"))
      .orderBy("s").collect()
    val byS = got.map(r => r.getString(0) -> r).toMap
    assert(byS("A").getAs[Boolean]("significant"))
    assert(byS("A").getAs[Double]("p_value") == 0.0) // |z| ≈ 11.3
    assert(byS("A").getAs[Int]("rank") == 1)
    assert(!byS("B").getAs[Boolean]("significant"))
    // degenerate stratum (no conversions anywhere): p = 1, z = 0
    assert(byS("C").getAs[Double]("p_value") == 1.0 &&
      byS("C").getAs[Double]("z") == 0.0)
    assert(!byS("C").getAs[Boolean]("significant"))
  }

  test("shapleyAttribution: hand-solved two-channel worth with efficiency " +
    "Sum(phi) = attributable conversions") {
    // sets: {view}×2 conv, {click}×1 conv, {view,click}×1 conv, {view}
    // non-conv → v({v})=2, v({c})=1, v({v,c})=4
    val rows = Seq(
      (1L, 1L, 1L, "view"), (1L, 2L, 2L, "purchase"),
      (2L, 1L, 3L, "click"), (2L, 2L, 4L, "purchase"),
      (3L, 1L, 5L, "view"), (3L, 2L, 6L, "click"), (3L, 3L, 7L, "purchase"),
      (4L, 1L, 8L, "view"),
      (5L, 1L, 9L, "view"), (5L, 2L, 10L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.shapleyAttribution(rows, "user_id", "ts", "event_id",
        "event_type", convType = "purchase")
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // phi_view = (1·1·2 + 1·1·3)/2! = 2.5; phi_click = (1 + 2)/2 = 1.5
    assert(got.toSeq == Seq(("click", 1.5, 0.375), ("view", 2.5, 0.625)))
  }

  test("rake: uniform sample fits skewed reference margins exactly in one " +
    "double-pass") {
    val sample = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("r", "c")
    val ref = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"))
      .toDF("r", "c")
    val got = Stats.rake(sample, ref, "r", "c").orderBy("r", "c").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4)))
    // row targets a=3,b=1 over uniform cells → w = 1.5/0.5; the column
    // pass is already satisfied (x=2, y=2) and must not move anything
    assert(got.toSeq == Seq(("a", "x", 1L, 1.5, 1.5), ("a", "y", 1L, 1.5, 1.5),
      ("b", "x", 1L, 0.5, 0.5), ("b", "y", 1L, 0.5, 0.5)))
    // fitted margins reproduce the reference's exactly
    val byR = got.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(byR == Map("a" -> 3.0, "b" -> 1.0))
  }

  test("ivWald: hand ratio of arm differences; null when the instrument " +
    "is inert") {
    val df = Seq((true, 3L, 1L), (true, 1L, 1L), (false, 1L, 1L),
      (false, 1L, 0L)).toDF("z", "x", "y")
    val r = Stats.ivWald(df, col("z"), col("x"), col("y")).collect().head
    // first stage (4·2−2·2)/4 = 1; itt (2·2−1·2)/4 = .5; beta .5/1
    assert((r.getAs[Long]("n1"), r.getAs[Long]("n0"),
      r.getAs[Double]("first_stage"), r.getAs[Double]("itt"),
      r.getAs[Double]("beta_iv")) == (2L, 2L, 1.0, 0.5, 0.5))
    val inert = Seq((true, 1L, 2L), (false, 1L, 0L)).toDF("z", "x", "y")
    val i = Stats.ivWald(inert, col("z"), col("x"), col("y")).collect().head
    assert(i.isNullAt(i.fieldIndex("beta_iv")))
  }

  test("rdd: two exact local-linear fits and the intercept jump") {
    val df = Seq((-2L, 0L), (-1L, 1L), (0L, 5L), (1L, 6L), (99L, 0L))
      .toDF("x", "y")
    val r = Stats.rdd(df, col("x"), col("y"), bandwidth = 10L)
      .collect().head
    // left y = x + 2 → a_l = 2, b_l = 1; right y = x + 5 → a_r = 5
    assert((r.getAs[Long]("n_l"), r.getAs[Long]("n_r"),
      r.getAs[Double]("a_l"), r.getAs[Double]("b_l"),
      r.getAs[Double]("a_r"), r.getAs[Double]("b_r"),
      r.getAs[Double]("rdd_effect")) == (2L, 2L, 2.0, 1.0, 5.0, 1.0, 3.0))
  }

  test("qini: hand-computed uplift and cumulative Qini over two tiles") {
    // tile1 (ids 1-4): t:2 conv 2/2, c:2 conv 0/2 → uplift 1.0,
    //   qini = 2 − 0·2/2 = 2; tile2: t:2 conv 0, c:2 conv 2 → uplift −1,
    //   qini_cum = 2 − 2·4/4 = 0 (the model's gains vanish by depth 2)
    val df = Seq(
      (1L, 40L, true, 1L), (2L, 39L, true, 1L),
      (3L, 38L, false, 0L), (4L, 37L, false, 0L),
      (5L, 20L, true, 0L), (6L, 19L, true, 0L),
      (7L, 18L, false, 1L), (8L, 17L, false, 1L))
      .toDF("id", "score", "t", "y")
    val got = Eval.qini(df, col("score"), col("t"), col("y"), col("id"),
        k = 2)
      .orderBy("tile").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq((1, 2L, 2L, 2L, 0L, 1.0, 2.0),
      (2, 2L, 0L, 2L, 2L, -1.0, 0.0)))
  }

  test("review-fix edges: zero-worth shapley, single-bucket jackknife, " +
    "flat-vocab hill, one-state entropy, tiny-calibration conformal") {
    // no touch-attributable conversions: shares are 0, not NaN
    val sh = Funnel.shapleyAttribution(
      Seq((1L, 1L, 1L, "view"), (2L, 1L, 2L, "purchase"))
        .toDF("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", "event_type", "purchase").collect()
    assert(sh.forall(r => r.getDouble(2) == 0.0))
    // one bucket holds the whole denominator: SE/CI NULL, no Inf abort
    val jk = Stats.jackknifeRatio(
      Seq((0, 10L, 2L), (1, 5L, 0L)).toDF("g", "x", "y"),
      col("g"), col("x"), col("y")).collect().head
    assert(jk.getAs[Double]("theta") == 7.5 &&
      jk.isNullAt(jk.fieldIndex("se_jack")))
    // vocabulary smaller than k: no tail, alpha NULL (not Infinity)
    val hl = TextAnalysis.hillTailIndex(
      Seq("w w w w").toDF("text"), col("text"), k = 3).collect().head
    assert(hl.isNullAt(hl.fieldIndex("hill_alpha")))
    // single current-state chain: predictability NULL (ln 1 = 0)
    val er = Stats.entropyRate(
      Seq(("a", "b"), ("a", "c")).toDF("cur", "nxt"),
      col("cur"), col("nxt")).collect().head
    assert(er.isNullAt(er.fieldIndex("predictability")))
    // calibration too small for the conformal rank: q-hat = +inf, every
    // test row covered — NOT an annihilated cross join claiming n_test=0
    val tiny = (1L to 40L).map(i => (i, "s", i % 7)).toDF("id", "seg", "y")
    val cf = Eval.conformalCoverage(tiny, col("id"), col("seg"), col("y"))
      .collect().head
    assert(cf.getAs[Long]("n_test") > 0L &&
      cf.getAs[Double]("coverage") == 1.0)
  }

  test("acf: alternating series has acf(1) = -1, acf(2) = 1; gaps drop pairs") {
    val alt = (0L until 40L).map(t => (t, if (t % 2 == 0) 10L else 20L))
      .toDF("t", "v")
    val got = Stats.acf(alt, col("t"), col("v"), maxLag = 2)
      .orderBy("lag").collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_pairs"), r.getAs[Double]("acf")))
    assert(got.toSeq == Seq((1, 39L, -1.0), (2, 38L, 1.0)))
    // a hole in the series just removes its pairs
    val gap = alt.filter(col("t") =!= 10L)
    val g2 = Stats.acf(gap, col("t"), col("v"), maxLag = 1).collect().head
    assert(g2.getAs[Long]("n_pairs") == 37L && g2.getAs[Double]("acf") == -1.0)
  }

  test("gini/lorenz/hhi: equality and monopoly limits are exact") {
    val equal = (1L to 10L).map(i => (i, 500L)).toDF("id", "v")
    assert(Stats.gini(equal, col("v"), col("id")).collect().head
      .getAs[Double]("gini") == 0.0)
    // one holder of everything: G = (n-1)/n = 0.9
    val mono = ((1L to 9L).map(i => (i, 0L)) :+ (10L, 1000L)).toDF("id", "v")
    assert(Stats.gini(mono, col("v"), col("id")).collect().head
      .getAs[Double]("gini") == 0.9)
    val lz = Stats.lorenzBuckets(equal, col("v"), col("id"), k = 5)
      .orderBy("bucket").collect()
    assert(lz.map(_.getAs[Double]("share")).forall(_ == 0.2))
    assert(lz.map(_.getAs[Double]("cum_share")).toSeq ==
      Seq(0.2, 0.4, 0.6, 0.8, 1.0))
    val hhiEq = Stats.hhi((1 to 4).map(g => (s"g$g", 100L)).toDF("g", "v"),
      col("g"), col("v")).collect().head
    assert(hhiEq.getAs[Long]("hhi_x1e6") == 250000L) // 4 equal groups: 1/4
    val hhiMono = Stats.hhi(Seq(("a", 100L)).toDF("g", "v"),
      col("g"), col("v")).collect().head
    assert(hhiMono.getAs[Long]("hhi_x1e6") == 1000000L)
  }

  test("mcnemar and assocRules: hand-computed counts") {
    // y always true; A right on 3 of 5, B right on 2; overlap: both
    // right on 1 -> b = 2 (A only), c = 1 (B only)
    val df = Seq((true, true, true), (true, true, false), (true, true, false),
      (true, false, true), (true, false, false)).toDF("y", "pa", "pb")
    val m = Eval.mcnemar(df, col("y"), col("pa"), col("pb")).collect().head
    assert((m.getAs[Long]("n"), m.getAs[Long]("n_ok_a"), m.getAs[Long]("n_ok_b"),
      m.getAs[Long]("b"), m.getAs[Long]("c"), m.getAs[Long]("mcnemar_x1e6")) ==
      (5L, 3L, 2L, 2L, 1L, 333333L)) // (2-1)^2*1e6/3
    // 4 orders: {1,2} x3, {1,3} x1 -> pair (1,2): n=3, n_1=4, n_2=3,
    // lift = 3*4/(4*3) = 1.0; pair (1,3): lift = 1*4/(4*1) = 1.0
    val baskets = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (13L, 1L), (13L, 3L)).toDF("o", "p")
    val r = Basket.assocRules(baskets, "o", "p", k = 5, minPairs = 1L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getAs[Long]("conf_ab_x1e6"), x.getAs[Long]("lift_x1e6")))
    assert(r.toSeq == Seq((1L, 2L, 3L, 750000L, 1000000L),
      (1L, 3L, 1L, 250000L, 1000000L)))
  }

  test("temperatureBudgets: sqrt smoothing upsamples small domains; isqrt exact") {
    // raw proportions 100:400 = 20%:80%; sqrt weights 10:20 = 33%:67%
    val df = (Seq.fill(100)("small") ++ Seq.fill(400)("large")).toDF("source")
    val got = Pipeline.temperatureBudgets(df, "source", budget = 3000L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // w = isqrt(n*1e6): 100 -> 10000, 400 -> 20000 (both exact squares)
    assert(got.toSeq == Seq(("large", 400L, 20000L, 2000L),
      ("small", 100L, 10000L, 1000L)))
    // isqrt correction: n=2 -> x=2e6, isqrt=1414 (1414^2=1999396 <= x < 1415^2)
    val g2 = Pipeline.temperatureBudgets(
        (Seq.fill(2)("a") ++ Seq.fill(3)("b")).toDF("source"), "source", 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(g2 == Map("a" -> 1414L, "b" -> 1732L)) // floor(sqrt(3e6))=1732
  }

  test("isotonicCalibration: PAV pools violators, preserves totals, is monotone") {
    // three bins with rates 3/4, 1/4, 2/4: PAV pools all into rate 1/2
    val rows = Seq.fill(3)((true, 50)) ++ Seq.fill(1)((false, 50)) ++
      Seq.fill(1)((true, 450)) ++ Seq.fill(3)((false, 450)) ++
      Seq.fill(2)((true, 850)) ++ Seq.fill(2)((false, 850))
    val df = rows.toDF("y", "pm")
    val got = Eval.isotonicCalibration(df, col("y"), col("pm"), bins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0, 4L, 3L, 500000L), (4, 4L, 1L, 500000L),
      (8, 4L, 2L, 500000L)))
    // already-monotone input is returned unpooled
    val mono = Seq.fill(4)((false, 50)) ++ Seq.fill(2)((true, 450)) ++
      Seq.fill(2)((false, 450)) ++ Seq.fill(4)((true, 850))
    val g2 = Eval.isotonicCalibration(mono.toDF("y", "pm"), col("y"), col("pm"))
      .orderBy("bin").collect().map(_.getLong(3))
    assert(g2.toSeq == Seq(0L, 500000L, 1000000L))
  }

  test("spearman: hand-computed values, ties via average ranks, sign sanity") {
    // perfect inverse monotone: rho = -1 exactly
    val inv = (1 to 5).map(i => (i.toDouble, (6 - i).toDouble)).toDF("x", "y")
    assert(Stats.spearman(inv, col("x"), col("y")).collect().head
      .getAs[Double]("rho") == -1.0)
    // ties: identical tie structure on both sides is still rho = 1
    val tied = Seq((1.0, 10.0), (1.0, 10.0), (2.0, 20.0), (3.0, 30.0))
      .toDF("x", "y")
    assert(Stats.spearman(tied, col("x"), col("y")).collect().head
      .getAs[Double]("rho") == 1.0)
    // textbook 4-point example: ranks x = 1,2,3,4; y = 2,1,4,3
    // rho = 1 - 6*Σd²/(n(n²-1)) = 1 - 6*4/60 = 0.6
    val ex = Seq((1.0, 5.0), (2.0, 4.0), (3.0, 9.0), (4.0, 8.0)).toDF("x", "y")
    assert(Stats.spearman(ex, col("x"), col("y")).collect().head
      .getAs[Double]("rho") == 0.6)
  }

  test("cramersV: perfect association is 1, independence is 0, fixed point exact") {
    val diag = (0 until 3).flatMap(i => Seq.fill(7)((s"a$i", s"b$i")))
      .toDF("u", "v")
    val r1 = Stats.cramersV(diag, col("u"), col("v")).collect().head
    assert(r1.getAs[Double]("cramers_v") == 1.0)
    assert(r1.getAs[Long]("chi2_x1e6") == 21L * 2 * 1000000)
    val indep = (for (a <- 0 until 2; b <- 0 until 2; _ <- 0 until 5)
      yield (s"a$a", s"b$b")).toDF("u", "v")
    val r2 = Stats.cramersV(indep, col("u"), col("v")).collect().head
    assert(r2.getAs[Double]("cramers_v") == 0.0 &&
      r2.getAs[Long]("chi2_x1e6") == 0L)
  }

  test("canonicalizeUrl applies every crawl-normalization rule") {
    val cases = Seq(
      // case, www, default port, tracking params, param order, fragment
      ("HTTPS://WWW.Example.COM:443/a/b?utm_source=x&b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2"),
      ("http://Example.com:80", "http://example.com/"),
      ("http://example.com:8080/x", "http://example.com:8080/x"), // non-default kept
      ("https://example.com:80/x", "https://example.com:80/x"),   // https keeps :80
      ("http://www.example.com/?gclid=1&fbclid=2&utm_campaign=c",
        "http://example.com/"),
      ("ftp://Host.com/file", "ftp://host.com/file"),
      ("https://a.com/p?z=1&y=2&z=0", "https://a.com/p?y=2&z=0&z=1"))
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("heapsLaw: cumulative curves are monotone and end at corpus totals") {
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val fix = (0L until 100L).map { i =>
      (i, (0 to (i % 4).toInt).map(j => words(((i * 7 + j * 3) % 6).toInt))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextAnalysis.heapsLaw(fix, bucketDocs = 10)
      .orderBy("bucket").collect()
    assert(got.length == 10)
    val toks = fix.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
    assert(got.last.getAs[Long]("tokens_seen") == toks.count())
    assert(got.last.getAs[Long]("vocab") == toks.distinct().count())
    val vs = got.map(_.getAs[Long]("vocab")).toSeq
    val ts = got.map(_.getAs[Long]("tokens_seen")).toSeq
    assert(vs == vs.sorted && ts == ts.sorted)
    assert(got.map(_.getAs[Long]("docs_seen")).toSeq == (1L to 10L).map(_ * 10))
  }

  test("vocabCoverage and zipfDecades match hand-computed rank tables") {
    val fix = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    val cov = TextAnalysis.vocabCoverage(fix, Seq(1, 2, 100))
      .orderBy("k").collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Long]("covered"),
        r.getAs[Long]("total"), r.getAs[Long]("coverage_x1e6")))
    assert(cov.toSeq == Seq((1, 3L, 6L, 500000L), (2, 5L, 6L, 833333L),
      (100, 6L, 6L, 1000000L)))
    // 12 tokens with distinct frequencies 13-i => rank i exactly
    val txt = (1 to 12).flatMap(i => Seq.fill(14 - i)(f"t$i%02d")).mkString(" ")
    val zf = TextAnalysis.zipfDecades(Seq((0L, txt)).toDF("doc_id", "text"))
      .orderBy("decade").collect()
      .map(r => (r.getAs[Int]("decade"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("fr_sum"), r.getAs[Long]("fr_avg_x1000")))
    val fr = (1 to 12).map(i => (i, i.toLong * (14 - i)))
    val d0 = fr.filter(_._1 <= 9).map(_._2).sum
    val d1 = fr.filter(_._1 >= 10).map(_._2).sum
    assert(zf.toSeq == Seq((0, 9L, d0, d0 * 1000 / 9), (1, 3L, d1, d1 * 1000 / 3)))
  }

  test("aHash: identical PNGs collide, distinct seeds differ, brightness shift stays close") {
    val a1 = Multimodal.aHash64(Multimodal.syntheticPng(7, 32, 24))
    val a2 = Multimodal.aHash64(Multimodal.syntheticPng(7, 32, 24))
    assert(a1 == a2) // decode + hash is deterministic
    val others = Seq(1L, 2L, 3L, 11L).map(s =>
      Multimodal.aHash64(Multimodal.syntheticPng(s, 32, 24)))
    others.foreach(o => assert(java.lang.Long.bitCount(a1 ^ o) > 8,
      s"distinct seeds should be far apart, got ${java.lang.Long.bitCount(a1 ^ o)}"))
    // a global brightness shift moves block means and threshold together,
    // so the hash stays close (the invariance aHash is built for; NN
    // resize of uncorrelated noise pixels is NOT hash-preserving)
    val (w, h, px) = Multimodal.decodeImage(Multimodal.syntheticPng(7, 32, 24))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = px(y * w + x)
      def up(c: Int) = math.min(c + 8, 255)
      img.setRGB(x, y,
        (up((p >> 16) & 0xff) << 16) | (up((p >> 8) & 0xff) << 8) | up(p & 0xff))
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val brightened = Multimodal.aHash64(bos.toByteArray)
    assert(java.lang.Long.bitCount(a1 ^ brightened) <= 8)
  }

  test("phashPairs finds exactly the same-seed image pairs") {
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType, nullable = false))))
    val media = spark.range(12).toDF("id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        org.apache.spark.sql.Row(id, Multimodal.syntheticPng(id % 4, 32, 24))
      }
    }(enc)
    val pairs = Multimodal.phashPairs(media, "id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 seed families of 3 copies each -> 3 pairs per family
    val expected = (0L until 4L).flatMap { s =>
      val m = Seq(s, s + 4, s + 8)
      for (i <- m.indices; j <- i + 1 until m.size) yield (m(i), m(j))
    }.toSet
    assert(pairs == expected)
  }

  test("merge applyChanges: delete drops, update replaces, insert adds, rest survive") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (2L, "U", "b2", 99.0),  // update key 2
      (3L, "D", "c", 0.0),    // delete key 3
      (9L, "I", "new", 5.0))  // insert key 9
      .toDF("k", "op", "name", "bal")
      .select(col("k"), col("name"), col("bal"), col("op"))
    val out = Merge.applyChanges(target, changes, "k", "op")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (4L, "d", 40.0), (9L, "new", 5.0)))
  }

  test("merge applyChanges: broadcastChanges=false still produces the same snapshot") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val changes = Seq((1L, "a2", "U")).toDF("k", "v", "op")
    val out = Merge.applyChanges(target, changes, "k", "op", broadcastChanges = false)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a2"), (2L, "b")))
  }

  test("exact dedup groups identical texts") {
    val fam = Dedup.exact(docs, "text", "doc_id").collect()
    assert(fam.length == 4)
    val dupFam = fam.find(_.getLong(2) == 2L).get
    assert(dupFam.getLong(1) == 0L) // keeper is min doc_id
  }

  test("minhashLsh maxBucket: hot bucket dropped, small-bucket pairs survive") {
    // 30 identical docs form one hot bucket per band; one separate
    // near-dup pair lives in its own small buckets
    val hot = (0L until 30L).map(i => (i, "alpha beta gamma delta epsilon"))
    // identical pair (jaccard 1): every band collides by construction
    val pair = Seq((100L, "quantum flux capacitor energizes warp drive"),
      (101L, "quantum flux capacitor energizes warp drive"))
    val df = (hot ++ pair).toDF("doc_id", "text")
    val exact = Dedup.minhashLsh(df, "text", "doc_id", maxBucket = Int.MaxValue)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.contains((100L, 101L)) && exact.size == 30 * 29 / 2 + 1)
    val capped = Dedup.minhashLsh(df, "text", "doc_id", maxBucket = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L))) // hot family suppressed, pair kept
  }

  test("minhashLshAuto routes EXACT when candidate mass is linear in corpus") {
    // distinct docs, tiny buckets: candidates/doc far below the threshold
    val near = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"), // exact dup of 0
      (2L, "totally different words entirely here now"),
      (3L, "yet another unrelated document text body"))
    val d = Dedup.minhashLshAuto(near.toDF("doc_id", "text"), "text", "doc_id")
    assert(d.regime == "exact")
    assert(d.nInput == 4 && d.cap == Int.MaxValue && d.retention == 1.0)
    // 4 docs sit under the probe floor: exact is certain by construction,
    // so the dispatcher must NOT have paid the bucket-distribution probe
    assert(!d.probed && d.estPairs == -1L)
    val got = d.pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)))
    // with the floor disabled the probe runs, measures the linear
    // candidate mass, and still routes exact — identical pairs
    val dp = Dedup.minhashLshAuto(near.toDF("doc_id", "text"), "text",
      "doc_id", probeFloorDocs = 0)
    assert(dp.probed && dp.regime == "exact" && dp.estPairs >= 0)
    assert(dp.pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet == got)
    // the dispatched exact result == the forced-exact result
    val forced = Dedup.minhashLsh(near.toDF("doc_id", "text"), "text", "doc_id",
      maxBucket = Int.MaxValue).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == forced)
  }

  test("minhashLshAuto routes CAPPED when hot buckets make candidates superlinear") {
    // one 80-doc identical family: ΣC(k,2) = 3·3160 = 9480 raw band
    // collisions > 96·82, so the probe must flip to the capped regime;
    // with cappedBucket=10 the hot buckets are dropped while the small
    // pair survives
    val hot = (0L until 80L).map(i => (i, "alpha beta gamma delta epsilon"))
    val pair = Seq((100L, "quantum flux capacitor energizes warp drive"),
      (101L, "quantum flux capacitor energizes warp drive"))
    val df = (hot ++ pair).toDF("doc_id", "text")
    // the 82-doc corpus sits under the default probe floor, so the flip
    // is tested with the floor disabled (the floor's own contract — tiny
    // corpora route exact unprobed — is pinned in the EXACT test above)
    val d = Dedup.minhashLshAuto(df, "text", "doc_id", cappedBucket = 10,
      probeFloorDocs = 0)
    assert(d.regime == "capped" && d.probed)
    assert(d.nInput == 82 && d.cap == 10)
    assert(d.maxKey == 80)
    // band-level retention: only the pair's buckets (k=2) survive the cap
    assert(d.retention > 0.0 && d.retention < 0.01)
    val got = d.pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 101L)))
    // default-arg minhashLsh on this sub-floor corpus routes EXACT without
    // probing — the hot family is bounded work here, not an n² risk, so
    // it must all come back
    val viaDefault = Dedup.minhashLsh(df, "text", "doc_id")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(viaDefault.contains((100L, 101L)))
    assert(viaDefault.size == 80 * 79 / 2 + 1)
  }

  test("minhashLshAuto sampled pre-probe: clear decisions route from the " +
    "sample with identical pairs; ambiguous ratios fall back") {
    // knobs lowered to exercise phase 1 on fixture-sized corpora:
    // probeSampleMod=2 samples ~half the docs, minSampledBandRows/
    // probeSampleMinBytes drop the adequacy/engagement gates
    def auto(df: org.apache.spark.sql.DataFrame, minRows: Long = 4L) =
      Dedup.minhashLshAuto(df, "text", "doc_id", probeFloorDocs = 0,
        probeSampleMod = 2, minSampledBandRows = minRows,
        probeSampleMinBytes = 0L)
    // clear EXACT: distinct docs + one dup — sampled collision mass ~0
    val distinctDocs = (0L until 30L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")) ++
      Seq((100L, "same words repeated here exactly verbatim now"),
        (101L, "same words repeated here exactly verbatim now"))
    val de = auto(distinctDocs.toDF("doc_id", "text"))
    assert(de.probeMode == "sampled" && de.regime == "exact" &&
      de.cap == Int.MaxValue && de.retention == 1.0)
    val exactForced = Dedup.minhashLsh(distinctDocs.toDF("doc_id", "text"),
      "text", "doc_id", maxBucket = Int.MaxValue)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(de.pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == exactForced)
    // clear CAPPED: a 600-doc identical family pushes the sampled
    // candidates/doc estimate past threshold x band (96 x 4); the capped
    // diagnostics must be honest sentinels, and the OUTPUT must equal the
    // forced-capped result (capBuckets gates on FULL bucket counts)
    val hot = (0L until 600L).map(i => (i, "alpha beta gamma delta epsilon")) ++
      Seq((10000L, "quantum flux capacitor energizes warp drive"),
        (10001L, "quantum flux capacitor energizes warp drive"))
    val dc = auto(hot.toDF("doc_id", "text"))
    assert(dc.probeMode == "sampled" && dc.regime == "capped" &&
      dc.cap == Dedup.DefaultCappedBucket)
    assert(dc.estPairsCapped == -1L && dc.retention.isNaN)
    assert(dc.maxKey > 0) // sample lower bound on the family
    assert(dc.pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == Set((10000L, 10001L)))
    // ambiguous: the 80-doc family's ratio (~115/doc) sits inside the
    // band [24, 384] — phase 1 must decline and the exact probe decide
    // (an adequate sample, so the fallback is the RATIO, not thin data)
    val mid = (0L until 80L).map(i => (i, "alpha beta gamma delta epsilon"))
    val dm = auto(mid.toDF("doc_id", "text"), minRows = 4L)
    assert(dm.probeMode == "exact" && dm.regime == "capped")
    // fail-CLOSED gate: a localCheckpointed input has NO real size
    // statistic (LogicalRDD reports defaultSizeInBytes = Long.MaxValue),
    // which must read as "unknown -> phase 2", never as "huge -> pay
    // the sampled probe job on a tiny corpus" (review r15)
    val ck = Dedup.minhashLshAuto(
      distinctDocs.toDF("doc_id", "text").localCheckpoint(),
      "text", "doc_id")
    assert(ck.probeMode == "none") // sub-floor corpus, probe skipped
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical -> all bands collide
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("blocked ngram jaccard scores near dups high") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.get((0L, 2L)).exists(j => j > 0.3 && j < 1.0))
    assert(!pairs.contains((3L, 4L)))
  }

  test("prefix-filtered jaccard join finds near dups without false negatives") {
    val pairs = Dedup.prefixJaccardPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical token sets
    assert(pairs.get((0L, 2L)).exists(j => j > 0.5 && j < 1.0)) // near dup
    assert(!pairs.keySet.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty })
  }

  test("prefix-filtered jaccard equals the brute-force join on random corpora") {
    // zero-false-negative property: on random small-vocab docs, the
    // prefix-filtered result set must EQUAL the all-pairs computation
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'p').map(_.toString)
    val corpus = (0L until 40L).map { id =>
      val n = 3 + rnd.nextInt(8)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(corpus, "text", "doc_id", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.6
    } yield (a, b)).toSet
    assert(got == expected)
  }

  test("prefix jaccard PPJoin path (vocab > 64) equals brute force") {
    // vocabularies over 64 tokens take the PPJoin path, not the bitmask
    // path — keep it covered with the same zero-false-negative property.
    // Docs are built as near-dup pairs (base set + small mutation) so the
    // corpus actually contains similar pairs at threshold 0.6.
    val rnd = new scala.util.Random(29)
    val vocab = (0 until 100).map(i => s"w$i")
    val corpus = (0L until 20L).flatMap { id =>
      val base = Seq.fill(8 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
      val mutated = base.drop(1) :+ vocab(rnd.nextInt(vocab.size))
      Seq((id * 2, base.mkString(" ")), (id * 2 + 1, mutated.mkString(" ")))
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(corpus, "text", "doc_id", threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sets = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.6
    } yield ((a, b), BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    assert(got == expected)
  }

  test("funnel agrees with a brute-force per-user fold on random event logs") {
    val rnd = new scala.util.Random(23)
    val steps = Seq("s1", "s2", "s3")
    val evs = (1 to 300).map { _ =>
      (rnd.nextInt(12).toLong, steps(rnd.nextInt(3)), rnd.nextInt(50).toLong)
    }
    val got = Funnel.funnel(evs.toDF("user_id", "event_type", "ts"), steps)
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    // reference: per user, earliest s1; earliest s2 strictly after; etc.
    val expected = evs.groupBy(_._1).flatMap { case (u, rows) =>
      def earliest(step: String, after: Option[Long]): Option[Long] = {
        val c = rows.filter(e => e._2 == step && after.forall(e._3 > _)).map(_._3)
        if (after == Some(-1L)) None else if (c.isEmpty) None else Some(c.min)
      }
      val t1 = rows.filter(_._2 == "s1").map(_._3).reduceOption(_ min _)
      t1.map { t1v =>
        val t2 = earliest("s2", Some(t1v))
        val t3 = t2.flatMap(t2v => earliest("s3", Some(t2v)))
        u -> ((t1v, t2.map(Long.box).orNull, t3.map(Long.box).orNull))
      }
    }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (u, (t1, t2, t3)) =>
      assert(got(u) == ((t1, t2, t3)), s"user $u")
    }
  }

  test("simhash: identical texts share signatures; families keep min id") {
    val fam = Dedup.simhashFamilies(docs, "text", "doc_id").collect()
    val bySize = fam.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(bySize(0L) >= 2) // docs 0 and 1 identical -> same signature
  }

  test("embedding-cosine grid dedup equals an in-memory brute force at sf0.001") {
    // guards the (i <= j) cell-grid pair coverage: every same-label pair
    // exactly once, none lost, none doubled, orientation-invariant cos
    val got = SparkEntry.queries("dedup_embedding_cosine")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.get(1), r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    // same rounding as Spark's round(): BigDecimal.valueOf + HALF_UP
    def r6(d: Double): Double =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val expected = (for {
      (ia, la, va) <- rows; (ib, lb, vb) <- rows
      if la == lb && ia < ib
      cos = r6(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))))
      if cos >= 0.2
    } yield (ia, ib) -> cos).toMap
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("brute-force knn returns k nearest by cosine with self excluded") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0.9f, 0.1f)),
      (4L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(knn.map(_._1).toSeq == Seq(1L, 2L) || knn.map(_._1).head == 1L)
    assert(knn.head._2 > 0.99)
  }

  test("lsh knn buckets agree for identical vectors") {
    val vecs = Seq(
      (0L, Array.fill(8)(0.5f)), (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(-0.5f))).toDF("vec_id", "embedding")
    val knn = Similarity.lshKnn(vecs, vecs.filter($"vec_id" === 0), k = 1, dim = 8)
      .collect()
    assert(knn.length == 1 && knn.head.getLong(1) == 1L)
  }

  test("pq adc ranks an exact duplicate of the query first with the minimal distance") {
    // a query's own codes minimize every per-subspace table entry, so a
    // byte-identical duplicate must rank 1 with adc == the global minimum
    val base = Array.tabulate(8)(i => 0.3f * i - 1f)
    val vecs = Seq(
      (0L, base), (1L, base.clone()),                 // 1 duplicates 0
      (2L, Array.fill(8)(2f)), (3L, Array.fill(8)(-2f)))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(dim = 8, m = 2, k = 3)
    val knn = Similarity.pqKnn(vecs, vecs.filter($"vec_id" === 0), k = 3, books)
      .orderBy("n_id").collect()
    val byId = knn.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byId(1L) == byId.values.min) // the duplicate attains the minimum
    assert(byId(1L) <= byId(2L) && byId(1L) <= byId(3L))
  }

  test("text stats + quality + fingerprint are deterministic and sane") {
    val st = TextAnalysis.stats(docs.select("doc_id", "text"), "text")
      .filter($"doc_id" === 0).collect().head
    assert(st.getAs[Int]("n_tokens") == 11)
    assert(st.getAs[Int]("n_distinct") == 9) // 'the' x3, rest unique
    val q = docs.select(TextAnalysis.qualityScore($"text").as("q"))
      .collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    // fingerprint: word-order permutation collides, different words don't
    val fp = Seq("b a c", "c b a", "x y z").toDF("text")
      .select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("bigram LM score matches hand-computed transition means") {
    // corpus: uni a=3 b=3 x=1 y=1; bi "a b"=3, "b a"=1, "x y"=1
    val corpus = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(corpus).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // doc1: (3/3 + 1/3 + 3/3)/3 = 7/9 -> 0.777778; doc2, doc3: 1.0
    assert(got == Seq((1L, 3, 0.777778), (2L, 1, 1.0), (3L, 1, 1.0)))
  }

  test("bpe merges reproduce the textbook example, ties lexicographic") {
    // Sennrich et al.'s worked example: low x5, lower x2, newest x6,
    // widest x3. Round 1 ties (e,s)=9 with (s,t)=9 -> lexicographic;
    // round 2 merges the JUST-FORMED unit (es,t)=9 — proving merges
    // compound; round 3 ties (l,o)=7 with (o,w)=7.
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).toDF("text")
    val merges = TextAnalysis.bpeMerges(corpus, "text", rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(merges == Seq((1, "e s", 9L), (2, "es t", 9L), (3, "l o", 7L)))
    // greedy non-overlapping apply: "aaa" x2 merges (a,a) once per word
    val aaa = Seq.fill(2)("aaa").toDF("text")
    val m2 = TextAnalysis.bpeMerges(aaa, "text", rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // round 1: (a,a) counted at both positions (overlap counts 2x2=4);
    // after the greedy apply each word is [aa, a] -> round 2 merges (aa,a)
    assert(m2 == Seq((1, "a a", 4L), (2, "aa a", 2L)))
    // exhaustion: a corpus that runs out of pairs before `rounds` stops
    // merging (no phantom rounds) and still encodes the intact units
    val ab = Seq.fill(3)("ab").toDF("text")
    val m3 = TextAnalysis.bpeMerges(ab, "text", rounds = 5).collect()
    assert(m3.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a b")))
    val vocab = TextAnalysis.bpeVocab(ab, "text", rounds = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(vocab == Seq(("ab", 3L)))
  }

  test("bpe merges match an in-memory reference on random corpora") {
    // end-to-end equivalence of the distributed trainer against a plain
    // Scala reference: same argmax tie-break (count desc, "a b" string
    // asc) and the same greedy non-overlapping left fold
    def applyGreedy(u: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      for (x <- u) {
        if (out.nonEmpty && out.last == a && x == b)
          out(out.length - 1) = a + b
        else out += x
      }
      out.toSeq
    }
    def refBpe(words: Seq[String], rounds: Int): Seq[(Int, String, Long)] = {
      var units: Seq[(Seq[String], Long)] = words.groupBy(identity).toSeq
        .collect { case (w, ws) if w.length >= 2 =>
          w.map(_.toString) -> ws.size.toLong }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
      for (r <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        units.foreach { case (u, f) =>
          u.iterator.sliding(2).withPartial(false).foreach { p =>
            counts(s"${p.head} ${p.last}") += f
          }
        }
        if (counts.nonEmpty) {
          val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
          out += ((r, pair, n))
          val Array(a, b) = pair.split(" ", 2)
          units = units.map { case (u, f) => applyGreedy(u, a, b) -> f }
        }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 3) {
      val words = Seq.fill(30)(
        (1 to (2 + rnd.nextInt(5))).map(_ => "abc"(rnd.nextInt(3))).mkString)
      val got = TextAnalysis.bpeMerges(words.toDF("text"), "text", rounds = 4)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == refBpe(words, 4), s"trial $trial words=$words")
    }
  }

  test("bpe encode matches an in-memory train+encode reference") {
    // the per-doc encode must agree with training the same merges in
    // memory and fold-applying them to every document token in order —
    // covers the position reassembly and the short-word coalesce path
    def applyGreedy(u: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      for (x <- u) {
        if (out.nonEmpty && out.last == a && x == b)
          out(out.length - 1) = a + b
        else out += x
      }
      out.toSeq
    }
    def refMerges(words: Seq[String], rounds: Int): Seq[(String, String)] = {
      var units: Seq[(Seq[String], Long)] = words.groupBy(identity).toSeq
        .collect { case (w, ws) if w.length >= 2 =>
          w.map(_.toString) -> ws.size.toLong }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        units.foreach { case (u, f) =>
          u.iterator.sliding(2).withPartial(false).foreach { p =>
            counts(s"${p.head} ${p.last}") += f
          }
        }
        if (counts.nonEmpty) {
          val (pair, _) = counts.toSeq.minBy { case (p, c) => (-c, p) }
          val Array(a, b) = pair.split(" ", 2)
          out += ((a, b))
          units = units.map { case (u, f) => applyGreedy(u, a, b) -> f }
        }
      }
      out.toSeq
    }
    def refEncode(word: String, merges: Seq[(String, String)]): Seq[String] =
      if (word.length < 2) Seq(word)
      else merges.foldLeft(word.map(_.toString): Seq[String]) {
        case (u, (a, b)) => applyGreedy(u, a, b)
      }
    val rnd = new scala.util.Random(47)
    val docs = (0L until 20L).map { id =>
      (id, (1 to (1 + rnd.nextInt(6)))
        .map(_ => (1 to (1 + rnd.nextInt(5))).map(_ => "abcd"(rnd.nextInt(4))).mkString)
        .mkString(" "))
    }
    val got = TextAnalysis.bpeEncode(docs.toDF("doc_id", "text"), "text", "doc_id", rounds = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val merges = refMerges(docs.flatMap(_._2.split(" ")), 4)
    docs.foreach { case (id, text) =>
      val units = text.split(" ").toSeq.flatMap(w => refEncode(w, merges))
      assert(got(id) == ((units.size, units.mkString(" "))), s"doc $id '$text'")
    }
  }

  test("bm25 ranks an obvious tiny corpus correctly with exact scores") {
    // hand-checkable: doc 1 is saturated with the query term, doc 2 has
    // one hit, doc 3 none; idf/tf fixed-point formulas recomputed inline
    val docs = Seq((1L, "x x x y"), (2L, "x y y y"), (3L, "y y z z")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, Seq("q" -> "x"), k = 3)
      .orderBy("query_id", "rnk")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // N=3 docs, T=12 tokens, df(x)=2; dl=4 for all docs
    val idf = (2L * (3 - 2) + 1) * 1000000L / (2 * 2 + 1)
    def tfPart(tf: Long) = 22L * 12 * tf * 1000000L / (10L * 12 * tf + 3L * 12 + 9L * 4 * 3)
    assert(got.toSeq == Seq(
      (1, 1L, idf * tfPart(3)),
      (2, 2L, idf * tfPart(1))))
  }

  test("split token tv is exact on a hand-computed corpus") {
    // recompute the operator's own deterministic split, then fold the
    // TV numerator by hand; 40 docs so both split sides are occupied
    val toks = (1L to 40L).map(id =>
      id -> Seq.fill((id % 3 + 1).toInt)(if (id % 2 == 0) "a" else "b")).toMap
    val docs = toks.toSeq.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val split = Pipeline.splitAssign(docs, "doc_id", Seq(80), Seq("train", "rest"))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (c, d) = (scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L),
      scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L))
    toks.foreach { case (id, ts) =>
      ts.foreach(t => if (split(id) == "train") c(t) += 1 else d(t) += 1)
    }
    val t1 = c.values.sum; val t2 = d.values.sum
    assert(t1 > 0 && t2 > 0, s"degenerate split: t1=$t1 t2=$t2")
    val tvNum = (c.keySet ++ d.keySet).toSeq.map(t => math.abs(c(t) * t2 - d(t) * t1)).sum
    val exp = java.math.BigDecimal.valueOf(tvNum.toDouble / (2.0 * t1 * t2))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val got = Eval.splitTokenTv(docs, "text", "doc_id", trainCut = 80).collect().head
    assert((got.getLong(0), got.getLong(1)) == ((t1, t2)))
    assert(got.getDouble(2) == exp)
  }

  test("incremental minhash drops near-dups of the base, keeps unrelated docs") {
    val base = docs.filter($"doc_id" === 0)           // "the cat sat..."
    val incoming = docs.filter($"doc_id" =!= 0)       // 1 exact, 2 near, 3-4 unrelated
    val got = Dedup.incrementalMinhash(base, incoming, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(!got.contains(1L)) // exact dup of the base doc must be dropped
    assert(got.contains(3L) && got.contains(4L)) // unrelated docs survive
  }

  test("incremental minhash maxBucket: gated hot base bucket keeps its incoming dups") {
    // 40 identical base docs = hot (band, digest) buckets; an incoming
    // copy collides ONLY there, so a binding cap must let it SURVIVE
    // (the conservative direction for a drop filter), while a doc
    // colliding via small buckets is still dropped
    val base = ((0L until 40L).map(i => (i, "alpha beta gamma delta epsilon")) ++
      Seq((50L, "quantum flux capacitor energizes warp drive")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, "alpha beta gamma delta epsilon"),          // dup of hot family
      (101L, "quantum flux capacitor energizes warp drive"), // dup via small bucket
      (102L, "totally unrelated words entirely here now"))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalMinhash(base, incoming, "text", "doc_id",
        maxBucket = Int.MaxValue)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(102L)) // both dups dropped under exact
    val capped = Dedup.incrementalMinhash(base, incoming, "text", "doc_id",
        maxBucket = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(capped == Set(100L, 102L)) // hot-bucket dup survives, small-bucket dup dropped
    // the auto default routes exact on this small corpus: same drops
    val auto = Dedup.incrementalMinhash(base, incoming, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(auto == Set(102L))
  }

  test("incremental dedup drops base duplicates and keeps min-id batch survivors") {
    val base = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "beta text"),   // exact dup of base -> dropped (bloom-positive, confirmed)
      (11L, "gamma text"),  // new -> kept
      (12L, "gamma text"),  // batch-internal dup -> dropped (min-id 11 survives)
      (13L, "delta text")   // new -> kept
    ).toDF("doc_id", "text")
    val got = Pipeline.incrementalDedup(base, incoming, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L, 13L))
  }

  test("incremental dedup treats NULL text as a value, like groupBy semantics") {
    // md5(NULL) = NULL would split semantics between the window (NULLs
    // group together) and the anti-join (NULL matches nothing); the
    // sentinel digest keeps both on groupBy semantics
    val base = Seq((1L, Option("kept text")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, Option.empty[String]),  // dup of base's NULL-text doc -> dropped
      (11L, Option("fresh text")),
      (12L, Option.empty[String])   // batch-internal NULL dup -> dropped
    ).toDF("doc_id", "text")
    val got = Pipeline.incrementalDedup(base, incoming, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L))
  }

  test("langid detects scripts and diacritics") {
    val got = Seq("hello world", "你好世界", "straße kaufen", "mañana señor")
      .toDF("text").select(TextAnalysis.langId($"text")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "zh", "de", "es"))
  }

  test("asof join picks latest right row at or before left time") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L)).toDF("event_id", "k", "t")
    val right = Seq((100L, 5L, 500L), (100L, 20L, 501L), (100L, 30L, 502L))
      .toDF("rk", "rt", "payload")
    val got = AsOfJoin.asofBackward(left, right, "k", "rk", "t", "rt", "payload", "event_id")
      .select("event_id", "payload").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 500L, 2L -> 501L))
  }

  test("clusterPairs resolves transitive families to the min doc_id") {
    // chain 1-2, 2-3 plus isolated pair 8-9: {1,2,3} -> 1, {8,9} -> 8;
    // long path 10..16 exercises multi-round pointer jumping
    val pairs = (Seq((1L, 2L), (2L, 3L), (8L, 9L)) ++
      (10L until 16L).map(x => (x + 1, x))).toDF("a_id", "b_id")
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L) ++
      (10L to 16L).map(_ -> 10L)
    assert(got == expected)
  }

  test("custom AsOfJoinExec picks latest right row at or before left time") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 200L, 1L)).toDF("event_id", "k", "t")
    val right = Seq((100L, 5L, 500L), (100L, 20L, 501L), (100L, 30L, 502L))
      .toDF("rk", "rt", "payload")
    val got = graft.plans.AsOfJoinPlan.asofMerge(left, right, "k", "rk", "t", "rt", "payload")
      .select("event_id", "payload").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 500L, 2L -> 501L)) // event 3: no matching key -> dropped
  }

  test("AsOfJoinExec ties on right time break by highest tie column") {
    val left = Seq((1L, 9L, 50L)).toDF("event_id", "k", "t")
    val right = Seq((9L, 50L, 7L), (9L, 50L, 11L), (9L, 49L, 99L)).toDF("rk", "rt", "payload")
    val got = graft.plans.AsOfJoinPlan.asofMerge(left, right, "k", "rk", "t", "rt", "payload")
      .select("payload").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L))
  }

  test("custom AsOfJoinExec agrees with the compose-built-ins fallback on real data") {
    val d = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = eventsNormalized(s"$d/events.parquet")
    val orders = spark.read.parquet(s"$d/orders.parquet")
    val viaExec = graft.plans.AsOfJoinPlan
      .asofMerge(events, orders, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey")
      .select("event_id", "o_orderkey").orderBy("event_id")
    val viaWindow = AsOfJoin.asofBackward(events, orders,
        "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey", "event_id")
      .select("event_id", "o_orderkey").orderBy("event_id")
    assert(viaExec.collect().toSeq == viaWindow.collect().toSeq)
    // the physical plan really is the custom operator (nodeName strips "Exec")
    assert(viaExec.queryExecution.executedPlan.toString.contains("AsOfJoin "))
  }

  test("kmeans codebook separates clustered vectors and feeds ivfCentroidKnn") {
    // two tight clusters around orthogonal directions
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Float]) =
      base.map(x => x + rnd.nextFloat() * 0.05f)
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 0f, 1f, 0f)
    val vecs = ((0 until 20).map(i => (i.toLong, jitter(a))) ++
      (20 until 40).map(i => (i.toLong, jitter(b)))).toDF("vec_id", "embedding")
    val codebook = Similarity.kmeansCodebook(vecs, k = 2, iters = 3, dim = 4)
    val cells = vecs.select(col("vec_id"),
        Similarity.ivfAssignCell(col("embedding"), codebook).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // each cluster lands in one cell, and the cells differ
    assert((0L until 20L).map(cells).toSet.size == 1)
    assert((20L until 40L).map(cells).toSet.size == 1)
    assert(cells(0L) != cells(39L))
    // the codebook drives cell-restricted kNN end-to-end
    val knn = Similarity.ivfMultiProbeKnn(vecs, vecs.filter($"vec_id" === 0), k = 3,
        codebook, nProbe = 1)
      .collect().map(_.getLong(1))
    assert(knn.forall(_ < 20L)) // neighbors come from the same cluster
  }

  test("multimodal: fabricate -> extractFeatures preserves rows and dims") {
    val media = Multimodal.fabricate(docs, "text", "image")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media, "doc_id", dim = 8).collect()
    assert(feats.length == 5)
    assert(feats.forall(_.getSeq[Float](1).length == 8))
    // deterministic stub: same text -> same features
    val f = feats.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f(0L) == f(1L))
  }

  test("multimodal: resize rewrites metadata and shrinks the payload deterministically") {
    val media = Multimodal.fabricate(docs, "text", "image")
    val out = Multimodal.resize(media, "doc_id", w = 32, h = 32).collect()
    assert(out.length == 5)
    out.foreach { r =>
      val meta = r.getStruct(2)
      assert(meta.getInt(2) == 32 && meta.getInt(3) == 32)
      assert(r.getAs[Array[Byte]](1).nonEmpty)
    }
    val again = Multimodal.resize(media, "doc_id", w = 32, h = 32).collect()
    assert(out.map(_.getAs[Array[Byte]](1).toSeq).toSeq ==
      again.map(_.getAs[Array[Byte]](1).toSeq).toSeq)
  }

  test("real PNG codec: encode -> decode round-trips pixels; NN resize samples the grid") {
    val png = Multimodal.syntheticPng(seed = 7L, w = 6, h = 4)
    // PNG magic bytes prove an actual codec ran, not a stub
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val (w, h, px) = Multimodal.decodeImage(png)
    assert(w == 6 && h == 4)
    // decoded pixel (x,y) equals the generator's hash exactly (lossless)
    def expected(x: Int, y: Int) =
      ((7L * 1315423911L + x * 2654435761L + y * 40503L) & 0xffffffL).toInt
    assert((px(2 * 6 + 3) & 0xffffff) == expected(3, 2))
    // nearest-neighbor downscale: target (x,y) = source (x*w/tw, y*h/th)
    val (rw, rh, rpx) = Multimodal.decodeImage(Multimodal.resizeImageNN(png, 3, 2))
    assert(rw == 3 && rh == 2)
    assert((rpx(1 * 3 + 2) & 0xffffff) == expected(2 * 6 / 3, 1 * 4 / 2))
    // channel means match a direct computation over the decoded pixels
    val stats = Multimodal.decodeImageStats(
      Seq((1L, png)).toDF("doc_id", "payload"), "doc_id").collect().head
    val meanR = px.map(p => (p >> 16) & 0xff).sum.toDouble / px.length
    assert(stats.getDouble(3) == meanR)
  }

  test("real WAV codec: RIFF container round-trips the exact PCM samples") {
    val wav = Multimodal.syntheticWav(seed = 3L, sampleRate = 8000, nSamples = 123)
    assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' && wav(3) == 'F')
    val (rate, pcm) = Multimodal.decodeWav(wav)
    assert(rate == 8000 && pcm.length == 123)
    def expected(i: Int) = (((3L * 1315423911L + i * 2654435761L) & 0xffffL) - 32768L).toShort
    assert(pcm(0) == expected(0) && pcm(57) == expected(57) && pcm(122) == expected(122))
    val stats = Multimodal.decodeAudioStats(
      Seq((1L, wav)).toDF("doc_id", "payload"), "doc_id").collect().head
    assert(stats.getLong(3) == 123L * 1000 / 8000) // duration_ms
    assert(stats.getInt(4) == pcm.map(v => math.abs(v.toInt)).max) // peak
  }

  test("profile counts nulls and distincts per column in one pass") {
    val df = Seq((Some(1), Some("a")), (Some(1), None), (None, Some("b")))
      .toDF("x", "y")
    val got = Profile.profile(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("x") == ((3L, 2L, 1L))) // 3 rows, 2 non-null, 1 distinct
    assert(got("y") == ((3L, 2L, 2L)))
  }

  test("profile still emits one row per column on empty input") {
    // the empty-drop case is exactly what a pre-flight exists to catch:
    // zero rows in must NOT mean zero rows out
    val df = Seq.empty[(Option[Int], Option[String])].toDF("x", "y")
    val got = Profile.profile(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.isNullAt(4)))).toMap
    assert(got("x") == ((0L, 0L, 0L, true)))
    assert(got("y") == ((0L, 0L, 0L, true)))
  }

  test("profile distinct counts use injective renderings per type") {
    // -0.0 and 0.0 are one distinct value (matches native countDistinct);
    // distinct byte strings that are invalid UTF-8 must stay distinct
    // (base64 rendering, not a lossy string cast)
    val df = Seq((0.0, Array[Byte](-1, -2)), (-0.0, Array[Byte](-3, -4)),
      (1.5, Array[Byte](-1, -2))).toDF("d", "b")
    val got = Profile.profile(df, Seq("d", "b")).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got("d") == 2L) // {0.0, 1.5}
    assert(got("b") == 2L) // two distinct byte strings
  }

  test("skewStats ranks keys by count with exact shares") {
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold")).toDF("k")
    val got = Salting.skewStats(df, "k", topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == Seq(("hot", 6L, 0.6, 1), ("warm", 3L, 0.3, 2)))
  }

  test("labelCentroids averages each dimension per group") {
    val vecs = Seq(("a", Array(1f, 3f)), ("a", Array(3f, 5f)), ("b", Array(2f, 2f)))
      .toDF("label", "embedding")
    val got = Similarity.labelCentroids(vecs, "label").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got == Map(("a", 1) -> ((2.0, 2L)), ("a", 2) -> ((4.0, 2L)),
      ("b", 1) -> ((2.0, 1L)), ("b", 2) -> ((2.0, 1L))))
  }

  test("as-of forward picks the first right row at or after the left time") {
    val left = Seq((1L, 10L, 100L), (1L, 13L, 101L), (2L, 50L, 102L), (1L, 20L, 103L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 5L, 900L), (1L, 12L, 901L), (1L, 12L, 902L), (1L, 15L, 903L))
      .toDF("k", "rt", "rid")
    val got = graft.plans.AsOfJoinPlan.asofMergeForward(left, right,
        "k", "k", "t", "rt", "rid")
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(100L -> 902L, 101L -> 903L)) // tie at rt=12 -> highest rid
    // tolerance bounds the lookahead [t, t+tol] inclusive; left_outer
    // keeps misses (no event in window / no event at all) as null
    val tol = graft.plans.AsOfJoinPlan.asofMergeForward(left, right,
        "k", "k", "t", "rt", "rid", joinType = "left_outer", tolerance = Some(2L))
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(tol == Map(100L -> 902L, 101L -> 903L, 102L -> -1L, 103L -> -1L))
  }

  test("as-of nearest picks the closest right row in either direction, past on ties") {
    val left = Seq((1L, 10L, 100L), (1L, 14L, 101L), (1L, 30L, 102L), (2L, 7L, 103L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 8L, 900L), (1L, 16L, 901L), (1L, 12L, 902L))
      .toDF("k", "rt", "rid")
    val got = graft.plans.AsOfJoinPlan.asofMergeNearest(left, right,
        "k", "k", "t", "rt", "rid", leftId = "lid")
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // lid 100 (t=10): 8 and 12 both at distance 2 -> past (8) wins
    // lid 101 (t=14): 12 (d=2) beats 16 (d=2)? also tie -> past (12)
    // lid 102 (t=30): only past candidates -> 16
    assert(got == Map(100L -> 900L, 101L -> 902L, 102L -> 901L)) // 103: no key-2 rows
    val outer = graft.plans.AsOfJoinPlan.asofMergeNearest(left, right,
        "k", "k", "t", "rt", "rid", leftId = "lid", joinType = "left_outer",
        tolerance = Some(3L))
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(outer == Map(100L -> 900L, 101L -> 902L, 102L -> -1L, 103L -> -1L))
  }

  test("dedupByMinhash keeps one canonical copy per family and all singletons") {
    val kept = Dedup.dedupByMinhash(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 0/1 are exact dups, 2 is a near dup of them → family keeps min id 0;
    // 3 and 4 are unrelated singletons
    assert(kept.contains(0L) && kept.contains(3L) && kept.contains(4L))
    assert(!kept.contains(1L))
    assert(kept == Set(0L, 3L, 4L) || kept == Set(0L, 2L, 3L, 4L)) // 2 may or may not band-collide
  }

  test("ivf-pq knn searches only the query's cell and ranks a duplicate first") {
    val base = Array.tabulate(8)(i => 0.3f * i - 1f)
    val far = Array.fill(8)(2f)
    val vecs = Seq(
      (0L, base, "cellA"), (1L, base.clone(), "cellA"),  // same-cell duplicate
      (2L, far, "cellA"),
      (3L, base.clone(), "cellB"))                       // duplicate, wrong cell
      .toDF("vec_id", "embedding", "cell")
    val books = Similarity.pqCodebooks(dim = 8, m = 2, k = 3)
    val got = Similarity.ivfPqKnn(vecs, vecs.filter($"vec_id" === 0), k = 3,
        books, cellCol = "cell").collect()
    val ids = got.map(_.getLong(1)).toSet
    assert(ids == Set(1L, 2L))          // 3 is excluded by the cell restriction
    val byId = got.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byId(1L) <= byId(2L))        // the duplicate attains the minimum adc
  }

  test("sq8 knn ranks like brute force on well-separated vectors") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0f, 1f, 0f)),
      (4L, Array(-1f, 0f, 0f, 0f)), (5L, Array(0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.sq8Knn(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .orderBy($"cos".desc).collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 2L) || got == Seq(1L, 3L)) // 1 is the clear nearest
    // the zero vector quantizes with the guarded scale and never NaNs
    val z = Similarity.sq8Encode(vecs.filter($"vec_id" === 5), "vec_id", "embedding", "n")
      .collect().head
    assert(z.getDouble(2) == 0.0 && !z.getDouble(2).isNaN)
  }

  test("repetition signals: repeated bigrams and adjacent dups score high, varied text low") {
    val df = Seq(
      (0L, "spam ham spam ham spam ham spam ham"),   // one dominant bigram
      (1L, "all all all all"),                       // pure stutter
      (2L, "each word here appears only one time")). // no repetition
      toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionSignals(df).orderBy("doc_id").collect()
    val top = rows.map(_.getAs[Double]("top_bigram_frac"))
    val adj = rows.map(_.getAs[Double]("adj_dup_frac"))
    val dup3 = rows.map(_.getAs[Double]("dup_trigram_frac"))
    assert(top(0) > 0.5 && top(2) < 0.2)
    assert(adj(1) == 1.0 && adj(2) == 0.0)
    assert(dup3(1) > 0.4 && dup3(2) == 0.0)
  }

  test("zorderKey matches a reference Morton interleave bit for bit") {
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val rnd = new scala.util.Random(11)
    val pts = (1 to 200).map(_ => (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Bucketing.zorderKey($"x", $"y", 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z == morton(x, y, 16)) }
  }

  test("CUSUM finds the hand-computed mean shift; flat series peaks at zero") {
    // series 1,1,1,5,5: T=13, D_i = 5·C_i − i·13 (micro-scale cancels in
    // cp_stat): |D| = 8,16,24,12,0 → argmax i=3, stat 24/5 = 4.8
    val df = Seq((1L, 1, 1.0), (1L, 2, 1.0), (1L, 3, 1.0),
      (1L, 4, 5.0), (1L, 5, 5.0),
      (2L, 1, 2.0), (2L, 2, 2.0), (2L, 3, 2.0))
      .toDF("k", "seq", "v")
    val out = Stats.cusumChangePoint(df, "k", Seq(col("seq")), "v")
      .orderBy("k").collect()
    assert(out(0).getInt(1) == 5 && out(0).getInt(2) == 3 &&
      out(0).getDouble(3) == 4.8)
    // a constant series has every D_i = 0: argmax ties resolve to i=1
    assert(out(1).getInt(1) == 3 && out(1).getInt(2) == 1 &&
      out(1).getDouble(3) == 0.0)
  }

  test("link prediction: common neighbors and Jaccard on a hand graph") {
    // triangle 1-2-3 plus pendant 3-4: the only non-adjacent pairs with a
    // common neighbor are (1,4) and (2,4), both through center 3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("pa", "pb")
    val got = Graph.linkPredict(edges).orderBy("pa", "pb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 4L, 1, 0.5), (2L, 4L, 1, 0.5)))
    // wedgeCap=2 silences the degree-3 center: no candidates remain
    assert(Graph.linkPredict(edges, wedgeCap = 2).count() == 0)
  }

  test("k-center coreset picks the farthest point each round, min-id seed") {
    // 2-D: seed = min id (0,0); (10,0) is farthest (d²=100); then (0,1)
    // joins at its ORIGINAL distance-to-nearest 1.0, not 101
    val pts = Seq((1L, Array(0f, 0f)), (2L, Array(10f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(pts, k = 3).orderBy("sel_order")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1, 1L, 0.0), (2, 2L, 100.0), (3, 3L, 1.0)))
  }

  test("label noise: plurality disagreement flags the planted bad label") {
    // three near-identical vectors, one labeled differently: its 2-NN
    // vote 0-0 against its label 1; the clean rows' ties break low
    val vs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.99f, 0.01f), 0),
      (3L, Array(0.98f, 0.02f), 1), (4L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Eval.labelNoiseKnn(vs, k = 2).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(4)))
    assert(got.find(_._1 == 3L).get == ((3L, 1, 0, true)))
    assert(got.find(_._1 == 1L).get._4 == false)
  }

  test("winsorized mean clamps at the exact physical p05/p95 elements") {
    // n=10 of 1..10: lo index 1 → 1, hi index 9 → 9; clamped sum 54
    val df = (1 to 10).map(i => ("g", BigDecimal(i))).toDF("grp", "v")
    val got = Stats.winsorizedMean(df, "grp", col("v")).collect()(0)
    assert(got.getInt(1) == 10 && got.getDouble(2) == 1.0 &&
      got.getDouble(3) == 9.0 && got.getDouble(4) == 5.4)
  }

  test("clustering coefficient: triangle vertices score by 2t/d(d-1), pendants drop") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("pa", "pb")
    val got = Graph.clusteringCoefficient(edges).orderBy("v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // v1,v2: closed pair (coef 1); v3: one triangle of C(3,2)=3 possible
    // wedges; v4 has degree 1 → excluded
    assert(got.toSeq == Seq((1L, 2, 1, 1.0), (2L, 2, 1, 1.0), (3L, 3, 1, 0.333333)))
  }

  test("kmv join size: exact companion counts multiplicities; estimate is reported") {
    val a = Seq(1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(2L, 3L, 3L, 4L).toDF("k")
    val got = Sketch.kmvJoinSize(a, "k", b, "k").collect()(0)
    // exact join = 1·1 (key 2) + 1·2 (key 3) = 3
    assert(got.getLong(1) == 3L)
    val est = got.getDouble(0)
    assert(est > 0 && got.getDouble(2) ==
      BigDecimal((est - 3.0) / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("last-touch attribution window excludes the current row and later clicks") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u").orderBy("t", "id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = Seq((1L, 1L, 1L, "click"), (1L, 2L, 2L, "purchase"),
      (1L, 3L, 3L, "purchase"), (2L, 4L, 1L, "purchase"), (2L, 5L, 2L, "click"))
      .toDF("u", "id", "t", "typ")
    val got = ev.select(col("id"),
        last(when(col("typ") === "click", col("id")), ignoreNulls = true)
          .over(w).as("attrib"))
      .filter(col("id").isin(2L, 3L, 4L)).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // purchases 2 and 3 credit click 1; purchase 4 precedes its user's
    // only click → organic (null)
    assert(got.toSeq == Seq((2L, 1L), (3L, 1L), (4L, -1L)))
  }

  test("audio energy fingerprint: same PCM collides, different seeds diverge") {
    val media = Seq(
      (1L, Multimodal.syntheticWav(7, 8000, 300)),
      (2L, Multimodal.syntheticWav(7, 8000, 300)), // identical content
      (3L, Multimodal.syntheticWav(8, 8000, 300)))
      .toDF("doc_id", "payload")
    val got = Multimodal.audioEnergyFingerprint(media, "doc_id", blockSize = 128)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(got.map(_._2).toSeq == Seq(3, 3, 3)) // ceil(300/128)
    assert(got(0)._3 == got(1)._3 && got(0)._3 != got(2)._3)
  }

  test("vocab prune keeps mid-df tokens only and scores OOV per source") {
    // 10 docs: 'mid' in 3 (kept: 3>=3, 6<=10), 'hot' in 8 (pruned by
    // max-df), 'rare' in 1 (pruned by min-df)
    val d = (0 until 10).map { i =>
      val parts = Seq("hot").filter(_ => i < 8) ++
        Seq("mid").filter(_ => i < 3) ++ Seq(s"rare$i").filter(_ => i == 0)
      (i.toLong, parts.mkString(" "), if (i < 5) "s1" else "s2")
    }.toDF("doc_id", "text", "source")
    val got = TextAnalysis.vocabPruneStats(d, minDf = 3, maxDfNum = 1, maxDfDen = 2)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // s1 docs 0-4: tokens hot×5 + mid×3 + rare0 = 9, covered = mid×3
    // s2 docs 5-9: hot×3 + empty-token rows for docs 8,9 ("" splits to [""])
    assert(got.find(_._1 == "s1").get == (("s1", 9, 3, 1)))
    assert(got.find(_._1 == "s2").get._3 == 0)
  }

  test("k-core peels the chain tail and keeps the triangle") {
    // triangle 1-2-3 plus chain 3-4-5: at k=2 vertex 5 (deg 1) peels,
    // which drops 4 to deg 1 — the cascade the one-shot filter misses
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("pa", "pb")
    val got = Graph.kCore(edges, k = 2).orderBy("v").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq == Seq((1L, 2), (2L, 2), (3L, 2)))
    assert(Graph.kCore(edges, k = 3).count() == 0)
  }

  test("rolling correlation: exact ±1 on linear windows, zero-variance drops") {
    val df = Seq(
      // key 1: y = 2x → every full window corr 1.0
      (1L, 1, BigDecimal(1), BigDecimal(2)), (1L, 2, BigDecimal(2), BigDecimal(4)),
      (1L, 3, BigDecimal(3), BigDecimal(6)), (1L, 4, BigDecimal(4), BigDecimal(8)),
      // key 2: constant x → zero variance, all windows drop
      (2L, 1, BigDecimal(5), BigDecimal(1)), (2L, 2, BigDecimal(5), BigDecimal(2)),
      (2L, 3, BigDecimal(5), BigDecimal(3)))
      .toDF("k", "seq", "x", "y")
    val got = Stats.rollingCorr(df, "k", Seq(col("seq")), col("x"), col("y"),
        window = 3).orderBy("k", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 3, 1.0), (1L, 4, 1.0)))
  }

  test("OLS fit recovers slope/intercept/R² exactly on a perfect line") {
    val df = Seq(("g", BigDecimal(1), BigDecimal(3)),
      ("g", BigDecimal(2), BigDecimal(5)), ("g", BigDecimal(3), BigDecimal(7)))
      .toDF("grp", "x", "y")
    val got = Stats.olsFit(df, "grp", "x", "y").collect()(0)
    assert(got.getLong(1) == 3 && got.getDouble(2) == 2.0 &&
      got.getDouble(3) == 1.0 && got.getDouble(4) == 1.0)
  }

  test("hilbertKey walks the full 16x16 curve: bijective and always grid-adjacent") {
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val keyed = pts.toDF("x", "y")
      .select($"x", $"y", Bucketing.hilbertKey($"x", $"y", 4).as("h"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(keyed.map(_._1).toSeq == (0L until 256L)) // bijection onto 0..255
    keyed.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jump between ($x1,$y1) and ($x2,$y2)") // Hilbert adjacency
    }
  }

  test("hilbertKey matches the reference xy2d recurrence at 16 bits") {
    def xy2d(bits: Int, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = (1L << bits) - 1 - x; y = (1L << bits) - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val rnd = new scala.util.Random(13)
    val pts = (1 to 100).map(_ => (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Bucketing.hilbertKey($"x", $"y", 16).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, h) => assert(h == xy2d(16, x, y)) }
  }

  test("curate audit: kept set equals curate's survivors, one flag per drop") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val audit = Pipeline.curateAudit(d, "en", 0.5, 2, 1).collect()
    val keptIds = audit.filter(_.getBoolean(5)).map(_.getLong(0)).toSet
    val curated = Pipeline.curate(d, "en", 0.5, 2, 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == curated)
    // accounting is total and exclusive: exactly one of the four flags
    // or kept is true for every document
    audit.foreach { r =>
      val flags = (1 to 5).count(i => r.getBoolean(i))
      assert(flags == 1, s"doc ${r.getLong(0)} fired $flags flags")
    }
  }

  test("tile sums on a 2x2 image: one pixel per tile, counts partition the plane") {
    val media = Seq((5L, Multimodal.syntheticPng(5, 2, 2)))
      .toDF("doc_id", "payload")
    val tiles = Multimodal.tileChannelSums(media, "doc_id", grid = 2)
      .orderBy("tr", "tc").collect()
    assert(tiles.length == 4 && tiles.forall(_.getLong(3) == 1L))
    // per-tile sums reassemble the whole-image channel means exactly
    val stats = Multimodal.decodeImageStats(media, "doc_id").collect()(0)
    assert(tiles.map(_.getLong(4)).sum.toDouble / 4 == stats.getDouble(3))
    assert(tiles.map(_.getLong(6)).sum.toDouble / 4 == stats.getDouble(5))
  }

  test("Mann-Whitney U: tie-averaged ranks match the textbook example") {
    // A=[1,2], B=[2,3]: ranks 1, 2.5, 2.5, 4 → R1=3.5, 2U1=1, r=0.75
    val df = Seq((true, 1), (true, 2), (false, 2), (false, 3)).toDF("a", "v")
    val got = Stats.mannWhitneyU(df, col("a"), col("v")).collect()(0)
    assert(got.getInt(0) == 2 && got.getInt(1) == 2 &&
      got.getLong(2) == 1L && got.getDouble(3) == 0.75)
  }

  test("KS statistic: disjoint samples reach D=1 at the first sample's max") {
    val df = Seq((true, 1), (true, 2), (false, 3), (false, 4)).toDF("a", "v")
    val got = Stats.ksTest(df, col("a"), col("v")).collect()(0)
    assert(got.getInt(0) == 2 && got.getInt(1) == 2 &&
      got.getDouble(2) == 2.0 && got.getDouble(3) == 1.0)
  }

  test("bootstrap CI is deterministic, ordered, and inside the data range") {
    val df = (1 to 200).map(i => (i.toLong, BigDecimal(i))).toDF("id", "x")
    val a = Stats.bootstrapMeanCI(df, col("id"), col("x"), b = 16).collect()(0)
    val b = Stats.bootstrapMeanCI(df, col("id"), col("x"), b = 16).collect()(0)
    assert(a == b) // hash-derived weights: bit-stable across runs
    val (lo, med, hi) = (a.getDouble(1), a.getDouble(2), a.getDouble(3))
    assert(lo <= med && med <= hi && lo > 1.0 && hi < 200.0)
    // replica means hover near the true mean 100.5
    assert(math.abs(med - 100.5) < 15.0)
  }

  test("Kaplan-Meier: censored subjects leave the risk set without an event") {
    // (1,death) (2,death) (2,censored) (3,death):
    // S = 3/4, then ·(1−1/3) = 0.5, then ·0 at t=3
    val df = Seq((1, 1), (2, 1), (2, 0), (3, 1)).toDF("t", "d")
    val got = Stats.kaplanMeier(df, col("t"), col("d")).orderBy("t").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1, 1, 4, 0.75), (2, 1, 3, 0.5), (3, 1, 1, 0.0)))
  }

  test("Kaplan-Meier: second-resolution durations auto-scale the block grid " +
    "(bounded carry row) and fractional durations are accepted") {
    // 3000 distinct second-grained durations spread over ~3 years
    // (span ~9.5e7 s): at the default blockW=64 the carry row would pack
    // ~1.5M structs; the enforced grid caps #blocks at maxBlocks
    val rows = (0 until 3000).map { i =>
      (i.toLong * 31771L + (i % 7) * 13L, if (i % 4 == 0) 0 else 1)
    }
    val df = rows.toDF("t", "d")
    val maxBlocks = 64 // small cap so the test exercises the scaling path
    val got = Stats.kaplanMeier(df, col("t"), col("d"), maxBlocks = maxBlocks)
      .orderBy("t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // independent Scala replay of the SAME two-level fold (per-block
    // factor products, exclusive carry, within-block prefix fold)
    val lo = rows.map(_._1).min.toDouble
    val hi = rows.map(_._1).max.toDouble
    val blockW = math.max(64L, math.ceil((hi - lo + 1) / maxBlocks).toLong)
    val byT = rows.groupBy(_._1).map { case (t, rs) =>
      (t, rs.map(_._2).sum.toLong, rs.size.toLong)
    }.toSeq.sortBy(_._1)
    val n = rows.size.toLong
    val cum = byT.scanLeft(0L)(_ + _._3).init
    val staged = byT.zip(cum).map { case ((t, d, _), before) =>
      (t, d, n - before)
    }
    val blocks = staged.groupBy { case (t, _, _) => t / blockW } // t >= 0
    val blockProd = blocks.map { case (bk, es) =>
      bk -> es.sortBy(_._1).foldLeft(1.0) { case (acc, (_, d, risk)) =>
        acc * (1.0 - d.toDouble / risk)
      }
    }
    val bks = blocks.keys.toSeq.sorted
    val carry = bks.zip(bks.scanLeft(1.0)((acc, bk) => acc * blockProd(bk)).init).toMap
    val expect = bks.flatMap { bk =>
      blocks(bk).sortBy(_._1).scanLeft(("sentinel", carry(bk))) {
        case ((_, acc), (t, d, risk)) =>
          (s"$t", acc * (1.0 - d.toDouble / risk))
      }.tail.zip(blocks(bk).sortBy(_._1)).map { case ((_, s), (t, d, risk)) =>
        (t, d.toInt, risk.toInt, math.rint(s * 1e6) / 1e6)
      }
    }.sortBy(_._1)
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (gRow, e) => assert(gRow == e, s"$gRow != $e") }
    // fractional durations no longer throw (floor-division tolerance)
    val frac = Seq((1.5, 1), (2.5, 1), (2.5, 0), (3.25, 1)).toDF("t", "d")
    val fgot = Stats.kaplanMeier(frac, col("t"), col("d")).orderBy("t").collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(fgot.toSeq == Seq((1.5, 1, 4, 0.75), (2.5, 1, 3, 0.5), (3.25, 1, 1, 0.0)))
  }

  test("histogram drift: hand-computed chi-square contributions, missing bins coalesce") {
    // old [4A,2B] vs new [2A,4B]: direct Σ(O−E)²/E with pooled E gives
    // 1/3 per cell, 2/3 per bin — the identity check that caught a
    // spurious ×N factor in an earlier form of this statistic
    val oldV = Seq("A", "A", "A", "A", "B", "B").toDF("c")
    val newV = Seq("A", "A", "B", "B", "B", "B").toDF("c")
    val got = Quality.histDrift(oldV, newV, "c").orderBy("bin").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("A", 4, 2, 0.666667), ("B", 2, 4, 0.666667)))
    // a bin absent on one side counts as zero there, not a dropped row;
    // direct check: E_B1 = .5 → (0−.5)²/.5 + (1−.5)²/.5 = 1.0
    val got2 = Quality.histDrift(Seq("A", "A").toDF("c"),
        Seq("A", "B").toDF("c"), "c").orderBy("bin").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got2.toSeq == Seq(("A", 2, 1, 0.333333), ("B", 0, 1, 1.0)))
  }

  test("Kneser-Ney bigram masses sum to exactly 1 per context") {
    // Σ_w2 p_KN(w2|w1) = (cw1 − D·n1l)/cw1 + (D·n1l/cw1)·Σ n1r/T = 1
    // for every observed context w1 when summed over the full
    // continuation vocabulary — the smoothing redistributes, never
    // leaks, mass
    val docs = Seq((0L, "a b a c a b b c"), (1L, "b c a a c b"),
      (2L, "c c a b")).toDF("doc_id", "text")
    val w = split(trim(col("text")), "\\s+")
    val pairs = docs.select(posexplode(zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit(" "), b))).as(Seq("pos", "bg")))
    val bi = pairs.groupBy("bg").agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("cb")))
    val tt = bi.length.toDouble
    val cw1 = bi.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val n1l = bi.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n1r = bi.groupBy(_._2).map { case (k, v) => k -> v.size }
    val vocab = bi.map(_._2).distinct
    for (w1 <- cw1.keys) {
      val total = vocab.map { w2 =>
        val cb = bi.find(e => e._1 == w1 && e._2 == w2).map(_._3).getOrElse(0L)
        math.max(cb - 0.75, 0.0) / cw1(w1) +
          (0.75 * n1l(w1) / cw1(w1)) * (n1r(w2) / tt)
      }.sum
      assert(math.abs(total - 1.0) < 1e-12, s"context $w1 sums to $total")
    }
    // and the operator emits one row per doc with >= 2 tokens
    val out = graft.ops.TextAnalysis.kneserNeyLmScore(docs).collect()
    assert(out.length == 3 && out.forall(r => r.getAs[Double]("kn_score") > 0))
  }

  test("lexical diversity: ttr and Simpson repeat probability, single-token edge") {
    val d = Seq((0L, "a b a"), (1L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.lexicalDiversity(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq((0L, 3, 2, 0.666667, 0.333333), (1L, 1, 1, 1.0, 0.0)))
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("streaming flf ingest parses a landing directory incrementally") {
    import graft.schema._
    val schema = FixedSchema(name = "s", version = 1, columns = Seq(
      FixedColumn("id", 0, 8, FlfType.Int64T, Alignment.Right, '0', isNullable = true),
      FixedColumn("word", 8, 10, FlfType.Utf8T, Alignment.Left, ' ', isNullable = true)))
    val dir = java.nio.file.Files.createTempDirectory("flfstream").toFile
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, "a.flf"),
      "00000001alpha     \n00000002beta      \n")
    val q = graft.streaming.Streams.flfIngest(spark, dir.getPath, schema)
      .writeStream.format("memory").queryName("flf_ingested").outputMode("append").start()
    q.processAllAvailable()
    // a second file lands; the same query picks it up incrementally
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, "b.flf"), "00000003gamma     \n")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("flf_ingested").orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getString(1)).toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("ivfIngest with compactEvery folds committed batches and stays correct") {
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivfstream").toString
    graft.ops.Similarity.writeIvfIndex(df.filter(col("vec_id") < 30),
      s"$root/index", k = 4, iters = 2, dim = 8)
    val batches = df.filter(col("vec_id") >= 30).select("vec_id", "embedding")
    for (b <- 0 until 3)
      batches.filter(col("vec_id") >= 30 + b * 10 && col("vec_id") < 40 + b * 10)
        .write.mode("append").parquet(s"$root/landing")
    val src = spark.readStream.schema(batches.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
    val q = graft.streaming.Streams
      .ivfIngest(src, s"$root/index", s"$root/ckpt", compactEvery = 2).start()
    try q.processAllAvailable() finally q.stop()
    val cells = spark.read.parquet(
      graft.ops.Similarity.ivfCellsPath(spark, s"$root/index"))
    assert(cells.count() == 60)
    assert(cells.select("vec_id").distinct().count() == 60)
    // search equals the batch build over the same corpus + codebook
    val cb = graft.ops.Similarity.readIvfCodebook(spark, s"$root/index")
    val withCell = df.withColumn("cell",
      graft.ops.Similarity.ivfAssignCell(col("embedding"), cb))
    val queries = df.filter(col("vec_id") < 5)
    val expect = graft.ops.Similarity.ivfKnn(withCell,
        withCell.filter(col("vec_id") < 5), k = 3, cellCol = "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val got = graft.ops.Similarity.ivfKnnFromIndex(spark, s"$root/index", queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == expect)
  }

  test("streaming quantile sketch folds two batches to the batch sketch") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def sketch(rows: Seq[(Long, Double)], k: Int): (Double, Double, Double) = {
      val vals = rows.map { case (id, v) => (md5hex(id.toString), v) }
        .sorted.take(k).map(_._2).sorted.toIndexedSeq
      def qAt(q: Double) = vals(math.floor(q * (vals.size - 1)).toInt)
      (qAt(0.5), qAt(0.9), qAt(0.99))
    }
    val a = (0L until 10L).map(i => i -> i.toDouble)
    val b = (10L until 20L).map(i => i -> i.toDouble)
    val dir = java.nio.file.Files.createTempDirectory("qsketch").toFile
    def writeJson(name: String, rows: Seq[(Long, Double)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir.getPath, name),
        rows.map { case (id, v) =>
          s"""{"event_type":"g","event_id":$id,"value":$v}"""
        }.mkString("", "\n", "\n"))
    writeJson("a.json", a)
    val src = spark.readStream
      .schema("event_type string, event_id long, value double")
      .json(dir.getPath)
      .as[graft.streaming.Streams.QRow]
    val q = graft.streaming.Streams.quantileState(src, k = 4)
      .writeStream.format("memory").queryName("qsketch_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    writeJson("b.json", b) // second batch: state must MERGE, not reset
    q.processAllAvailable()
    q.stop()
    val got = spark.table("qsketch_stream")
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    // one emission per batch: after A alone, and after the A∪B fold —
    // the final fold must equal the BATCH sketch over the union
    assert(got == Set(sketch(a, 4), sketch(a ++ b, 4)))
  }

  test("watermarked windowed aggregation over a rate-bounded batch") {
    val events = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    // batch execution of the same streaming plan shape
    val agg = graft.streaming.Streams.windowedCounts(events)
      .orderBy("h", "event_type").collect()
    assert(agg.length == 2)
    assert(agg.head.getLong(2) == 2L) // two clicks in hour 0
  }

  test("stateful sessionize counts per key") {
    val ds = Seq((7L, 10L), (7L, 20L), (8L, 5L)).toDS()
    val out = graft.streaming.Streams.sessionize(ds).collect()
      .map(o => o.user_id -> (o.n_events, o.last_ts_micros)).toMap
    assert(out == Map(7L -> (2L, 20L), 8L -> (1L, 5L)))
  }

  test("streaming funnel orders steps within a batch and drops non-entrants") {
    import graft.streaming.Streams.FunnelEvent
    val ds = Seq(
      FunnelEvent(1L, "view", 10L), FunnelEvent(1L, "click", 20L),
      FunnelEvent(1L, "purchase", 30L),
      // u2: click arrives before any view -> must not count; re-click after
      FunnelEvent(2L, "click", 5L), FunnelEvent(2L, "view", 10L),
      FunnelEvent(2L, "click", 40L),
      // u3: steps without a view -> no funnel entry at all
      FunnelEvent(3L, "click", 1L), FunnelEvent(3L, "purchase", 2L)).toDS()
    val out = graft.streaming.Streams
      .funnelSteps(ds, Seq("view", "click", "purchase")).collect()
      .map(o => o.user_id -> ((o.t1, o.t2, o.t3))).toMap
    assert(out == Map(
      1L -> ((Some(10L), Some(20L), Some(30L))),
      2L -> ((Some(10L), Some(40L), None))))
  }

  test("stream-static enrichment joins each micro-batch against a broadcast dim") {
    val dir = java.nio.file.Files.createTempDirectory("enrichstream")
    Seq((1L, "click"), (2L, "view"), (3L, "unknown_user"))
      .toDF("user_id", "event_type").write.parquet(s"$dir/in")
    val dim = Seq((1L, "free"), (2L, "pro")).toDF("uid", "tier")
    val src = spark.readStream.schema("user_id long, event_type string")
      .parquet(s"$dir/in")
    val q = graft.streaming.Streams.enrich(src, dim, "user_id", "uid")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched").orderBy("user_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(got == Map(1L -> "free", 2L -> "pro", 3L -> null))
  }

  test("compact rewrites a fragmented directory into ceil(n/target) files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    spark.range(0, 1000).repartition(64).write.parquet(dir) // 64 tiny files
    def parquetFiles = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles == 64)
    val n = graft.ops.Bucketing.compact(spark, dir, rowsPerFile = 500)
    assert(n == 1000L && parquetFiles == 2)
    // contents survive the rewrite
    assert(spark.read.parquet(dir).agg(sum("id")).head.getLong(0) == 499500L)
  }

  test("streaming dedup state survives a checkpointed restart") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_ckpt")
    val in = Files.createDirectory(root.resolve("in")).toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "doc_id LONG, text STRING, ts TIMESTAMP"
    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in)
      val q = graft.streaming.Streams.dedupStream(src, "text", "ts", "2 hours")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq((1L, "alpha", ts(0)), (2L, "beta", ts(1)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$in/batch1.parquet")
    run()
    // restart from the same checkpoint: the duplicate 'alpha' must be
    // dropped by state RECOVERED from the checkpoint, not batch memory
    Seq((3L, "alpha", ts(2)), (4L, "gamma", ts(3)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$in/batch2.parquet")
    run()
    val texts = spark.read.parquet(out).select("text").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(texts == Seq("alpha", "beta", "gamma"))
  }

  test("watermark drops events later than the horizon across batches") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_late")
    val in = Files.createDirectory(root.resolve("in")).toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    def run(): Unit = {
      val src = spark.readStream.schema("event_type STRING, ts TIMESTAMP, value DOUBLE")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = graft.streaming.Streams.windowedCounts(src, "1 hour", "2 hours")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 1 advances the watermark to 12:00 - 2h = 10:00
    Seq(("a", ts(8), 1.0), ("a", ts(12), 1.0)).toDF("event_type", "ts", "value")
      .write.parquet(s"$in/b1.parquet")
    run()
    // batch 2: 9:00 is BEHIND the 10:00 watermark -> silently dropped;
    // 11:00 is within the horizon -> its window still counts
    Seq(("a", ts(9), 1.0), ("a", ts(11), 1.0)).toDF("event_type", "ts", "value")
      .write.parquet(s"$in/b2.parquet")
    run()
    // close all windows by advancing event time far ahead
    Seq(("a", ts(23), 1.0)).toDF("event_type", "ts", "value")
      .write.parquet(s"$in/b3.parquet")
    run()
    val counts = spark.read.parquet(out)
      .collect().map(r => r.getTimestamp(0).toString.take(13) -> r.getLong(2)).toMap
    assert(counts.get("2024-01-01 08").contains(1L))
    assert(!counts.contains("2024-01-01 09")) // late event never surfaced
    assert(counts.get("2024-01-01 11").contains(1L))
  }

  test("streaming exact dedup drops in-watermark duplicate digests") {
    val dir = java.nio.file.Files.createTempDirectory("dedupstream")
    Seq(("2024-01-01 00:00:01", "alpha text"),
        ("2024-01-01 00:00:02", "alpha text"), // dup within watermark
        ("2024-01-01 00:00:03", "beta text"))
      .toDF("ts_s", "text")
      .select(to_timestamp($"ts_s").as("ts"), $"text")
      .write.parquet(s"$dir/in")
    val src = spark.readStream
      .schema("ts timestamp, text string")
      .parquet(s"$dir/in")
    val q = graft.streaming.Streams.dedupStream(src, "text", "ts")
      .writeStream.format("memory").queryName("dedup_streamed")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_streamed").orderBy("ts").collect()
    assert(got.map(_.getString(1)).toSeq == Seq("alpha text", "beta text"))
  }

  test("streaming CDC apply maintains the snapshot across micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("cdcstream")
    val snap = s"$root/snapshot"
    val in = s"$root/changes"
    val ckpt = s"$root/ckpt"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal").write.parquet(snap)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    // batch 1: update k=2 twice out of order (seq wins), delete k=3
    Seq((2L, "b_old", 0.0, "U", 1L), (2L, "b_new", 99.0, "U", 2L),
        (3L, "c", 0.0, "D", 3L))
      .toDF("k", "name", "bal", "op", "seq").write.parquet(s"$in/b1")
    val src = spark.readStream
      .schema("k bigint, name string, bal double, op string, seq bigint")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = graft.streaming.Streams
      .cdcApply(src, snap, "k", "op", "seq", ckpt).start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(snap).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(afterB1.toSeq == Seq((1L, "a", 10.0), (2L, "b_new", 99.0)))
      // batch 2 lands: insert k=9, resurrect k=3
      Seq((9L, "new", 5.0, "I", 4L), (3L, "c2", 33.0, "I", 5L))
        .toDF("k", "name", "bal", "op", "seq").write.parquet(s"$in/b2")
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(snap).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(afterB2.toSeq == Seq((1L, "a", 10.0), (2L, "b_new", 99.0),
        (3L, "c2", 33.0), (9L, "new", 5.0)))
    } finally q.stop()
  }

  test("CDC apply recovers a snapshot parked at .prev by a mid-swap crash") {
    val root = java.nio.file.Files.createTempDirectory("cdccrash")
    val snap = s"$root/snapshot"
    val in = s"$root/changes"
    Seq((1L, "a", 10.0)).toDF("k", "name", "bal").write.parquet(snap)
    // simulate the crash window: old snapshot renamed aside, new one not
    // yet in place — dst missing, .prev holding the only copy
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(snap),
      new org.apache.hadoop.fs.Path(s"$snap.prev")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    Seq((2L, "b", 20.0, "I", 1L))
      .toDF("k", "name", "bal", "op", "seq").write.parquet(s"$in/b1")
    val src = spark.readStream
      .schema("k bigint, name string, bal double, op string, seq bigint")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = graft.streaming.Streams
      .cdcApply(src, snap, "k", "op", "seq", s"$root/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(snap).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$snap.prev")))
  }

  test("CDC apply breaks equal-seq ties deterministically (content digest)") {
    // two mutations for one key with the SAME seq: the survivor must be
    // the same on every run/partitioning — the row with the higher md5 of
    // its JSON encoding (descending digest order)
    val expectWinner = {
      import java.security.MessageDigest
      def hex(s: String) = MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val a = hex("""{"k":1,"name":"x","bal":1.0,"op":"U","seq":7}""")
      val b = hex("""{"k":1,"name":"y","bal":2.0,"op":"U","seq":7}""")
      if (a > b) "x" else "y"
    }
    (1 to 2).foreach { run =>
      val root = java.nio.file.Files.createTempDirectory(s"cdctie$run")
      val snap = s"$root/snapshot"
      val in = s"$root/changes"
      Seq((1L, "orig", 0.0)).toDF("k", "name", "bal").write.parquet(snap)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      Seq((1L, "x", 1.0, "U", 7L), (1L, "y", 2.0, "U", 7L))
        .toDF("k", "name", "bal", "op", "seq")
        .repartition(if (run == 1) 1 else 4) // partitioning must not matter
        .write.parquet(s"$in/b1")
      val src = spark.readStream
        .schema("k bigint, name string, bal double, op string, seq bigint")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = graft.streaming.Streams
        .cdcApply(src, snap, "k", "op", "seq", s"$root/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.read.parquet(snap).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, expectWinner)), s"run $run")
    }
  }
}

/** Regression guards for the round-1 advice findings: as-of type safety
  * + generalization (outer, tolerance), and the WordShingles/oracle split
  * contract.
  */
class AdviceRegressionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("as-of execs agree: sort-merge, auto-broadcast, and forced broadcast") {
    // deterministic pseudo-random left/right sides with repeated keys,
    // duplicate timestamps, and sparse matches — every selection path
    // (threshold -1 -> AsOfJoinExec, small side under default threshold ->
    // BroadcastAsOfJoinExec, explicit flag) must produce identical rows
    val left = spark.range(300).selectExpr(
      "id AS lid", "id % 7 AS k", "(id * 37) % 1000 AS t")
    val right = spark.range(150).selectExpr(
      "id % 9 AS rk", "(id * 53) % 1000 AS rt", "id AS payload")
    def run(joinType: String, tol: Option[Long], threshold: String,
            force: Boolean): Seq[(Long, Long)] = {
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try graft.plans.AsOfJoinPlan
        .asofMerge(left, right, "k", "rk", "t", "rt", "payload",
          joinType = joinType, tolerance = tol,
          broadcastRight = if (force) Some(true) else None)
        .select("lid", "payload").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sorted.toSeq
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    }
    for (jt <- Seq("inner", "left_outer"); tol <- Seq(None, Some(100L))) {
      val sortMerge = run(jt, tol, "-1", force = false)
      val autoBcast = run(jt, tol, "10485760", force = false)
      val forced = run(jt, tol, "-1", force = true)
      assert(sortMerge == autoBcast, s"$jt/$tol: auto-broadcast diverged")
      assert(sortMerge == forced, s"$jt/$tol: forced broadcast diverged")
      assert(jt == "left_outer" || sortMerge.nonEmpty)
    }
  }

  test("as-of: left_outer keeps unmatched left rows with a null right side") {
    val left = Seq((1L, 100L, 10L), (3L, 200L, 1L)).toDF("event_id", "k", "t")
    val right = Seq((100L, 5L, 500L)).toDF("rk", "rt", "payload")
    val got = graft.plans.AsOfJoinPlan
      .asofMerge(left, right, "k", "rk", "t", "rt", "payload", joinType = "left_outer")
      .select("event_id", "payload").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1L -> 500L, 3L -> -1L))
  }

  test("as-of: tolerance bounds the lookback window") {
    val left = Seq((1L, 100L, 50L)).toDF("event_id", "k", "t")
    val right = Seq((100L, 10L, 500L)).toDF("rk", "rt", "payload")
    def run(tol: Option[Long]) = graft.plans.AsOfJoinPlan
      .asofMerge(left, right, "k", "rk", "t", "rt", "payload", tolerance = tol)
      .collect().length
    assert(run(Some(40L)) == 1) // 50 - 10 == 40 <= 40
    assert(run(Some(39L)) == 0) // out of tolerance -> dropped (inner)
    // outer + tolerance: row kept, right side nulled
    val outer = graft.plans.AsOfJoinPlan
      .asofMerge(left, right, "k", "rk", "t", "rt", "payload",
        joinType = "left_outer", tolerance = Some(39L))
      .select("payload").collect()
    assert(outer.length == 1 && outer.head.isNullAt(0))
  }

  test("as-of: Date time widens to TimestampNTZ instead of comparing days to micros") {
    // ADVICE r1: raw internals would compare date DAYS (~18k) against
    // timestamp MICROS (~1.6e15), matching every right row; the widened
    // plan must pick the 01-01 row, not the later 01-03 one.
    val left = Seq((1L, 100L, "2020-01-02 12:00:00")).toDF("event_id", "k", "ts")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))
    val right = Seq((100L, "2020-01-01", 1L), (100L, "2020-01-03", 2L))
      .toDF("rk", "d", "payload").withColumn("d", to_date($"d"))
    val got = graft.plans.AsOfJoinPlan
      .asofMerge(left, right, "k", "rk", "ts", "d", "payload")
      .select("payload").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("as-of: incomparable time and key types are rejected at plan time") {
    val left = Seq((1L, 100L, "oops")).toDF("event_id", "k", "t")
    val right = Seq((100L, 5L, 500L)).toDF("rk", "rt", "payload")
    assertThrows[IllegalArgumentException] {
      graft.plans.AsOfJoinPlan.asofMerge(left, right, "k", "rk", "t", "rt", "payload")
    }
    val leftStrKey = Seq(("a", 10L, 1L)).toDF("k", "t", "event_id")
    assertThrows[IllegalArgumentException] {
      graft.plans.AsOfJoinPlan.asofMerge(leftStrKey, right, "k", "rk", "t", "rt", "payload")
    }
  }

  test("hash kernels reproduce the composed md5 pipelines exactly") {
    import graft.functions.HashColumns
    val rnd = new scala.util.Random(13)
    val alpha = "abcd \t\n"
    val fuzz = (1 to 200).map(_ =>
      (0 until rnd.nextInt(40)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val texts = (Seq("the cat sat on the mat", "a b c d e f", " x\ty ", "") ++ fuzz)
      .toDF("text")
    // token hashes: kernel == transform(split)+md5+conv composition
    val th = texts.select(Dedup.tokenHashes($"text").as("a"),
      Dedup.tokenHashesComposed($"text").as("b")).collect()
    th.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // simhash: kernel == 60 interpreted aggregate() votes
    val sh = texts.select(
      HashColumns.simhash60(Dedup.tokenHashesComposed($"text")).as("a"),
      Dedup.simhashFromHashesComposed(Dedup.tokenHashesComposed($"text")).as("b")).collect()
    sh.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // minhash signature: kernel == array_min(transform(h1 + i*h2)) for
    // non-empty shingle sets (empty sets: MaxValue vs null, documented
    // output-equivalent deviation)
    val shingled = texts.select(TextAnalysis.shingles($"text", 3).as("s"))
      .filter(size($"s") > 0)
    val mh = shingled.select(
      HashColumns.minhashSignature($"s", 9).as("a"),
      Dedup.minhashFromPairs(Dedup.shingleHashPairs($"s"), 9).as("b")).collect()
    assert(mh.nonEmpty)
    mh.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("salted join equals the plain equi-join and shuffles on (key, salt)") {
    val skewed = (1 to 900).map(i => (if (i % 10 == 0) "rare" else "hot", i.toLong))
      .toDF("k", "v")
    val dim = Seq(("hot", 1L), ("rare", 2L), ("absent", 3L)).toDF("dk", "dv")
    val salted = Salting.saltedJoin(skewed, dim, "k", "dk", salts = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("dv").as("s"))
    val plain = skewed.join(dim, $"k" === $"dk")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("dv").as("s"))
    assert(salted.orderBy("k").collect().toSeq == plain.orderBy("k").collect().toSeq)
    // the exchange key must include the salt, not just k
    val plan = salted.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "")
    assert(plan.contains("__salt"), plan.take(1500))
    // left variant keeps unmatched probe rows exactly once
    val noDim = Salting.saltedJoin(skewed, dim.filter($"dk" === "rare"), "k", "dk",
      salts = 4, joinType = "left")
    assert(noDim.count() == 900)
  }

  test("broadcast as-of agrees with sort-merge as-of and plans with zero exchanges") {
    val d = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = TestEvents.normalized(spark, s"$d/events.parquet")
    val orders = spark.read.parquet(s"$d/orders.parquet")
    // Some(false) pins the distributed exec — without it a stats
    // underestimate could auto-broadcast both sides and the test would
    // compare broadcast against itself
    def run(bcast: Boolean, joinType: String, tol: Option[Long]) =
      graft.plans.AsOfJoinPlan.asofMerge(events, orders,
        "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey",
        joinType = joinType, tolerance = tol, broadcastRight = Some(bcast))
    for ((jt, tol) <- Seq(("inner", None), ("left_outer", None),
        ("inner", Some(9000L * 86400L * 1000000L)))) {
      val a = run(bcast = true, jt, tol).select("event_id", "o_orderkey")
        .orderBy("event_id").collect().toSeq
      val b = run(bcast = false, jt, tol).select("event_id", "o_orderkey")
        .orderBy("event_id").collect().toSeq
      assert(a == b, s"joinType=$jt tol=$tol")
    }
    val plan = run(bcast = true, "inner", None).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsOfJoin"), plan.take(400))
    assert(!plan.contains("Exchange"), plan.take(1200))
    val pinned = run(bcast = false, "inner", None).queryExecution.executedPlan.toString
    assert(!pinned.contains("BroadcastAsOfJoin"), pinned.take(400))
  }

  test("TextStats kernel reproduces the composed stats and quality score exactly") {
    val rnd = new scala.util.Random(29)
    val alpha = "the a cat \t\n"
    val fuzz = (1 to 200).map(_ =>
      (0 until rnd.nextInt(60)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val texts = (Seq("the cat sat on the mat", "", " ", "wörds ünïcode 漢字 here") ++ fuzz)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaKernel = TextAnalysis.stats(texts).orderBy("doc_id").collect().map(_.toSeq)
    val viaComposed = TextAnalysis.statsComposed(texts).orderBy("doc_id").collect().map(_.toSeq)
    assert(viaKernel.toSeq == viaComposed.toSeq)
    val q = texts.select(TextAnalysis.qualityScore($"text").as("a"),
      TextAnalysis.qualityScoreComposed($"text").as("b")).collect()
    q.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("WordShingles kernel reproduces the composed/oracle split semantics on edge whitespace") {
    // ADVICE r1: Java split without limit drops trailing empty tokens;
    // the kernel must match Spark split(trim(s), "\\s+") (limit -1),
    // including text ending in \t or \n that the space-only trim keeps.
    val edges = Seq("a b\t", "\ta b", "a b\n", "a\tb c\t\n", " a  b ", "",
      "   ", "a b c\td", "\n\na b", "a b \t")
    val rnd = new scala.util.Random(7)
    val alpha = "ab \t\n"
    val fuzz = (1 to 300).map(_ =>
      (0 until rnd.nextInt(14)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    for (n <- Seq(2, 3)) {
      val df = (edges ++ fuzz).toDF("text")
      val kernel = df.select(TextAnalysis.shingles($"text", n)).collect()
        .map(_.getSeq[String](0))
      val composed = df.select(TextAnalysis.shinglesComposed($"text", n)).collect()
        .map(_.getSeq[String](0))
      assert(kernel.toSeq == composed.toSeq)
    }
  }

  test("funnel orders steps strictly in time and honors the window bound") {
    val ev = Seq(
      // u1 converts fully: view@10, click@20, purchase@30
      ("u1", "view", 10L), ("u1", "click", 20L), ("u1", "purchase", 30L),
      // u2 clicks BEFORE viewing -> click must not count; re-click after
      ("u2", "click", 5L), ("u2", "view", 10L), ("u2", "click", 40L),
      // u3 views only
      ("u3", "view", 7L),
      // u4 never views (funnel entry) despite later steps
      ("u4", "click", 1L), ("u4", "purchase", 2L))
      .toDF("user_id", "event_type", "ts")
    val steps = Seq("view", "click", "purchase")
    val f = Funnel.funnel(ev, steps).collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(f.keySet == Set("u1", "u2", "u3")) // u4 has no step-1 entry
    assert(f("u1") == ((10L, 20L, 30L)))
    assert(f("u2") == ((10L, 40L, null))) // pre-view click ignored
    assert(f("u3") == ((7L, null, null)))
    // with a 15-tick window, u2's click@40 is outside view@10 + 15
    val fw = Funnel.funnel(ev, steps, withinMicros = Some(15L)).collect()
      .map(r => r.getString(0) -> r.get(2)).toMap
    assert(fw("u1") == 20L && fw("u2") == null)
    val conv = Funnel.conversions(Funnel.funnel(ev, steps), steps)
      .orderBy("step").collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(conv.toSeq == Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("stats moments reproduce hand-computed variance, corr and slope") {
    // x = 1,2,3,4; y = 2x exactly -> corr 1, slope 2, var_x 5/3
    val df = Seq(("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0), ("g", 4.0, 8.0))
      .toDF("grp", "x", "y")
    val r = Stats.moments(df, "grp", "x", "y").collect().head
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.5) // mean
    assert(math.abs(r.getDouble(3) - 5.0 / 3) < 1e-6) // var_samp
    assert(r.getDouble(6) == 1.0) // corr of an exact linear relation
    assert(r.getDouble(7) == 2.0) // OLS slope
  }

  test("resample fills every hour in the span and forward-fills gaps") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val t3 = java.sql.Timestamp.valueOf("2024-01-01 03:20:00")
    val df = Seq((1L, t0), (1L, t0), (1L, t3)).toDF("user_id", "ts")
    val rows = Resample.hourlyCountsFilled(df, "user_id", "ts")
      .orderBy("h").collect()
    assert(rows.length == 4) // hours 00..03 inclusive, 01 and 02 materialized
    assert(rows.map(r => Option(r.get(2)).orNull).toSeq == Seq(2L, null, null, 1L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(2L, 2L, 2L, 1L)) // forward fill
  }

  test("tfidf ranks a document's rare term above the corpus-wide term") {
    val docs = Seq(
      (0L, "common common zebra"), (1L, "common yak"), (2L, "common emu"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopK(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // 'common' appears in all 3 docs (df=3); each rare term df=1 wins
    assert(top == Map(0L -> "zebra", 1L -> "yak", 2L -> "emu"))
  }

  test("cohort retention counts week-offset actives against cohort size") {
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 12:00:00")
    // u1,u2 start week of Jan 1 (Mon); u1 returns week 1, u2 does not;
    // u3 starts week 1
    val ev = Seq((1L, ts("2024-01-02")), (2L, ts("2024-01-03")),
      (1L, ts("2024-01-09")), (3L, ts("2024-01-10")))
      .toDF("user_id", "ts")
    val r = Cohort.weeklyRetention(ev).orderBy("cohort_week", "week_offset")
      .collect().map(x => (x.getInt(1), x.getLong(2), x.getLong(3), x.getDouble(4)))
    assert(r.toSeq == Seq((0, 2L, 2L, 1.0), (1, 1L, 2L, 0.5), (0, 1L, 1L, 1.0)))
  }

  test("trailing z-score is null in warm-up and flags a spike after it") {
    val rows = (1 to 30).map(i => ("a", i, if (i == 28) 50L else 10L))
      .toDF("grp", "pos", "n")
    val z = Stats.trailingZScore(rows, "grp", "pos", "n", lookback = 5)
      .orderBy("pos").collect().map(r => Option(r.get(3)))
    assert(z.take(5).forall(_.isEmpty)) // warm-up: fewer than 5 prior rows
    assert(z(26).isEmpty) // constant window -> zero variance -> null
    val spike = z(27) // pos 28: window all 10s... variance 0 -> null too
    // windows containing the spike have nonzero variance; the row AFTER
    // the spike gets a valid (negative) score
    assert(spike.isEmpty && z(28).nonEmpty)
    assert(z(28).get.asInstanceOf[Double] < 0)
  }

  test("count-min estimates never under-count and are exact without collisions") {
    val toks = Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val df = toks.toDF("tok")
    val cells = Sketch.cmsCells(df, "tok")
    // total mass per row of the grid equals the input size
    val rowMass = cells.groupBy("r").agg(sum("c")).collect().map(_.getLong(1))
    assert(rowMass.toSeq == Seq.fill(4)(toks.size.toLong))
    val truth = df.groupBy("tok").agg(count(lit(1)).as("n_true"))
    val est = Sketch.cmsEstimate(cells, truth, "tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    est.foreach { case (_, t, e) => assert(e >= t) }
    // 3 tokens in a 4x256 grid: no collisions, so estimates are exact
    est.foreach { case (_, t, e) => assert(e == t) }
  }

  test("kmv jaccard: disjoint sets 0, identical sets 1, estimate in [0,1]") {
    val rows = (1 to 200).flatMap(i => Seq(("a", s"tok$i"), ("b", s"tok$i"))) ++
      (1 to 200).map(i => ("c", s"other$i"))
    val sigs = Sketch.bottomKSignatures(rows.toDF("src", "tok"), "src", "tok", k = 64)
    val j = Sketch.kmvJaccard(sigs, "src", k = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(j(("a", "b")) == 1.0) // identical token sets
    assert(j(("a", "c")) == 0.0) // disjoint token sets
  }

  test("triangle enumeration finds each triangle exactly once") {
    // K4 on {1,2,3,4} (4 triangles) plus a pendant edge 4-5 (no new ones)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("pa", "pb")
    val tris = Graph.triangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tris == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    // degree-oriented wedges handle a super-node: star hub 10 over 1..6
    // plus one closing edge (1,2) — exactly one triangle, found once
    val star = (1L to 6L).map(v => (math.min(v, 10L), math.max(v, 10L))) :+ (1L, 2L)
    val starTris = Graph.triangles(star.toDF("pa", "pb")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(starTris == Set((1L, 2L, 10L)))
    // co-occurrence edge builder canonicalizes and dedups
    val co = Graph.coOccurrenceEdges(
      Seq((1L, "s1"), (2L, "s1"), (2L, "s2"), (1L, "s2"), (3L, "s2"))
        .toDF("v", "k"), "v", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(co == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // hot-key cap: a key shared by more vertices than the cap is dropped
    // (stop-word rule); pairs reachable only through it disappear, pairs
    // with a cold co-key survive
    val hot = ((1L to 5L).map(v => (v, "hotkey")) ++
      Seq((1L, "cold"), (2L, "cold"))).toDF("v", "k")
    val capped = Graph.coOccurrenceEdges(hot, "v", "k", hotKeyCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("integer pagerank ranks the star hub highest and conserves mass") {
    // undirected star: hub 0 <-> leaves 1..4
    val e0 = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val pr = Graph.pageRank(e0, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(0L) > pr(1L) * 2) // hub collects all leaf mass each round
    assert((1L to 4L).map(pr).distinct.size == 1) // leaves symmetric
    // fixed-point truncation only ever loses mass, never creates it
    assert(pr.values.sum <= 1000000000000L)
    assert(pr.values.sum > 900000000000L)
  }

  test("pagerank vertex contract: the vertex set is the out-degree table") {
    // documented contract (Graph.pageRank scaladoc): a pure sink — vertex
    // 3 appears only as dst — is NOT a vertex, gets no rank row, and the
    // mass its in-edges carry leaves the system. Callers wanting sinks
    // ranked pass both directions (the undirected convention).
    val dangling = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(dangling, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set(1L, 2L)) // 3 has no out-edges → not a vertex
    // 1 splits its rank between 2 and the void each round: strictly less
    // total mass than the closed 2-cycle alone would retain
    assert(pr.values.sum < 1000000000000L * 9 / 10)
    // same graph with the sink wired back (both directions) keeps ~all mass
    val closed = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val prc = Graph.pageRank(closed, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prc.keySet == Set(1L, 2L, 3L))
    assert(prc.values.sum > 1000000000000L * 99 / 100)
  }

  test("quality rules count null, range, uniqueness and FK violations") {
    val facts = Seq((Some(1L), 5.0, 10L), (Some(1L), -2.0, 11L),
      (None, 3.0, 99L)).toDF("id", "amt", "fk")
    val dim = Seq(10L, 11L).toDF("pk")
    val rep = Quality.run(Seq(
      Quality.notNull(facts, "id"), Quality.inRange(facts, "amt", 0.0, 100.0),
      Quality.unique(facts, "id"), Quality.foreignKey(facts, "fk", dim, "pk")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("not_null:id" -> 1L, "in_range:amt" -> 1L,
      "unique:id" -> 1L, "foreign_key:fk" -> 1L))
  }

  test("fixed-point power iteration finds the dominant axis") {
    // 20 vectors along axis 1 (with small axis-0 noise), 2 along axis 2
    val vecs = ((1 to 20).map(i => Array(0.01f * i, 1f, 0f)) ++
      Seq(Array(0f, 0f, 0.5f), Array(0f, 0f, -0.5f))).map(Tuple1(_))
      .toDF("embedding")
    val v = Stats.topComponentFixedPoint(vecs, "embedding", dim = 3, iters = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(math.abs(v(2)) == v.values.map(math.abs).max) // axis 1 dominates
    assert(math.abs(v(2)) == 1000000L) // normalized to the fixed-point unit
    assert(math.abs(v(3)) < math.abs(v(1))) // axis-2 mass is tiny
  }

  test("confusion metrics and kappa match hand-computed values") {
    // actual: a,a,a,b,b ; pred: a,a,b,b,b -> tp_a=2 fn_a=1 fp_a=0; tp_b=2 fp_b=1
    val d = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"))
      .toDF("actual", "pred")
    val m = Eval.confusionMetrics(d, "actual", "pred").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(m("a") == ((2L, 0L, 1L, 1.0, round6(2.0 / 3))))
    assert(m("b") == ((2L, 1L, 0L, round6(2.0 / 3), 1.0)))
    val k = Eval.kappa(d, "actual", "pred").collect().head
    assert(k.getDouble(0) == 0.8) // accuracy 4/5
    // po=0.8, pe=(3*2+2*3)/25=0.48 -> kappa=(0.8-0.48)/0.52
    assert(k.getDouble(1) == round6((0.8 - 0.48) / 0.52))
  }
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("gini impurity is 0 for constant and 1-1/k for uniform columns") {
    val df = (1 to 100).map(i => ("same", s"v${i % 4}")).toDF("konst", "uni")
    val g = Profile.giniImpurity(df, Seq("konst", "uni")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(g("konst") == ((1L, 0.0)))
    assert(g("uni") == ((4L, 0.75))) // uniform over 4 values: 1 - 4*(1/4)^2
  }

  test("shared-ngram pairs equal the in-memory windowed-substring criterion") {
    val texts = Map(
      0L -> "a b c d e f g h",
      1L -> "x y z a b c d e", // shares the 'a b c d'/'b c d e' windows
      2L -> "a b c d e f g h", // exact dup of 0
      3L -> "p q r s t u v w") // unrelated
    val corpus = texts.toSeq.toDF("doc_id", "text")
    val got = Dedup.sharedNgramPairs(corpus, "text", "doc_id", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def wins(s: String) = s.split("\\s+").sliding(4).map(_.mkString(" ")).toSet
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      n = wins(texts(a)).intersect(wins(texts(b))).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    assert(got == want)
    assert(got((0L, 2L)) == 5L) // all 5 windows of the exact dup
  }

  test("sharedNgramPairsAuto: boilerplate window flips the stop-gram gate; " +
    "honest corpus routes exact (regime pin)") {
    // 60 docs all carrying the same 4-token boilerplate + unique bodies:
    // the boilerplate windows pair every doc with every other (C(60,2)
    // pairs over ~8 gram rows/doc — far past 8 pairs/row), so the
    // dispatcher must gate; the one true verbatim pair (100, 101) shares
    // sub-cap windows and must survive with its n_shared intact
    val boiler = (0L until 60L).map(i =>
      (i, s"unique$i body$i words$i here$i please subscribe to our newsletter"))
    val pair = Seq(
      (100L, "entirely fresh content alpha beta gamma delta epsilon"),
      (101L, "entirely fresh content alpha beta gamma delta epsilon"))
    val df = (boiler ++ pair).toDF("doc_id", "text")
    val d = Dedup.sharedNgramPairsAuto(df, "text", "doc_id", n = 4,
      cappedGramDocs = 10)
    assert(d.regime == "capped" && d.cap == 10)
    assert(d.maxKey == 60) // the boilerplate window postings
    assert(d.retention < 0.01) // C(60,2)-class mass gated away
    val got = d.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((100L, 101L) -> 5L)) // all 5 windows of the dup pair
    // a corpus of honest dup families (m=3 << cap) routes exact: the
    // dispatched result equals the forced-exact result
    val honest = (0L until 30L).map { i =>
      val f = i / 3 // families of 3 verbatim copies, fully distinct texts
      (i, s"fam${f}a fam${f}b fam${f}c fam${f}d fam${f}e fam${f}f")
    }.toDF("doc_id", "text")
    val h = Dedup.sharedNgramPairsAuto(honest, "text", "doc_id", n = 4)
    assert(h.regime == "exact" && h.retention == 1.0)
    val hGot = h.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toSet
    val hExact = Dedup.sharedNgramPairs(honest, "text", "doc_id", n = 4,
        maxGramDocs = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toSet
    assert(hGot == hExact)
  }

  test("sharedNgramPairsAuto sampled pre-probe: clear ratios route without " +
    "the checkpointed probe, outputs byte-identical to the exact-probe routes") {
    // honest corpus, decades under the threshold → sampled EXACT route
    val honest = (0L until 40L).map { i =>
      val f = i / 2 // families of 2 verbatim copies
      (i, s"fam${f}a fam${f}b fam${f}c fam${f}d fam${f}e fam${f}f fam${f}g")
    }.toDF("doc_id", "text")
    val se = Dedup.sharedNgramPairsAuto(honest, "text", "doc_id", n = 4,
      probeSampleMod = 2, minSampledGramRows = 8)
    assert(se.probeMode == "sampled" && se.regime == "exact")
    val seGot = se.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toSet
    val seWant = Dedup.sharedNgramPairs(honest, "text", "doc_id", n = 4,
        maxGramDocs = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toSet
    assert(seGot == seWant)
    // boilerplate-dominated corpus, DECADES over the threshold (6 of 7
    // windows/doc shared by all 200 docs: ~85 pairs/row vs 8·4=32 band
    // edge) → sampled CAPPED route; the gate works on FULL window
    // counts, so the planted sub-cap pair survives intact
    val boiler = (0L until 200L).map(i =>
      (i, s"unique$i please subscribe to our newsletter right now today friends"))
    val pair = Seq(
      (1000L, "entirely fresh content alpha beta gamma delta epsilon"),
      (1001L, "entirely fresh content alpha beta gamma delta epsilon"))
    val df = (boiler ++ pair).toDF("doc_id", "text")
    val sc = Dedup.sharedNgramPairsAuto(df, "text", "doc_id", n = 4,
      cappedGramDocs = 10, probeSampleMod = 2, minSampledGramRows = 8)
    assert(sc.probeMode == "sampled" && sc.regime == "capped" && sc.cap == 10)
    val scGot = sc.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(scGot == Map((1000L, 1001L) -> 5L))
    // a NEAR-BOUNDARY corpus (true ratio ~9.5 vs threshold 8) must NOT
    // be decided from a sample: it falls back to the exact probe and
    // routes from exact stats — the r13 fixture is exactly that shape
    val nearBoiler = (0L until 60L).map(i =>
      (i, s"unique$i body$i words$i here$i please subscribe to our newsletter"))
    val near = (nearBoiler ++ pair).toDF("doc_id", "text")
    val nb = Dedup.sharedNgramPairsAuto(near, "text", "doc_id", n = 4,
      cappedGramDocs = 10, probeSampleMod = 2, minSampledGramRows = 8)
    assert(nb.probeMode == "exact" && nb.regime == "capped")
    assert(nb.maxKey == 60)
    // thin sample (default 64k-row floor) → exact-probe fallback: the
    // small-fixture contract every existing spec relies on
    val fb = Dedup.sharedNgramPairsAuto(near, "text", "doc_id", n = 4,
      cappedGramDocs = 10)
    assert(fb.probeMode == "exact" && fb.regime == "capped")
  }

  test("LSH candidate pairs are a superset of the verified minhash pairs") {
    val corpus = Seq(
      (0L, "the cat sat on the mat and looked at the dog"),
      (1L, "the cat sat on the mat and looked at the dog"), // exact dup of 0
      (2L, "the cat sat on the mat and stared at the dog"), // near dup of 0
      (3L, "quantum flux capacitors energize the warp drive core"),
      (4L, "completely different words about gardening tulips roses"))
      .toDF("doc_id", "text")
    val cand = Dedup.lshCandidatePairs(corpus, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minhashLsh(corpus, "text", "doc_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cand))
    assert(cand.contains((0L, 1L))) // identical docs collide in every band
  }

  test("semantic dedup keeps exactly the vectors with no earlier in-cell partner within tau") {
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextFloat() * 0.05f)
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 0f, 1f, 0f)
    val data = (0 until 20).map(i => (i.toLong, jitter(a))) ++
      (20 until 40).map(i => (i.toLong, jitter(b)))
    val vecs = data.toDF("vec_id", "embedding")
    val codebook = Similarity.kmeansCodebook(vecs, k = 2, iters = 2, dim = 4)
    val kept = Similarity.semanticDedup(vecs, codebook, tau = 0.9)
      .collect().map(_.getLong(0)).toSet
    // in-memory reference: same assignment, brute-force pairwise cosine
    val cells = vecs.select(col("vec_id"),
        Similarity.ivfAssignCell(col("embedding"), codebook).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble; ny += y(i).toDouble * y(i).toDouble
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val byId = data.toMap
    val drops = (for {
      x <- byId.keys; y <- byId.keys
      if x < y && cells(x) == cells(y) && round6(cos(byId(x), byId(y))) >= 0.9
    } yield y).toSet
    assert(kept == byId.keySet.diff(drops))
    // tight clusters collapse to their earliest member
    assert(kept == Set(0L, 20L))
  }

  test("incremental semantic filter drops only in-cell neighbors of the base") {
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextFloat() * 0.05f)
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 0f, 1f, 0f)
    val base = ((0 until 15).map(i => (i.toLong, jitter(a))) ++
      (15 until 30).map(i => (i.toLong, jitter(b)))).toDF("vec_id", "embedding")
    // five near-dups of cluster a, one genuinely new direction
    val inc = ((100 until 105).map(i => (i.toLong, jitter(a))) :+
      (200L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val codebook = Similarity.kmeansCodebook(base, k = 2, iters = 2, dim = 4)
    val kept = Similarity.semanticFilter(base, inc, codebook, tau = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(200L))
  }

  test("bruteForceKnnBlocked row-identical to the expression path") {
    val rnd = new scala.util.Random(13)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    // adversaries: exact duplicate vectors (rounded-cos ties resolved by
    // the n_id tie-break), a zero-norm vector (the cos=0.0 guard), a NaN
    // and a ±Inf component (NaN scores, which rank first), a null vector
    // (scores 0.0) and a null id (never pairs)
    val base = (0 until 80).map(i => (Option(i.toLong), vec()))
    val dups = (80 until 90).map(i => (Option(i.toLong), base(i - 80)._2.clone()))
    val zero = Seq((Option(90L), Array.fill(8)(0f)))
    val nan = vec(); nan(2) = Float.NaN
    val inf = vec(); inf(0) = Float.PositiveInfinity; inf(5) = Float.NegativeInfinity
    val odd = Seq((Option(91L), nan), (Option(92L), inf),
      (Option(93L), null: Array[Float]), (None, vec()))
    val vecs = (base ++ dups ++ zero ++ odd).toDF("vec_id", "embedding")
    // bit-exact score compare: NaN == NaN here, unlike Double equality
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val all = rows(Similarity.bruteForceKnn(vecs, vecs, 3))
    assert(all.exists(r => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(r._3))))
    assert(rows(Similarity.bruteForceKnnBlocked(vecs, vecs, 3)) == all)
    // asymmetric query subset + k larger than some partitions' rows
    val q = vecs.filter($"vec_id" % 7 === 0 || $"vec_id" > 90 || $"vec_id".isNull)
    assert(rows(Similarity.bruteForceKnnBlocked(vecs, q, 4)) ==
      rows(Similarity.bruteForceKnn(vecs, q, 4)))
    // an int id column is outside the blocked kernel's schema: it falls
    // back to the expression path instead of failing
    val intIds = vecs.select($"vec_id".cast("int").as("vec_id"), $"embedding")
    assert(rows(Similarity.bruteForceKnnBlocked(intIds, intIds, 3)) == all)
  }

  test("multi-probe IVF probing every cell equals brute force") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(6)(rnd.nextFloat() * 2 - 1)
    val vecs = (0 until 60).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 5)
    val codebook = Similarity.kmeansCodebook(vecs, k = 4, iters = 2, dim = 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probed = rows(Similarity.ivfMultiProbeKnn(vecs, queries, k = 3,
      codebook, nProbe = codebook.size))
    val brute = rows(Similarity.bruteForceKnn(vecs, queries, k = 3))
    assert(probed == brute)
    // single-probe pinned against an in-memory reference: per query, the
    // top-3 by (round6 cosine DESC, id ASC) among same-cell others
    val data = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cells = vecs.select(col("vec_id"),
        Similarity.ivfAssignCell(col("embedding"), codebook).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble; ny += y(i).toDouble * y(i).toDouble
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val expected = (for {
      qid <- 0L until 5L
      (nid, sc) <- data.keys.toSeq.filter(n => n != qid && cells(n) == cells(qid))
        .map(n => n -> round6(cos(data(qid), data(n))))
        .sortBy { case (n, sc) => (-sc, n) }.take(3)
    } yield (qid, nid, sc)).toSet
    val single = rows(Similarity.ivfMultiProbeKnn(vecs, queries, k = 3,
      codebook, nProbe = 1))
    assert(single == expected)
  }

  test("incremental span filter drops only incoming docs sharing a base window") {
    val base = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "x y z a b c d e"), // shares the 'a b c d' window with base
      (11L, "p q r s t u v w"), // no shared window
      (12L, "a b x c d y e f")) // base tokens, but never 4 contiguous
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalSharedNgram(base, inc, "text", "doc_id", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
  }

  test("grid all-pairs meets every unordered pair exactly once") {
    val df = (0 until 37).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "key")
    def pairsOf(res: org.apache.spark.sql.DataFrame) = res
      .select(least(col("a.id"), col("b.id")), greatest(col("a.id"), col("b.id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val keyed = pairsOf(Grid.allPairs(df, "id", g = 4, keyCols = Seq("key")))
    val wantKeyed = for {
      a <- 0L until 37L; b <- (a + 1) until 37L if a % 3 == b % 3
    } yield (a, b)
    assert(keyed.sorted == wantKeyed.sorted) // exactly once, no dups
    val global = pairsOf(Grid.allPairs(df, "id", g = 4))
    assert(global.size == 37 * 36 / 2 && global.distinct.size == global.size)
  }

  test("quantile sketch reads the sorted hash-sample at floor(q*(n-1))") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val df = (0 until 10).map(i => ("g", i.toLong, i.toDouble))
      .toDF("grp", "event_id", "value")
    // k >= n: the sample is the whole group
    val full = Sketch.quantileSketch(df, "grp", "value", "event_id", k = 10)
      .collect().head
    assert((full.getDouble(1), full.getDouble(2), full.getDouble(3)) == ((4.0, 8.0, 8.0)))
    // k = 4: the four ids with the smallest md5 survive, in value order
    val sampleVals = (0 until 10).map(i => md5hex(i.toString) -> i.toDouble)
      .sortBy(_._1).take(4).map(_._2).sorted
    val part = Sketch.quantileSketch(df, "grp", "value", "event_id", k = 4)
      .collect().head
    assert(part.getDouble(1) == sampleVals(1)) // floor(0.5*3) = 1
    assert(part.getDouble(2) == sampleVals(2)) // floor(0.9*3) = 2
    assert(part.getDouble(3) == sampleVals(2)) // floor(0.99*3) = 2
  }

  private def md5Hash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("HLL registers and estimate match the in-memory reference and merge by max") {
    val toks = (0 until 500).map(i => ("k", s"tok$i")) ++
      (0 until 100).map(i => ("k", s"tok$i")) // repeats must not matter
    val df = toks.toDF("grp", "tok")
    // in-memory reference: same md5-60bit family, j = h mod 64, w = h div 64
    val regs = toks.map(_._2).distinct
      .map { t => val h = md5Hash60(t); (h % 64, h / 64) }
      .map { case (j, w) => (j, 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))) }
      .groupBy(_._1).map { case (j, rs) => j -> rs.map(_._2).max }
    val got = Sketch.hllRegisters(df, "grp", "tok").collect()
      .map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(got == regs.map { case (j, m) => j -> m })
    val sInt = (0L until 64L).map(j => 1L << (55 - regs.getOrElse(j, 0))).sum
    val expected = BigDecimal(0.709 * 4096.0 * 36028797018963968.0 / sInt)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val est = Sketch.hllEstimate(Sketch.hllRegisters(df, "grp", "tok"), "grp")
      .collect().head.getDouble(1)
    assert(est == expected)
    assert(math.abs(est - 500) < 0.4 * 500) // sanity: ~13% stderr at m=64
    // mergeability: registers of A∪B = max-merge of registers(A) and registers(B)
    val a = (0 until 300).map(i => ("k", s"tok$i")).toDF("grp", "tok")
    val b = (200 until 500).map(i => ("k", s"tok$i")).toDF("grp", "tok")
    val merged = Sketch.hllRegisters(a, "grp", "tok")
      .unionByName(Sketch.hllRegisters(b, "grp", "tok"))
      .groupBy("grp", "j").agg(max("mj").as("mj"))
    val whole = Sketch.hllRegisters(a.unionByName(b), "grp", "tok")
    assert(merged.collect().map(r => (r.getLong(1), r.getInt(2))).sorted.toSeq ==
      whole.collect().map(r => (r.getLong(1), r.getInt(2))).sorted.toSeq)
  }

  test("persisted IVF index search equals the in-memory trained path exactly") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.writeIvfIndex(df, path, k = 4, iters = 2, dim = 8)
    val queries = df.filter(col("vec_id") < 5)
    val fromIndex = Similarity.ivfKnnFromIndex(spark, path, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val codebook = Similarity.kmeansCodebook(df, k = 4, iters = 2, dim = 8)
    val withCell = df.withColumn("cell",
      Similarity.ivfAssignCell(col("embedding"), codebook))
    val inMemory = Similarity.ivfKnn(withCell,
        withCell.filter(col("vec_id") < 5), k = 3, cellCol = "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(fromIndex.toSeq == inMemory.toSeq)
    // the layout is what it claims: k codebook rows, versioned cells
    // behind a manifest marker resolving to version 0
    assert(spark.read.parquet(s"$path/codebook.parquet").count() == 4)
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v0.parquet")
    assert(new java.io.File(s"$path/manifest-0").exists())
    assert(spark.read.parquet(Similarity.ivfCellsPath(spark, path))
      .columns.toSet == Set("vec_id", "embedding", "cell"))
  }

  test("knnGraph: IVF-backed edges are symmetric distinct; nProbe=all-cells " +
    "equals the brute-force graph exactly") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("knngraph").toString
    Similarity.writeIvfIndex(df, path, k = 4, iters = 2, dim = 8)
    def edges(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g1 = edges(Graph.knnGraph(spark, path, k = 3))
    // symmetric: every (a,b) has (b,a); distinct is by construction of Set
    assert(g1.forall { case (a, b) => g1.contains((b, a)) && a != b })
    // probing EVERY cell degenerates to brute force — the graphs must
    // coincide edge-for-edge (the ivfMultiProbeKnn nProbe=|cells| contract
    // carried through the index-backed build)
    val gAll = edges(Graph.knnGraph(spark, path, k = 3, nProbe = 4))
    val gBrute = edges(Graph.knnGraphBrute(df, k = 3))
    assert(gAll == gBrute)
    // NN-Descent invariants: the exact graph is a FIXED POINT of
    // refinement (candidates can only rediscover the true top-k) …
    assert(edges(Graph.knnGraphRefined(spark, path, k = 3, nProbe = 4,
      rounds = 1)) == gBrute)
    // … and a cell-confined nProbe=1 base refines to ITSELF — two-hop
    // expansion cannot leave a connected component, and every component
    // sits inside one cell whose exact top-k the base already is (the
    // q_eval_knn_graph_refine flat-recall finding, pinned)
    assert(edges(Graph.knnGraphRefined(spark, path, k = 3, nProbe = 1,
      rounds = 2)) == g1)
    // sanity on the truth side: 60 vertices × 3 directed picks,
    // symmetrized-distinct can at most halve — never fewer than 90 edges
    assert(gBrute.size >= 60 * 3 / 2)
  }

  test("knnGraphAuto: a hot cell over the cap routes capped; the default " +
    "cap routes exact with the forced-exact edges") {
    // 48 vectors in one tight cone + 12 scattered: the cone is one hot cell
    val rnd = new scala.util.Random(29)
    val cone = (0L until 48L).map(i =>
      (i, Array.tabulate(8)(j => (if (j == 0) 1f else 0f) + rnd.nextFloat() * 0.05f)))
    val rest = (48L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = (cone ++ rest).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("knngraphauto").toString
    Similarity.writeIvfIndex(df, path, k = 4, iters = 2, dim = 8)
    val hot = spark.read.parquet(Similarity.ivfCellsPath(spark, path))
      .groupBy("cell").count().agg(max("count")).head().getLong(0)
    assert(hot >= 48)
    def edges(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cap = (hot / 3).toInt
    val c = Graph.knnGraphAuto(spark, path, k = 3, cappedCellVecs = cap)
    assert(c.regime == "capped" && c.probeMode == "exact" && c.cap == cap)
    assert(c.nInput == 60 && c.maxKey == hot)
    assert(c.retention > 0.0 && c.retention < 1.0)
    assert(edges(c.pairs) == edges(Graph.knnGraph(spark, path, k = 3,
      maxCellVecs = cap)))
    val e = Graph.knnGraphAuto(spark, path, k = 3)
    assert(e.regime == "exact" && e.retention == 1.0 && e.cap == Int.MaxValue)
    assert(e.estPairsCapped == e.estPairs && e.maxKey == hot)
    assert(edges(e.pairs) == edges(Graph.knnGraph(spark, path, k = 3,
      maxCellVecs = Int.MaxValue)))
  }

  test("ivfIndexAppend: search after append is bit-identical to assigning the full corpus") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 10 < 8)
    val batch = df.filter(col("vec_id") % 10 >= 8)
    val path = java.nio.file.Files.createTempDirectory("ivfinc").toString
    Similarity.writeIvfIndex(base, path, k = 4, iters = 2, dim = 8)
    def cells = spark.read.parquet(Similarity.ivfCellsPath(spark, path))
    val nBase = cells.count()
    Similarity.ivfIndexAppend(spark, path, batch)
    // cells grew by exactly the batch; the codebook file is untouched
    assert(cells.count() == nBase + batch.count())
    val queries = df.filter(col("vec_id") < 5)
    val got = Similarity.ivfKnnFromIndex(spark, path, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    // reference: train on base, assign base AND batch with that codebook
    val codebook = Similarity.kmeansCodebook(base, k = 4, iters = 2, dim = 8)
    val withCell = df.withColumn("cell",
      Similarity.ivfAssignCell(col("embedding"), codebook))
    val expect = Similarity.ivfKnn(withCell,
        withCell.filter(col("vec_id") < 5), k = 3, cellCol = "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got.toSeq == expect.toSeq)
  }

  test("ivfIndexCompact: search bit-identical before/after; small-file count drops") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") < 30)
    val path = java.nio.file.Files.createTempDirectory("ivfcmp").toString
    Similarity.writeIvfIndex(base, path, k = 4, iters = 2, dim = 8)
    for (b <- 0 until 3) // three maintenance batches, each its own commit
      Similarity.ivfIndexAppend(spark, path,
        df.filter(col("vec_id") >= 30 + b * 10 && col("vec_id") < 40 + b * 10))
    def dataFiles: Int = new java.io.File(
        Similarity.ivfCellsPath(spark, path))
      .listFiles.count(_.getName.endsWith(".parquet"))
    val queries = df.filter(col("vec_id") < 5)
    def search = Similarity.ivfKnnFromIndex(spark, path, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = search
    val filesBefore = dataFiles
    val codebookBefore = spark.read.parquet(s"$path/codebook.parquet")
      .collect().map(_.toString).sorted.toSeq
    // SNAPSHOT ISOLATION: resolve the reader's view BEFORE compacting —
    // that exact directory must stay complete and readable afterwards
    val preSwapDir = Similarity.ivfCellsPath(spark, path)
    val preSwapRows = spark.read.parquet(preSwapDir).count()
    Similarity.ivfIndexCompact(spark, path)
    assert(search == before)
    assert(dataFiles < filesBefore,
      s"expected fewer data files after compaction: $filesBefore -> $dataFiles")
    // manifest flipped to v1; the superseded v0 is RETAINED as the
    // in-flight readers' grace snapshot and still reads whole
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v1.parquet")
    assert(!new java.io.File(s"$path/manifest-0").exists())
    assert(spark.read.parquet(preSwapDir).count() == preSwapRows)
    assert(spark.read.parquet(s"$path/codebook.parquet")
      .collect().map(_.toString).sorted.toSeq == codebookBefore)
    // the compaction AFTER next retires the grace snapshot
    Similarity.ivfIndexCompact(spark, path)
    assert(search == before)
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v2.parquet")
    assert(!new java.io.File(preSwapDir).exists())
    // retainPrior=false drops the just-superseded version immediately
    Similarity.ivfIndexCompact(spark, path, retainPrior = false)
    assert(search == before)
    assert(new java.io.File(path).list.toSet.filter(_.startsWith("cells")) ==
      Set("cells-v3.parquet"))
  }

  test("tagged ivfIndexAppend is idempotent under replay; compact recovers a crashed swap") {
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfreplay").toString
    Similarity.writeIvfIndex(df.filter(col("vec_id") < 30), path,
      k = 4, iters = 2, dim = 8)
    val batch = df.filter(col("vec_id") >= 30)
    val cb = Similarity.readIvfCodebook(spark, path)
    // at-least-once replay: the SAME batch commits twice under one tag
    Similarity.ivfIndexAppendWith(cb, path, batch, commitTag = Some("b0"))
    Similarity.ivfIndexAppendWith(cb, path, batch, commitTag = Some("b0"))
    assert(spark.read.parquet(Similarity.ivfCellsPath(spark, path)).count() == 40,
      "replayed tag must replace, not duplicate")
    val queries = df.filter(col("vec_id") < 5)
    def search = Similarity.ivfKnnFromIndex(spark, path, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = search
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // crash DURING a compaction's rewrite: an orphan next-version dir
    // with no manifest. Readers still resolve v0; re-running the
    // compaction completes the job and sweeps the orphan.
    val orphan = new org.apache.hadoop.fs.Path(s"$path/cells-v1.parquet")
    fs.mkdirs(orphan)
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v0.parquet")
    assert(search == before)
    Similarity.ivfIndexCompact(spark, path)
    assert(search == before)
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v1.parquet")
    // crash BETWEEN manifest create and old-manifest delete: both
    // markers present — readers resolve the NEWER committed version,
    // and the next maintenance entry sweeps the stale marker
    fs.create(new org.apache.hadoop.fs.Path(s"$path/manifest-0"), false).close()
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v1.parquet")
    assert(search == before)
    Similarity.ivfIndexAppendWith(cb, path,
      df.filter(col("vec_id") < 0), commitTag = Some("b1")) // empty batch: entry sweep only
    assert(!new java.io.File(s"$path/manifest-0").exists())
    assert(search == before)
  }

  test("commit tags reject separator chars; legacy un-versioned layout is adopted") {
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfguard").toString
    Similarity.writeIvfIndex(df.filter(col("vec_id") < 20), path,
      k = 4, iters = 2, dim = 8)
    val cb = Similarity.readIvfCodebook(spark, path)
    val batch = df.filter(col("vec_id") >= 20)
    // '-' is the tag/part separator in committed file names — a tag
    // containing it ("a-b") would let dropTag("a") delete its files, so
    // the documented prefix-uniqueness invariant must be ENFORCED
    for (bad <- Seq("a-b", "a/b", "a.b", "", "a b"))
      intercept[IllegalArgumentException] {
        Similarity.ivfIndexAppendWith(cb, path, batch, commitTag = Some(bad))
      }
    // an index written by a pre-versioned build (plain cells.parquet, no
    // manifest): reads fall back to it, and the first maintenance WRITE
    // adopts it as version 0 before committing
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$path/cells-v0.parquet"),
      new org.apache.hadoop.fs.Path(s"$path/cells.parquet")))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/manifest-0"), false))
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells.parquet")
    val queries = df.filter(col("vec_id") < 5)
    assert(Similarity.ivfKnnFromIndex(spark, path, queries, k = 3).count() > 0)
    Similarity.ivfIndexAppendWith(cb, path, batch, commitTag = Some("b1"))
    assert(Similarity.ivfCellsPath(spark, path) == s"$path/cells-v0.parquet")
    assert(new java.io.File(s"$path/manifest-0").exists())
    assert(spark.read.parquet(Similarity.ivfCellsPath(spark, path)).count() == 30)
  }

  test("HLL small-range estimates switch to the quantized linear-counting table") {
    // 20 distinct tokens over m=64 registers: raw << 2.5m and empty
    // registers exist, so the estimate must be m*ln(m/V) from the
    // driver-quantized table, V = empty register count
    val toks = (0 until 20).map(i => ("k", s"lc$i"))
    val df = toks.toDF("grp", "tok")
    val occupied = toks.map(_._2).distinct
      .map(t => md5Hash60(t) % 64).toSet
    val v = 64 - occupied.size
    assert(v > 0)
    val expected = BigDecimal(Sketch.hllLcTable(64)(v - 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val est = Sketch.hllEstimate(Sketch.hllRegisters(df, "grp", "tok"), "grp")
      .collect().head.getDouble(1)
    assert(est == expected)
    assert(math.abs(est - 20) < 6) // and it is actually close to the truth
  }

  test("KMV containment: a strict subset reports 1.0 toward its superset") {
    val toks = (0 until 40).map(i => ("small", s"t$i")) ++
      (0 until 200).map(i => ("big", s"t$i")) // small ⊂ big
    val st = toks.toDF("grp", "tok")
    val sigs = Sketch.bottomKSignatures(st, "grp", "tok", k = 128)
    val got = Sketch.kmvContainment(sigs, "grp", k = 128).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("small", "big")) == 1.0) // every element of small is in big
    // exact directed containment big→small = 40/200; with k=128 of the
    // 200-element union, the estimate counts tk∩big (128) and tk∩big∩small
    val md5s = (0 until 200).map(i => md5Hash60(s"t$i"))
    val tk = md5s.sorted.take(128)
    val smallSet = (0 until 40).map(i => md5Hash60(s"t$i")).toSet
    val expected = BigDecimal(tk.count(smallSet).toDouble / 128)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("big", "small")) == expected)
  }

  test("dynamic backfill rewrites only the updated partition's files") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_backfill_t").toString + "/t"
    val src = Seq((1L, 10.0, "F"), (2L, 20.0, "O"), (3L, 30.0, "F"))
      .toDF("k", "v", "p")
    Bucketing.writePartitioned(src, out, "p")
    def files(part: String): Set[String] = {
      val d = new java.io.File(s"$out/p=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified).toSet
    }
    val oBefore = files("O")
    val fBefore = files("F")
    Thread.sleep(5) // ensure a rewrite would bump lastModified
    Bucketing.backfillPartitions(
      src.filter(col("p") === "F").withColumn("v", col("v") * 2), out, "p")
    assert(files("O") == oBefore, "untouched partition must keep its files")
    assert(files("F") != fBefore, "updated partition must be rewritten")
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 20.0, 2L -> 20.0, 3L -> 60.0))
  }

  test("normalize kernel: NFC composition, root-locale lower, space collapse") {
    val decomposed = "Café" // e + combining acute
    val df = Seq((0L, s"  $decomposed   ÜBER\tAlles "), (1L, "plain text"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.functions.NormalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "café über alles") // é is ONE code point after NFC
    assert(got(1L) == "plain text")
    // null passes through
    val n = Seq((2L, null: String)).toDF("doc_id", "text")
      .select(graft.functions.NormalizeText(col("text"))).collect().head
    assert(n.isNullAt(0))
  }

  test("normalize is idempotent and skip-gram counts are orientation-symmetric") {
    // idempotence: a canonical form must be a fixed point
    val texts = Seq("  Mixed   CASE\ttext ", "Café déjà-vu", "a\n\nb", "汉字 テスト")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val once = df.select(col("doc_id"),
      graft.functions.NormalizeText(col("text")).as("text"))
    val twice = once.select(col("doc_id"),
      graft.functions.NormalizeText(col("text")).as("text"))
    assert(once.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      twice.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // symmetry: the mirrored pair always ships with the forward pair
    val counts = TextAnalysis.skipGramPairs(df, window = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    counts.foreach { case ((a, b), n) =>
      assert(counts((b, a)) == n, s"asymmetric pair ($a,$b)")
    }
  }

  test("k-anonymity flags small classes and low sensitive diversity") {
    val rows = Seq.fill(12)(("us", "a", 1.0)) ++ // big class, 1 sensitive value
      Seq(("de", "a", 1.0), ("de", "a", 2.0), ("de", "a", 3.0)) // small, diverse
    val df = rows.toDF("country", "seg", "bal")
    val got = Quality.kAnonymity(df, Seq("country", "seg"), "bal", k = 10, l = 3)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    assert(got == Set(
      ("us", 12L, 1L, false, true), // k holds, l fails (single balance)
      ("de", 3L, 3L, true, false))) // k fails, l holds
  }

  test("skip-gram pairs match hand enumeration, both orientations") {
    val df = Seq((0L, "a b c"), (1L, "a b a")).toDF("doc_id", "text")
    val got = TextAnalysis.skipGramPairs(df, window = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "a b c": (a,b)(b,a)(a,c)(c,a)(b,c)(c,b); "a b a": (a,b)(b,a)
    // (a,a)x2 [distance 2] (b,a)(a,b) → (a,b)/(b,a) total 1+2 = 3 each
    val want = Map(("a", "b") -> 3L, ("b", "a") -> 3L, ("a", "c") -> 1L,
      ("c", "a") -> 1L, ("b", "c") -> 1L, ("c", "b") -> 1L, ("a", "a") -> 2L)
    assert(got == want)
    // a single-token doc yields nothing
    assert(TextAnalysis.skipGramPairs(
      Seq((0L, "solo")).toDF("doc_id", "text"), window = 2).count() == 0)
  }

  test("NDCG and reciprocal rank match hand-computed fixed-point values") {
    val truth = Seq(("q", 1L, 3L), ("q", 2L, 2L), ("q", 3L, 1L))
      .toDF("query_id", "doc_id", "gain")
    val run = Seq(("q", 2L, 1), ("q", 9L, 2), ("q", 1L, 3))
      .toDF("query_id", "doc_id", "rnk")
    val d = Eval.ndcgDiscountsFp(3)
    assert(d == Seq(1000000000000L, math.round(1e12 / (math.log(3.0) / math.log(2.0))),
      500000000000L))
    val dcg = 2L * d(0) + 0L + 3L * d(2) // run order: doc2(g=2), doc9(g=0), doc1(g=3)
    val idcg = 3L * d(0) + 2L * d(1) + 1L * d(2)
    val wantNdcg = BigDecimal(dcg.toDouble / idcg)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nd = Eval.ndcgAtK(run, truth, k = 3).collect().head
    assert(nd.getDouble(1) == wantNdcg)
    val rr = Eval.reciprocalRankAtK(run, truth, k = 3).collect().head
    assert(rr.getInt(1) == 1 && rr.getLong(2) == 1000000000L) // doc2 hits at rank 1
    // a run with no relevant docs reports rank null, rr 0
    val miss = Seq(("q", 8L, 1), ("q", 9L, 2)).toDF("query_id", "doc_id", "rnk")
    val rm = Eval.reciprocalRankAtK(miss, truth, k = 3).collect().head
    assert(rm.isNullAt(1) && rm.getLong(2) == 0L)
  }

  test("RRF fusion scores exact fixed-point reciprocal ranks and re-ranks") {
    val runA = Seq(("q", 10L, 1), ("q", 11L, 2), ("q", 12L, 3))
      .toDF("query_id", "doc_id", "rnk")
    val runB = Seq(("q", 11L, 1), ("q", 13L, 2), ("q", 10L, 3))
      .toDF("query_id", "doc_id", "rnk")
    val fused = TextAnalysis.rrfFuse(Seq(runA, runB), k = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1) // rnk is deterministic; row order after collect is not
    def c(r: Int): Long = 1000000000L / (60 + r)
    // doc 11: ranks 2+1; doc 10: ranks 1+3; docs 12, 13: single runs
    val expect = Seq((1, 11L, c(2) + c(1), 2L), (2, 10L, c(1) + c(3), 2L),
      (3, 13L, c(2), 1L), (4, 12L, c(3), 1L))
    assert(fused.toSeq == expect)
  }

  test("gopher gates: each rule trips on its crafted document") {
    val filler = (0 until 60).map(i => s"word$i").mkString(" ")
    val gdocs = Seq(
      (0L, s"the cat and dog of $filler"),                  // passes all
      (1L, "the of short doc"),                             // fails ok_words
      (2L, s"the of $filler " + Seq.fill(20)("#tag").mkString(" ")), // fails ok_symbol
      (3L, s"the of $filler " + Seq.fill(30)("12345").mkString(" ")) // fails ok_alpha
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(gdocs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    // (ok_words, ok_symbol, ok_alpha, ok_stop, pass)
    assert(got(0L) == ((true, true, true, true, true)))
    assert(got(1L)._1 == false && got(1L)._5 == false)
    assert(got(2L)._2 == false && got(2L)._5 == false)
    assert(got(3L)._3 == false && got(3L)._5 == false)
  }

  test("welchT matches a hand-computed two-sample case") {
    // A = {1, 2, 3}: mean 2, var 1; B = {2, 4, 6, 8}: mean 5, var 20/3
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 4), ("b", 6),
      ("b", 8)).toDF("g", "v")
    val r = Stats.welchT(df, col("g") === "a",
      col("v").cast("decimal(12,2)")).collect().head
    assert(r.getInt(0) == 3 && r.getInt(1) == 4)
    assert(r.getDouble(2) == -3.0) // mean diff
    // se = 1/3 + (20/3)/4 = 2; t = -3/sqrt(2)
    assert(math.abs(r.getDouble(3) - (-3.0 / math.sqrt(2.0))) < 1e-6)
    // df = 2² / ((1/3)²/2 + (5/3)²/3) = 4 / (53/54) = 216/53
    assert(math.abs(r.getDouble(4) - 216.0 / 53) < 1e-6)
  }

  test("anovaF matches a hand-computed three-vs-three case") {
    // a = {2, 4, 6} mean 4, b = {8, 10, 12} mean 10, grand mean 7:
    // SSB = 3·(4-7)² + 3·(10-7)² = 54, SSW = 8 + 8 = 16 (value units);
    // in the ×1e6 scaled space both multiply by 1e12; F = 54/(16/4) =
    // 13.5, eta² = 54/70
    val df = Seq(("a", 2L), ("a", 4L), ("a", 6L), ("b", 8L), ("b", 10L),
      ("b", 12L)).toDF("g", "v")
    val r = Stats.anovaF(df, col("g"), col("v")).collect().head
    assert(r.getInt(0) == 2 && r.getLong(1) == 6L)
    assert(r.getAs[Double]("ssb") == 54e12 && r.getAs[Double]("ssw") == 16e12)
    assert(r.getAs[Double]("f_stat") == 13.5)
    assert(r.getAs[Double]("eta2") ==
      BigDecimal(54.0 / 70.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("levene: deviations and the inner ANOVA come out exact") {
    // a = {0, 2, 10} mean 4 -> z = {4, 2, 6}·1e6; b = {3, 5} mean 4 ->
    // z = {1, 1}·1e6. Inner K = 1e3: SSW = 8e18, SSB = 1.08e19,
    // F = 1.08e19 / (8e18/3) = 4.05
    val df = Seq(("a", 0L), ("a", 2L), ("a", 10L), ("b", 3L), ("b", 5L))
      .toDF("g", "v")
    val r = Stats.levene(df, col("g"), col("v")).collect().head
    assert(r.getAs[Double]("ssw") == 8e18 && r.getAs[Double]("ssb") == 1.08e19)
    assert(r.getAs[Double]("f_stat") == 4.05)
  }

  test("kruskalWallis: cross-group tie averages over the pooled count") {
    // a = {1, 2, 3}, b = {2, 4}: ranks 1, 2.5, 4 / 2.5, 5 -> doubled
    // sums 15 and 15; T = 225 div 3 + 225 div 2 = 187; H = 3·187/30−18
    // = 0.7; one tied pair -> tie 6, h_adj = 0.7/0.95
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 2L), ("b", 4L))
      .toDF("g", "v")
    val r = Stats.kruskalWallis(df, col("g"), col("v")).collect().head
    assert(r.getInt(0) == 2 && r.getLong(1) == 5L)
    assert(r.getAs[Long]("t_sum") == 187L && r.getAs[Long]("tie_sum") == 6L)
    assert(r.getAs[Double]("h") == 0.7)
    assert(r.getAs[Double]("h_adj") ==
      BigDecimal(0.7 / 0.95).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("burstiness: regular spacing gives B = -1, a burst goes positive") {
    val reg = Seq((1L, "k", 0L, 1L), (1L, "k", 1000L, 2L),
      (1L, "k", 2000L, 3L), (1L, "k", 3000L, 4L)).toDF("u", "key", "t", "i")
    val r = Stats.burstiness(reg, col("u"), col("key"), col("t"), col("i"))
      .collect().head
    assert(r.getAs[Long]("n_gaps") == 3L && r.getAs[Long]("cv2_x1e6") == 0L)
    assert(r.getAs[Double]("burstiness") == -1.0)
    val burst = Seq((1L, "k", 0L, 1L), (1L, "k", 1L, 2L), (1L, "k", 2L, 3L),
      (1L, "k", 10000L, 4L)).toDF("u", "key", "t", "i")
    val b = Stats.burstiness(burst, col("u"), col("key"), col("t"), col("i"))
      .collect().head
    assert(b.getAs[Long]("cv2_x1e6") > 1000000L) // CV² > 1: burstier than Poisson
    assert(b.getAs[Double]("burstiness") > 0)
  }

  test("assortativity: a star is perfectly disassortative") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("pa", "pb")
    val r = Graph.assortativity(star).collect().head
    assert(r.getAs[Long]("n_endpoints") == 6L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("modularity: two labeled triangles give exactly 1/2; singletons negative") {
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("pa", "pb")
    val labels = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (5L, 1), (6L, 1))
      .toDF("v", "label")
    val r = Graph.modularity(tri2, labels).collect().head
    assert(r.getAs[Long]("m_edges") == 6L &&
      r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("modularity_x1e6") == 500000L)
    val none = Graph.modularity(tri2,
      Seq.empty[(Long, Int)].toDF("v", "label")).collect().head
    assert(none.getAs[Long]("n_communities") == 6L &&
      none.getAs[Long]("modularity_x1e6") < 0L)
  }

  test("brierDecomposition: perfect predictions decompose to BS = 0") {
    val df = Seq((true, 1000L), (true, 1000L), (false, 0L), (false, 0L))
      .toDF("p", "pm")
    val r = Eval.brierDecomposition(df, col("p"), col("pm")).collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("n_pos") == 2L)
    assert(r.getAs[Long]("brier_x1e6") == 0L && r.getAs[Long]("rel_x1e6") == 0L)
    // obar = .5: RES = UNC = .25 (they cancel: BS = REL - RES + UNC)
    assert(r.getAs[Long]("res_x1e6") == 250000L &&
      r.getAs[Long]("unc_x1e6") == 250000L)
  }

  test("srmCheck: pooled row sums the strata; assignment is deterministic") {
    val df = (0L until 1000L).map(u => (u, s"s${u % 3}")).toDF("u", "st")
    val rows = Eval.srmCheck(df, col("u"), col("st")).collect()
    val pooled = rows.find(_.isNullAt(0)).get
    assert(pooled.getAs[Long]("n1") + pooled.getAs[Long]("n2") == 1000L)
    val strata = rows.filter(!_.isNullAt(0))
    assert(strata.map(_.getAs[Long]("n1")).sum == pooled.getAs[Long]("n1"))
    val again = Eval.srmCheck(df, col("u"), col("st")).collect()
      .find(_.isNullAt(0)).get
    assert(again.getAs[Long]("n1") == pooled.getAs[Long]("n1"))
  }

  test("sourceCosine: identical tf vectors give 1, disjoint vocab no pair") {
    val d = Seq(("g1", "a b b"), ("g2", "a b b"), ("g3", "zz"))
      .toDF("source", "text")
    val rows = TextAnalysis.sourceCosine(d, col("source")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "g1" && r.getString(1) == "g2")
    assert(r.getAs[Long]("dot") == 5L && r.getAs[Double]("cosine") == 1.0)
  }

  test("mannKendall: strict increase maximizes S, Sen slope exact") {
    // v = 2t: every pair concordant -> S = n_pairs = 45, no ties ->
    // var18 = 10·9·25 = 2250, every pairwise slope = 2
    val df = (0L until 10L).map(t => (t, 2 * t)).toDF("t", "v")
    val r = Stats.mannKendall(df, col("t"), col("v")).collect().head
    assert(r.getAs[Long]("n_points") == 10L && r.getAs[Long]("n_pairs") == 45L)
    assert(r.getAs[Long]("s") == 45L && r.getAs[Long]("var18") == 2250L)
    assert(r.getAs[Double]("sen_slope") == 2.0)
    val expectZ = BigDecimal(44.0 / math.sqrt(2250.0 / 18.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == expectZ)
  }

  test("kendallTau: identity gives 1, reversal -1, ties counted") {
    val xs = (0L until 8L).map(t => (t, t * 3 % 7)).toDF("t", "v")
    val same = Stats.kendallTau(xs, xs, "t", "v").collect().head
    assert(same.getAs[Double]("tau_b") == 1.0)
    val neg = xs.select(col("t"), (-col("v")).as("v"))
    val rev = Stats.kendallTau(xs, neg, "t", "v").collect().head
    assert(rev.getAs[Double]("tau_b") == -1.0)
    // one tied x pair (t=0 and t=7 both have v=0): n1 counts it
    assert(same.getAs[Long]("n1") == 1L && same.getAs[Long]("n0") == 28L)
  }

  test("seasonalDecompose: pure period-2-in-4 pattern recovers ±2 exactly") {
    // {5, 9, 5, 9, ...}: centered MA trend is exactly 7, so the
    // seasonal index is -2 at even phases, +2 at odd
    val df = (0L until 20L).map(t => (t, if (t % 2 == 0) 5L else 9L))
      .toDF("t", "v")
    val rows = Stats.seasonalDecompose(df, col("t"), col("v"), period = 4)
      .orderBy("phase").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("n_points")).forall(_ == 4L))
    assert(rows.map(r => r.getInt(0) -> r.getAs[Double]("seasonal")).toMap ==
      Map(0 -> -2.0, 1 -> 2.0, 2 -> -2.0, 3 -> 2.0))
  }

  test("twoProportionZ: hand case matches the pooled-variance formula") {
    val df = Seq(("a", true), ("a", true), ("a", false), ("a", false),
      ("b", true), ("b", false), ("b", false), ("b", false))
      .toDF("g", "c")
    val r = Eval.twoProportionZ(df, col("g") === "a", col("c")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 2L, 4L, 1L))
    assert(r.getAs[Double]("p_diff") == 0.25)
    val pp = 3.0 / 8
    val expectZ = BigDecimal(0.25 / math.sqrt(pp * (1 - pp) * (0.25 + 0.25)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == expectZ)
  }

  test("embeddingDrift: orthogonal cohort centroids give dist2 = 2, cos = 0") {
    val vecs = Seq((0L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (1L, Array(0f, 1f)), (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val r = Similarity.embeddingDrift(vecs, col("vec_id") % 2 === 0)
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Int]("n_dims") == 2)
    assert(r.getAs[Double]("centroid_dist2") == 2.0)
    assert(r.getAs[Double]("centroid_cos") == 0.0)
    assert(r.getAs[Int]("top_dim") == 0 &&
      r.getAs[Double]("top_dim_shift") == 1.0) // |ddn| tie -> lowest dim
  }

  test("senSlopeByGroup: per-group robust slopes exact") {
    val df = (0L until 10L).flatMap(t =>
      Seq(("up", t, 3 * t), ("down", t, 100 - t))).toDF("g", "t", "v")
    val m = Stats.senSlopeByGroup(df, col("g"), col("t"), col("v"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("sen_slope")).toMap
    assert(m == Map("up" -> 3.0, "down" -> -1.0))
  }

  test("cochranArmitage: linear rise over three doses, hand-exact z") {
    // doses 1,2,3 with n=2 each and x = 0,1,2: T·N = 12, z = 12/6 = 2
    val df = Seq((1, false), (1, false), (2, true), (2, false),
      (3, true), (3, true)).toDF("w", "pos")
    val r = Stats.cochranArmitage(df, col("w"), col("pos")).collect().head
    assert(r.getAs[Int]("k_doses") == 3 && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("t_n") == 12L)
    assert(r.getAs[Double]("z") == 2.0)
  }

  test("rocAuc: perfect separation gives 1, all-ties give 0.5, hand case exact") {
    val perfect = Seq((true, 10), (true, 9), (false, 2), (false, 1)).toDF("p", "s")
    assert(Eval.rocAuc(perfect, col("p"), col("s")).collect().head.getDouble(3) == 1.0)
    val ties = Seq((true, 5), (false, 5), (true, 5), (false, 5)).toDF("p", "s")
    assert(Eval.rocAuc(ties, col("p"), col("s")).collect().head.getDouble(3) == 0.5)
    // pos scores {3, 1}, neg {2, 0}: pairs won 3 of 4 -> AUC .75
    val hand = Seq((true, 3), (true, 1), (false, 2), (false, 0)).toDF("p", "s")
    val r = Eval.rocAuc(hand, col("p"), col("s")).collect().head
    assert(r.getLong(2) == 6L && r.getDouble(3) == 0.75) // 2·U1 = 6
  }

  test("calibrationBins: exact per-bin means, rates, and gaps") {
    // bin 0: pm {50, 50}, one positive -> mean_p .05, rate .5
    // bin 9: pm {950}, positive -> mean_p .95, rate 1
    val df = Seq((true, 50L), (false, 50L), (true, 950L)).toDF("p", "pm")
    val rows = Eval.calibrationBins(df, col("p"), col("pm")).collect()
    assert(rows.length == 2)
    val b0 = rows.find(_.getInt(0) == 0).get
    assert(b0.getLong(1) == 2 && b0.getLong(2) == 1 && b0.getLong(3) == 100)
    assert(b0.getDouble(4) == 0.05 && b0.getDouble(5) == 0.5 &&
      b0.getDouble(6) == 0.45)
    val b9 = rows.find(_.getInt(0) == 9).get
    assert(b9.getDouble(4) == 0.95 && b9.getDouble(5) == 1.0 &&
      b9.getDouble(6) == 0.05)
  }

  test("bfsHops: path graph hops from a single source, bound respected") {
    // path 1-2-3-4-5 plus isolated edge 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("pa", "pb")
    val src = Seq(1L).toDF("v")
    val got = Graph.bfsHops(edges, src, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 beyond bound, 8/9 unreachable
    // two sources meet in the middle with the min hop
    val got2 = Graph.bfsHops(edges, Seq(1L, 5L).toDF("v"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2(3L) == 2 && got2(2L) == 1 && got2(4L) == 1)
  }

  test("audioActiveSegments: islands of above-threshold blocks, exact energies") {
    val wav = Multimodal.syntheticWav(seed = 3, sampleRate = 8000, nSamples = 403)
    val media = Seq((7L, wav)).toDF("doc_id", "payload")
    // replicate: block energies from the known PCM generator
    val energies = Array.ofDim[Long](4)
    for (i <- 0 until 403) {
      val v = (((3L * 1315423911L + i * 2654435761L) & 0xffffL) - 32768L)
      energies(i / 128) += v * v
    }
    val thr = energies.take(3).sorted.apply(1) // middle full block -> 2 active
    val segs = Multimodal.audioActiveSegments(media, "doc_id", 128, thr)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(5)))
    val expActive = (0 until 4).filter(b => energies(b) >= thr)
    assert(segs.map(s => (s._2 to s._3)).flatten.toSet == expActive.toSet)
    assert(segs.map(_._4).sum == expActive.map(energies).sum)
  }

  test("readability + encodingAudit: exact counts on a tiny fixture") {
    val df = Seq((1L, "the cat sat. it ran!", "a"),
      (2L, "big dog", "a")).toDF("doc_id", "text", "source")
    val r = TextAnalysis.readability(df).collect().head
    // words: 5 + 2 = 7; sentences: "sat. it" is the only terminal run
    // FOLLOWED by whitespace, so doc 1 splits in 2 and doc 2 stays 1
    assert(r.getLong(1) == 2 && r.getLong(2) == 7 && r.getLong(4) == 3)
    // vowel groups: the|cat|sat|it|ran -> 5, big|dog -> 2
    assert(r.getLong(3) == 7)
    val dirty = Seq((1L, "ok text\u0007\u0007\u000b\u000c\u0000", "a"),
      (2L, "caf\u00e9 \ufffd\tok\nline\r", "a"))
      .toDF("doc_id", "text", "source")
    val a = TextAnalysis.encodingAudit(dirty, col("text")).collect().head
    assert(a.getLong(1) == 2) // docs
    assert(a.getLong(3) == 1) // one replacement-char doc
    assert(a.getLong(4) == 5) // bell x2 + VT + FF + NUL; tab/NL/CR exempt
    assert(a.getLong(5) == 2) // é and U+FFFD are non-ascii
  }

  test("throttleEvents: re-arms from the kept event, not the previous event") {
    // key A at 0h, 1h, 2h, 2.5h, 4h with a 2h gap: keep 0h, 2h, 4h —
    // a gap-sessionize would glue 2h/2.5h to the 1h event and drop 2h
    val h = 3600000000L
    val ev = Seq(("a", 0L * h, 1L), ("a", 1L * h, 2L), ("a", 2L * h, 3L),
      ("a", (2.5 * h).toLong, 4L), ("a", 4L * h, 5L),
      ("b", 0L * h, 6L)) // other key independent, first always kept
      .toDF("k", "tsm", "id")
    val kept = Resample.throttleEvents(ev, Seq("k"), "tsm", "id", 2L * h)
      .collect().map(_.getLong(2)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 5L, 6L))
  }

  test("labelPropagation: sync rounds, smallest-label ties, seeds immutable") {
    // path 1-2-3-4-5, seeds 1->0 and 5->1: round 1 labels 2 and 4;
    // round 2 gives 3 a {0,1} tie -> smallest label 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("pa", "pb")
    val seeds = Seq((1L, 0), (5L, 1)).toDF("v", "label")
    val got = Graph.labelPropagation(edges, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1))
    // one round: 3 has no labeled neighbor yet
    val r1 = Graph.labelPropagation(edges, seeds, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(!r1.contains(3L) && r1(2L) == 0 && r1(4L) == 1)
  }

  test("epoch shuffle is a stable per-epoch permutation with dense shard positions") {
    val df = (0L until 100L).toDF("doc_id")
    val e1 = Pipeline.epochShuffle(df, "doc_id", epoch = 1, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(e1.length == 100 && e1.map(_._1).distinct.length == 100)
    // positions are dense 1..n within each shard
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // deterministic: a re-run derives the identical order
    val e1b = Pipeline.epochShuffle(df, "doc_id", epoch = 1, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(e1.sortBy(_._1).toSeq == e1b.sortBy(_._1).toSeq)
    // a different epoch re-keys the permutation
    val e2 = Pipeline.epochShuffle(df, "doc_id", epoch = 2, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(e1.sortBy(_._1).toSeq != e2.sortBy(_._1).toSeq)
  }
}
