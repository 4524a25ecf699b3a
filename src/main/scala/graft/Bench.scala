package graft
/** Per-round benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  * Each query is fully executed via count() (all are ordered/aggregated,
  * so count forces the complete plan).
  *
  * OUTPUT BUDGET: the harness records only a bounded tail of stdout
  * (~2000 chars), and with 300+ queries a per-query map no longer fits —
  * rounds 3-8 recorded an unparseable truncated line. The final line
  * therefore carries the total, per-FAMILY subtotals, and a fixed
  * headline-query subset (stable names, so round-over-round deltas stay
  * comparable), and the COMPLETE per-query map is written to
  * BENCH_FULL.json in the working directory (committed with the repo).
  */
object Bench {

  /** Fixed headline subset: the historical top-cost queries plus one or
    * two representatives per operator family. Stable across rounds —
    * add, never rename. Sized so the final JSON line stays under the
    * ~2000-char stdout tail the harness keeps.
    */
  private val headline: Seq[String] = Seq(
    "flf_parse", "flf_format", "mock_generate",
    "dedup_cluster", "dedup_minhash_lsh", "dedup_prefix_jaccard",
    "dedup_semantic",
    "knn_cosine_brute", "knn_cosine_ivf", "knn_ivf_pq",
    "knn_cosine_ivf_persisted",
    "q1_agg", "q3_join_topk", "q9_profit_proxy", "q18_volume_customers",
    "q_asof_join", "q_fuzzy_join", "q_range_join", "q_salted_join",
    "q_window_median", "q_resample_gapfill", "q_rolling_corr",
    "q_quantile_normalize", "q_graph_pagerank", "q_graph_kcore",
    "q_link_matches", "q_km_survival", "q_rfm_segments", "q_pareto_abc",
    "q_mannwhitney_continuous", "q_xml_roundtrip", "q_curate_pipeline",
    "q_eval_lsh_bucket_sweep",
    "multimodal_decode_real", "multimodal_phash_dedup",
    "stream_flf_ingest", "stream_cms_cells", "stream_interval_join",
    "stream_quantiles", "stream_ivf_ingest",
    "text_collocations", "text_skipgrams", "text_bpe_vocab",
    "text_lm_kneser_ney", "text_tfidf_topk",
    // round-9 additions (top-cost / new families)
    "q_golden_record", "q_spearman", "text_heaps_law")

  /** Host-load canary: five stable queries whose code has not changed
    * since early rounds, spanning scan/agg/join/window/shuffle shapes.
    * Their total is emitted as `canary_sec`; dividing any other query's
    * round-over-round ratio by the canary ratio separates host-load
    * inflation from real regressions (the round-9 driver bench inflated
    * 1.3-1.55x uniformly from host contention and had to be argued down
    * by hand).
    */
  private[graft] val canary: Seq[String] = Seq(
    "flf_parse", "q1_agg", "q18_volume_customers",
    "dedup_minhash_lsh", "knn_cosine_brute")

  /** Writeback self-defense (VERDICT r14 #2): benching within ~2 min of
    * a multi-GB dataset write inflates the streaming family's walls
    * 1.7x (checkpoint fsyncs contend with page-cache writeback —
    * PLANS.md r14 "writeback contamination") while the CPU-bound canary
    * stays healthy, so canary normalization cannot see it. The defense
    * is twofold: WAIT (bounded) for /proc/meminfo Dirty to settle
    * before the first query, and RECORD the dirty state in the
    * artifact so a run that could not settle is marked in
    * BENCH_FULL.json instead of in a human's memory.
    */
  private def dirtyKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("Dirty:") => l.trim.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L } // non-Linux: unknown, never fatal

  /** Dirty pages above this are "writeback pending at bench scale": an
    * idle host sits at zero to a few MB, while the post-generation
    * contaminated state is hundreds of MB to GBs draining for minutes.
    */
  private val DirtySettleKb = 65536L

  /** Healthy canary_sec band. RECALIBRATED r17 (VERDICT r16 #3/#6): the
    * r10-r14 band (1.8-2.7) flagged the r15 (2.772) and r16 (2.753)
    * driver runs out-of-band even though both were healthy rc=0 runs —
    * two rounds of false alarms on otherwise valid comparisons. Observed
    * healthy range across r10-r16 driver+builder hosts is 1.8-2.78;
    * widened to [1.5, 3.2] so ordinary host-to-host spread stays
    * in-band while the known pathological windows (a 4.58 s noisy-CPU
    * outlier r14; post-generation writeback) still flag. `canary_dist`
    * (signed distance to the nearer band edge, 0 inside) is emitted so
    * borderline reads as borderline instead of binary-failing.
    */
  private val CanaryBand: (Double, Double) = (1.5, 3.2)

  private def family(name: String): String = {
    val i = name.indexOf('_')
    // numbered queries (q1_agg, q19_or_pushdown) fold into the q family
    val p = (if (i < 0) name else name.substring(0, i)).takeWhile(_.isLetter)
    p match {
      case "q" | "flf" | "mock" | "dedup" | "knn" | "stream" | "text" |
           "multimodal" => p
      case _ => "other"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Evolution.session("bench")
    spark.sparkContext.setLogLevel("WARN")
    // writeback settle: bounded wait for the page cache to drain before
    // the first measured query (see dirtyKb). SPARK_GRAFT_DIRTY_WAIT_SEC
    // overrides the budget (0 disables the wait — used by the
    // deliberate-contamination validation, never by round benches).
    val dirtyStartKb = dirtyKb()
    val dirtyWaitBudget =
      sys.env.getOrElse("SPARK_GRAFT_DIRTY_WAIT_SEC", "120").toInt
    val tWait = System.nanoTime()
    while (dirtyKb() > DirtySettleKb &&
        (System.nanoTime() - tWait) / 1e9 < dirtyWaitBudget)
      Thread.sleep(2000)
    val dirtyWaitSec = (System.nanoTime() - tWait) / 1e9
    val dirtyRunKb = dirtyKb()
    // the flag the artifact carries: true = the run STARTED with
    // writeback pending (could not settle inside the budget) and the
    // stream family's walls are suspect. -1 readings (no /proc) stay
    // unflagged — unknown is not evidence of contamination.
    val dirtyFlag = dirtyRunKb > DirtySettleKb
    if (dirtyFlag)
      System.err.println(f"[bench] WARNING: starting with Dirty=" +
        f"${dirtyRunKb}kB after $dirtyWaitSec%.0f s settle wait — " +
        "stream-family walls are suspect (writeback contamination)")
    // JVM/codegen warmup on the smallest sf so per-query numbers measure
    // the plan, not first-use compilation.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // optional comma-separated subset for local perf iteration (the
    // driver never sets this, so round benches always cover everything)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (name, fn) =>
      def once(): Double = {
        // isolate queries: drop caches left by prior ops, settle the heap
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
          case t: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
            -1.0
        }
      }
      // best of 2 runs measures the plan's steady-state cost; when the two
      // disagree by >30% a transient (host contention, GC) polluted one of
      // them, so a third run breaks the tie — the round-4 bench recorded
      // 1.5-2.7x phantom regressions from exactly such a window (same code
      // re-measured at round-3 times on an idle host). Sub-second queries
      // also get a third run: scheduling noise is additive and ±0.15 s
      // reads as a 1.5x swing on them, while the rerun costs almost
      // nothing — min-of-N converges to the true cost.
      var times = Seq(once(), once()).filter(_ >= 0)
      if (times.size == 2 && (times.max > times.min * 1.3 || times.min < 0.7))
        times = (times :+ once()).filter(_ >= 0)
      // a failed query reports -1, never a plausible-looking duration
      (name, if (times.nonEmpty) times.min else -1.0, times.nonEmpty)
    }
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // 2-decimal variant for the stdout line's normalized map (the line
    // must stay inside the harness's ~2000-char tail); the FILE form
    // uses 4 decimals — canary_sec is ~2 s, so a sub-second query
    // normalizes to ~0.05-0.5 and 2 decimals would quantize a 2x
    // regression on it into "unchanged" (r14 review)
    def jmap2(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    def jmap4(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"\":$v%.4f" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // complete per-query map → file (the line form stopped fitting the
    // harness's stdout tail once the query count passed ~150)
    val byNameAll = results.map(r => r._1 -> r._2).toMap
    // canary_n guards the normalization: a failed/filtered canary member
    // would silently shrink the sum and misread as a host-load change,
    // so consumers must check canary_n == 5 before dividing by it
    val canaryTimes = canary.flatMap(byNameAll.get).filter(_ >= 0)
    val canarySec = canaryTimes.sum
    val canaryN = canaryTimes.size
    // canary-normalized walls (value / canary_sec): three rounds running
    // the raw totals needed a manual host-load attribution pass because
    // the canary swings ±30% between driver hosts — emitting the
    // normalized figure from Bench itself makes round-over-round tables
    // directly comparable. Guard: only meaningful when all 5 canary
    // members completed (canary_n == 5); normalized values are -1
    // otherwise, never a plausible-looking ratio.
    def nrm(v: Double): Double =
      if (canaryN == canary.size && canarySec > 0 && v >= 0) v / canarySec
      else -1.0
    // canary-band flag (r14 #2): only meaningful on full runs with all
    // canary members present. On SUBSET runs (SPARK_GRAFT_QUERIES set —
    // the driver never sets it) the flag and distance are replaced by a
    // `canary_suppressed` marker (r17, VERDICT r16 #6): a meaningless
    // `canary_in_band=false` on a filtered run read as a health alarm.
    val canaryFull = canaryN == canary.size
    val canaryInBand = canaryFull &&
      canarySec >= CanaryBand._1 && canarySec <= CanaryBand._2
    // signed distance to the band (0 inside): borderline ≠ spike
    val canaryDist =
      if (!canaryFull) 0.0
      else if (canarySec < CanaryBand._1) canarySec - CanaryBand._1
      else if (canarySec > CanaryBand._2) canarySec - CanaryBand._2
      else 0.0
    // a run that loses the band keys says why — a subset run or a failed
    // canary member — so neither looks like a health key merely missing
    val canarySuppressed =
      if (canaryFull) ""
      else if (only.nonEmpty) """"canary_suppressed":"subset run""""
      else s""""canary_suppressed":"failed canary member: ${
        canary.filterNot(m => byNameAll.get(m).exists(_ >= 0)).mkString(",")}""""
    val canaryHealth =
      if (canaryFull)
        f""","canary_band":[${CanaryBand._1}%.1f,${CanaryBand._2}%.1f],""" +
        f""""canary_in_band":$canaryInBand,"canary_dist":$canaryDist%.3f"""
      else if (canarySuppressed.nonEmpty) "," + canarySuppressed
      else ""
    val health =
      f""""dirty_kb_start":$dirtyStartKb,"dirty_kb_run":$dirtyRunKb,""" +
      f""""dirty_wait_sec":$dirtyWaitSec%.1f,"dirty_flag":$dirtyFlag""" +
      canaryHealth
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","canary_sec":$canarySec%.3f,"canary_n":$canaryN,$health,"queries":${
        jmap(results.map(r => (r._1, r._2)))
      },"normalized":${
        jmap4(results.map(r => (r._1, nrm(r._2))))
      },"failed":$failed,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case t: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${t.getMessage}")
    }
    val byName = byNameAll
    val fams = results.filter(_._3).groupBy(r => family(r._1)).toSeq
      .map { case (f, rs) => f -> rs.map(_._2).sum }.sortBy(_._1)
    val head = headline.flatMap(n => byName.get(n).map(n -> _))
    // the line carries total + per-family normalized; the complete
    // per-query normalized map lives in BENCH_FULL.json (per-query on
    // the line would blow the stdout tail that rounds 3-8 hit)
    val lineBand = if (canaryFull)
      f""""canary_in_band":$canaryInBand,"canary_dist":$canaryDist%.3f,"""
    else if (canarySuppressed.nonEmpty) canarySuppressed + ","
    else ""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","canary_sec":$canarySec%.3f,"canary_n":$canaryN,"dirty_flag":$dirtyFlag,$lineBand"value_norm":${nrm(total)}%.1f,"nq":${
      results.size},"queries":${jmap(head)},"families":${jmap(fams)
      },"families_norm":${jmap2(fams.map { case (f, v) => f -> nrm(v) })
      },"failed":$failed,"full":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
