package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from its spans and their counters.
  *
  * Self times come from the staged chains: each layer's self time is the
  * median of its stage minus the median of the stage before it, and the
  * last stage is the full call (`Evolution.convert` / `Evolution.mock`)
  * of the traced pass. Scheduler and exchange counters are per traced
  * pass, median over rounds. A pipeline layer the workload does not run
  * reads 0; the query-family layers are reported by `query_mix` only.
  */
object Layers {

  val families: Seq[String] = QueryMix.queries.map(QueryMix.family).distinct

  def metrics(w: Workload, t: Tracer, untracedWalls: Seq[Double],
              cores: Int): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Util.median(xs)
    def stage(name: String): Double = med(spans.filter(_.name == name).map(_.durS))
    val passes = spans.filter(_.name == "pass")
    val opsOf = passes.map(p => p -> children.getOrElse(p.id, Nil)).toMap
    val passWall = passes.map(p => opsOf(p).map(_.durS).sum)
    val full = med(passWall)

    val chain = w match {
      case c: ConvertFlf =>
        val (scan, parse) = (stage("stage.scan"), stage("stage.parse"))
        val nulls = c.lastCounters.collect {
          case (k, v: Long) if k.startsWith("nulls__") => v
        }.sum
        Seq(scan, parse - scan, c.lastCounters.getOrElse("n_rows", 0L).toString.toDouble,
          full - parse, nulls.toDouble, 0.0, 0.0, 0.0)
      case _: MockFlf =>
        val (gen, fmt) = (stage("stage.gen"), stage("stage.format"))
        Seq(0.0, 0.0, 0.0, 0.0, 0.0, gen, fmt - gen, full - fmt)
      case _ => Seq.fill(8)(0.0)
    }
    val chainNames = Seq(("scan.self_s", "s"), ("parse.self_s", "s"),
      ("parse.rows", "count"), ("convert.write_self_s", "s"), ("convert.nulls", "count"),
      ("mock.gen_self_s", "s"), ("format.self_s", "s"), ("mock.write_self_s", "s"))

    def perPass(f: (Span, Counters, Double) => Double): Double =
      med(passes.zip(passWall).map { case (p, wall) => f(p, p.counters, wall) })
    val spark = Seq(
      ("spark.jobs", perPass((_, c, _) => c.jobs), "count"),
      ("spark.exchange_jobs", perPass((_, c, _) => c.mapJobs), "count"),
      ("spark.probe_jobs", perPass((p, c, _) => c.jobs - c.mapJobs - opsOf(p).size), "count"),
      ("spark.useful_job_share", perPass((p, c, _) =>
        if (c.jobs == c.mapJobs) 0.0 else opsOf(p).size.toDouble / (c.jobs - c.mapJobs)), "ratio"),
      ("spark.stages", perPass((_, c, _) => c.stages), "count"),
      ("spark.tasks", perPass((_, c, _) => c.tasks), "count"),
      ("spark.task_s", perPass((_, c, _) => c.taskMs / 1e3), "s"),
      ("spark.idle_core_share",
        perPass((_, c, wall) => 1 - c.taskMs / 1e3 / (wall * cores)), "ratio"),
      ("spark.gc_s", perPass((_, c, _) => c.gcMs / 1e3), "s"),
      ("spark.failed_tasks", perPass((_, c, _) => c.failedTasks), "count"),
      ("spark.shuffle_write_mb", perPass((_, c, _) => c.shuffleWriteB / 1e6), "MB"),
      ("spark.shuffle_read_mb", perPass((_, c, _) => c.shuffleReadB / 1e6), "MB"),
      ("spark.spill_mb", perPass((_, c, _) => c.spillB / 1e6), "MB"))

    // the query layers exist only where queries run
    val prefix = "SparkEntry.queries:"
    val (fam, queries) = w match {
      case _: QueryMix =>
        (families.map { f =>
          (s"family.$f.wall_s", med(passes.map(p => opsOf(p)
            .filter(s => QueryMix.family(s.name.stripPrefix(prefix)) == f)
            .map(_.durS).sum)), "s")
        }, QueryMix.queries.map(q => (s"query.$q.wall_s", stage(prefix + q), "s")))
      case _ => (Nil, Nil)
    }
    val overhead = ("trace_overhead_share",
      if (untracedWalls.isEmpty || full == 0) 0.0 else full / Util.median(untracedWalls) - 1,
      "ratio")
    chainNames.zip(chain).map { case ((n, u), v) => (n, v, u) } ++ spark ++ fam ++
      queries :+ overhead
  }

  def spanJson(runId: String, s: Span): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
    "end_ms" -> s.endMs, "dur_s" -> s.durS, "counters" -> mutable.LinkedHashMap(
      "jobs" -> s.counters.jobs, "map_jobs" -> s.counters.mapJobs,
      "stages" -> s.counters.stages,
      "tasks" -> s.counters.tasks, "failed_tasks" -> s.counters.failedTasks,
      "task_ms" -> s.counters.taskMs, "gc_ms" -> s.counters.gcMs,
      "shuffle_read_bytes" -> s.counters.shuffleReadB,
      "shuffle_write_bytes" -> s.counters.shuffleWriteB,
      "spill_bytes" -> s.counters.spillB))
}
