package perfbench

import graft.Evolution
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. Runs one workload in one JVM at the
  * session's `local[N]`, as a single closed-loop client, and writes one
  * JSON result file. `run.py` builds the classpath, starts this main,
  * runs the DuckDB oracle check and prints the result line.
  *
  * Untraced run (`--trace 0`): set-up (repeated, median reported), one
  * untimed warm-up pass, then full passes until `--seconds` have passed;
  * the end-to-end metrics come from these passes.
  *
  * Traced run (`--trace 1`): rounds of one untraced full pass, one traced
  * full pass and the workload's staged chain, until `--seconds` have
  * passed; the per-layer metrics are medians over rounds.
  */
object Main {

  private val SetupReps = 3
  private val MinPasses = 3
  private val MinRounds = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    Files.createDirectories(work.resolve("out"))
    val runId = s"$workload-s$seed-${System.currentTimeMillis()}"

    val (first, coldStartS) = Workload.timed(Evolution.session("perfbench"))
    var spark = first
    val w: Workload = workload match {
      case "convert_flf" => new ConvertFlf(work, seed, a("rows").toLong)
      case "mock_flf"    => new MockFlf(work, seed, a("rows").toLong, a("parts").toInt)
      case "query_mix"   => new QueryMix(work, Paths.get(a("tables")), seed)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Util.log(s"session started; preparing $workload inputs")
    val prepareS = Workload.timed(w.prepare(spark))._2
    Util.log("set-up")

    // set-up: a fresh session plus one small warm-up operation, repeated
    val setups = (1 to SetupReps).map { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      Workload.timed {
        spark = Evolution.session("perfbench")
        w.warmup(spark)
      }._2
    }

    val dirtyKb = mutable.ArrayBuffer[Long]()
    def pass(n: Int, tracer: Option[Tracer]): Seq[Op] = {
      dirtyKb += Util.dirtyKb()
      w.pass(spark, n, tracer)
    }
    def wall(ops: Seq[Op]): Double = ops.map(_.wallS).sum

    Util.log("warm-up pass")
    val warmupPassS = wall(w.warmupPass(spark))
    Util.log(if (trace) "traced rounds" else "timed passes")
    val untraced = mutable.ArrayBuffer[Seq[Op]]()
    val traced = mutable.ArrayBuffer[Seq[Op]]()
    val tracer = new Tracer(spark.sparkContext, runId)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (!trace) {
      while (untraced.size < MinPasses || elapsed < seconds)
        untraced += pass(untraced.size + 1, None)
    } else {
      while (untraced.size < MinRounds || elapsed < seconds) {
        val n = untraced.size + 1
        untraced += pass(n, None)
        tracer.attach()
        tracer.span("round") {
          traced += tracer.span("pass")(pass(n, Some(tracer)))._1
          w.chain(spark, tracer)
        }
        tracer.detach()
      }
      tracer.settle()
    }
    val ops = (untraced ++ traced).flatten.toSeq
    val timedS = elapsed
    Util.log("gates")
    val (gates, gatesS) = Workload.timed(w.gates(spark))
    val passWalls = untraced.map(wall).toSeq
    val failed = ops.count(!_.ok) + gates.count(!_.ok)
    val attempted = ops.size + gates.size

    val metrics: Seq[(String, Double, String)] =
      if (trace) Layers.metrics(w, tracer, passWalls, spark.sparkContext.defaultParallelism)
      else Seq(
        ("setup_s", Util.median(setups), "s"),
        ("pass_s", Util.median(passWalls), "s"))

    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val markers = mutable.LinkedHashMap[String, Any](
      "run_id" -> runId,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_xmx" -> runtime.getInputArguments.toArray.map(_.toString)
        .findLast(_.startsWith("-Xmx")).getOrElse("unset (JVM default)"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "seed" -> seed,
      "spark_version" -> spark.version,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "dirty_kb_at_pass_start" -> dirtyKb.toSeq)
    val report = mutable.LinkedHashMap[String, Any](
      "cold_session_start_s" -> coldStartS,
      "prepare_s" -> prepareS,
      "setup_reps_s" -> setups,
      "warmup_pass_s" -> warmupPassS,
      "timed_phase_s" -> timedS,
      "gates_s" -> gatesS,
      "pass_walls_s" -> passWalls,
      "failed_share" -> failed.toDouble / attempted,
      "peak_rss_mb" -> Util.peakRssKb() / 1024.0)
    val extra = w.report(passWalls, ops)
    extra.foreach { case (k, v, _) => report(k) = v }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> trace, "markers" -> markers,
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, os) =>
        mutable.LinkedHashMap("name" -> k, "n" -> os.size, "failed" -> os.count(!_.ok),
          "median_s" -> Util.median(os.map(_.wallS)),
          "errors" -> os.filterNot(_.ok).map(_.error).distinct.take(3))
      },
      "gates" -> gates.map(g =>
        mutable.LinkedHashMap("name" -> g.name, "ok" -> g.ok, "detail" -> g.detail)),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
      "report" -> report,
      "report_units" -> extra.map(t => t._1 -> t._3).toMap)
    w match {
      case m: QueryMix => result("oracle_dir") = m.oracleDir.toString
      case _           =>
    }
    if (trace) {
      val traceFile = work.resolve("traces").resolve(s"$runId.json")
      Files.createDirectories(traceFile.getParent)
      Json.write(traceFile, mutable.LinkedHashMap(
        "run_id" -> runId, "workload" -> workload, "markers" -> markers,
        "per_layer" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
        "spans" -> tracer.spans.map(Layers.spanJson(runId, _))))
      result("trace_file") = traceFile.toString
    }
    Json.write(Paths.get(a("out")), result)
    Util.log("stopping")
    spark.stop()
    Util.log("stopped")
    sys.exit(0)
  }
}
