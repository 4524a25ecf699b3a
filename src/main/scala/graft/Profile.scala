package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement harness (guide §1): runs a named subset
  * of the declared queries with a SparkListener attached and reports, per
  * query, the wall, the number of Spark JOBS (each is one driver-side
  * action — probe collects, checkpoint materializations, the final
  * count), STAGES (each non-reused exchange boundary adds one), TASKS,
  * and total shuffle read/write bytes — the operator-level evidence the
  * bench total cannot show. Also dumps `.explain("formatted")` for each
  * query to plans/<tag>/<name>_<tag>.txt so before/after plan shapes are
  * committed evidence, and labels each query's jobs in the (optional) UI.
  *
  * Usage: SPARK_GRAFT_QUERIES=q_spearman,q_graph_ppr \
  *   SPARK_GRAFT_PLAN_TAG=before sbt "runMain graft.Profile"
  * Never run by the driver — a local measurement tool only.
  */
object Profile {

  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskTimeMs = 0L
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        stageRows.add(f"    stage ${s.stageInfo.stageId}%5d run=${
          m.executorRunTime}%6d ms tasks=${s.stageInfo.numTasks}%4d " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1f MB " +
          f"${s.stageInfo.name.take(120)}")
      }
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
      shufReadB = 0; shufWriteB = 0; stageRows.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val planDir = "plans/" + sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "r17")
    val spark = Evolution.session("profile")
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    // listener events drain asynchronously: settle the bus before each
    // reset and before reading, so no run's late events land in another
    // run's counters
    def settle(): Unit =
      org.apache.spark.sql.graftbridge.GraftListener.waitUntilListenerBusEmpty(spark.sparkContext)
    val names = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
      .getOrElse(args.toSeq)
    val dir = new java.io.File(planDir)
    dir.mkdirs()
    // warmup (codegen/JIT) on the smallest sf, as Bench does
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val out = names.map { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"$name warm")
      try fn(spark, sfDir).count() catch { case t: Throwable =>
        System.err.println(s"[profile] $name warm FAILED: $t") }
      // plan dump from the warm run's frame (pre-execution AQE form)
      try {
        val pw = new java.io.PrintWriter(s"$planDir/${name}_$tag.txt", "UTF-8")
        try pw.println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally pw.close()
      } catch { case t: Throwable =>
        System.err.println(s"[profile] $name explain FAILED: $t") }
      // min-of-3 (the Bench methodology): single runs on this host swing
      // 2x from CPU-contention windows; the min converges on plan cost
      var wall = Double.MaxValue
      for (_ <- 1 to 3) {
        spark.catalog.clearCache()
        System.gc()
        settle()
        acc.reset()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case t: Throwable =>
          System.err.println(s"[profile] $name FAILED: $t") }
        wall = math.min(wall, (System.nanoTime() - t0) / 1e9)
      }
      settle()
      if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
        import scala.jdk.CollectionConverters._
        System.err.println(s"  == $name top stages by task time ==")
        acc.stageRows.asScala.toSeq.sortBy(r =>
          -r.split("run=")(1).trim.split(" ")(0).toLong).take(12)
          .foreach(System.err.println)
      }
      f"""{"name":"$name","wall":$wall%.3f,"jobs":${acc.jobs},"stages":${
        acc.stages},"tasks":${acc.tasks},"task_time_ms":${acc.taskTimeMs
        },"shuf_read_mb":${acc.shufReadB / 1e6}%.1f,"shuf_write_mb":${
        acc.shufWriteB / 1e6}%.1f}"""
    }
    out.foreach(println)
    spark.stop()
  }
}
