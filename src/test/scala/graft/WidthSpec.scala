package graft

import graft.ops.{Stats, Width}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.graftbridge.{GraftBridge, GraftListener}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.ops.Width`: when [[Width.spread]] repartitions and when it leaves
  * a frame alone, that deciding never starts a job, the [[Width.forWork]]
  * clamp, and the driver-side cost of the one caller that sizes from a
  * per-key probe (`Stats.senSlopeByGroup`).
  */
class WidthSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def session: Int = Width.session(spark)

  /** `body`'s value, the jobs it started and the summed `resultSize` of
    * their tasks, counted under a job group of its own.
    */
  private def observed[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"width-spec:${java.util.UUID.randomUUID}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (Option(ss.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages.add(ss.stageInfo.stageId)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          bytes.addAndGet(te.taskMetrics.resultSize)
    }
    GraftListener.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "WidthSpec", interruptOnCancel = false)
      val v = try body finally sc.clearJobGroup()
      GraftListener.waitUntilListenerBusEmpty(sc)
      (v, jobs.get, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The partition count and keys of a top-level hash repartition, if
    * `df` is one.
    */
  private def spreadTo(df: DataFrame): Option[(Int, Seq[String])] =
    GraftBridge.logicalPlan(df) match {
      case r: RepartitionByExpression =>
        Some((r.numPartitions, r.partitionExpressions.flatMap(_.references.map(_.name))))
      case _ => None
    }

  private def parquet(files: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("width_spec").toString + "/t"
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.size

  test("spread: an exchange-free 1-split parquet scan hash-repartitions to session width") {
    val scan = parquet(1)
    assert(scan.rdd.getNumPartitions == 1 && exchanges(scan) == 0)
    val out = Width.spread(scan, col("id"))
    assert(spreadTo(out).contains((session, Seq("id"))))
    assert(out.queryExecution.executedPlan.toString
      .matches(s"(?s).*Exchange hashpartitioning\\(id#\\d+L, $session\\).*"))
    assert(out.rdd.getNumPartitions == session)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
  }

  test("spread: an exchange-free input with at least session/2 splits is returned unchanged") {
    val scan = parquet(math.max(1, session / 2))
    assert(scan.rdd.getNumPartitions * 2 >= session)
    val (out, jobs, _) = observed(Width.spread(scan, col("id")))
    assert(out eq scan)
    assert(exchanges(out) == 0 && jobs == 0)
  }

  test("spread: a post-aggregate input spreads, and the call starts no job") {
    val agg = parquet(1).groupBy("k").agg(count(lit(1)).as("n"))
    val (out, jobs, _) = observed(Width.spread(agg, col("k")))
    assert(jobs == 0)
    assert(spreadTo(out).contains((session, Seq("k"))))
    assert(out.collect().map(_.getLong(1)).sum == 1000L)
  }

  test("spread: a cached input spreads, and the call starts no job") {
    val cached = parquet(session).cache()
    try {
      val (out, jobs, _) = observed(Width.spread(cached, col("id")))
      assert(jobs == 0)
      assert(spreadTo(out).contains((session, Seq("id"))))
      assert(out.count() == 1000L)
    } finally cached.unpersist()
  }

  test("forWork rounds up and clamps to [1, session]") {
    val per = Width.PairsPerTask
    assert(Width.forWork(spark, 0.0, per) == 1)
    assert(Width.forWork(spark, 1.0, per) == 1)
    assert(Width.forWork(spark, per.toDouble, per) == 1)
    assert(Width.forWork(spark, per + 1.0, per) == math.min(2, session))
    assert(Width.forWork(spark, (session - 1) * per + 1.0, per) == session)
    assert(Width.forWork(spark, 1e300, per) == session)
    assert(Width.forWork(spark, 3e6, Width.RowsPerTask) == math.min(6, session))
  }

  test("senSlopeByGroup sizes its width with a bounded driver read at 200k groups") {
    // 200k groups of 3 points: t = 0, 1, 2 and v from a fixed hash, so
    // each group's three pair slopes are distinct and the lower-middle
    // one is the median of three
    val groups = 200000L
    def v(g: Long, t: Long): Long = (g * 7919L + t * t * 104729L) % 1009L
    val df = spark.range(0, groups * 3, 1, 4)
      .select((col("id") / 3).cast("long").as("g"), (col("id") % 3).as("t"),
        ((col("id") / 3).cast("long") * 7919L + (col("id") % 3) * (col("id") % 3) * 104729L)
          .mod(1009L).as("v"))
    val (res, _, bytes) = observed(
      Stats.senSlopeByGroup(df, col("g"), col("t"), col("v")))
    info(s"sizing read $bytes task-result bytes")
    assert(bytes < 64 * 1024, s"driver received $bytes result bytes while sizing")
    val got = res.select("g", "n_pairs", "sen_dv", "sen_dt").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == groups)
    val mismatched = (0L until groups).iterator.filter { g =>
      val pairs = for (a <- 0L to 2L; b <- a + 1 to 2L) yield (v(g, b) - v(g, a), b - a)
      val (dv, dt) = pairs.sortBy { case (dv, dt) => (dv.toDouble / dt, dv, dt) }(
        Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Long)).apply(1)
      got(g) != ((3L, dv, dt))
    }.take(5).toList
    assert(mismatched.isEmpty, s"groups with a different Sen slope: $mismatched")
  }
}
