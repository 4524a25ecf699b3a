package graft.ops

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one partition-width policy. Every operator that chooses a width
  * asks here: the session width (`spark.sql.shuffle.partitions`) is the
  * ceiling, an operator that can estimate its own work takes
  * `ceil(work / perTask)` under it ([[forWork]]), and a scan too narrow
  * for the CPU kernel behind it is spread to session width on a key
  * ([[spread]]).
  */
object Width {

  /** Pairs per task for pair-scoring kernels (`Linkage` candidate pairs,
    * the Theil–Sen pair fan-out): scoring costs ~µs per pair, so 64k pairs
    * keep a task at a few hundred ms. An unconditional session-width pin
    * paid one task launch per partition on pair frames thousands of times
    * smaller than that: `q_golden_record` ran 2.2× slower at fixture
    * scale, and faster at 8 cores than at 32.
    */
  val PairsPerTask: Long = 65536L

  /** Rows per task for the edge frames of the iterative graph loops
    * (`Dedup.clusterPairs`, `Graph.pageRank`, `personalizedPageRank`,
    * `labelPropagation`), which are pinned once and re-joined every
    * round. A constant session-width pin made every round pay width ×
    * task launch (12-15 ms each at fixture scale) on graphs far below a
    * partition's capacity; at 13.4M symmetric edges ~500k rows per
    * partition keeps 5-iteration PageRank in a 9-14 s band.
    */
  val RowsPerTask: Long = 500000L

  /** The session width: the one read of `spark.sql.shuffle.partitions`. */
  def session(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** `ceil(work / perTask)` partitions, clamped to `[1, session]`. */
  def forWork(spark: SparkSession, work: Double, perTask: Long): Int =
    math.max(1, math.min(session(spark).toDouble,
      math.ceil(work / perTask)).toInt)

  /** Spread a frame across the session width before a CPU-heavy per-row
    * kernel. Parquet cannot split below a row group, so a one-row-group
    * file scans as ONE task however many cores wait, and the kernel then
    * runs serially (flf_quarantine's parse stage: 2.8 s of task time on
    * the 1-split sf0.1 lineitem scan, about its whole wall; the kNN score
    * scan over a compacted index: 2.8× at sf1).
    *
    * The frame is returned unchanged when its plan is exchange-free,
    * holds no cached scan and already has at least half the session
    * width in splits: at production scale a table is thousands of splits
    * and this is a plan-time no-op. Otherwise it is hash-repartitioned to
    * session width on `key`, which must be high-cardinality (an id, a
    * row hash). A plan whose split count cannot be read without running a
    * job (exchanges, subqueries, a cached relation) always spreads, so
    * this call never starts a job. Hash, not round-robin: round-robin
    * pays a per-partition sort (2.5× the kernel's own task time on the
    * 600k-row quarantine fixture) and places rows differently on every
    * action.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val n = session(df.sparkSession)
    val plan = df.queryExecution.executedPlan
    val readable = !plan.isInstanceOf[AdaptiveSparkPlanExec] && !plan.exists(p =>
      p.isInstanceOf[Exchange] || p.isInstanceOf[InMemoryTableScanExec] ||
        p.subqueries.nonEmpty)
    if (readable && df.queryExecution.toRdd.getNumPartitions * 2 >= n) df
    else df.repartition(n, key)
  }
}
