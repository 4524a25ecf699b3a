package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column ⇄ Expression bridge —
  * the standard technique for Spark-native extensions that define custom
  * Catalyst expressions (the only code in this tree outside the graft
  * package, kept to two one-liners).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .logicalPlan
}

/** Test/tooling accessor for the `private[spark]` listener bus: the
  * probe-job budget sweep (PlanSpec) and `graft.Profile` must drain async
  * listener events deterministically before reading their job counters.
  */
object GraftListener {
  def waitUntilListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

object GraftBridgeExtensions {
  /** Test/tooling accessor for the private[sql] strategy registry. */
  def plannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
                        spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}

/** Accessors for Spark's bundled (but `private[sql]`/`private[spark]`)
  * Arrow machinery, used by the IPC sink: the row→vector ArrowWriter,
  * the InternalRow RDD behind a DataFrame, tracked SQL execution (so
  * `observe()` metrics fire for an RDD-level action), and a serializable
  * Hadoop configuration for executor-side filesystem access.
  */
object GraftArrow {
  import org.apache.spark.broadcast.Broadcast
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.util.SerializableConfiguration

  private def classic(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]

  def internalRowRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[InternalRow] =
    classic(df).queryExecution.toRdd

  /** Run `body` under a named SQL execution for `df`'s plan: the action
    * shows up in the SQL UI and — crucially — posts SQLExecutionEnd, which
    * is what delivers `observe()` metrics to their Observation listeners.
    */
  def withTrackedExecution[T](df: org.apache.spark.sql.DataFrame,
                              name: String)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      classic(df).queryExecution, Some(name))(body)

  def broadcastConf(sc: org.apache.spark.SparkContext)
      : Broadcast[SerializableConfiguration] =
    SerializableConfiguration.broadcast(sc)

  def confOf(b: Broadcast[SerializableConfiguration])
      : org.apache.hadoop.conf.Configuration = b.value.value

  def sparkSchema(s: org.apache.arrow.vector.types.pojo.Schema): StructType =
    org.apache.spark.sql.util.ArrowUtils.fromArrowSchema(s)

  def childAllocator(name: String): org.apache.arrow.memory.BufferAllocator =
    org.apache.spark.sql.util.ArrowUtils.rootAllocator
      .newChildAllocator(name, 0, Long.MaxValue)

  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
                              rdd: org.apache.spark.rdd.RDD[InternalRow],
                              schema: StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Iterate every batch of an Arrow IPC file reader as COPIED
    * InternalRows (the underlying vectors are reused per batch), closing
    * `closeables` once the file is exhausted. Registers a task-completion
    * hook so an abandoned iterator (limit, task kill) still releases the
    * reader and its allocator.
    */
  def readerRows(rd: org.apache.arrow.vector.ipc.ArrowFileReader,
                 closeables: Seq[AutoCloseable]): Iterator[InternalRow] = {
    var closed = false
    def closeAll(): Unit = if (!closed) { closed = true; closeables.foreach(_.close()) }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
    new Iterator[InternalRow] {
      private val root = rd.getVectorSchemaRoot
      private var batch: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var done = false
      private def advance(): Unit =
        while (!done && !batch.hasNext) {
          if (rd.loadNextBatch()) {
            val cols = root.getFieldVectors.toArray(
              Array.empty[org.apache.arrow.vector.FieldVector])
              .map(v => new org.apache.spark.sql.vectorized.ArrowColumnVector(v)
                : org.apache.spark.sql.vectorized.ColumnVector)
            batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
              cols, root.getRowCount).rowIterator()
          } else { done = true; closeAll() }
        }
      override def hasNext: Boolean = { advance(); !done }
      override def next(): InternalRow = { advance(); batch.next().copy() }
    }
  }

  /** Stream a partition of InternalRows into `out` as one Arrow IPC FILE
    * (the random-access "Feather v2" format, readable by pyarrow /
    * polars / DuckDB / arrow-rs). Batches of `maxRecordsPerBatch` rows
    * bound memory; returns the row count written.
    */
  def writeIpcFile(schema: StructType, timeZoneId: String,
                   maxRecordsPerBatch: Int,
                   rows: Iterator[InternalRow],
                   out: java.io.OutputStream): Long = {
    val aw = org.apache.spark.sql.execution.arrow.ArrowWriter.create(
      schema, timeZoneId, true, false)
    val root = aw.root
    val fw = new org.apache.arrow.vector.ipc.ArrowFileWriter(
      root, null, java.nio.channels.Channels.newChannel(out))
    try {
      fw.start()
      var n = 0L
      var inBatch = 0
      while (rows.hasNext) {
        aw.write(rows.next())
        n += 1
        inBatch += 1
        if (inBatch >= maxRecordsPerBatch) {
          aw.finish(); fw.writeBatch(); aw.reset(); inBatch = 0
        }
      }
      if (inBatch > 0) { aw.finish(); fw.writeBatch() }
      fw.end()
      n
    } finally {
      fw.close()
      root.close()
    }
  }
}
