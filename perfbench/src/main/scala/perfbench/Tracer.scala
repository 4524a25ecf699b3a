package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.StageKinds
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.GraftListener

import scala.collection.mutable

/** Spark scheduler/executor counters of one span: whatever the listener
  * saw for jobs submitted while the span was open. `mapJobs` are the jobs
  * that only materialize a shuffle (adaptive execution submits each
  * exchange's map stage as a job of its own); the rest are actions.
  */
final case class Counters(jobs: Int = 0, mapJobs: Int = 0, stages: Int = 0, tasks: Long = 0,
                          failedTasks: Long = 0, taskMs: Long = 0, gcMs: Long = 0,
                          shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
                          spillB: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, mapJobs + o.mapJobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, taskMs + o.taskMs,
    gcMs + o.gcMs, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB)
}

final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                      endMs: Long, durS: Double, var counters: Counters = Counters())

/** In-memory span recorder plus a SparkListener. Spans are opened around
  * calls into the program's public functions; each span sets its own job
  * group, and a job is tied to the span whose group it carries, or else
  * (jobs that streaming threads submit under their own group) to the
  * innermost span open when the job was submitted. Nothing is written
  * until the run ends.
  */
final class Tracer(sc: SparkContext, val runId: String) {

  private final class Job(val group: String, val submitMs: Long, val mapOnly: Boolean) {
    var stages = 0; var tasks = 0L; var failedTasks = 0L; var taskMs = 0L
    var gcMs = 0L; var shufR = 0L; var shufW = 0L; var spill = 0L
  }

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.Map[Int, Job]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(group, e.time,
        e.stageInfos.nonEmpty && StageKinds.isShuffleMap(e.stageInfos.maxBy(_.stageId)))
      jobs += j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!e.taskInfo.successful)
        stageJob.get(e.stageId).foreach(_.failedTasks += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) {
    GraftListener.waitUntilListenerBusEmpty(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  /** Time `body` as a span named `name`, nested in the innermost open span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    nextId += 1
    val id = nextId
    val parent = open.headOption.getOrElse(0)
    val group = s"$runId:$id"
    open = id :: open
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, startMs, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9)
      spans += s
      (out, s)
    } finally {
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId:$p", "", interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Drain the listener bus, then tie every job to a span and sum the
    * counters of each span and its descendants.
    */
  def settle(): Unit = {
    GraftListener.waitUntilListenerBusEmpty(sc)
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def innermostAt(ms: Long): Option[Span] = spans
      .filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(s => (s.startMs, s.id))
    val own = mutable.Map[Int, Counters]().withDefaultValue(Counters())
    jobs.foreach { j =>
      val byGroup = j.group.split(":") match {
        case Array(`runId`, id) => id.toIntOption.flatMap(byId.get)
        case _                  => None
      }
      byGroup.orElse(innermostAt(j.submitMs)).foreach { s =>
        own(s.id) = own(s.id) + Counters(1, if (j.mapOnly) 1 else 0, j.stages, j.tasks,
          j.failedTasks, j.taskMs, j.gcMs, j.shufR, j.shufW, j.spill)
      }
    }
    def total(id: Int): Counters =
      children.getOrElse(id, Nil).map(c => total(c.id)).foldLeft(own(id))(_ + _)
    spans.foreach(s => s.counters = total(s.id))
  }
}
