package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one per-job metrics listener. For every Spark job it records the
  * wall, the stages and tasks that ran, summed task time, shuffle read and
  * write, spill (memory + disk), the longest task, and the largest task
  * result sent to the driver — each under the phase label that was set (with [[JobMetrics.phase]])
  * on the thread that submitted the job.
  *
  * The label travels as a job property, so attribution is exact even
  * though listener delivery is asynchronous: a job belongs to the phase it
  * was started in, not to whatever phase is current when its events are
  * finally delivered. Jobs started on threads spawned inside a phase
  * (broadcasts, streaming micro-batches) inherit the label. */
final class JobMetrics extends SparkListener {
  import JobMetrics._

  private final class Rec(val id: Int, val phase: String, val desc: String,
                          val start: Long) {
    var end = -1L
    var stages, tasks = 0
    var taskMs, shuffleRead, shuffleWrite, spill, maxResult, maxTaskMs = 0L
    def job: Job = Job(id, phase, desc, if (end < 0) -1L else end - start,
      stages, tasks, taskMs, shuffleRead, shuffleWrite, spill, maxResult, maxTaskMs)
  }

  private val recs = scala.collection.mutable.LinkedHashMap.empty[Int, Rec]
  private val stageRec = scala.collection.mutable.HashMap.empty[Int, Rec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the job description if set, else its result stage's call site
    val desc = prop("spark.job.description")
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    val r = new Rec(e.jobId, prop(PhaseKey).getOrElse(""), desc, e.time)
    recs(e.jobId) = r
    e.stageIds.foreach(stageRec(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    recs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageRec.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) stageRec.get(t.stageId).foreach { r =>
      r.tasks += 1
      r.taskMs += m.executorRunTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.maxResult = math.max(r.maxResult, m.resultSize)
      r.maxTaskMs = math.max(r.maxTaskMs, m.executorRunTime)
    }
  }

  /** Every recorded job, in start order; `wallMs` is -1 while a job runs. */
  def jobs: Seq[Job] = synchronized(recs.values.map(_.job).toSeq)

  def jobs(phase: String): Seq[Job] = jobs.filter(_.phase == phase)

  def clear(): Unit = synchronized { recs.clear(); stageRec.clear() }

  /** Waits until every recorded job has ended and the records hold still
    * for four consecutive reads 250 ms apart, at most 30 s. Listener
    * delivery is asynchronous, and a read taken too early drops late
    * task-end events (a wrong "zero spill" claim on a loaded host).
    * Prints a warning if the records were still changing at the cap. */
  def settle(): Unit = {
    var last = jobs
    var stable = 0
    var waited = 0
    while (stable < 4 && waited < 30000) {
      Thread.sleep(250); waited += 250
      val now = jobs
      if (now == last && now.forall(_.wallMs >= 0)) stable += 1
      else { stable = 0; last = now }
    }
    if (stable < 4) System.err.println("[jobmetrics] WARNING: job records " +
      "still changing after 30 s; the figures may miss late task-end events")
  }
}

object JobMetrics {

  /** Job property that carries the phase label. */
  val PhaseKey = "graft.phase"

  /** One job's record (times in ms, sizes in bytes); `maxTaskMs` is the
    * run time of its longest task. */
  final case class Job(id: Int, phase: String, desc: String, wallMs: Long,
                       stages: Int, tasks: Int, taskMs: Long,
                       shuffleRead: Long, shuffleWrite: Long, spill: Long,
                       maxResultBytes: Long, maxTaskMs: Long) {
    def line: String =
      f"job $id%4d ${wallMs / 1000.0}%7.3fs stages=$stages%2d tasks=$tasks%4d " +
        f"task=${taskMs / 1000.0}%8.2fs maxTask=${maxTaskMs / 1000.0}%7.2fs " +
        f"sr=${shuffleRead / 1e6}%8.1fMB " +
        f"sw=${shuffleWrite / 1e6}%8.1fMB spill=${spill / 1e6}%6.1fMB " +
        f"maxResult=${maxResultBytes / 1024.0}%7.0fKiB  ${desc.take(90)}"
  }

  /** Sums a set of jobs into one record (max for the result size and the
    * longest task); its `id` is the job count. */
  def total(jobs: Seq[Job]): Job =
    jobs.foldLeft(Job(0, "", "", 0L, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L)) { (a, j) =>
      Job(a.id + 1, "", "", a.wallMs + math.max(j.wallMs, 0L),
        a.stages + j.stages, a.tasks + j.tasks, a.taskMs + j.taskMs,
        a.shuffleRead + j.shuffleRead, a.shuffleWrite + j.shuffleWrite,
        a.spill + j.spill, math.max(a.maxResultBytes, j.maxResultBytes),
        math.max(a.maxTaskMs, j.maxTaskMs))
    }

  /** Registers a new listener on the session's context. */
  def attach(spark: SparkSession): JobMetrics = {
    val m = new JobMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Runs `body` with its jobs labelled `label`, restoring the previous
    * label afterwards. */
  def phase[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, label)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }
}
