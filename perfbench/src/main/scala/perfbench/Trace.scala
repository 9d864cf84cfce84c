package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is 0 for a root span;
  * spans of one run share `run`. */
final case class Span(id: Long, parent: Long, run: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out once at the end of the run. */
final class Tracer(val run: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def nextId(): Long = ids.incrementAndGet()

  private val epochMinusNano = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** `System.nanoTime` reading at wall-clock epoch millis `ms`. */
  def nanoTimeOf(ms: Long): Long = ms * 1000000L - epochMinusNano

  def add(s: Span): Unit = spans.add(s)

  /** Time `f` as a child of the calling thread's open span. The span id is
    * also set as a Spark local property, so jobs submitted inside `f` name
    * it as their parent. */
  def span[T](name: String, sc: org.apache.spark.SparkContext)(f: => T): T = {
    val id = nextId()
    val parent = current.get
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f finally {
      add(Span(id, parent, run, name, t0, System.nanoTime()))
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Duration minus the part of the span's interval its children cover. */
  def selfTimes: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      for ((a, b) <- iv) {
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** One JSON object per span, with self time. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = all.map { s =>
      f"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"dur_ms":${s.durNs / 1e6}%.3f,"self_ms":${self(s.id) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Summed self time per span name, in seconds. */
  def selfByName: Seq[(String, Double, Int)] = {
    val self = selfTimes
    all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => self(s.id)).sum / 1e9, ss.length)
    }.sortBy(-_._2)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Job, stage and task totals for the `spark` layer; with a tracer, every
  * job also becomes a span under the span that submitted it. */
final class SparkTotals(tracer: Option[Tracer]) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val resultMax = new AtomicLong
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (System.nanoTime(), parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    val st = jobStart.remove(e.jobId)
    for (t <- tracer; (t0, parent) <- Option(st))
      t.add(Span(t.nextId(), parent, t.run, "spark.job", t0, System.nanoTime()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val ms = synchronized(stageTaskMs.remove(key)).getOrElse(mutable.ArrayBuffer.empty)
    if (ms.length >= 2) {
      val sorted = ms.sorted
      val med = sorted(sorted.length / 2).max(1L)
      synchronized(skews += sorted.last.toDouble / med)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultMax.accumulateAndGet(m.resultSize, math.max)
      synchronized(stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime)
    }
  }

  /** Median over multi-task stages of (slowest task / median task). */
  def taskSkew: Double = synchronized(if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq))
}

/** Micro-batch progress for the `streaming` layer. Records every progress
  * event of the running query and signals its termination, so the runner
  * reads complete figures after `awaitTermination` returns. */
final class StreamTotals extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val terminated = new java.util.concurrent.Semaphore(0)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.release()

  /** Waits until the listener has seen the end of the last query; false
    * if no termination event arrives within 30 s. */
  def awaitTerminated(): Boolean =
    terminated.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS)

  def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var p = progress.poll()
    while (p != null) { out += p; p = progress.poll() }
    out.toSeq
  }
}
