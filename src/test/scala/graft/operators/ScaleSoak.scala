package graft.operators

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale soak (dev main, not a test): drives the 100 TB ingest shape —
  * LongFrame -> windowLong (bounded windows, ONE sample shuffle) -> blocked
  * CAR -> notch -> wavelet amplitude -> crossfade stitch — at 64 ch x 10 M
  * samples (640 M points), an order of magnitude past 64 ch x 1 M, and
  * measures what the plan-level scale arguments only reason about:
  * per-stage wall time, the max single task duration (stragglers/skew), max
  * task result size (driver materialization guard), and shuffle volume.
  *
  * Run: SPARK_DRIVER_MEM=64g sbt "Test/runMain graft.operators.ScaleSoak
  *   [nChannels] [nSamples] [stride] [context]"
  */
object ScaleSoak {

  final class Profile extends SparkListener {
    val maxTaskMs = new AtomicLong(0)
    val maxResultBytes = new AtomicLong(0)
    val shuffleWrite = new LongAdder
    val shuffleRead = new LongAdder
    val spill = new LongAdder
    // per-(phase, stage) task-duration distributions: the skew-vs-host-noise
    // discriminator a single global max can't provide. Stats keyed by BOTH
    // the driver-labelled phase and the Spark stageId — a phase mixes map
    // and reduce stages whose task costs legitimately differ by orders of
    // magnitude, so only WITHIN-stage max/median measures skew. The driver
    // labels the phase before each action; listener delivery is async, so a
    // handful of boundary tasks can land in the next label — fine for a dev
    // soak reading medians and maxima.
    private val phase = new java.util.concurrent.atomic.AtomicReference[String]("init")
    // per task: (runtime ms, bytes processed = shuffle read+write + input) —
    // the bytes column separates DATA skew (slow task moved more bytes)
    // from host noise (slow task moved the same bytes, just slower)
    private val perStage = new java.util.concurrent.ConcurrentHashMap[
      (String, Int), java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
    private val spillPerStage =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), LongAdder]()
    private val phaseOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def setPhase(p: String): Unit = {
      if (!phaseOrder.contains(p)) phaseOrder.add(p)
      phase.set(p)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        maxTaskMs.getAndAccumulate(m.executorRunTime, math.max)
        maxResultBytes.getAndAccumulate(m.resultSize, math.max)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        val bytes = m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead + m.inputMetrics.bytesRead
        perStage.computeIfAbsent((phase.get, t.stageId),
          _ => new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]())
          .add((m.executorRunTime, bytes))
        val sp = m.memoryBytesSpilled + m.diskBytesSpilled
        if (sp > 0)
          spillPerStage.computeIfAbsent((phase.get, t.stageId),
            _ => new LongAdder).add(sp)
      }
    }
    def report(): Unit = {
      println(f"[soak] max task: ${maxTaskMs.get / 1000.0}%.1f s; " +
        f"max task result -> driver: ${maxResultBytes.get / 1024.0}%.0f KiB; " +
        f"shuffle write ${shuffleWrite.sum / 1e9}%.2f GB / read ${shuffleRead.sum / 1e9}%.2f GB; " +
        f"spill ${spill.sum / 1e9}%.2f GB")
      import scala.jdk.CollectionConverters._
      phaseOrder.asScala.foreach { p =>
        perStage.asScala.toSeq
          .collect { case ((`p`, sid), q) if !q.isEmpty => (sid, q) }
          .sortBy(_._1)
          .foreach { case (sid, q) =>
            val all = q.asScala.toArray
            val ts = all.map(_._1).sorted
            val med = ts(ts.length / 2)
            val p95 = ts(math.min((ts.length * 95) / 100, ts.length - 1))
            val slowest = all.maxBy(_._1)
            val medBytes = all.map(_._2).sorted.apply(all.length / 2)
            val sp = Option(spillPerStage.get((p, sid))).map(_.sum).getOrElse(0L)
            println(f"[soak] $p%-14s stage $sid%3d  ${ts.length}%5d tasks  " +
              f"median ${med / 1000.0}%7.1f s  p95 ${p95 / 1000.0}%7.1f s  " +
              f"max ${ts.last / 1000.0}%7.1f s  max/median ${ts.last.toDouble / math.max(med, 1)}%5.1f x  " +
              f"slowest-task bytes ${slowest._2 / 1e6}%8.0f MB vs median ${medBytes / 1e6}%8.0f MB" +
              (if (sp > 0) f"  SPILL ${sp / 1e9}%.2f GB" else ""))
          }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val nCh = if (args.length > 0) args(0).toInt else 64
    val nSamples = if (args.length > 1) args(1).toLong else 10000000L
    val stride = if (args.length > 2) args(2).toInt else 65536
    val context = if (args.length > 3) args(3).toInt else 1024
    val rate = 10000.0
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the ingest/stitch aggregates hold ~150 window groups per partition
      // at this scale; the default 128-key threshold silently downgrades
      // ObjectHashAggregate to sort-based aggregation (sorting every sample
      // row, then spilling). A deployment sizes this with its partitions.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val prof = new Profile
    spark.sparkContext.addSparkListener(prof)
    println(f"[soak] $nCh ch x $nSamples samples = ${nCh * nSamples / 1e6}%.1f M points, " +
      s"stride=$stride context=$context")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[soak] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // deterministic distributed LongFrame, pure codegen (no UDF, no driver
    // data): value = band-limited-ish mix of sines + hash noise
    val long = spark.range(nCh * nSamples)
      .select(
        lit("soak").as("series"),
        (col("id") % nCh).cast("int").as("channel"),
        lit(null).cast("int").as("band"),
        lit(rate).as("rate"),
        lit(0.0).as("startingTime"),
        (col("id") / nCh).cast("long").as("t_idx"),
        (sin(col("id") / nCh / 100.0) + sin(col("id") / nCh / 7.0) * 0.3 +
          (pmod(xxhash64(col("id")), lit(10000)) / 10000.0 - 0.5) * 0.1).as("value"))

    // the 100 TB ingest: bounded windows straight from the long layout
    prof.setPhase("windowLong")
    val windowed = time("windowLong (1 sample shuffle)") {
      val w = Windowing.windowLong(long, stride, context)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = w.count()
      println(s"[soak]   -> $n window rows")
      w
    }
    prof.setPhase("blockedCAR")
    time("blocked CAR over windows") {
      CommonReferencing.subtractCarSegments(windowed, nCh).foreach(_ => ())
    }
    val notched = DspOperators.applyLinenoiseNotch(windowed)
    val amp = DspOperators.amplitude(
      DspOperators.waveletTransform(notched, "rat", hgOnly = true))
    prof.setPhase("notchWavelet")
    time("notch -> wavelet amp (narrow)") { amp.foreach(_ => ()) }
    val stitched = Windowing.stitch(amp, stride, context)
    prof.setPhase("stitch")
    val total = time("stitch -> bounded blocks") {
      stitched.select(sum(size(col("values")))).head().getLong(0)
    }
    println(s"[soak] stitched samples: $total (expect ~ ${nCh * 6 * nSamples})")
    prof.report()
    assert(prof.maxResultBytes.get < 64L * 1024 * 1024,
      "a task shipped >64 MiB to the driver — driver materialization leak")
    spark.stop()
  }
}
