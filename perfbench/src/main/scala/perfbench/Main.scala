package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <work dir> [--spans <file>]
  *
  * Prints detail lines, then one JSON result line. Exits 1 when any
  * session or batch failed or produced wrong output. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", spans: String = "")

  val Workloads = Seq("folder_fused", "folder_all_steps", "stream_windows")
  val Cores = 4
  /** Reported in place of a latency that a failed session or batch missed. */
  val Missed = 1e9

  def parse(argv: Array[String]): Opts = {
    def loop(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => loop(o.copy(workload = v), t)
      case "--seed" :: v :: t     => loop(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t  => loop(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t    => loop(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t     => loop(o.copy(work = v), t)
      case "--spans" :: v :: t    => loop(o.copy(spans = v), t)
      case v :: _ => throw new IllegalArgumentException(s"unexpected argument $v")
    }
    val o = loop(Opts(), argv.toList)
    require(Workloads.contains(o.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    require(o.work.nonEmpty && o.seconds > 0, "--work and a positive --seconds are required")
    o
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val spark = session(o.work)
    val streams = new StreamTotals
    spark.streams.addListener(streams)
    val startupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val (line, ok) = try run(spark, streams, o, startupS) finally spark.stop()
    println(line)
    System.out.flush()
    if (!ok) sys.exit(1)
  }

  private def workload(spark: SparkSession, streams: StreamTotals, name: String): Workload =
    name match {
      case "folder_fused"     => new FolderWorkload(spark, allSteps = false)
      case "folder_all_steps" => new FolderWorkload(spark, allSteps = true)
      case "stream_windows"   => new StreamWorkload(spark, streams)
    }

  private def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Passes until `budget` seconds of timed work are done; always whole
    * passes, so every run sees the same mix of session shapes. Returns the
    * timed seconds. */
  private def loop(w: Workload, rec: Recorder, budget: Double, tracer: Option[Tracer]): Double = {
    var timed = 0.0
    do timed += w.pass(rec, tracer) while (timed < budget)
    timed
  }

  def run(spark: SparkSession, streams: StreamTotals, o: Opts,
          startupS: Double): (String, Boolean) = {
    val w = workload(spark, streams, o.workload)
    val genS = secondsOf(w.generate(s"${o.work}/inputs", o.seed))
    val warmS = secondsOf(w.warmUp())
    val setupS = startupS + genS + warmS
    detail(f"setup: JVM and SparkSession $startupS%.3f s, inputs $genS%.3f s, warm-up $warmS%.3f s")

    val rec = new Recorder
    val metrics =
      if (!o.trace) {
        loop(w, rec, o.seconds, None)
        endToEnd(rec, setupS)
      } else traced(spark, streams, w, rec, o)

    val attempted = rec.sessions.length + rec.batches.length
    val failed = rec.sessions.count(!_.ok) + rec.batches.count(!_.ok)
    val mismatches = rec.sessions.count(_.mismatch)
    w match {
      case f: FolderWorkload => detail(f"output checks took ${f.checkS}%.3f s")
      case _ =>
    }
    for ((label, items) <- rec.sessions.groupBy(_.label).toSeq.sortBy(_._1))
      detail(s"session walls $label: " + items.map(i => f"${i.seconds}%.3f").mkString(" "))
    detail("batch walls: " + rec.batches.map(i => f"${i.seconds}%.3f").mkString(" "))
    detail(s"sessions ${rec.sessions.length}, batches ${rec.batches.length}, failed $failed, " +
      s"failed_share ${failed.toDouble / attempted}, output_mismatches $mismatches")
    val body = metrics.map { case (k, (v, unit)) =>
      val x = if (v.isNaN || v.isInfinite) Missed else v
      s""""$k": {"value": $x, "unit": "$unit"}"""
    }.mkString(", ")
    (s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""", failed == 0)
  }

  private def detail(s: String): Unit = println(s"# $s")

  /** Latencies of failed units count as missed (infinite). */
  private def walls(us: Seq[Item]): Seq[Double] =
    us.map(u => if (u.ok) u.seconds else Double.PositiveInfinity)

  def endToEnd(rec: Recorder, setupS: Double): Seq[(String, (Double, String))] = {
    val s = walls(rec.sessions.toSeq)
    val b = walls(rec.batches.toSeq)
    detail(s"session_s_p50 over ${s.length} sessions, batch_s_p50 over ${b.length} batches")
    val okSamples = rec.sessions.filter(_.ok).map(_.samples).sum
    Seq(
      "setup_s" -> (setupS, "s"),
      "session_s_p50" -> (Stats.median(s), "s"),
      "batch_s_p50" -> (Stats.median(b), "s"),
      "throughput_msamples_s" -> (okSamples / rec.sessions.map(_.seconds).sum / 1e6, "Msamples/s"))
  }

  /** JVM resident-set high-water mark (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN) finally src.close()
  }

  /** The traced run: half the budget untraced, half with spans and
    * listeners (the difference is the tracing overhead), then the layer
    * probes. Every layer is measured on every workload; a layer off the
    * workload's path is probed on the workload's probe inputs. */
  def traced(spark: SparkSession, streams: StreamTotals, w: Workload, rec: Recorder,
             o: Opts): Seq[(String, (Double, String))] = {
    loop(w, rec, o.seconds / 2, None)
    val plain = rec.sessions.length
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val totals = new SparkTotals(Some(tracer))
    spark.sparkContext.addSparkListener(totals)
    val wall = try loop(w, rec, o.seconds / 2, Some(tracer)) finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(totals)
    }
    val roots = tracer.all.filter(_.parent == 0)
    val self = tracer.selfTimes
    val m = Map.newBuilder[String, Double]
    m ++= Seq(
      "spark.jobs" -> totals.jobs.get.toDouble,
      "spark.stages" -> totals.stages.get.toDouble,
      "spark.tasks" -> totals.tasks.get.toDouble,
      "spark.task_s" -> totals.taskRunMs.get / 1e3,
      "spark.gc_s" -> totals.gcMs.get / 1e3,
      "spark.busy_share" -> totals.taskRunMs.get / 1e3 / (wall * Cores),
      "spark.shuffle_read_bytes" -> totals.shuffleRead.get.toDouble,
      "spark.shuffle_write_bytes" -> totals.shuffleWrite.get.toDouble,
      "spark.spill_bytes" -> totals.spill.get.toDouble,
      "spark.result_bytes_max" -> totals.resultMax.get.toDouble,
      "spark.task_skew" -> totals.taskSkew,
      "spark.failed_tasks" -> totals.failedTasks.get.toDouble,
      "peak_rss_mb" -> peakRssMb,
      "tools.no_job_share" -> roots.map(s => self(s.id)).sum.toDouble / roots.map(_.durNs).sum,
      "trace.overhead_share" ->
        (Stats.median(rec.sessions.drop(plain).map(_.seconds).toSeq) /
          Stats.median(rec.sessions.take(plain).map(_.seconds).toSeq) - 1))

    val probeDir = s"${o.work}/probe"
    w match {
      case f: FolderWorkload =>
        m ++= Probes.dsp(Inputs.FolderShapes.groupBy(sh => (sh.nTime, sh.rate)).toSeq.map {
          case ((n, rate), shs) => Probes.Chain(n, rate, Some(f.args.initialRate),
            Some(f.args.finalRate), shs.map(_.nCh.toLong).sum)
        }, o.seed)
        val s = f.sessions.find(_.shape == Inputs.ProbeShape).getOrElse(f.sessions.head)
        m ++= Probes.operators(spark, s.dir, s.shape.nCh)
        val sw = new StreamWorkload(spark, streams)
        sw.generate(probeDir, o.seed)
        sw.pass(rec, Some(tracer))
        m ++= streamLayer(sw, tracer)
      case sw: StreamWorkload =>
        val sh = sw.shape
        val windowLen = ((Inputs.StreamFileS + 2 * Inputs.ContextS) * sh.rate).toInt
        m ++= Probes.dsp(Seq(Probes.Chain(windowLen, sh.rate, None, None,
          sh.nCh.toLong * (sh.durS / Inputs.StreamFileS).toLong)), o.seed)
        val s = Inputs.probeSession(spark, probeDir, o.seed)
        m ++= Probes.operators(spark, s.dir, s.shape.nCh)
        m ++= streamLayer(sw, tracer)
    }
    if (o.spans.nonEmpty) {
      tracer.write(java.nio.file.Paths.get(o.spans))
      detail(s"spans written to ${o.spans}")
    }
    for ((n, s, k) <- tracer.selfByName) detail(f"self time $n%-32s $s%9.3f s over $k spans")
    m.result().toSeq.sortBy(_._1).map { case (k, v) => k -> (v, unitOf(k)) }
  }

  /** Per-layer units follow from the metric names. */
  def unitOf(name: String): String =
    if (name.contains("bytes")) "B"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ns_per_sample")) "ns"
    else if (name.endsWith("_ms_p50")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (Seq("_share", "_ratio", "_skew", "_amplification").exists(name.endsWith)) "ratio"
    else "count"

  private def streamLayer(sw: StreamWorkload, tracer: Tracer): Map[String, Double] = {
    val ps = sw.tracedProgress.toSeq
    def p50(key: String): Double =
      Stats.median(ps.flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble)))
    val ops = ps.flatMap(_.stateOperators)
    Map(
      "stream.batches" -> ps.length.toDouble,
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.query_planning_ms_p50" -> p50("queryPlanning"),
      "stream.wal_commit_ms_p50" -> p50("walCommit"),
      "stream.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "stream.state_rows" -> ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "stream.state_memory_bytes" -> ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "stream.state_commit_ms_p50" -> Stats.median(ops.map(_.commitTimeMs.toDouble)),
      "stream.rows_out" -> sw.rowsOut.toDouble,
      "stream.stitch_s" -> Stats.median(tracer.all.filter(_.name == "streaming.stitchTimeWindows")
        .map(_.durNs / 1e9)))
  }
}
