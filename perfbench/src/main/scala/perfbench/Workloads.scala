package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.DspOperators
import graft.store.NwbStore
import graft.streaming.StreamingOps
import graft.tools.PreprocessFolder

/** One session or batch: its wall, the raw samples it carried, what went
  * wrong, and whether that was wrong output (as opposed to an error). */
final case class Item(seconds: Double, samples: Long, problems: Seq[String],
                      mismatch: Boolean, label: String = "") {
  def ok: Boolean = problems.isEmpty
}

/** What one run saw. */
final class Recorder {
  val sessions = mutable.ArrayBuffer.empty[Item]
  val batches = mutable.ArrayBuffer.empty[Item]

  def session(i: Item): Unit = {
    sessions += i
    i.problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
  }
  def batch(seconds: Double, problems: Seq[String]): Unit =
    batches += Item(seconds, 0L, problems, mismatch = false)
}

/** A workload: seeded inputs, an untimed warm-up, and a pass of timed work.
  * A session is one recording processed end to end; a batch is the unit the
  * engine schedules (a folder pass, or a streaming micro-batch). */
abstract class Workload(val spark: SparkSession) {
  def generate(dir: String, seed: Long): Unit
  def warmUp(): Unit
  /** Runs one pass; returns its timed seconds (checks excluded). */
  def pass(rec: Recorder, tracer: Option[Tracer]): Double

  protected def traced[T](tracer: Option[Tracer], name: String)(f: => T): T =
    tracer.fold(f)(_.span(name, spark.sparkContext)(f))

  protected def attempt[T](f: => T): Either[String, T] =
    try Right(f) catch { case NonFatal(e) => Left(e.toString.linesIterator.next()) }
}

/** `folder_fused` / `folder_all_steps`: `preprocessStore` with the CLI
  * defaults over every session store of the folder. A batch is one pass
  * over the whole folder, timed as the sum of its sessions. */
final class FolderWorkload(spark: SparkSession, allSteps: Boolean) extends Workload(spark) {
  val args: PreprocessFolder.Args = PreprocessFolder.parse(
    Array("folder") ++ (if (allSteps) Array("--all-steps") else Array.empty[String]))
  var sessions: Seq[Inputs.Session] = Nil
  private val recomputed = mutable.Set.empty[String]

  def generate(dir: String, seed: Long): Unit = sessions = Inputs.folder(spark, dir, seed)

  /** One untimed pass over every session shape. */
  def warmUp(): Unit =
    sessions.foreach(s => PreprocessFolder.preprocessStore(new NwbStore(s.dir, spark), args))

  /** Wall spent in output checks, outside the timed sessions. */
  var checkS = 0.0

  def pass(rec: Recorder, tracer: Option[Tracer]): Double = {
    val items = sessions.map { s =>
      val store = new NwbStore(s.dir, spark)
      val t0 = System.nanoTime()
      val r = attempt(traced(tracer, "tools.preprocessStore")(
        PreprocessFolder.preprocessStore(store, args)))
      val dt = (System.nanoTime() - t0) / 1e9
      val item = r.fold(err => Item(dt, s.shape.samples, Seq(err), mismatch = false), _ => {
        val c0 = System.nanoTime()
        val c = check(store, s)
        checkS += (System.nanoTime() - c0) / 1e9
        Item(dt, s.shape.samples, c, mismatch = c.nonEmpty, s.shape.toString)
      })
      rec.session(item)
      item
    }
    val passS = items.map(_.seconds).sum
    rec.batch(passS, items.flatMap(_.problems))
    passS
  }

  /** Every pass checks table shapes; the local recompute runs once
    * per session store, since later passes rewrite the same output. */
  private def check(store: NwbStore, s: Inputs.Session): Seq[String] =
    attempt {
      Checks.folderOutput(store, s.shape.nCh, args) ++
        (if (allSteps) Checks.allStepsTables(store, s.shape.nCh) else Nil) ++
        (if (recomputed.add(s.dir)) Checks.recomputeChannel(store, s.checkChannel, args)
         else Nil)
    }.fold(Seq(_), identity)
}

/** `stream_windows`: the staged recording driven file by file through the
  * windowed notch + wavelet-amplitude query, then stitched on read-back.
  * A session is one whole recording; its batches are the micro-batches. */
final class StreamWorkload(spark: SparkSession, totals: StreamTotals) extends Workload(spark) {
  val shape: Shape = Inputs.StreamShape
  private var stage: String = ""
  private var samples = 0
  private var queries = 0

  def generate(dir: String, seed: Long): Unit = {
    val p = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "stage"))
    samples = Inputs.stream(spark, p, shape, seed)
    stage = p.toString
  }

  /** Two untimed recordings: the first alone leaves later recordings
    * still speeding up as the JIT settles. */
  def warmUp(): Unit = {
    for (_ <- 1 to 2) {
      recording(None)
      totals.awaitTerminated()
    }
    totals.drain()
  }

  private def pipeline(events: DataFrame): DataFrame =
    DspOperators.amplitude(DspOperators.waveletTransform(
      DspOperators.applyLinenoiseNotch(
        StreamingOps.windowedSegmentsStream(events, shape.nCh, shape.rate,
          Inputs.WindowDur, Inputs.Watermark, "rec", Inputs.ContextDur),
        continuousProfile = true, precision = "single"),
      "rat", hgOnly = true, precision = "single"))

  /** Streams the recording; returns the sink and the stitched rows. */
  private def recording(tracer: Option[Tracer]): (DataFrame, Array[Row]) = {
    queries += 1
    val out = traced(tracer, "streaming.runToParquetOrdered")(
      StreamingOps.runToParquetOrdered(spark, stage, s"perfbench_$queries", pipeline))
    (out, traced(tracer, "streaming.stitchTimeWindows")(
      StreamingOps.stitchTimeWindows(out, Inputs.WindowDur, Inputs.ContextDur)
        .select("channel", "band", "values").collect()))
  }

  def pass(rec: Recorder, tracer: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    val r = attempt(recording(tracer))
    val dt = (System.nanoTime() - t0) / 1e9
    val seen = totals.awaitTerminated()
    val progress = totals.drain()
    val item = r.fold(err => Item(dt, shape.samples, Seq(err), mismatch = false), res => {
      val c = Checks.stitched(res._2, shape.nCh, samples)
      Item(dt, shape.samples, c, mismatch = c.nonEmpty, shape.toString)
    })
    progress.foreach(p => rec.batch(p.durationMs.get("triggerExecution") / 1e3, Nil))
    if (r.isLeft || !seen) rec.batch(dt, item.problems :+ "streaming query did not finish")
    rec.session(item)
    for (t <- tracer) {
      tracedProgress ++= progress
      r.foreach(res => rowsOut += res._1.count())
      // each micro-batch becomes a span under the query's span
      val query = t.all.filter(_.name == "streaming.runToParquetOrdered").last
      for (p <- progress) {
        val start = t.nanoTimeOf(java.time.Instant.parse(p.timestamp).toEpochMilli)
        t.add(Span(t.nextId(), query.id, t.run, "stream.batch", start,
          start + p.durationMs.get("triggerExecution") * 1000000L))
      }
    }
    dt
  }

  /** Rows the traced passes wrote to the sink (the file sink reports no
    * output row count in its progress). */
  var rowsOut = 0L

  /** Progress events of the traced passes. */
  val tracedProgress =
    mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
}
