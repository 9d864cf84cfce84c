package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.Synthetic
import graft.store.NwbStore

/** One synthetic recording: channel count, duration and sampling rate. */
final case class Shape(nCh: Int, durS: Double, rate: Double) {
  def nTime: Int = (durS * rate).toInt
  def samples: Long = nCh.toLong * nTime
  override def toString: String = f"${nCh}ch x $durS%.2fs @ $rate%.5f Hz"
}

/** Seeded input generation. The seed picks the signal content and the
  * session order; the shapes are fixed per workload, so two seeds load the
  * program with the same amount of work and their timings are comparable. */
object Inputs {

  /** The reference pipeline test's acquisition rate: trace lengths at this
    * rate are not 5-smooth, so every FFT pads to `Fft.nextFastLen`. */
  val EcogRate = 12207.03125

  /** Folder sessions: 4-16 channels at durations near 10 s (one raw trace
    * ~1 MB as double, inside a 2 MiB L2) and 40 s (~4 MB, outside it). A
    * session's wall is mostly per-session fixed cost at these sizes, so
    * small stores keep input generation short and leave the run to repeated
    * passes. An odd count of shapes with distinct costs puts the session
    * median inside one shape's group, not in the gap between two. */
  val FolderShapes: Seq[Shape] = Seq(
    Shape(4, 10.12, EcogRate), Shape(8, 10.12, EcogRate), Shape(16, 10.12, EcogRate),
    Shape(4, 40.04, EcogRate), Shape(8, 40.04, EcogRate))

  /** Mixes the run seed with a per-item index into a generator seed. */
  def subSeed(seed: Long, i: Int): Long =
    scala.util.hashing.MurmurHash3.productHash((seed, i)).toLong & 0x7fffffffL

  final case class Session(dir: String, shape: Shape, checkChannel: Int)

  /** Writes one NwbStore per shape under `root` (acquisition `ECoG`) and
    * returns them in a seeded order. */
  def folder(spark: SparkSession, root: String, seed: Long): Seq[Session] = {
    val rnd = new scala.util.Random(seed)
    val sessions = FolderShapes.zipWithIndex.map { case (sh, i) =>
      val dir = f"$root/session_$i%02d"
      new NwbStore(dir, spark).writeAcquisition("ECoG",
        Synthetic.segments(spark, sh.durS, sh.nCh, sh.rate, seed = subSeed(seed, i)))
      Session(dir, sh, rnd.nextInt(sh.nCh))
    }
    rnd.shuffle(sessions)
  }

  /** The session shape the operator and store probes run on. */
  val ProbeShape: Shape = FolderShapes(1)

  /** A single probe session store under `dir`. */
  def probeSession(spark: SparkSession, dir: String, seed: Long): Session = {
    new NwbStore(dir, spark).writeAcquisition("ECoG", Synthetic.segments(spark,
      ProbeShape.durS, ProbeShape.nCh, ProbeShape.rate, seed = subSeed(seed, -1)))
    Session(dir, ProbeShape, 0)
  }

  /** The streamed recording: 16 channels at 1 kHz for 6 s, staged as one
    * 2 s file per micro-batch and cut into 2 s event-time windows with
    * 250 ms crossfade context on each side. */
  val StreamShape = Shape(16, 6.0, 1000.0)
  val StreamFileS = 2.0
  val WindowDur = "2 seconds"
  val ContextS = 0.25
  val ContextDur = s"${(ContextS * 1000).round} milliseconds"
  val Watermark = "3 seconds"

  /** Stages the recording as events-schema parquet files, one file per
    * micro-batch in modification-time order, followed by a flush file (one
    * far-future event per channel, which advances the watermark past every
    * data window but whose own window never closes) and an empty file that
    * gives the eviction its batch. Returns the staged per-channel sample
    * count. */
  def stream(spark: SparkSession, stageDir: java.nio.file.Path, shape: Shape,
             seed: Long): Int = {
    val stepNs = math.round(1e9 / shape.rate)
    require(stepNs * shape.rate == 1e9, s"rate ${shape.rate} needs an integral ns step")
    val events = Synthetic.segments(spark, shape.durS, shape.nCh, shape.rate, seed = seed)
      .select(col("channel"), posexplode(col("values")).as(Seq("t", "value")))
      .select((col("t").cast("long") * shape.nCh + col("channel")).as("event_id"),
        col("channel").cast("long").as("user_id"),
        (col("t").cast("long") * stepNs).as("ts"), col("value"))
      .cache()
    val perFile = (StreamFileS * shape.rate).toInt
    val nFiles = (shape.nTime + perFile - 1) / perFile
    val base = System.currentTimeMillis() - 1000L * (nFiles + 3)
    for (f <- 0 until nFiles)
      graft.streaming.StreamingOps.stageFileAs(
        events.filter(col("ts") >= f * perFile * stepNs && col("ts") < (f + 1) * perFile * stepNs),
        stageDir, f"batch_$f%03d.parquet", base + 1000L * f)
    // mid-window, so no crossfade copy of it reaches a neighbouring window
    val farS = (math.floor(shape.durS / StreamFileS) + 500) * StreamFileS + StreamFileS / 2
    val farNs = math.round(farS * 1e9)
    val flush = spark.range(shape.nCh).select(
      (lit(Long.MaxValue / 2) - col("id")).as("event_id"), col("id").as("user_id"),
      lit(farNs).as("ts"), lit(0.0).as("value"))
    graft.streaming.StreamingOps.stageFileAs(flush, stageDir, "flush.parquet",
      base + 1000L * nFiles)
    graft.streaming.StreamingOps.stageFileAs(flush.filter(lit(false)), stageDir,
      "z_evict.parquet", base + 1000L * (nFiles + 1))
    events.unpersist()
    shape.nTime
  }
}
