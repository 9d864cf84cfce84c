package graft

import org.apache.spark.sql.SparkSession

/** The one soak runner: `sbt "Test/runMain graft.Soak <name> [args…]"`.
  *
  * It runs the named soak on [[graft.Session.build]] with a
  * [[graft.JobMetrics]] listener attached, so every soak runs on the conf of
  * the mains at `SPARK_GRAFT_CPUS` cores (`SPARK_GRAFT_CPUS=32` reproduces
  * the 32-core results of NOTES.md). A soak labels its steps with
  * [[JobMetrics.phase]]. After the soak's own assertions the runner prints
  * one line per phase and checks that no task sent more than 64 MiB to the
  * driver. Its last line is one JSON object: the soak's name and arguments,
  * the wall time, and each phase's [[JobMetrics.total]]. In it `skew` is the
  * phase's longest task over its mean task; the per-stage max/median that
  * NOTES.md quotes for older runs is a different figure.
  *
  * `FaultInjectionSoak` is not run here: it keeps its own main and master
  * (see its scaladoc). */
object Soak {

  /** A soak's arguments after its name; a missing one takes its default. */
  final class Args(val all: Seq[String]) {
    private def at[T](i: Int, default: T)(parse: String => T): T =
      all.lift(i).fold(default)(parse)
    def int(i: Int, default: Int): Int = at(i, default)(_.toInt)
    def long(i: Int, default: Long): Long = at(i, default)(_.toLong)
    def str(i: Int, default: String): String = at(i, default)(identity)
  }

  private final case class Entry(run: (SparkSession, Args) => Unit,
                                 confs: (String, String)*)

  /** The soaks below recorded their NOTES.md and COVERAGE.md results at
    * 64 shuffle partitions on 32 cores, not at one partition per core;
    * they keep that count so a `SPARK_GRAFT_CPUS=32` run repeats them. */
  private val Parts64 = "spark.sql.shuffle.partitions" -> "64"

  private val soaks: Map[String, Entry] = Map(
    "ScaleSoak" -> Entry(operators.ScaleSoak.run, Parts64),
    "DspScaleSoak" -> Entry(operators.DspScaleSoak.run, Parts64),
    "DspMegaSoak" -> Entry(operators.DspMegaSoak.run, Parts64),
    "AdvancedSoak" -> Entry(operators.AdvancedSoak.run),
    "DataOpsSoak" -> Entry(operators.DataOpsSoak.run),
    "GraphSoak" -> Entry(operators.GraphSoak.run),
    "NwbSinkSoak" -> Entry(sources.NwbSinkSoak.run),
    "SyntheticScanSoak" -> Entry(sources.SyntheticScanSoak.run),
    "SessionSoak" -> Entry(streaming.SessionSoak.run),
    "StreamSoak" -> Entry(streaming.StreamSoak.run),
    "StateScaleSoak" -> Entry(streaming.StateScaleSoak.run),
    "SemanticStateSoak" -> Entry(streaming.SemanticStateSoak.run),
    "CcScaleSoak" -> Entry(text.CcScaleSoak.run, Parts64),
    "CurationSoak" -> Entry(text.CurationSoak.run, Parts64),
    "SimilaritySoak" -> Entry(text.SimilaritySoak.run, Parts64),
    // its 20 M-doc NOTES.md runs were at 128 partitions on 32 cores
    "NearDupMegaSoak" -> Entry(text.NearDupMegaSoak.run,
      "spark.sql.shuffle.partitions" -> "128"))

  def main(argv: Array[String]): Unit = {
    val name = argv.headOption.getOrElse("")
    val soak = soaks.getOrElse(name, throw new IllegalArgumentException(
      s"unknown soak '$name'; one of ${soaks.keys.toSeq.sorted.mkString(", ")}"))
    val args = argv.toSeq.drop(1)
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = JobMetrics.attach(spark)
    val t0 = System.nanoTime()
    SessionSuite.withConf(spark, soak.confs: _*)(soak.run(spark, new Args(args)))
    val wallS = (System.nanoTime() - t0) / 1e9
    metrics.settle()
    val jobs = metrics.jobs
    val phases = jobs.map(_.phase).distinct
      .map(p => p -> JobMetrics.total(jobs.filter(_.phase == p)))
    def skew(t: JobMetrics.Job) =
      if (t.taskMs == 0) 0.0 else t.maxTaskMs * t.tasks.toDouble / t.taskMs
    phases.foreach { case (p, t) =>
      val label = if (p.isEmpty) "(no phase)" else p
      println(f"[soak] $label%-24s jobs=${t.id}%4d wall=${t.wallMs / 1000.0}%8.2fs " +
        f"tasks=${t.tasks}%6d task=${t.taskMs / 1000.0}%9.1fs " +
        f"maxTask=${t.maxTaskMs / 1000.0}%7.2fs skew=${skew(t)}%5.1fx " +
        f"sw=${t.shuffleWrite / 1e6}%9.1fMB spill=${t.spill / 1e6}%8.1fMB " +
        f"maxResult=${t.maxResultBytes / 1024.0}%7.0fKiB")
    }
    val all = JobMetrics.total(jobs)
    require(all.maxResultBytes < 64L * 1024 * 1024,
      s"a task shipped ${all.maxResultBytes} B to the driver: driver materialization leak")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val phaseJson = phases.map { case (p, t) =>
      f"""{"phase":${q(p)},"jobs":${t.id},"wall_s":${t.wallMs / 1000.0}%.3f,""" +
        f""""tasks":${t.tasks},"task_s":${t.taskMs / 1000.0}%.3f,""" +
        f""""max_task_s":${t.maxTaskMs / 1000.0}%.3f,"skew":${skew(t)}%.2f,""" +
        s""""shuffle_read_b":${t.shuffleRead},"shuffle_write_b":${t.shuffleWrite},""" +
        s""""spill_b":${t.spill},"max_result_b":${t.maxResultBytes}}"""
    }
    println(f"""{"soak":${q(name)},"args":${args.map(q).mkString("[", ",", "]")},""" +
      f""""wall_s":$wallS%.3f,"phases":${phaseJson.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
