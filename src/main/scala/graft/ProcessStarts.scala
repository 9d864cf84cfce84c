package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Child processes the JVM starts, from JFR's `jdk.ProcessStart` event.
  * No `SparkListener` sees them, yet a fork costs milliseconds: Hadoop's
  * stock local filesystem without libhadoop forks `chmod`/`readlink` per
  * file (see `graft.store.LocalFs`). `Inspect profile` and `LocalFsSpec`
  * count them here. */
object ProcessStarts {

  /** Runs `body` under a JFR recording of process starts; returns its value
    * and the command line of every process any thread started meanwhile. */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      val out = body
      rec.stop()
      val file = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(file)
        (out, RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq)
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }

  /** The program a command line runs: `chmod` for `/bin/chmod 0644 /x`. */
  def program(command: String): String =
    command.trim.split("\\s+").head.split('/').last
}
