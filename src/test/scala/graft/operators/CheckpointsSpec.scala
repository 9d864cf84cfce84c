package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The pin() policy switch: identical results under executor-memory
  * localCheckpoint (default) and reliable directory-backed checkpointing
  * (the 100 TB / lost-executor setting), and the reliable mode actually
  * writes to the configured directory. */
class CheckpointsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def edgesDf(pairs: Seq[(Long, Long)]) = pairs.toDF("a", "b")

  test("pin: reliable checkpoint mode matches localCheckpoint bit-for-bit") {
    val edges = edgesDf(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (11L, 12L),
      (1L, 3L), (2L, 4L)))
    def run(): Seq[(Long, Long)] =
      Graph.pageRankScaled(edges, iters = 5)
        .as[(Long, Long)].collect().sorted.toSeq
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    withConf(Checkpoints.DirKey -> dir) {
      val reliable = run()
      assert(reliable === local)
      // reliable mode materialized rounds into the configured directory
      def countFiles(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(countFiles).sum else 1
      assert(countFiles(new java.io.File(dir)) > 0,
        s"no checkpoint files written under $dir")
    }
  }

  test("pin: empty conf value falls back to localCheckpoint") {
    withConf(Checkpoints.DirKey -> "  ") {
      val out = Graph.boundedKCorePeel(
        edgesDf(Seq((1L, 2L), (2L, 3L))), k = 2, rounds = 2)
        .collect()
      assert(out.nonEmpty)
    }
  }
}
