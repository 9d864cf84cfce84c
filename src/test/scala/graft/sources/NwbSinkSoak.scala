package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** DSv2 sink scale soak (dev main, not a test): pushes a generated
  * multi-million-row frame through the graft-nwb two-phase-commit sink and
  * through Spark's stock parquet writer, compares wall time and verifies
  * the round-trip census — the number that says the commit protocol and
  * the Group-API encoding don't tax the write path.
  *
  * Run: sbt "Test/runMain graft.Soak NwbSinkSoak [nRows]"
  *
  * The writes keep their own wall clock: a write commits on the driver
  * after its job ends, outside every job's wall.
  */
object NwbSinkSoak {
  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nRows = args.long(0, 5000000L)
    val df = spark.range(nRows).select(
      col("id"),
      (col("id") % 997).cast("int").as("ch"),
      (col("id") * 2654435761L % 1000000).cast("double").as("v"),
      concat(lit("evt_"), (col("id") % 50000).cast("string")).as("tag"))
      .repartition(32)
      .persist()
    println(s"[soak] ${df.count()} rows x 4 cols")
    val sinkDir = java.nio.file.Files.createTempDirectory("soak_sink").toString
    val stockDir = java.nio.file.Files.createTempDirectory("soak_stock").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(sinkDir))
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(stockDir))
    // interleaved best-of-2 so JIT/codec warmup does not bias whichever
    // writer happens to run first
    def best(label: String)(f: => Unit): Unit = {
      val ts = (1 to 2).map { i =>
        val t0 = System.nanoTime(); phase(spark, s"$label#$i")(f); (System.nanoTime() - t0) / 1e9
      }
      println(f"[soak] $label: best ${ts.min}%.2f s (runs: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }
    // graft-nwb: DSv2 two-phase commit, zstd RecordConsumer
    best("nwbSink") {
      df.write.format("graft-nwb").mode("overwrite").save(sinkDir)
    }
    best("stockParquet") { // zstd, the baseline
      df.write.mode("overwrite").option("compression", "zstd").parquet(stockDir)
    }
    phase(spark, "roundTripCensus") {
      def census(p: String) = spark.read.parquet(p)
        .agg(count(lit(1)), sum("id"), sum("v"), countDistinct("tag"))
        .head()
      val a = census(sinkDir); val b = census(stockDir)
      assert(a == b, s"sink census $a != stock census $b")
      println(s"[soak]   -> identical census: $a")
    }
    def dirSize(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.isFile).map(_.length()).sum
    }
    println(f"[soak] bytes: sink ${dirSize(sinkDir) / 1e6}%.1f MB, stock ${dirSize(stockDir) / 1e6}%.1f MB")
  }
}
