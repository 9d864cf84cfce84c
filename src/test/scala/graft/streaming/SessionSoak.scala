package graft.streaming

import graft.JobMetrics.phase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Soak for the round-10 stateful streaming operators (dev main, not a
  * test): drives `session_window` sessionization (q103's shape) and the
  * stream-stream interval join (q104's shape) at volume — synthetic events
  * across many users — and measures the state behavior the sf-scale oracle
  * rows can't: spill, driver materialization, and batch equivalence of the
  * session count.
  *
  * Run: sbt "Test/runMain graft.Soak SessionSoak [nUsers] [nEvents]";
  * the stream's state partitions are sized from its staged input
  * (`StreamingOps`).
  */
object SessionSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nUsers = args.int(0, 100000)
    val nEvents = args.long(1, 20000000L)
    println(s"[sessoak] $nEvents events across $nUsers users")

    // synthetic: per-user event times stride ~17 min with a deterministic
    // jitter, so >30 min gaps (session breaks) occur regularly; micros ts
    val dir = java.nio.file.Files.createTempDirectory("session_soak").toString
    StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    phase(spark, "generateEvents") {
      spark.range(nEvents)
        .select(
          col("id").as("event_id"),
          timestamp_micros((col("id") / nUsers).cast("long") * 1020000000L +
            (pmod(xxhash64(col("id")), lit(1200)) * 1000000L)).as("ts"),
          pmod(col("id"), lit(nUsers)).as("user_id"),
          when(pmod(xxhash64(col("id"), lit(1)), lit(5)) === 0, "click")
            .when(pmod(xxhash64(col("id"), lit(1)), lit(5)) === 1, "error")
            .otherwise("view").as("event_type"),
          (pmod(xxhash64(col("id"), lit(2)), lit(1000)) / 10.0).as("value"))
        .write.mode("overwrite").parquet(dir)
    }

    // --- q103 shape: session_window sessionization ---
    val sessions = phase(spark, "sessionWindowStream") {
      StreamingOps.runToParquet(spark, dir, "session_soak",
        df => df
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withColumn("vmilli", round(col("value") * 1000).cast("long"))
          .withWatermark("event_time", "1 hour")
          .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"), sum("vmilli").as("vmilli")))
    }
    val nStreamed = phase(spark, "countSessions")(sessions.count())

    // batch gap-merge over the same data; the streamed (watermark-closed)
    // set must be a prefix of it — and at least the conservative prefix
    import org.apache.spark.sql.expressions.Window
    val gapU = 1800000000L
    val batchSessions = phase(spark, "batchGapMerge") {
      val e = graft.model.Frames.normalizeTsNanos(spark.read.parquet(dir))
        .select(col("user_id"), expr("ts div 1000").as("us"))
      val w = Window.partitionBy("user_id").orderBy("us")
      e.withColumn("prev", lag("us", 1).over(w))
        .withColumn("brk", when(col("prev").isNull ||
          col("us") - col("prev") >= gapU, 1L).otherwise(0L))
        .agg(sum("brk")).head().getLong(0)
    }
    println(s"[sessoak] sessions: streamed=$nStreamed batch=$batchSessions " +
      s"(streamed excludes the watermark-open tail)")

    // --- q104 shape: stream-stream interval join ---
    def src() = StreamingOps.eventsStream(spark, dir)
    val errors = src().filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        timestamp_micros(expr("ts div 1000")).as("et"))
      .withWatermark("et", "1 hour")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        timestamp_micros(expr("ts div 1000")).as("ct"))
      .withWatermark("ct", "4 hours")
    val joined = phase(spark, "intervalJoinStream") {
      StreamingOps.runStreamToParquet(spark,
        errors.join(clicks,
          col("user_id") === col("c_user_id") &&
            col("ct") >= col("et") - expr("INTERVAL 2 HOURS") &&
            col("ct") < col("et")),
        "session_soak_join")
    }
    val nJoined = phase(spark, "countJoined")(joined.count())
    println(s"[sessoak] interval-join matches: $nJoined")

    assert(nStreamed > 0 && nJoined > 0)
  }
}
