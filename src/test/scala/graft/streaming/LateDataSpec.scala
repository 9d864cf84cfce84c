package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Forced multi-batch certification of the watermark DROP rule (the q341
  * machinery): three mtime-ordered files, one micro-batch each —
  *
  *   batch 1 plants the era that establishes the watermark,
  *   batch 2 is EMPTY (Spark's late filter runs one batch behind the
  *     reported watermark, so the empty batch is what arms the filter
  *     with batch 1's max event time − delay),
  *   batch 3 delivers planted late rows on both sides of the boundary.
  *
  * Asserts rows beyond the watermark are DROPPED (absent from their closed
  * window AND counted by numRowsDroppedByWatermark) while within-delay late
  * rows are RETAINED. */
class LateDataSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private val H = 3600L * 1000000000L // 1 h in nanos
  private val WinU = 6L * 3600L * 1000000L

  test("beyond-watermark rows drop, within-delay rows survive, metric counts them") {
    // batch 1: 50 rows at 100h..109.8h -> filter for batch 3 becomes
    // maxA − 2 h = 107.8 h
    val a = (0 until 50).map(i => (i.toLong, 100L * H + i * H / 5, 1.0))
    // batch 3: 10 on-time (110h..), 10 DROPPED late (ts=10h: window end 12h
    // is 95.8 h behind the filter), 10 RETAINED late (ts=109h >= 107.8h)
    val bOn = (100 until 110).map(i => (i.toLong, 110L * H + (i - 100) * H / 5, 1.0))
    val bLate = (200 until 210).map(i => (i.toLong, 10L * H, 1.0))
    val bMid = (300 until 310).map(i => (i.toLong, 109L * H, 1.0))
    val stage = java.nio.file.Files.createTempDirectory("latedata")
    StreamingOps.deleteOnExit(stage)
    val now = System.currentTimeMillis()
    def df(rows: Seq[(Long, Long, Double)]) = rows.toDF("event_id", "ts", "value")
    StreamingOps.stageFileAs(df(a), stage, "a_batch1.parquet", now - 180000L)
    StreamingOps.stageFileAs(df(a).filter(lit(false)), stage,
      "b_batch2_wm.parquet", now - 90000L)
    StreamingOps.stageFileAs(df(bOn ++ bLate ++ bMid), stage,
      "c_batch3.parquet", now)

    val schema = spark.read.parquet(stage.toString).schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "6 hours"))
      .agg(count(lit(1)).as("n"))
    val sinkDir = java.nio.file.Files.createTempDirectory("latedata_out")
    StreamingOps.deleteOnExit(sinkDir)
    val q = agg.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", sinkDir.resolve("data").toString)
      .option("checkpointLocation", sinkDir.resolve("ckpt").toString)
      .start()
    q.awaitTermination()

    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1L,
      s"watermark filter never fired (numRowsDroppedByWatermark=$dropped)")

    val wins = spark.read.parquet(sinkDir.resolve("data").toString)
      .select((unix_micros(col("window.start")) / WinU).cast("long").as("win"),
        col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the DROPPED set's window (ts=10h -> win 1, closed long ago) must not
    // appear at all — its only would-be rows were filtered
    assert(!wins.contains(1L), s"beyond-watermark rows were admitted: $wins")
    // era windows: 100h..108h split as win 16 (96-102h: 10 rows) and
    // win 17 (102-108h: 30 rows); the rest of era A (108h+) stays in the
    // open window with the retained-late rows
    assert(wins.get(16L).contains(10L) && wins.get(17L).contains(30L),
      s"era windows wrong: $wins")
    // the RETAINED late rows (ts=109h, win 18 = 108-114h) joined the open
    // window's state: force one more run with a newer on-time row so the
    // watermark passes 114h and win 18 closes with era tail + mid rows
    StreamingOps.stageFileAs(df(Seq((999L, 117L * H, 1.0))), stage,
      "d_batch4.parquet", now + 60000L)
    val q2 = agg.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", sinkDir.resolve("data").toString)
      .option("checkpointLocation", sinkDir.resolve("ckpt").toString)
      .start()
    q2.awaitTermination()
    val wins2 = spark.read.parquet(sinkDir.resolve("data").toString)
      .select((unix_micros(col("window.start")) / WinU).cast("long").as("win"),
        col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // win 18 (108-114h) = era tail (108h..109.8h: 10 rows) + on-time batch-3
    // rows below 114h (110h..111.8h: 10 rows) + RETAINED late (10 rows)
    assert(wins2.get(18L).contains(30L),
      s"retained-late rows missing from the closed window: $wins2")
    assert(!wins2.contains(1L), "drop must survive the restart")
  }
}
