package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Format-agnostic ingestion: the same events land on the same normalized
  * frame whether they arrive as parquet (timestamp column), CSV, or JSON
  * (ISO strings or integer epochs at any unit). */
class EventSourcesSpec extends AnyFunSuite with graft.SessionSuite {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        math.round(r.getDouble(4) * 1e6), r.getString(5)))

  test("csv and json events round-trip to the parquet-normalized frame") {
    val ref = EventSources.readEvents(spark,
      "/root/testdata/sf0.001/events.parquet", "parquet")
    val want = canon(ref)
    assert(want.nonEmpty && ref.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)

    // ISO-8601 strings with microsecond precision
    val iso = ref.withColumn("ts",
      date_format(timestamp_micros(expr("ts div 1000")),
        "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val csvDir = java.nio.file.Files.createTempDirectory("ev_csv").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(csvDir))
    iso.coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    assert(canon(EventSources.readEvents(spark, csvDir, "csv")) === want,
      "csv/ISO round trip diverged")

    // integer epochs at every unit the detector supports
    for ((unit, div) <- Seq("nanos" -> 1L, "micros" -> 1000L,
        "millis" -> 1000000L, "seconds" -> 1000000000L)) {
      // integer `div`, NOT `/`: double division corrupts nanos-scale longs
      val epoch = ref.withColumn("ts", expr(s"CAST(ts div $div AS STRING)"))
      val dir = java.nio.file.Files.createTempDirectory(s"ev_json_$unit").toString
      graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
      epoch.coalesce(1).write.mode("overwrite").json(dir)
      val got = canon(EventSources.readEvents(spark, dir, "json"))
      // coarser units truncate ts; compare at the written unit's precision
      val wantAtUnit = want.map(t => t.copy(_2 = t._2 / div * div))
      assert(got === wantAtUnit, s"json/$unit epoch round trip diverged")
    }

    intercept[IllegalArgumentException](
      EventSources.readEvents(spark, csvDir, "avro"))
  }

  test("orc round-trips losslessly and scans with pushdown + pruning") {
    val ref = EventSources.readEvents(spark,
      "/root/testdata/sf0.001/events.parquet", "parquet")
    val want = canon(ref)
    val orcDir = java.nio.file.Files.createTempDirectory("ev_orc").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(orcDir))
    ref.write.mode("overwrite").orc(orcDir)
    val orc = EventSources.readEvents(spark, orcDir, "orc")
    assert(orc.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(canon(orc) === want, "orc round trip diverged")
    // the second columnar format must keep parquet's scan discipline:
    // filters reach the ORC reader and the scan reads only needed columns
    val probe = orc.filter(col("user_id") === 3L).select("event_id", "value")
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,3)]"),
      s"no pushed filter in orc scan:\n${scan.take(1500)}")
    assert(scan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,value:double>"),
      s"orc scan not pruned to needed columns:\n${scan.take(1500)}")
  }

  test("normalized sources feed eventsToLong identically") {
    import graft.model.Frames
    val ref = EventSources.readEvents(spark,
      "/root/testdata/sf0.001/events.parquet", "parquet")
    val jsonDir = java.nio.file.Files.createTempDirectory("ev_json_e2e").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(jsonDir))
    ref.withColumn("ts", col("ts").cast("string"))
      .coalesce(1).write.mode("overwrite").json(jsonDir)
    val viaJson = Frames.rectangularize(Frames.eventsToLong(
      EventSources.readEvents(spark, jsonDir, "json"), 8, 1000.0))
    val viaParquet = Frames.rectangularize(Frames.eventsToLong(ref, 8, 1000.0))
    val a = viaJson.orderBy("channel", "t_idx").select("channel", "t_idx", "value").collect()
    val b = viaParquet.orderBy("channel", "t_idx").select("channel", "t_idx", "value").collect()
    assert(a.length == b.length && a.sameElements(b),
      "eventsToLong diverges between json and parquet sources")
  }
}
