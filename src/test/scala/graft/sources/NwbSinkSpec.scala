package graft.sources

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write-path contract: round-trip fidelity (primitives + arrays),
  * two-phase commit hygiene (_SUCCESS, no staging residue), truncate
  * semantics for overwrite, and driver-side schema validation. */
class NwbSinkSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("nwbsink")
    graft.streaming.StreamingOps.deleteOnExit(d)
    d.toString
  }

  test("round-trip primitives + array<double>, _SUCCESS marker, staging cleaned") {
    val dir = tmp()
    val rows = Seq(
      (1, 10L, 1.5, Some("a"), Array(1.0, 2.0, 3.0)),
      (2, 20L, -2.5, Some("b"), Array.empty[Double]),
      (3, 30L, 0.0, None: Option[String], Array(4.25)))
    rows.toDF("ch", "t", "v", "s", "values")
      .repartition(3)
      .write.format("graft-nwb").mode("append").save(dir)
    val back = spark.read.parquet(dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)), r.getSeq[Double](4).toList))
      .toSet
    val want = rows.map { case (a, b, c, d, e) => (a, b, c, d, e.toList) }.toSet
    assert(back == want, s"round-trip mismatch: $back vs $want")
    val files = new File(dir).listFiles.map(_.getName).toSet
    assert(files.contains("_SUCCESS"), s"no _SUCCESS in $files")
    assert(!files.exists(_.startsWith("_staging")), s"staging residue: $files")
    assert(files.count(_.endsWith(".parquet")) == 3, s"expected 3 part files: $files")
  }

  test("overwrite truncates the previous commit atomically at job commit") {
    val dir = tmp()
    (1 to 5).map(i => (i, s"v$i")).toDF("k", "s")
      .write.format("graft-nwb").mode("append").save(dir)
    assert(spark.read.parquet(dir).count() == 5)
    Seq((9, "x"), (10, "y")).toDF("k", "s")
      .write.format("graft-nwb").mode("overwrite").save(dir)
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back == Set((9, "x"), (10, "y")), s"overwrite left $back")
    assert(new File(dir, "_SUCCESS").exists)
  }

  test("append accumulates across jobs") {
    val dir = tmp()
    Seq((1, 1.0)).toDF("k", "v").write.format("graft-nwb").mode("append").save(dir)
    Seq((2, 2.0)).toDF("k", "v").write.format("graft-nwb").mode("append").save(dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("unsupported column type fails on the driver before any task runs") {
    val dir = tmp()
    val df = Seq((1, Map("a" -> 1))).toDF("k", "m")
    val e = intercept[Exception] {
      df.write.format("graft-nwb").mode("append").save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("unsupported column type")), s"got $e")
    assert(!new File(dir, "_SUCCESS").exists, "no commit may happen")
  }

  test("streaming write: multi-epoch exactly-once with idempotent markers") {
    import org.apache.spark.sql.streaming.Trigger
    val events = graft.model.Frames.normalizeTsNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("event_id", "user_id", "ts")
    val stage = tmp()
    events.repartition(3).write.mode("overwrite").parquet(stage)
    val out = tmp()
    val stream = spark.readStream
      .schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = stream.writeStream.format("graft-nwb")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.parquet(s"$out/data")
    assert(back.count() == events.count(), "streaming sink lost or doubled rows")
    assert(back.select("event_id").distinct().count() == events.count())
    val markers = new File(s"$out/data/_committed").listFiles()
    assert(markers != null && markers.length >= 3,
      s"expected >=3 epoch markers, got ${Option(markers).map(_.length)}")
    // replaying a committed epoch publishes nothing (idempotent commit)
    val w = new NwbStreamingWrite(s"$out/data", "replay-test",
      back.schema)
    val before = new File(s"$out/data").listFiles().length
    w.commit(0L, Array.empty)
    assert(new File(s"$out/data").listFiles().length == before)
  }

  test("streaming commit is crash-idempotent: partial publish + replay never duplicates") {
    // Simulate a driver crash BETWEEN the renames and the marker write of
    // epoch 7: partition 0's file already landed under its deterministic
    // final name, no marker exists. The replayed commit must fill in only
    // partition 1, keep partition 0's ORIGINAL bytes, then write the marker.
    val dir = tmp()
    val target = new File(dir, "data"); target.mkdirs()
    val staging = new File(target, "_staging_run1"); staging.mkdirs()
    def put(f: File, content: String): Unit = {
      val w = new java.io.FileWriter(f); w.write(content); w.close()
    }
    // the pre-crash publish of partition 0 (original attempt's bytes)
    put(new File(target, "part-e7-00000.zstd.parquet"), "p0-original")
    // the replayed epoch re-stages BOTH partitions with fresh attempt names
    put(new File(staging, "part-e7-00000-9-aaaa.zstd.parquet"), "p0-replayed")
    put(new File(staging, "part-e7-00001-9-bbbb.zstd.parquet"), "p1-replayed")
    val w = new NwbStreamingWrite(target.toString, "run1",
      new org.apache.spark.sql.types.StructType())
    w.commit(7L, Array(
      NwbCommitMessage("part-e7-00000-9-aaaa.zstd.parquet", 0),
      NwbCommitMessage("part-e7-00001-9-bbbb.zstd.parquet", 1)))
    val parts = target.listFiles().filter(_.getName.startsWith("part-e7-"))
      .map(_.getName).sorted
    assert(parts.toSeq == Seq("part-e7-00000.zstd.parquet",
      "part-e7-00001.zstd.parquet"), s"published set wrong: ${parts.toSeq}")
    val p0 = scala.io.Source.fromFile(
      new File(target, "part-e7-00000.zstd.parquet")).mkString
    assert(p0 == "p0-original", "replay overwrote the already-published partition")
    assert(new File(target, "_committed/epoch-7").exists, "marker not written")
    assert(staging.listFiles().isEmpty,
      s"staging residue: ${staging.listFiles().map(_.getName).toSeq}")
    // second full replay AFTER the marker landed: publishes nothing
    put(new File(staging, "part-e7-00000-10-cccc.zstd.parquet"), "p0-again")
    val before = target.listFiles().length
    w.commit(7L, Array(NwbCommitMessage("part-e7-00000-10-cccc.zstd.parquet", 0)))
    assert(target.listFiles().length == before)
    assert(staging.listFiles().isEmpty, "marker replay must drop re-staged files")
  }

  test("streaming commit refuses a replay whose partition set changed") {
    // A recovery that restarts with different parallelism re-stages a
    // DIFFERENT partition-id set for the interrupted epoch; merging it with
    // the pre-crash files would silently duplicate rows. The pre-publish
    // manifest pins the expected final-name set — mismatch must fail.
    val dir = tmp()
    val target = new File(dir, "data"); target.mkdirs()
    val staging = new File(target, "_staging_run1"); staging.mkdirs()
    def put(f: File, content: String): Unit = {
      val w = new java.io.FileWriter(f); w.write(content); w.close()
    }
    val committed = new File(target, "_committed"); committed.mkdirs()
    // pre-crash attempt ran with 3 partitions and published partition 0
    put(new File(committed, "epoch-5.inprogress"),
      "part-e5-00000.zstd.parquet\npart-e5-00001.zstd.parquet\n" +
        "part-e5-00002.zstd.parquet\n")
    put(new File(target, "part-e5-00000.zstd.parquet"), "p0-original")
    // the restarted query re-runs epoch 5 with only 2 partitions
    put(new File(staging, "part-e5-00000-9-aaaa.zstd.parquet"), "p0-replayed")
    put(new File(staging, "part-e5-00001-9-bbbb.zstd.parquet"), "p1-replayed")
    val w = new NwbStreamingWrite(target.toString, "run1",
      new org.apache.spark.sql.types.StructType())
    val ex = intercept[java.io.IOException] {
      w.commit(5L, Array(
        NwbCommitMessage("part-e5-00000-9-aaaa.zstd.parquet", 0),
        NwbCommitMessage("part-e5-00001-9-bbbb.zstd.parquet", 1)))
    }
    assert(ex.getMessage.contains("parallelism changed"))
    assert(!new File(committed, "epoch-5").exists, "marker must not land")
    // a replay with the MATCHING set fills in and commits normally
    put(new File(staging, "part-e5-00000-10-c.zstd.parquet"), "p0-again")
    put(new File(staging, "part-e5-00001-10-d.zstd.parquet"), "p1-ok")
    put(new File(staging, "part-e5-00002-10-e.zstd.parquet"), "p2-ok")
    w.commit(5L, Array(
      NwbCommitMessage("part-e5-00000-10-c.zstd.parquet", 0),
      NwbCommitMessage("part-e5-00001-10-d.zstd.parquet", 1),
      NwbCommitMessage("part-e5-00002-10-e.zstd.parquet", 2)))
    assert(new File(committed, "epoch-5").exists)
    assert(!new File(committed, "epoch-5.inprogress").exists,
      "manifest must be cleared once the marker lands")
    val p0 = scala.io.Source.fromFile(
      new File(target, "part-e5-00000.zstd.parquet")).mkString
    assert(p0 == "p0-original")
  }

  test("streaming publish prunes stale _staging_* dirs from previous runs") {
    val dir = tmp()
    val target = new File(dir, "data"); target.mkdirs()
    val stale = new File(target, "_staging_oldrun"); stale.mkdirs()
    val junk = new File(stale, "part-e0-00000-1-dead.zstd.parquet")
    junk.createNewFile()
    val staging = new File(target, "_staging_run2"); staging.mkdirs()
    val f = new File(staging, "part-e0-00000-2-abcd.zstd.parquet")
    f.createNewFile()
    val w = new NwbStreamingWrite(target.toString, "run2",
      new org.apache.spark.sql.types.StructType())
    w.commit(0L, Array(NwbCommitMessage(f.getName, 0)))
    assert(!stale.exists, "stale staging dir from a previous run must be removed")
    assert(new File(target, "part-e0-00000.zstd.parquet").exists)
  }

  test("float32 arrays and binary round-trip (store precision surface)") {
    val dir = tmp()
    val rows = Seq(
      (1L, Array(1.5f, -2.25f), Array[Byte](1, 2, 3)),
      (2L, Array.empty[Float], Array.empty[Byte]))
    rows.toDF("id", "values", "blob")
      .write.format("graft-nwb").mode("append").save(dir)
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList,
        r.getAs[Array[Byte]](2).toList))
      .toSet
    assert(back == rows.map { case (a, b, c) => (a, b.toList, c.toList) }.toSet)
  }
}
