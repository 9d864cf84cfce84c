package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Certifies the RocksDB state-store path (the production backend once
  * streaming state outgrows executor heap — the default HDFS-backed
  * provider keeps every store's working map ON-HEAP):
  *
  *  1. the backend is invisible to results — the running dedup produces
  *     byte-identical final state under HDFSBacked and RocksDB across
  *     FORCED multi-batch execution (state committed/restored between
  *     batches, not one trivial commit);
  *  2. RocksDB + changelog checkpointing is ACTUALLY engaged — the state
  *     checkpoint dir contains `.changelog` delta files (only the RocksDB
  *     changelog path writes them; HDFSBacked writes `.delta`), so a
  *     silently-ignored conf cannot certify itself;
  *  3. `withRocksDbState` restores the session's prior provider conf even
  *     when the body throws — a shared Verify/Bench session must not leak
  *     the provider into later queries.
  */
class StateStoreProviderSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  /** 60 docs over 20 distinct texts staged as three mtime-ordered files
    * (one micro-batch each, interleaved ids so every batch touches most
    * hashes — maximal state churn across commits). */
  private def stageDocs(): java.nio.file.Path = {
    val stage = java.nio.file.Files.createTempDirectory("ssp_docs")
    StreamingOps.deleteOnExit(stage)
    val docs = (0L until 60L).map(i => (i, s"text body ${i % 20}"))
      .toDF("doc_id", "text")
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(3)) === i),
        stage, s"docs_$i.parquet", now - (3 - i) * 60000L)
    stage
  }

  private def finalDedup(stage: java.nio.file.Path, sink: String): Seq[(String, Long, Long)] = {
    val updates = StreamingOps.runToMemoryOrdered(spark, stage.toString, sink,
      df => StreamingOps.runningDedup(
        df.select(md5(col("text")).as("content_hash"), col("doc_id"))
          .as[StreamingOps.DocHashEvent]).toDF(),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("n_copies").desc)
    updates.withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
      .select("content_hash", "n_copies", "keeper")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
  }

  test("running dedup is provider-invariant across forced multi-batch runs") {
    val stage = stageDocs()
    val viaHdfs = finalDedup(stage, "ssp_hdfs")
    val viaRocks = StreamingOps.withRocksDbState(spark) {
      finalDedup(stage, "ssp_rocks")
    }
    assert(viaHdfs.size == 20)
    assert(viaRocks == viaHdfs)
    // every text appears 3x and the keeper is the min doc_id of its triple
    assert(viaRocks.forall(_._2 == 3L))
  }

  test("RocksDB changelog checkpointing is actually engaged, and batches were forced") {
    val stage = stageDocs()
    val ckpt = java.nio.file.Files.createTempDirectory("ssp_ckpt")
    StreamingOps.deleteOnExit(ckpt)
    val schema = spark.read.parquet(stage.toString).schema
    val progress = StreamingOps.withRocksDbState(spark) {
      val q = StreamingOps.runningDedup(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage.toString)
          .select(md5(col("text")).as("content_hash"), col("doc_id"))
          .as[StreamingOps.DocHashEvent]).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .format("memory").queryName("ssp_rocks_ckpt").start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    // three staged files -> three data micro-batches
    assert(progress.count(_.numInputRows > 0) == 3)
    // only the RocksDB changelog path writes *.changelog under state/
    val changelogs = java.nio.file.Files.walk(ckpt.resolve("state"))
      .filter(_.toString.endsWith(".changelog")).count()
    assert(changelogs >= 3, s"expected >=3 changelog files, found $changelogs")
    // and the query's state operator reports RocksDB-specific metrics
    val custom = progress.flatMap(p => p.stateOperators.toSeq)
      .flatMap(so => so.customMetrics.keySet().toArray.map(_.toString))
    assert(custom.exists(_.startsWith("rocksdb")),
      s"no rocksdb custom metrics in ${custom.distinct.sorted}")
  }

  test("transformWithState dedup == classic GroupState dedup (RocksDB-only API)") {
    val stage = stageDocs()
    val classic = StreamingOps.withRocksDbState(spark) {
      finalDedup(stage, "ssp_classic")
    }
    // same fold through StatefulProcessor/ValueState — Spark 4's successor
    // API, which only executes on the RocksDB provider
    val viaTws = StreamingOps.withRocksDbState(spark) {
      val updates = StreamingOps.runToMemoryOrdered(spark, stage.toString,
        "ssp_tws",
        df => StreamingOps.runningDedupTws(
          df.select(md5(col("text")).as("content_hash"), col("doc_id"))
            .as[StreamingOps.DocHashEvent]).toDF(),
        outputMode = org.apache.spark.sql.streaming.OutputMode.Update)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("content_hash").orderBy(col("n_copies").desc)
      updates.withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
        .select("content_hash", "n_copies", "keeper")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(viaTws == classic)
    assert(viaTws.size == 20 && viaTws.forall(_._2 == 3L))
  }

  test("MapState histogram and ListState sessions == their batch/classic folds") {
    // the other two TWS state families (q344 covers ValueState):
    // MapState = per-sub-key counters, ListState = append-only history
    val stage = java.nio.file.Files.createTempDirectory("ssp_fam")
    StreamingOps.deleteOnExit(stage)
    val rows = (0L until 60L).map(i =>
      (i, s"s${i % 3}", s"l${i % 4}", i * 1000L))
      .toDF("doc_id", "source", "lang", "tn")
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(rows.filter(pmod(col("doc_id"), lit(3)) === i),
        stage, s"rows_$i.parquet", now - (3 - i) * 60000L)

    // MapState: last update per (source, lang) == census (each (s,l) cell
    // holds 5 rows: 60 / (3 sources x 4 langs))
    val hist = StreamingOps.withRocksDbState(spark) {
      val updates = StreamingOps.runToMemoryOrdered(spark, stage.toString,
        "ssp_map",
        df => StreamingOps.runningLangHistTws(
          df.select(col("source"), col("lang"))
            .as[StreamingOps.LangEvent]).toDF(),
        outputMode = OutputMode.Update)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "lang")
      updates.withColumn("_mx", max("n").over(w))
        .filter(col("n") === col("_mx"))
        .select("source", "lang", "n").distinct()
        .as[(String, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    }
    assert(hist.size == 12 && hist.forall(_._3 == 5L), s"got $hist")

    // ListState sessions vs the classic GroupState fold, same stream
    def sessOf(viaTws: Boolean, sink: String) =
      StreamingOps.withRocksDbState(spark) {
        val updates = StreamingOps.runToMemoryOrdered(spark, stage.toString,
          sink,
          df => {
            val ev = df.select(pmod(col("doc_id"), lit(4)).as("user_id"),
                col("tn"), col("doc_id").as("event_id"))
              .as[StreamingOps.SessEvent]
            (if (viaTws)
               StreamingOps.runningCappedSessionsTws(ev, 5000L, 20000L)
             else StreamingOps.runningCappedSessions(ev, 5000L, 20000L)).toDF()
          },
          outputMode = OutputMode.Update)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        updates.withColumn("_mx", max("n_events").over(w))
          .filter(col("n_events") === col("_mx"))
          .select("user_id", "n_events", "n_sessions", "n_cap_splits",
            "max_sess_events")
          .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      }
    val tws = sessOf(viaTws = true, "ssp_list_tws")
    val classic = sessOf(viaTws = false, "ssp_list_classic")
    assert(tws == classic, s"$tws vs $classic")
    assert(tws.size == 4 && tws.forall(_._2 == 15L))
  }

  test("watermarked windowed aggregation is provider-invariant too") {
    // streaming-agg state (per-window rows) has a different store layout
    // than mapGroupsWithState's user-typed state — certify both families
    val stage = java.nio.file.Files.createTempDirectory("ssp_win")
    StreamingOps.deleteOnExit(stage)
    val H = 3600L * 1000000L // 1 h in micros
    val rows = (0 until 600).map { i =>
      (i.toLong, (100L * H) + i * (H / 10), (i % 7).toString, i * 0.5)
    }
    val now = System.currentTimeMillis()
    for (b <- 0 until 3)
      StreamingOps.stageFileAs(
        rows.filter(_._1 % 3 == b)
          .toDF("event_id", "tu", "event_type", "value"),
        stage, s"win_$b.parquet", now - (3 - b) * 60000L)
    val schema = spark.read.parquet(stage.toString).schema
    def agg(sink: String): Seq[(Long, String, Long, Double)] = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
        .withColumn("event_time", timestamp_micros(col("tu")))
        .withWatermark("event_time", "2 hours")
        .groupBy(window(col("event_time"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sv"))
        .select(unix_micros(col("window.start")).as("ws"),
          col("event_type"), col("n"), col("sv"))
        .writeStream.outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow())
        .format("memory").queryName(sink).start()
      q.awaitTermination()
      spark.table(sink).as[(Long, String, Long, Double)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    }
    val viaHdfs = agg("ssp_win_hdfs")
    val viaRocks = StreamingOps.withRocksDbState(spark)(agg("ssp_win_rocks"))
    assert(viaHdfs.nonEmpty)
    assert(viaRocks == viaHdfs)
  }

  test("streaming near-dup pairs: arrival-ordered cap, slicing-independent") {
    // one hot bucket fed 6 docs across batches under cap=3 (only the first
    // 3 arrivals ever pair: 3 pairs, state stops growing), one cold bucket
    // whose members arrive in DIFFERENT batches (pair emits on the later
    // arrival)
    val events = Seq(
      (0, "hot", 10L), (0, "hot", 11L), (1, "cold", 20L), // batch 0
      (0, "hot", 12L), (0, "hot", 13L),                   // batch 1
      (0, "hot", 14L), (0, "hot", 15L), (1, "cold", 21L)  // batch 2
    )
    val batchOf = Map(10L -> 0, 11L -> 0, 20L -> 0, 12L -> 1, 13L -> 1,
      14L -> 2, 15L -> 2, 21L -> 2)
    def frame(rows: Seq[(Int, String, Long)]) =
      rows.map { case (b, k, d) =>
        (b, k, d, batchOf(d).toLong * 1000 + d)
      }.toDF("band_idx", "bucket", "doc_id", "seq")
    def run(nBatches: Int, sink: String): Set[(Long, Long, Int)] = {
      val stage = java.nio.file.Files.createTempDirectory(s"ndp_$sink")
      StreamingOps.deleteOnExit(stage)
      val now = System.currentTimeMillis()
      for (i <- 0 until nBatches)
        StreamingOps.stageFileAs(
          frame(events.filter(e => batchOf(e._3) % nBatches == i)),
          stage, s"ev_$i.parquet", now - (nBatches - i) * 60000L)
      val emits = StreamingOps.withRocksDbState(spark) {
        StreamingOps.runToMemoryOrdered(spark, stage.toString, sink,
          df => StreamingOps.runningNearDupPairs(
            df.as[StreamingOps.PairEvent], maxBucketSize = 3).toDF(),
          outputMode = OutputMode.Append)
      }
      emits.as[(Long, Long, Int)].collect().toSet
    }
    val expected = Set((10L, 11L, 0), (10L, 12L, 0), (11L, 12L, 0), (20L, 21L, 1))
    val multi = run(3, "ndp_multi")
    assert(multi === expected,
      s"cap must keep only the first 3 arrivals' pairs: $multi")
    // same events in ONE batch: the intra-batch seq sort gives the same set
    val single = run(1, "ndp_single")
    assert(single === expected, s"pair set must be slicing-independent: $single")
  }

  test("streaming near-dup pairs: re-delivered docs are per-bucket no-ops") {
    // doc 11 re-arrives in a later batch: no self-pair, no duplicate
    // member — doc 12 still pairs against exactly {10, 11}
    val stage = java.nio.file.Files.createTempDirectory("ndp_redeliver")
    StreamingOps.deleteOnExit(stage)
    val now = System.currentTimeMillis()
    def f(rows: Seq[(Int, String, Long, Long)], name: String, mt: Long) =
      StreamingOps.stageFileAs(
        rows.toDF("band_idx", "bucket", "doc_id", "seq"), stage, name, mt)
    f(Seq((0, "b", 10L, 1L), (0, "b", 11L, 2L)), "e0.parquet", now - 180000)
    f(Seq((0, "b", 11L, 3L)), "e1.parquet", now - 120000)
    f(Seq((0, "b", 12L, 4L)), "e2.parquet", now - 60000)
    val emits = StreamingOps.withRocksDbState(spark) {
      StreamingOps.runToMemoryOrdered(spark, stage.toString, "ndp_redeliver",
        df => StreamingOps.runningNearDupPairs(
          df.as[StreamingOps.PairEvent], maxBucketSize = 3).toDF(),
        outputMode = OutputMode.Append)
    }
    assert(emits.as[(Long, Long, Int)].collect().toSet ===
      Set((10L, 11L, 0), (10L, 12L, 0), (11L, 12L, 0)))
  }

  test("TTL expires near-dup bucket membership; long TTL preserves it") {
    // same polling harness as the dedup TTL test (ProcessingTime mode
    // never terminates under AvailableNow): file A = two docs in one
    // bucket (1 pair), sleep past the short TTL, file B = one more doc.
    // Short TTL -> A's members expired, B pairs with nothing (1 emit
    // total); long TTL -> B pairs with both (3 total).
    def totalEmits(ttl: java.time.Duration): Long =
      StreamingOps.withRocksDbState(spark) {
        val stage = java.nio.file.Files.createTempDirectory("ndpttl_docs")
        StreamingOps.deleteOnExit(stage)
        val ckpt = java.nio.file.Files.createTempDirectory("ndpttl_ckpt")
        StreamingOps.deleteOnExit(ckpt)
        val out = java.nio.file.Files.createTempDirectory("ndpttl_out")
        StreamingOps.deleteOnExit(out)
        val fileA = (Seq((0, "hot", 10L, 1L), (0, "hot", 11L, 2L)))
          .toDF("band_idx", "bucket", "doc_id", "seq")
        val fileB = Seq((0, "hot", 12L, 3L))
          .toDF("band_idx", "bucket", "doc_id", "seq")
        val schema = fileA.schema
        val q = StreamingOps.runningNearDupPairs(
            spark.readStream.schema(schema).parquet(stage.toString)
              .as[StreamingOps.PairEvent],
            maxBucketSize = 8, ttl = Some(ttl)).toDF()
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("50 milliseconds"))
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!b.isEmpty) b.write.mode("append").parquet(out.toString)
          }.start()
        def outCount(): Long =
          scala.util.Try(spark.read.parquet(out.toString).count())
            .getOrElse(0L)
        def awaitCount(n: Long): Unit = {
          val deadline = System.currentTimeMillis() + 90000L
          while (outCount() < n) {
            assert(System.currentTimeMillis() < deadline,
              s"timed out waiting for $n sink rows (have ${outCount()})")
            Thread.sleep(200)
          }
        }
        // the file-stream log offset tells us when B's batch has COMMITTED
        // (progress is reported after the batch completes), so "emitted
        // nothing" is distinguishable from "not processed yet"
        def srcOffset(): Long = Option(q.lastProgress)
          .flatMap(p => p.sources.headOption.flatMap(s => Option(s.endOffset)))
          .map(_.replaceAll("[^0-9]", ""))
          .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
        try {
          StreamingOps.stageFileAs(fileA, stage, "a.parquet",
            System.currentTimeMillis())
          awaitCount(1)
          Thread.sleep(3000) // past the short TTL, committed-batch side
          val preB = srcOffset()
          StreamingOps.stageFileAs(fileB, stage, "b.parquet",
            System.currentTimeMillis())
          val deadline = System.currentTimeMillis() + 90000L
          while (srcOffset() <= preB) {
            assert(System.currentTimeMillis() < deadline,
              "timed out waiting for file B's batch to commit")
            Thread.sleep(200)
          }
          Thread.sleep(500) // let the foreachBatch write settle
          outCount()
        } finally q.stop()
      }
    assert(totalEmits(java.time.Duration.ofSeconds(1)) === 1L,
      "short TTL must expire the bucket members")
    assert(totalEmits(java.time.Duration.ofMinutes(10)) === 3L,
      "long TTL must preserve them")
  }

  test("TTL bounds dedup state; long TTL preserves it") {
    // Processing-time TTL harness. ENGINE FINDING, pinned here: with
    // TimeMode.ProcessingTime the query self-schedules micro-batches
    // forever to advance processing time — Trigger.AvailableNow NEVER
    // terminates (measured 3700+ empty commits) and processAllAvailable()
    // never returns. So the harness runs ONE continuous query and polls
    // the sink: stage file A, wait for its 10 updates, sleep past the
    // short TTL, stage file B (same docs), wait for 10 more. Short TTL ->
    // A's state expired, B's counts restart at 1; long TTL -> counts
    // reach 2. The sleep is on OUR side of a committed batch, never
    // racing the engine.
    def maxCopies(ttl: java.time.Duration): Long =
      StreamingOps.withRocksDbState(spark) {
        val docs = (0L until 10L).map(i => (i, s"ttl body $i"))
          .toDF("doc_id", "text")
        val stage = java.nio.file.Files.createTempDirectory("ttl_docs")
        StreamingOps.deleteOnExit(stage)
        val ckpt = java.nio.file.Files.createTempDirectory("ttl_ckpt")
        StreamingOps.deleteOnExit(ckpt)
        val out = java.nio.file.Files.createTempDirectory("ttl_out")
        StreamingOps.deleteOnExit(out)
        val schema = docs.schema
        val q = StreamingOps.runningDedupTws(
          spark.readStream.schema(schema).parquet(stage.toString)
            .select(md5(col("text")).as("content_hash"), col("doc_id"))
            .as[StreamingOps.DocHashEvent], Some(ttl)).toDF()
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("50 milliseconds"))
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!b.isEmpty) b.write.mode("append").parquet(out.toString)
          }.start()
        def outCount(): Long =
          scala.util.Try(spark.read.parquet(out.toString).count())
            .getOrElse(0L)
        def awaitCount(n: Long): Unit = {
          val deadline = System.currentTimeMillis() + 90000L
          while (outCount() < n) {
            assert(System.currentTimeMillis() < deadline,
              s"timed out waiting for $n sink rows (have ${outCount()})")
            Thread.sleep(200)
          }
        }
        try {
          StreamingOps.stageFileAs(docs, stage, "a.parquet",
            System.currentTimeMillis() - 60000L)
          awaitCount(10)
          Thread.sleep(2000) // >> the short TTL, << the long one
          StreamingOps.stageFileAs(docs, stage, "b.parquet",
            System.currentTimeMillis())
          awaitCount(20)
        } finally {
          q.stop()
          q.awaitTermination()
        }
        spark.read.parquet(out.toString)
          .agg(max("n_copies")).head().getLong(0)
      }
    assert(maxCopies(java.time.Duration.ofMillis(200)) == 1L,
      "short TTL did not expire state between batches")
    assert(maxCopies(java.time.Duration.ofHours(24)) == 2L,
      "long TTL lost state between batches")
  }

  test("withRocksDbState restores the prior provider conf on failure") {
    // conf.getOption surfaces the registered DEFAULT (HDFSBacked) for this
    // key, so the contract is exact round-trip restoration, not unsetting
    val beforeP = spark.conf.getOption(StreamingOps.ProviderKey)
    val beforeC = spark.conf.getOption(StreamingOps.ChangelogKey)
    assert(beforeP != Some(StreamingOps.RocksDbProvider))
    intercept[RuntimeException] {
      StreamingOps.withRocksDbState(spark) {
        assert(spark.conf.get(StreamingOps.ProviderKey) ==
          StreamingOps.RocksDbProvider)
        assert(spark.conf.get(StreamingOps.ChangelogKey) == "true")
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.getOption(StreamingOps.ProviderKey) == beforeP)
    assert(spark.conf.getOption(StreamingOps.ChangelogKey) == beforeC)
  }
}
