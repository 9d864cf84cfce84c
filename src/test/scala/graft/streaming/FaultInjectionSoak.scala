package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.NwbFailpoints

/** Crash-recovery certification for the streaming stack the r12 verdict
  * called out: the idempotent epoch commit was crash-REPLAY tested
  * (filesystem simulation); this soak kills REAL queries mid-epoch under
  * RocksDB + transformWithState and restarts them from their checkpoints.
  *
  * Scenario A — driver crash between publish and marker: a TWS dedup
  * census (RocksDB state, changelog on) streams 4 mtime-ordered files
  * into the graft-nwb sink; the armed failpoint makes epoch 2's commit
  * throw AFTER every partition file is renamed into place but BEFORE the
  * marker lands — the exact window the pre-publish manifest protects.
  * The restarted query must fill in nothing twice, finish the remaining
  * epochs, and the sink's last-update-per-hash census must equal the
  * batch oracle exactly.
  *
  * Scenario B — executor task failure mid-batch: a fresh run arms the
  * writer failpoint so the first task to write 10 rows dies once; Spark's
  * task retry + the writer's abort-side staging cleanup must finish the
  * SAME run with an exact census and zero staging residue.
  *
  * Scenario C — crash, then restart with CHANGED parallelism: a stateless
  * append pipeline (repartition(col), partition count follows
  * spark.sql.shuffle.partitions) crashes in epoch 2's publish/marker
  * window at 8 partitions, restarts at 4 — the manifest guard must refuse
  * the commit loudly BEFORE any rename (no layout mixing inside the
  * epoch) — then restarts at 8 and must converge to an exact
  * exactly-once census.
  *
  * Run: SPARK_DRIVER_MEM=8g sbt -batch "Test/runMain graft.streaming.FaultInjectionSoak"
  *
  * The one soak with its own main and session instead of the `graft.Soak`
  * runner: in local mode only the master string (`local[n, maxFailures]`)
  * sets the task-retry count, and scenario B needs task retries.
  */
object FaultInjectionSoak {

  private def tmp(): String =
    {
      val d = java.nio.file.Files.createTempDirectory("fault_soak")
      StreamingOps.deleteOnExit(d)
      d.toString
    }

  private def census(spark: SparkSession, dataDir: String): Array[(String, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_hash").orderBy(col("n_copies").desc)
    spark.read.parquet(dataDir)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select("content_hash", "n_copies", "keeper")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
  }

  private def batchOracle(docs: DataFrame): Array[(String, Long, Long)] =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

  def main(args: Array[String]): Unit = {
    // local[8, 4]: FOUR task-failure retries — local mode defaults to
    // maxFailures=1, which would turn scenario B's injected task death
    // into a query failure instead of a retry
    val spark = SparkSession.builder()
      .master("local[8, 4]")
      .appName("fault-injection-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val oracle = batchOracle(docs)
    println(s"[soak] batch oracle: ${oracle.length} distinct hashes")

    def runQuery(stage: String, out: String): Unit =
      StreamingOps.withRocksDbState(spark) {
        val schema = spark.read.parquet(stage).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val q = StreamingOps.runningDedupTws(
            stream.select(md5(col("text")).as("content_hash"), col("doc_id"))
              .as[StreamingOps.DocHashEvent])
          .toDF()
          .writeStream.format("graft-nwb")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }

    // ---- scenario A: driver crash between publish and marker -------------
    {
      val stage = tmp()
      val now = System.currentTimeMillis()
      for (i <- 0 until 4)
        StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(4)) === i),
          java.nio.file.Paths.get(stage), s"docs_$i.parquet",
          now - (4 - i) * 60000L)
      val out = tmp()
      NwbFailpoints.reset()
      NwbFailpoints.arm()
      NwbFailpoints.crashBeforeMarkerAtEpoch.set(2L)
      val failed = try { runQuery(stage, out); false }
        catch { case e: Throwable =>
          println(s"[soak] query died as injected: ${e.getMessage.linesIterator.next()}")
          true
        }
      require(failed, "scenario A: the injected crash must kill the query")
      val dataDir = new File(s"$out/data")
      val e2Files = dataDir.listFiles().count(_.getName.startsWith("part-e2-"))
      require(e2Files > 0, "epoch 2 files must already be published")
      require(!new File(s"$out/data/_committed/epoch-2").exists,
        "epoch 2 marker must NOT exist after the crash")
      require(new File(s"$out/data/_committed/epoch-2.inprogress").exists,
        "epoch 2 pre-publish manifest must survive the crash")
      println(s"[soak] A: crashed with $e2Files epoch-2 files published, no marker")

      // restart from the same checkpoint — epoch 2 replays, fill-in dedupes
      runQuery(stage, out)
      require(new File(s"$out/data/_committed/epoch-2").exists,
        "epoch 2 marker must land on recovery")
      require(!new File(s"$out/data/_committed/epoch-2.inprogress").exists,
        "manifest must be cleared once the marker lands")
      val staged = Option(new File(s"$out/data")
        .listFiles(f => f.getName.startsWith("_staging_"))).getOrElse(Array.empty)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      require(staged.isEmpty, s"staging residue: ${staged.map(_.getName).toSeq}")
      val got = census(spark, s"$out/data")
      require(got.sameElements(oracle),
        s"scenario A census mismatch: got ${got.length} rows vs oracle ${oracle.length}")
      println(s"[soak] A: recovered; census EXACT (${got.length} hashes) — " +
        "exactly-once across a publish/marker crash")
    }

    // ---- scenario B: executor task dies mid-batch -------------------------
    {
      val stage = tmp()
      val now = System.currentTimeMillis()
      for (i <- 0 until 3)
        StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(3)) === i),
          java.nio.file.Paths.get(stage), s"docs_$i.parquet",
          now - (3 - i) * 60000L)
      val out = tmp()
      NwbFailpoints.reset()
      NwbFailpoints.arm()
      NwbFailpoints.writerFailOnce.set(true)
      runQuery(stage, out) // must survive via task retry, no restart needed
      require(!NwbFailpoints.writerFailOnce.get,
        "scenario B: the writer failpoint must actually have fired")
      val staged = Option(new File(s"$out/data")
        .listFiles(f => f.getName.startsWith("_staging_"))).getOrElse(Array.empty)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      require(staged.isEmpty,
        s"aborted attempt left staging residue: ${staged.map(_.getName).toSeq}")
      val got = census(spark, s"$out/data")
      require(got.sameElements(oracle),
        s"scenario B census mismatch: got ${got.length} vs oracle ${oracle.length}")
      println(s"[soak] B: mid-batch task death retried; census EXACT " +
        s"(${got.length} hashes), staging clean")
    }

    // ---- scenario C: crash, then restart with CHANGED parallelism --------
    // The manifest guard's reason to exist: epoch files are named
    // part-e<epoch>-<partition>, so a replay under a different partition
    // count would silently MIX two layouts inside one epoch (each file
    // exists-checked independently). A stateful query can't stage this —
    // streaming pins the state operator's shuffle count from the
    // checkpoint — so the pipeline here is STATELESS with a
    // repartition(col), whose partition count re-reads
    // spark.sql.shuffle.partitions at every restart. AQE off for a
    // deterministic count.
    {
      val stage = tmp()
      val now = System.currentTimeMillis()
      for (i <- 0 until 4)
        StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(4)) === i),
          java.nio.file.Paths.get(stage), s"docs_$i.parquet",
          now - (4 - i) * 60000L)
      val out = tmp()
      val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
      val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      def runC(parts: Int): Unit = {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val schema = spark.read.parquet(stage).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val q = stream
          .select(md5(col("text")).as("content_hash"), col("doc_id"))
          .repartition(col("content_hash"))
          .writeStream.format("graft-nwb")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }

      try {
        // run 1 at 8 partitions: crash between epoch 2's publish and marker
        NwbFailpoints.reset()
        NwbFailpoints.arm()
        NwbFailpoints.crashBeforeMarkerAtEpoch.set(2L)
        val crashed = try { runC(8); false } catch { case e: Throwable =>
          println(s"[soak] C run1 died as injected: ${e.getMessage.linesIterator.next()}")
          true
        }
        require(crashed, "scenario C: the injected crash must kill run 1")
        NwbFailpoints.reset()
        val e2Before = new File(s"$out/data").listFiles()
          .count(_.getName.startsWith("part-e2-"))
        require(e2Before == 8, s"run 1 must publish 8 epoch-2 files, got $e2Before")
        require(new File(s"$out/data/_committed/epoch-2.inprogress").exists,
          "epoch 2 manifest must survive the crash")

        // run 2 at 4 partitions: the replay's partition set no longer
        // matches the manifest — commit must refuse BEFORE any rename
        val mixed = try { runC(4); None } catch {
          case e: Throwable => Some(Option(e.getMessage).getOrElse("") +
            Option(e.getCause).map(_.getMessage).getOrElse(""))
        }
        require(mixed.isDefined,
          "scenario C: changed-parallelism replay must fail loudly")
        require(mixed.get.contains("parallelism changed"),
          s"expected the manifest guard's message, got: ${mixed.get.take(300)}")
        val e2After = new File(s"$out/data").listFiles()
          .count(_.getName.startsWith("part-e2-"))
        require(e2After == 8,
          s"the refused replay must not mix layouts: still 8 epoch-2 files, got $e2After")
        require(!new File(s"$out/data/_committed/epoch-2").exists,
          "epoch 2 must stay uncommitted after the refused replay")
        println("[soak] C: 4-partition replay refused loudly, no files mixed")

        // run 3 back at 8: the manifest matches, fill-in converges
        runC(8)
        require(new File(s"$out/data/_committed/epoch-2").exists,
          "epoch 2 marker must land once parallelism is restored")
        require(!new File(s"$out/data/_committed/epoch-2.inprogress").exists,
          "manifest must be cleared once the marker lands")
        val total = spark.read.parquet(s"$out/data").count()
        val expected = docs.count()
        require(total == expected,
          s"scenario C appended $total rows, batch expects $expected (exactly-once)")
        val perHash = spark.read.parquet(s"$out/data")
          .groupBy("content_hash").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        val oracleC = docs.groupBy(md5(col("text")).as("content_hash"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        require(perHash.sameElements(oracleC), "scenario C per-hash census mismatch")
        println(s"[soak] C: recovery at original parallelism converged; " +
          s"census EXACT ($total rows, ${perHash.length} hashes)")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", savedParts)
        spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      }
    }

    // ---- scenario D: crash mid-epoch of an APPEND-mode TWS operator ------
    // A/B/C certify an UPDATE-mode fold (dedup counters), where a replayed
    // epoch would merely rewrite the same keyed updates. Append-mode pair
    // emission is the stricter shape: every replayed row is a NEW fact, so
    // exactly-once depends on (a) the processor re-emitting a bit-identical
    // batch from restored state and (b) the sink's deterministic epoch
    // names + manifest deduplicating the replay. A duplicated epoch would
    // double n_bands for every pair in it — the census catches one extra
    // row.
    {
      val stage = tmp()
      val now = System.currentTimeMillis()
      for (i <- 0 until 4)
        StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(4)) === i),
          java.nio.file.Paths.get(stage), s"docs_$i.parquet",
          now - (4 - i) * 60000L)
      val out = tmp()
      def runPairQuery(): Unit = StreamingOps.withRocksDbState(spark) {
        val schema = spark.read.parquet(stage).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val q = StreamingOps.runningNearDupPairs(
            graft.text.TextOps.bandBuckets(
              graft.text.TextOps.minhashSignatures(stream))
              .withColumn("seq",
                pmod(col("doc_id"), lit(4)) * 1000000000000L + col("doc_id"))
              .as[StreamingOps.PairEvent])
          .toDF()
          .writeStream.format("graft-nwb")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // batch oracle: rank each bucket's members by the staged arrival
      // order (batch = doc_id % 4, then doc_id), keep pairs whose later
      // member ranks <= cap — the q365 contract
      val b = graft.text.TextOps.bandBuckets(
        graft.text.TextOps.minhashSignatures(docs))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band_idx", "bucket")
        .orderBy(pmod(col("doc_id"), lit(4)), col("doc_id"))
      val rk = b.withColumn("rnk", row_number().over(w))
      val ra = rk.select(col("band_idx"), col("bucket"),
        col("doc_id").as("ida"), col("rnk").as("rka"))
      val rb = rk.select(col("band_idx"), col("bucket"),
        col("doc_id").as("idb"), col("rnk").as("rkb"))
      val pairOracle = ra.join(rb, Seq("band_idx", "bucket"))
        .filter(col("rka") < col("rkb") && col("rkb") <= 64)
        .select(least(col("ida"), col("idb")).as("doc_a"),
          greatest(col("ida"), col("idb")).as("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      NwbFailpoints.reset()
      NwbFailpoints.arm()
      NwbFailpoints.crashBeforeMarkerAtEpoch.set(2L)
      val failed = try { runPairQuery(); false }
        catch { case e: Throwable =>
          println(s"[soak] D query died as injected: ${e.getMessage.linesIterator.next()}")
          true
        }
      require(failed, "scenario D: the injected crash must kill the query")
      require(!new File(s"$out/data/_committed/epoch-2").exists,
        "scenario D: epoch 2 marker must NOT exist after the crash")
      runPairQuery() // recovery: epoch 2 replays from restored TWS state
      require(new File(s"$out/data/_committed/epoch-2").exists,
        "scenario D: epoch 2 marker must land on recovery")
      val gotPairs = spark.read.parquet(s"$out/data")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      require(gotPairs.sameElements(pairOracle),
        s"scenario D pair census mismatch: got ${gotPairs.length} pairs " +
          s"vs oracle ${pairOracle.length}")
      println(s"[soak] D: append-mode pair emission recovered exactly-once; " +
        s"census EXACT (${pairOracle.length} pairs, " +
        s"${pairOracle.map(_._3).sum} band emissions)")
    }

    // ---- scenario E: TTL-ARMED crash replay (retention-window state) -----
    // D certifies the no-TTL append path. With processing-time TTL the
    // crash (epoch 2 published, no marker) is followed by a downtime
    // LONGER than the TTL, which certifies two things at once:
    //
    //  1. REPLAY DETERMINISM: Spark pins each batch's processing
    //     timestamp in the offset log, so the replayed epoch 2 re-runs
    //     at its ORIGINAL time — TTL reads and the stamps it rewrites
    //     replay identically, and the re-staged files are byte-identical
    //     to the crash-time publish. The sink finds every final name
    //     already present and drops the replay wholesale; the marker
    //     lands; nothing emits twice. (Measured the other way first: a
    //     wall-clock TTL would have SHRUNK the replay — epoch 3 proved
    //     the stamps are pinned, not fresh.)
    //  2. RETENTION-WINDOW LAPSE ACROSS RECOVERY: epoch 3 runs at a
    //     FRESH (post-downtime) timestamp, so every member inserted
    //     before the crash — including batch 2's, replay-stamped at the
    //     pinned original time — reads as expired: the recovered corpus
    //     is empty and epoch 3 emits only its intra-batch pairs.
    //
    // Both halves are deterministic, so the census is EXACT:
    //   pair (a,b), a before b in (batch, doc_id) order, emits iff
    //     batch(b) <= 2                           (crash-time files stand)
    //     OR (batch(a) == 3 AND batch(b) == 3)    (post-lapse epoch 3)
    // (valid while no bucket reaches the cap — guarded below — since an
    // expired member freeing a slot could otherwise admit extra members).
    //
    // TRIGGER note: TimeMode.ProcessingTime self-schedules micro-batches
    // forever to advance processing time, so Trigger.AvailableNow NEVER
    // terminates and processAllAvailable() never returns — the engine
    // finding pinned in StateStoreProviderSpec's TTL tests. Both runs
    // therefore use a ProcessingTime trigger: run 1 awaits the injected
    // crash; run 2 POLLS the sink for the expected band-emission total,
    // then stops the query (trailing empty epochs commit no data).
    {
      val ttl = java.time.Duration.ofSeconds(20)
      val stage = tmp()
      val now = System.currentTimeMillis()
      for (i <- 0 until 4)
        StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(4)) === i),
          java.nio.file.Paths.get(stage), s"docs_$i.parquet",
          now - (4 - i) * 60000L)
      val out = tmp()
      def startTtlQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
        val schema = spark.read.parquet(stage).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        StreamingOps.runningNearDupPairs(
            graft.text.TextOps.bandBuckets(
              graft.text.TextOps.minhashSignatures(stream))
              .withColumn("seq",
                pmod(col("doc_id"), lit(4)) * 1000000000000L + col("doc_id"))
              .as[StreamingOps.PairEvent],
            ttl = Some(ttl))
          .toDF()
          .writeStream.format("graft-nwb")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("append")
          .trigger(Trigger.ProcessingTime("100 milliseconds"))
          .start()
      }
      val b = graft.text.TextOps.bandBuckets(
        graft.text.TextOps.minhashSignatures(docs))
      val maxBucket = b.groupBy("band_idx", "bucket").count()
        .agg(max("count")).collect()(0).getLong(0)
      require(maxBucket < 64,
        s"scenario E census law needs cap-free buckets, max size $maxBucket")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band_idx", "bucket")
        .orderBy(pmod(col("doc_id"), lit(4)), col("doc_id"))
      val rk = b.withColumn("rnk", row_number().over(w))
        .withColumn("bat", pmod(col("doc_id"), lit(4)))
      val ra = rk.select(col("band_idx"), col("bucket"),
        col("doc_id").as("ida"), col("rnk").as("rka"), col("bat").as("bata"))
      val rb = rk.select(col("band_idx"), col("bucket"),
        col("doc_id").as("idb"), col("rnk").as("rkb"), col("bat").as("batb"))
      val pairOracleE = ra.join(rb, Seq("band_idx", "bucket"))
        .filter(col("rka") < col("rkb"))
        .filter(col("batb") <= 2 ||
          (col("bata") === 3 && col("batb") === 3))
        .select(least(col("ida"), col("idb")).as("doc_a"),
          greatest(col("ida"), col("idb")).as("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      val expectedEmissions = pairOracleE.map(_._3).sum
      NwbFailpoints.reset()
      NwbFailpoints.arm()
      NwbFailpoints.crashBeforeMarkerAtEpoch.set(2L)
      val failed = StreamingOps.withRocksDbState(spark) {
        try { startTtlQuery().awaitTermination(); false }
        catch { case e: Throwable =>
          println(s"[soak] E query died as injected: ${e.getMessage.linesIterator.next()}")
          true
        }
      }
      require(failed, "scenario E: the injected crash must kill the query")
      require(!new File(s"$out/data/_committed/epoch-2").exists,
        "scenario E: epoch 2 marker must NOT exist after the crash")
      NwbFailpoints.reset()
      // downtime > TTL: everything inserted before the crash expires
      println(s"[soak] E: sleeping ${ttl.getSeconds + 5}s so the retention window lapses")
      Thread.sleep((ttl.getSeconds + 5) * 1000L)
      // epoch 2 replays (byte-identical at its pinned timestamp, dropped
      // wholesale by the sink), epoch 3 runs against the lapsed window;
      // poll the sink for convergence, then stop (the query never
      // self-ends in ProcessingTime mode)
      StreamingOps.withRocksDbState(spark) {
        val q = startTtlQuery()
        def emitted(): Long =
          scala.util.Try(spark.read.parquet(s"$out/data").count()).getOrElse(0L)
        val deadline = System.currentTimeMillis() + 180000L
        while (emitted() < expectedEmissions &&
            System.currentTimeMillis() < deadline && q.isActive)
          Thread.sleep(500)
        q.stop()
        q.awaitTermination()
      }
      require(new File(s"$out/data/_committed/epoch-2").exists,
        "scenario E: epoch 2 marker must land on recovery (the " +
          "pinned-timestamp replay re-stages byte-identical files; the " +
          "sink must drop them all and still commit)")
      require(new File(s"$out/data/_committed/epoch-3").exists,
        "scenario E: epoch 3 marker must land")
      val gotPairsE = spark.read.parquet(s"$out/data")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      require(gotPairsE.sameElements(pairOracleE),
        s"scenario E pair census mismatch: got ${gotPairsE.length} pairs " +
          s"(${gotPairsE.map(_._3).sum} band emissions) vs oracle " +
          s"${pairOracleE.length} (${pairOracleE.map(_._3).sum})")
      println(s"[soak] E: TTL-armed crash replay recovered exactly-once; " +
        s"census EXACT (${pairOracleE.length} pairs: crash-time epochs stood, " +
        s"replay pinned-timestamp-identical, retention window lapsed for epoch 3)")
    }

    NwbFailpoints.reset()
    println("[soak] PASS: exactly-once census parity under all five fault points")
    spark.stop()
  }
}
