package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.JobMetrics.phase

/** State-store scale soak (dev main, not a test): drives the running-dedup
  * state through MILLIONS of distinct keys across forced micro-batches and
  * compares the two providers the engine certifies:
  *
  *  - HDFSBacked (default): every store's working map ON-HEAP — the state
  *    volume is bounded by executor memory. Reports memoryUsedBytes.
  *  - RocksDB + changelog checkpointing: state off-heap/on-disk per
  *    partition, commits ship deltas — bounded by local disk, the
  *    100 TB-corpus setting. Reports SST sizes + changelog counts.
  *
  * Both runs must produce IDENTICAL final dedup censuses (count-by-copies
  * histogram compared exactly), so the soak doubles as a provider-parity
  * certification at a scale the spec can't touch.
  *
  * Run: SPARK_DRIVER_MEM=32g sbt "Test/runMain graft.Soak StateScaleSoak
  *   [nEvents] [nDistinct] [nBatches]"
  * Defaults: 12 M events over 4 M distinct keys in 4 micro-batches
  * (~3x copies per key on average; state ends at 4 M entries/shard set).
  */
object StateScaleSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nEvents = args.long(0, 12000000L)
    val nDistinct = args.long(1, 4000000L)
    val nBatches = args.int(2, 4)
    import spark.implicits._

    println(s"[state-soak] $nEvents events, $nDistinct distinct keys, " +
      s"$nBatches micro-batches")

    // one parquet file per micro-batch; key ids round-robin the event space
    // so EVERY batch touches ~nDistinct/… fresh and repeated keys alike
    val stage = java.nio.file.Files.createTempDirectory("state_soak")
    StreamingOps.deleteOnExit(stage)
    val now = System.currentTimeMillis()
    val perBatch = nEvents / nBatches
    for (b <- 0 until nBatches) {
      val df = spark.range(b * perBatch, (b + 1) * perBatch)
        .select(col("id").as("doc_id"),
          md5(concat(lit("k:"), (col("id") % nDistinct).cast("string")))
            .as("content_hash"))
      // write directly (multi-part) and mark the DIRECTORY boundary via
      // one file per batch: repartition(1) keeps the stageFileAs contract
      val tmp = java.nio.file.Files.createTempDirectory(s"b$b")
      StreamingOps.deleteOnExit(tmp)
      df.repartition(8).write.mode("overwrite").parquet(tmp.toString)
      var i = 0
      new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          val dst = stage.resolve(f"batch$b%02d_part$i%02d.parquet")
          java.nio.file.Files.move(f.toPath, dst)
          dst.toFile.setLastModified(now - (nBatches - b) * 60000L)
          i += 1
        }
    }
    val nFilesPerBatch = new java.io.File(stage.toString).listFiles()
      .count(_.getName.startsWith("batch00"))
    println(s"[state-soak] staged ${nBatches}x$nFilesPerBatch files")

    val schema = spark.read.parquet(stage.toString).schema

    def run(label: String): (Double, Map[Long, Long], Seq[String]) = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"ck_$label")
      StreamingOps.deleteOnExit(ckpt)
      val out = java.nio.file.Files.createTempDirectory(s"out_$label")
      StreamingOps.deleteOnExit(out)
      val t0 = System.nanoTime()
      // final-state extraction happens downstream; the STREAM carries only
      // per-batch updates (append-style parquet of Update rows)
      val q = StreamingOps.runningDedup(
        spark.readStream.schema(schema)
          // each trigger ingests one staged batch's files
          .option("maxFilesPerTrigger", nFilesPerBatch.toString)
          .parquet(stage.toString)
          .select(col("content_hash"), col("doc_id"))
          .as[StreamingOps.DocHashEvent]).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        // parquet sinks reject Update mode — append each batch's update
        // rows distributively instead (never through the driver)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out.toString)
        }
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val metrics = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .lastOption.map { so =>
          val cm = so.customMetrics
          val rocks = cm.keySet().toArray.map(_.toString)
            .filter(k => k == "rocksdbSstFileSize" ||
              k == "rocksdbTotalMemoryUsageBytes")
            .map(k => s"$k=${cm.get(k)}")
          Seq(s"numRowsTotal=${so.numRowsTotal}",
            s"memoryUsedBytes=${so.memoryUsedBytes}") ++ rocks
        }.getOrElse(Seq("no state operator progress"))
      // census: how many hashes ended with n copies (last update per hash)
      val census = spark.read.parquet(out.toString)
        .groupBy("content_hash").agg(max("n_copies").as("n"))
        .groupBy("n").agg(count(lit(1)).as("hashes"))
        .as[(Long, Long)].collect().toMap
      println(f"[state-soak] $label: $wall%.1f s; ${metrics.mkString("; ")}")
      println(s"[state-soak] $label census (copies -> hashes): " +
        census.toSeq.sorted.mkString(", "))
      val changelogs = if (java.nio.file.Files.exists(ckpt.resolve("state"))) {
        val s = java.nio.file.Files.walk(ckpt.resolve("state"))
        try s.filter(_.toString.endsWith(".changelog")).count().toString
        finally s.close()
      } else "0"
      println(s"[state-soak] $label changelog files: $changelogs; " +
        s"state ckpt bytes: ${dirBytes(ckpt.resolve("state"))}")
      (wall, census, metrics)
    }

    val (wallH, censusH, _) = phase(spark, "hdfs-backed")(run("hdfs-backed"))
    val (wallR, censusR, _) = phase(spark, "rocksdb")(
      StreamingOps.withRocksDbState(spark)(run("rocksdb")))

    require(censusH == censusR,
      s"provider parity BROKEN: $censusH vs $censusR")
    val expectTotal = nDistinct
    require(censusH.values.sum == expectTotal,
      s"census covers ${censusH.values.sum} hashes, expected $expectTotal")
    println(f"[state-soak] PARITY OK — hdfs $wallH%.1f s vs rocksdb $wallR%.1f s " +
      f"over ${censusH.values.sum} distinct keys")
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
