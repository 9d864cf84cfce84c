package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.JobMetrics.phase

/** Semantic-dedup state-scale soak (dev main, not a test): drives the
  * q377/q383 streaming shape — `StreamingOps.runningNearDupPairs`' capped
  * per-cell ListState under transformWithState on RocksDB — through
  * MILLIONS of cells and vectors, the scale the lexical family already has
  * in [[StateScaleSoak]] (r17 VERDICT next-round item 3).
  *
  * The soak certifies the three contracts the spec can't touch at size:
  *
  *  1. **Exact pair census at scale.** Cell membership is planted
  *     (cell = id % nCells, arrival order = id order), so the emitted pair
  *     set has a closed form: per cell, all pairs among its first
  *     min(size, cap) arrivals. The soak BUILDS that expected set
  *     distributively and asserts set equality via two-sided `except` —
  *     exact, not statistical.
  *  2. **Flood-boundedness of the cap.** One hot bucket receives
  *     `floodSize` extra events; its state must stay at `cap` ids and its
  *     pair yield at C(cap,2) — the O(flood²) blow-up the cap exists to
  *     prevent, observed at a real flood size.
  *  3. **Micro-batch slicing invariance.** The same event set re-staged
  *     under a different batch count must emit the IDENTICAL pair set
  *     (both runs are checked against the same expected frame) — the
  *     at-least-once / arrival-order contract q377's oracle rank replay
  *     rests on.
  *
  * transformWithState requires the RocksDB provider (no HDFS-backed
  * parity axis here, unlike the mapGroupsWithState lexical soak); instead
  * the second run doubles as a changelog-checkpointing re-certification,
  * and the report prints per-stage walls, spill, state row counts and
  * RocksDB SST/memory metrics.
  *
  * Run: SPARK_DRIVER_MEM=32g sbt "Test/runMain graft.Soak SemanticStateSoak
  *   [nVectors] [nCells] [cap] [floodSize]"
  * Defaults: 8 M vectors over 1 M cells (8 per cell -> 28 M pairs), cap 64,
  * 1 M-event hot-bucket flood; run once at 4 micro-batches and once at 2.
  */
object SemanticStateSoak {

  val FloodBase = 3000000000000L

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nVectors = args.long(0, 8000000L)
    val nCells = args.long(1, 1000000L)
    val cap = args.int(2, 64)
    val floodSize = args.long(3, 1000000L)
    require(nVectors % nCells == 0,
      s"nVectors must divide by nCells for the closed-form census " +
        s"(got $nVectors / $nCells)")
    val perCell = (nVectors / nCells).toInt

    import spark.implicits._

    val kEff = math.min(perCell, cap)
    val expectPairs = nCells * (kEff.toLong * (kEff - 1) / 2) +
      cap.toLong * (cap - 1) / 2
    println(s"[sem-soak] $nVectors vectors / $nCells cells " +
      s"($perCell per cell), cap $cap, flood $floodSize -> " +
      s"expect $expectPairs pairs")

    // expected pair set, built distributively: per cell all (i < j) among
    // the first kEff arrivals (member i of cell c is id c + i*nCells),
    // plus the flood bucket's first-cap pairs
    val ij = (for (i <- 0 until kEff; j <- (i + 1) until kEff) yield (i, j))
      .toDF("i", "j")
    val expectedMain = spark.range(nCells).select(col("id").as("c"))
      .crossJoin(broadcast(ij))
      .select((col("c") + col("i") * nCells).as("doc_a"),
        (col("c") + col("j") * nCells).as("doc_b"))
    val expectedFlood = (for (i <- 0 until cap; j <- (i + 1) until cap)
      yield (FloodBase + i, FloodBase + j)).toDF("doc_a", "doc_b")
    val expected = expectedMain.unionAll(expectedFlood)
      .withColumn("band_idx", lit(0)).persist()
    println(s"[sem-soak] expected frame: ${phase(spark, "expected")(expected.count())} pairs")

    def stage(nBatches: Int): java.nio.file.Path = {
      val dir = java.nio.file.Files.createTempDirectory(s"sem_soak_$nBatches")
      StreamingOps.deleteOnExit(dir)
      val now = System.currentTimeMillis()
      val perBatch = nVectors / nBatches
      for (b <- 0 until nBatches) {
        val main = spark.range(b * perBatch, (b + 1) * perBatch)
          .select(lit(0).as("band_idx"),
            (col("id") % nCells).cast("string").as("bucket"),
            col("id").as("doc_id"), col("id").as("seq"))
        // the flood arrives spread across every batch (seq after main ids,
        // so its first-cap members are FloodBase..FloodBase+cap-1)
        val fPer = floodSize / nBatches
        val flood = spark.range(b * fPer, (b + 1) * fPer)
          .select(lit(0).as("band_idx"), lit("hot").as("bucket"),
            (lit(FloodBase) + col("id")).as("doc_id"),
            (lit(nVectors) + col("id")).as("seq"))
        val tmp = java.nio.file.Files.createTempDirectory(s"semb$b")
        StreamingOps.deleteOnExit(tmp)
        main.unionAll(flood).repartition(8)
          .write.mode("overwrite").parquet(tmp.toString)
        var i = 0
        new java.io.File(tmp.toString).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .foreach { f =>
            val dst = dir.resolve(f"batch$b%02d_part$i%02d.parquet")
            java.nio.file.Files.move(f.toPath, dst)
            dst.toFile.setLastModified(now - (nBatches - b) * 60000L)
            i += 1
          }
      }
      dir
    }

    def run(nBatches: Int): Double = {
      val dir = phase(spark, s"stage-b$nBatches")(stage(nBatches))
      val nFilesPerBatch = new java.io.File(dir.toString).listFiles()
        .count(_.getName.startsWith("batch00"))
      val ckpt = java.nio.file.Files.createTempDirectory(s"sem_ck_$nBatches")
      StreamingOps.deleteOnExit(ckpt)
      val out = java.nio.file.Files.createTempDirectory(s"sem_out_$nBatches")
      StreamingOps.deleteOnExit(out)
      val schema = spark.read.parquet(dir.toString).schema
      val t0 = System.nanoTime()
      val q = phase(spark, s"stream-b$nBatches")(StreamingOps.withRocksDbState(spark) {
        val qq = StreamingOps.runningNearDupPairs(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", nFilesPerBatch.toString)
            .parquet(dir.toString)
            .select(col("band_idx"), col("bucket"), col("doc_id"), col("seq"))
            .as[StreamingOps.PairEvent],
          maxBucketSize = cap).toDF()
          .writeStream.outputMode(OutputMode.Append)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .format("parquet").option("path", out.toString)
          .start()
        qq.awaitTermination()
        qq
      })
      val wall = (System.nanoTime() - t0) / 1e9
      val metrics = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .lastOption.map { so =>
          val cm = so.customMetrics
          val rocks = cm.keySet().toArray.map(_.toString)
            .filter(k => k == "rocksdbSstFileSize" ||
              k == "rocksdbTotalMemoryUsageBytes")
            .map(k => s"$k=${cm.get(k)}")
          Seq(s"numRowsTotal=${so.numRowsTotal}") ++ rocks
        }.getOrElse(Seq("no state operator progress"))
      println(f"[sem-soak] b$nBatches stream: $wall%.1f s; ${metrics.mkString("; ")}")

      val got = spark.read.parquet(out.toString)
        .select(col("doc_a"), col("doc_b"), col("band_idx"))
      val (nGot, missing, extra) = phase(spark, s"census-b$nBatches")(
        (got.count(), expected.except(got).count(), got.except(expected).count()))
      require(nGot == expectPairs && missing == 0L && extra == 0L,
        s"pair census BROKEN at b$nBatches: got $nGot (expected $expectPairs), " +
          s"missing $missing, extra $extra")
      val hot = phase(spark, s"census-b$nBatches")(got.filter(col("doc_a") >= FloodBase).count())
      require(hot == cap.toLong * (cap - 1) / 2,
        s"flood cap BROKEN: $hot hot-bucket pairs, expected C($cap,2)")
      println(f"[sem-soak] b$nBatches census EXACT: $nGot%d pairs " +
        f"(flood contributed $hot — capped), 0 missing / 0 extra")
      wall
    }

    val w4 = run(4)
    val w2 = run(2)
    println(f"[sem-soak] SLICING-INVARIANT: b4 $w4%.1f s, b2 $w2%.1f s — " +
      "both runs equal the closed-form pair set")
  }
}
