package graft.store

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** The engine's "file" abstraction: what an NWBFile is to the reference
  * (a hierarchical container of acquisition + derived series,
  * /root/reference/src/process_nwb/pipelines.py:55-109), a Parquet
  * directory-namespace is here:
  *
  *   <root>/acquisition/<series>/        raw series (SegmentFrame rows)
  *   <root>/preprocessing/<series>/      derived series
  *   <root>/electrodes/                  the electrodes dimension
  *
  * Naming prefixes (`downsampled_`, `CAR_ln_`, `wvlt_amp_`, ...) are
  * preserved as table names, so a reference user's mental model maps 1:1.
  * Compression is zstd (the gzip+shuffle+fletcher32 analog — checksums are
  * intrinsic to Parquet). The sample arrays (`values`) are written without
  * dictionary encoding ([[NwbStore.NoValuesDictionary]]).
  */
final class NwbStore(val root: String, spark: SparkSession) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(kind: String, name: String) = s"$root/$kind/$name"

  private def writer(df: DataFrame) =
    df.write.mode("overwrite").option("compression", "zstd")
      .option(NwbStore.NoValuesDictionary, "false")

  def writeAcquisition(name: String, df: DataFrame): Unit =
    writer(df).parquet(dir("acquisition", name))

  def writeProcessing(name: String, df: DataFrame, partitionByChannel: Boolean = false): Unit = {
    val w = writer(df)
    (if (partitionByChannel) w.partitionBy("channel") else w)
      .parquet(dir("preprocessing", name))
  }

  /** Bucketed variant of the processing sink: co-locates rows by channel at
    * WRITE time (`bucketBy` + in-bucket sort), so every downstream
    * channel-keyed join — electrode attach, aligning two
    * derived series — reads both sides pre-partitioned and skips the
    * shuffle entirely (plan-asserted in StoreAndStreamingSpec). The 100 TB
    * shape: pay the partitioning once at the sink, reuse it across every
    * query that touches the series. Bucketed tables need a catalog entry
    * (`saveAsTable` with an external path), so the table is registered as
    * `<prefix>_<name>` alongside the same parquet namespace layout; the
    * default prefix includes a hash of the store root so two stores never
    * cross-talk through the shared session catalog. Catalog entries live
    * as long as the catalog (the session, for the default in-memory one):
    * a NEW session re-registers by writing, or re-reads the parquet path
    * directly and repartitions — the bucket files themselves persist. */
  def writeProcessingBucketed(name: String, df: DataFrame, nBuckets: Int = 32,
                              tablePrefix: String = ""): Unit =
    df.write.mode("overwrite").option("compression", "zstd")
      .option("path", dir("preprocessing", name))
      .bucketBy(nBuckets, "channel")
      .sortBy("channel")
      .format("parquet")
      .saveAsTable(s"${prefixFor(tablePrefix)}_$name")

  /** Catalog read-back of a bucketed series: `spark.read.parquet` on the
    * path would drop the bucketing metadata; the table read keeps it. */
  def readProcessingBucketed(name: String, tablePrefix: String = ""): DataFrame =
    spark.table(s"${prefixFor(tablePrefix)}_$name")

  /** Catalog-free read-back of a bucketed series as a V2 scan reporting
    * `KeyGroupedPartitioning(identity(channel))`
    * ([[graft.sources.BucketedNwbSource]]): channel-keyed joins between
    * two STORED series plan shuffle-free under V2 bucketing, with nothing
    * but the files + the layout facts — no dependency on the writing
    * session's catalog entry surviving. `nBuckets` must match the write;
    * `nChannels` is the dense channel-id count. */
  def readProcessingBucketedV2(name: String, nBuckets: Int,
                               nChannels: Int,
                               validate: Boolean = true): DataFrame =
    spark.read.format("graft-nwb-bucketed")
      .option("path", dir("preprocessing", name))
      .option("nbuckets", nBuckets)
      .option("nchannels", nChannels)
      .option("validate", validate)
      .load()

  private def prefixFor(explicit: String): String =
    if (explicit.nonEmpty) explicit
    else "nwb_" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(root) & 0x7fffffff)

  def writeElectrodes(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$root/electrodes")

  /** Acquisition lookup with the reference's legacy-layout fallback
    * (pipelines.py:61-65: `acquisition[name]` else `acquisition['Raw'][name]`).
    * `acquisition/<name>` is read with the declared SegmentFrame schema
    * (`Frames.SegmentSchema`, what `writeAcquisition` writes), so no job
    * infers it from the files; the path check is the read's own. Only the
    * legacy layout, written by other tools, is read with an inferred
    * schema. */
  def readAcquisition(name: String): DataFrame = {
    val primary = dir("acquisition", name)
    try spark.read.schema(graft.model.Frames.SegmentSchema).parquet(primary)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        val legacy = new Path(dir("acquisition/Raw", name))
        if (!fs.exists(legacy)) throw new IllegalArgumentException(
          s"acquisition series '$name' not found under $root (tried $primary, $legacy)")
        spark.read.parquet(legacy.toString)
    }
  }

  def readProcessing(name: String): DataFrame =
    spark.read.parquet(dir("preprocessing", name))

  def electrodes: DataFrame = spark.read.parquet(s"$root/electrodes")

  def listAcquisition(): Seq[String] = list("acquisition")
  def listProcessing(): Seq[String] = list("preprocessing")

  private def list(kind: String): Seq[String] = {
    val p = new Path(s"$root/$kind")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** The `copy_strip` utility (scripts/copy_strip): drop every derived
    * series, keeping acquisition + electrodes. */
  def stripProcessing(): Unit = {
    val p = new Path(s"$root/preprocessing")
    if (fs.exists(p)) fs.delete(p, true)
  }
}

object NwbStore {

  /** The Parquet property that turns dictionary encoding off for the
    * elements of the `values` arrays, set to "false" by every writer of
    * sample arrays (this store and the stream sink of
    * `graft.streaming.StreamingOps`). ECoG floats are nearly all distinct,
    * so a dictionary overflows its page and Parquet falls back to plain
    * encoding after paying for the attempt: the bytes written are the
    * same either way. */
  val NoValuesDictionary = "parquet.enable.dictionary#values.list.element"

  /** The one precision rule, shared by every op with a `precision`
    * argument and by the storage cast: the reference's `dtype(X, precision)`
    * (utils.py:9-31) accepts exactly `single` (float32) or `double`
    * (float64), case-sensitively, and rejects anything else. */
  private[graft] def isSingle(precision: String): Boolean = precision match {
    case "single" => true
    case "double" => false
    case other => throw new IllegalArgumentException(
      s"`precision` should be either `single` or `double`. Got $other.")
  }

  /** Precision cast at the storage boundary — the reference's
    * `precision='single'` mode (utils.py:9-31): compute in double, store
    * float32. */
  def withPrecision(df: DataFrame, precision: String): DataFrame =
    if (!isSingle(precision)) df
    else if (df.columns.contains("values"))
      df.withColumn("values", col("values").cast("array<float>"))
    else df.withColumn("value", col("value").cast("float"))
}
