package graft

import org.apache.spark.sql.SparkSession

/** The one session conf of the mains (`Bench`, `Verify`, `Inspect`,
  * `tools.PreprocessFolder`) and of test scope: every spec takes it from
  * the `graft.SessionSuite` trait and every soak from the `graft.Soak`
  * runner. `local[$SPARK_GRAFT_CPUS]` (default 4) with shuffle partitions = cpus,
  * UTC session time zone, UI off, AQE on, nanosecond parquet timestamps
  * read as longs, and a raised ObjectHashAggregate fallback threshold.
  * Any other `spark.*` conf can still be set per run as a JVM system
  * property (`GRAFT_JAVA_OPTS="-Dspark.x=y"`, see build.sbt). The local
  * filesystem is not set here but in `src/main/resources/core-site.xml`
  * (`graft/store/LocalFs.scala`), which every Hadoop configuration on the
  * classpath loads; `build()` warns once when that registration is
  * missing. */
object Session {

  /** Cores of the local master, `SPARK_GRAFT_CPUS` (default 4). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep the assembly aggregates hash-based: the default 128-key
      // threshold silently downgrades ObjectHashAggregate to sort-based
      // aggregation once a partition holds >128 groups (e.g. the
      // channel x hour-bucket assembly at sf0.1), sorting every sample row
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    reportLocalFs(spark.sparkContext.hadoopConfiguration,
      org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
    spark
  }

  private val localFsReported = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Passes [[graft.store.LocalFs.report]] of `conf` to `warn`, once per
    * JVM; true when it did. */
  private[graft] def reportLocalFs(conf: org.apache.hadoop.conf.Configuration,
                                   warn: String => Unit): Boolean =
    graft.store.LocalFs.report(conf).exists { msg =>
      val first = localFsReported.compareAndSet(false, true)
      if (first) warn(msg)
      first
    }
}
