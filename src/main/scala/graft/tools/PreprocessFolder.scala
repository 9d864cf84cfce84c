package graft.tools

import graft.store.NwbStore
import graft.operators.{Pipeline, Store}

/** Folder driver — the engine's `scripts/preprocess_folder`: a loop over
  * every session store under a root directory that hands each one to the
  * library's single preprocessing chain and runs no operator itself. By
  * default it writes `Pipeline.preprocessBlock`'s fused result (the
  * reference's all_steps=False); with --all-steps it calls
  * `Store.storePreprocessBlock`, the only all-steps writer. Raw data is not
  * rescaled. Where the reference loops files serially in one process, each
  * session here is one lazy Spark DAG over partition-parallel channel rows;
  * sessions are independent so a scheduler can also run them concurrently.
  *
  * Usage: PreprocessFolder <root> [--initial-rate R] [--final-rate R]
  *        [--filters rat|human|changlab] [--all-steps] [--acq-name NAME]
  *        [--precision single|double]
  * <root> contains one subdirectory per session, each an NwbStore layout.
  * The session is `graft.Session`'s (`local[$SPARK_GRAFT_CPUS]`, default 4).
  * Tables land in the session's preprocessing namespace under the
  * reference's accreted names; the fused path writes only
  * `wvlt_amp_CAR_ln_downsampled_<acq>`, partitioned by channel.
  */
object PreprocessFolder {

  final case class Args(root: String = "", initialRate: Double = 3200.0,
                        finalRate: Double = 400.0, filters: String = "rat",
                        acqName: String = "ECoG", allSteps: Boolean = false,
                        precision: String = "single")

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--initial-rate" :: v :: t => loop(a.copy(initialRate = v.toDouble), t)
      case "--final-rate" :: v :: t   => loop(a.copy(finalRate = v.toDouble), t)
      case "--filters" :: v :: t      => loop(a.copy(filters = v), t)
      case "--acq-name" :: v :: t     => loop(a.copy(acqName = v), t)
      case "--precision" :: v :: t    => loop(a.copy(precision = v), t)
      case "--all-steps" :: t         => loop(a.copy(allSteps = true), t)
      case v :: t if a.root.isEmpty   => loop(a.copy(root = v), t)
      case v :: _ => throw new IllegalArgumentException(s"unexpected arg $v")
    }
    val a = loop(Args(), argv.toList)
    require(a.root.nonEmpty, "usage: PreprocessFolder <root> [flags]")
    a
  }

  /** One session: `--precision` selects the compute precision of every
    * step and the storage width of every table. */
  def preprocessStore(store: NwbStore, a: Args): Unit = {
    val raw = store.readAcquisition(a.acqName)
    // one job: distinct().count() runs three under AQE; null counts as one
    // value, as it does there
    val nCh = raw.select("channel").collect().map(_.get(0)).distinct.length
    val config = Pipeline.Config(initialRate = a.initialRate, finalRate = Some(a.finalRate),
      filters = a.filters, scaling = 1.0, precision = a.precision)
    if (a.allSteps) Store.storePreprocessBlock(raw, store.root, a.acqName, nCh, config)
    else
      // reference naming accretes the consumed series name:
      // wvlt_amp_ + CAR_ln_downsampled_<acq> (wavelet_transform.py:389,410)
      store.writeProcessing(s"wvlt_amp_CAR_ln_downsampled_${a.acqName}",
        NwbStore.withPrecision(Pipeline.preprocessBlock(raw, nCh, config), a.precision),
        partitionByChannel = true)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = graft.Session.build()
    val fs = new org.apache.hadoop.fs.Path(a.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sessions = fs.listStatus(new org.apache.hadoop.fs.Path(a.root))
      .filter(_.isDirectory).map(_.getPath.toString).sorted
    println(s"[preprocess_folder] ${sessions.length} sessions under ${a.root}")
    for (s <- sessions) {
      println(s"[preprocess_folder] $s")
      preprocessStore(new NwbStore(s, spark), a)
    }
    spark.stop()
  }
}
