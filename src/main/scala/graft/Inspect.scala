package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, NamedLambdaVariable, ScalaUDF, UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

/** Dev tool for registry queries and session stores, on the session
  * `Bench` runs on:
  *
  *   runMain graft.Inspect plan|profile <sfDir> <outDir> [q01_...,q42_...]
  *   runMain graft.Inspect plan|profile <storeDir> <outDir>
  *
  * No names means the whole registry; an unknown name is rejected before
  * anything runs. A directory that holds `acquisition/` is a session store
  * (`graft.store.NwbStore`): it takes no names, and its one entry, named
  * after the directory, is the folder driver's fused path with its CLI
  * defaults (`tools.PreprocessFolder`). `plan` writes the fused frame's
  * plan as the fused write plans it; `profile` times `preprocessStore`
  * itself (the write included) and writes no final plan.
  *
  *  - `plan` writes each query's formatted physical plan to
  *    `<outDir>/<name>.txt` and prints one census line per query. These
  *    are the plans before execution (`isFinalPlan=false`): AQE's runtime
  *    rewrites (coalesced reads, join demotions, exchange reuse) appear
  *    only in `profile`'s final plans.
  *  - `profile` runs Bench's warm-up, then times each query best-of-2 on
  *    `count()`'s own plan, prints one summary line per query and writes
  *    the last run's per-job breakdown (`<name>.jobs.txt`, from
  *    [[JobMetrics]]) and AQE-final plan (`<name>.final.txt`). The
  *    summary's `forks=<n>(program:count,...)` counts the child processes
  *    the JVM started during both runs ([[ProcessStarts]]), a cost no
  *    listener sees.
  *
  * Queries whose builder itself runs jobs (streaming sinks, iterative
  * loops, tier-dispatch counts) run those while being built, as in Bench;
  * in `profile` those jobs are part of the breakdown. */
object Inspect {

  private val Usage = "usage: Inspect plan|profile <sfDir> <outDir> [names]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 4 &&
      Set("plan", "profile")(args(0)), Usage)
    val store = isStore(args(1))
    require(!store || args.length == 3, s"a session store takes no names; $Usage")
    val names = if (store) Nil else Bench.select(args.lift(3))
    val spark = Session.build()
    try {
      val out = Paths.get(args(2))
      (args(0), store) match {
        case ("plan", true)     => planStore(spark, args(1), out)
        case ("plan", false)    => plan(spark, args(1), out, names)
        case ("profile", true)  => profileStore(spark, args(1), out)
        case ("profile", false) => profile(spark, args(1), out, names)
      }
    } finally spark.stop()
  }

  /** A session store: a directory holding `acquisition/`. */
  def isStore(dir: String): Boolean = Files.isDirectory(Paths.get(dir, "acquisition"))

  private def storeEntry(spark: SparkSession, dir: String) =
    (Paths.get(dir).getFileName.toString, new graft.store.NwbStore(dir, spark),
      tools.PreprocessFolder.parse(Array(dir)))

  /** Writes each query's formatted plan to `<outDir>/<name>.txt`; returns
    * (and prints) the census lines. */
  def plan(spark: SparkSession, sfDir: String, outDir: Path,
           names: Seq[String]): Seq[String] = {
    val qs = SparkEntry.queries
    names.flatMap(name => planOne(outDir, name)(qs(name)(spark, sfDir).queryExecution))
  }

  /** [[plan]] of a session store's fused frame, planned under the fused
    * write's confs. */
  def planStore(spark: SparkSession, dir: String, outDir: Path): Option[String] = {
    val (name, store, a) = storeEntry(spark, dir)
    Session.withConf(spark)(tools.PreprocessFolder.FusedWrite: _*)(
      planOne(outDir, name)(tools.PreprocessFolder.fused(store, a).queryExecution))
  }

  private def planOne(outDir: Path, name: String)(
      qe: => org.apache.spark.sql.execution.QueryExecution): Option[String] = {
    Files.createDirectories(outDir)
    try {
      val text = qe.explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"$name.txt"), text)
      val line = s"[plan] $name ${census(qe.executedPlan)} " +
        s"(${text.linesIterator.size} lines)"
      println(line)
      Some(line)
    } catch { case e: Throwable =>
      System.err.println(s"[plan] $name failed: ${e.getMessage}")
      None
    }
  }

  /** Times each query best-of-2 under [[JobMetrics]] after Bench's warm-up;
    * writes the last run's job breakdown and final plan to `outDir` and
    * returns (and prints) each query's jobs of that run. */
  def profile(spark: SparkSession, sfDir: String, outDir: Path,
              names: Seq[String]): Seq[(String, Seq[JobMetrics.Job])] = {
    val qs = SparkEntry.queries
    val metrics = JobMetrics.attach(spark)
    try {
      Bench.warmUp(spark, sfDir)
      names.flatMap { name =>
        profileOne(spark, metrics, outDir, name) {
          // Dataset.count() is this aggregate, collected
          val counted = qs(name)(spark, sfDir).groupBy().count()
          val rows = counted.collect().head.getLong(0)
          (s"rows=$rows", Some(counted))
        }
      }
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  /** [[profile]] of a session store: `preprocessStore` best-of-2, its jobs
    * and forks. */
  def profileStore(spark: SparkSession, dir: String,
                   outDir: Path): Option[(String, Seq[JobMetrics.Job])] = {
    val (name, store, a) = storeEntry(spark, dir)
    val metrics = JobMetrics.attach(spark)
    try profileOne(spark, metrics, outDir, name) {
      tools.PreprocessFolder.preprocessStore(store, a)
      ("preprocessStore", None)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  /** Runs `run` twice under `metrics`, writes the last run's jobs (and the
    * final plan of the frame it returns) to `outDir`, prints the summary. */
  private def profileOne(spark: SparkSession, metrics: JobMetrics, outDir: Path,
                         name: String)(
      run: => (String, Option[org.apache.spark.sql.DataFrame]))
      : Option[(String, Seq[JobMetrics.Job])] = {
    Files.createDirectories(outDir)
    try {
      val (runs, forks) = ProcessStarts.during((1 to 2).map { i =>
        JobMetrics.phase(spark, s"$name#$i") {
          val t0 = System.nanoTime()
          val (what, df) = run
          ((System.nanoTime() - t0) / 1e9, what, df)
        }
      })
      metrics.settle()
      val jobs = metrics.jobs(s"$name#2")
      metrics.clear()
      val (_, what, last) = runs.last
      last.foreach(df => Files.writeString(outDir.resolve(s"$name.final.txt"),
        df.queryExecution.explainString(FormattedMode)))
      Files.writeString(outDir.resolve(s"$name.jobs.txt"),
        jobs.map(_.line).mkString("", "\n", "\n"))
      val t = JobMetrics.total(jobs)
      println(f"[profile] $name best=${runs.map(_._1).min}%.3fs " +
        s"runs=${runs.map(r => f"${r._1}%.3f").mkString(",")} $what " +
        s"jobs=${jobs.size} stages=${t.stages} tasks=${t.tasks} " +
        f"task=${t.taskMs / 1000.0}%.2fs sr=${t.shuffleRead / 1e6}%.1fMB " +
        f"sw=${t.shuffleWrite / 1e6}%.1fMB spill=${t.spill / 1e6}%.1fMB " +
        f"maxResult=${t.maxResultBytes / 1024.0}%.0fKiB forks=${forks.size}" +
        forkCensus(forks))
      Some(name -> jobs)
    } catch { case e: Throwable =>
      System.err.println(s"[profile] $name failed: ${e.getMessage}")
      metrics.clear()
      None
    }
  }

  /** `(chmod:3,rm:1)`: the programs of `commands` with their counts, or
    * nothing when no process started. */
  private def forkCensus(commands: Seq[String]): String =
    if (commands.isEmpty) ""
    else commands.groupBy(ProcessStarts.program).toSeq.sortBy(_._1)
      .map { case (p, cs) => s"$p:${cs.size}" }.mkString("(", ",", ")")

  /** Exchanges (shuffle + broadcast), reused exchanges, broadcast and
    * sort-merge joins, file scans, cartesian products, RDD scans and local
    * table scans in a physical plan, counted through AQE wrappers, query
    * stages and subqueries. RDD scans are the pinned frames (`LogicalRDD`)
    * a builder materialized while it ran; local scans are rows it
    * collected and rebuilt as a local relation (q143's census row).
    * Without them the plan of such a query reads as all zeros. `udfs`
    * counts the Scala UDF expressions in the nodes' expressions: each one
    * is a boxed boundary its input and output cross row by row.
    * `fallbacks` counts the other expressions that generate no code
    * (`CodegenFallback`, e.g. a higher-order function such as
    * `array_compact`'s `ArrayFilter`): a code-generated stage evaluates
    * each of them interpreted, boxing its values. A higher-order function
    * counts once, without its lambda and lambda variables. Aggregate
    * functions are left out: an aggregate operator calls an imperative
    * aggregate's update methods whether or not it generates code. */
  def census(plan: SparkPlan): String = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    def n(f: PartialFunction[SparkPlan, Unit]) = all.count(f.isDefinedAt)
    val exchanges = n { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => }
    val reused = n { case _: ReusedExchangeExec => }
    val bcastJoins = n { case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => }
    val smJoins = n { case _: SortMergeJoinExec => }
    val scans = n { case _: FileSourceScanExec =>
      case b: BatchScanExec if b.scan.isInstanceOf[FileScan] => }
    val rddScans = n { case _: RDDScanExec => }
    val localScans = n { case _: LocalTableScanExec => }
    val cartesian = n { case _: CartesianProductExec => }
    def exprs(f: PartialFunction[Expression, Unit]) =
      all.map(_.expressions.map(_.collect(f).size).sum).sum
    val udfs = exprs { case _: ScalaUDF => }
    val fallbacks = exprs { case e: CodegenFallback if !(e.isInstanceOf[AggregateFunction] ||
      e.isInstanceOf[UserDefinedExpression] || e.isInstanceOf[LambdaFunction] ||
      e.isInstanceOf[NamedLambdaVariable]) => }
    s"exchanges=$exchanges reused=$reused broadcastJoins=$bcastJoins " +
      s"sortMergeJoins=$smJoins fileScans=$scans cartesian=$cartesian " +
      s"rddScans=$rddScans localScans=$localScans udfs=$udfs fallbacks=$fallbacks"
  }
}
