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

/** Dev tool for registry queries, on the session `Bench` runs on:
  *
  *   runMain graft.Inspect plan|profile <sfDir> <outDir> [q01_...,q42_...]
  *
  * No names means the whole registry; an unknown name is rejected before
  * anything runs.
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
    val names = Bench.select(args.lift(3))
    val spark = Session.build()
    try {
      if (args(0) == "plan") plan(spark, args(1), Paths.get(args(2)), names)
      else profile(spark, args(1), Paths.get(args(2)), names)
    } finally spark.stop()
  }

  /** Writes each query's formatted plan to `<outDir>/<name>.txt`; returns
    * (and prints) the census lines. */
  def plan(spark: SparkSession, sfDir: String, outDir: Path,
           names: Seq[String]): Seq[String] = {
    Files.createDirectories(outDir)
    val qs = SparkEntry.queries
    names.flatMap { name =>
      try {
        val qe = qs(name)(spark, sfDir).queryExecution
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
  }

  /** Times each query best-of-2 under [[JobMetrics]] after Bench's warm-up;
    * writes the last run's job breakdown and final plan to `outDir` and
    * returns (and prints) each query's jobs of that run. */
  def profile(spark: SparkSession, sfDir: String, outDir: Path,
              names: Seq[String]): Seq[(String, Seq[JobMetrics.Job])] = {
    Files.createDirectories(outDir)
    val qs = SparkEntry.queries
    val metrics = JobMetrics.attach(spark)
    try {
      Bench.warmUp(spark, sfDir)
      names.flatMap { name =>
        try {
          val (runs, forks) = ProcessStarts.during((1 to 2).map { i =>
            JobMetrics.phase(spark, s"$name#$i") {
              val t0 = System.nanoTime()
              // Dataset.count() is this aggregate, collected
              val counted = qs(name)(spark, sfDir).groupBy().count()
              val rows = counted.collect().head.getLong(0)
              ((System.nanoTime() - t0) / 1e9, rows, counted)
            }
          })
          metrics.settle()
          val jobs = metrics.jobs(s"$name#2")
          metrics.clear()
          val (_, rows, last) = runs.last
          Files.writeString(outDir.resolve(s"$name.final.txt"),
            last.queryExecution.explainString(FormattedMode))
          Files.writeString(outDir.resolve(s"$name.jobs.txt"),
            jobs.map(_.line).mkString("", "\n", "\n"))
          val t = JobMetrics.total(jobs)
          println(f"[profile] $name best=${runs.map(_._1).min}%.3fs " +
            s"runs=${runs.map(r => f"${r._1}%.3f").mkString(",")} rows=$rows " +
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
    } finally spark.sparkContext.removeSparkListener(metrics)
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
