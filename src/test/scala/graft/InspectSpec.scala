package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The library entry points of the mains: `Inspect plan|profile` (plan
  * file, census line with pinned and locally built inputs, UDFs and
  * interpreted expressions, per-job metrics,
  * child-process count, name check) and `Bench.run`'s summary pointer to the persisted
  * per-query file. */
class InspectSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"
  private val q21 = "q21_car_trimmed_mean"

  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    graft.streaming.StreamingOps.deleteOnExit(d)
    d
  }

  test("Inspect plan writes the formatted plan and one census line") {
    val out = tempDir("inspect_plan")
    val lines = Inspect.plan(spark, sf, out, Seq(q21))
    val plan = Files.readString(out.resolve(s"$q21.txt"))
    assert(plan.contains("== Physical Plan =="), plan.take(500))
    assert(lines.size == 1)
    assert(lines.head.matches(s"\\[plan\\] $q21 exchanges=\\d+ reused=\\d+ " +
      "broadcastJoins=\\d+ sortMergeJoins=\\d+ fileScans=[1-9]\\d* cartesian=0 .*"),
      lines.head)
  }

  test("Inspect plan counts the inputs a builder materialized (q143, q167)") {
    val out = tempDir("inspect_plan_pinned")
    val Seq(q143, q167) = Inspect.plan(spark, sf,
      out, Seq("q143_triangle_census", "q167_sssp_reach"))
    // the triangle census is one locally built row: only a local scan
    assert(q143.startsWith("[plan] q143_triangle_census exchanges=0 reused=0 " +
      "broadcastJoins=0 sortMergeJoins=0 fileScans=0 cartesian=0 rddScans=0 " +
      "localScans=1 udfs=0 "), q143)
    // the SSSP rounds end in a pinned frame the plan reads
    assert(q167.matches(".* fileScans=0 .* rddScans=[1-9]\\d* .*"), q167)
  }

  test("Inspect plan counts the Scala UDFs a query crosses") {
    val out = tempDir("inspect_plan_udfs")
    val lines = Inspect.plan(spark, sf, out,
      Seq("q30_resample", "q31_notch", "q32_wavelet_amplitude", q21))
    def udfs(line: String) = "udfs=(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
    // the spectral kernels are native expressions: only the events
    // assembly's bucket-combine UDF is left in the three spectral plans
    assert(lines.take(3).map(udfs) == Seq(1, 1, 1), lines.mkString("\n"))
    // q21 adds its NaN planting, the window split and CAR's two per-block
    // UDFs
    assert(udfs(lines(3)) == 1 + 1 + 1 + 2, lines(3))
  }

  test("Inspect plan counts the expressions that generate no code") {
    val out = tempDir("inspect_plan_fallbacks")
    val Seq(q154, q368) = Inspect.plan(spark, sf, out,
      Seq("q154_sequence_patterns", "q368_window_stitch_roundtrip"))
    def fallbacks(line: String) =
      " fallbacks=(\\d+) ".r.findFirstMatchIn(line).get.group(1).toInt
    // the sequence census sorts with a comparator and maps with a lambda:
    // array_sort and transform, two higher-order functions
    assert(fallbacks(q154) == 2, q154)
    // the windowing spine's membership explode and its stitch generate code
    assert(fallbacks(q368) == 0, q368)
  }

  test("Inspect profile records the last run's jobs with task time") {
    val out = tempDir("inspect_profile")
    val Seq((name, jobs)) = Inspect.profile(spark, sf, out, Seq(q21))
    assert(name == q21)
    assert(jobs.nonEmpty && jobs.forall(_.phase == s"$q21#2"))
    assert(jobs.exists(_.taskMs > 0), jobs.map(_.line).mkString("\n"))
    assert(jobs.exists(_.maxTaskMs > 0) && jobs.forall(j => j.maxTaskMs <= j.taskMs),
      jobs.map(_.line).mkString("\n"))
    assert(jobs.forall(_.wallMs >= 0))
    assert(Files.readString(out.resolve(s"$q21.final.txt")).contains("isFinalPlan=true"))
    assert(Files.readAllLines(out.resolve(s"$q21.jobs.txt")).size == jobs.size)
  }

  test("Inspect profile counts the processes its timed runs start: no chmod or readlink") {
    val out = tempDir("inspect_forks")
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed)(
      Inspect.profile(spark, sf, out, Seq(q21, "q343_rocksdb_state_dedup")))
    val lines = printed.toString.linesIterator.filter(_.startsWith("[profile]")).toSeq
    assert(lines.size == 2, printed.toString)
    for (line <- lines) {
      // forks=<n>, then (program:count,...) when n > 0
      val m = "forks=(\\d+)(\\((\\S+)\\))?$".r.findFirstMatchIn(line)
      assert(m.isDefined, line)
      val census = Option(m.get.group(3)).toSeq.flatMap(_.split(","))
        .map { pc => val Array(p, c) = pc.split(":"); p -> c.toInt }.toMap
      assert(census.values.sum == m.get.group(1).toInt, line)
      assert(!census.contains("chmod") && !census.contains("readlink"), line)
    }
  }

  test("Inspect and Bench reject an unknown query name before anything runs") {
    val out = tempDir("inspect_reject").resolve("out")
    val e = intercept[IllegalArgumentException](
      Inspect.main(Array("profile", sf, out.toString, s"$q21,q21_car_trimmed_maen")))
    assert(e.getMessage.contains("q21_car_trimmed_maen"))
    assert(!Files.exists(out))
    intercept[IllegalArgumentException](Bench.select(Some("q01_pricing_sumary")))
    assert(Bench.select(None).toSet == SparkEntry.queries.keySet)
    assert(Bench.select(None).size == SparkEntry.all.size)
  }

  test("Bench summary points at the per-query file only when this run wrote it") {
    val dir = tempDir("bench_last_run")
    val unwritable = dir.resolve("no_such_dir").resolve("BENCH_LAST_RUN.json")
    val failed = Bench.run(spark, sf, Seq("q01_pricing_summary"), unwritable)
    assert(failed.contains("\"n_queries\":1"), failed)
    assert(failed.endsWith("\"queries_file\":null}"), failed)

    val file = dir.resolve("BENCH_LAST_RUN.json")
    Files.writeString(file, "stale per-query times of an earlier run\n")
    val ok = Bench.run(spark, sf, Seq("q01_pricing_summary"), file)
    assert(ok.endsWith("\"queries_file\":\"BENCH_LAST_RUN.json\"}"), ok)
    val written = Files.readString(file)
    assert(written.startsWith("{\"metric\":\"total\"") &&
      written.contains("\"q01_pricing_summary\":"), written)
  }
}
