package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** sorted_intersect_size: the two-pointer merge must equal
  * size(array_intersect(...)) on every sorted duplicate-free input, mirror
  * the null chain, and compile under whole-stage codegen. */
class SortedIntersectSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("equals size(array_intersect) on random sorted distinct arrays") {
    SortedIntersectFunctions.register(spark)
    val r = new scala.util.Random(13)
    def randSet(): Seq[String] =
      (0 until r.nextInt(40)).map(_ => s"w${r.nextInt(60)}").distinct.sorted
    val rows = (0 until 300).map(i => (i.toLong, randSet(), randSet()))
    val df = rows.toDF("id", "a", "b")
    withConf("spark.sql.codegen.fallback" -> "false") {
      val bad = df.select(
          expr(s"${SortedIntersectFunctions.registeredName}(a, b)").as("fast"),
          size(array_intersect(col("a"), col("b"))).as("builtin"))
        .filter(col("fast") =!= col("builtin")).count()
      assert(bad === 0L)
      // empties and identity
      val edge = Seq(
        (Seq.empty[String], Seq("x")),
        (Seq("x"), Seq.empty[String]),
        (Seq("a", "b", "c"), Seq("a", "b", "c"))).toDF("a", "b")
      val got = edge.select(expr(s"${SortedIntersectFunctions.registeredName}(a, b)"))
        .collect().map(_.getInt(0)).toSeq
      assert(got === Seq(0, 0, 3))
    }
  }

  test("null arrays yield NULL (null-intolerant chain)") {
    SortedIntersectFunctions.register(spark)
    val df = Seq((Some(Seq("a")), None: Option[Seq[String]]),
        (None: Option[Seq[String]], Some(Seq("a"))))
      .toDF("a", "b")
    val got = df.select(expr(s"${SortedIntersectFunctions.registeredName}(a, b)")).collect()
    assert(got.forall(_.isNullAt(0)))
  }
}
