package graft

import org.scalatest.funsuite.AnyFunSuite

/** The spec harness itself: `withConf` puts every key back, and the leak
  * check names what a suite left changed. */
class SessionSuiteSpec extends AnyFunSuite with SessionSuite {

  private val SetKey = "spark.sql.shuffle.partitions"
  private val UnsetKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("withConf restores a set key and unsets an unset one, also when the body throws") {
    val prior = spark.conf.get(SetKey)
    def unset = !spark.conf.getAll.contains(UnsetKey)
    assert(unset)
    withConf(SetKey -> "7", UnsetKey -> "1024") {
      assert(spark.conf.get(SetKey) == "7" && spark.conf.get(UnsetKey) == "1024")
    }
    assert(spark.conf.get(SetKey) == prior && unset)
    intercept[IllegalStateException](withConf(SetKey -> "9", UnsetKey -> "2048") {
      throw new IllegalStateException("body failed")
    })
    assert(spark.conf.get(SetKey) == prior && unset)
  }

  test("the leak check names every key a suite left changed, set or unset") {
    val before = Map("a" -> "1", "b" -> "2", "c" -> "3")
    assert(SessionSuite.changedConfs(before, before).isEmpty)
    val after = Map("a" -> "1", "b" -> "5", "d" -> "4")
    assert(SessionSuite.changedConfs(before, after) ==
      Seq("b: 2 -> 5", "c: 3 -> <unset>", "d: <unset> -> 4"))
  }
}
