package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The session of every spec: [[graft.Session.build]], the conf `Bench`,
  * `Verify` and `Inspect` run on, at `SPARK_GRAFT_CPUS` cores.
  *
  * The test JVM holds one SparkContext, so all suites share this session.
  * A test that needs another value of a runtime conf sets it for its own
  * body with [[withConf]]. `afterAll` fails the suite when a runtime conf
  * differs from the value it held when the suite started, so no suite's
  * conf depends on which suites ran before it. */
trait SessionSuite extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = Session.build()

  private var confsAtStart = Map.empty[String, String]

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confsAtStart = spark.conf.getAll
  }

  override protected def afterAll(): Unit =
    try {
      val changed = SessionSuite.changedConfs(confsAtStart, spark.conf.getAll)
      if (changed.nonEmpty) fail(s"$suiteName left runtime confs changed: " +
        changed.mkString("; "))
    } finally super.afterAll()

  def withConf[T](kv: (String, String)*)(body: => T): T =
    Session.withConf(spark)(kv: _*)(body)
}

object SessionSuite {

  /** Every key whose value differs between the two conf snapshots, as
    * `key: before -> after`, sorted by key. */
  def changedConfs(before: Map[String, String],
                   after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.collect {
      case k if before.get(k) != after.get(k) =>
        s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}"
    }
}
