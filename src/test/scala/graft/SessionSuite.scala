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
    SessionSuite.withConf(spark, kv: _*)(body)
}

object SessionSuite {

  /** Runs `body` with each `key -> value` set on `spark`, then puts every
    * key back to its prior value, or unsets it if it had none, also when
    * `body` throws. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    // getAll holds the keys set on the session; getOption would also
    // return a default and turn it into a set key on restore
    val set = spark.conf.getAll
    val prior = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every key whose value differs between the two conf snapshots, as
    * `key: before -> after`, sorted by key. */
  def changedConfs(before: Map[String, String],
                   after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.collect {
      case k if before.get(k) != after.get(k) =>
        s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}"
    }
}
