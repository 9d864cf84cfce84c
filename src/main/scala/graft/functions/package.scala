package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Registers a native function under `name` in the session's registry
    * unless the name is already there (an earlier column build, or
    * [[graft.GraftExtensions]]). Every Column API call registers its
    * function, so replacing on each call would log Spark's "replaced a
    * previously registered function" warning every time a plan is built. */
  private[graft] def registerIfAbsent(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
