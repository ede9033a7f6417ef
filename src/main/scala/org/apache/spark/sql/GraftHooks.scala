package org.apache.spark.sql

import scala.collection.immutable.HashSet

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.ExpressionUtils

/** The engine's two uses of Spark internals. Both are package-private to
  * Spark, hence this file's package.
  */
object GraftHooks {
  /** Waits until every listener event posted so far has been delivered,
    * so a listener's counters read after an action cover exactly the
    * jobs that action ran. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `c IN values` as a set-backed `InSet`: generated code reaches the
    * set through a reference object instead of inlining each value as a
    * literal, and the scan still receives it as a pushed `In` filter.
    * The code casts the reference to the set's runtime class, and Scala
    * picks a different class for each size up to 4, so the set is a
    * `HashSet` at every size. */
  def inSet(c: Column, values: Iterable[Any]): Column =
    ExpressionUtils.column(
      InSet(ExpressionUtils.expression(c), HashSet.from(values)))
}
