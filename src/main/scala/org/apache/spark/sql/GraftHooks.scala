package org.apache.spark.sql

import scala.collection.immutable.HashSet

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.HadoopFSUtils

/** The engine's five uses of Spark internals. All are package-private to
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

  /** Whether Spark's file readers skip a file or directory of this name
    * (`_SUCCESS`, `.crc` files, other `_`/`.` names). */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** A copy of the analyzed `plan`, marked analyzed, that no Dataset has
    * claimed: a Dataset records its id in a mutable tag on its plan's
    * root, and a clone shares its source's tags. */
  def unclaimedCopy(plan: LogicalPlan): LogicalPlan = {
    val p = plan.clone()
    p.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    p.setAnalyzed()
    p
  }

  /** A DataFrame over `plan`, an analyzed plan of `spark` that no other
    * Dataset holds; the analyzer returns an analyzed plan as it is. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
