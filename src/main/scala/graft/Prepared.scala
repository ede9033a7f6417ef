package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, GraftHooks, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** Prepared registered queries: the analyzed plan of a query whose
  * construction reads only `Tables` inputs, kept and reused while the
  * files it reads are unchanged.
  *
  * A call builds its frame as the query defines it and keeps the
  * analyzed plan together with each file relation's listing: the files
  * its file index found, which are the files the plan reads. A later
  * call in the same session, with the same data dir and session
  * settings, lists those inputs afresh (under Spark's hidden-file rule,
  * [[Tables.listFiles]]); when every listing is unchanged it returns a
  * DataFrame over a copy of the kept plan and skips relation resolution,
  * schema work and the analyzer. Optimization, physical planning and
  * execution still run on every call. A file rewritten between the
  * build and its listing leaves a listing the next call does not find,
  * so a kept plan can re-analyze but never read a stale file set.
  *
  * A kept plan holds its session (a file relation refers to it), so an
  * entry serves only that session, and a session's entries go when its
  * SparkContext stops.
  */
object Prepared {
  /** One file relation: its root paths and the stamp of its files. */
  private type Input = (Seq[Path], Tables.Stamp)

  private final case class Entry(session: SparkSession, plan: LogicalPlan,
                                 inputs: Seq[Input])

  /** By query name, data dir and session settings. */
  private val entries =
    new ConcurrentHashMap[(String, String, Map[String, String]), Entry]()

  /** Marks the root of a plan handed out from the memo. */
  private val FromMemo = TreeNodeTag[Unit]("graft.prepared")

  /** The registry entry of query `name`, built by `build`. */
  def apply(name: String, build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (spark, dir) => frame(name, build, spark, dir)

  private def frame(name: String, build: (SparkSession, String) => DataFrame,
                    spark: SparkSession, dir: String): DataFrame = {
    val key = (name, dir, spark.conf.getAll)
    Option(entries.get(key))
      .filter(e => (e.session eq spark) && e.inputs.forall(unchanged(spark, _))) match {
      case Some(e) =>
        val plan = GraftHooks.unclaimedCopy(e.plan)
        plan.setTagValue(FromMemo, ())
        GraftHooks.ofAnalyzed(spark, plan)
      case None =>
        val df = build(spark, dir)
        val plan = df.queryExecution.analyzed
        inputs(plan).foreach { ins =>
          watch(spark.sparkContext)
          entries.put(key, Entry(spark, GraftHooks.unclaimedCopy(plan), ins))
        }
        df
    }
  }

  /** Whether `df` is a frame handed out from the memo. */
  private[graft] def reused(df: DataFrame): Boolean =
    df.queryExecution.analyzed.getTagValue(FromMemo).isDefined

  /** How many entries serve `spark`. */
  private[graft] def held(spark: SparkSession): Int =
    entries.values.asScala.count(_.session eq spark)

  /** Every leaf's listing, or None when a leaf (subqueries included) is
    * not a relation over a listed file set: such a plan is not kept. */
  private def inputs(plan: LogicalPlan): Option[Seq[Input]] = {
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val listed = leaves.collect {
      case LogicalRelation(HadoopFsRelation(
          idx: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        (idx.rootPaths, Tables.stamp(idx.allFiles()))
    }
    if (leaves.isEmpty || listed.size != leaves.size) None
    else Some(listed.distinct)
  }

  private def unchanged(spark: SparkSession, in: Input): Boolean =
    Tables.stamp(in._1.flatMap(Tables.listFiles(spark, _))) == in._2

  /** SparkContexts whose stop already drops their sessions' entries. */
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** Drops every entry of a session on `sc` when `sc` stops: a kept plan
    * holds its session, which would otherwise outlive the stop. */
  private def watch(sc: SparkContext): Unit = watched.synchronized {
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        entries.values.removeIf(_.session.sparkContext eq sc); ()
      }
    })
  }
}
