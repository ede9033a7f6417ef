package graft.tools

import graft.{Caches, GraftSession, Prepared, SparkEntry}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Timing helper for one query: repeated noop-sink materializations
  * (same methodology as Bench) so a change's effect on a single query
  * is measurable without the full bench loop. Each iteration prints its
  * wall time, how many classes it compiled and how many Spark jobs it
  * ran; then the frame's build time, whether its analyzed plan was
  * reused from the prepared memo ([[graft.Prepared]]), the analysis time
  * of the frame's final plan and the optimization and planning times of
  * the write; then one `[job]` row per job. A query whose later
  * iterations still compile is recompiling its plan on every call.
  * Usage:
  *   runMain graft.tools.Profile <sfDir> <query> [iters]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.get("graft-profile")
    // job-time breakdown: wall per job with its description/callsite,
    // so a many-job lifecycle query shows WHERE the seconds go
    val jobLog =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse(j.stageInfos.lastOption.map(s =>
              s"${s.name.takeWhile(_ != '\n')} [${j.stageInfos.map(_.numTasks).sum} tasks]")
              .getOrElse("?"))
          jobLog.put(j.jobId, (d, j.time))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobLog.get(j.jobId)).foreach { case (d, t0) =>
            rows.add(f"[job] ${j.jobId}%4d ${(j.time - t0) / 1e3}%8.3f s  $d")
          }
        }
      })
    // the write's QueryExecution, for its optimization and planning times
    val write = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        write.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def ms(qe: QueryExecution, phase: String): Double =
      qe.tracker.phases.get(phase).fold(0.0)(_.durationMs.toDouble)
    val fn = SparkEntry.queries(name)
    for (i <- 1 to iters) {
      val t0 = System.nanoTime()
      val c0 = compiles()
      val df = fn(spark, sfDir)
      val buildMs = (System.nanoTime() - t0) / 1e6
      val analysisMs = ms(df.queryExecution, QueryPlanningTracker.ANALYSIS)
      df.write.format("noop").mode("overwrite").save()
      Caches.clear()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftHooks.drainListeners(spark.sparkContext)
      val (opt, plan) = Option(write.getAndSet(null)).fold((0.0, 0.0))(qe =>
        (ms(qe, QueryPlanningTracker.OPTIMIZATION),
          ms(qe, QueryPlanningTracker.PLANNING)))
      println(f"[profile] $name iter $i: $secs%.3f s, " +
        s"${compiles() - c0} compiles, ${rows.size} jobs")
      println(f"[profile]   build $buildMs%.1f ms (plan " +
        (if (Prepared.reused(df)) "reused" else "built") +
        f"), analysis $analysisMs%.1f ms, " +
        f"optimization $opt%.0f ms, planning $plan%.0f ms")
      rows.forEach(r => println(r)); rows.clear()
    }
    spark.stop()
  }

  /** Generated classes compiled so far in this JVM, local-mode tasks included. */
  private[graft] def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
