package graft.tools

import graft.{Caches, GraftSession, SparkEntry}

/** Timing helper for one query: repeated noop-sink materializations
  * (same methodology as Bench) so a change's effect on a single query
  * is measurable without the full bench loop. Each iteration prints its
  * wall time, how many classes it compiled and how many Spark jobs it
  * ran, followed by one `[job]` row per job; a query whose later
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
    val fn = SparkEntry.queries(name)
    for (i <- 1 to iters) {
      val t0 = System.nanoTime()
      val c0 = compiles()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Caches.clear()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftHooks.drainListeners(spark.sparkContext)
      println(f"[profile] $name iter $i: $secs%.3f s, " +
        s"${compiles() - c0} compiles, ${rows.size} jobs")
      rows.forEach(r => println(r)); rows.clear()
    }
    spark.stop()
  }

  /** Generated classes compiled so far in this JVM, local-mode tasks included. */
  private[graft] def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
