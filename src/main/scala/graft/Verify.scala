package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * r20: the sweep is PARALLEL (default 8 workers over one session —
  * Spark schedules concurrent jobs; the queries are independent, index
  * prefixes are query-scoped, and per-query persisted frames are
  * released through [[Caches.scoped]] so one worker's cleanup cannot
  * strip another's in-flight subplan). CORRECTNESS_r19 was truncated at
  * 203/206 because the strictly-sequential 206-query sweep outgrew the
  * driver's invocation budget; 6 workers cut the wall 3-5× and
  * oracle_sql.json is written FIRST so a truncated run still yields a
  * comparable (partial) artifact instead of a zeroed round.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing query names: dump only those (local iteration);
    // the driver's 2-arg invocation still dumps everything
    val only = args.drop(2).toSet
    // fresh per-run warehouse (same rationale as Bench): standing-index
    // lifecycle queries re-bootstrap their tables per run; a leftover
    // spark-warehouse from an earlier session would collide on
    // generation manifests and tax every catalog listing
    val wh = Files.createTempDirectory("graft-verify-wh").toString
    TmpDirs.deleteOnExit(wh)
    val spark = GraftSession.builder("graft-verify", GraftSession.cpus)
      .config("spark.sql.warehouse.dir", wh).getOrCreate()
    // ERROR, not WARN: the driver keeps only a bounded stdout/stderr
    // tail, and WARN-class spam (WindowExec, Column) has flooded it
    // every round — the [verify] progress lines below are the signal
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // a reused outDir must not carry a PREVIOUS run's failure marker
    // into a clean round (r21 review fix) — delete before the sweep
    Files.deleteIfExists(Paths.get(s"$outDir/verify_failed.json"))

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // 8 measured best on the local[32] box: 206 queries in 854 s
    // uncontended (2142 s when fighting a concurrent build) vs a
    // multi-hour sequential sweep — SCALING.md's verify-parallel note
    val threads = GraftSession.positiveIntEnv("SPARK_GRAFT_VERIFY_THREADS", 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    names.foreach { name =>
      pool.execute { () =>
        val fn = SparkEntry.queries(name)
        val qt0 = System.nanoTime()
        try {
          Caches.scoped {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          }
          println(f"[verify] ${done.incrementAndGet()}%3d/${names.size} " +
            f"$name ${(System.nanoTime() - qt0) / 1e9}%.1f s")
        } catch { case e: Throwable =>
          failed.add(name)
          done.incrementAndGet()
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS): Unit
    Caches.clear() // frames registered off-scope (streaming batch threads)
    println(f"[verify] ${names.size - failed.size}/${names.size} dumped " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"($threads workers${if (failed.isEmpty) ""
        else s"; FAILED: ${failed.toArray.mkString(", ")}"})")
    // r21 (r20 ADVICE): a partially-failed dump must not read as a
    // green gate — stderr lines scroll out of bounded tails, and the
    // downstream compare only notices a missing parquet dir if someone
    // checks. Publish the failure as BOTH a machine-readable marker
    // next to oracle_sql.json AND a nonzero exit.
    if (!failed.isEmpty) {
      val fj = failed.toArray.map(n => q(n.toString)).mkString("[", ",", "]")
      Files.writeString(Paths.get(s"$outDir/verify_failed.json"),
        s"""{"failed_count":${failed.size},"failed":$fj}""" + "\n")
    }
    spark.stop()
    if (!failed.isEmpty) sys.exit(1)
  }
}
