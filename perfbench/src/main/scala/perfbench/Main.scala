package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Caches, GraftSession}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The benchmark's JVM side: set-up, timed window, traced layer
  * metrics and output checks for one workload and seed. Arguments are
  * `--name value` pairs; `perfbench/run.py` passes them and turns the
  * result file into the benchmark's metrics.
  */
object Main {
  /** Warm-up rounds. The first round of a JVM (which is also the
    * checking round) runs at about three times the steady round time,
    * the second up to half again slower than steady, and the third
    * still about 10% slower than the rounds after it (README.md has the
    * measurements); three rounds are all the run budget allows. */
  val WarmRounds = 3

  /** How a round treats outputs. `Plain` runs every call. `InPlace`, for
    * an untimed warm-up round, checks an output instead of making its
    * call: the check runs the same frame. `After` times the call and
    * then checks its output outside the call's time and span. Each
    * output is checked once per run. */
  object Checking extends Enumeration { val Plain, InPlace, After = Value }

  final case class Sample(op: Op, round: Int, ms: Double, ok: Boolean,
                          error: String, traced: Boolean)

  private def now: Double = System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = new File(a("work")).getAbsoluteFile
    val cores = a("cores").toInt

    val meta = {
      implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(new File(data, "meta.json"))
    }
    val rows = (meta \ "rows").values.asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toLong }
    val textBytes = (meta \ "text_bytes").values match {
      case xs: List[_] => xs.map(_.toString.toLong).toArray
      case _ => Array.empty[Long]
    }
    val vocabulary = (meta \ "vocabulary").values match {
      case xs: List[_] => xs.map(_.toString).toArray
      case _ => Array.empty[String]
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up runs from JVM start to the session ready and warmed up
    val spark = GraftSession.builder("perfbench", cores.toString)
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val checkDir = new File(work, "check")
    val oracle = mutable.ArrayBuffer[Map[String, Any]]()
    val inline = mutable.ArrayBuffer[Map[String, Any]]()

    /** Checks the output of `op` once per run: against its inline twin
      * here, or written out for the oracle comparison. */
    val checked = mutable.Set[String]()
    def check(op: Op): Unit = op.output match {
      case Some(o) if checked.add(op.name) =>
        if (o.expected.isDefined) {
          val res = Workload.sameRows(op.name, o.df(), o.expected.get())
          inline += Map("op" -> op.name, "ok" -> res.isEmpty,
            "detail" -> res.getOrElse(""))
        } else {
          val dir = new File(checkDir, op.name)
          o.df().write.mode("overwrite").parquet(dir.getPath)
          oracle += Map("op" -> op.name, "query" -> o.oracle, "dir" -> dir.getPath,
            "sql" -> o.oracle.flatMap(graft.Queries.oracle.get), "rows" -> o.rows)
        }
      case _ =>
    }

    def attempt(f: => Unit): (Boolean, String) =
      try { f; (true, "") }
      catch { case e: Throwable => (false, e.toString.take(300)) }

    def runRound(ops: Seq[Op], r: Int, tracer: Option[Tracer],
                 out: mutable.ArrayBuffer[Sample],
                 spans: mutable.ArrayBuffer[(Op, Span)],
                 storage: Array[Long],
                 checking: Checking.Value = Checking.Plain): Double = {
      var checkMs = 0.0
      val t0 = now
      for (op <- ops) {
        val standIn = checking == Checking.InPlace && op.output.isDefined &&
          !checked(op.name)
        val s0 = now
        val wall0 = System.currentTimeMillis().toDouble
        val (ran, err) = attempt(if (standIn) check(op) else op.run())
        val ms = now - s0
        tracer.foreach { t =>
          storage(0) = math.max(storage(0), spark.sparkContext
            .getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
          val c = t.take()
          spans += ((op, Span(spans.size, r, op.name, op.layer, wall0,
            wall0 + ms, c)))
        }
        // the check is outside the call's time and span: its work is
        // dropped from the counters, and its time from the round's
        val c0 = now
        val (ok, why) =
          if (checking == Checking.After && ran) attempt(check(op)) else (ran, err)
        tracer.foreach(_.take())
        checkMs += now - c0
        Caches.clear()
        out += Sample(op, r, ms, ok, why, tracer.isDefined)
      }
      now - t0 - checkMs
    }

    // ---- set-up ----
    val wl = Workload(workload, new Ctx(spark, data, seed, cores, rows, textBytes,
      vocabulary))
    wl.prepare()
    val discard = mutable.ArrayBuffer[Sample]()
    val warm = (0 until WarmRounds).map { i =>
      // the first warm-up round is the run's checking round
      runRound(wl.round(-1 - i), -1 - i, None, discard,
        mutable.ArrayBuffer[(Op, Span)](), Array(0L),
        if (i == 0) Checking.InPlace else Checking.Plain)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[perfbench] set-up: $setupS%.2f s (warm-up rounds ms: " +
      warm.map(x => f"$x%.0f").mkString(" ") + ")")
    val warmFailures = discard.filterNot(_.ok)

    // ---- timed window ----
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val samples = mutable.ArrayBuffer[Sample]()
    val spans = mutable.ArrayBuffer[(Op, Span)]()
    val rounds = mutable.ArrayBuffer[(Int, Double, Boolean)]()
    val storage = Array(0L)
    wl.onWindow(start = true)
    val w0 = now
    var r = 0
    while (r < (if (trace) 3 else 1) || now - w0 < seconds * 1000) {
      // traced runs alternate untraced and traced rounds, so the same run
      // measures the tracer's overhead against rounds on either side
      val traced = trace && r % 2 == 1
      tracer.foreach(_.enable(traced))
      val ms = runRound(wl.round(r), r, if (traced) tracer else None,
        samples, spans, storage)
      rounds += ((r, ms, traced))
      r += 1
    }
    val windowMs = now - w0
    wl.onWindow(start = false)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // ---- traced runs only: the once-per-run operations, checked ----
    val maint = mutable.ArrayBuffer[Sample]()
    tracer.foreach { t =>
      t.enable(true)
      runRound(wl.maintenance(), -1, tracer, maint, spans, storage,
        Checking.After)
      t.enable(false)
    }
    System.err.println(f"[perfbench] window ${windowMs / 1000}%.1f s (${rounds.size} rounds), " +
      f"after the window ${(now - w0 - windowMs) / 1000}%.1f s")

    // ---- per-layer metrics of the traced rounds ----
    val layers = mutable.LinkedHashMap[String, Double]()
    tracer.foreach { _ =>
      val tracedRounds = rounds.filter(_._3)
      val nR = tracedRounds.size.toDouble
      val roundMs = tracedRounds.map(_._2).sum
      val windowSpans = spans.filter(_._2.parent >= 0)
      val c = new Counts
      windowSpans.foreach(s => c.add(s._2.counts))
      val jobUnion = {
        val iv = c.jobSpans.sortBy(_._1)
        var total = 0L; var curS = -1L; var curE = -1L
        for ((s, e) <- iv) {
          if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        total + math.max(0L, curE - curS)
      }
      val worst = if (c.stageRuns.isEmpty) 1.0 else {
        val (_, ts) = c.stageRuns.values.maxBy(_._1)
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (ts.isEmpty || med <= 0) 1.0 else ts.max / med
      }
      val latSpans = windowSpans.filter(_._1.lat)
      // per traced round, plus the once-per-run calls in full
      def perLayer(l: String) = {
        def secs(ss: Seq[(Op, Span)]) =
          ss.filter(_._1.layer == s"operators.$l").map(_._2.ms).sum / 1000
        secs(windowSpans.toSeq) / nR + secs(spans.filter(_._2.parent < 0).toSeq)
      }
      layers ++= Seq(
        "GraftSession.plan_ms" -> c.planMs.toDouble / math.max(1L, c.executions),
        "read.exec_ms" -> (if (latSpans.isEmpty) 0.0 else
          latSpans.map(s => s._2.ms - s._2.counts.planMs).sum / latSpans.size),
        "GraftSession.jobs" -> c.jobs / nR,
        "GraftSession.stages" -> c.stages / nR,
        "GraftSession.tasks" -> c.tasks / nR,
        "GraftSession.driver_gap_s" -> (roundMs - jobUnion) / 1000 / nR,
        "GraftSession.task_cpu_s" -> c.taskCpuNs / 1e9 / nR,
        "GraftSession.task_run_s" -> c.taskRunMs / 1000.0 / nR,
        "GraftSession.gc_s" -> c.gcMs / 1000.0 / nR,
        "GraftSession.cpu_util" -> c.taskCpuNs / 1e6 / (roundMs * cores),
        "GraftSession.straggler_ratio" -> worst,
        "GraftSession.shuffle_write_bytes" -> c.shuffleWrite / nR,
        "GraftSession.shuffle_read_bytes" -> c.shuffleRead / nR,
        "GraftSession.fetch_wait_s" -> c.fetchWaitMs / 1000.0 / nR,
        "GraftSession.spill_bytes" -> c.spill / nR,
        "GraftSession.peak_exec_mem_bytes" -> c.peakExecMem.toDouble,
        "GraftSession.task_failures" -> c.taskFailures.toDouble,
        "GraftSession.peak_heap_mb" -> heapPeakMb,
        "Caches.storage_peak_bytes" -> storage(0).toDouble,
        "Tables.scan_tasks" -> c.scanTasks / nR,
        "Tables.input_bytes" -> c.inputBytes / nR,
        "Tables.input_rows" -> c.inputRows / nR)
      for (l <- Seq("SourceProfiles", "Standardize", "Quality", "Merge",
                    "Export", "TextOps", "CorpusOps", "Bpe", "Similarity"))
        layers += s"operators.$l.s" -> perLayer(l)
      layers ++= wl.layerMetrics(spans.toSeq, rounds.size)
      layers ++= wl.probes()
      val tr = Stats.median(rounds.filter(_._3).map(_._2).toSeq)
      val un = Stats.median(rounds.filterNot(_._3).map(_._2).toSeq)
      layers += "trace.overhead_pct" -> (if (un > 0) (tr / un - 1) * 100 else 0.0)
    }

    // ---- spans (traced runs) ----
    if (trace) {
      val pw = new PrintWriter(new File(work, "spans.jsonl"))
      spans.foreach { case (o, s) =>
        pw.println(Json(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "round" -> s.parent, "parent" -> (if (s.parent >= 0) s"round-${s.parent}"
            else "maintenance"), "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks,
          "plan_ms" -> s.counts.planMs, "task_cpu_ms" -> s.counts.taskCpuNs / 1e6)))
      }
      pw.close()
    }

    def sampleJson(s: Sample) = Map("op" -> s.op.name, "layer" -> s.op.layer,
      "round" -> s.round, "ms" -> s.ms, "items" -> s.op.items,
      "work" -> s.op.work, "lat" -> s.op.lat, "ok" -> s.ok, "error" -> s.error,
      "traced" -> s.traced)
    val conf = spark.sparkContext.getConf
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "conditions" -> Map(
        "nproc" -> cores,
        "master" -> conf.get("spark.master"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "setup_s" -> setupS,
      "window_ms" -> windowMs,
      "rounds" -> rounds.map(x => Map("round" -> x._1, "ms" -> x._2, "traced" -> x._3)),
      "samples" -> samples.map(sampleJson),
      "maintenance" -> maint.map(sampleJson),
      "warmup_failures" -> warmFailures.map(sampleJson),
      "inline_checks" -> inline,
      "oracle_checks" -> oracle,
      "layers" -> layers)
    val pw = new PrintWriter(new File(work, "result.json"))
    pw.println(Json(result))
    pw.close()
    tracer.foreach(_.close())
    Caches.clear()
    spark.stop()
  }
}
