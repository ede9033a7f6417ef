package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftHooks, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the prepared-plan memo (`Prepared`). The benchmark checks each
  * output only on its first call, which builds the plan, so these specs
  * are the check on reused plans: a reused plan must read what a fresh
  * build reads, follow its inputs' files, serve one session and one set
  * of settings, stay correct under concurrent calls and self-joins, and
  * go with its session.
  */
class PreparedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def call(s: SparkSession, d: String, n: String): DataFrame =
    Queries.all(n)(s, d)
  private def fresh(s: SparkSession, d: String, n: String): DataFrame =
    Queries.builders(n)(s, d)

  /** Rows as sorted strings over name-sorted columns. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** Whether building `df` ran the analyzer over its plan: the tracker of
    * a reused plan records no analyzer rule. */
  private def analyzed(df: DataFrame): Boolean =
    df.queryExecution.tracker.rules.nonEmpty

  private def leaves(df: DataFrame): Seq[LeafNode] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LeafNode => l }

  private def relationSessions(df: DataFrame): Seq[SparkSession] =
    leaves(df).collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.sparkSession
    }

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    GraftHooks.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      GraftHooks.drainListeners(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("a second call of every prepared query runs no analysis and " +
    "returns what a fresh build returns") {
    assert(Queries.prepared.size >= 7)
    for (n <- Queries.prepared.toSeq.sorted) {
      call(spark, sf, n)
      val again = call(spark, sf, n)
      assert(Prepared.reused(again), s"$n: the second call built its plan")
      assert(!analyzed(again), s"$n: the second call ran " +
        again.queryExecution.tracker.rules.keys.mkString(", "))
      val built = fresh(spark, sf, n)
      assert(analyzed(built) && !Prepared.reused(built), n)
      assert(canon(again) == canon(built), n)
    }
  }

  test("rewriting an input with other rows and length re-analyzes and " +
    "returns the new rows") {
    val n = "q63_report_totals"
    val d = Files.createTempDirectory("graft-prepared").toFile
    d.deleteOnExit()
    val events = new File(d, "events.parquet").toPath
    Files.copy(new File(s"$sf/events.parquet").toPath, events)
    val before = canon(call(spark, d.getPath, n))
    assert(Prepared.reused(call(spark, d.getPath, n)))

    // the same file name, now holding a third of the rows
    val out = Files.createTempDirectory("graft-prepared-out").toFile
    out.deleteOnExit()
    spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(out.getPath)
    val part = out.listFiles().filter(_.getName.startsWith("part-")).head
    assert(part.length != Files.size(events))
    Files.move(part.toPath, events, StandardCopyOption.REPLACE_EXISTING)

    val after = call(spark, d.getPath, n)
    assert(!Prepared.reused(after) && analyzed(after))
    val rows = canon(after)
    assert(rows == canon(fresh(spark, d.getPath, n)))
    assert(rows != before, "the rewritten input's rows did not reach the query")
    assert(Prepared.reused(call(spark, d.getPath, n)))
  }

  test("two sessions never share an entry, nor two settings of one session") {
    val n = "q63_report_totals"
    call(spark, sf, n)
    assert(Prepared.reused(call(spark, sf, n)))

    val other = spark.newSession()
    for (i <- 1 to 2) {
      val df = call(other, sf, n)
      assert(Prepared.reused(df) == (i == 2), s"call $i in the other session")
      assert(relationSessions(df).nonEmpty)
      assert(relationSessions(df).forall(_ eq other),
        "the other session read through the first session's relations")
    }

    val ansi = "spark.sql.ansi.enabled"
    val set = spark.conf.getAll.get(ansi) // None unless set explicitly
    call(spark, sf, n)
    try {
      spark.conf.set(ansi, (!spark.conf.get(ansi).toBoolean).toString)
      assert(!Prepared.reused(call(spark, sf, n)), "a changed setting reused a plan")
      assert(Prepared.reused(call(spark, sf, n)))
    } finally set.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
    assert(Prepared.reused(call(spark, sf, n)),
      "the entry of the first settings no longer serves them")
  }

  test("4 threads x 10 calls each of q28 and q48 return the fresh rows; " +
    "a self-join of two calls returns what two fresh builds do") {
    val qs = Seq("q28_merge_upsert", "q48_tag_counts")
    val want = qs.map(n => n -> canon(fresh(spark, sf, n))).toMap
    qs.foreach(call(spark, sf, _))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 4).map(_ => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = for {
          _ <- 1 to 10
          n <- qs
          df = Queries.all(n)(spark, sf)
          problem <- Seq(
            Option.when(!Prepared.reused(df))(s"$n: not reused"),
            Option.when(canon(df) != want(n))(s"$n: rows differ")).flatten
        } yield problem
      }))
      val problems = runs.flatMap(_.get(600, TimeUnit.SECONDS))
      assert(problems.isEmpty, problems.distinct)
    } finally pool.shutdownNow()

    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.alias("a").join(b.alias("b"), col("a.name") === col("b.name"))
        .select(col("a.name").as("name"), col("a.n").as("na"), col("b.n").as("nb"))
    val n = "q48_tag_counts"
    val calls = Seq.fill(2)(call(spark, sf, n))
    assert(calls.forall(Prepared.reused))
    val reusedPair = canon(selfJoin(calls(0), calls(1)))
    assert(reusedPair.nonEmpty)
    assert(reusedPair == canon(selfJoin(fresh(spark, sf, n), fresh(spark, sf, n))))
  }

  test("every prepared query's construction starts no Spark job and " +
    "reads only file relations under the data dir") {
    val root = new File(sf).getCanonicalPath + "/"
    for (n <- Queries.prepared.toSeq.sorted) {
      fresh(spark, sf, n) // infers the inputs' schemas (Tables.load's memo)
      val (df, jobs) = jobsDuring(fresh(spark, sf, n))
      assert(jobs == 0, s"$n: construction ran $jobs Spark jobs")
      assert(leaves(df).nonEmpty, n)
      leaves(df).foreach {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
          h.location.rootPaths.foreach(p =>
            assert(p.toUri.getPath.startsWith(root), s"$n reads $p"))
        case other => fail(s"$n reads a leaf that is not a file relation: $other")
      }
    }
  }

  test("after spark.stop(), the memo holds nothing of that session") {
    // A spec JVM holds one SparkContext that every suite shares, so the
    // stop runs in a child JVM on this classpath.
    val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmOpts ++
      Seq("-cp", sys.props("java.class.path"), "graft.PreparedStopCheck", sf)
    val out = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, out.toString)
    assert(out.toString.contains("held after stop: 0"), out.toString)
  }
}

/** Runs a prepared query twice in a fresh session, stops the session and
  * exits 0 when the memo held the session's entry before the stop and
  * holds nothing of it after. Usage: `PreparedStopCheck <sfDir>`. */
object PreparedStopCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-prepared-stop", "1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = "q63_report_totals"
    Queries.all(n)(spark, args(0)).collect()
    val again = Queries.all(n)(spark, args(0))
    again.collect()
    val before = Prepared.held(spark)
    spark.stop()
    val after = Prepared.held(spark)
    println(s"reused: ${Prepared.reused(again)}, held before stop: $before, " +
      s"held after stop: $after")
    sys.exit(if (Prepared.reused(again) && before == 1 && after == 0) 0 else 1)
  }
}
