package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftHooks}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the loader contract of `Tables.normalizeTs`: whatever parquet
  * layout the generator picks for `events.ts` — nanos-as-long (the
  * TIMESTAMP(NANOS) read path under nanosAsLong=true), plain
  * timestamp[us] (TIMESTAMP_NTZ in Spark 4), or UTC-adjusted
  * timestamp[us] (TIMESTAMP) — the loaded column is TimestampType with
  * identical µs-since-epoch values. A generator layout change must
  * never silently take out the temporal query family again (r10 broke
  * exactly this way when the driver switched NANOS → timestamp[us]).
  *
  * Also pins `Tables.load`'s schema memo: a load of an unchanged input
  * starts no Spark job, a rewritten input is re-inferred, and a memo-hit
  * load reads exactly what a fresh `spark.read.parquet` reads.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // three instants that exercise µs precision and a pre-1970 value
  private val micros = Seq(1700000000123456L, 1700000000123457L, -5000001L)

  private def writeRead(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-tables-spec").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/events.parquet"
    df.write.mode("overwrite").parquet(path)
    Tables.normalizeTs(spark.read.parquet(path), "ts")
  }

  private def loadedMicros(df: DataFrame): Seq[Long] = {
    assert(df.schema("ts").dataType == TimestampType, df.schema("ts").dataType)
    df.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
  }

  test("nanos-as-long layout surfaces as TimestampType with truncated-µs values") {
    // TIMESTAMP(NANOS) under nanosAsLong=true arrives as a raw Long column;
    // writing LongType directly exercises the identical loader branch.
    // Sub-µs noise only on post-epoch values: `div` truncates toward zero,
    // and the generator emits no pre-1970 events.
    val ns = micros.map(u => u * 1000L + (if (u >= 0) 789L else 0L))
    val df = writeRead(ns.toDF("ts"))
    assert(loadedMicros(df) == micros.sorted)
  }

  test("timestamp[us] NTZ layout surfaces as TimestampType with identical values") {
    val ntz = micros
      .toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val df = writeRead(ntz)
    assert(loadedMicros(df) == micros.sorted)
  }

  test("UTC-adjusted timestamp[us] layout passes through unchanged") {
    val tz = micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))
    assert(tz.schema("ts").dataType == TimestampType)
    val df = writeRead(tz)
    assert(loadedMicros(df) == micros.sorted)
  }

  private def writeReadNaive(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-tables-spec").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/orders.parquet"
    df.write.mode("overwrite").parquet(path)
    Tables.normalizeTsNaive(spark.read.parquet(path), "ts")
  }

  private def loadedNaiveMicros(df: DataFrame): Seq[Long] = {
    assert(df.schema("ts").dataType == TimestampNTZType,
      df.schema("ts").dataType)
    df.select(unix_micros(col("ts").cast(TimestampType)))
      .as[Long].collect().toSeq.sorted
  }

  test("normalizeTsNaive lands every layout on TIMESTAMP_NTZ, same values") {
    val posMicros = micros.filter(_ >= 0)
    // nanos-long
    val ns = writeReadNaive(posMicros.map(u => u * 1000L + 789L).toDF("ts"))
    assert(loadedNaiveMicros(ns) == posMicros.sorted)
    // UTC-adjusted timestamp[us]
    val tz = writeReadNaive(
      posMicros.toDF("us").select(timestamp_micros(col("us")).as("ts")))
    assert(loadedNaiveMicros(tz) == posMicros.sorted)
    // plain timestamp[us] (NTZ) passes through untouched
    val ntz = writeReadNaive(posMicros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    assert(loadedNaiveMicros(ntz) == posMicros.sorted)
  }

  test("the real orders/lineitem date columns load as TIMESTAMP_NTZ") {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    assert(Tables.orders(spark, sf).schema("o_orderdate")
      .dataType == TimestampNTZType)
    assert(Tables.lineitem(spark, sf).schema("l_shipdate")
      .dataType == TimestampNTZType)
  }

  test("the real generated events table loads as TimestampType") {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(1).count() == 1L)
  }

  // ------------------------------------------------ the schema memo

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

  private def tempDir(): String = {
    val dir = Files.createTempDirectory("graft-tables-memo").toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second load of an unchanged input runs no Spark job") {
    val d = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$d/region.parquet")
    val (_, first) = jobsDuring(Tables.load(spark, d, "region"))
    assert(first >= 1, "the first load should infer the schema with a job")
    val (df, second) = jobsDuring(Tables.load(spark, d, "region"))
    assert(second == 0, s"an unchanged input ran $second jobs")
    assert(canon(df) == Seq("[1,a]", "[2,b]"))
  }

  test("a rewritten input is re-inferred: new schema, new rows") {
    val d = tempDir()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/nation.parquet")
    assert(Tables.load(spark, d, "nation").schema.fieldNames.toSeq ==
      Seq("k", "v"))
    Seq((7, 2.5, true), (8, 3.5, false)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$d/nation.parquet")
    val df = Tables.load(spark, d, "nation")
    assert(df.schema == StructType(Seq(StructField("id", IntegerType),
      StructField("x", DoubleType), StructField("flag", BooleanType))))
    assert(canon(df) == Seq("[7,2.5,true]", "[8,3.5,false]"))
  }

  test("sessions with different parquet settings never share a schema") {
    val d = tempDir()
    // two files with disjoint columns: one footer's schema, or both merged
    Seq(1L).toDF("k").write.parquet(s"$d/part.parquet")
    Seq("x").toDF("v").write.mode("append").parquet(s"$d/part.parquet")
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    for (_ <- 1 to 2; s <- Seq(spark, merging)) {
      val got = Tables.load(s, d, "part").schema
      assert(got == s.read.parquet(s"$d/part.parquet").schema)
      assert((got.fieldNames.length == 2) == (s eq merging), got)
    }
  }

  /** The loader's normalization per table, applied to both sides. */
  private def normalized(name: String, df: DataFrame): DataFrame =
    name match {
      case "orders"   => Tables.normalizeTsNaive(df, "o_orderdate")
      case "lineitem" => Tables.normalizeTsNaive(df, "l_shipdate")
      case "events"   => Tables.normalizeTs(df, "ts")
      case _          => df
    }

  private def assertHitMatchesFresh(d: String, name: String): Unit = {
    Tables.load(spark, d, name)
    val (hit, jobs) = jobsDuring(normalized(name, Tables.load(spark, d, name)))
    assert(jobs == 0, s"$name: the memo-hit load ran $jobs jobs")
    val fresh = normalized(name, spark.read.parquet(s"$d/$name.parquet"))
    assert(hit.schema == fresh.schema, name)
    assert(canon(hit) == canon(fresh), name)
  }

  test("every sf0.001 table: a memo-hit load reads what a fresh read does") {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Tables.names.foreach(assertHitMatchesFresh(sf, _))
  }

  test("every events.ts layout: a memo-hit load reads what a fresh read does") {
    val ns = micros.map(_ * 1000L).toDF("ts")
    val us = micros.toDF("us")
    for (layout <- Seq(ns,
        us.select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")),
        us.select(timestamp_micros(col("us")).as("ts")))) {
      val d = tempDir()
      layout.write.parquet(s"$d/events.parquet")
      assertHitMatchesFresh(d, "events")
    }
  }

  // ------------------------------------------------ the corpus fan-out

  test("the fan-out estimate counts only the files the reader reads") {
    val d = tempDir()
    spark.range(0, 40).select(col("id").as("doc_id"), lit("t").as("text"))
      .repartition(2).write.parquet(s"$d/documents.parquet")
    val names = new java.io.File(s"$d/documents.parquet").list().toSeq
    assert(names.count(_.startsWith("part-")) == 2 && names.contains("_SUCCESS"),
      names)
    // Each file counts at least the 4 MB open cost against 8 MB splits:
    // the two parts make one split, under the session's parallelism of
    // two. Counting _SUCCESS as well made it two splits, and no fan-out.
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
    s.conf.set("spark.sql.files.openCostInBytes", (4L << 20).toString)
    assert(s.sparkContext.defaultParallelism == 2)
    val plan = Tables.documents(s, d).queryExecution.analyzed
    assert(plan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.nonEmpty, s"a two-part corpus under one split did not fan out:\n$plan")
  }
}
