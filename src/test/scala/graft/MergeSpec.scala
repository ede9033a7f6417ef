package graft

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the MERGE rule matrix (models/listing.py:103-167), one
  * scenario per rule: price -1 sentinel, zero-price truthiness,
  * availability trigger + sold_at stamp-then-revert, fill-vs-overwrite
  * asymmetry, always-overwrite fields, reid_id sequencing for new urls.
  */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val asOf = LocalDate.of(2026, 8, 15)
  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private val schema = StructType(Seq(
    StructField("url", StringType), StructField("source", StringType),
    StructField("reid_id", StringType), StructField("title", StringType),
    StructField("region", StringType), StructField("scraped_at", TimestampType),
    StructField("created_at", TimestampType), StructField("updated_at", TimestampType),
    StructField("tab", StringType), StructField("price", LongType),
    StructField("currency", StringType), StructField("availability", StringType),
    StructField("is_available", BooleanType), StructField("is_off_plan", BooleanType),
    StructField("image_url", StringType), StructField("description", StringType),
    StructField("location", StringType), StructField("leasehold_years", DoubleType),
    StructField("contract_type", StringType), StructField("property_type", StringType),
    StructField("bedrooms", DoubleType), StructField("bathrooms", DoubleType),
    StructField("build_size", DoubleType), StructField("land_size", DoubleType),
    StructField("land_zoning", StringType), StructField("property_id", StringType),
    StructField("listed_date", StringType), StructField("sold_at", TimestampType)))

  /** A listing row with defaults; override per scenario. */
  private def row(url: String, over: Map[String, Any] = Map.empty): org.apache.spark.sql.Row = {
    val defaults: Map[String, Any] = Map(
      "url" -> url, "source" -> "S1", "reid_id" -> null, "title" -> "t",
      "region" -> null, "scraped_at" -> ts("2026-07-01"),
      "created_at" -> ts("2026-07-01"), "updated_at" -> ts("2026-07-01"),
      "tab" -> "DATA", "price" -> 100L, "currency" -> "IDR",
      "availability" -> "Available", "is_available" -> true,
      "is_off_plan" -> false, "image_url" -> "img", "description" -> "d",
      "location" -> "loc", "leasehold_years" -> null, "contract_type" -> "Freehold",
      "property_type" -> "Villa", "bedrooms" -> 2.0, "bathrooms" -> 1.0,
      "build_size" -> null, "land_size" -> null, "land_zoning" -> null,
      "property_id" -> null, "listed_date" -> null, "sold_at" -> null)
    val m = defaults ++ over
    org.apache.spark.sql.Row(schema.fields.map(f => m(f.name)): _*)
  }

  private def df(rows: org.apache.spark.sql.Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def mergeOne(cur: Map[String, Any], inc: Map[String, Any]) = {
    val out = Merge.merge(df(row("u", cur)), df(row("u", inc)), asOf)
    out.collect().head
  }

  test("price -1 sentinel keeps old price with no change entry") {
    val r = mergeOne(Map("price" -> 500L), Map("price" -> -1L))
    assert(r.getAs[Long]("price") == 500L)
    assert(!r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("changes"))
      .exists(_.getString(0) == "price"))
  }

  test("zero price is falsy: never fills, never overwrites") {
    val a = mergeOne(Map("price" -> 500L), Map("price" -> 0L))
    assert(a.getAs[Long]("price") == 500L)
    val b = mergeOne(Map("price" -> 0L), Map("price" -> 700L))
    assert(b.getAs[Long]("price") == 700L) // fill over falsy old
  }

  test("availability flip: is_available false, sold_at stamped then reverted by null incoming") {
    val r = mergeOne(Map(), Map("availability" -> "Sold", "is_available" -> false))
    assert(r.getAs[String]("availability") == "Available") // field itself untouched
    assert(!r.getAs[Boolean]("is_available"))
    // the stamp is written by the availability rule, then the sold_at
    // always-overwrite rule reverts it to the incoming null (reference order)
    assert(r.getAs[Timestamp]("sold_at") == null)
    val changes = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("changes"))
    assert(changes.exists(c => c.getString(0) == "availability" && c.getString(2) == "Sold"))
    assert(changes.exists(c => c.getString(0) == "sold_at" &&
      c.getString(1) == "2026-08-01 00:00:00" && c.getString(2) == null))
  }

  test("availability flip with incoming sold_at keeps the incoming value") {
    val r = mergeOne(Map(),
      Map("availability" -> "Sold", "sold_at" -> ts("2026-06-01")))
    assert(r.getAs[Timestamp]("sold_at") == ts("2026-06-01"))
  }

  test("fill-vs-overwrite asymmetry on strings") {
    // empty-string old counts as missing → fill
    val a = mergeOne(Map("location" -> ""), Map("location" -> "Canggu"))
    assert(a.getAs[String]("location") == "Canggu")
    // empty incoming never clears
    val b = mergeOne(Map("location" -> "Ubud"), Map("location" -> ""))
    assert(b.getAs[String]("location") == "Ubud")
    // both set and different → overwrite
    val c = mergeOne(Map("location" -> "Ubud"), Map("location" -> "Canggu"))
    assert(c.getAs[String]("location") == "Canggu")
  }

  test("leasehold_years always overwrites, including to null") {
    val a = mergeOne(Map("leasehold_years" -> 25.0), Map("leasehold_years" -> null))
    assert(a.isNullAt(a.fieldIndex("leasehold_years")))
    val b = mergeOne(Map("leasehold_years" -> null), Map("leasehold_years" -> 30.0))
    assert(b.getAs[Double]("leasehold_years") == 30.0)
  }

  test("no changes → updated_at and tab untouched") {
    val r = mergeOne(Map(), Map())
    assert(r.getAs[Timestamp]("updated_at") == ts("2026-07-01"))
    assert(!r.getAs[Boolean]("changed"))
    assert(r.getSeq[Any](r.fieldIndex("changes")).isEmpty)
  }

  test("changed rows re-classify tab and stamp updated_at") {
    val r = mergeOne(Map("property_type" -> "Villa"),
      Map("property_type" -> "Land"))
    assert(r.getAs[String]("tab") == "ALL LAND")
    assert(r.getAs[Timestamp]("updated_at") == ts("2026-08-15"))
  }

  test("luxury classification thresholds") {
    val r = mergeOne(Map("price" -> 100L, "currency" -> "IDR"),
      Map("price" -> 78656000000L))
    assert(r.getAs[String]("tab") == "LUXURY LISTINGS")
    val u = mergeOne(Map("price" -> 100L, "currency" -> "USD"),
      Map("price" -> 5000000L, "currency" -> "USD"))
    assert(u.getAs[String]("tab") == "LUXURY LISTINGS")
  }

  test("new urls get sequential reid_id continuing from current max") {
    val cur = df(
      row("u1", Map("reid_id" -> "REID_26_07_S1_004")),
      row("u2", Map("reid_id" -> "REID_26_07_S1_007")),
      row("u3", Map("reid_id" -> "REID_26_06_S1_099"))) // other bucket: ignored
    val inc = df(row("n1"), row("n2"), row("u1"))
    val out = Merge.merge(cur, inc, asOf).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("reid_id")).toMap
    assert(out("n1") == "REID_26_07_S1_008")
    assert(out("n2") == "REID_26_07_S1_009")
    assert(out("u1") == "REID_26_07_S1_004") // existing keeps id
  }

  test("new urls in an empty partition start at 001") {
    val out = Merge.merge(df(row("u1")), df(row("x", Map("source" -> "S9"))), asOf)
      .filter(col("url") === "x").collect().head
    assert(out.getAs[String]("reid_id") == "REID_26_07_S9_001")
  }

  test("the change log is built once: one ArrayFilter in the optimized plan") {
    import org.apache.spark.sql.catalyst.expressions.ArrayFilter
    // walk the expression trees, not the plan text: wide projections
    // truncate in toString
    val plan = Merge.merge(df(row("u")), df(row("u")), asOf)
      .queryExecution.optimizedPlan
    val builds = plan.flatMap(_.expressions)
      .map(_.collect { case f: ArrayFilter => f }.size).sum
    assert(builds == 1, s"the change log is built $builds times")
  }
}
