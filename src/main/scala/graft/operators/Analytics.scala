package graft

import graft.functions.Cleaners
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Serving-layer analytics (SURVEY §2.4-§2.6): the reference's FastAPI
  * queries as single Spark jobs — the full-scan-then-Python-loop and N+1
  * patterns become one aggregation each.
  */
object Analytics {

  /** Monthly new-listing counts (reference analytics_routes.py:22-47):
    * regex month bucket out of reid_id → count → sort. Rows whose reid_id
    * doesn't match are dropped, like the reference's `if match`.
    */
  def monthlyListingCounts(listings: DataFrame): DataFrame =
    listings
      .withColumn("yy", regexp_extract(col("reid_id"), "REID_(\\d{2})_(\\d{2})", 1))
      .withColumn("mm", regexp_extract(col("reid_id"), "REID_(\\d{2})_(\\d{2})", 2))
      .filter(col("yy") =!= "")
      .select(format_string("20%s-%s-01", col("yy"), col("mm")).as("date"))
      .groupBy("date").agg(count(lit(1)).as("n"))
      .orderBy("date")

  /** Crawl report (reference analytics_routes.py:50-97) with its
    * +31-day month-window quirk reproduced faithfully: the requested date
    * is shifted forward 31 days (twice) so the queried window is the month
    * AFTER the one clicked (SURVEY §7.4.7). Latest-per-source via window
    * replaces the join-on-max subquery.
    */
  def crawlReport(reports: DataFrame, date: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = java.time.LocalDate.parse(date)
    val cur = d.plusDays(31).withDayOfMonth(1)
    val nxt = cur.plusDays(31).withDayOfMonth(1)
    // tiebreakers: created_at alone could tie within a source, making the
    // picked row nondeterministic (project determinism discipline)
    val w = Window.partitionBy("source").orderBy(col("created_at").desc,
      col("item_scraped_count").desc, col("response_error_count").desc,
      col("elapsed_time_seconds").desc)
    reports
      .filter(col("created_at") >= lit(cur.toString).cast("timestamp") &&
        col("created_at") < lit(nxt.toString).cast("timestamp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("created_at"),
        col("item_scraped_count").as("total_listings"),
        col("item_scraped_count").as("success_count"),
        col("response_error_count").as("error_count"),
        col("elapsed_time_seconds").as("duration"))
      .orderBy(col("created_at").desc)
  }

  /** Dashboard report totals (reference report-table.jsx:92-126): sums +
    * success-rate arithmetic, server-side.
    */
  def reportTotals(report: DataFrame): DataFrame =
    report.agg(
      sum("success_count").as("sum_success"),
      sum("total_listings").as("sum_listings"),
      sum("error_count").as("sum_errors"),
      sum("duration").as("sum_duration"))
      .withColumn("success_rate",
        col("sum_success") * 100.0 / (col("sum_listings") + col("sum_errors")))

  /** Queue stats pivot (reference data_routes.py:48-61). */
  def queueStats(queue: DataFrame): DataFrame =
    queue.agg(
      count(lit(1)).as("total"),
      count(when(col("status") === "Available", 1)).as("available"),
      count(when(col("status") === "Error", 1)).as("errors"),
      count(when(col("status") === "Delisted", 1)).as("delisted"),
      count(when(col("status") === "Sold", 1)).as("sold"))

  /** Tag counts (reference tag_routes.py:24-40): tags ⋈ properties,
    * unsolved+unignored only, counted per label. The executed plan
    * broadcasts the property-id side (`BroadcastHashJoin … BuildRight`)
    * and streams the exploded tags through it. When the tags come from
    * `Quality.explodeTags` (q48), the optimizer adds a
    * `size(filter(array(<issue rules>))) > 0` filter below the explode
    * (`InferFiltersFromGenerate`) and copies the tag side's `is_ignored`
    * condition onto the property side (`InferFiltersFromConstraints`).
    * Propagating constraints through that rule array makes
    * `PruneFilters`, which never fires here, q48's costliest optimizer
    * rule: 38–52 ms of a 90–111 ms optimizer phase at sf0.01, on every
    * call.
    */
  def tagCounts(tags: DataFrame, properties: DataFrame): DataFrame =
    tags
      .join(properties.select(col("id").as("property_id")), Seq("property_id"))
      .filter(!col("is_solved") && !col("is_ignored"))
      .groupBy("name").agg(count(lit(1)).as("n"))
      .orderBy("name")

  /** Queue page (reference queue_routes.py:20-46): optional filters +
    * newest-first pagination.
    */
  def queuePage(queue: DataFrame, status: Option[String], domain: Option[String],
                since: Option[String], page: Int, pageSize: Int = 50): DataFrame = {
    var q = queue
    status.foreach(v => q = q.filter(col("status") === v))
    domain.foreach(v => q = q.filter(col("url").contains(v)))
    since.foreach(v => q = q.filter(col("created_at") >= lit(v).cast("timestamp")))
    q.orderBy(col("created_at").desc, col("id").desc)
      .offset((page - 1) * pageSize).limit(pageSize)
      .select("id", "url", "created_at")
  }

  /** Unique domains, sorted (reference queue_routes.py:48-58). */
  def domains(queue: DataFrame): DataFrame =
    queue.select(Cleaners.getDomain(col("url")).as("domain"))
      .filter(col("domain").isNotNull)
      .distinct().orderBy("domain")
}
