package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-facing query inventory. Every SURVEY.md §2 operator gets a
  * named entry here plus (where SQL-expressible) a DuckDB oracle in
  * [[Queries.oracle]]. Column names are aliased identically on both sides
  * because the driver's compare sorts columns by name before hashing.
  */
object Queries {

  /** Monthly new-listing counts (reference analytics_routes.py:22-47):
    * regex month bucket → count → order. Here: events bucketed by month.
    * Scale note: single hash aggregation on a low-cardinality key — one
    * shuffle of partial counts, no data explosion at 100 TB.
    */
  def q01MonthlyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"))
      .orderBy("month")

  /** Every query as its module builds it. */
  private[graft] val builders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_monthly_counts" -> ((s, d) => q01MonthlyCounts(s, d))
  ) ++ Relational.all ++ FunctionQueries.all ++ EtlQueries.all ++
    LlmQueries.all ++ SourceQueries.all ++ MlQueries.all ++
    SourceProfiles.queries ++ Temporal.all ++ CorpusQueries.all

  /** The queries whose analyzed plans are reused ([[Prepared]]): the
    * listing cycle's MERGE, tag, export and dashboard steps. A query
    * belongs here only when its construction reads nothing but `Tables`
    * inputs: it starts no Spark job, writes nothing and reads no
    * manifest (PreparedSpec checks each). */
  private[graft] val prepared: Set[String] = Set(
    "q28_merge_upsert", "q29_issue_tags", "q30_export_wide",
    "q47_crawl_report", "q48_tag_counts", "q49_queue_page",
    "q63_report_totals")

  val all: Map[String, (SparkSession, String) => DataFrame] =
    builders.map { case (n, f) => n -> (if (prepared(n)) Prepared(n, f) else f) }

  val oracle: Map[String, String] = Map(
    "q01_monthly_counts" ->
      """SELECT strftime(ts, '%Y-%m') AS month, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  ) ++ Relational.oracle ++ FunctionQueries.oracle ++ EtlQueries.oracle ++
    LlmQueries.oracle ++ SourceQueries.oracle ++ MlQueries.oracle ++
    SourceProfiles.oracle ++ Temporal.oracle ++ CorpusQueries.oracle
}
