package graft

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical-listing MERGE engine (SURVEY §2.8/§2.9): set-based
  * re-expression of the reference's per-row upsert
  * (reid/pipelines/property.py:96-126 + models/listing.py:103-167).
  *
  * One full-outer join on the natural key replaces N per-item SQL
  * round-trips; every per-field rule of `compare` becomes a when/coalesce
  * expression and the change log an array of structs. Scale: the join
  * shuffles both sides once on `url` — or neither side at all when both
  * are written through [[graft.sources.Sinks.writeBucketed]] on `url`,
  * the documented canonical-table layout: the full-outer SMJ then plans
  * ZERO Exchange (BucketingSpec pins the merge plan; SCALING.md's
  * bucketed-merge probe row measures the saving). Everything else is
  * row-local expression work.
  *
  * Faithful semantics worth naming (all from models/listing.py:103-167):
  *  - Python truthiness gates fill/overwrite: 0, "" and null all count as
  *    "missing", so a 0 price never overwrites and is never overwritten.
  *  - availability != "Available" (null included) flips is_available and
  *    stamps sold_at with the first day of the asOf month — but does NOT
  *    update the availability field itself.
  *  - sold_at and leasehold_years are always-overwrite-on-change and
  *    sold_at is processed LAST, so an incoming null sold_at immediately
  *    reverts the stamp the availability rule just wrote. That is the
  *    reference's real behavior — the fill_missing_sold_at batch job
  *    (fill_missing_sold_at.py:7-27, Cleaners.imputeSoldAt) exists to
  *    repair exactly this.
  *  - price == -1 is a keep-old sentinel producing no change entry.
  */
object Merge {

  /** Field list in the reference's processing order — the change log and
    * the is_available/sold_at interactions depend on it.
    */
  val compareFields: Seq[String] = Seq(
    "price", "currency", "availability", "is_available", "is_off_plan",
    "image_url", "description", "location", "leasehold_years",
    "contract_type", "property_type", "bedrooms", "bathrooms",
    "build_size", "land_size", "land_zoning", "property_id", "listed_date",
    "sold_at")

  private val alwaysOverwrite = Set("leasehold_years", "sold_at")

  /** All listing columns a merge input must carry. */
  val listingColumns: Seq[String] =
    Seq("url", "source", "reid_id", "title", "region", "scraped_at",
      "created_at", "updated_at", "tab") ++ compareFields

  /** Python truthiness as a Column predicate, by type. */
  def truthy(c: Column, dt: DataType): Column = dt match {
    case StringType => c.isNotNull && c =!= ""
    case BooleanType => c <=> true
    case _: NumericType => c.isNotNull && c =!= 0
    case _ => c.isNotNull
  }

  /** reference models/listing.py:87-101 */
  def classifyTab(price: Column, currency: Column, propertyType: Column): Column =
    when(price.isNotNull && price >= 78656000000L && currency === "IDR",
      "LUXURY LISTINGS")
      .when(price.isNotNull && price >= 5000000L && currency === "USD",
        "LUXURY LISTINGS")
      .when(propertyType === "Land", "ALL LAND")
      .otherwise("DATA")

  /** Merge an incoming crawl snapshot into the current listing table.
    *
    * Returns current ∪ incoming with the reference's upsert semantics:
    *  - matched url → per-field `compare` rules, `changes` array, tab
    *    re-classified and updated_at stamped only when something changed;
    *  - incoming-only url → insert with a generated sequential reid_id
    *    (models/listing.py:66-85): per (previous-month-of-asOf, source
    *    code) partition, continuing after the current table's max index;
    *  - current-only url → unchanged passthrough.
    *
    * SKEW POSTURE (SCALING.md's merge-skew probe row): AQE's
    * skew-join split does NOT apply here — Spark's OptimizeSkewedJoin
    * can split inner/semi/anti joins and the non-preserved side of
    * one-sided outers, but a FULL OUTER join preserves both sides, so
    * neither side is splittable and the session's skewJoin flag is
    * inert for this exchange. The merge's skew defense is its INPUT
    * CONTRACT instead: both sides url-unique (frontier dedup upstream,
    * Sinks.constrainedAppend at rest), under which a hash shuffle on
    * url cannot concentrate rows by key at any scale. The probe
    * measures the pathology when the contract is violated (a hot
    * duplicate-scraped url): the straggler grows linearly with the hot
    * key's multiplicity while the contract-enforced arm stays flat.
    *
    * codeFor maps source → 4-letter REID code (reid/settings.py:115-143);
    * identity by default since testdata sources are already short.
    */
  def merge(current: DataFrame, incoming: DataFrame, asOf: LocalDate,
            codeFor: Column => Column = identity): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val types: Map[String, DataType] =
      current.schema.fields.map(f => f.name -> f.dataType).toMap
    val stamp = lit(java.sql.Timestamp.valueOf(
      asOf.withDayOfMonth(1).atStartOfDay())) // first day of asOf month
    val asOfTs = lit(java.sql.Timestamp.valueOf(asOf.atStartOfDay()))

    val c = current.select(listingColumns.map(col): _*).as("c")
    val i = incoming.select(listingColumns.map(col): _*).as("i")
    val joined = c.join(i, col("c.url") === col("i.url"), "full_outer")

    def o(f: String) = col(s"c.$f")
    def n(f: String) = col(s"i.$f")
    val isMatch = col("c.url").isNotNull && col("i.url").isNotNull
    val isNew = col("c.url").isNull

    // availability trigger: Python `new != "Available"` is true for null too
    val trigger = !(n("availability") <=> "Available")
    // intermediate values the availability rule writes before later fields read them
    val iaInter = when(trigger, lit(false)).otherwise(o("is_available"))
    val saInter = when(trigger, stamp).otherwise(o("sold_at"))

    def genericRule(f: String, oldC: Column, newC: Column): (Column, Column) = {
      val dt = types(f)
      val fill = truthy(newC, dt) && !truthy(oldC, dt)
      val over = truthy(newC, dt) && truthy(oldC, dt) && newC =!= oldC
      (when(fill || over, newC).otherwise(oldC), fill || over)
    }

    // (mergedValue, changeCondition, loggedOld, loggedNew) per field, in order
    val rules: Seq[(String, Column, Column, Column, Column)] =
      compareFields.map { f =>
        f match {
          case "price" =>
            val (v0, chg0) = genericRule(f, o(f), n(f))
            val v = when(n(f) === -1, o(f)).otherwise(v0)
            (f, v, n(f) =!= -1 && chg0, o(f), n(f))
          case "availability" =>
            val (v0, chg0) = genericRule(f, o(f), n(f))
            // branch1 records a change but leaves the field value as-is
            val v = when(trigger, o(f)).otherwise(v0)
            (f, v, trigger || (!trigger && chg0), o(f), n(f))
          case "is_available" =>
            val (v, chg) = genericRule(f, iaInter, n(f))
            (f, v, chg, iaInter, n(f))
          case "sold_at" =>
            val chg = !(n(f) <=> saInter)
            (f, when(chg, n(f)).otherwise(saInter), chg, saInter, n(f))
          case _ if alwaysOverwrite(f) =>
            val chg = !(n(f) <=> o(f))
            (f, when(chg, n(f)).otherwise(o(f)), chg, o(f), n(f))
          case _ =>
            val (v, chg) = genericRule(f, o(f), n(f))
            (f, v, chg, o(f), n(f))
        }
      }

    val changesArr = filter(
      array(rules.map { case (f, _, chg, oldC, newC) =>
        when(isMatch && chg,
          struct(lit(f).as("field"), oldC.cast("string").as("old"),
            newC.cast("string").as("new")))
      }: _*),
      _.isNotNull)

    // sequential reid_id for new urls: previous-month bucket of asOf
    // (models/listing.py:68-71 pins the bucket; we parameterize on asOf)
    val bucket = asOf.withDayOfMonth(1).minusMonths(1)
    val prefix = format_string("REID_%s_%s_%s",
      lit(bucket.format(java.time.format.DateTimeFormatter.ofPattern("yy"))),
      lit(bucket.format(java.time.format.DateTimeFormatter.ofPattern("MM"))),
      codeFor(n("source")))
    // current table's max index per source partition (prefix-scan analog of
    // the reference's ORDER BY reid_id DESC LIMIT 1)
    val monthPrefix = "REID_" +
      bucket.format(java.time.format.DateTimeFormatter.ofPattern("yy_MM")) + "_"
    val maxPerSource = current
      .filter(col("reid_id").startsWith(monthPrefix)) // same-bucket ids only
      .select(col("source"),
        element_at(split(col("reid_id"), "_"), -1).cast("int").as("idx"))
      .groupBy("source").agg(max("idx").as("max_idx"))
      .withColumnRenamed("source", "m_source")
    val wNew = Window.partitionBy(col("i.source"), isNew).orderBy(col("i.url"))
    val newSeq = row_number().over(wNew)

    val withMax = joined.join(broadcast(maxPerSource),
      col("i.source") === col("m_source"), "left_outer")

    // Stage 1 evaluates every merged value and the change log once per
    // row; stage 2 reads `changes` twice (output and `changed`), so
    // CollapseProject keeps the stages apart and the 19-field array is
    // not re-evaluated for updated_at, tab and changed.
    val stage1: Seq[Column] =
      Seq(
        coalesce(col("c.url"), col("i.url")).as("url"),
        coalesce(col("c.source"), col("i.source")).as("source"),
        when(isNew,
          format_string("%s_%03d", prefix,
            coalesce(col("max_idx"), lit(0)) + newSeq))
          .otherwise(col("c.reid_id")).as("reid_id"),
        when(isNew, n("title")).otherwise(o("title")).as("title"),
        when(isNew, n("region")).otherwise(o("region")).as("region"),
        when(isNew, n("scraped_at")).otherwise(o("scraped_at")).as("scraped_at"),
        when(isNew, asOfTs).otherwise(o("created_at")).as("created_at"),
        o("updated_at").as("_old_updated_at"),
        o("tab").as("_old_tab")) ++
        rules.map { case (f, v, _, _, _) =>
          when(isMatch, v).when(isNew, n(f)).otherwise(o(f)).as(f)
        } ++
        Seq(changesArr.as("changes"), isNew.as("is_new"), isMatch.as("_match"))

    val changed = col("_match") && size(col("changes")) > 0
    val isNewCol = col("is_new")
    val outCols: Seq[Column] =
      Seq("url", "source", "reid_id", "title", "region", "scraped_at",
        "created_at").map(col) ++
        Seq(
          when(changed, asOfTs)
            .when(isNewCol, asOfTs)
            .otherwise(col("_old_updated_at")).as("updated_at"),
          when(changed || isNewCol,
            classifyTab(col("price"), col("currency"), col("property_type")))
            .otherwise(col("_old_tab")).as("tab")) ++
        compareFields.map(col) ++
        Seq(col("changes"), isNewCol, changed.as("changed"))

    withMax.select(stage1: _*).select(outCols: _*)
  }

  /** Delist-on-missing (reference reid/spiders/base.py:14-30 redirect/404
    * delisting + queue sync, queue_routes.py:61-117): current listings
    * whose url did not appear in the crawl flip to Delisted with sold_at =
    * first day of the month before asOf (first_month semantics,
    * reid/func.py:884-889). One left-anti join.
    */
  def delistMissing(current: DataFrame, crawled: DataFrame,
                    asOf: LocalDate): DataFrame = {
    val firstMonth = lit(java.sql.Timestamp.valueOf(
      asOf.withDayOfMonth(1).minusMonths(1).atStartOfDay()))
    current
      .join(crawled.select("url"), Seq("url"), "left_anti")
      .withColumn("availability", lit("Delisted"))
      .withColumn("is_available", lit(false))
      .withColumn("sold_at", firstMonth)
  }

  /** Queue→listing status write-back (reference queue_routes.py:61-117):
    * this month's re-check statuses applied to currently-unavailable
    * listings. The reference runs three sequential loops (Delisted, Error,
    * Available), so on a url carrying several statuses the LAST loop wins
    * — hence the CASE priority Available > Error > Delisted; is_available
    * flips to (new status == "Available") only when some status applied.
    * Set-based: three distinct-url flag joins (each a per-status url set,
    * broadcast-able at serving scale), one CASE — the listing table never
    * shuffles more than once per flag join and is never mutated row-by-row.
    */
  def queueStatusSync(listings: DataFrame, queue: DataFrame,
                      monthStart: String): DataFrame = {
    val recent = queue
      .filter(col("updated_at") >= lit(monthStart).cast("timestamp"))
    def urlFlag(status: String, flag: String) = recent
      .filter(col("status") === status)
      .select(col("url")).distinct().withColumn(flag, lit(true))
    val base = listings
      .join(urlFlag("Delisted", "_d"), Seq("url"), "left_outer")
      .join(urlFlag("Error", "_e"), Seq("url"), "left_outer")
      .join(urlFlag("Available", "_a"), Seq("url"), "left_outer")
    val applies = !col("is_available") &&
      (col("_a").isNotNull || col("_e").isNotNull || col("_d").isNotNull)
    base
      .withColumn("status",
        when(!col("is_available") && col("_a").isNotNull, "Available")
          .when(!col("is_available") && col("_e").isNotNull, "Error")
          .when(!col("is_available") && col("_d").isNotNull, "Delisted")
          .otherwise(col("status")))
      .withColumn("is_available",
        when(applies, col("status") === "Available")
          .otherwise(col("is_available")))
      .drop("_d", "_e", "_a")
  }
}
