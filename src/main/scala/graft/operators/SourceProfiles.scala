package graft

import java.time.LocalDate

import graft.functions.{Cleaners, Udfs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-source standardization profiles: the reference's ItemLoader configs
  * are per-source *candidate orderings* over selector outputs plus ordered
  * post-load fixups (reference reid/items.py:20-87 field processors;
  * reid/spiders/ubudproperty.py:96-171; reid/spiders/dotproperty.py:85-175;
  * reid/spiders/balivillasales.py:40-157 + reid/customs/balivillasales
  * .py:1-22). [[Standardize]] is the generic chain; this wires 24
  * sources' actual candidate order and fixups over one shared set of
  * default field processors.
  *
  * Input contract: one row per scraped detail page whose columns are the
  * *selector outputs* the spider extracts (CSS/JSON selection itself is
  * acquisition, out of scope per SURVEY §1) — `url, source, raw_title,
  * alt_title, raw_location, raw_contract, raw_type, raw_price, json_price,
  * json_currency, raw_beds, raw_baths, raw_land, raw_build, raw_image,
  * raw_desc, raw_pid, lease_text, table_leasing, raw_date` (all strings).
  *
  * Execution shape: every field and fixup is a row-local Column expression
  * (TakeFirst = coalesce; MapCompose = expression composition; post-load
  * mutation = sequential withColumn). Dispatch filters per source and
  * unions: with the raw table partitioned by source — the natural layout
  * for a crawler staging area — each branch prunes to its own partition,
  * so at 100 TB a profile reads only its slice and the whole operator runs
  * shuffle-free inside one codegen stage.
  *
  * Modeled deviations from the reference (all documented, all spec-pinned):
  * the reference *raises* on a few null fields (e.g. `"Leasehold" in None`)
  * and routes the whole item to the Error sink; the engine keeps the row
  * and skips that fixup. `delisted_item` emission is modeled as
  * `availability = "Delisted"` on the same row. Ubud's publish-date max
  * (html source list) is acquisition-side and not modeled.
  */
object SourceProfiles {

  /** Canonical standardized output schema (listing-shaped). */
  val targets: Seq[String] = Seq(
    "url", "source", "title", "property_id", "location", "contract_type",
    "property_type", "leasehold_years", "bedrooms", "bathrooms",
    "land_size", "build_size", "price", "currency", "availability",
    "image_url", "listed_date", "description")

  private def nullIfEmpty(c: Column): Column = nullif(c, lit(""))

  /** The locale-heuristic numeric parse as the NATIVE codegen expression
    * ([[graft.expressions.ToNumberExpr]], same kernel as Parse.toNumber).
    * Profiles evaluate this per candidate field per row — the native form
    * keeps every per-source branch inside whole-stage codegen instead of
    * fencing at a Scala-UDF serialization boundary 100+ times per plan.
    */
  private def toNum(c: Column): Column =
    call_function("graft_to_number_native", c)

  /** The field processors every source shares (the reference declares them
    * once on PropertyItem, reid/items.py:20-87). A profile's own `fields`
    * entry for the same target replaces the default.
    */
  private val defaultFields: Seq[(String, Column)] = Seq(
    "title" -> nullIfEmpty(trim(col("raw_title"))),
    "description" -> nullIfEmpty(trim(col("raw_desc"))),
    "property_id" -> nullIfEmpty(trim(col("raw_pid"))),
    "bedrooms" -> toNum(col("raw_beds")).cast("double"),
    "bathrooms" -> toNum(col("raw_baths")).cast("double"),
    "location" -> nullIfEmpty(trim(col("raw_location"))),
    "image_url" -> nullIfEmpty(trim(col("raw_image"))),
    "availability" -> lit("Available"),
    "build_size" -> toNum(col("raw_build")).cast("double"),
    "land_size" -> toNum(col("raw_land")).cast("double"),
    "price" -> toNum(col("raw_price")).cast("double"),
    "listed_date" -> lit(null).cast("string"))

  /** A profile: ordered (target, expression) field candidates evaluated
    * over the raw selector columns, then ordered row-local fixups applied
    * sequentially (each sees the previous ones' results, like the
    * reference's item-dict mutation). The [[defaultFields]] the profile
    * does not define itself come first, so its fields and fixups can read
    * them.
    */
  final case class SourceProfile(
      source: String,
      fields: LocalDate => Seq[(String, Column)],
      fixups: LocalDate => Seq[(String, Column)],
      gate: Option[Column] = None) {

    def apply(raw: DataFrame, asOf: LocalDate): DataFrame = {
      val gated = gate.map(raw.filter).getOrElse(raw)
      val own = fields(asOf)
      val defined = own.map(_._1).toSet
      (defaultFields.filterNot(f => defined(f._1)) ++ own ++ fixups(asOf))
        .foldLeft(gated) { case (d, (name, expr)) => d.withColumn(name, expr) }
        .select(targets.map(col): _*)
    }
  }

  /** reference reid/spiders/ubudproperty.py:96-171 +
    * reid/customs/ubudproperty.py. Loader: code from the alt title,
    * constant location, table-cell contract/beds/baths/sizes, first word
    * of the type cell title-cased into the standardize ladder, IDR-else-USD
    * price, h5 lease-years text.
    */
  val ubudproperty: SourceProfile = SourceProfile(
    "ubudproperty",
    fields = asOf => {
      val idr = Cleaners.findIdr(col("raw_price"))
      val usd = Cleaners.findUsd(col("raw_price"))
      Seq(
        "property_id" -> Cleaners.findCode(col("alt_title")),
        "location" -> lit("Ubud"),
        "contract_type" -> nullIfEmpty(trim(col("raw_contract"))),
        "property_type" -> Cleaners.standardizePropertyType(
          initcap(element_at(split(trim(col("raw_type")), "\\s+", -1), 1))),
        "leasehold_years" ->
          Udfs.ubudFindLeaseholdYears(asOf.getYear)(col("lease_text"))
            .cast("double"),
        "land_size" -> Udfs.findLandSize(col("raw_land")).cast("double"),
        "build_size" -> Udfs.findBuildSize(col("raw_build")).cast("double"),
        "price" -> when(idr.isNotNull, idr)
          .when(usd.isNotNull, usd).cast("double"),
        "currency" -> when(idr.isNotNull, "IDR")
          .when(usd.isNotNull, "USD"))
    },
    fixups = asOf => Seq(
      // stash the pre-fallback title: the reference's description fixup
      // replaces the OLD title variable even after the alt_title fallback
      "_title0" -> col("title"),
      // ubudproperty.py:141-143 — missing or "." title → alt title
      "title" -> when(col("title").isNull || col("title") === ".",
        nullIfEmpty(trim(col("alt_title")))).otherwise(col("title")),
      // ubudproperty.py:144-156 — type from title keyword, else beds>0.
      // NB the reference's local `title` var predates the alt_title
      // fallback, so the keyword search runs on the ORIGINAL title
      "property_type" -> {
        val kw = nullIfEmpty(
          regexp_extract(col("_title0"), "(?i)(land|hotel|villa)", 1))
        when(col("_title0").isNotNull &&
          !coalesce(col("property_type"), lit("")).isin("Villa", "Land", "House"),
          when(kw.isNotNull, Cleaners.definePropertyType(initcap(kw)))
            .otherwise(when(coalesce(col("bedrooms"), lit(0d)) > 0, "Villa")
              .otherwise("Land")))
          .otherwise(col("property_type"))
      },
      // ubudproperty.py:157-160 — drop the title text from the description
      "description" -> when(
        col("_title0").isNotNull && col("title").isNotNull &&
          contains(col("description"), col("title")),
        nullIfEmpty(replace(col("description"), col("_title0"))))
        .otherwise(col("description")),
      // ubudproperty.py:161-168 — lease years from the LEASING table cell
      "leasehold_years" -> when(
        coalesce(col("contract_type"), lit("")).contains("Leasehold") &&
          (col("leasehold_years").isNull || col("leasehold_years") === 0) &&
          nullIfEmpty(col("table_leasing")).isNotNull,
        Udfs.ubudFindLeaseholdYears(asOf.getYear)(col("table_leasing"))
          .cast("double"))
        .otherwise(col("leasehold_years")),
      // ubudproperty.py:169-171 — freehold never carries lease years
      "leasehold_years" -> when(
        coalesce(col("contract_type"), lit("")).contains("Freehold"),
        lit(null).cast("double")).otherwise(col("leasehold_years"))))

  /** reference reid/spiders/dotproperty.py:85-175. Loader: ld+json price
    * and currency, after-colon property id, breadcrumb type, key-featured
    * numerics, lease-years cascade over the description; contract derived
    * lease-years → url marker → get_contract_type(title).
    */
  val dotproperty: SourceProfile = SourceProfile(
    "dotproperty",
    fields = asOf => Seq(
      "property_id" -> Cleaners.afterColon(trim(col("raw_pid"))),
      "property_type" ->
        Cleaners.standardizePropertyType(trim(col("raw_type"))),
      "price" -> toNum(col("json_price")).cast("double"),
      "currency" -> nullIfEmpty(upper(trim(col("json_currency")))),
      "leasehold_years" ->
        Udfs.leaseholdYearsFinders(asOf.getYear)(col("raw_desc"))
          .cast("double")),
    fixups = _ => Seq(
      // dotproperty.py:117-130 — lease years → Leasehold; /for-sale/ url →
      // Freehold; else get_contract_type over the title (the first
      // candidate the reference's MapCompose+TakeFirst can produce)
      "contract_type" -> when(
        col("leasehold_years").isNotNull && col("leasehold_years") =!= 0,
        "Leasehold")
        .when(col("url").contains("for-sale"), "Freehold")
        .otherwise(Cleaners.getContractType(trim(col("raw_title")))),
      // dotproperty.py:142-155 — two ordered bedroom regexes over the desc
      "bedrooms" -> when(
        col("bedrooms").isNull || col("bedrooms") === 0,
        coalesce(
          nullIfEmpty(regexp_extract(col("description"),
            "(?i)(\\d)\\s*bedrooms", 1)).cast("double"),
          nullIfEmpty(regexp_extract(col("description"),
            "(?i)bedrooms\\s*(\\d)", 1)).cast("double")))
        .otherwise(col("bedrooms")),
      // dotproperty.py:156-175 — desc backfill for missing sizes
      "land_size" -> when(col("land_size").isNull || col("land_size") === 0,
        Udfs.findLandSize(col("description")).cast("double"))
        .otherwise(col("land_size")),
      "build_size" -> when(col("build_size").isNull || col("build_size") === 0,
        Udfs.findBuildSize(col("description")).cast("double"))
        .otherwise(col("build_size"))))

  /** reference reid/spiders/balivillasales.py:40-157 ("Villas of Bali") +
    * reid/customs/balivillasales.py:1-22. Loader: compound price text
    * drives price/currency/availability; m2-and-comma cleanup on sizes;
    * type from the title; upload date from the image url.
    */
  val balivillasales: SourceProfile = SourceProfile(
    "balivillasales",
    fields = asOf => {
      val sizeClean = (c: Column) =>
        toNum(Cleaners.getFirst(
          regexp_replace(regexp_replace(c, "m2", ""), ",", "."), "-"))
          .cast("double")
      Seq(
        "contract_type" -> nullIfEmpty(trim(col("raw_contract"))),
        "property_type" ->
          Cleaners.standardizePropertyType(trim(col("raw_title"))),
        // balivillasales.py:50-56 — literal case-sensitive IDR/USD probes
        "price" -> when(col("raw_price").contains("IDR"),
          toNum(col("raw_price")))
          .when(col("raw_price").contains("USD"),
            toNum(col("raw_price"))).cast("double"),
        "currency" -> when(col("raw_price").contains("IDR"), "IDR")
          .when(col("raw_price").contains("USD"), "USD"),
        "availability" -> when(col("raw_price").contains("Sold"), "Sold")
          .otherwise("Available"),
        "listed_date" -> Udfs.getUploadedDate(col("raw_image")).cast("string"),
        "land_size" -> sizeClean(col("raw_land")),
        "build_size" -> sizeClean(col("raw_build")),
        "leasehold_years" -> lit(null).cast("double"))
    },
    fixups = asOf => Seq(
      // balivillasales.py:120-123 — empty title / missing contract →
      // delisted_item (modeled as availability on the same row)
      "availability" -> when(
        col("title").isNull || col("contract_type").isNull, "Delisted")
        .otherwise(col("availability")),
      // balivillasales.py:125-132 — desc then title location fallbacks
      "location" -> coalesce(col("location"),
        Udfs.findLocationInDescription(col("description")),
        nullIfEmpty(regexp_extract(col("title"), "in ([A-Za-z ]+)", 1))),
      // balivillasales.py:134-138 — desc backfill for missing sizes
      "land_size" -> when(col("land_size").isNull || col("land_size") === 0,
        Udfs.findLandSize(col("description")).cast("double"))
        .otherwise(col("land_size")),
      "build_size" -> when(col("build_size").isNull || col("build_size") === 0,
        Udfs.findBuildSize(col("description")).cast("double"))
        .otherwise(col("build_size")),
      // balivillasales.py:140-147 — equal sizes (None==None included, so
      // null-safe <=>) mean a land listing: drop build, force type
      "property_type" -> when(col("land_size") <=> col("build_size"), "Land")
        .otherwise(col("property_type")),
      "build_size" -> when(col("land_size") <=> col("build_size"),
        lit(null).cast("double")).otherwise(col("build_size")),
      // balivillasales.py:149-151 — lowercase-literal leasehold probe
      "leasehold_years" -> when(
        (col("leasehold_years").isNull || col("leasehold_years") === 0) &&
          coalesce(col("contract_type"), lit("")).contains("leasehold"),
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
        .otherwise(col("leasehold_years")),
      // balivillasales.py:153-155 — bedrooms fallback from the desc
      "bedrooms" -> when(col("bedrooms").isNull || col("bedrooms") === 0,
        Cleaners.findBedrooms(col("description")).cast("double"))
        .otherwise(col("bedrooms"))))

  /** reference reid/spiders/exotiqproperty.py:23-80 +
    * reid/customs/exotiqproperty.py. Pure candidate mapping, no post-load
    * fixups: ownership cell through lease_or_free_hold, lease years from
    * the ownership-details cell only when either the processed contract or
    * the raw ownership text mentions lease (reference raises when contract
    * is None — the engine treats it as empty).
    */
  val exotiqproperty: SourceProfile = SourceProfile(
    "exotiqproperty",
    fields = asOf => {
      val contract = Cleaners.leaseOrFreeHold(trim(col("raw_contract")))
      Seq(
        "contract_type" -> contract,
        "property_type" ->
          Cleaners.standardizePropertyType(trim(col("raw_type"))),
        "leasehold_years" -> when(
          lower(coalesce(contract, lit(""))).contains("lease") ||
            lower(coalesce(col("raw_contract"), lit(""))).contains("lease"),
          toNum(col("lease_text"))).cast("double"),
        "currency" -> Cleaners.identifyCurrency(col("raw_price")))
    },
    fixups = _ => Seq.empty)

  /** reference reid/spiders/balimoves.py:60-180 ("Bali Moves") +
    * reid/customs/balimoves.py. The fa-icon table values arrive as raw
    * columns (icon-class extraction is acquisition); the price/contract
    * text is `raw_price`. Fixups preserve the reference's quirks: the
    * "/word" unit probes, the Rent override, the discarded price
    * recalculation whose only lasting effect is null-ing an
    * integer-truncated zero.
    */
  val balimoves: SourceProfile = SourceProfile(
    "balimoves",
    fields = asOf => {
      val currency = Cleaners.identifyCurrency(col("raw_price"))
      Seq(
        "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))),
        "currency" -> currency,
        "price" -> when(currency === "IDR", Cleaners.findIdr(col("raw_price")))
          .otherwise(Cleaners.findUsd(col("raw_price"))).cast("double"),
        "land_size" ->
          toNum(regexp_replace(col("raw_land"), ",", ".")).cast("double"),
        "build_size" ->
          toNum(regexp_replace(col("raw_build"), ",", ".")).cast("double"),
        "contract_type" -> Cleaners.grabFirstWord(trim(col("raw_contract"))),
        "leasehold_years" -> lit(null).cast("double"))
    },
    fixups = asOf => {
      // "/word" probes: `x in " ".join(set(re.findall(r"/\w+", text)))`
      // ⇔ some /word contains x as a substring
      def per(unit: String) = col("raw_price").rlike("/\\w*" + unit)
      Seq(
        // balimoves.py:139-141 — freehold keyword anywhere in the text
        "contract_type" -> when(col("raw_price").rlike("(?i)freehold"),
          "Freehold").otherwise(col("contract_type")),
        // balimoves.py:147-149 — rental per-month/per-year override
        "contract_type" -> when(per("month") || per("year"), "Rent")
          .otherwise(col("contract_type")),
        // balimoves.py:151-153 — no bedrooms → land listing
        "property_type" -> when(
          col("bedrooms").isNull || col("bedrooms") === 0, "Land")
          .otherwise(col("property_type")),
        // balimoves.py:155-157 — lease years from the price text
        "leasehold_years" -> when(col("contract_type") <=> "Leasehold",
          Udfs.getLeaseYears(asOf.getYear)(col("raw_price")).cast("double"))
          .otherwise(col("leasehold_years")),
        // balimoves.py:159-161 — blank price text means a sold listing
        "availability" -> when(
          col("raw_price").isNull || trim(col("raw_price")) === "", "Sold")
          .otherwise(col("availability")),
        // balimoves.py:163-178 — the per-land recalculation is DISCARDED
        // by the reference except for the int(x)==0 null-out (the Parse
        // kernel pins the are-branch; the m2 branch never recalculates)
        "price" -> {
          val priceIdr0 = coalesce(nullif(col("price"), lit(0d)), lit(-1d))
          val priceIdr = when(per("are") && col("land_size") > 0,
            priceIdr0 * (col("land_size") / 100)).otherwise(priceIdr0)
          when((per("are") || per("m2")) && priceIdr.cast("long") === 0,
            lit(null).cast("double")).otherwise(col("price"))
        })
    })

  /** reference reid/spiders/raywhite.py:59-185 ("Ray White Indonesia"):
    * ld+json price/currency, spec-table numerics, Indonesian-keyword type
    * ladder (case-sensitive `in` probes), HGB certificate → Leasehold@30,
    * lease years from the description, per-meter price recalculation, and
    * delisting villa rows with no bedrooms. The reference's land-size
    * fallback calls add_value with a CSS string literal — a no-op bug the
    * engine reproduces by not backfilling.
    */
  val raywhite: SourceProfile = SourceProfile(
    "raywhite",
    fields = asOf => {
      val state = coalesce(col("raw_type"), lit(""))
      val cert = col("raw_contract")
      val descLease =
        Udfs.countLeaseYears(asOf.getYear)(trim(col("raw_desc")))
      Seq(
        "listed_date" -> regexp_replace(nullIfEmpty(regexp_extract(
          col("raw_image"), "(\\d{4}/\\d{2}/\\d{2}|\\d{4}-\\d{2}-\\d{2})", 1)),
          "/", "-"),
        "currency" -> nullIfEmpty(upper(trim(col("json_currency")))),
        "price" -> toNum(col("json_price")).cast("double"),
        "property_type" -> when(state.contains("Rumah"), "House")
          .when(state.contains("Gudang") || state.contains("Pabrik") ||
            state.contains("Komersial") || state.contains("Ruko") ||
            state.contains("Kantor"), "Commercial")
          .when(state.contains("Villa") || state.contains("Vila"), "Villa")
          .when(state.contains("Apartemen"), "Apartement")
          .when(state.contains("Tanah"), "Land")
          .otherwise("Unknown"),
        // HGB wins the lease-years TakeFirst even when the description
        // also carries a count; the description only wins the CONTRACT
        "leasehold_years" -> when(
          coalesce(cert, lit("")).contains("HGB"), lit(30d))
          .otherwise(descLease.cast("double")),
        "contract_type" -> when(descLease.isNotNull, "Leasehold")
          .when(coalesce(cert, lit("")).contains("HGB"), "Leasehold")
          .when(state.contains("for Sale"), "Freehold")
          .otherwise(lit("")))
    },
    fixups = _ => Seq(
      // raywhite.py:162-172 — per-meter price label → price × land m²
      "price" -> when(col("raw_price").isNotNull &&
        Cleaners.checkPerMeter(col("raw_price")) &&
        coalesce(col("land_size"), lit(0d)) > 0,
        coalesce(col("price"), lit(0d)) * col("land_size"))
        .otherwise(col("price")),
      "currency" -> when(col("raw_price").isNotNull &&
        Cleaners.checkPerMeter(col("raw_price")) &&
        coalesce(col("land_size"), lit(0d)) > 0, "IDR")
        .otherwise(col("currency")),
      // raywhite.py:174-185 — villa with no bedrooms → delisted_item
      "availability" -> when(
        (col("bedrooms").isNull || col("bedrooms") === 0) &&
          col("property_type") === "Villa", "Delisted")
        .otherwise(col("availability"))))

  /** reference reid/spiders/kibarer.py:58-155 ("Kibarer"): rows whose
    * contract badge never mentions "hold" are dropped entirely (the
    * spider only builds a loader inside that branch) — expressed as the
    * profile's row gate. IDR-else-USD-else(-1, USD) price, find_ ladders
    * for contract/type, are→sqm land, lease years from the badge then
    * re-found in the description.
    */
  val kibarer: SourceProfile = SourceProfile(
    "kibarer",
    fields = asOf => {
      val idr = Cleaners.findIdr(col("raw_price"))
      val usd = Cleaners.findUsd(col("raw_price"))
      val contract = Cleaners.findContractType(trim(col("raw_contract")))
      Seq(
        "price" -> when(idr.isNotNull, idr.cast("double"))
          .when(usd.isNotNull, usd.cast("double"))
          .otherwise(lit(-1d)),
        "currency" -> when(idr.isNotNull, "IDR").otherwise("USD"),
        "contract_type" -> contract,
        "leasehold_years" -> when(contract === "Leasehold",
          Udfs.getLeaseYears(asOf.getYear)(col("raw_contract")))
          .cast("double"),
        "property_type" -> Cleaners.findPropertyType(trim(col("raw_title"))),
        "land_size" -> coalesce(Cleaners.areToSqm(col("raw_land")).cast("double"),
          toNum(col("raw_land")).cast("double")),
        "image_url" -> Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))))
    },
    fixups = asOf => Seq(
      // kibarer.py:141-143 — missing type defaults to Villa
      "property_type" -> coalesce(col("property_type"), lit("Villa")),
      // kibarer.py:145-152 — leasehold with no badge years: re-find in desc
      "leasehold_years" -> when(
        lower(coalesce(col("contract_type"), lit(""))).contains("lease") &&
          (col("leasehold_years").isNull || col("leasehold_years") === 0),
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
        .otherwise(col("leasehold_years"))),
    gate = Some(coalesce(col("raw_contract"), lit("")).rlike("(?i)hold")))

  /** reference reid/spiders/lazudi.py:59-175 ("Lazudi"): detail rows
    * parsed into a dict (acquisition side; the values arrive as raw
    * columns), contract defaults Leasehold unless a freehold row
    * appears, created date reformatted MM/dd/yy, lease years from the
    * description with a Freehold fallback when absent, extractor-then-
    * find_land_size backfills (the reference's second find_build_size
    * assigns a local variable only — a no-op the engine reproduces by
    * omission).
    */
  val lazudi: SourceProfile = SourceProfile(
    "lazudi",
    fields = asOf => Seq(
      // lazudi's own strptime("%Y-%m-%d") — not the customs' full form
      "listed_date" ->
        date_format(to_date(col("raw_date"), "yyyy-MM-dd"), "MM/dd/yy"),
      "contract_type" -> coalesce(nullIfEmpty(trim(col("raw_contract"))),
        lit("Leasehold")),
      "property_type" ->
        Cleaners.standardizePropertyType(trim(col("raw_type"))),
      "currency" -> lit("IDR"),
      "leasehold_years" -> lit(null).cast("double"),
      "description" ->
        nullIfEmpty(Cleaners.removeShowMoreLess(trim(col("raw_desc"))))),
    fixups = asOf => Seq(
      // lazudi.py:146-149 — lease years only for Lease* contracts
      "leasehold_years" -> when(
        coalesce(col("contract_type"), lit("")).contains("Lease"),
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double")),
      // lazudi.py:151-152 — no years found → actually a freehold
      "contract_type" -> when(
        col("leasehold_years").isNull || col("leasehold_years") === 0,
        "Freehold").otherwise(col("contract_type")),
      // lazudi.py:154-158 — bedrooms only backfilled when strictly None
      "bedrooms" -> when(col("bedrooms").isNull,
        Udfs.findBedroomsInDescription(col("description")).cast("double"))
        .otherwise(col("bedrooms")),
      // lazudi.py:160-166 — extractor first, then find_land_size gated on
      // beating a nonzero build size (locals captured before build fixups)
      "land_size" -> {
        val afterExtract = when(
          col("land_size").isNull || col("land_size") === 0,
          Udfs.landsizeExtractor(col("description")).cast("double"))
          .otherwise(col("land_size"))
        val found = Udfs.findLandSize(col("description")).cast("double")
        val build0 = coalesce(col("build_size"), lit(0d))
        when((afterExtract.isNull || afterExtract === 0) &&
          found.isNotNull && found =!= 0 && build0 =!= 0 && found > build0,
          found).otherwise(afterExtract)
      },
      // lazudi.py:168-171 — build extractor backfill (the find_build_size
      // after it writes a local only: reference no-op)
      "build_size" -> when(
        col("build_size").isNull || col("build_size") === 0,
        Udfs.buildsizeExtractor(col("description")).cast("double"))
        .otherwise(col("build_size"))))

  /** reference reid/spiders/gillesdemunter.py:29-100 ("GD&ASSOCIATES"):
    * one BED cell carries "bed/bath", USD-only pricing, property id from
    * the 4th image-url path segment, rows with no BED cell delist (the
    * reference then crashes on the split — the engine keeps the row with
    * null beds).
    */
  val gillesdemunter: SourceProfile = SourceProfile(
    "gillesdemunter",
    fields = asOf => Seq(
      "bedrooms" ->
        toNum(Cleaners.getFirst(col("raw_beds"), "/")).cast("double"),
      "bathrooms" ->
        toNum(Cleaners.getLast(col("raw_beds"), "/")).cast("double"),
      "contract_type" -> nullIfEmpty(trim(col("raw_contract"))),
      "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))),
      "leasehold_years" -> toNum(col("lease_text")).cast("double"),
      "currency" -> lit("USD"),
      "property_id" -> lit(null).cast("string")),
    fixups = _ => Seq(
      // gillesdemunter.py:52-55 — no BED cell → delisted_item
      "availability" -> when(
        col("raw_beds").isNull || trim(col("raw_beds")) === "", "Delisted")
        .otherwise(col("availability")),
      // gillesdemunter.py:98 — image_url.split("/")[3] (0-based index 3)
      "property_id" ->
        element_at(split(col("image_url"), "/", -1), 4)))

  /** reference reid/spiders/heritagebali.py:40-145 ("Heritage Bali"):
    * the Price cell list drives price (second entry), currency
    * (extract→identify) and lease detection ("lease" in the LAST entry →
    * Leasehold); bedrooms through find_bedrooms, sizes through the find_
    * ladders, and the location is unconditionally overwritten post-load
    * with the joined map-marker cells ("" when none).
    */
  val heritagebali: SourceProfile = SourceProfile(
    "heritagebali",
    fields = asOf => Seq(
      "bedrooms" -> Cleaners.findBedrooms(col("raw_beds")).cast("double"),
      "currency" -> Cleaners.identifyCurrency(
        Cleaners.extractCurrency(col("raw_price"))),
      "leasehold_years" ->
        Udfs.getLeaseYears(asOf.getYear)(col("lease_text")).cast("double"),
      "land_size" -> Udfs.findLandSize(col("raw_land")).cast("double"),
      "build_size" -> Udfs.findBuildSize(col("raw_build")).cast("double"),
      "contract_type" -> when(
        lower(coalesce(col("lease_text"), lit(""))).contains("lease"),
        "Leasehold").otherwise("Freehold"),
      "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))),
      // heritagebali.py:137-143 — ", ".join(loc) replaces location even
      // when empty
      "location" -> coalesce(trim(col("raw_location")), lit(""))),
    fixups = _ => Seq.empty)

  /** reference reid/spiders/svahaproperty.py:47-146 ("Svaha Property"):
    * Status/Purpose cell → sale⇒Freehold else Leasehold; lease years cell
    * read only when the raw status is EXACTLY "Leasehold"; the refind pass
    * re-parses the description (years missing) or the same cell (years >
    * 99, i.e. a 2045-style expiry). The reference's alternative contract
    * branch is dead code (contract is always set; it would NameError on
    * `property_type`) and is not modeled.
    */
  val svahaproperty: SourceProfile = SourceProfile(
    "svahaproperty",
    fields = asOf => {
      val sizeClean = (c: Column) =>
        toNum(Cleaners.grabFirst(regexp_replace(c, ",", ".")))
          .cast("double")
      Seq(
        "listed_date" -> Udfs.getUploadedDate(col("raw_image")).cast("string"),
        "contract_type" -> when(
          lower(coalesce(col("raw_contract"), lit(""))).contains("sale"),
          "Freehold").otherwise("Leasehold"),
        "property_type" ->
          Cleaners.standardizePropertyType(trim(col("raw_type"))),
        "currency" -> Cleaners.identifyCurrency(col("raw_price")),
        "land_size" -> sizeClean(col("raw_land")),
        "build_size" -> sizeClean(col("raw_build")),
        "leasehold_years" -> when(col("raw_contract") === "Leasehold",
          toNum(col("table_leasing"))).cast("double"))
    },
    fixups = asOf => Seq(
      // svahaproperty.py:123-133 — refind: desc when missing, the cell
      // itself when the "years" are really an expiry year (> 99)
      "leasehold_years" -> when(
        lower(coalesce(col("raw_contract"), lit(""))).contains("lease"),
        when(col("leasehold_years").isNull || col("leasehold_years") === 0,
          Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
          .when(col("leasehold_years") > 99,
            Udfs.findLeaseYears(asOf.getYear)(col("table_leasing")).cast("double"))
          .otherwise(col("leasehold_years")))
        .otherwise(col("leasehold_years"))))

  /** reference reid/spiders/luxindoproperty.py:63-137 ("Luxindo
    * Property"): a Supabase JSON API source — the spaces/plans list
    * routing is acquisition, its routed values arrive as raw columns
    * (lease_text = the "valid" space, table_leasing = the "lease" space).
    * Column-model deviation (documented): a present-but-null `area_1` /
    * `price` is indistinguishable from an absent key, so the dict-default
    * semantics collapse to coalesce.
    */
  val luxindoproperty: SourceProfile = SourceProfile(
    "luxindoproperty",
    fields = asOf => {
      val contract = coalesce(nullIfEmpty(trim(col("raw_contract"))),
        lit("Freehold"))
      Seq(
        "location" -> coalesce(nullIfEmpty(trim(col("raw_location"))),
          nullIfEmpty(trim(col("alt_title")))),
        "price" -> coalesce(toNum(col("json_price")).cast("double"),
          lit(-1d)),
        "currency" -> coalesce(nullIfEmpty(upper(trim(col("json_currency")))),
          lit("IDR")),
        "property_type" ->
          Cleaners.standardizePropertyType(trim(col("raw_type"))),
        "contract_type" -> contract,
        "listed_date" -> nullIfEmpty(trim(col("raw_date"))),
        "leasehold_years" -> when(lower(contract).contains("lease"),
          coalesce(
            Udfs.getLeaseYears(asOf.getYear)(col("lease_text")),
            Udfs.countLeaseYears(asOf.getYear)(col("table_leasing"))
              .cast("double"))).cast("double"))
    },
    fixups = _ => Seq.empty)

  /** reference reid/spiders/ppbali.py:42-167 ("Paradise Property Group"):
    * \w+hold status → Title-cased contract, data-price_idr/usd attributes
    * (raw_price/json_price), lease years from the status text,
    * "Date Available" (dd MMMM yyyy) → MM/dd/yy, desc-driven contract
    * repair (freehold|leasehold else "Other"), searchLeaseholdYears
    * first-hit refind, size backfills — and the final price > 5e8 gate:
    * cheaper rows are never yielded.
    */
  val ppbali: SourceProfile = SourceProfile(
    "ppbali",
    fields = asOf => Seq(
      "contract_type" -> initcap(
        nullIfEmpty(regexp_extract(coalesce(col("raw_contract"), lit("")),
          "(\\w+hold)", 1))),
      "price" -> when(col("raw_price").isNotNull,
        toNum(col("raw_price")))
        .otherwise(toNum(col("json_price"))).cast("double"),
      "currency" -> when(col("raw_price").isNotNull, "IDR")
        .when(col("json_price").isNotNull, "USD"),
      "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))),
      "leasehold_years" -> when(col("raw_contract").isNotNull,
        Udfs.getLeaseYears(asOf.getYear)(col("raw_contract"))).cast("double"),
      "listed_date" -> date_format(
        try_to_timestamp(col("raw_date"), lit("dd MMMM yyyy")), "MM/dd/yy")),
    fixups = asOf => Seq(
      // ppbali.py:140-147 — no free/lease in the status → repair from desc
      "contract_type" -> {
        val c = lower(coalesce(col("contract_type"), lit("")))
        val fromDesc = initcap(nullIfEmpty(regexp_extract(
          lower(coalesce(col("description"), lit(""))),
          "(freehold|leasehold)", 1)))
        when(!c.contains("free") && !c.contains("lease"),
          coalesce(fromDesc, lit("Other"))).otherwise(col("contract_type"))
      },
      // ppbali.py:149-153 — first searchLeaseholdYears hit (try_: an empty
      // result vector means no backfill)
      "leasehold_years" -> when(
        col("leasehold_years").isNull || col("leasehold_years") === 0,
        try_element_at(
          Udfs.searchLeaseholdYears(asOf.getYear)(col("description")),
          lit(1)).cast("double"))
        .otherwise(col("leasehold_years")),
      // ppbali.py:155-163 — desc size backfills
      "land_size" -> when(col("land_size").isNull || col("land_size") === 0,
        Udfs.findLandSize(col("description")).cast("double"))
        .otherwise(col("land_size")),
      "build_size" -> when(col("build_size").isNull || col("build_size") === 0,
        Udfs.findBuildSize(col("description")).cast("double"))
        .otherwise(col("build_size"))),
    gate = Some(coalesce(
      when(col("raw_price").isNotNull, toNum(col("raw_price")))
        .otherwise(toNum(col("json_price"))), lit(0d)) > 500000000d))

  /** reference reid/spiders/rajavillaproperty.py:36-145 ("Raja Villa
    * Property"): leasehold-in-title contract, ld+json published date,
    * Sold badge membership, title-based land backfill, the
    * lease-years-suffix-glued-to-price repair, and the per-are price
    * recalculation (Parse kernel semantics: only the are-branch
    * recalculates).
    */
  val rajavillaproperty: SourceProfile = SourceProfile(
    "rajavillaproperty",
    fields = asOf => Seq(
      "currency" -> Cleaners.identifyCurrency(col("raw_price")),
      "contract_type" -> when(
        lower(coalesce(col("raw_title"), lit(""))).contains("leasehold"),
        "Leasehold").otherwise("Freehold"),
      "listed_date" ->
        Cleaners.findPublishedDate(col("raw_date")).cast("string"),
      "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))),
      "leasehold_years" -> when(
        nullIfEmpty(col("lease_text")).isNotNull,
        Udfs.getLeaseYears(asOf.getYear)(col("lease_text"))).cast("double"),
      "availability" -> when(
        array_contains(split(coalesce(col("raw_contract"), lit("")), ","),
          "Sold"), "Sold").otherwise("Available"),
      "image_url" ->
        Cleaners.dimensionRemover(coalesce(col("raw_image"), lit("")))),
    fixups = asOf => Seq(
      // rajavillaproperty.py:120-123 — land backfilled from the TITLE
      "land_size" -> when(col("land_size").isNull || col("land_size") === 0,
        Udfs.landsizeExtractor(col("title")).cast("double"))
        .otherwise(col("land_size")),
      // rajavillaproperty.py:125-130 — integral lease years glued onto the
      // end of the price are stripped back off
      "price" -> {
        val leaseStr = when(
          col("leasehold_years").isNotNull &&
            col("leasehold_years") === col("leasehold_years").cast("long"),
          col("leasehold_years").cast("long").cast("string"))
        val priceStr = col("price").cast("long").cast("string")
        when(leaseStr.isNotNull && col("price").isNotNull &&
          priceStr.endsWith(leaseStr) && priceStr =!= leaseStr,
          expr("substring(cast(cast(price as long) as string), 1, " +
            "length(cast(cast(price as long) as string)) - " +
            "length(cast(cast(leasehold_years as long) as string)))")
            .cast("double"))
          .otherwise(col("price"))
      },
      // rajavillaproperty.py:132-135 — location from "in <X> -" in title
      "location" -> coalesce(col("location"),
        nullIfEmpty(regexp_extract(coalesce(col("title"), lit("")),
          "in (.+) -", 1))),
      // rajavillaproperty.py:137-143 — per-are price recalculation
      "price" -> when(
        col("land_size").isNotNull &&
          col("land_size") === col("land_size").cast("long") &&
          col("land_size") > 0,
        coalesce(Udfs.recalculatePriceByLandSize(col("raw_price"),
          col("price").cast("long"), col("land_size").cast("long")),
          col("price")))
        .otherwise(col("price"))))

  /** reference reid/spiders/unrealbali.py:39-154 ("Unreal Bali"): label
    * badges drive hold-state and sold-state, USD probed before IDR, the
    * +/-slash/to-range cleanup on sizes — and the reference's final
    * `yield item` sits INSIDE `if not leasehold_years`, so rows whose
    * calendar cell parsed to years are never emitted at all: that bug is
    * the profile's row gate. Lease years always come from the description
    * on surviving rows.
    */
  val unrealbali: SourceProfile = SourceProfile(
    "unrealbali",
    fields = asOf => {
      val sizeClean = (c: Column) =>
        toNum(
          Cleaners.getLast(Cleaners.getLast(Cleaners.getLast(
            Cleaners.getFirst(regexp_replace(c, ",", "."), "+"),
            "/"), "-"), "to")).cast("double")
      val hold = Cleaners.findHoldState(
        split(coalesce(col("raw_contract"), lit("")), ","))
      Seq(
        "build_size" -> sizeClean(col("raw_build")),
        "land_size" -> sizeClean(col("raw_land")),
        "price" -> when(Cleaners.findUsd(col("raw_price")).isNotNull,
          Cleaners.findUsd(col("raw_price")))
          .when(Cleaners.findIdr(col("raw_price")).isNotNull,
            Cleaners.findIdr(col("raw_price"))).cast("double"),
        "currency" -> when(Cleaners.findUsd(col("raw_price")).isNotNull, "USD")
          .when(Cleaners.findIdr(col("raw_price")).isNotNull, "IDR"),
        "listed_date" ->
          date_format(try_to_timestamp(col("raw_date")), "MM/dd/yy"),
        "availability" -> when(hold.getField("is_sold"), "Sold")
          .otherwise("Available"),
        "property_type" ->
          Cleaners.standardizePropertyType(trim(col("raw_type"))),
        "contract_type" -> when(hold.getField("is_leasehold"), "Leasehold")
          .otherwise("Freehold"),
        "leasehold_years" ->
          toNum(Cleaners.getFirst(col("lease_text"), "/"))
            .cast("double"),
        "bedrooms" -> toNum(
          regexp_replace(Cleaners.grabFirst(col("raw_beds")), ",", "."))
          .cast("double"),
        "bathrooms" -> toNum(
          regexp_replace(Cleaners.grabFirst(col("raw_baths")), ",", "."))
          .cast("double"),
        "image_url" ->
          Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))))
    },
    fixups = asOf => Seq(
      // unrealbali.py:148-150 — missing/not-found title → delisted_item
      "availability" -> when(
        col("title").isNull || col("title").contains("not found"),
        "Delisted").otherwise(col("availability")),
      // unrealbali.py:151-153 — surviving rows re-find years in the desc
      "leasehold_years" ->
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double")),
    gate = Some({
      val cell = toNum(Cleaners.getFirst(col("lease_text"), "/"))
      cell.isNull || cell === 0
    }))

  /** reference reid/spiders/suasarealestate.py:53-160 ("Suasa Real
    * Estate"): data-rate attribute price with idr/usd probes, property
    * type from the url's first path segment, Term-cell contract (a null
    * Term crashes the reference's lease check and drops the row → gate),
    * sold-cell availability, lease years from the End-of-Lease cell, and
    * the pipe-tail location fallback. A missing price yields a separate
    * delist marker; the item itself still flows (price null).
    */
  val suasarealestate: SourceProfile = SourceProfile(
    "suasarealestate",
    fields = asOf => {
      val p = lower(coalesce(col("raw_price"), lit("")))
      Seq(
        "price" -> when(p.contains("idr") || p.contains("usd"),
          toNum(col("raw_price"))).cast("double"),
        "currency" -> when(p.contains("idr"), "IDR")
          .when(p.contains("usd"), "USD"),
        "location" -> nullIfEmpty(trim(Cleaners.getLast(
          Cleaners.getLast(col("raw_title"), "|"), " in "))),
        "contract_type" -> nullIfEmpty(trim(col("raw_contract"))),
        "property_type" ->
          initcap(element_at(split(col("url"), "/", -1), 4)),
        "availability" -> when(
          lower(coalesce(col("lease_text"), lit(""))).contains("sold"),
          "Sold").otherwise("Available"),
        "leasehold_years" -> when(
          lower(coalesce(col("raw_contract"), lit(""))).contains("lease"),
          Udfs.getLeaseYears(asOf.getYear)(col("table_leasing")))
          .cast("double"),
        "listed_date" -> Cleaners.findPublishedDate(col("raw_date"))
          .cast("string"))
    },
    fixups = _ => Seq(
      // suasarealestate.py:154-157 — pipe-tail location when missing
      "location" -> when(
        col("location").isNull && col("title").isNotNull &&
          col("title").contains("|"),
        trim(Cleaners.getLast(col("title"), "|")))
        .otherwise(col("location"))),
    gate = Some(col("raw_contract").isNotNull))

  /** reference reid/spiders/tealestate.py:61-163 ("Teal Estate"): label
    * badges through AnySoldDelisted (defaulting to Available when none),
    * hold-heading contract, dash-range size cleanup, IDR-only pricing,
    * and the missing-contract → Delisted post-load repair.
    */
  val tealestate: SourceProfile = SourceProfile(
    "tealestate",
    fields = asOf => {
      val sizeClean = (c: Column) =>
        toNum(Cleaners.getLast(regexp_replace(c, ",", "."), "-"))
          .cast("double")
      Seq(
        "listed_date" -> Cleaners.findPublishedDate(col("raw_date"))
          .cast("string"),
        "leasehold_years" ->
          Udfs.getLeaseYears(asOf.getYear)(col("lease_text")).cast("double"),
        "contract_type" -> nullIfEmpty(trim(col("raw_contract"))),
        "land_size" -> sizeClean(col("raw_land")),
        "build_size" -> sizeClean(col("raw_build")),
        "currency" -> lit("IDR"),
        "image_url" ->
          Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))),
        "availability" -> Cleaners.anySoldDelisted(
          split(coalesce(nullIfEmpty(col("alt_title")), lit("Available")), ",")),
        "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))))
    },
    fixups = _ => Seq(
      // tealestate.py:158-161 — no hold heading → delisted
      "availability" -> when(col("contract_type").isNull, "Delisted")
        .otherwise(col("availability"))))

  /** reference reid/spiders/balirealty.py:71-173 ("Bali Realty"):
    * grab_price idr/usd split on the #currentprice attribute (price is
    * the LOWERCASED text), ld+json published date as MM/dd/yyyy,
    * Sold=Yes detail flag, find_contract_type with the Contract-cell
    * "sale" repair, lease years always from the description, and the
    * land/build `label: N sqm` desc backfills. A missing price yields a
    * separate delist marker; the item still flows.
    */
  val balirealty: SourceProfile = SourceProfile(
    "balirealty",
    fields = asOf => {
      val p = lower(col("raw_price"))
      val contract0 = Cleaners.findContractType(trim(col("raw_contract")))
      val notValid = !lower(coalesce(contract0, lit(""))).contains("free") &&
        !lower(coalesce(contract0, lit(""))).contains("lease")
      Seq(
        "price" -> when(p.contains("idr"), toNum(p))
          .when(p.contains("usd"), toNum(p)).cast("double"),
        "currency" -> when(p.contains("idr"), "IDR")
          .when(p.contains("usd"), "USD"),
        // balirealty inlines its own %m/%d/%Y format (4-digit year)
        "listed_date" -> {
          val iso = regexp_extract(col("raw_date"),
            "\"datePublished\":\"([T0-9\\-:+]+)\"", 1)
          val parts = (g: Int) =>
            regexp_extract(iso, "^(\\d{4})-(\\d{2})-(\\d{2})", g)
          when(nullif(parts(1), lit("")).isNotNull,
            format_string("%s/%s/%s", parts(2), parts(3), parts(1)))
        },
        "availability" -> when(trim(col("lease_text")) === "Yes", "Sold")
          .otherwise("Available"),
        "contract_type" -> when(notValid &&
          lower(coalesce(col("alt_title"), lit(""))).contains("sale"),
          "Freehold").otherwise(contract0),
        "property_type" ->
          Cleaners.standardizePropertyType(trim(col("raw_type"))),
        "image_url" ->
          Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))),
        "leasehold_years" ->
          Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
    },
    fixups = _ => Seq(
      // balirealty.py:161-171 — `land...: N sqm` desc backfills
      "land_size" -> when(col("land_size").isNull || col("land_size") === 0,
        nullIfEmpty(regexp_extract(coalesce(col("description"), lit("")),
          "(?i)land.*?:\\s*(\\d+)\\s*sqm", 1)).cast("double"))
        .otherwise(col("land_size")),
      "build_size" -> when(col("build_size").isNull || col("build_size") === 0,
        nullIfEmpty(regexp_extract(coalesce(col("description"), lit("")),
          "(?i)build.*?:\\s*(\\d+)\\s*sqm", 1)).cast("double"))
        .otherwise(col("build_size"))),
    gate = Some(col("raw_contract").isNotNull))

  /** reference reid/spiders/balitreasureproperties.py:140-204 ("Bali
    * Treasure Properties"): Sanity JSON cards; leasehold-sale listings
    * carry the period, the location is ALWAYS the f-string "subarea,
    * city" (Python renders missing parts as the literal "None"), the
    * availability cell runs through AnySoldDelisted with an Available
    * default, and the post-load repair APPENDS the listing-type's
    * property type onto the contract ("Leasehold Villa") — property_type
    * itself is never set. A null defaultListing crashes the has_leasehold
    * probe → row gate.
    */
  val balitreasureproperties: SourceProfile = SourceProfile(
    "balitreasureproperties",
    fields = asOf => Seq(
      "price" -> toNum(col("json_price")).cast("double"),
      "currency" -> nullIfEmpty(upper(trim(col("json_currency")))),
      "contract_type" -> when(
        lower(col("raw_contract")).contains("lease"), "Leasehold")
        .otherwise("Freehold"),
      "leasehold_years" -> when(
        lower(col("raw_contract")).contains("lease"),
        toNum(col("lease_text"))).cast("double"),
      "listed_date" -> Cleaners.getFirst(col("raw_date"), "T"),
      "location" -> format_string("%s, %s",
        coalesce(col("alt_title"), lit("None")),
        coalesce(col("raw_location"), lit("None"))),
      "availability" -> Cleaners.anySoldDelisted(array(
        coalesce(col("table_leasing"), lit("")), lit("Available"))),
      "property_type" -> lit(null).cast("string")),
    fixups = asOf => Seq(
      // balitreasureproperties.py:181-186 — type APPENDED to the contract;
      // missing title/contract → "N/A" + Delisted
      "contract_type" -> when(
        col("title").isNotNull && col("contract_type").isNotNull,
        concat(col("contract_type"), lit(" "),
          Cleaners.definePropertyType(trim(col("raw_type")))))
        .otherwise(col("contract_type")),
      "availability" -> when(
        col("title").isNull || col("contract_type").isNull, "Delisted")
        .otherwise(col("availability")),
      "title" -> when(col("title").isNull, "N/A").otherwise(col("title")),
      // balitreasureproperties.py:188-189 — lease backfill from the desc
      "leasehold_years" -> when(
        col("leasehold_years").isNull || col("leasehold_years") === 0,
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
        .otherwise(col("leasehold_years")),
      // balitreasureproperties.py:199-202 — build backfill
      "build_size" -> when(
        col("description").isNotNull &&
          (col("build_size").isNull || col("build_size") === 0),
        Udfs.findBuildSize(col("description")).cast("double"))
        .otherwise(col("build_size"))),
    gate = Some(col("raw_contract").isNotNull))

  /** reference reid/spiders/balihomeimmo.py:126-198 ("Bali Home Immo"):
    * side-info contract badges choose Leasehold (with the detail-table
    * period) or Freehold; neither badge yields a separate delist marker
    * while the item still flows with a null contract; the price comes
    * from the data-price-category attribute matching the chosen contract
    * and the currency from the selected option.
    */
  val balihomeimmo: SourceProfile = SourceProfile(
    "balihomeimmo",
    fields = asOf => {
      val contracts = lower(coalesce(col("raw_contract"), lit("")))
      Seq(
        "property_type" -> Cleaners.definePropertyType(trim(col("raw_title"))),
        "property_id" -> nullIfEmpty(trim(
          Cleaners.getLast(col("raw_title"), "-"))),
        "contract_type" -> when(contracts.contains("lease"), "Leasehold")
          .when(contracts.contains("free"), "Freehold"),
        "leasehold_years" -> when(contracts.contains("lease"),
          toNum(col("table_leasing"))).cast("double"),
        "availability" -> when(col("lease_text").isNotNull, "Sold")
          .otherwise("Available"),
        "currency" -> Cleaners.identifyCurrency(col("json_currency")))
    },
    fixups = _ => Seq.empty)

  /** reference reid/spiders/balipropertiesforsale.py:77-235 ("Bali
    * Properties for Sale"): WP-JSON overlay payloads; a null
    * property_status or property_type crashes the membership/split probes
    * → row gate. Sold listings default a missing price to -1; lease years
    * from the expiration field when the status mentions lease, then the
    * description; missing location from the title; missing type from
    * define_property_type(title).
    */
  val balipropertiesforsale: SourceProfile = SourceProfile(
    "balipropertiesforsale",
    fields = asOf => {
      val sold = col("table_leasing").isNotNull
      Seq(
        "price" -> when(sold,
          coalesce(toNum(col("json_price")), lit(-1d)))
          .otherwise(toNum(col("json_price"))).cast("double"),
        "currency" -> nullIfEmpty(upper(trim(col("json_currency")))),
        "image_url" ->
          Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))),
        "listed_date" -> Cleaners.toMmddyy(col("raw_date")),
        "land_size" ->
          toNum(regexp_replace(col("raw_land"), ",", "."))
            .cast("double"),
        "build_size" ->
          toNum(regexp_replace(col("raw_build"), ",", "."))
            .cast("double"),
        "bathrooms" ->
          toNum(regexp_replace(col("raw_baths"), ",", "."))
            .cast("double"),
        "availability" -> when(sold, "Sold").otherwise("Available"),
        "contract_type" -> nullIfEmpty(trim(col("raw_contract"))),
        "property_type" -> Cleaners.standardizePropertyType(
          trim(Cleaners.getFirst(col("raw_type"), ","))),
        // the reference's probe is the case-sensitive literal "lease"
        "leasehold_years" -> when(col("raw_contract").contains("lease"),
          toNum(col("lease_text"))).cast("double"))
    },
    fixups = asOf => Seq(
      // balipropertiesforsale.py:219-223 — location from the title
      "location" -> coalesce(col("location"),
        nullIfEmpty(regexp_extract(coalesce(col("title"), lit("")),
          "in ([A-Za-z ]+)", 1))),
      // balipropertiesforsale.py:225-228 — desc lease backfill
      "leasehold_years" -> when(
        (col("leasehold_years").isNull || col("leasehold_years") === 0) &&
          coalesce(col("contract_type"), lit("")).contains("Leasehold"),
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
        .otherwise(col("leasehold_years")),
      // balipropertiesforsale.py:230-232 — type from the title
      "property_type" -> coalesce(col("property_type"),
        Cleaners.definePropertyType(coalesce(col("title"), lit(""))))),
    gate = Some(col("raw_contract").isNotNull && col("raw_type").isNotNull))

  /** reference reid/spiders/propertiabali.py:60-166 ("Propertia"): label
    * tags + "Available" through AnySoldDelisted, the Property-Type cell
    * feeding BOTH find_contract_type and define_property_type, are→sqm
    * sizes (comma→dot on build first), and the lease-contract desc
    * backfill.
    */
  val propertiabali: SourceProfile = SourceProfile(
    "propertiabali",
    fields = asOf => Seq(
      "listed_date" -> Cleaners.findPublishedDate(col("raw_date"))
        .cast("string"),
      "leasehold_years" -> toNum(col("lease_text")).cast("double"),
      "contract_type" -> Cleaners.findContractType(trim(col("raw_contract"))),
      "property_type" -> Cleaners.definePropertyType(trim(col("raw_contract"))),
      "land_size" -> coalesce(Cleaners.areToSqm(col("raw_land")).cast("double"),
        toNum(col("raw_land")).cast("double")),
      "build_size" -> {
        val dotted = regexp_replace(col("raw_build"), ",", ".")
        coalesce(Cleaners.areToSqm(dotted).cast("double"),
          toNum(dotted).cast("double"))
      },
      "currency" -> Cleaners.identifyCurrency(col("raw_price")),
      "image_url" ->
        Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))),
      "availability" -> Cleaners.anySoldDelisted(concat(
        split(coalesce(col("alt_title"), lit("")), ","),
        array(lit("Available"))))),
    fixups = asOf => Seq(
      // propertiabali.py:156-164 — lease-contract desc backfill
      "leasehold_years" -> when(
        lower(coalesce(col("contract_type"), lit(""))).contains("lease") &&
          (col("leasehold_years").isNull || col("leasehold_years") === 0),
        Udfs.findLeaseYears(asOf.getYear)(col("description")).cast("double"))
        .otherwise(col("leasehold_years"))))

  /** reference reid/spiders/balirealestateconsultants.py:44-190 ("Bali
    * Real Estate Consultants"): detail-table leasehold cell drives the
    * contract; non-positive cell years fall back to
    * |expiration − asOfYear|; dash/plus range cleanup on sizes;
    * title-bedrooms, desc-size backfills; plot/land titles AND
    * descriptions force Land; bathrooms stand in for missing bedrooms;
    * equal (or equally missing) sizes drop the build size.
    */
  val balirealestateconsultants: SourceProfile = SourceProfile(
    "balirealestateconsultants",
    fields = asOf => {
      val sizeClean = (c: Column) =>
        toNum(Cleaners.getLast(Cleaners.getFirst(
          regexp_replace(regexp_replace(c, ",", "."), "m2", ""), "+"), "-"))
          .cast("double")
      val cellYears = toNum(col("table_leasing"))
      Seq(
        "contract_type" -> when(nullIfEmpty(col("table_leasing")).isNotNull,
          "Leasehold").otherwise("Freehold"),
        "leasehold_years" -> when(nullIfEmpty(col("table_leasing")).isNotNull,
          when(cellYears > 0, cellYears)
            .otherwise(abs(toNum(col("lease_text")) -
              lit(asOf.getYear.toDouble)))).cast("double"),
        "land_size" -> sizeClean(col("raw_land")),
        "build_size" -> sizeClean(col("raw_build")),
        "availability" -> Cleaners.anySoldDelisted(concat(
          split(coalesce(col("alt_title"), lit("")), ","),
          array(lit("Available")))),
        "currency" -> Cleaners.identifyCurrency(col("raw_price")),
        "property_type" -> Cleaners.findPropertyType(trim(col("raw_title"))),
        "image_url" ->
          Cleaners.dimensionRemover(coalesce(col("raw_image"), lit(""))))
    },
    fixups = asOf => {
      val plotish = (c: Column) =>
        coalesce(c, lit("")).rlike("(?i)plot|land")
      Seq(
        // balirealestateconsultants.py:148-152 — title bedrooms backfill
        "bedrooms" -> when(col("bedrooms").isNull || col("bedrooms") === 0,
          Cleaners.findBedrooms(coalesce(col("title"), lit("")))
            .cast("double")).otherwise(col("bedrooms")),
        // :154-163 — desc size backfills
        "build_size" -> when(col("build_size").isNull || col("build_size") === 0,
          Udfs.findBuildSize(col("description")).cast("double"))
          .otherwise(col("build_size")),
        "land_size" -> when(col("land_size").isNull || col("land_size") === 0,
          Udfs.findLandSize(col("description")).cast("double"))
          .otherwise(col("land_size")),
        // :167-177 — plot/land in BOTH title and desc + no rooms → Land
        "property_type" -> when(
          (col("bedrooms").isNull || col("bedrooms") === 0) &&
            (col("bathrooms").isNull || col("bathrooms") === 0) &&
            plotish(col("title")) && plotish(col("description")),
          "Land").otherwise(col("property_type")),
        // :179-180 — bathrooms stand in for missing bedrooms
        "bedrooms" -> when(
          coalesce(col("bathrooms"), lit(0d)) > 0 &&
            (col("bedrooms").isNull || col("bedrooms") === 0),
          col("bathrooms")).otherwise(col("bedrooms")),
        // :182-184 — lease backfill via count_lease_years
        "leasehold_years" -> when(
          (col("leasehold_years").isNull || col("leasehold_years") === 0) &&
            coalesce(col("contract_type"), lit("")).contains("Leasehold"),
          Udfs.countLeaseYears(asOf.getYear)(col("description"))
            .cast("double")).otherwise(col("leasehold_years")),
        // :186-189 — equal (incl. equally missing) sizes drop the build
        "build_size" -> when(
          coalesce(col("land_size"), lit(0d)) ===
            coalesce(col("build_size"), lit(0d)),
          lit(null).cast("double")).otherwise(col("build_size")))
    })

  /** reference reid/spiders/baliexception.py:110-227 ("Bali Exception"):
    * en-dash/slash/plus range cleanup chains per cell, contract from a
    * freehold|leasehold title probe (default Freehold; a null title
    * crashes the probe → row gate), type cell else the title ladder,
    * breadcrumb location else the title's pipe segment else
    * find_location_in_title, and title bedrooms standing in for BOTH
    * missing rooms.
    */
  val baliexception: SourceProfile = SourceProfile(
    "baliexception",
    fields = asOf => {
      val bedClean = (c: Column) =>
        toNum(regexp_replace(Cleaners.getFirst(Cleaners.getLast(
          Cleaners.getLast(Cleaners.getLast(c, "–"), "-"), "/"), "+"),
          ",", ".")).cast("double")
      val sizeClean = (c: Column) =>
        toNum(regexp_replace(Cleaners.getLast(Cleaners.getFirst(
          Cleaners.getLast(Cleaners.getLast(c, "–"), "-"), "+"), "/"),
          ",", ".")).cast("double")
      val titleBeds = Cleaners.findBedrooms(lower(col("raw_title")))
      Seq(
        "leasehold_years" ->
          toNum(regexp_replace(
            Cleaners.getFirst(col("lease_text"), "+"), ",", "."))
            .cast("double"),
        "bedrooms" -> coalesce(bedClean(col("raw_beds")),
          titleBeds.cast("double")),
        "bathrooms" -> coalesce(
          toNum(regexp_replace(
            Cleaners.getLast(col("raw_baths"), "/"), ",", "."))
            .cast("double"),
          when(col("raw_beds").isNull, titleBeds.cast("double"))),
        "land_size" -> sizeClean(col("raw_land")),
        "build_size" -> sizeClean(col("raw_build")),
        "location" -> coalesce(nullIfEmpty(trim(col("raw_location"))),
          when(size(split(col("raw_title"), "\\|", -1)) > 1,
            trim(element_at(split(col("raw_title"), "\\|", -1), 2)))
            .otherwise(Cleaners.findLocationInTitle(col("raw_title")))),
        "currency" -> Cleaners.identifyCurrency(col("raw_price")),
        "contract_type" -> coalesce(initcap(nullIfEmpty(regexp_extract(
          lower(col("raw_title")), "(freehold|leasehold)", 1))),
          lit("Freehold")),
        "property_type" -> coalesce(nullIfEmpty(trim(col("raw_type"))),
          Cleaners.definePropertyType(trim(col("raw_title")))))
    },
    fixups = _ => Seq.empty,
    gate = Some(col("raw_title").isNotNull))

  val profiles: Seq[SourceProfile] =
    Seq(ubudproperty, dotproperty, balivillasales,
      exotiqproperty, balimoves, raywhite,
      kibarer, lazudi, gillesdemunter,
      heritagebali, svahaproperty, luxindoproperty,
      ppbali, rajavillaproperty, unrealbali,
      suasarealestate, tealestate, balirealty,
      balitreasureproperties, balihomeimmo, balipropertiesforsale,
      propertiabali, balirealestateconsultants, baliexception)

  /** Standardize a raw selector-output frame through every registered
    * profile (or the named subset); rows whose source has no profile are
    * dropped (the reference has no generic spider either).
    *
    * Pass `only` when the caller knows its source universe: each profile
    * is one scan branch, so restricting the set drops dead branches from
    * the plan. On a mixed staging table, partition by source so every
    * branch prunes to its own slice.
    */
  def standardize(raw: DataFrame, asOf: LocalDate,
                  only: Set[String] = Set.empty): DataFrame = {
    val selected =
      if (only.isEmpty) profiles else profiles.filter(p => only(p.source))
    selected.map(p => p(raw.filter(col("source") === p.source), asOf))
      .reduce(_ unionByName _)
  }

  /** Correctness query: raw selector rows synthesized deterministically
    * from `part` for six profiles (ubudproperty, dotproperty,
    * balivillasales, exotiqproperty, balimoves, raywhite), standardized,
    * and compared against a DuckDB oracle that mirrors each profile's
    * candidate order and fixups. Every branch of every fixup is exercised
    * by some modulus class.
    */
  def q55SourceProfiles(s: SparkSession, d: String): DataFrame = {
    val asOf = LocalDate.of(2026, 1, 1)
    val k = col("p_partkey").cast("string")
    val m = col("p_partkey") % 6
    val sz = col("p_size")
    val raw = Tables.part(s, d).select(
      when(m === 0, concat(lit("https://ubud.example/"), k))
        .when(m === 1,
          when(sz % 3 === 1, concat(lit("https://dot.example/for-sale/"), k))
            .otherwise(concat(lit("https://dot.example/item/"), k)))
        .when(m === 2, concat(lit("https://bali.example/"), k))
        .when(m === 3, concat(lit("https://exotiq.example/"), k))
        .when(m === 4, concat(lit("https://bm.example/"), k))
        .otherwise(concat(lit("https://rw.example/"), k)).as("url"),
      when(m === 0, "ubudproperty").when(m === 1, "dotproperty")
        .when(m === 2, "balivillasales").when(m === 3, "exotiqproperty")
        .when(m === 4, "balimoves").otherwise("raywhite").as("source"),
      when(m === 0, when(sz % 5 === 0, lit("."))
        .otherwise(concat(lit("Elegant "), col("p_type"), lit(" retreat"))))
        .when(m === 1, concat(lit("Charming "), col("p_brand")))
        .when(m === 2, when(sz % 4 === 0, lit(null))
          .otherwise(lit("Tropical villa in Ubud")))
        .when(m === 3, lit("Exotiq listing"))
        .when(m === 4, when(sz % 2 === 0, "Modern villa").otherwise("Land plot"))
        .otherwise(lit("RW listing")).as("raw_title"),
      when(m === 0, concat(lit("UB"), k, lit(" (ref)"))).as("alt_title"),
      when(m === 1 || m >= 3, concat(lit("Area"), sz.cast("string")))
        .as("raw_location"),
      when(m === 0, when(sz % 2 === 0, "Leasehold").otherwise("Freehold"))
        .when(m === 2, when(sz % 5 === 0, "leasehold option")
          .otherwise("Freehold title"))
        .when(m === 3, when(sz % 2 === 0, "For lease").otherwise("For sale"))
        .when(m === 4, lit("Leasehold / available"))
        .when(m === 5, when(sz % 4 === 0, "HGB").otherwise("SHM"))
        .as("raw_contract"),
      when(m === 0, concat(col("p_type"), lit(" unit")))
        .when(m === 1, when(sz % 2 === 0, "Villa in paradise"))
        .when(m === 3, lit("Villa"))
        .when(m === 5, when(sz % 3 === 0, "Rumah Baru")
          .when(sz % 3 === 1, "Villa Cantik for Sale")
          .otherwise("Tanah Kavling"))
        .as("raw_type"),
      when(m === 0, when(sz % 9 === 0,
        concat(lit("USD "), (col("p_partkey") * 2).cast("string")))
        .otherwise(concat(lit("IDR "), (col("p_partkey") * 1000).cast("string"))))
        .when(m === 2, {
          val base = when(sz % 2 === 0,
            concat(lit("IDR "), (col("p_partkey") * 500).cast("string")))
            .otherwise(lit("USD 350000"))
          when(sz % 7 === 0, concat(base, lit(" Sold"))).otherwise(base)
        })
        .when(m === 3, concat(lit("USD "), (col("p_partkey") * 3).cast("string")))
        .when(m === 4, when(sz % 3 === 0,
          concat(lit("IDR "), (col("p_partkey") * 10).cast("string"),
            lit(" leasehold 25 years")))
          .when(sz % 3 === 1, lit("USD 350,000 /month"))
          .otherwise(lit("")))
        .when(m === 5, when(sz % 6 === 0, lit("IDR 1,000,000 per m2")))
        .as("raw_price"),
      when(m === 1, (col("p_partkey") * 1000).cast("string"))
        .when(m === 5, (col("p_partkey") * 7).cast("string")).as("json_price"),
      when(m === 1, when(sz % 2 === 0, "idr").otherwise("usd"))
        .when(m === 5, lit("idr")).as("json_currency"),
      when(m === 0, when(sz % 4 === 0, lit(null))
        .otherwise((sz % 6).cast("string")))
        .when(m === 2, (sz % 5).cast("string"))
        .when(m === 3, (sz % 3).cast("string"))
        .when(m === 4 || m === 5, when(sz % 2 === 0, lit("2")))
        .as("raw_beds"),
      lit(null).cast("string").as("raw_baths"),
      when(m === 2, concat((sz + 100).cast("string"), lit(" m2")))
        .when(m === 4, (sz + 20).cast("string"))
        .when(m === 5, (sz + 10).cast("string"))
        .as("raw_land"),
      when(m === 2, when(sz % 6 === 0,
        concat((sz + 100).cast("string"), lit(" m2")))
        .otherwise(concat((sz + 50).cast("string"), lit(" m2"))))
        .as("raw_build"),
      when(m === 5, lit("https://cdn.x.com/2023/04/05/p.jpg")).as("raw_image"),
      when(m === 0, concat(lit("Elegant "), col("p_type"), lit(" retreat with pool")))
        .when(m === 1, when(sz % 3 === 0, lit("leasehold 30 years available"))
          .when(sz % 3 === 1, lit("has 3 bedrooms total. Land size: 450 m2"))
          .otherwise(lit("plain description")))
        .when(m === 2, when(sz % 5 === 0, lit("leasehold 30 years"))
          .otherwise(lit("desc text")))
        .when(m === 5, when(sz % 5 === 0, lit("leasehold 30 years"))
          .otherwise(lit("plain")))
        .otherwise(lit("plain")).as("raw_desc"),
      when(m === 1, concat(lit("Ref: DP-"), k))
        .when(m === 2, concat(lit("VOB-"), k))
        .when(m === 3, concat(lit("EX-"), k))
        .when(m === 4, concat(lit("BM-"), k))
        .when(m === 5, concat(lit("RW-"), k)).as("raw_pid"),
      when(m === 3, lit("25")).as("lease_text"),
      when(m === 0, when(sz % 3 === 0,
        concat((lit(20) + sz % 30).cast("string"), lit(" year"))))
        .as("table_leasing"),
      lit(null).cast("string").as("raw_date"))
    standardize(raw, asOf, Set("ubudproperty", "dotproperty",
      "balivillasales", "exotiqproperty", "balimoves", "raywhite"))
      .select("url", "source", "title", "property_id",
        "location", "contract_type", "property_type", "leasehold_years",
        "bedrooms", "land_size", "build_size", "price", "currency",
        "availability", "description")
  }

  /** Second profile correctness query: six more sources (kibarer, lazudi,
    * gillesdemunter, heritagebali, svahaproperty, ppbali), including both
    * row gates (kibarer's hold badge, ppbali's price floor) — gated
    * modulus classes are excluded on the oracle side too.
    */
  def q59SourceProfiles2(s: SparkSession, d: String): DataFrame = {
    val asOf = LocalDate.of(2026, 1, 1)
    val k = col("p_partkey").cast("string")
    val m = col("p_partkey") % 6
    val sz = col("p_size")
    val raw = Tables.part(s, d).select(
      when(m === 0, concat(lit("https://kb.example/"), k))
        .when(m === 1, concat(lit("https://lz.example/"), k))
        .when(m === 2, concat(lit("https://gd.example/p/"), k))
        .when(m === 3, concat(lit("https://hb.example/"), k))
        .when(m === 4, concat(lit("https://sv.example/"), k))
        .otherwise(concat(lit("https://pp.example/"), k)).as("url"),
      when(m === 0, "kibarer").when(m === 1, "lazudi")
        .when(m === 2, "gillesdemunter").when(m === 3, "heritagebali")
        .when(m === 4, "svahaproperty").otherwise("ppbali").as("source"),
      when(m === 0, when(sz % 7 === 0, "Plain plot of land")
        .otherwise(lit("Stunning villa retreat")))
        .when(m === 1, lit("Lazudi Villa"))
        .when(m === 2, lit("Villa Sunset"))
        .when(m === 3, lit("Heritage Villa"))
        .when(m === 4, lit("Svaha Villa"))
        .otherwise(lit("Paradise Villa")).as("raw_title"),
      lit(null).cast("string").as("alt_title"),
      when(m === 0 || m === 4, concat(lit("Area"), sz.cast("string")))
        .as("raw_location"),
      when(m === 0, when(sz % 5 === 0, "For Sale")
        .when(sz % 2 === 0, "Leasehold 25 years")
        .otherwise(lit("Freehold title")))
        .when(m === 1, lit("Leasehold"))
        .when(m === 2, lit("Freehold"))
        .when(m === 4, when(sz % 2 === 0, "For sale").otherwise("Leasehold"))
        .when(m === 5, when(sz % 3 === 0, "Status: unknown")
          .when(sz % 3 === 1, "Status: Freehold title")
          .otherwise(lit("Status: Leasehold 25 years")))
        .as("raw_contract"),
      when(m === 4, lit("Villa")).as("raw_type"),
      when(m === 0, when(sz % 3 === 0,
        concat(lit("IDR "), (col("p_partkey") * 100).cast("string")))
        .when(sz % 3 === 1,
          concat(lit("USD "), (col("p_partkey") * 2).cast("string")))
        .otherwise(lit("on request")))
        .when(m === 1, lit("4,500,000,000"))
        .when(m === 2, lit("1,250,000"))
        .when(m === 3, lit("USD 1,500,000"))
        .when(m === 4, lit("Rp 2,000,000,000"))
        .when(m === 5, when(sz % 5 === 0, lit("100"))
          .otherwise((lit(500000001L) + col("p_partkey")).cast("string")))
        .as("raw_price"),
      lit(null).cast("string").as("json_price"),
      lit(null).cast("string").as("json_currency"),
      when(m === 0, (sz % 4).cast("string"))
        .when(m === 2, when(sz % 4 === 0, lit(null))
          .otherwise(concat((sz % 5).cast("string"), lit("/"),
            (sz % 3).cast("string"))))
        .when(m === 3, concat(lit("spacious "), (sz % 6).cast("string"),
          lit(" bedroom layout")))
        .as("raw_beds"),
      lit(null).cast("string").as("raw_baths"),
      when(m === 0, lit("5.5 are"))
        .when(m === 3, lit("Land size: 450 m2 with garden"))
        .when(m === 4, lit("500,5")).as("raw_land"),
      when(m === 0, lit("250"))
        .when(m === 3, lit("Building size 250 m2"))
        .when(m === 4, lit("200,75")).as("raw_build"),
      when(m === 0, lit("https://x.com/img-300x200.jpg"))
        .when(m === 2, concat(lit("https://gd.example/listing/"), k,
          lit("/main.jpg")))
        .when(m === 4, lit("https://x.com/wp-content/uploads/2023-12-01/img.jpg"))
        .as("raw_image"),
      when(m === 1, when(sz % 2 === 0, "leasehold 30 years")
        .otherwise(lit("Landsize 450 sqm\nnice villa")))
        .when(m === 5, when(sz % 3 === 0, "freehold opportunity")
          .otherwise(lit("plain")))
        .otherwise(lit("plain")).as("raw_desc"),
      when(m === 0, concat(lit("KB"), k))
        .when(m === 3, concat(lit("HB"), k))
        .when(m === 4, concat(lit("SV"), k)).as("raw_pid"),
      when(m === 2, lit("25"))
        .when(m === 3, when(sz % 2 === 0, "Leasehold 25 years")
          .otherwise(lit("cash only"))).as("lease_text"),
      when(m === 4, lit("25")).as("table_leasing"),
      when(m === 1, lit("2023-05-04"))
        .when(m === 5, lit("04 May 2023")).as("raw_date"))
    standardize(raw, asOf, Set("kibarer", "lazudi", "gillesdemunter",
      "heritagebali", "svahaproperty", "ppbali"))
      .select("url", "source", "title", "property_id",
        "location", "contract_type", "property_type", "leasehold_years",
        "bedrooms", "bathrooms", "land_size", "build_size", "price",
        "currency", "availability", "listed_date")
  }

  /** Third profile correctness query: luxindoproperty, rajavillaproperty,
    * unrealbali, suasarealestate, tealestate, balirealty — including
    * unrealbali's yield-inside-if row gate (rows whose calendar cell
    * parses to years are never emitted), suasa/balirealty's
    * null-contract gates, raja's title-location repair and glue-strip
    * guard, and teal's missing-contract → Delisted fixup.
    */
  def q60SourceProfiles3(s: SparkSession, d: String): DataFrame = {
    val asOf = LocalDate.of(2026, 1, 1)
    val k = col("p_partkey").cast("string")
    val m = col("p_partkey") % 6
    val sz = col("p_size")
    val raw = Tables.part(s, d).select(
      when(m === 0, concat(lit("https://lx.example/"), k))
        .when(m === 1, concat(lit("https://rv.example/"), k))
        .when(m === 2, concat(lit("https://ur.example/"), k))
        .when(m === 3, concat(lit("https://sv2.example/villa/"), k))
        .when(m === 4, concat(lit("https://te.example/"), k))
        .otherwise(concat(lit("https://br.example/"), k)).as("url"),
      when(m === 0, "luxindoproperty").when(m === 1, "rajavillaproperty")
        .when(m === 2, "unrealbali").when(m === 3, "suasarealestate")
        .when(m === 4, "tealestate").otherwise("balirealty").as("source"),
      when(m === 0, lit("Luxindo Villa"))
        .when(m === 1, when(sz % 3 === 0, "Leasehold villa in Seminyak - Raja")
          .otherwise("Villa Indah"))
        .when(m === 2, lit("Unreal Villa"))
        .when(m === 3, lit("Villa Asri in Ubud"))
        .when(m === 4, lit("Teal Villa"))
        .otherwise(lit("Realty Villa")).as("raw_title"),
      when(m === 0, lit("AltLoc"))
        .when(m === 4, when(sz % 7 === 0, "Sold"))
        .when(m === 5, lit("sale pending")).as("alt_title"),
      when(m === 0, when(sz % 2 === 0, "Sanur"))
        .when(m === 1, when(sz % 2 === 0, "Canggu"))
        .when(m === 2 || m === 4 || m === 5,
          concat(lit("Area"), sz.cast("string"))).as("raw_location"),
      when(m === 0, when(sz % 2 === 0, "Leasehold").otherwise(""))
        .when(m === 1, when(sz % 7 === 0, "Featured,Sold"))
        .when(m === 2, when(sz % 7 === 0, "Sold,Leasehold")
          .when(sz % 2 === 0, "Leasehold").otherwise("Freehold"))
        .when(m === 3, when(sz % 6 === 0, lit(null))
          .when(sz % 2 === 0, "Leasehold").otherwise("Freehold"))
        .when(m === 4, when(sz % 4 === 0, lit(null)).otherwise("Freehold"))
        .otherwise(when(sz % 5 === 0, lit(null))
          .when(sz % 3 === 0, "For Sale").otherwise("Leasehold listing"))
        .as("raw_contract"),
      when(m === 0 || m === 2 || m === 5, lit("Villa")).as("raw_type"),
      when(m === 1, lit("IDR 1,500,000,000"))
        .when(m === 2, lit("USD 250,000"))
        .when(m === 3, lit("IDR 2,000,000,000"))
        .when(m === 4, lit("3,500,000,000"))
        .when(m === 5, lit("IDR 1,750,000,000")).as("raw_price"),
      when(m === 0, when(sz % 5 =!= 0, (col("p_partkey") * 11).cast("string")))
        .as("json_price"),
      when(m === 0, when(sz % 3 === 0, "usd")).as("json_currency"),
      when(m === 0 || m === 2, lit("3"))
        .when(m === 1 || m === 4, lit("2"))
        .otherwise(lit("3")).as("raw_beds"),
      when(m === 0, lit(null).cast("string"))
        .when(m === 1 || m === 4, lit("1")).otherwise(lit("2")).as("raw_baths"),
      when(m === 0 || m === 3 || m === 5, lit("450"))
        .when(m === 1, when(sz % 4 =!= 0, "400"))
        .when(m === 2 || m === 4, lit("400-500")).as("raw_land"),
      when(m === 0 || m === 3 || m === 5, lit("250"))
        .when(m === 1, lit("200"))
        .when(m === 2, lit("100/200"))
        .when(m === 4, lit("150,5")).as("raw_build"),
      lit(null).cast("string").as("raw_image"),
      when(m === 2, when(sz % 3 === 0, "leasehold 30 years").otherwise("plain"))
        .when(m === 5, when(sz % 2 === 1, "leasehold 30 years").otherwise("plain"))
        .otherwise(lit("plain")).as("raw_desc"),
      when(m === 0, concat(lit("LX"), k)).when(m === 1, concat(lit("RV"), k))
        .when(m === 2, concat(lit("UR"), k)).when(m === 3, concat(lit("SS"), k))
        .when(m === 4, concat(lit("TE"), k))
        .otherwise(concat(lit("BR"), k)).as("raw_pid"),
      when(m === 0, lit("25 years"))
        .when(m === 1, when(sz % 3 === 0, "25 years"))
        .when(m === 2, when(sz % 5 === 0, "30/40"))
        .when(m === 3, when(sz % 7 === 0, "Sold"))
        .when(m === 4, lit("25 years"))
        .when(m === 5, when(sz % 7 === 0, "Yes")).as("lease_text"),
      when(m === 3, lit("25 years")).as("table_leasing"),
      when(m === 0, lit("2023-05-04"))
        .when(m === 1, lit("{\"datePublished\":\"2023-05-04\"}"))
        .when(m === 2, lit("2023-05-04"))
        .when(m === 3, lit("{\"datePublished\":\"2023-06-15\"}"))
        .when(m === 4, lit("{\"datePublished\":\"2023-07-20\"}"))
        .otherwise(lit("{\"datePublished\":\"2023-05-04T10:00:00+08:00\"}"))
        .as("raw_date"))
    standardize(raw, asOf, Set("luxindoproperty", "rajavillaproperty",
      "unrealbali", "suasarealestate", "tealestate", "balirealty"))
      .select("url", "source", "title", "property_id",
        "location", "contract_type", "property_type", "leasehold_years",
        "bedrooms", "bathrooms", "land_size", "build_size", "price",
        "currency", "availability", "listed_date", "description")
  }

  /** Fourth profile correctness query: balitreasureproperties,
    * balihomeimmo, balipropertiesforsale, propertiabali,
    * balirealestateconsultants, baliexception — including treasure's
    * "None, None" f-string location + type-appended-contract + N/A title,
    * bpfs's case-sensitive "lease" probe and Sold -1 price default,
    * consultants' expiration-delta years + equal-sizes build drop +
    * title-bedroom backfill, and exception's en-dash range chains +
    * pipe-segment location.
    */
  def q61SourceProfiles4(s: SparkSession, d: String): DataFrame = {
    val asOf = LocalDate.of(2026, 1, 1)
    val k = col("p_partkey").cast("string")
    val m = col("p_partkey") % 6
    val sz = col("p_size")
    val raw = Tables.part(s, d).select(
      when(m === 0, concat(lit("https://bt.example/"), k))
        .when(m === 1, concat(lit("https://bh.example/"), k))
        .when(m === 2, concat(lit("https://bp.example/"), k))
        .when(m === 3, concat(lit("https://pb.example/"), k))
        .when(m === 4, concat(lit("https://bc.example/"), k))
        .otherwise(concat(lit("https://be.example/"), k)).as("url"),
      when(m === 0, "balitreasureproperties").when(m === 1, "balihomeimmo")
        .when(m === 2, "balipropertiesforsale").when(m === 3, "propertiabali")
        .when(m === 4, "balirealestateconsultants")
        .otherwise("baliexception").as("source"),
      when(m === 0, when(sz % 4 =!= 0, "Treasure Villa"))
        .when(m === 1, concat(lit("Immo Villa - BH"), k))
        .when(m === 2, lit("Villa in Nusa Dua"))
        .when(m === 3, lit("Propertia Villa"))
        .when(m === 4, lit("Consult Villa 2 Bedrooms"))
        .otherwise(when(sz % 6 =!= 0,
          when(sz % 3 === 0, "Leasehold Villa | Pererenan")
            .otherwise("Villa in Umalas"))).as("raw_title"),
      when(m === 0, when(sz % 3 === 0, "Umalas"))
        .when(m === 3, when(sz % 7 === 0, "Sold out"))
        .when(m === 4, when(sz % 7 === 0, "Sold")).as("alt_title"),
      when(m === 0, lit("Badung"))
        .when(m === 1 || m === 4, concat(lit("Area"), sz.cast("string")))
        .when(m === 2, when(sz % 4 =!= 0, "Kuta"))
        .when(m === 3, concat(lit("Area"), sz.cast("string")))
        .when(m === 5, when(sz % 2 === 0, "Canggu")).as("raw_location"),
      when(m === 0, when(sz % 5 === 0, lit(null))
        .when(sz % 2 === 0, "Leasehold sale").otherwise("Sale"))
        .when(m === 1, when(sz % 3 === 0, "Leasehold badge")
          .when(sz % 3 === 1, "Freehold badge"))
        .when(m === 2, when(sz % 5 === 0, lit(null))
          .when(sz % 2 === 0, "leasehold").otherwise("Freehold"))
        .when(m === 3, when(sz % 2 === 0, "Freehold Land Plot")
          .otherwise("Leasehold Villa Property")).as("raw_contract"),
      when(m === 0, lit("villa unit"))
        .when(m === 2, lit("Villa,Luxury"))
        .when(m === 5, when(sz % 4 === 0, "Land")).as("raw_type"),
      when(m === 1, lit("2,500,000,000"))
        .when(m === 3, lit("Rp 3.000.000.000"))
        .when(m === 4, lit("USD 450,000"))
        .when(m === 5, lit("USD 500,000")).as("raw_price"),
      when(m === 0, (col("p_partkey") * 9).cast("string"))
        .when(m === 2, when(sz % 3 =!= 0, (col("p_partkey") * 13).cast("string")))
        .as("json_price"),
      when(m === 0, lit("usd")).when(m === 1, lit("Rp"))
        .when(m === 2, lit("USD")).as("json_currency"),
      when(m === 0, lit("3")).when(m === 1, lit("2"))
        .when(m === 2, lit("3")).when(m === 3, lit("4"))
        .when(m === 4, when(sz % 3 === 0, "0").otherwise("3"))
        .otherwise(when(sz % 5 =!= 0, "3–4")).as("raw_beds"),
      when(m === 0 || m === 4, lit("2")).when(m === 1, lit("1"))
        .when(m === 2, lit("2,5")).when(m === 3, lit("3"))
        .otherwise(lit("2/3")).as("raw_baths"),
      when(m === 0, lit("450")).when(m === 1, lit("400"))
        .when(m === 2, lit("450")).when(m === 3, lit("5.5 are"))
        .when(m === 4, lit("400-500 m2"))
        .otherwise(lit("600–700")).as("raw_land"),
      when(m === 0, lit("250")).when(m === 1, lit("200"))
        .when(m === 2, lit("250,5")).when(m === 3, lit("2,5 are"))
        .when(m === 4, when(sz % 5 === 0, "500").otherwise("250"))
        .otherwise(lit("300")).as("raw_build"),
      lit(null).cast("string").as("raw_image"),
      when(m === 3, when(sz % 3 === 0, "leasehold 30 years").otherwise("plain"))
        .otherwise(lit("plain")).as("raw_desc"),
      when(m === 0, concat(lit("BT"), k)).when(m === 2, concat(lit("BP"), k))
        .when(m === 3, concat(lit("PB"), k)).when(m === 4, concat(lit("BC"), k))
        .when(m === 5, concat(lit("BE"), k)).as("raw_pid"),
      when(m === 0, lit("25"))
        .when(m === 1, when(sz % 7 === 0, "yes"))
        .when(m === 2, lit("25"))
        .when(m === 4, lit("2051"))
        .when(m === 5, lit("25+")).as("lease_text"),
      when(m === 0, when(sz % 7 === 0, "Sold"))
        .when(m === 1, lit("30"))
        .when(m === 2, when(sz % 7 === 0, "yes"))
        .when(m === 4, when(sz % 6 === 0, "0").when(sz % 2 === 0, "25"))
        .as("table_leasing"),
      when(m === 0, lit("2023-05-04T10:00:00"))
        .when(m === 2, lit("2023-05-04 10:00:00"))
        .when(m === 3, lit("{\"datePublished\":\"2023-08-10\"}")).as("raw_date"))
    standardize(raw, asOf, Set("balitreasureproperties", "balihomeimmo",
      "balipropertiesforsale", "propertiabali", "balirealestateconsultants",
      "baliexception"))
      .select("url", "source", "title", "property_id",
        "location", "contract_type", "property_type", "leasehold_years",
        "bedrooms", "bathrooms", "land_size", "build_size", "price",
        "currency", "availability", "listed_date", "description")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_source_profiles" -> (q55SourceProfiles _),
    "q59_source_profiles2" -> (q59SourceProfiles2 _),
    "q60_source_profiles3" -> (q60SourceProfiles3 _),
    "q61_source_profiles4" -> (q61SourceProfiles4 _))

  /** The oracle mirrors what each profile must produce for the synthesized
    * inputs: the string synthesis collapses, so every output field is a
    * CASE over the same modulus classes the Spark side synthesizes from.
    */
  val oracle: Map[String, String] = Map(
    "q60_source_profiles3" ->
      """WITH base AS (SELECT p_partkey AS k, p_partkey % 6 AS m, p_size AS sz
        |  FROM part
        |  WHERE NOT (p_partkey % 6 = 2 AND p_size % 5 = 0)
        |    AND NOT (p_partkey % 6 = 3 AND p_size % 6 = 0)
        |    AND NOT (p_partkey % 6 = 5 AND p_size % 5 = 0))
        |SELECT
        |  CASE WHEN m = 0 THEN 'https://lx.example/' || k
        |       WHEN m = 1 THEN 'https://rv.example/' || k
        |       WHEN m = 2 THEN 'https://ur.example/' || k
        |       WHEN m = 3 THEN 'https://sv2.example/villa/' || k
        |       WHEN m = 4 THEN 'https://te.example/' || k
        |       ELSE 'https://br.example/' || k END AS url,
        |  CASE WHEN m = 0 THEN 'luxindoproperty' WHEN m = 1 THEN 'rajavillaproperty'
        |       WHEN m = 2 THEN 'unrealbali' WHEN m = 3 THEN 'suasarealestate'
        |       WHEN m = 4 THEN 'tealestate' ELSE 'balirealty' END AS source,
        |  CASE WHEN m = 0 THEN 'Luxindo Villa'
        |       WHEN m = 1 THEN CASE WHEN sz % 3 = 0
        |            THEN 'Leasehold villa in Seminyak - Raja'
        |            ELSE 'Villa Indah' END
        |       WHEN m = 2 THEN 'Unreal Villa'
        |       WHEN m = 3 THEN 'Villa Asri in Ubud'
        |       WHEN m = 4 THEN 'Teal Villa'
        |       ELSE 'Realty Villa' END AS title,
        |  CASE WHEN m = 0 THEN 'LX' || k WHEN m = 1 THEN 'RV' || k
        |       WHEN m = 2 THEN 'UR' || k WHEN m = 3 THEN 'SS' || k
        |       WHEN m = 4 THEN 'TE' || k ELSE 'BR' || k END AS property_id,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Sanur' ELSE 'AltLoc' END
        |       WHEN m = 1 THEN CASE WHEN sz % 2 = 0 THEN 'Canggu'
        |            WHEN sz % 3 = 0 THEN 'Seminyak' END
        |       WHEN m = 3 THEN 'Ubud'
        |       ELSE 'Area' || sz END AS location,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 1 THEN
        |         CASE WHEN sz % 3 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 2 THEN CASE WHEN sz % 7 = 0 OR sz % 2 = 0
        |            THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 3 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 4 THEN
        |         CASE WHEN sz % 4 = 0 THEN NULL ELSE 'Freehold' END
        |       ELSE CASE WHEN sz % 3 = 0 THEN 'Freehold'
        |            ELSE 'Leasehold' END END AS contract_type,
        |  'Villa' AS property_type,
        |  CAST(CASE WHEN m = 0 THEN CASE WHEN sz % 2 = 0 THEN 25 END
        |       WHEN m = 1 THEN CASE WHEN sz % 3 = 0 THEN 25 END
        |       WHEN m = 2 THEN CASE WHEN sz % 3 = 0 THEN 30 END
        |       WHEN m = 3 THEN CASE WHEN sz % 2 = 0 THEN 25 END
        |       WHEN m = 4 THEN 25
        |       ELSE CASE WHEN sz % 2 = 1 THEN 30 END END AS DOUBLE)
        |    AS leasehold_years,
        |  CAST(CASE WHEN m = 1 OR m = 4 THEN 2 ELSE 3 END AS DOUBLE)
        |    AS bedrooms,
        |  CAST(CASE WHEN m = 0 THEN NULL WHEN m = 1 OR m = 4 THEN 1
        |       ELSE 2 END AS DOUBLE) AS bathrooms,
        |  CAST(CASE WHEN m = 0 OR m = 3 OR m = 5 THEN 450
        |       WHEN m = 1 THEN CASE WHEN sz % 4 = 0 THEN NULL ELSE 400 END
        |       ELSE 500 END AS DOUBLE) AS land_size,
        |  CAST(CASE WHEN m = 0 OR m = 3 OR m = 5 THEN 250
        |       WHEN m = 1 OR m = 2 THEN 200
        |       ELSE 150.5 END AS DOUBLE) AS build_size,
        |  CAST(CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 5 = 0 THEN -1 ELSE k * 11 END
        |       WHEN m = 1 THEN 1500000000
        |       WHEN m = 2 THEN 250000
        |       WHEN m = 3 THEN 2000000000
        |       WHEN m = 4 THEN 3500000000
        |       ELSE 1750000000 END AS DOUBLE) AS price,
        |  CASE WHEN m = 0 THEN CASE WHEN sz % 3 = 0 THEN 'USD' ELSE 'IDR' END
        |       WHEN m = 2 THEN 'USD' ELSE 'IDR' END AS currency,
        |  CASE WHEN m = 0 THEN 'Available'
        |       WHEN m = 4 THEN CASE WHEN sz % 4 = 0 THEN 'Delisted'
        |            WHEN sz % 7 = 0 THEN 'Sold' ELSE 'Available' END
        |       ELSE CASE WHEN sz % 7 = 0 THEN 'Sold'
        |            ELSE 'Available' END END AS availability,
        |  CASE WHEN m = 0 THEN '2023-05-04'
        |       WHEN m = 1 OR m = 2 THEN '05/04/23'
        |       WHEN m = 3 THEN '06/15/23'
        |       WHEN m = 4 THEN '07/20/23'
        |       ELSE '05/04/2023' END AS listed_date,
        |  CASE WHEN m = 2 THEN CASE WHEN sz % 3 = 0
        |            THEN 'leasehold 30 years' ELSE 'plain' END
        |       WHEN m = 5 THEN CASE WHEN sz % 2 = 1
        |            THEN 'leasehold 30 years' ELSE 'plain' END
        |       ELSE 'plain' END AS description
        |FROM base""".stripMargin,
    "q61_source_profiles4" ->
      """WITH base AS (SELECT p_partkey AS k, p_partkey % 6 AS m, p_size AS sz
        |  FROM part
        |  WHERE NOT (p_partkey % 6 = 0 AND p_size % 5 = 0)
        |    AND NOT (p_partkey % 6 = 2 AND p_size % 5 = 0)
        |    AND NOT (p_partkey % 6 = 5 AND p_size % 6 = 0))
        |SELECT
        |  CASE WHEN m = 0 THEN 'https://bt.example/' || k
        |       WHEN m = 1 THEN 'https://bh.example/' || k
        |       WHEN m = 2 THEN 'https://bp.example/' || k
        |       WHEN m = 3 THEN 'https://pb.example/' || k
        |       WHEN m = 4 THEN 'https://bc.example/' || k
        |       ELSE 'https://be.example/' || k END AS url,
        |  CASE WHEN m = 0 THEN 'balitreasureproperties'
        |       WHEN m = 1 THEN 'balihomeimmo'
        |       WHEN m = 2 THEN 'balipropertiesforsale'
        |       WHEN m = 3 THEN 'propertiabali'
        |       WHEN m = 4 THEN 'balirealestateconsultants'
        |       ELSE 'baliexception' END AS source,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 4 = 0 THEN 'N/A' ELSE 'Treasure Villa' END
        |       WHEN m = 1 THEN 'Immo Villa - BH' || k
        |       WHEN m = 2 THEN 'Villa in Nusa Dua'
        |       WHEN m = 3 THEN 'Propertia Villa'
        |       WHEN m = 4 THEN 'Consult Villa 2 Bedrooms'
        |       ELSE CASE WHEN sz % 3 = 0 THEN 'Leasehold Villa | Pererenan'
        |            ELSE 'Villa in Umalas' END END AS title,
        |  CASE WHEN m = 0 THEN 'BT' || k WHEN m = 1 THEN 'BH' || k
        |       WHEN m = 2 THEN 'BP' || k WHEN m = 3 THEN 'PB' || k
        |       WHEN m = 4 THEN 'BC' || k ELSE 'BE' || k END AS property_id,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 3 = 0 THEN 'Umalas, Badung'
        |              ELSE 'None, Badung' END
        |       WHEN m = 2 THEN
        |         CASE WHEN sz % 4 = 0 THEN 'Nusa Dua' ELSE 'Kuta' END
        |       WHEN m = 5 THEN CASE WHEN sz % 2 = 0 THEN 'Canggu'
        |            WHEN sz % 3 = 0 THEN 'Pererenan' ELSE 'Umalas' END
        |       ELSE 'Area' || sz END AS location,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 4 = 0 THEN
        |           CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |         ELSE CASE WHEN sz % 2 = 0 THEN 'Leasehold Villa'
        |              ELSE 'Freehold Villa' END END
        |       WHEN m = 1 THEN CASE WHEN sz % 3 = 0 THEN 'Leasehold'
        |            WHEN sz % 3 = 1 THEN 'Freehold' END
        |       WHEN m = 2 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'leasehold' ELSE 'Freehold' END
        |       WHEN m = 3 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Freehold' ELSE 'Leasehold' END
        |       WHEN m = 4 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       ELSE CASE WHEN sz % 3 = 0 THEN 'Leasehold'
        |            ELSE 'Freehold' END END AS contract_type,
        |  CASE WHEN m = 0 THEN NULL
        |       WHEN m = 3 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Land' ELSE 'Villa' END
        |       WHEN m = 5 THEN
        |         CASE WHEN sz % 4 = 0 THEN 'Land' ELSE 'Villa' END
        |       ELSE 'Villa' END AS property_type,
        |  CAST(CASE WHEN m = 0 THEN CASE WHEN sz % 2 = 0 THEN 25 END
        |       WHEN m = 1 THEN CASE WHEN sz % 3 = 0 THEN 30 END
        |       WHEN m = 2 THEN CASE WHEN sz % 2 = 0 THEN 25 END
        |       WHEN m = 3 THEN
        |         CASE WHEN sz % 2 = 1 AND sz % 3 = 0 THEN 30 END
        |       WHEN m = 4 THEN CASE WHEN sz % 2 = 0 THEN 25 END
        |       ELSE 25 END AS DOUBLE) AS leasehold_years,
        |  CAST(CASE WHEN m = 0 OR m = 2 THEN 3 WHEN m = 1 THEN 2
        |       WHEN m = 3 THEN 4
        |       WHEN m = 4 THEN CASE WHEN sz % 3 = 0 THEN 2 ELSE 3 END
        |       ELSE CASE WHEN sz % 5 = 0 THEN NULL ELSE 4 END END AS DOUBLE)
        |    AS bedrooms,
        |  CAST(CASE WHEN m = 0 OR m = 4 THEN 2 WHEN m = 1 THEN 1
        |       WHEN m = 2 THEN 2.5 WHEN m = 3 THEN 3
        |       ELSE 3 END AS DOUBLE) AS bathrooms,
        |  CAST(CASE WHEN m = 0 OR m = 2 THEN 450 WHEN m = 1 THEN 400
        |       WHEN m = 3 THEN 550 WHEN m = 4 THEN 500
        |       ELSE 700 END AS DOUBLE) AS land_size,
        |  CAST(CASE WHEN m = 0 THEN 250 WHEN m = 1 THEN 200
        |       WHEN m = 2 THEN 250.5 WHEN m = 3 THEN 250
        |       WHEN m = 4 THEN CASE WHEN sz % 5 = 0 THEN NULL ELSE 250 END
        |       ELSE 300 END AS DOUBLE) AS build_size,
        |  CAST(CASE WHEN m = 0 THEN k * 9
        |       WHEN m = 1 THEN 2500000000
        |       WHEN m = 2 THEN CASE WHEN sz % 3 = 0 THEN
        |           CASE WHEN sz % 7 = 0 THEN -1 ELSE NULL END
        |         ELSE k * 13 END
        |       WHEN m = 3 THEN 3000000000
        |       WHEN m = 4 THEN 450000
        |       ELSE 500000 END AS DOUBLE) AS price,
        |  CASE WHEN m = 0 OR m = 2 OR m = 4 OR m = 5 THEN 'USD'
        |       ELSE 'IDR' END AS currency,
        |  CASE WHEN m = 0 THEN CASE WHEN sz % 4 = 0 THEN 'Delisted'
        |            WHEN sz % 7 = 0 THEN 'Sold' ELSE 'Available' END
        |       WHEN m = 5 THEN 'Available'
        |       ELSE CASE WHEN sz % 7 = 0 THEN 'Sold'
        |            ELSE 'Available' END END AS availability,
        |  CASE WHEN m = 0 THEN '2023-05-04'
        |       WHEN m = 2 THEN '05/04/23'
        |       WHEN m = 3 THEN '08/10/23' END AS listed_date,
        |  CASE WHEN m = 3 THEN CASE WHEN sz % 3 = 0
        |            THEN 'leasehold 30 years' ELSE 'plain' END
        |       ELSE 'plain' END AS description
        |FROM base""".stripMargin,
    "q59_source_profiles2" ->
      """WITH base AS (SELECT p_partkey AS k, p_partkey % 6 AS m, p_size AS sz
        |  FROM part
        |  WHERE NOT (p_partkey % 6 = 0 AND p_size % 5 = 0)
        |    AND NOT (p_partkey % 6 = 5 AND p_size % 5 = 0))
        |SELECT
        |  CASE WHEN m = 0 THEN 'https://kb.example/' || k
        |       WHEN m = 1 THEN 'https://lz.example/' || k
        |       WHEN m = 2 THEN 'https://gd.example/p/' || k
        |       WHEN m = 3 THEN 'https://hb.example/' || k
        |       WHEN m = 4 THEN 'https://sv.example/' || k
        |       ELSE 'https://pp.example/' || k END AS url,
        |  CASE WHEN m = 0 THEN 'kibarer' WHEN m = 1 THEN 'lazudi'
        |       WHEN m = 2 THEN 'gillesdemunter' WHEN m = 3 THEN 'heritagebali'
        |       WHEN m = 4 THEN 'svahaproperty' ELSE 'ppbali' END AS source,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 7 = 0 THEN 'Plain plot of land'
        |              ELSE 'Stunning villa retreat' END
        |       WHEN m = 1 THEN 'Lazudi Villa'
        |       WHEN m = 2 THEN 'Villa Sunset'
        |       WHEN m = 3 THEN 'Heritage Villa'
        |       WHEN m = 4 THEN 'Svaha Villa'
        |       ELSE 'Paradise Villa' END AS title,
        |  CASE WHEN m = 0 THEN 'KB' || k
        |       WHEN m = 2 THEN 'listing'
        |       WHEN m = 3 THEN 'HB' || k
        |       WHEN m = 4 THEN 'SV' || k END AS property_id,
        |  CASE WHEN m = 0 THEN 'Area' || sz
        |       WHEN m = 3 THEN ''
        |       WHEN m = 4 THEN 'Area' || sz END AS location,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 1 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 2 THEN 'Freehold'
        |       WHEN m = 3 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 4 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Freehold' ELSE 'Leasehold' END
        |       ELSE CASE WHEN sz % 3 = 2 THEN 'Leasehold'
        |            ELSE 'Freehold' END END AS contract_type,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 7 = 0 THEN 'Land' ELSE 'Villa' END
        |       WHEN m = 1 THEN NULL
        |       WHEN m = 4 THEN 'Villa'
        |       ELSE 'Villa' END AS property_type,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 2 = 0 THEN 25.0 END
        |       WHEN m = 1 THEN CASE WHEN sz % 2 = 0 THEN 30.0 END
        |       WHEN m = 2 THEN 25.0
        |       WHEN m = 3 THEN CASE WHEN sz % 2 = 0 THEN 25.0 END
        |       WHEN m = 4 THEN CASE WHEN sz % 2 = 1 THEN 25.0 END
        |       ELSE CASE WHEN sz % 3 = 2 THEN 25.0 END END AS leasehold_years,
        |  CASE WHEN m = 0 THEN CAST(sz % 4 AS DOUBLE)
        |       WHEN m = 2 THEN CASE WHEN sz % 4 <> 0
        |            THEN CAST(sz % 5 AS DOUBLE) END
        |       WHEN m = 3 THEN CAST(sz % 6 AS DOUBLE)
        |       END AS bedrooms,
        |  CASE WHEN m = 2 AND sz % 4 <> 0
        |       THEN CAST(sz % 3 AS DOUBLE) END AS bathrooms,
        |  CASE WHEN m = 0 THEN 550.0
        |       WHEN m = 1 THEN CASE WHEN sz % 2 = 1 THEN 450.0 END
        |       WHEN m = 3 THEN 450.0
        |       WHEN m = 4 THEN 500.5 END AS land_size,
        |  CASE WHEN m = 0 THEN 250.0
        |       WHEN m = 3 THEN 250.0
        |       WHEN m = 4 THEN 200.75 END AS build_size,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 3 = 0 THEN CAST(k * 100 AS DOUBLE)
        |              WHEN sz % 3 = 1 THEN CAST(k * 2 AS DOUBLE)
        |              ELSE -1.0 END
        |       WHEN m = 1 THEN 4500000000.0
        |       WHEN m = 2 THEN 1250000.0
        |       WHEN m = 3 THEN 1500000.0
        |       WHEN m = 4 THEN 2000000000.0
        |       ELSE CAST(500000001 + k AS DOUBLE) END AS price,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 3 = 0 THEN 'IDR' ELSE 'USD' END
        |       WHEN m = 1 THEN 'IDR'
        |       WHEN m = 2 THEN 'USD'
        |       WHEN m = 3 THEN 'USD'
        |       WHEN m = 4 THEN 'IDR'
        |       ELSE 'IDR' END AS currency,
        |  CASE WHEN m = 2 AND sz % 4 = 0 THEN 'Delisted'
        |       ELSE 'Available' END AS availability,
        |  CASE WHEN m = 1 THEN '05/04/23'
        |       WHEN m = 4 THEN '12/01/23'
        |       WHEN m = 5 THEN '05/04/23' END AS listed_date
        |FROM base""".stripMargin,
    "q55_source_profiles" ->
      """WITH base AS (SELECT p_partkey AS k, p_partkey % 6 AS m, p_size AS sz,
        |  p_type, p_brand FROM part)
        |SELECT
        |  CASE WHEN m = 0 THEN 'https://ubud.example/' || k
        |       WHEN m = 1 THEN
        |         CASE WHEN sz % 3 = 1 THEN 'https://dot.example/for-sale/' || k
        |              ELSE 'https://dot.example/item/' || k END
        |       WHEN m = 2 THEN 'https://bali.example/' || k
        |       WHEN m = 3 THEN 'https://exotiq.example/' || k
        |       WHEN m = 4 THEN 'https://bm.example/' || k
        |       ELSE 'https://rw.example/' || k END AS url,
        |  CASE WHEN m = 0 THEN 'ubudproperty' WHEN m = 1 THEN 'dotproperty'
        |       WHEN m = 2 THEN 'balivillasales' WHEN m = 3 THEN 'exotiqproperty'
        |       WHEN m = 4 THEN 'balimoves' ELSE 'raywhite' END AS source,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 5 = 0 THEN 'UB' || k || ' (ref)'
        |              ELSE 'Elegant ' || p_type || ' retreat' END
        |       WHEN m = 1 THEN 'Charming ' || p_brand
        |       WHEN m = 2 THEN CASE WHEN sz % 4 = 0 THEN NULL
        |            ELSE 'Tropical villa in Ubud' END
        |       WHEN m = 3 THEN 'Exotiq listing'
        |       WHEN m = 4 THEN CASE WHEN sz % 2 = 0 THEN 'Modern villa'
        |            ELSE 'Land plot' END
        |       ELSE 'RW listing' END AS title,
        |  CASE WHEN m = 0 THEN 'UB' || k WHEN m = 1 THEN 'DP-' || k
        |       WHEN m = 2 THEN 'VOB-' || k WHEN m = 3 THEN 'EX-' || k
        |       WHEN m = 4 THEN 'BM-' || k ELSE 'RW-' || k END AS property_id,
        |  CASE WHEN m = 0 THEN 'Ubud'
        |       WHEN m = 1 THEN 'Area' || sz
        |       WHEN m = 2 THEN CASE WHEN sz % 4 <> 0 THEN 'Ubud' END
        |       ELSE 'Area' || sz END AS location,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 1 THEN
        |         CASE WHEN sz % 3 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 2 THEN CASE WHEN sz % 5 = 0 THEN 'leasehold option'
        |            ELSE 'Freehold title' END
        |       WHEN m = 3 THEN
        |         CASE WHEN sz % 2 = 0 THEN 'Leasehold' ELSE 'Freehold' END
        |       WHEN m = 4 THEN
        |         CASE WHEN sz % 3 = 1 THEN 'Rent' ELSE 'Leasehold' END
        |       ELSE CASE WHEN sz % 5 = 0 THEN 'Leasehold'
        |            WHEN sz % 4 = 0 THEN 'Leasehold'
        |            WHEN sz % 3 = 1 THEN 'Freehold'
        |            ELSE '' END END AS contract_type,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 4 <> 0 AND sz % 6 <> 0 THEN 'Villa'
        |              ELSE 'Land' END
        |       WHEN m = 1 THEN CASE WHEN sz % 2 = 0 THEN 'Villa' END
        |       WHEN m = 2 THEN CASE WHEN sz % 6 = 0 THEN 'Land'
        |            WHEN sz % 4 = 0 THEN NULL ELSE 'Villa' END
        |       WHEN m = 3 THEN 'Villa'
        |       WHEN m = 4 THEN CASE WHEN sz % 2 = 0 THEN 'Villa' ELSE 'Land' END
        |       ELSE CASE WHEN sz % 3 = 0 THEN 'House'
        |            WHEN sz % 3 = 1 THEN 'Villa' ELSE 'Land' END
        |       END AS property_type,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 2 = 0 AND sz % 3 = 0
        |              THEN CAST(20 + sz % 30 AS DOUBLE) END
        |       WHEN m = 1 THEN CASE WHEN sz % 3 = 0 THEN 30.0 END
        |       WHEN m = 2 THEN CASE WHEN sz % 5 = 0 THEN 30.0 END
        |       WHEN m = 3 THEN CASE WHEN sz % 2 = 0 THEN 25.0 END
        |       WHEN m = 4 THEN CASE WHEN sz % 3 = 0 THEN 25.0 END
        |       ELSE CASE WHEN sz % 4 = 0 OR sz % 5 = 0 THEN 30.0 END
        |       END AS leasehold_years,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 4 = 0 THEN NULL
        |              ELSE CAST(sz % 6 AS DOUBLE) END
        |       WHEN m = 1 THEN CASE WHEN sz % 3 = 1 THEN 3.0 END
        |       WHEN m = 2 THEN CASE WHEN sz % 5 = 0 THEN NULL
        |            ELSE CAST(sz % 5 AS DOUBLE) END
        |       WHEN m = 3 THEN CAST(sz % 3 AS DOUBLE)
        |       ELSE CASE WHEN sz % 2 = 0 THEN 2.0 END END AS bedrooms,
        |  CASE WHEN m = 1 THEN CASE WHEN sz % 3 = 1 THEN 450.0 END
        |       WHEN m = 2 THEN CAST(sz + 100 AS DOUBLE)
        |       WHEN m = 4 THEN CAST(sz + 20 AS DOUBLE)
        |       WHEN m = 5 THEN CAST(sz + 10 AS DOUBLE)
        |       END AS land_size,
        |  CASE WHEN m = 2 AND sz % 6 <> 0
        |       THEN CAST(sz + 50 AS DOUBLE) END AS build_size,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 9 = 0 THEN CAST(k * 2 AS DOUBLE)
        |              ELSE CAST(k * 1000 AS DOUBLE) END
        |       WHEN m = 1 THEN CAST(k * 1000 AS DOUBLE)
        |       WHEN m = 2 THEN CASE WHEN sz % 2 = 0 THEN CAST(k * 500 AS DOUBLE)
        |            ELSE 350000.0 END
        |       WHEN m = 3 THEN CAST(k * 3 AS DOUBLE)
        |       WHEN m = 4 THEN CASE WHEN sz % 3 = 0 THEN CAST(k * 10 AS DOUBLE)
        |            WHEN sz % 3 = 1 THEN 350000.0 END
        |       ELSE CASE WHEN sz % 6 = 0
        |            THEN CAST(k * 7 AS DOUBLE) * CAST(sz + 10 AS DOUBLE)
        |            ELSE CAST(k * 7 AS DOUBLE) END END AS price,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 9 = 0 THEN 'USD' ELSE 'IDR' END
        |       WHEN m = 1 THEN CASE WHEN sz % 2 = 0 THEN 'IDR' ELSE 'USD' END
        |       WHEN m = 2 THEN CASE WHEN sz % 2 = 0 THEN 'IDR' ELSE 'USD' END
        |       WHEN m = 3 THEN 'USD'
        |       WHEN m = 4 THEN CASE WHEN sz % 3 = 0 THEN 'IDR'
        |            WHEN sz % 3 = 1 THEN 'USD' END
        |       ELSE 'IDR' END AS currency,
        |  CASE WHEN m = 2 THEN
        |         CASE WHEN sz % 4 = 0 THEN 'Delisted'
        |              WHEN sz % 7 = 0 THEN 'Sold'
        |              ELSE 'Available' END
        |       WHEN m = 4 THEN
        |         CASE WHEN sz % 3 = 2 THEN 'Sold' ELSE 'Available' END
        |       WHEN m = 5 THEN
        |         CASE WHEN sz % 2 = 1 AND sz % 3 = 1 THEN 'Delisted'
        |              ELSE 'Available' END
        |       ELSE 'Available' END AS availability,
        |  CASE WHEN m = 0 THEN
        |         CASE WHEN sz % 5 = 0
        |              THEN 'Elegant ' || p_type || ' retreat with pool'
        |              ELSE ' with pool' END
        |       WHEN m = 1 THEN
        |         CASE WHEN sz % 3 = 0 THEN 'leasehold 30 years available'
        |              WHEN sz % 3 = 1 THEN 'has 3 bedrooms total. Land size: 450 m2'
        |              ELSE 'plain description' END
        |       WHEN m = 2 THEN CASE WHEN sz % 5 = 0 THEN 'leasehold 30 years'
        |            ELSE 'desc text' END
        |       WHEN m = 5 THEN CASE WHEN sz % 5 = 0 THEN 'leasehold 30 years'
        |            ELSE 'plain' END
        |       ELSE 'plain' END AS description
        |FROM base""".stripMargin)
}
