package graft

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Golden fixtures for the 24 wired source profiles — scenarios per
  * reference fixup path (e.g. spiders/ubudproperty.py:139-171,
  * spiders/dotproperty.py:117-175, spiders/balivillasales.py:120-157).
  * Parser inputs reuse strings already pinned against the executed
  * reference in ParseSpec, so the expectations compose pinned behavior.
  */
class SourceProfilesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val asOf = LocalDate.of(2026, 8, 15)

  private val rawCols = Seq("url", "source", "raw_title", "alt_title",
    "raw_location", "raw_contract", "raw_type", "raw_price", "json_price",
    "json_currency", "raw_beds", "raw_baths", "raw_land", "raw_build",
    "raw_image", "raw_desc", "raw_pid", "lease_text", "table_leasing",
    "raw_date")

  private val schema = StructType(rawCols.map(StructField(_, StringType)))

  private def raw(over: (String, String)*): DataFrame = {
    val m = over.toMap
    val row = Row(rawCols.map(c => m.getOrElse(c, null)): _*)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row)), schema)
  }

  private def run(over: (String, String)*): Map[String, Any] = {
    val out = SourceProfiles.standardize(raw(over: _*), asOf).collect()
    assert(out.length == 1)
    SourceProfiles.targets.zip(out.head.toSeq).toMap
  }

  test("ubudproperty: full listing — table cells, IDR price, title removed from desc") {
    val r = run(
      "url" -> "u1", "source" -> "ubudproperty",
      "raw_title" -> "  Beautiful Villa Estate  ",
      "alt_title" -> "UBV123 (3BR)",
      "raw_contract" -> "Leasehold", "raw_type" -> "VILLA modern",
      "raw_beds" -> "3", "raw_baths" -> "2",
      "raw_land" -> "Land size: 450 m2 with garden",
      "raw_build" -> "Building size 250 m2",
      "raw_price" -> "IDR 2,500,000,000",
      "raw_image" -> " http://x/img.jpg ",
      "raw_desc" -> "Beautiful Villa Estate with pool",
      "table_leasing" -> "25 year")
    assert(r("title") == "Beautiful Villa Estate")
    assert(r("property_id") == "UBV123")
    assert(r("location") == "Ubud")
    assert(r("contract_type") == "Leasehold")
    assert(r("property_type") == "Villa")
    assert(r("leasehold_years") == 25.0) // from the LEASING cell fixup
    assert(r("bedrooms") == 3.0 && r("bathrooms") == 2.0)
    assert(r("land_size") == 450.0 && r("build_size") == 250.0)
    assert(r("price") == 2.5e9 && r("currency") == "IDR")
    assert(r("availability") == "Available")
    assert(r("image_url") == "http://x/img.jpg")
    assert(r("description") == " with pool") // title text dropped, no trim
  }

  test("ubudproperty: dot title falls back to alt, type from beds-else-Land, freehold clears lease") {
    val r = run(
      "url" -> "u2", "source" -> "ubudproperty",
      "raw_title" -> ".", "alt_title" -> "LND77 (plot)",
      "raw_contract" -> "Freehold", "raw_type" -> "ESTATE prime",
      "raw_price" -> "USD 250,000", "lease_text" -> "2040",
      "raw_desc" -> "Prime plot")
    assert(r("title") == "LND77 (plot)")
    assert(r("property_id") == "LND77")
    // keyword search runs on the ORIGINAL title "." → no match, no beds → Land
    assert(r("property_type") == "Land")
    // loader found 2040→14.0 but Freehold always clears lease years
    assert(r("leasehold_years") == null)
    assert(r("price") == 250000.0 && r("currency") == "USD")
    assert(r("description") == "Prime plot")
  }

  test("dotproperty: ld+json price, lease cascade → Leasehold, after-colon id") {
    val r = run(
      "url" -> "https://dot.example/listing/123", "source" -> "dotproperty",
      "raw_title" -> " Stunning Villa ", "raw_location" -> " Canggu ",
      "raw_pid" -> "Ref: DP-991", "raw_type" -> " villa for sale ",
      "raw_beds" -> "3", "raw_baths" -> "2",
      "raw_land" -> "450", "raw_build" -> "250",
      "json_price" -> "3500000000", "json_currency" -> "idr",
      "raw_desc" -> "Nice. leasehold 30 years")
    assert(r("title") == "Stunning Villa")
    assert(r("location") == "Canggu")
    assert(r("property_id") == "DP-991")
    assert(r("property_type") == "Villa")
    assert(r("price") == 3.5e9 && r("currency") == "IDR")
    assert(r("leasehold_years") == 30.0)
    assert(r("contract_type") == "Leasehold")
    assert(r("land_size") == 450.0 && r("build_size") == 250.0)
  }

  test("dotproperty: for-sale url → Freehold; bedrooms and land size backfilled from desc") {
    val r = run(
      "url" -> "https://dot.example/for-sale/villa-9", "source" -> "dotproperty",
      "raw_title" -> "Family Home", "json_price" -> "200000",
      "json_currency" -> "usd",
      "raw_desc" -> "Spacious 4 bedrooms layout. Land size: 450 m2")
    assert(r("contract_type") == "Freehold")
    assert(r("bedrooms") == 4.0) // first desc regex
    assert(r("land_size") == 450.0) // find_land_size backfill
    assert(r("price") == 200000.0 && r("currency") == "USD")
    assert(r("property_type") == null)
  }

  test("dotproperty: no lease, no url marker → get_contract_type over the title") {
    val r = run(
      "url" -> "https://dot.example/rent/x", "source" -> "dotproperty",
      "raw_title" -> "Leasehold villa bargain", "raw_desc" -> "plain text")
    assert(r("contract_type") == "Leasehold")
    val r2 = run(
      "url" -> "https://dot.example/rent/y", "source" -> "dotproperty",
      "raw_title" -> "Nice villa", "raw_desc" -> "plain text")
    assert(r2("contract_type") == "Freehold") // get_contract_type default
  }

  test("balivillasales: IDR price, upload date from image, distinct sizes kept") {
    val r = run(
      "url" -> "b1", "source" -> "balivillasales",
      "raw_title" -> "Luxury Villa in Canggu", "raw_pid" -> "VOB-1",
      "raw_location" -> "Canggu", "raw_contract" -> "Freehold",
      "raw_price" -> "IDR 4,500,000,000",
      "raw_land" -> "500 m2", "raw_build" -> "200 m2",
      "raw_beds" -> "4", "raw_baths" -> "3",
      "raw_image" -> "https://x.com/wp-content/uploads/2023-12-01/img.jpg",
      "raw_desc" -> "Great villa")
    assert(r("price") == 4.5e9 && r("currency") == "IDR")
    assert(r("availability") == "Available")
    assert(r("listed_date") == "12/01/23")
    assert(r("land_size") == 500.0 && r("build_size") == 200.0)
    assert(r("property_type") == "Villa")
    assert(r("location") == "Canggu")
    assert(r("leasehold_years") == null)
    assert(r("bedrooms") == 4.0)
  }

  test("balivillasales: Sold in price text; equal sizes → Land with build dropped; title location quirk") {
    val r = run(
      "url" -> "b2", "source" -> "balivillasales",
      "raw_title" -> "Land plot in Ubud Sold", "raw_contract" -> "Freehold",
      "raw_price" -> "USD 350,000 Sold",
      "raw_land" -> "300 m2", "raw_build" -> "300 m2",
      "raw_desc" -> "desc text")
    assert(r("price") == 350000.0 && r("currency") == "USD")
    assert(r("availability") == "Sold")
    assert(r("land_size") == 300.0 && r("build_size") == null)
    assert(r("property_type") == "Land")
    // the reference's greedy [A-Za-z ]+ grabs trailing words too
    assert(r("location") == "Ubud Sold")
  }

  test("balivillasales: lowercase leasehold contract pulls lease years from desc") {
    val r = run(
      "url" -> "b3", "source" -> "balivillasales",
      "raw_title" -> "Cozy villa", "raw_contract" -> "leasehold 25 yr",
      "raw_price" -> "IDR 1,000,000,000",
      "raw_land" -> "100 m2", "raw_build" -> "80 m2",
      "raw_desc" -> "leasehold 30 years")
    assert(r("leasehold_years") == 30.0)
    assert(r("availability") == "Available")
    assert(r("property_type") == "Villa")
  }

  test("balivillasales: missing title → Delisted; both sizes missing counts as equal → Land") {
    val r = run(
      "url" -> "b4", "source" -> "balivillasales",
      "raw_contract" -> "Freehold", "raw_price" -> "IDR 2,000,000,000")
    assert(r("availability") == "Delisted")
    // None == None in the reference, so the equal-sizes branch fires
    assert(r("property_type") == "Land")
    assert(r("land_size") == null && r("build_size") == null)
  }

  test("exotiqproperty: For lease → Leasehold with years; For sale → Freehold without") {
    val r = run(
      "url" -> "e1", "source" -> "exotiqproperty",
      "raw_contract" -> "For lease", "raw_type" -> "Villa",
      "lease_text" -> "25", "raw_price" -> "USD 450,000",
      "raw_beds" -> "3", "raw_title" -> "Ocean view villa")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0)
    assert(r("property_type") == "Villa")
    assert(r("price") == 450000.0 && r("currency") == "USD")
    val r2 = run(
      "url" -> "e2", "source" -> "exotiqproperty",
      "raw_contract" -> "For sale", "raw_type" -> "Land plot",
      "lease_text" -> "30", "raw_price" -> "IDR 2,000,000,000")
    assert(r2("contract_type") == "Freehold")
    assert(r2("leasehold_years") == null) // no lease mention → cell ignored
    assert(r2("property_type") == "Land")
  }

  test("balimoves: IDR price, first-word contract, lease years from the price text") {
    val r = run(
      "url" -> "m1", "source" -> "balimoves",
      "raw_title" -> "Modern villa retreat",
      "raw_price" -> "IDR 2,500,000,000 leasehold 25 years",
      "raw_contract" -> "Leasehold / available", "raw_beds" -> "3")
    assert(r("price") == 2.5e9 && r("currency") == "IDR")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0)
    assert(r("property_type") == "Villa")
    assert(r("availability") == "Available")
  }

  test("balimoves: /month → Rent; /are recalc only nulls an int-zero price; blank text → Sold") {
    val r = run(
      "url" -> "m2", "source" -> "balimoves",
      "raw_title" -> "Villa rental", "raw_price" -> "IDR 15,000,000 /month",
      "raw_beds" -> "2")
    assert(r("contract_type") == "Rent")
    assert(r("price") == 1.5e7) // no /are or /m2 probe → price untouched
    val r3 = run(
      "url" -> "m3", "source" -> "balimoves",
      "raw_title" -> "Plot", "raw_price" -> "IDR 1 /are", "raw_land" -> "50")
    assert(r3("price") == null) // 1 × (50/100) truncates to int 0 → nulled
    assert(r3("property_type") == "Land") // no bedrooms
    val r4 = run(
      "url" -> "m4", "source" -> "balimoves",
      "raw_title" -> "Gone", "raw_price" -> "  ")
    assert(r4("availability") == "Sold")
    assert(r4("price") == null)
  }

  test("raywhite: keyword ladder, for-Sale freehold, listed date from the image url") {
    val r = run(
      "url" -> "r1", "source" -> "raywhite",
      "raw_type" -> "Villa Mewah for Sale", "raw_contract" -> "SHM",
      "json_price" -> "5000000000", "json_currency" -> "idr",
      "raw_beds" -> "3", "raw_desc" -> "plain",
      "raw_image" -> "https://x.com/wp/2023/05/01/a.jpg")
    assert(r("property_type") == "Villa")
    assert(r("contract_type") == "Freehold")
    assert(r("price") == 5e9 && r("currency") == "IDR")
    assert(r("listed_date") == "2023-05-01")
    assert(r("availability") == "Available")
  }

  test("raywhite: HGB certificate wins lease@30; description lease only wins the contract") {
    val r = run(
      "url" -> "r2", "source" -> "raywhite",
      "raw_type" -> "Apartemen Baru", "raw_contract" -> "HGB 2045",
      "raw_beds" -> "2", "raw_desc" -> "plain")
    assert(r("property_type") == "Apartement")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 30.0)
    val r3 = run(
      "url" -> "r3", "source" -> "raywhite",
      "raw_type" -> "Tanah Kavling", "raw_contract" -> "SHM",
      "raw_desc" -> "leasehold 30 years")
    assert(r3("property_type") == "Land")
    assert(r3("contract_type") == "Leasehold")
    assert(r3("leasehold_years") == 30.0)
  }

  test("raywhite: per-meter label multiplies price by land; bedroom-less villa delists") {
    val r = run(
      "url" -> "r4", "source" -> "raywhite",
      "raw_type" -> "Tanah Luas", "raw_contract" -> "SHM",
      "json_price" -> "1000000", "json_currency" -> "idr",
      "raw_land" -> "200", "raw_desc" -> "plain",
      "raw_price" -> "IDR 5.000.000 per m2")
    assert(r("price") == 2e8 && r("currency") == "IDR")
    val r5 = run(
      "url" -> "r5", "source" -> "raywhite",
      "raw_type" -> "Villa Cantik", "raw_contract" -> "SHM",
      "raw_desc" -> "plain")
    assert(r5("availability") == "Delisted")
  }

  test("kibarer: hold gate drops rows; IDR-else-USD-else(-1,USD); badge then desc lease years") {
    // no "hold" in the contract badge → the spider never yields: row gated out
    val gated = SourceProfiles.standardize(raw(
      "url" -> "k0", "source" -> "kibarer", "raw_contract" -> "For Sale"), asOf)
    assert(gated.count() == 0)
    val r = run(
      "url" -> "k1", "source" -> "kibarer",
      "raw_contract" -> "Leasehold 25 years",
      "raw_price" -> "IDR 3,000,000,000",
      "raw_title" -> "Stunning villa retreat", "raw_beds" -> "4",
      "raw_land" -> "5.5 are", "raw_build" -> "250",
      "raw_image" -> "https://x.com/img-300x200.jpg",
      "raw_desc" -> "nice")
    assert(r("price") == 3e9 && r("currency") == "IDR")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0) // from the badge text
    assert(r("property_type") == "Villa")
    assert(r("land_size") == 550.0) // are → sqm
    assert(r("image_url") == "https://x.com/img.jpg") // dimension removed
    val r2 = run(
      "url" -> "k2", "source" -> "kibarer",
      "raw_contract" -> "Freehold", "raw_price" -> "price on request",
      "raw_title" -> "Plain land")
    assert(r2("price") == -1.0 && r2("currency") == "USD")
    assert(r2("contract_type") == "Freehold")
    assert(r2("property_type") == "Land") // find_property_type ladder
    val r3 = run(
      "url" -> "k3", "source" -> "kibarer",
      "raw_contract" -> "leasehold property", // no years in the badge
      "raw_price" -> "USD 500,000", "raw_title" -> "Cozy house",
      "raw_desc" -> "leasehold 30 years")
    assert(r3("leasehold_years") == 30.0) // re-found in the description
  }

  test("lazudi: Leasehold default, desc lease-or-Freehold, extractor backfills, created date") {
    val r = run(
      "url" -> "l1", "source" -> "lazudi",
      "raw_date" -> "2023-05-04", "raw_pid" -> "LZ9",
      "raw_title" -> "Bali Villa", "raw_contract" -> "Leasehold",
      "raw_type" -> "Villa", "raw_price" -> "4,500,000,000",
      "raw_desc" -> "leasehold 30 years remaining")
    assert(r("listed_date") == "05/04/23")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 30.0)
    assert(r("price") == 4.5e9 && r("currency") == "IDR")
    val r2 = run(
      "url" -> "l2", "source" -> "lazudi",
      "raw_contract" -> "Leasehold", "raw_title" -> "No years villa",
      "raw_desc" -> "Landsize 450 sqm\nnice villa")
    assert(r2("leasehold_years") == null)
    assert(r2("contract_type") == "Freehold") // no years → freehold fallback
    assert(r2("land_size") == 450.0) // landsize_extractor backfill
    val r3 = run(
      "url" -> "l3", "source" -> "lazudi",
      "raw_contract" -> "Freehold", "raw_build" -> "200",
      "raw_desc" -> "about 350 sqm of land")
    // extractor misses; find_land_size(350) beats build (200) → backfilled
    assert(r3("land_size") == 350.0)
    val r4 = run(
      "url" -> "l4", "source" -> "lazudi",
      "raw_contract" -> "Freehold",
      "raw_desc" -> "about 350 sqm of land")
    // build missing → find_land_size result discarded (reference gate)
    assert(r4("land_size") == null)
  }

  test("gillesdemunter: bed/bath cell split, USD constant, id from image path, delist on no beds") {
    val r = run(
      "url" -> "g1", "source" -> "gillesdemunter",
      "raw_title" -> "Villa Sunset", "raw_beds" -> "3/2",
      "raw_price" -> "1,250,000", "raw_contract" -> "Freehold",
      "raw_image" -> "https://gd.example/listing/4711/main.jpg",
      "lease_text" -> "25")
    assert(r("bedrooms") == 3.0 && r("bathrooms") == 2.0)
    assert(r("price") == 1250000.0 && r("currency") == "USD")
    assert(r("property_type") == "Villa")
    // split("/")(3) on the url: [https:, , gd.example, listing, ...]
    assert(r("property_id") == "listing")
    assert(r("availability") == "Available")
    val r2 = run(
      "url" -> "g2", "source" -> "gillesdemunter",
      "raw_title" -> "Gone listing")
    assert(r2("availability") == "Delisted")
    assert(r2("bedrooms") == null)
  }

  test("heritagebali: price-cell trio, lease from last cell, location always overwritten") {
    val r = run(
      "url" -> "h1", "source" -> "heritagebali",
      "raw_title" -> "Amazing Villa Estate", "raw_price" -> "USD 1,500,000",
      "lease_text" -> "Leasehold 25 years",
      "raw_beds" -> "spacious 3 bedroom layout", "raw_baths" -> "2",
      "raw_land" -> "Land size: 450 m2 with garden",
      "raw_build" -> "Building size 250 m2")
    assert(r("price") == 1500000.0 && r("currency") == "USD")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0)
    assert(r("bedrooms") == 3.0)
    assert(r("land_size") == 450.0 && r("build_size") == 250.0)
    assert(r("property_type") == "Villa")
    assert(r("location") == "") // ", ".join([]) replaces even with empty
  }

  test("svahaproperty: sale→Freehold; exact-Leasehold cell years; expiry-year refind") {
    val r = run(
      "url" -> "s1", "source" -> "svahaproperty",
      "raw_contract" -> "For sale", "raw_type" -> "Villa",
      "raw_price" -> "Rp 2,000,000,000", "raw_land" -> "500,5")
    assert(r("contract_type") == "Freehold")
    assert(r("currency") == "IDR")
    assert(r("land_size") == 500.5) // comma→dot then grab_first
    val r2 = run(
      "url" -> "s2", "source" -> "svahaproperty",
      "raw_contract" -> "Leasehold", "table_leasing" -> "25")
    assert(r2("contract_type") == "Leasehold")
    assert(r2("leasehold_years") == 25.0)
    val r3 = run(
      "url" -> "s3", "source" -> "svahaproperty",
      "raw_contract" -> "Leasehold", "table_leasing" -> "lease until 2045")
    // cell parses to 2045 > 99 → re-found in the cell as a delta
    assert(r3("leasehold_years") == 19.0)
    val r4 = run(
      "url" -> "s4", "source" -> "svahaproperty",
      "raw_contract" -> "Leasehold",
      "raw_desc" -> "leasehold 30 years")
    assert(r4("leasehold_years") == 30.0) // desc refind when cell missing
  }

  test("luxindoproperty: dict defaults collapse to coalesce; valid-space lease years") {
    val r = run(
      "url" -> "x1", "source" -> "luxindoproperty",
      "raw_contract" -> "leasehold", "lease_text" -> "valid until 2045",
      "raw_type" -> "villa", "raw_pid" -> "LX1",
      "raw_location" -> "", "alt_title" -> "Canggu",
      "raw_date" -> "2024-02-02T10:00:00")
    assert(r("price") == -1.0 && r("currency") == "IDR") // absent-key defaults
    assert(r("leasehold_years") == 19.0) // 2045 − 2026
    assert(r("location") == "Canggu") // area_1 empty → area_2
    assert(r("property_type") == "Villa")
    assert(r("listed_date") == "2024-02-02T10:00:00")
  }

  test("ppbali: price gate, hold-word contract with desc repair, Date Available format") {
    // below the 5e8 gate → never yielded
    val gated = SourceProfiles.standardize(raw(
      "url" -> "p0", "source" -> "ppbali", "raw_price" -> "400000000"), asOf)
    assert(gated.count() == 0)
    val r = run(
      "url" -> "p1", "source" -> "ppbali",
      "raw_contract" -> "Status: Leasehold 25 years",
      "raw_price" -> "600000000", "raw_title" -> "Villa Paradise",
      "raw_date" -> "04 May 2023")
    assert(r("price") == 6e8 && r("currency") == "IDR")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0)
    assert(r("listed_date") == "05/04/23")
    // the 5e8 gate ignores currency: a USD 700k listing is dropped too
    val gatedUsd = SourceProfiles.standardize(raw(
      "url" -> "p2a", "source" -> "ppbali", "json_price" -> "700000"), asOf)
    assert(gatedUsd.count() == 0)
    val r2 = run(
      "url" -> "p2", "source" -> "ppbali",
      "raw_contract" -> "Status: unknown", "json_price" -> "600000000",
      "raw_desc" -> "great freehold villa opportunity")
    assert(r2("price") == 6e8 && r2("currency") == "USD")
    assert(r2("contract_type") == "Freehold") // repaired from the desc
    val r3 = run(
      "url" -> "p3", "source" -> "ppbali",
      "raw_contract" -> "Status: unknown", "raw_price" -> "900000000",
      "raw_desc" -> "no tenure mentioned")
    assert(r3("contract_type") == "Other")
  }

  test("rajavillaproperty: title contract, glued lease suffix stripped, per-are recalc") {
    val r = run(
      "url" -> "v1", "source" -> "rajavillaproperty",
      "raw_title" -> "Leasehold Villa in Canggu - 3BR",
      "raw_price" -> "2500000025", "lease_text" -> "Lease Period 25 years",
      "raw_contract" -> "New,Sold")
    assert(r("contract_type") == "Leasehold")
    assert(r("property_type") == "Villa")
    assert(r("leasehold_years") == 25.0)
    assert(r("price") == 2.5e7) // trailing '25' (the lease years) stripped
    assert(r("location") == "Canggu") // from "in <X> -"
    assert(r("availability") == "Sold") // exact badge membership
    val r2 = run(
      "url" -> "v2", "source" -> "rajavillaproperty",
      "raw_title" -> "Freehold Land", "raw_price" -> "IDR 50,000,000 /are",
      "raw_land" -> "500")
    assert(r2("price") == 2.5e8) // 5e7 × (500/100)
  }

  test("unrealbali: lease-cell rows never emitted (reference bug as gate); desc years on survivors") {
    val gated = SourceProfiles.standardize(raw(
      "url" -> "u0", "source" -> "unrealbali", "lease_text" -> "25/30"), asOf)
    assert(gated.count() == 0)
    val r = run(
      "url" -> "u1", "source" -> "unrealbali",
      "raw_title" -> "Sleek Villa", "raw_contract" -> "For Sale,Leasehold",
      "raw_price" -> "USD 350,000", "raw_build" -> "100+200",
      "raw_land" -> "200/300", "raw_beds" -> "2,5",
      "raw_desc" -> "leasehold 30 years",
      "raw_date" -> "2023-05-04T10:00:00")
    assert(r("contract_type") == "Leasehold")
    assert(r("price") == 350000.0 && r("currency") == "USD")
    assert(r("build_size") == 100.0) // get_first "+"
    assert(r("land_size") == 300.0) // get_last "/"
    assert(r("bedrooms") == 2.5)
    assert(r("leasehold_years") == 30.0) // always re-found in the desc
    assert(r("listed_date") == "05/04/23")
    val r2 = run(
      "url" -> "u2", "source" -> "unrealbali",
      "raw_contract" -> "Sold out")
    assert(r2("availability") == "Delisted") // no title wins over Sold
  }

  test("suasarealestate: null Term gated; idr attr price; url path type; pipe-tail location") {
    assert(SourceProfiles.standardize(raw(
      "url" -> "q0", "source" -> "suasarealestate"), asOf).count() == 0)
    val r = run(
      "url" -> "https://suasarealestate.com/villa/great-villa",
      "source" -> "suasarealestate",
      "raw_title" -> "Great Villa | Umalas", "raw_contract" -> "Leasehold",
      "raw_price" -> "IDR 2,500,000,000",
      "table_leasing" -> "25 years lease remaining",
      "lease_text" -> "Sold out")
    assert(r("price") == 2.5e9 && r("currency") == "IDR")
    assert(r("property_type") == "Villa") // url path segment
    assert(r("leasehold_years") == 25.0)
    assert(r("location") == "Umalas")
    assert(r("availability") == "Sold")
  }

  test("tealestate: label availability, dash-range sizes, missing hold heading → Delisted") {
    val r = run(
      "url" -> "t1", "source" -> "tealestate",
      "raw_title" -> "Teal Villa", "alt_title" -> "Sold Out",
      "raw_contract" -> "Leasehold", "lease_text" -> "25 years lease remaining",
      "raw_land" -> "500-700", "raw_price" -> "IDR 3,000,000,000")
    assert(r("availability") == "Sold")
    assert(r("leasehold_years") == 25.0)
    assert(r("land_size") == 700.0) // get_last "-"
    assert(r("price") == 3e9 && r("currency") == "IDR")
    val r2 = run(
      "url" -> "t2", "source" -> "tealestate", "raw_title" -> "Teal Villa")
    assert(r2("availability") == "Delisted") // no hold heading
  }

  test("balirealty: lowercased price text, Sold=Yes flag, Contract-cell sale repair, sqm backfills") {
    val r = run(
      "url" -> "b1", "source" -> "balirealty",
      "raw_price" -> "IDR 5,000,000,000", "lease_text" -> "Yes",
      "raw_contract" -> "Leasehold Property",
      "raw_desc" -> "leasehold 30 years. Land size: 450 sqm",
      "raw_date" -> "\"datePublished\":\"2023-05-04T10:00:00+08:00\"")
    assert(r("price") == 5e9 && r("currency") == "IDR")
    assert(r("availability") == "Sold")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 30.0)
    assert(r("land_size") == 450.0) // label: N sqm backfill
    assert(r("listed_date") == "05/04/2023")
    val r2 = run(
      "url" -> "b2", "source" -> "balirealty",
      "raw_contract" -> "Rental", "alt_title" -> "For Sale")
    assert(r2("contract_type") == "Freehold") // Contract-cell sale repair
  }

  test("balitreasureproperties: None-string location, type appended to contract, N/A delist") {
    val r = run(
      "url" -> "bt1", "source" -> "balitreasureproperties",
      "raw_title" -> "Treasure Villa", "raw_contract" -> "leaseholdSale",
      "raw_type" -> "villaSale", "lease_text" -> "25",
      "alt_title" -> "Berawa", "raw_location" -> "Canggu",
      "json_price" -> "450000", "json_currency" -> "usd",
      "raw_date" -> "2024-03-01T12:00:00Z")
    assert(r("contract_type") == "Leasehold Villa") // type APPENDED
    assert(r("leasehold_years") == 25.0)
    assert(r("location") == "Berawa, Canggu")
    assert(r("listed_date") == "2024-03-01")
    assert(r("price") == 450000.0 && r("currency") == "USD")
    assert(r("property_type") == null) // never set by the reference
    val r2 = run(
      "url" -> "bt2", "source" -> "balitreasureproperties",
      "raw_contract" -> "freeholdSale", "alt_title" -> "Berawa")
    assert(r2("title") == "N/A")
    assert(r2("availability") == "Delisted")
    assert(r2("location") == "Berawa, None") // Python f-string of None
  }

  test("balihomeimmo: badge contract with period, title-tail id, selected-option currency") {
    val r = run(
      "url" -> "bh1", "source" -> "balihomeimmo",
      "raw_title" -> "Beautiful Villa - BHI123",
      "raw_contract" -> "Leasehold,25 years", "table_leasing" -> "25",
      "raw_price" -> "5000000000", "json_currency" -> "idr")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0)
    assert(r("property_id") == "BHI123")
    assert(r("price") == 5e9 && r("currency") == "IDR")
    assert(r("availability") == "Available")
    val r2 = run(
      "url" -> "bh2", "source" -> "balihomeimmo",
      "raw_title" -> "Villa X", "raw_contract" -> "monthly rental",
      "lease_text" -> "Sold")
    assert(r2("contract_type") == null) // neither badge
    assert(r2("availability") == "Sold")
  }

  test("balipropertiesforsale: status/type gate, sold price default -1, title fallbacks") {
    assert(SourceProfiles.standardize(raw(
      "url" -> "f0", "source" -> "balipropertiesforsale",
      "raw_contract" -> "For sale"), asOf).count() == 0) // null type gated
    val r = run(
      "url" -> "f1", "source" -> "balipropertiesforsale",
      "raw_title" -> "Villa in Canggu Area",
      "raw_contract" -> "For sale leasehold", "raw_type" -> "Villa,Luxury",
      "lease_text" -> "25", "table_leasing" -> "1",
      "raw_date" -> "2023-05-04 10:00:00")
    assert(r("leasehold_years") == 25.0)
    assert(r("property_type") == "Villa")
    assert(r("availability") == "Sold")
    assert(r("price") == -1.0) // sold with no price
    assert(r("listed_date") == "05/04/23")
    assert(r("location") == "Canggu Area") // greedy title fallback
  }

  test("propertiabali: one cell feeds contract AND type; are sizes; label availability") {
    val r = run(
      "url" -> "pr1", "source" -> "propertiabali",
      "raw_title" -> "Propertia Villa", "raw_contract" -> "Leasehold Villa",
      "raw_land" -> "5.5 are", "raw_price" -> "IDR 2,000,000,000",
      "alt_title" -> "Sold", "raw_desc" -> "leasehold 30 years")
    assert(r("contract_type") == "Leasehold")
    assert(r("property_type") == "Villa")
    assert(r("land_size") == 550.0)
    assert(r("price") == 2e9 && r("currency") == "IDR")
    assert(r("availability") == "Sold")
    assert(r("leasehold_years") == 30.0) // desc backfill
  }

  test("balirealestateconsultants: cell-or-expiration lease, plot→Land, baths stand in, equal sizes") {
    val r = run(
      "url" -> "c1", "source" -> "balirealestateconsultants",
      "raw_title" -> "Nice Villa", "table_leasing" -> "25",
      "raw_price" -> "USD 250,000", "raw_baths" -> "2")
    assert(r("contract_type") == "Leasehold")
    assert(r("leasehold_years") == 25.0)
    assert(r("bedrooms") == 2.0) // bathrooms stand in
    assert(r("price") == 250000.0 && r("currency") == "USD")
    val r2 = run(
      "url" -> "c2", "source" -> "balirealestateconsultants",
      "raw_title" -> "Land plot in Uluwatu", "table_leasing" -> "expired",
      "lease_text" -> "2045", "raw_desc" -> "great land plot")
    assert(r2("leasehold_years") == 19.0) // |2045 − 2026|
    assert(r2("property_type") == "Land")
    val r3 = run(
      "url" -> "c3", "source" -> "balirealestateconsultants",
      "raw_title" -> "Equal Villa", "raw_land" -> "300", "raw_build" -> "300")
    assert(r3("land_size") == 300.0 && r3("build_size") == null)
  }

  test("baliexception: null title gated; range chains; pipe location; title rooms for both") {
    assert(SourceProfiles.standardize(raw(
      "url" -> "e0", "source" -> "baliexception"), asOf).count() == 0)
    val r = run(
      "url" -> "e1", "source" -> "baliexception",
      "raw_title" -> "Freehold Villa | Uluwatu",
      "raw_beds" -> "2 – 4", "lease_text" -> "25+",
      "raw_price" -> "IDR 3,500,000,000")
    assert(r("contract_type") == "Freehold")
    assert(r("property_type") == "Villa") // type cell missing → title ladder
    assert(r("location") == "Uluwatu") // pipe segment
    assert(r("bedrooms") == 4.0) // en-dash range tail
    assert(r("leasehold_years") == 25.0) // "+" head
    assert(r("price") == 3.5e9 && r("currency") == "IDR")
    val r2 = run(
      "url" -> "e2", "source" -> "baliexception",
      "raw_title" -> "3 bedroom villa in ubud")
    assert(r2("bedrooms") == 3.0 && r2("bathrooms") == 3.0) // title stands in
    assert(r2("location") == "Ubud") // find_location_in_title
  }

  test("dispatch unions profiles and drops unprofiled sources") {
    val rows = Seq(
      Row(("u9" +: "ubudproperty" +: Seq.fill(rawCols.size - 2)(null.asInstanceOf[String])): _*),
      Row(("x9" +: "unknownsource" +: Seq.fill(rawCols.size - 2)(null.asInstanceOf[String])): _*))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = SourceProfiles.standardize(df, asOf)
    assert(out.columns.toSeq == SourceProfiles.targets)
    assert(out.collect().map(_.getString(0)).toSeq == Seq("u9"))
  }

  test("default fields: a profile's own entry wins over the shared " +
    "default; the others read it; every profile outputs the targets") {
    // ubudproperty defines its own constant location
    assert(run("url" -> "u", "source" -> "ubudproperty",
      "raw_location" -> " Canggu ")("location") == "Ubud")
    // dotproperty lists no location: the default trims, "" becomes null
    assert(run("url" -> "d", "source" -> "dotproperty",
      "raw_location" -> " Canggu ")("location") == "Canggu")
    assert(run("url" -> "d", "source" -> "dotproperty",
      "raw_location" -> "  ")("location") == null)
    SourceProfiles.profiles.foreach { p =>
      assert(p(raw("source" -> p.source), asOf).columns.toSeq ==
        SourceProfiles.targets, p.source)
    }
  }
}
