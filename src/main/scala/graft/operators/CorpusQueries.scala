package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver registrations + DuckDB oracles for the late-round-12 tranche:
  * the corpus operators ([[CorpusOps]]), the Temporal/Quality additions
  * (sliding rates, SCD2 family, rate anomaly, constraint check), the
  * streaming replay gates (q106/q112/q113), and the layout roundtrip
  * (q120). Numbering continues the gap-free registry: q101–q121, all
  * registered in this file's `all`/`oracle` maps.
  */
/** The mix→pack oracle chain up to the scheduled-instance frame
  * `<pre>s` (tok_start assigned), generated over an arbitrary corpus
  * CTE/table (must expose source, doc_id, text) with a CTE-name prefix
  * so a composing oracle (q174) can splice it after fragments that
  * already use the bare names — q149 appends the packing projection,
  * q173 the per-shard grouping; edit with q147's plan CTEs. Lives in
  * its own dependency-free object: both CorpusQueries and LlmQueries
  * splice it, and a def on either would re-create the
  * object-initialization CYCLE this factoring removed (LlmQueries init
  * → CorpusQueries init → LlmQueries.oracle still null → NPE — hit in
  * r15, hence this home). The `\\s+` is doubled: s-interpolation. */
private[graft] object MixPackSql {
  def ctesOver(corpus: String, pre: String): String =
    s"""${pre}c AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(text), '\\s+')))
       |      AS BIGINT) AS n_tokens
       |  FROM $corpus GROUP BY source),
       |${pre}w AS (
       |  SELECT source, n_tokens,
       |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS weight_q
       |  FROM ${pre}c),
       |${pre}t AS (
       |  SELECT source, n_tokens, weight_q,
       |    CAST(sum(weight_q) OVER () AS BIGINT) AS tw
       |  FROM ${pre}w),
       |${pre}p AS (
       |  SELECT source, n_tokens,
       |    (1000000 * weight_q) // tw AS alloc_tokens
       |  FROM ${pre}t),
       |${pre}d AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+'))
       |      AS BIGINT) AS toks
       |  FROM $corpus),
       |${pre}o AS (
       |  SELECT source, doc_id, toks,
       |    CAST(coalesce(sum(toks) OVER (
       |      PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS sched_prefix
       |  FROM ${pre}d),
       |${pre}m AS (
       |  SELECT o.source, o.doc_id, o.toks,
       |    (p.alloc_tokens // p.n_tokens) +
       |      (CASE WHEN o.sched_prefix < (p.alloc_tokens % p.n_tokens)
       |       THEN 1 ELSE 0 END) AS n_copies
       |  FROM ${pre}o o JOIN ${pre}p p USING (source)),
       |${pre}x AS (
       |  SELECT source, doc_id, toks,
       |    unnest(generate_series(1, n_copies)) AS copy
       |  FROM ${pre}m WHERE n_copies > 0),
       |${pre}s AS (
       |  SELECT source, doc_id, toks, CAST(copy AS BIGINT) AS copy,
       |    CAST(coalesce(sum(toks) OVER (
       |      PARTITION BY source
       |      ORDER BY copy, md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_start
       |  FROM ${pre}x)""".stripMargin
}

object CorpusQueries {

  /** Deterministic PII augmentation shared by the Spark query and the
    * oracle: the synthetic corpus contains no real PII, so both engines
    * derive the SAME pii-laden text from doc_id before screening — the
    * operator under test is the detector/redactor, not the synthesizer.
    */
  private def piiAugmented(df: DataFrame): DataFrame =
    df.withColumn("pii_text", concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com for details")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" call +62 812-"),
            (col("doc_id") + 1000000).cast("string"), lit(" today")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" server 10."), (col("doc_id") % 200).cast("string"),
            lit(".3."), ((col("doc_id") * 7) % 250).cast("string"),
            lit(" port 8080")))
        .otherwise(lit(""))))

  private val piiAugmentSql =
    """text || CASE
      |  WHEN doc_id % 4 = 0 THEN ' contact user' ||
      |    CAST(doc_id AS VARCHAR) || '@mail.example.com for details'
      |  WHEN doc_id % 4 = 1 THEN ' call +62 812-' ||
      |    CAST(doc_id + 1000000 AS VARCHAR) || ' today'
      |  WHEN doc_id % 4 = 2 THEN ' server 10.' ||
      |    CAST(doc_id % 200 AS VARCHAR) || '.3.' ||
      |    CAST((doc_id * 7) % 250 AS VARCHAR) || ' port 8080'
      |  ELSE '' END""".stripMargin

  def q101PiiScreen(s: SparkSession, d: String): DataFrame =
    CorpusOps.piiScreen(piiAugmented(Tables.documents(s, d)),
      "doc_id", "pii_text")

  def q102ParagraphDedup(s: SparkSession, d: String): DataFrame =
    CorpusOps.paragraphDedup(Tables.documents(s, d), "doc_id", "text")

  def q103BigramLm(s: SparkSession, d: String): DataFrame =
    CorpusOps.bigramLmScore(Tables.documents(s, d), "doc_id", "text")

  /** Same deterministic 20% increment as q97 — bit-equal result
    * (bloom prefilter can't change the screen's answer), so it shares
    * q97's oracle; what it adds is the runtime-filter plan shape.
    */
  def q104BloomExact(s: SparkSession, d: String): DataFrame =
    CorpusOps.bloomExactScreen(Tables.documents(s, d), "doc_id", "text",
      col("doc_id") % 5 === 4)

  def q105ShardPlan(s: SparkSession, d: String): DataFrame =
    CorpusOps.shardPlan(Tables.documents(s, d), "doc_id", "text", "lang",
      budget = 4096, shardSize = 1000)

  def q107TopNgrams(s: SparkSession, d: String): DataFrame =
    CorpusOps.topNgrams(Tables.documents(s, d), "doc_id", "text", "lang")

  /** Deterministic URL synthesis shared with the oracle (the corpus
    * has no URL column): mixed-case scheme/host + www, a 20-valued
    * listing path so re-crawl spellings COLLIDE, and three spelling
    * variants — utm-first with trailing slash, utm-last with fragment,
    * bare trailing slash. Variants 0 and 1 of the same listing
    * canonicalize identically (cross-variant dedup), variant 2 to the
    * query-less form.
    */
  private def urlAugmented(df: DataFrame): DataFrame =
    df.withColumn("url", concat(
      lit("HTTPS://WWW.ExampleHomes.COM/Listing/"),
      (col("doc_id") % 20).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("/?utm_source=feed&id="),
          (col("doc_id") % 20).cast("string")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?id="), (col("doc_id") % 20).cast("string"),
            lit("&utm_campaign=x#frag")))
        .otherwise(lit("/"))))

  private val urlAugmentSql =
    """'HTTPS://WWW.ExampleHomes.COM/Listing/' ||
      |  CAST(doc_id % 20 AS VARCHAR) || CASE
      |  WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&id=' ||
      |    CAST(doc_id % 20 AS VARCHAR)
      |  WHEN doc_id % 3 = 1 THEN '?id=' ||
      |    CAST(doc_id % 20 AS VARCHAR) || '&utm_campaign=x#frag'
      |  ELSE '/' END""".stripMargin

  def q108SlidingRates(s: SparkSession, d: String): DataFrame =
    Temporal.q108SlidingRates(s, d)

  /** q122: the REAL JPEG header decode under a full driver gate — the
    * q42 posture upgraded from "text can't spoof the magic" to "the
    * parser reproduces known dimensions": five deterministic payload
    * variants per doc_id are SYNTHESIZED as genuine JPEG byte streams
    * (baseline JFIF, progressive SOF2, EXIF-first with no JFIF
    * density, a truncated header, and a raw-text non-JPEG), decoded by
    * [[graft.Multimodal.decodeJpegHeader]], and the oracle re-derives
    * the expected fields ARITHMETICALLY from doc_id — so a parser
    * regression (wrong offset, missed EXIF skip, accepted truncation)
    * breaks the hash gate. Construction is pure Column hex-concat →
    * unhex: row-local, no UDF until the decode itself (§2.10's
    * irreducible binary walk).
    */
  def q122JpegMeta(s: SparkSession, d: String): DataFrame = {
    val v = col("doc_id") % 5
    val w = (lit(100) + col("doc_id") % 1500).cast("int")
    val h = (lit(80) + col("doc_id") % 900).cast("int")
    val xd = (lit(72) + col("doc_id") % 200).cast("int")
    def hex4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    // APP0 JFIF: len 16, identifier, version 1.1, unit=1 (dpi), Xd, Yd
    val jfif = concat(lit("FFE000104A46494600010101"),
      hex4(xd), lit("0060"), lit("0000")) // Ydensity fixed 96 = 0x0060
    // SOF: len 17, precision 8, dims, 3 components (YCbCr layout)
    def sof(marker: String) = concat(lit(marker + "001108"),
      hex4(h), hex4(w), lit("03012200021101031101"))
    // APP1 Exif: len 18, "Exif\0\0" + 10 filler bytes — the segment a
    // camera writes FIRST; the walker must skip it by length
    val exif = lit("FFE10012457869660000" + "00" * 10)
    val payloadHex = when(v === 0, concat(lit("FFD8"), jfif, sof("FFC0")))
      .when(v === 1, concat(lit("FFD8"), jfif, sof("FFC2")))
      .when(v === 2, concat(lit("FFD8"), exif, sof("FFC0")))
      .when(v === 3, lit("FFD8FFE000104A464946")) // cut mid-identifier
    val content = when(v === 4, col("text").cast("binary"))
      .otherwise(unhex(payloadHex))
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Udfs.decodeJpeg(content).as("j"))
      .select(col("doc_id"),
        col("j.format").as("jpeg_format"),
        col("j.width").as("jpeg_width"),
        col("j.height").as("jpeg_height"),
        col("j.bits_per_pixel").as("jpeg_bpp"),
        col("j.density_unit").as("density_unit"),
        col("j.x_density").as("x_density"),
        col("j.y_density").as("y_density"))
      .orderBy("doc_id")
  }

  /** q133: PIXEL-level image dedup under a full driver gate — the q122
    * fixture discipline applied to content instead of metadata. Four
    * deterministic 9×8 24-bpp BMP variants per doc_id group
    * (g = doc_id div 4) are SYNTHESIZED as genuine BMP byte streams
    * (base image; +1 uniform brightness — a perceptual dup whose bytes
    * differ everywhere, so exact/content-hash dedup misses it and the
    * dHash must report hamming 0; three leftmost-column pixels forced
    * to invert their horizontal comparison — exactly hamming 3, the
    * banding's pigeonhole edge; and an independently-seeded distinct
    * image), then fed through [[graft.Multimodal.imagePhashDedup]] —
    * real decode, real banded near-dup. The oracle re-derives every
    * hash ARITHMETICALLY from the pixel formulas (integer comparisons
    * and powers of two) and forms pairs by exact hamming ≤ 3, which
    * equals the engine's banded candidate set by pigeonhole — so a
    * decoder offset bug, a grid/average slip, or a banding regression
    * all break the hash gate. The 9-wide × 8-tall fixture makes the
    * dHash grid the identity map; LlmOpsSpec separately pins the
    * box-average downscale on a 2× upscaled twin.
    */
  def q133ImagePhashDedup(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    // quadratic mixes, NOT linear ramps: adjacent-column differences of
    // a linear formula are constant, which makes every group's
    // comparison pattern (hence hash) near-identical — the first cut of
    // this fixture had n_dups ≈ 197/doc from cross-group hash
    // collisions. (g + 7r + 13c)² scrambles the comparisons per group
    // while staying exact small-integer math in both engines. Pixels
    // build via NESTED HOF lambdas (8 × 9 grid), not 216 unrolled hex
    // slots — the codegen-size lesson from q138's first cut
    Multimodal.imagePhashDedup(
      Tables.documents(s, d).select(col("doc_id"),
        bmpContent(fixturePix(g, v)).as("content")))
      .orderBy("doc_id")
  }

  /** Genuine 24-bpp BMP bytes for a 9×8 pixel formula — q133's
    * builder, shared with q181's cross-container fixture: 14-byte file
    * header ("BM", size 278, data offset 54) + 40-byte
    * BITMAPINFOHEADER (9×8, 1 plane, 24 bpp, uncompressed), then 8
    * stored rows BOTTOM-UP, each 9 BGR gray triples + 1 pad byte. */
  private def bmpContent(pix: (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    type C = org.apache.spark.sql.Column
    def hb(x: C) = lpad(hex(x), 2, "0")
    val header = lit("424D1601000000000000360000002800000009000000" +
      "080000000100180000000000E000000000000000000000000000000000000000")
    val pixels = concat_ws("",
      transform(sequence(lit(7), lit(0), lit(-1)), r => // stored bottom-up
        concat(concat_ws("", transform(sequence(lit(0), lit(8)), c => {
          val p = hb(pix(r, c)); concat(p, p, p)
        })), lit("00"))))
    unhex(concat(header, pixels))
  }

  /** Genuine GIF87a bytes for a 9×8 pixel formula — q195's builder:
    * logical screen descriptor + 128-entry gray color table (entry i
    * = 2i on every channel), one image descriptor, and an LZW stream
    * in the uncompressed-GIF encoding any spec-conforming encoder may
    * legally emit: minimum code size 7, a CLEAR code before every
    * pixel code so all codes stay at 8 bits (byte-aligned — the whole
    * stream is Column-synthesizable) and the dictionary never grows.
    * The DECODER still runs the full variable-width LZW protocol on
    * it; dictionary growth and width stepping are gated by
    * DecoderFuzzSpec's ImageIO round-trip, whose JDK encoder emits
    * real compression. Pixels store index p div 2, so the decoded
    * gray is the evenly QUANTIZED base (p − p%2) — the q193 posture:
    * GIF members pair hamming-0 with a BMP twin storing the same
    * quantized image. Variants: `plain` (sequential rows, global
    * table), `interlace` (the 4-pass row permutation + the flag),
    * `lct` (a REVERSED global table shadowed by a straight LOCAL
    * one — a decoder that ignores the local table decodes visibly
    * wrong grays and breaks the clique; the q186 XOR-palette trick).
    */
  private def gifContent(docs: DataFrame,
                         pix: (org.apache.spark.sql.Column,
                           org.apache.spark.sql.Column) =>
                           org.apache.spark.sql.Column,
                         variant: String): DataFrame = {
    type C = org.apache.spark.sql.Column
    def hb(x: C) = lpad(hex(x), 2, "0")
    // stored index = p div 2 (palette maps it back to 2·(p div 2))
    def qIdx(r: C, c: C): C = {
      val p = pix(r, c)
      ((p - pmod(p, lit(2))) / lit(2)).cast("int")
    }
    val straight = (0 until 128).map(i => f"${2 * i}%02X" * 3).mkString
    val reversed =
      (0 until 128).map(i => f"${2 * (127 - i)}%02X" * 3).mkString
    // header "GIF87a", screen 9×8 with GCT (packed 0xF6: flag + 8-bit
    // color res + 128 entries), image descriptor at (0,0) 9×8, then
    // min code size 7 and ONE 145-byte sub-block (72 clear+code pairs
    // + EOI)
    val imgDesc = "2C0000000009000800"
    val (gctHex, idTail) = variant match {
      case "plain" => (straight, imgDesc + "00" + "07")
      case "interlace" => (straight, imgDesc + "40" + "07")
      case "lct" => (reversed, imgDesc + "86" + straight + "07")
      case other =>
        throw new IllegalArgumentException(s"unknown GIF variant $other")
    }
    val head = "474946383761" + "09000800F60000" + gctHex + idTail + "91"
    val rowOrder: Seq[Int] =
      if (variant == "interlace") Seq(0, 4, 2, 6, 1, 3, 5, 7)
      else 0 to 7
    val body = concat_ws("", rowOrder.map(r =>
      concat_ws("", transform(sequence(lit(0), lit(8)), c =>
        concat(lit("80"), hb(qIdx(lit(r), c)))))): _*)
    // EOI (0x81) closes the sub-block; 0x00 terminates the data
    // stream; 0x3B is the trailer
    docs.select(col("doc_id"),
      unhex(concat(lit(head), body, lit("81") , lit("003B")))
        .as("content"))
  }

  /** Genuine baseline-TIFF bytes for a 9×8 pixel formula — q197's
    * builder. No checksums anywhere in this container: the work is
    * the IFD layout, so the two variants make the layout itself
    * adversarial. `ii`: little-endian, one strip, BlackIsZero —
    * the minimal shape. `mm`: BIG-endian, TWO strips stored in
    * REVERSED file order (strip 2's bytes precede strip 1's — the
    * offsets array, not file position, defines row order),
    * StripOffsets/StripByteCounts as out-of-line LONG arrays (count
    * 2 exceeds the 4-byte inline field), and PhotometricInterpretation
    * 0 (WhiteIsZero) over INVERTED samples — a decoder that ignores
    * the photometric tag, misreads the MM inline-SHORT justification,
    * or concatenates strips by file position decodes visibly wrong
    * pixels and breaks the clique. */
  private def tiffContent(docs: DataFrame,
                          pix: (org.apache.spark.sql.Column,
                            org.apache.spark.sql.Column) =>
                            org.apache.spark.sql.Column,
                          variant: String): DataFrame = {
    type C = org.apache.spark.sql.Column
    def hb(x: C) = lpad(hex(x), 2, "0")
    def b16(v: Int, le: Boolean): String =
      if (le) f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
      else f"${(v >> 8) & 0xff}%02X${v & 0xff}%02X"
    def b32(v: Int, le: Boolean): String =
      if (le) b16(v & 0xffff, le = true) + b16(v >>> 16, le = true)
      else b16(v >>> 16, le = false) + b16(v & 0xffff, le = false)
    // IFD entry: tag, type (3 SHORT / 4 LONG), count, then the 4-byte
    // value field — inline SHORTs sit in the leading two bytes for
    // BOTH orders (left-justified), which is exactly the rule the mm
    // variant gates
    def entry(tag: Int, typ: Int, cnt: Int, v: Int, le: Boolean) =
      b16(tag, le) + b16(typ, le) + b32(cnt, le) +
        (if (typ == 3) b16(v, le) + "0000" else b32(v, le))
    def rowsHex(order: Seq[Int], cell: (C, C) => C): C =
      concat_ws("", order.map(r =>
        concat_ws("", transform(sequence(lit(0), lit(8)), c =>
          hb(cell(lit(r), c))))): _*)
    variant match {
      case "ii" =>
        // header(8) + strip(72)@8 + IFD@80
        val head = "49492A00" + b32(80, le = true)
        val ifd = b16(8, le = true) +
          entry(256, 3, 1, 9, le = true) +
          entry(257, 3, 1, 8, le = true) +
          entry(258, 3, 1, 8, le = true) +
          entry(259, 3, 1, 1, le = true) +
          entry(262, 3, 1, 1, le = true) +
          entry(273, 4, 1, 8, le = true) +
          entry(278, 3, 1, 8, le = true) +
          entry(279, 4, 1, 72, le = true) +
          "00000000"
        docs.select(col("doc_id"),
          unhex(concat(lit(head), rowsHex(0 to 7, pix), lit(ifd)))
            .as("content"))
      case "mm" =>
        // header(8) + strip2(36)@8 + strip1(36)@44 + offsets(8)@80 +
        // counts(8)@88 + IFD@96; samples inverted (WhiteIsZero)
        val head = "4D4D002A" + b32(96, le = false)
        val offArr = b32(44, le = false) + b32(8, le = false)
        val cntArr = b32(36, le = false) + b32(36, le = false)
        val ifd = b16(8, le = false) +
          entry(256, 3, 1, 9, le = false) +
          entry(257, 3, 1, 8, le = false) +
          entry(258, 3, 1, 8, le = false) +
          entry(259, 3, 1, 1, le = false) +
          entry(262, 3, 1, 0, le = false) + // WhiteIsZero
          entry(273, 4, 2, 80, le = false) + // out-of-line offsets
          entry(278, 3, 1, 4, le = false) +
          entry(279, 4, 2, 88, le = false) +
          "00000000"
        def inv(r: C, c: C): C = lit(255) - pix(r, c)
        docs.select(col("doc_id"),
          unhex(concat(lit(head), rowsHex(4 to 7, inv),
            rowsHex(0 to 3, inv), lit(offArr + cntArr + ifd)))
            .as("content"))
      case other =>
        throw new IllegalArgumentException(s"unknown TIFF variant $other")
    }
  }

  /** q181: CROSS-CONTAINER image dedup — the production scenario the
    * pixel-level hash exists for: the SAME image delivered as a BMP by
    * one source, a grayscale PNG by another, and a truecolor PNG by a
    * third (the classic re-encoded duplicate that byte/content-hash
    * dedup can never pair) must collapse to one hamming-0 clique,
    * found by ONE container-sniffing print
    * ([[graft.Multimodal.imageDHash]]) under the shared banded
    * pipeline. Per group: v 0–2 carry the IDENTICAL base image in the
    * three containers; v 3 is the independent alt image (BMP). The
    * oracle derives hashes from the pixels alone — container-blind by
    * construction — so any decode-path divergence between the three
    * byte formats breaks the gate.
    */
  def q181CrossContainerDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "cross_container"))
      .orderBy("doc_id")

  /** q176: PNG PIXEL-level image dedup — the q133 gate re-run through
    * a COMPRESSED container. Each doc's 9×8 grayscale image (the SAME
    * [[fixturePix]] formulas as q133, so the two queries share one
    * oracle) is synthesized as a SPEC-TRUE PNG byte stream entirely in
    * Column arithmetic: signature, IHDR (constant incl. its CRC32), an
    * IDAT whose zlib stream uses a STORED deflate block (BFINAL=1,
    * BTYPE=00 — LEN/NLEN/raw bytes; java.util.zip.Inflater handles
    * stored blocks natively) wrapping scanlines that CYCLE THROUGH ALL
    * FIVE FILTER TYPES (row r uses filter r mod 5, each encoded by its
    * spec formula — Sub/Up/Average/Paeth deltas mod 256), the raw
    * stream's real ADLER32 (two running sums mod 65521) and the
    * chunk's real CRC32 (the bitwise reflected-polynomial loop as
    * nested HOF aggregates — loops, not unrolled slots, the q138
    * codegen lesson), both computed in Column arithmetic. The decoder
    * ([[graft.Multimodal.decodePngGray]]) verifies every CRC, inflates
    * (Inflater checks the adler), and reconstructs all five filters —
    * so a wrong checksum formula, a filter slip, or a chunk-walk bug
    * each break the gate. Expected output is BIT-IDENTICAL to q133's
    * (same pixels, same dHash pipeline): the gate isolates exactly the
    * PNG decode path.
    */
  def q176PngPixelDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.pngPhashDedup(stagedFixture(s, d, "png_gray"))
      .orderBy("doc_id")

  /** The inline synthesis bodies behind [[stagedFixture]], one per
    * fixture name (the former img-synth probe timed them directly;
    * restore it with
    * `git show a5d0ed7:src/main/scala/graft/ScaleProbes.scala`). */
  private def imageFixture(s: SparkSession, d: String,
                           name: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    val docs = Tables.documents(s, d)
    name match {
      case "png_gray" =>
        pngContent(docs, fixturePix(g, v), rgb = false)
      case "png_rgb" =>
        pngContent(docs, fixturePix(g, v), rgb = true)
      case "cross_container" =>
        // v 0–2: the group's base image; v 3: the alt image
        val pix =
          fixturePix(g, when(v === 3, lit(3)).otherwise(lit(0))) _
        val gray = pngContent(docs, pix, rgb = false)
          .withColumnRenamed("content", "png_gray")
        val rgb = pngContent(docs, pix, rgb = true)
          .withColumnRenamed("content", "png_rgb")
        docs.select(col("doc_id"), bmpContent(pix).as("bmp"))
          .join(gray, Seq("doc_id"))
          .join(rgb, Seq("doc_id"))
          .select(col("doc_id"),
            when(v === 1, col("png_gray"))
              .when(v === 2, col("png_rgb"))
              .otherwise(col("bmp")).as("content"))
      case "jpeg_cross" =>
        // v 0: BMP, v 1: baseline JPEG (72×64 upscale), v 2: gray
        // PNG — the same base image in three containers; v 3: alt BMP
        val pix =
          fixturePix(g, when(v === 3, lit(3)).otherwise(lit(0))) _
        val gray = pngContent(docs, pix, rgb = false)
          .withColumnRenamed("content", "png_gray")
        val jp = jpegContent(docs, pix)
          .withColumnRenamed("content", "jp")
        docs.select(col("doc_id"), bmpContent(pix).as("bmp"))
          .join(gray, Seq("doc_id"))
          .join(jp, Seq("doc_id"))
          .select(col("doc_id"),
            when(v === 1, col("jp"))
              .when(v === 2, col("png_gray"))
              .otherwise(col("bmp")).as("content"))
      case "jpeg_oriented" =>
        // v 0: plain BMP (no EXIF — identity orientation); v 1: JPEG
        // stored rotated 90°CCW, tagged orientation 6; v 2: JPEG
        // stored rotated 90°CW, tagged orientation 8 — all the SAME
        // base image after display normalization; v 3: alt BMP
        val pix =
          fixturePix(g, when(v === 3, lit(3)).otherwise(lit(0))) _
        val j6 = jpegContent(docs, pix, exif = true, orient = 6)
          .withColumnRenamed("content", "j6")
        val j8 = jpegContent(docs, pix, exif = true, orient = 8)
          .withColumnRenamed("content", "j8")
        docs.select(col("doc_id"), bmpContent(pix).as("bmp"))
          .join(j6, Seq("doc_id"))
          .join(j8, Seq("doc_id"))
          .select(col("doc_id"),
            when(v === 1, col("j6"))
              .when(v === 2, col("j8"))
              .otherwise(col("bmp")).as("content"))
      case "jpeg_exif" =>
        // every 7th doc carries NO Exif (the None leg); the rest embed
        // an APP1 with doc_id-derived orientation/model/datetime
        val pix = fixturePix(g, lit(0)) _
        val plain = jpegContent(docs, pix)
          .withColumnRenamed("content", "jp")
        val withEx = jpegContent(docs, pix, exif = true)
          .withColumnRenamed("content", "je")
        plain.join(withEx, Seq("doc_id"))
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, col("jp"))
              .otherwise(col("je")).as("content"))
      case "png_palette" =>
        // v 0: BMP, v 1: gray PNG, v 2: PALETTE-8 PNG (XOR-permuted
        // PLTE) — the same base image; v 3: alt BMP
        val pix =
          fixturePix(g, when(v === 3, lit(3)).otherwise(lit(0))) _
        val gray = pngContent(docs, pix, rgb = false)
          .withColumnRenamed("content", "png_gray")
        val pal = pngContent(docs, pix, rgb = false, palette = true)
          .withColumnRenamed("content", "png_pal")
        docs.select(col("doc_id"), bmpContent(pix).as("bmp"))
          .join(gray, Seq("doc_id"))
          .join(pal, Seq("doc_id"))
          .select(col("doc_id"),
            when(v === 1, col("png_gray"))
              .when(v === 2, col("png_pal"))
              .otherwise(col("bmp")).as("content"))
      case "png_depths" =>
        // its own 5-way split (doc_id % 5): v 0 BMP, v 1
        // ADAM7-INTERLACED gray-8 PNG, v 2 16-BIT gray PNG — all the
        // BASE image, so the interlaced and 16-bit members join the
        // BMP ground truth's hamming-0 clique; v 3 4-BIT gray PNG of
        // the QUANTIZED base ((p div 16)·17 — the exact 255/15 scale
        // roundtrip), v 4 BMP of the same quantized image: the 4-bit
        // member's cross-container hamming-0 twin
        val g5 = expr("doc_id div 5")
        val base = fixturePix(g5, lit(0)) _
        def quant(r: org.apache.spark.sql.Column,
                  c: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column = {
          val p = base(r, c)
          ((p - pmod(p, lit(16))) / lit(16)).cast("int") * 17
        }
        val v5 = pmod(col("doc_id"), lit(5))
        val pi = pngContentDepth(docs, base, "adam7")
          .withColumnRenamed("content", "p_i")
        val p16 = pngContentDepth(docs, base, "g16")
          .withColumnRenamed("content", "p_16")
        val p4 = pngContentDepth(docs, base, "g4")
          .withColumnRenamed("content", "p_4")
        docs.select(col("doc_id"), bmpContent(base).as("bmp"),
            bmpContent(quant).as("bmpq"))
          .join(pi, Seq("doc_id"))
          .join(p16, Seq("doc_id"))
          .join(p4, Seq("doc_id"))
          .select(col("doc_id"),
            when(v5 === 1, col("p_i"))
              .when(v5 === 2, col("p_16"))
              .when(v5 === 3, col("p_4"))
              .when(v5 === 4, col("bmpq"))
              .otherwise(col("bmp")).as("content"))
      case "census" =>
        // the q202 mixed-container profile: its own 14-way split
        // (doc_id % 14) — five image containers, a VALID PCM WAV the
        // image sniff must reject, raw text, the three
        // compressed-audio containers most crawl audio arrives in
        // (r19: FLAC, MP3 behind an ID3v2 tag, ADTS AAC), and (r20)
        // the four modern-crawl legs: WebP cycling all three
        // first-chunk layouts (VP8/VP8L/VP8X), Ogg cycling
        // Opus/Vorbis id headers, AVIF (ISO-BMFF ispe walk, pixi
        // present/absent/10-bit), and an MP3 whose frame sync sits
        // BEHIND post-tag padding (the forward-scan leg) — each with
        // g-varied header fields so the sniffs exercise the field
        // decodes and rate tables, not one constant
        val g10 = expr("doc_id div 14")
        val v10 = pmod(col("doc_id"), lit(14))
        val base = fixturePix(g10, lit(0)) _
        val png = pngContent(docs, base, rgb = false)
          .withColumnRenamed("content", "c_png")
        val jp = jpegContent(docs, base)
          .withColumnRenamed("content", "c_jp")
        val gif = gifContent(docs, base, "plain")
          .withColumnRenamed("content", "c_gif")
        val tif = tiffContent(docs, base, "mm")
          .withColumnRenamed("content", "c_tif")
        val wavHex = "52494646" + "24000000" + "57415645" +
          "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
          "803E0000" + "0200" + "1000" + "64617461" + "00000000"
        // FLAC: fLaC + last-block STREAMINFO(34) — rate 20 bits /
        // ch-1 3 bits / bps-1 5 bits / 36-bit total packed big-endian
        // into one 64-bit hex field; md5 zeroed (valid: unset)
        val flacRate = lit(8000) + pmod(g10, lit(3)) * lit(4000)
        val flacCh = lit(1) + pmod(g10, lit(2))
        val flacPack = flacRate.cast("long") * lit(1L << 44) +
          (flacCh.cast("long") - 1L) * lit(1L << 41) +
          lit(15L) * lit(1L << 36) + lit(1000L)
        val flacHex = concat(
          lit("664C6143" + "80" + "000022" + "1000" + "1000" +
            "000000" + "000000"),
          lpad(hex(flacPack), 16, "0"), lit("0" * 32))
        // MP3: 10-byte ID3v2.3 tag (syncsafe size 0) + one MPEG-1
        // Layer III frame header — FF FB, bitrate idx 9, rate idx
        // g%3, mode stereo/mono by g%2
        val mp3B3 = lit(0x90) + pmod(g10, lit(3)) * lit(4)
        val mp3B4 = pmod(g10, lit(2)) * lit(0xC0)
        val mp3Hex = concat(lit("49443303000000000000" + "FFFB"),
          lpad(hex(mp3B3.cast("long")), 2, "0"),
          lpad(hex(mp3B4.cast("long")), 2, "0"))
        // ADTS AAC: FF F1 (MPEG-4, layer 00, no CRC), profile LC,
        // sfi 8+g%3 (16000/12000/11025), channel cfg 1+g%2; 7-byte
        // header-only frame (len 7, buffer fullness all-ones)
        val adtsSfi = lit(8) + pmod(g10, lit(3))
        val adtsCh = lit(1) + pmod(g10, lit(2))
        val adtsB3 = lit(0x40) + adtsSfi * lit(4) +
          ((adtsCh - pmod(adtsCh, lit(4))) / lit(4)).cast("int")
        val adtsB4 = pmod(adtsCh, lit(4)) * lit(0x40)
        val adtsHex = concat(lit("FFF1"),
          lpad(hex(adtsB3.cast("long")), 2, "0"),
          lpad(hex(adtsB4.cast("long")), 2, "0"), lit("00FFFC"))
        // r20 legs. WebP (v=10): RIFF/WEBP with the first-chunk
        // layout cycling by g%3 — lossy VP8 (sync 9D 01 2A + raw
        // LE16 dims), lossless VP8L (0x2F + packed minus-one dims +
        // alpha bit 28), extended VP8X (flag byte + 24-bit minus-one
        // canvas dims); dims and the alpha flag g-varied
        def be32hex(x: org.apache.spark.sql.Column) =
          lpad(hex(x.cast("long")), 8, "0")
        def le24hex(x: org.apache.spark.sql.Column) =
          concat(byteHex(x, 0), byteHex(x, 1), byteHex(x, 2))
        val webSt = pmod(g10, lit(3))
        val webW = (lit(16) + pmod(g10, lit(7))).cast("int")
        val webH = (lit(9) + pmod(g10, lit(5))).cast("int")
        val webAlpha = pmod(g10, lit(2))
        val vp8Hex = concat(lit("52494646"), le32hex(lit(22)),
          lit("57454250" + "56503820"), le32hex(lit(10)),
          lit("000000" + "9D012A"), le16hex(webW), le16hex(webH))
        val vp8lPack = (webW.cast("long") - 1) +
          (webH.cast("long") - 1) * lit(16384L) +
          webAlpha.cast("long") * lit(1L << 28)
        val vp8lHex = concat(lit("52494646"), le32hex(lit(17)),
          lit("57454250" + "5650384C"), le32hex(lit(5)), lit("2F"),
          le32hex(vp8lPack))
        val vp8xHex = concat(lit("52494646"), le32hex(lit(22)),
          lit("57454250" + "56503858"), le32hex(lit(10)),
          when(webAlpha === 1, lit("10")).otherwise(lit("00")),
          lit("000000"), le24hex(webW - 1), le24hex(webH - 1))
        val webpHex = when(webSt === 0, vp8Hex)
          .when(webSt === 1, vp8lHex).otherwise(vp8xHex)
        // Ogg (v=11): one BOS page (version 0, type 0x02, 1 lacing
        // value) whose packet is an Opus or Vorbis id header by g%2;
        // rate 8/16/24 kHz by g%3, channels 1/2 by (g div 2)%2
        val oggCt = pmod(g10, lit(2))
        val oggCh = (lit(1) + pmod(expr("doc_id div 28"), lit(2)))
          .cast("int")
        val oggRate = (lit(8000) * (lit(1) + pmod(g10, lit(3))))
          .cast("int")
        val oggChHex = lpad(hex(oggCh.cast("long")), 2, "0")
        val opusPkt = concat(lit("4F70757348656164" + "01"), oggChHex,
          lit("0000"), le32hex(oggRate), lit("0000" + "00"))
        val vorbPkt = concat(lit("01" + "766F72626973" + "00000000"),
          oggChHex, le32hex(oggRate),
          lit("0" * 24 + "66" + "01"))
        val oggHdr = lit("4F676753" + "00" + "02" + "0" * 16 +
          "01000000" + "00000000" + "00000000" + "01")
        val oggHex = concat(oggHdr,
          when(oggCt === 0, lit("13")).otherwise(lit("1E")),
          when(oggCt === 0, opusPkt).otherwise(vorbPkt))
        // AVIF (v=12): ftyp(avif) + meta/iprp/ipco with a g-varied
        // ispe and a pixi that is 8-bit, 10-bit, or absent by g%3
        val avW = (lit(20) + pmod(g10, lit(9))).cast("int")
        val avH = (lit(11) + pmod(g10, lit(6))).cast("int")
        val avPm = pmod(g10, lit(3))
        val ispeHex = concat(lit("00000014" + "69737065" + "00000000"),
          be32hex(avW), be32hex(avH))
        val pixiHex =
          when(avPm === 0,
            lit("00000010" + "70697869" + "00000000" + "03" + "080808"))
          .when(avPm === 1,
            lit("00000010" + "70697869" + "00000000" + "03" + "0A0A0A"))
          .otherwise(lit(""))
        val pixiLen = when(avPm.isin(2), lit(0)).otherwise(lit(16))
        val ipcoLen = lit(28) + pixiLen
        val avifHex = concat(
          lit("00000010" + "66747970" + "61766966" + "00000000"),
          be32hex(ipcoLen + 20), lit("6D657461" + "00000000"),
          be32hex(ipcoLen + 8), lit("69707270"),
          be32hex(ipcoLen), lit("6970636F"),
          ispeHex, pixiHex)
        // padded MP3 (v=13): ID3v2.3 tag declaring 8 body bytes, 6
        // bytes of post-tag padding, THEN the frame sync — the
        // forward-scan leg; frame fields as v=8
        val mp3pB3 = lit(0x90) + pmod(g10, lit(3)) * lit(4)
        val mp3pB4 = pmod(g10, lit(2)) * lit(0xC0)
        val mp3PadHex = concat(
          lit("49443303000000000008" + "0" * 16 + "0" * 12 + "FFFB"),
          lpad(hex(mp3pB3.cast("long")), 2, "0"),
          lpad(hex(mp3pB4.cast("long")), 2, "0"))
        docs.select(col("doc_id"), col("text"),
            bmpContent(base).as("bmp"))
          .join(png, Seq("doc_id"))
          .join(jp, Seq("doc_id"))
          .join(gif, Seq("doc_id"))
          .join(tif, Seq("doc_id"))
          .select(col("doc_id"),
            when(v10 === 1, col("c_png"))
              .when(v10 === 2, col("c_jp"))
              .when(v10 === 3, col("c_gif"))
              .when(v10 === 4, col("c_tif"))
              .when(v10 === 5, unhex(lit(wavHex)))
              .when(v10 === 6, col("text").cast("binary"))
              .when(v10 === 7, unhex(flacHex))
              .when(v10 === 8, unhex(mp3Hex))
              .when(v10 === 9, unhex(adtsHex))
              .when(v10 === 10, unhex(webpHex))
              .when(v10 === 11, unhex(oggHex))
              .when(v10 === 12, unhex(avifHex))
              .when(v10 === 13, unhex(mp3PadHex))
              .otherwise(col("bmp")).as("content"))
      case "tiff" =>
        // the cross_container split verbatim (v 0–2 base, v 3 alt):
        // v 0 BMP, v 1 little-endian single-strip TIFF, v 2 BIG-endian
        // two-strip WhiteIsZero TIFF — shares crossContainerOracle
        val pix = fixturePix(g, when(v === 3, lit(3)).otherwise(lit(0))) _
        val ti = tiffContent(docs, pix, "ii")
          .withColumnRenamed("content", "t_ii")
        val tm = tiffContent(docs, pix, "mm")
          .withColumnRenamed("content", "t_mm")
        docs.select(col("doc_id"), bmpContent(pix).as("bmp"))
          .join(ti, Seq("doc_id"))
          .join(tm, Seq("doc_id"))
          .select(col("doc_id"),
            when(v === 1, col("t_ii"))
              .when(v === 2, col("t_mm"))
              .otherwise(col("bmp")).as("content"))
      case "png_alpha" =>
        // its own 5-way split (doc_id % 5): v 0 BMP of the BASE
        // image; v 1 GRAY+ALPHA PNG and v 2 RGBA PNG, both fully
        // OPAQUE — the composite's identity, so they join the base
        // clique; v 3 gray+alpha with a VARYING alpha plane and v 4
        // the BMP twin storing the white-composited grays — the pair
        // that gates the composite arithmetic itself
        val g5 = expr("doc_id div 5")
        val base = fixturePix(g5, lit(0)) _
        def aPlane(y: Int, x: Int): org.apache.spark.sql.Column =
          pmod(g5 * 5 + lit(y * 11 + x * 19), lit(256))
        def composited(r: org.apache.spark.sql.Column,
                       c: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column = {
          // mirrors the decoder: (p·a + 255·(255−a)) div 255 — r/c
          // arrive as bmpContent's HOF lambda variables, which the
          // alpha formula consumes like any other Column
          val p = base(r, c)
          val a = pmod(g5 * 5 + r * 11 + c * 19, lit(256))
          val t = p * a + lit(255) * (lit(255) - a)
          ((t - pmod(t, lit(255))) / lit(255)).cast("int")
        }
        val v5 = pmod(col("doc_id"), lit(5))
        val ga = pngContentDepth(docs, base, "ga8")
          .withColumnRenamed("content", "p_ga")
        val rgba = pngContentDepth(docs, base, "rgba8")
          .withColumnRenamed("content", "p_rgba")
        val gat = pngContentDepth(docs, base, "ga8",
            alphaOf = Some(aPlane))
          .withColumnRenamed("content", "p_gat")
        docs.select(col("doc_id"), bmpContent(base).as("bmp"),
            bmpContent(composited).as("bmpc"))
          .join(ga, Seq("doc_id"))
          .join(rgba, Seq("doc_id"))
          .join(gat, Seq("doc_id"))
          .select(col("doc_id"),
            when(v5 === 1, col("p_ga"))
              .when(v5 === 2, col("p_rgba"))
              .when(v5 === 3, col("p_gat"))
              .when(v5 === 4, col("bmpc"))
              .otherwise(col("bmp")).as("content"))
      case "gif_lzw" =>
        // its own 5-way split (doc_id % 5): v 0 BMP of the BASE
        // image; v 1 plain GIF, v 2 INTERLACED GIF, v 3 local-table
        // GIF (reversed global table shadowed by a straight local
        // one) — all three store index p div 2 and decode to the
        // evenly QUANTIZED base; v 4 BMP of the same quantized image,
        // the GIF members' cross-container hamming-0 twin
        val g5 = expr("doc_id div 5")
        val base = fixturePix(g5, lit(0)) _
        def quant(r: org.apache.spark.sql.Column,
                  c: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column = {
          val p = base(r, c)
          (p - pmod(p, lit(2))).cast("int")
        }
        val v5 = pmod(col("doc_id"), lit(5))
        val gifPlain = gifContent(docs, base, "plain")
          .withColumnRenamed("content", "g_p")
        val gifIl = gifContent(docs, base, "interlace")
          .withColumnRenamed("content", "g_i")
        val gifLct = gifContent(docs, base, "lct")
          .withColumnRenamed("content", "g_l")
        docs.select(col("doc_id"), bmpContent(base).as("bmp"),
            bmpContent(quant).as("bmpq"))
          .join(gifPlain, Seq("doc_id"))
          .join(gifIl, Seq("doc_id"))
          .join(gifLct, Seq("doc_id"))
          .select(col("doc_id"),
            when(v5 === 1, col("g_p"))
              .when(v5 === 2, col("g_i"))
              .when(v5 === 3, col("g_l"))
              .when(v5 === 4, col("bmpq"))
              .otherwise(col("bmp")).as("content"))
      case "jpeg_modes" =>
        // v 0: baseline JPEG, v 1: restart-interval JPEG (DRI + RSTn),
        // v 2: PROGRESSIVE JPEG (SOF2, DC scan + EOB-run AC scan) —
        // the same base image through three entropy-coding layouts of
        // one format; v 3: alt BMP
        val pix =
          fixturePix(g, when(v === 3, lit(3)).otherwise(lit(0))) _
        val jb = jpegContent(docs, pix)
          .withColumnRenamed("content", "jb")
        val jr = jpegContent(docs, pix, mode = "restart")
          .withColumnRenamed("content", "jr")
        val jp = jpegContent(docs, pix, mode = "progressive")
          .withColumnRenamed("content", "jp")
        docs.select(col("doc_id"), bmpContent(pix).as("bmp"))
          .join(jb, Seq("doc_id"))
          .join(jr, Seq("doc_id"))
          .join(jp, Seq("doc_id"))
          .select(col("doc_id"),
            when(v === 0, col("jb"))
              .when(v === 1, col("jr"))
              .when(v === 2, col("jp"))
              .otherwise(col("bmp")).as("content"))
    }
  }

  private val fixturesStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Every fixture [[imageFixture]] synthesizes. */
  private val FixtureNames = Seq("png_gray", "png_rgb", "cross_container",
    "jpeg_cross", "jpeg_oriented", "jpeg_exif", "png_palette",
    "png_depths", "census", "tiff", "png_alpha", "gif_lzw", "jpeg_modes")

  /** Stage all of dataset `d`'s image fixtures now, so the queries that
    * read them pay only read → decode → dedup — what a bench calls
    * before its timed draws. */
  def stageFixtures(s: SparkSession, d: String): Unit =
    FixtureNames.foreach(stagedFixture(s, d, _))

  /** Materialized binary-fixture staging — the r15a-ab probe lesson
    * applied to the image gates: the spec-true PNG synthesis is
    * Column-arithmetic CRC32/Adler32 work ~5× the decode under test
    * (92.7 s of the 316 s r15 headline was fixture generation), so
    * the registered q176/q180/q181 bodies read STAGED parquet — built
    * once per process per dataset, the [[graft.Bpe.mergeTable]]
    * discipline (per-process path + exit-hook cleanup) — and the
    * timed body is read → decode → dedup, the deployment shape: a
    * real corpus STORES its image bytes, it does not re-derive them
    * per scan. Synthesis cost is measured separately (the img-synth
    * probe in `git show a5d0ed7:src/main/scala/graft/ScaleProbes.scala`). */
  private def stagedFixture(s: SparkSession, d: String,
                            name: String): DataFrame = {
    val path = fixturesStaged.computeIfAbsent(s"$d/$name", _ => {
      val p = "/tmp/graft_imgfix_" + name + "_" +
        d.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_p" + ProcessHandle.current().pid()
      imageFixture(s, d, name).write.mode("overwrite").parquet(p)
      graft.TmpDirs.deleteOnExit(p)
      p
    })
    s.read.parquet(path)
  }

  /** Spec-true PNG content synthesis shared by q176 (grayscale), q180
    * (truecolor) and q181 (cross-container): the given pixel formula
    * becomes a complete PNG byte stream per doc — signature, constant
    * IHDR (incl. its CRC, derived once from the spec polynomial), an
    * IDAT whose zlib stream is a STORED deflate block wrapping
    * scanlines that cycle all five filter types, the raw stream's
    * Adler32 (two running sums mod 65521, RFC 1950 §8.2) and the
    * chunk's CRC32 (the ISO 3309 reflected-polynomial bitwise loop as
    * nested HOF aggregates), IEND. For `rgb` the pixel splits into
    * channels (p−1, p, p+1) — all-p at the 255 clamp — whose integer
    * average reconstructs exactly p, and filters encode per CHANNEL
    * byte (spec §9 bpp semantics). STAGED BEHIND PERSIST BARRIERS:
    * every later stage references the previous array column several
    * times, and projection collapse would otherwise duplicate the
    * whole upstream expression tree per reference — the HOF-collapse
    * lesson, 4th occurrence (the unstaged first cut paid 94 s at
    * sf0.1; staged, ~2 s).
    * @return (doc_id, content) */
  /** A complete PNG chunk (length + type + payload + CRC32) as hex —
    * for the CONSTANT chunks of the palette fixture (IHDR variant,
    * the 256-entry PLTE). Constants are driver-side like the existing
    * literal IHDR hex; only per-row data (IDAT payload, its Adler32
    * and CRC32) stays Column arithmetic. */
  private def pngChunkHex(typ: String, payload: Array[Byte]): String = {
    val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val crc = new java.util.zip.CRC32()
    crc.update(tb)
    crc.update(payload)
    "%08X".format(payload.length) +
      tb.map(b => "%02X".format(b & 0xff)).mkString +
      payload.map(b => "%02X".format(b & 0xff)).mkString +
      "%08X".format(crc.getValue)
  }

  /** The palette fixture's PLTE: entry i = gray (i ^ 0xA5) on all
    * three channels — a self-inverse permutation, so the encoder's
    * index for gray p is p ^ 0xA5 and a decoder that skips the lookup
    * (or swaps index/value) produces visibly different grays. */
  private lazy val xorPlteHex: String = pngChunkHex("PLTE",
    (0 until 256).flatMap(i =>
      Seq.fill(3)((i ^ 0xA5).toByte)).toArray)

  private def pngContent(docs: DataFrame,
                         pix: (org.apache.spark.sql.Column,
                           org.apache.spark.sql.Column) =>
                           org.apache.spark.sql.Column,
                         rgb: Boolean,
                         palette: Boolean = false): DataFrame = {
    type C = org.apache.spark.sql.Column
    val nChan = if (rgb) 3 else 1
    val n = 8 * (1 + 9 * nChan) // raw scanline bytes
    // palette mode: the raw byte is an INDEX into a non-trivial
    // (XOR-permuted) PLTE whose entry i is gray i^0xA5 — the encoder
    // writes index p^0xA5, so the decoder's lookup reconstructs
    // exactly p, and an index/value swap anywhere breaks the gate
    // (an identity palette would not catch it)
    def chanv(r: C, c: C, ch: Int): C =
      if (palette) pix(r, c).bitwiseXOR(lit(0xA5))
      else if (!rgb) pix(r, c)
      else {
        val p = pix(r, c)
        when(p === 255, p).otherwise(p + lit(ch - 1))
      }
    // scanline encoding per PNG spec §9 (absent neighbors = 0; `left`
    // is the same channel of the previous pixel)
    def enc(r: C, c: C, ch: Int): C = {
      val p = chanv(r, c, ch)
      // isin(0), not === 0: r and c arrive as literals here (see
      // fixturePix's WARN-flood note)
      val left = when(c.isin(0), lit(0)).otherwise(chanv(r, c - 1, ch))
      val up = when(r.isin(0), lit(0)).otherwise(chanv(r - 1, c, ch))
      val ul = when(r.isin(0) || c.isin(0), lit(0))
        .otherwise(chanv(r - 1, c - 1, ch))
      val q = left + up - ul
      val paeth = when(abs(q - left) <= abs(q - up) &&
          abs(q - left) <= abs(q - ul), left)
        .when(abs(q - up) <= abs(q - ul), up)
        .otherwise(ul)
      val f = pmod(r, lit(5))
      when(f === 0, p)
        .when(f === 1, pmod(p - left, lit(256)))
        .when(f === 2, pmod(p - up, lit(256)))
        .when(f === 3, pmod(p - shiftright(left + up, 1), lit(256)))
        .otherwise(pmod(p - paeth, lit(256)))
        .cast("int")
    }
    val rawBytes = flatten(transform(sequence(lit(0), lit(7)), r =>
      concat(array(pmod(r, lit(5)).cast("int")),
        if (rgb)
          flatten(transform(sequence(lit(0), lit(8)), c =>
            array(enc(r, c, 0), enc(r, c, 1), enc(r, c, 2))))
        else transform(sequence(lit(0), lit(8)), c => enc(r, c, 1)))))
    val staged = Caches.persistTracked(
      docs.select(col("doc_id"), rawBytes.as("raw")))
    val ihdrHex =
      if (palette) pngChunkHex("IHDR",
        Array[Byte](0, 0, 0, 9, 0, 0, 0, 8, 8, 3, 0, 0, 0))
      else if (rgb) "0000000D4948445200000009000000080802000000A4AF42E2"
      else "0000000D49484452000000090000000808000000000EA68A69"
    pngAssemble(staged, n, ihdrHex, if (palette) xorPlteHex else "")
  }

  /** The shared PNG assembly tail — raw scanline stream (a `raw`
    * int-array column on `staged`) → STORED-deflate zlib (Adler32 as
    * two running sums, RFC 1950 §8.2), IDAT CRC32 (the ISO 3309
    * reflected-polynomial loop), constant IHDR/PLTE hex — factored
    * out of [[pngContent]] so the depth/interlace fixture variants
    * ([[pngContentDepth]]) reuse the checksum machinery verbatim. */
  private def pngAssemble(staged: DataFrame, n: Int, ihdrHex: String,
                          plteHex: String = ""): DataFrame = {
    val raw = col("raw")
    val s1 = pmod(lit(1L) +
      aggregate(raw, lit(0L), (a, x) => a + x), lit(65521L))
    val s2 = pmod(lit(n.toLong) +
      aggregate(zip_with(raw, sequence(lit(1), lit(n)),
        (dd, j) => dd.cast("long") * (lit(n + 1) - j).cast("long")),
        lit(0L), (a, x) => a + x), lit(65521L))
    val adler = s2 * 65536L + s1
    def adlerByte(k: Int) =
      shiftright(adler, 8 * k).bitwiseAND(lit(255L)).cast("int")
    // stored deflate block: 78 01, BFINAL|stored, LEN le16, NLEN le16
    val zlibBytes = concat(
      array(lit(0x78), lit(0x01), lit(0x01),
        lit(n & 0xff), lit((n >> 8) & 0xff),
        lit(~n & 0xff), lit((~n >> 8) & 0xff)),
      raw,
      array(adlerByte(3), adlerByte(2), adlerByte(1), adlerByte(0)))
    val withZlib = Caches.persistTracked(
      staged.select(col("doc_id"), zlibBytes.as("zl")))
    val crcInput = concat(
      array(lit(0x49), lit(0x44), lit(0x41), lit(0x54)), col("zl"))
    val crc = aggregate(crcInput, lit(0xFFFFFFFFL), (acc, b) =>
      aggregate(sequence(lit(1), lit(8)),
        acc.bitwiseXOR(b.cast("long")),
        (x, _) => shiftrightunsigned(x, 1).bitwiseXOR(
          when(x.bitwiseAND(lit(1L)) === 1L, lit(0xEDB88320L))
            .otherwise(lit(0L)))))
      .bitwiseXOR(lit(0xFFFFFFFFL))
    val pngHex = concat(
      lit("89504E470D0A1A0A"),
      lit(ihdrHex),
      lit(plteHex),
      lit("%08X".format(n + 11) + "49444154"),
      concat_ws("", transform(col("zl"),
        b => lpad(hex(b.cast("long")), 2, "0"))),
      lpad(hex(crc), 8, "0"),
      lit("0000000049454E44AE426082"))
    withZlib.select(col("doc_id"), unhex(pngHex).as("content"))
  }

  /** Spec-true PNG synthesis for the DEPTH/INTERLACE shapes q193
    * gates (the [[pngContent]] machinery at the other corners of the
    * IHDR matrix; 9×8 grayscale fixture geometry throughout):
    *
    *  - `adam7`: gray-8 INTERLACED — the seven-pass scanline order
    *    (spec §8.2) with per-pass filter semantics (each pass filters
    *    against its OWN previous row/pixel), filters cycling over the
    *    global scanline index so all five appear;
    *  - `g16`: gray 16-bit — each sample is (pix << 8) | (255 − pix):
    *    a decoder taking the LOW byte produces visibly different
    *    grays, so the truncation direction is gated; filters run at
    *    bpp = 2 (high and low bytes filter against their own lane);
    *  - `g4`: gray 4-bit of the QUANTIZED image (sample q = pix div
    *    16, decoded gray q·17 — the exact 255/15 scale roundtrip):
    *    two samples per byte MSB-first, odd width so the last byte
    *    carries pad bits, filters at bpp = 1 over the PACKED bytes;
    *  - `ga8`: GRAY+ALPHA (color type 4) — the alpha plane comes from
    *    `alphaOf` (opaque when absent); filters at bpp = 2;
    *  - `rgba8`: RGBA (color type 6) — q180's (p−1, p, p+1) channel
    *    trick plus the alpha lane; filters at bpp = 4.
    *
    * The pass/row/filter geometry is STATIC for the fixed fixture
    * dims, so the builder emits one literal-indexed expression per
    * byte — same codegen shape as the BMP builder. */
  private def pngContentDepth(docs: DataFrame,
                              pix: (org.apache.spark.sql.Column,
                                org.apache.spark.sql.Column) =>
                                org.apache.spark.sql.Column,
                              mode: String,
                              alphaOf: Option[(Int, Int) =>
                                org.apache.spark.sql.Column] = None)
      : DataFrame = {
    type C = org.apache.spark.sql.Column
    // alpha plane for the `ga8`/`rgba8` modes: caller's formula, or
    // fully opaque (the composite's identity)
    def aF(y: Int, x: Int): C =
      alphaOf.map(f => f(y, x)).getOrElse(lit(255))
    def filt(f: Int, p: C, left: C, up: C, ul: C): C = f match {
      case 0 => p.cast("int")
      case 1 => pmod(p - left, lit(256)).cast("int")
      case 2 => pmod(p - up, lit(256)).cast("int")
      case 3 => pmod(p - shiftright(left + up, 1), lit(256)).cast("int")
      case _ =>
        val q = left + up - ul
        val paeth = when(abs(q - left) <= abs(q - up) &&
            abs(q - left) <= abs(q - ul), left)
          .when(abs(q - up) <= abs(q - ul), up)
          .otherwise(ul)
        pmod(p - paeth, lit(256)).cast("int")
    }
    // each mode yields (scanline byte arrays, ihdr payload)
    val (rowArrays, ihdr): (Seq[C], Array[Byte]) = mode match {
      case "adam7" =>
        val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
          (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        var rowIdx = 0
        val rows = passes.flatMap { case (xs, ys, xst, yst) =>
          val cs = xs until 9 by xst
          val rs = ys until 8 by yst
          if (cs.isEmpty || rs.isEmpty) Nil
          else rs.zipWithIndex.map { case (y, pr) =>
            val f = rowIdx % 5
            rowIdx += 1
            val cells = cs.zipWithIndex.map { case (x, pc) =>
              filt(f, pix(lit(y), lit(x)),
                if (pc > 0) pix(lit(y), lit(x - xst)) else lit(0),
                if (pr > 0) pix(lit(y - yst), lit(x)) else lit(0),
                if (pr > 0 && pc > 0) pix(lit(y - yst), lit(x - xst))
                else lit(0))
            }
            array(lit(f).cast("int") +: cells: _*)
          }
        }
        (rows, Array[Byte](0, 0, 0, 9, 0, 0, 0, 8, 8, 0, 0, 0, 1))
      case "g16" =>
        def b16(y: Int, x: Int, k: Int): C =
          if (k == 0) pix(lit(y), lit(x))
          else lit(255) - pix(lit(y), lit(x))
        val rows = (0 until 8).map { y =>
          val f = y % 5
          val cells = (0 until 9).flatMap { x =>
            Seq(0, 1).map { k =>
              filt(f, b16(y, x, k),
                if (x > 0) b16(y, x - 1, k) else lit(0),
                if (y > 0) b16(y - 1, x, k) else lit(0),
                if (y > 0 && x > 0) b16(y - 1, x - 1, k) else lit(0))
            }
          }
          array(lit(f).cast("int") +: cells: _*)
        }
        (rows, Array[Byte](0, 0, 0, 9, 0, 0, 0, 8, 16, 0, 0, 0, 0))
      case "g4" =>
        def q4(y: Int, x: Int): C = {
          val p = pix(lit(y), lit(x))
          (p - pmod(p, lit(16))) / lit(16)
        }
        def packed(y: Int, j: Int): C =
          if (j == 4) q4(y, 8) * 16
          else q4(y, 2 * j) * 16 + q4(y, 2 * j + 1)
        val rows = (0 until 8).map { y =>
          val f = y % 5
          val cells = (0 until 5).map { j =>
            filt(f, packed(y, j),
              if (j > 0) packed(y, j - 1) else lit(0),
              if (y > 0) packed(y - 1, j) else lit(0),
              if (y > 0 && j > 0) packed(y - 1, j - 1) else lit(0))
          }
          array(lit(f).cast("int") +: cells: _*)
        }
        (rows, Array[Byte](0, 0, 0, 9, 0, 0, 0, 8, 4, 0, 0, 0, 0))
      case "ga8" =>
        // GRAY+ALPHA 8-bit (color type 4): channels interleave
        // [g a g a …]; filters run at bpp = 2, so `left` is the same
        // channel one pixel back — the alpha lane filters against
        // itself
        def cell(y: Int, x: Int, k: Int): C =
          if (k == 0) pix(lit(y), lit(x)) else aF(y, x)
        val rows = (0 until 8).map { y =>
          val f = y % 5
          val cells = (0 until 9).flatMap { x =>
            Seq(0, 1).map { k =>
              filt(f, cell(y, x, k),
                if (x > 0) cell(y, x - 1, k) else lit(0),
                if (y > 0) cell(y - 1, x, k) else lit(0),
                if (y > 0 && x > 0) cell(y - 1, x - 1, k) else lit(0))
            }
          }
          array(lit(f).cast("int") +: cells: _*)
        }
        (rows, Array[Byte](0, 0, 0, 9, 0, 0, 0, 8, 8, 4, 0, 0, 0))
      case "rgba8" =>
        // RGBA 8-bit (color type 6): the q180 channel trick
        // (p−1, p, p+1 average back to exactly p) plus the alpha
        // lane; filters at bpp = 4
        def cell(y: Int, x: Int, k: Int): C = k match {
          case 0 => pix(lit(y), lit(x)) - lit(1)
          case 1 => pix(lit(y), lit(x))
          case 2 => pix(lit(y), lit(x)) + lit(1)
          case _ => aF(y, x)
        }
        val rows = (0 until 8).map { y =>
          val f = y % 5
          val cells = (0 until 9).flatMap { x =>
            (0 until 4).map { k =>
              filt(f, cell(y, x, k),
                if (x > 0) cell(y, x - 1, k) else lit(0),
                if (y > 0) cell(y - 1, x, k) else lit(0),
                if (y > 0 && x > 0) cell(y - 1, x - 1, k) else lit(0))
            }
          }
          array(lit(f).cast("int") +: cells: _*)
        }
        (rows, Array[Byte](0, 0, 0, 9, 0, 0, 0, 8, 8, 6, 0, 0, 0))
      case other =>
        throw new IllegalArgumentException(s"unknown PNG mode $other")
    }
    val rawBytes = concat(rowArrays: _*)
    // raw length: scanline count + sample bytes — static per mode
    val rawLen = mode match {
      case "adam7" => 15 + 72      // 15 pass rows, 72 samples
      case "g16" => 8 * (1 + 18)   // 8 rows of 18 sample bytes
      case "ga8" => 8 * (1 + 18)   // 8 rows of 9 (gray, alpha) pairs
      case "rgba8" => 8 * (1 + 36) // 8 rows of 9 RGBA quads
      case _ => 8 * (1 + 5)        // 8 rows of 5 packed bytes
    }
    val staged = Caches.persistTracked(
      docs.select(col("doc_id"), rawBytes.as("raw")))
    pngAssemble(staged, rawLen, pngChunkHex("IHDR", ihdr))
  }

  /** q180: TRUECOLOR PNG pixel dedup — q176's gate re-run through the
    * 3-channel decode path. Each pixel splits into channels
    * (pix−1, pix, pix+1) — (255,255,255) at the clamp — whose integer
    * average is EXACTLY [[fixturePix]] again ((3p)/3 = p), so the
    * decoded grays, the dHash pipeline, and therefore the ORACLE are
    * q133/q176's verbatim while the bytes exercise genuinely new
    * machinery: bpp-3 filter reconstruction (`left` = the same channel
    * of the previous pixel, 3 bytes back), 224-byte scanline stride,
    * and the channel→gray average. Same spec-true synthesis as q176
    * (stored-block deflate, Column-computed Adler32/CRC32), same
    * persist-barrier staging.
    */
  def q180PngRgbDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.pngPhashDedup(stagedFixture(s, d, "png_rgb"))
      .orderBy("doc_id")

  /** Spec-true BASELINE JPEG bytes for the 72×64 BLOCK-CONSTANT
    * upscale of a 9×8 pixel formula — the q176 synthesis discipline
    * for the entropy-coded container: each fixture pixel becomes one
    * flat 8×8 JPEG block (9×8 blocks = 72×64 samples), so the
    * Huffman-coded stream is DC-only (category + amplitude + EOB per
    * block) and round-trips EXACTLY: with the all-ones quantization
    * table and F00 = 8·(p − 128), the decoder's IDCT of a DC-only
    * block is the flat integer p, and [[graft.Multimodal.dHash64]]'s
    * box-average downscale (72/9 = 64/8 = 8 exactly) recovers the
    * 9×8 formula — so q184 shares q181's container-blind oracle
    * verbatim while exercising genuinely new machinery (marker walk,
    * DQT/DHT parsing, canonical Huffman decode, EXTEND, DC
    * prediction, IDCT). Layout: SOI; DQT (8-bit, all ones); SOF0
    * (8-bit, 64×72, one component, 1×1 sampling); DHT DC (twelve
    * 4-bit codes — canonical code of category c IS c); DHT AC (the
    * single EOB symbol on a 1-bit code); SOS; the bit-packed scan
    * (MSB-first, 1-padded to a byte, 0xFF00-stuffed); EOI. DC diffs
    * are multiples of 8 in [−2032, 2032] → categories 4..11, inside
    * the DC table. All Column arithmetic, HOF loops (the q138
    * codegen-size lesson), staged behind a persist barrier (the
    * HOF-collapse lesson).
    * @return (doc_id, content) */
  private def jpegContent(docs: DataFrame,
                          pix: (org.apache.spark.sql.Column,
                            org.apache.spark.sql.Column) =>
                            org.apache.spark.sql.Column,
                          mode: String = "baseline",
                          exif: Boolean = false,
                          orient: Int = 0): DataFrame = {
    type C = org.apache.spark.sql.Column
    // bit k (0-based from LSB) of a small non-negative int, HOF-safe
    // (shiftright/shiftleft take only literal Int shift amounts)
    def bitOf(x: C, k: C): C =
      pmod(floor(x / pow(lit(2.0), k)).cast("int"), lit(2))
    // `orient` 6/8: store the base image ROTATED (the camera-native
    // layout phones emit) and tag the EXIF orientation so display
    // normalization recovers it exactly — stored grid is 8 blocks per
    // row x 9 rows (64x72 samples); 6 stores rotate90CCW(base)
    // (stored(i,j) = base(j, 8-i)), 8 stores rotate90CW(base)
    // (stored(i,j) = base(7-j, i)). Rotation maps block-constant 8x8
    // blocks to 8x8 blocks, so DC-exactness is untouched.
    require(orient == 0 || ((orient == 6 || orient == 8) && exif),
      s"jpegContent: orient=$orient needs exif=true and 6|8")
    def pixAt(b: C): C = orient match {
      case 6 => pix(pmod(b, lit(8)), lit(8) - floor(b / 8).cast("int"))
      case 8 => pix(lit(7) - pmod(b, lit(8)), floor(b / 8).cast("int"))
      case _ => pix(floor(b / 9).cast("int"), pmod(b, lit(9)))
    }
    // SOF dims: height then width, big-endian (base 64x72; rotated
    // storage 72x64)
    val dimsHex = if (orient == 6 || orient == 8) "00480040"
      else "00400048"
    def fdc(b: C): C = (pixAt(b) - 128) * 8 // dequantized DC for block b
    // DC prediction resets at block 0 — and, in restart mode, at every
    // 8-block segment start (the decoder resets dcPred per RSTn);
    // progressive scans carry no per-block EOB (the AC band lives in
    // its own scan)
    val blockBits = transform(sequence(lit(0), lit(71)), b => {
      val segStart =
        if (mode == "restart") pmod(b, lit(8)) === 0 else b === 0
      val diff = fdc(b) - when(segStart, lit(0)).otherwise(fdc(b - 1))
      val cat = when(diff === 0, lit(0))
        .otherwise((floor(log2(abs(diff))) + 1).cast("int"))
      val amp = when(diff >= 0, diff)
        .otherwise(diff + pow(lit(2.0), cat).cast("int") - 1)
      concat(
        transform(sequence(lit(3), lit(0), lit(-1)), k => bitOf(cat, k)),
        when(cat === 0, array().cast("array<int>"))
          .otherwise(transform(sequence(cat - 1, lit(0), lit(-1)),
            k => bitOf(amp, k))),
        if (mode == "progressive") array().cast("array<int>")
        else array(lit(0))) // the AC table's 1-bit EOB
    })
    // staged UNflattened so restart mode can regroup by segment behind
    // the persist barrier (the HOF-collapse lesson)
    val staged = Caches.persistTracked(docs.select(col("doc_id"),
      blockBits.as("blk")))
    // optional APP1 Exif segment (II little-endian TIFF, IFD0 with
    // Model/Orientation/DateTime — tags ascending per the spec): all
    // offsets are constants of the fixed layout (IFD at 8, data at
    // 50/55), only the three field values derive from doc_id; the
    // dt string hex-encodes via cast-to-binary (ASCII-safe)
    val exifHex: org.apache.spark.sql.Column = {
      // a forced-rotation fixture tags its actual orientation; the
      // metadata gate (q189) derives it from doc_id
      val orientC =
        (if (orient > 0) lit(orient)
         else lit(1) + pmod(col("doc_id"), lit(8))).cast("int")
      val modelDigit = pmod(col("doc_id"), lit(5)).cast("int")
      val dt = concat(lit("2024:01:"),
        lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"),
        lit(" "),
        lpad(pmod(col("doc_id"), lit(24)).cast("string"), 2, "0"),
        lit(":"),
        lpad(pmod(col("doc_id"), lit(60)).cast("string"), 2, "0"),
        lit(":"),
        lpad(pmod(col("doc_id") * 7, lit(60)).cast("string"), 2, "0"))
      concat(
        lit("FFE10053457869660000" + // APP1, len 83, "Exif\0\0"
          "49492A0008000000" +       // "II", 42, IFD0 at 8
          "0300" +                   // 3 entries
          "100102000500000032000000" + // Model: ASCII x5 @ 50
          "1201030001000000"),       // Orientation: SHORT x1 inline
        lpad(hex(orientC), 2, "0"), lit("000000"),
        lit("320102001400000037000000" + // DateTime: ASCII x20 @ 55
          "00000000" +               // no next IFD
          "63616D"),                 // "cam"
        lpad(hex(lit(48) + modelDigit), 2, "0"), lit("00"),
        hex(dt.cast("binary")), lit("00"))
    }
    val lead: org.apache.spark.sql.Column =
      if (exif) concat(lit("FFD8"), exifHex) else lit("FFD8")
    // 1-padded MSB-first byte packing + 0xFF00 stuffing of a bit array
    def packBits(bits: C): C = {
      val pad = pmod(lit(8) - pmod(size(bits), lit(8)), lit(8))
      val padded = concat(bits, array_repeat(lit(1), pad))
      val nb = ((size(bits) + pad) / 8).cast("int")
      val bytesArr = transform(sequence(lit(0), nb - 1), k =>
        aggregate(slice(padded, k * 8 + 1, lit(8)), lit(0),
          (a, x) => a * 2 + x))
      flatten(transform(bytesArr, v =>
        when(v === 255, array(lit(255), lit(0))).otherwise(array(v))))
    }
    val scanBytes = mode match {
      case "restart" =>
        // nine 8-block segments, each byte-aligned, joined by the
        // cycling RST0..RST7 re-sync markers (none after the last)
        flatten(transform(sequence(lit(0), lit(8)), seg => {
          val segBits = flatten(transform(
            sequence(seg * 8, seg * 8 + 7),
            b => element_at(col("blk"), b + 1)))
          val sb = packBits(segBits)
          when(seg < 8, concat(sb, array(lit(255), lit(208) + seg)))
            .otherwise(sb)
        }))
      case _ => packBits(flatten(col("blk")))
    }
    val withBytes = Caches.persistTracked(
      staged.select(col("doc_id"), scanBytes.as("sb")))
    val dqtDhtHex =
      "FFDB004300" + "01" * 64 +
      "FFC4001F00" + "0000000C" + "00" * 12 +
      "000102030405060708090A0B"
    val sbHex = concat_ws("", transform(col("sb"),
      (v: C) => lpad(hex(v), 2, "0")))
    val contentHex = mode match {
      case "progressive" =>
        // SOF2; the AC Huffman table's single symbol is EOB6 (0x60):
        // one 1-bit code + 6 appended bits = a 72-block EOB run, so
        // the whole AC band is ONE constant byte (0 0010001₂ = 0x11,
        // 1-padded) in its own spectral-selection scan — the minimal
        // spec-true progressive stream exercising DC-first decode,
        // multi-scan table persistence, and EOB-run accounting
        concat(lead, lit(dqtDhtHex +
          "FFC2000B08" + dimsHex + "01011100" +
          "FFC4001410" + "01" + "00" * 15 + "60" +
          "FFDA0008010100000000"), // DC scan: Ss=Se=0, AhAl=0
          sbHex,
          lit("FFDA0008010100013F00" + // AC scan: Ss=1, Se=63
            "11" + "FFD9"))
      case "restart" =>
        concat(lead, lit(dqtDhtHex +
          "FFC0000B08" + dimsHex + "01011100" +
          "FFC4001410" + "01" + "00" * 15 + "00" +
          "FFDD00040008" + // DRI: restart every 8 MCUs
          "FFDA0008010100003F00"), sbHex, lit("FFD9"))
      case _ =>
        concat(lead, lit(dqtDhtHex +
          "FFC0000B08" + dimsHex + "01011100" +
          "FFC4001410" + "01" + "00" * 15 + "00" +
          "FFDA0008010100003F00"), sbHex, lit("FFD9"))
    }
    withBytes.select(col("doc_id"), unhex(contentHex).as("content"))
  }

  /** q184: the cross-container clique EXTENDED TO JPEG — the dominant
    * web image format joins the pixel-hash dedup space (closing the
    * r15 verdict's last codec stub): per group the SAME image
    * delivered as a BMP, a baseline grayscale JPEG (the 72×64
    * block-constant upscale — [[jpegContent]]'s exactness argument),
    * and a gray PNG must collapse to one hamming-0 clique under ONE
    * container-sniffing print; v = 3 stays the independent alt BMP.
    * The oracle is q181's, verbatim: hashes derive from the 9×8
    * pixel formulas alone, so any divergence in the JPEG decode path
    * (marker walk, Huffman tables, EXTEND, DC prediction, IDCT,
    * box-average downscale) breaks the gate.
    */
  def q184JpegCrossContainer(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "jpeg_cross"))
      .orderBy("doc_id")

  /** q185: JPEG ENTROPY-LAYOUT dedup — the q184 clique re-cut inside
    * one format: per group the SAME image as a plain baseline stream,
    * a RESTART-INTERVAL stream (DRI + RSTn re-sync, DC prediction
    * reset per segment — the layout every camera emits), and a
    * PROGRESSIVE stream (SOF2: a DC spectral scan plus an EOB-run AC
    * scan — the layout web optimizers emit) must collapse to one
    * hamming-0 clique; v = 3 stays the independent alt BMP. The
    * oracle is q181/q184's container-blind chain verbatim: hashes
    * derive from the 9×8 pixel formulas alone, so any divergence in
    * restart re-sync, multi-scan table persistence, progressive DC
    * decode, or EOB-run accounting breaks the gate.
    */
  def q185JpegModesDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "jpeg_modes"))
      .orderBy("doc_id")

  /** q186: PALETTE-8 PNG joins the container-blind clique — the last
    * common web PNG shape behind an honest gate (color type 3:
    * filters reconstruct index bytes, the CRC-verified PLTE maps
    * indices to RGB). The fixture's palette is the XOR-permuted gray
    * ramp (entry i = gray i^0xA5, index = pixel^0xA5), so skipping
    * the lookup or swapping index/value changes every gray and breaks
    * the clique. Oracle: q181's container-blind chain verbatim.
    */
  def q186PalettePngDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "png_palette"))
      .orderBy("doc_id")

  /** q193: the PNG DEPTH/INTERLACE matrix joins the container-blind
    * clique — the last honest PNG gates closed (r17 verdict item 4):
    * an ADAM7-interlaced member and a 16-bit member decode to the
    * BASE image exactly (interlace is a pass re-order; 16-bit
    * truncates to its high byte, and the fixture's low byte is
    * 255−pix so taking the wrong byte breaks the clique), pairing
    * hamming-0 with the BMP ground truth; the 4-BIT member stores the
    * quantized base ((p div 16)·17 — the exact sub-8 scale roundtrip)
    * and must pair hamming-0 with its own BMP twin of the same
    * quantized image, proving the bit-unpack + scale path against a
    * container with no bit packing at all. Oracle: the shared dHash
    * chain over the v-selected pixel formulas.
    */
  def q193PngDepths(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "png_depths"))
      .orderBy("doc_id")

  /** q195: GIF joins the container-blind clique — the third distinct
    * compression family (LZW) decoded to CONTENT: a plain GIF, an
    * INTERLACED GIF (4-pass row permutation), and a LOCAL-color-table
    * GIF (whose global table is reversed — ignoring the shadowing
    * local table decodes visibly wrong grays) all store index
    * p div 2 of the group's base image, so each must pair hamming-0
    * with the BMP twin storing the same evenly quantized pixels
    * (q193's quantized-twin posture). The LZW stream uses the
    * spec-legal uncompressed encoding (clear before every code);
    * dictionary growth, width stepping, and KwKwK run against the JDK
    * ImageIO GIF encoder's real compression in DecoderFuzzSpec.
    * Oracle: the shared dHash chain over the v-selected pixel
    * formulas.
    */
  def q195GifLzwDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "gif_lzw"))
      .orderBy("doc_id")

  /** q196: ALPHA-carrying PNGs join the container-blind clique — the
    * IHDR matrix's last two color types (4 gray+alpha, 6 RGBA)
    * decoded as WHITE-COMPOSITED grays, comp(p, a) = (p·a +
    * 255·(255−a)) div 255. Opaque members (v1 gray+alpha, v2 RGBA —
    * the composite's identity) must pair hamming-0 with the base BMP;
    * the VARYING-alpha member (v3) must pair hamming-0 with a BMP
    * twin storing the composited grays (v4), gating the composite
    * arithmetic itself — a decoder that drops the alpha plane, takes
    * the wrong lane at bpp 2/4 filter reconstruction, or composites
    * over black breaks one clique or the other. Oracle: the shared
    * dHash chain over the v-selected pixel/composite formulas.
    */
  def q196PngAlphaDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "png_alpha"))
      .orderBy("doc_id")

  /** q197: TIFF joins the container-blind clique — the standalone IFD
    * container (the EXIF walk's format as a full image file), gated
    * in BOTH byte orders at once: v1 is the minimal little-endian
    * single-strip shape; v2 is big-endian with two strips stored in
    * reversed file order, out-of-line offset/count arrays, and
    * WhiteIsZero inverted samples. Both must pair hamming-0 with the
    * base BMP (v0), so a byte-order slip, a misapplied inline rule,
    * file-position strip order, or a skipped photometric invert each
    * break the clique. Shares q181's container-blind oracle verbatim.
    */
  def q197TiffDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.anyImagePhashDedup(stagedFixture(s, d, "tiff"))
      .orderBy("doc_id")

  /** q198: ANIMATED-GIF frame walk — the q139/q194 posture for the
    * LZW container (animations are GIF's video form). Per doc a
    * spec-true 89a animation: 16×12 logical screen, 1 + doc_id%3
    * frames, frame f placed at (2f, f) with its OWN pixel content
    * (the base formula shifted by 7f through the 128-entry table),
    * each preceded by a graphic-control extension carrying delay
    * 4 + f + doc_id%11 cs — except frame 0 of doc_id%4==1 docs,
    * which has NO GCE and must yield a NULL delay (the spec's plain
    * 87a shape). Every 7th doc is raw text → the all-null row. The
    * gate re-derives placement, dims, delays AND each frame's decoded
    * gray SUM arithmetically, so a frame-walk slip (GCE binding,
    * per-frame LZW state, placement offsets) breaks the hash.
    */
  def q198GifAnimFrames(s: SparkSession, d: String): DataFrame = {
    type C = org.apache.spark.sql.Column
    def hb(x: C) = lpad(hex(x), 2, "0")
    val fCount = (lit(1) + pmod(col("doc_id"), lit(3))).cast("int")
    val base = fixturePix(col("doc_id"), lit(0)) _
    val straight = (0 until 128).map(i => f"${2 * i}%02X" * 3).mkString
    val noGce0 = pmod(col("doc_id"), lit(4)) === 1
    def frameHex(f: Int): C = {
      val delay = lit(4 + f) + pmod(col("doc_id"), lit(11))
      val gce: C = concat(lit("21F90400"), hb(delay), lit("000000"))
      val gceSel: C =
        if (f == 0) when(noGce0, lit("")).otherwise(gce) else gce
      val desc = f"2C${2 * f}%02X00${f}%02X00" + "0900" + "0800" + "00"
      val body = concat_ws("", (0 until 8).map(r =>
        concat_ws("", transform(sequence(lit(0), lit(8)), c =>
          concat(lit("80"), hb(pmod(base(lit(r), c) + lit(7 * f),
            lit(128))))))): _*)
      when(lit(f) < fCount,
        concat(gceSel, lit(desc + "07" + "91"), body, lit("81" + "00")))
        .otherwise(lit(""))
    }
    val payloadHex = concat(
      lit("474946383961" + "1000" + "0C00" + "F60000" + straight),
      frameHex(0), frameHex(1), frameHex(2), lit("3B"))
    val content = when(pmod(col("doc_id"), lit(7)) === 6,
      col("text").cast("binary")).otherwise(unhex(payloadHex))
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Udfs.gifFrames(content).as("an"))
      .select(col("doc_id"),
        col("an.screen_w").as("screen_w"),
        col("an.screen_h").as("screen_h"),
        // explicit null guard: the q139 sizeOfNull posture
        when(col("an").isNotNull, size(col("an.frames"))).as("n_frames"),
        explode_outer(col("an.frames")).as("fr"))
      .select(col("doc_id"), col("screen_w"), col("screen_h"),
        col("n_frames"),
        col("fr.frame_idx").as("frame_idx"),
        col("fr.left").as("frame_left"),
        col("fr.top").as("frame_top"),
        col("fr.width").as("frame_w"),
        col("fr.height").as("frame_h"),
        col("fr.delay_cs").as("delay_cs"),
        col("fr.gray_sum").as("gray_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  /** q189: EXIF metadata extraction under a full driver gate — the
    * q122 posture for the APP1/TIFF walk: per doc a spec-true Exif
    * segment (II little-endian TIFF, IFD0 with Model / Orientation /
    * DateTime in tag order, inline SHORT + offset ASCII values) whose
    * three field values derive from doc_id, so the oracle re-derives
    * them ARITHMETICALLY and a parser regression (wrong byte order,
    * misapplied offset base, missed inline rule, NUL retained) breaks
    * the hash gate. Every 7th doc carries no Exif and must yield the
    * all-null row, never a sentinel. Orientation matters to this
    * pipeline beyond metadata: a dHash over un-rotated pixels
    * mis-pairs the rotated deliveries of one photo, so the screen
    * before perceptual hashing reads exactly this field.
    */
  /** q191: ORIENTATION-NORMALIZED cross-container dedup — the reason
    * q189's EXIF walk exists: phones store the sensor's native pixel
    * layout plus an orientation tag instead of rotating, so the SAME
    * photo arrives as a plain upright BMP from one mirror and as
    * 90°-rotated JPEG pixels + orientation 6/8 from another — shapes
    * a raw-pixel hash structurally cannot pair (a 90° rotation
    * permutes the dHash grid). [[graft.Multimodal.orientedImageDHash]]
    * applies the EXIF rotation before hashing, so each group must
    * collapse to one hamming-0 clique; the oracle stays q181's
    * container-blind chain verbatim because normalization recovers
    * the base pixels EXACTLY (rotation is an index permutation of
    * block-constant DC-exact pixels).
    */
  def q191OrientedDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.orientedImagePhashDedup(stagedFixture(s, d, "jpeg_oriented"))
      .orderBy("doc_id")

  def q189ExifMeta(s: SparkSession, d: String): DataFrame =
    stagedFixture(s, d, "jpeg_exif")
      .select(col("doc_id"),
        graft.functions.Udfs.decodeExif(col("content")).as("e"))
      .select(col("doc_id"),
        col("e.orientation").cast("long").as("exif_orientation"),
        col("e.model").as("exif_model"),
        col("e.datetime").as("exif_datetime"))
      .orderBy("doc_id")

  /** q199: exact dedup MODULO UNICODE NORMALIZATION — the crawler-dup
    * shape byte-exact dedup misses: per group of four docs, v0 carries
    * the PRECOMPOSED form ("café", U+00E9), v1 the DECOMPOSED form
    * with an NBSP ("cafe" + U+0301 + U+00A0), v2 the precomposed form
    * with an injected zero-width space — three byte-distinct texts
    * that canonicalize to ONE string and must land in one cluster
    * with v0 as canonical; v3 keeps the doc's own text (a singleton —
    * the corpus has no byte-identical texts). The planting CASE is
    * shared verbatim with the oracle (chr() code points on the DuckDB
    * side); the operator is [[graft.TextOps.unicodeNormalizedDedup]].
    */
  def q199UnicodeDedup(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    val gStr = g.cast("string")
    val planted = when(v === 0, concat(lit("caf\u00e9 dup "), gStr))
      .when(v === 1, concat(lit("cafe\u0301\u00a0dup "), gStr))
      .when(v === 2, concat(lit("caf\u00e9\u200b dup "), gStr))
      .otherwise(col("text"))
    TextOps.unicodeNormalizedDedup(
      Tables.documents(s, d).select(col("doc_id"), planted.as("text")),
      "doc_id", "text")
  }

  /** q203: MOJIBAKE REPAIR — the crawler-text damage q199's
    * normalizer cannot touch: UTF-8 mis-decoded as Latin-1/CP1252
    * upstream, so the SAME page arrives once clean and once as
    * "caf\u00c3\u00a9". Per group of SIX docs: v0 plants the CORRECT
    * Latin-1-looking form (its bytes are NOT valid UTF-8 — the
    * repair must leave it alone, the no-false-positive leg), v1/v2
    * plant two Latin-1 mojibake shapes that must decode back, v4
    * plants the CP1252 smart-quote shape (the dominant real-web
    * double-encoding — its damaged chars include the >0xFF code
    * points U+20AC/U+0153 the pre-r19 kernel passed through
    * unrepaired, plus the undefined-slot 0x9D as a C1 control), v5
    * plants GENUINE smart quotes that must survive untouched (their
    * inverse-CP1252 bytes open on continuation byte 0x93 — never
    * valid UTF-8), and v3 keeps the doc's own ASCII text (untouched
    * by the fast path). The planting CASE is shared verbatim with
    * the oracle (chr() code points), which re-derives the expected
    * repaired strings and changed flags arithmetically.
    * Kernel: [[graft.functions.Udfs.fixMojibake]].
    */
  def q203MojibakeRepair(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 6")
    val v = pmod(col("doc_id"), lit(6))
    val gStr = g.cast("string")
    val planted = when(v === 0, concat(lit("caf\u00e9 dup "), gStr))
      .when(v === 1, concat(lit("caf\u00c3\u00a9 dup "), gStr))
      .when(v === 2, concat(lit("na\u00c3\u00afve dup "), gStr))
      // CP1252 smart-quote damage: \u20ac/\u0153 are the >0xFF images
      // of bytes 0x80/0x9c; \u009d is the undefined-slot C1 control
      .when(v === 4, concat(
        lit("\u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d dup "), gStr))
      // genuine smart quotes: must survive untouched
      .when(v === 5, concat(lit("\u201cquoted\u201d dup "), gStr))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), planted.as("raw"))
      .select(col("doc_id"), col("raw"),
        graft.functions.Udfs.fixMojibake(col("raw")).as("fixed"))
      .select(col("doc_id"), col("fixed"),
        (col("fixed") =!= col("raw")).as("changed"))
      .orderBy("doc_id")
  }

  /** The shared 9×8 fixture PIXEL FORMULAS — one definition consumed
    * by the q133 BMP synthesizer, the q176 PNG synthesizer, AND
    * mirrored in the oracle's `px` CTE (imagePhashCtes — edit all
    * three together): per group g the four variants are the base
    * quadratic mix, +1 uniform brightness (perceptual dup, hamming 0),
    * three leftmost-column comparisons inverted (exactly hamming 3),
    * and an independently-seeded distinct image. Quadratic, not
    * linear: a linear ramp's adjacent-column differences are constant
    * and every group's hash collides (the q133 lesson).
    */
  private def fixturePix(g: org.apache.spark.sql.Column,
                         v: org.apache.spark.sql.Column)(
      r: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    type C = org.apache.spark.sql.Column
    def base(r: C, c: C) = {
      val m = g + r * 7 + c * 13
      lit(1) + pmod(g * 31 + m * m, lit(254))
    }
    def alt(r: C, c: C) = {
      val m = g * 3 + r * 11 + c * 17 + lit(7)
      lit(1) + pmod(g * 53 + m * m + lit(137), lit(254))
    }
    val b = base(r, c)
    val b1 = base(r, lit(1))
    // isin(k), not === k: the scanline synthesizers call this with
    // LITERAL row/column indices (pix(lit(y), lit(x))), and
    // Literal(0) === 0 makes Column log a "trivially true equals
    // predicate" WARN — thousands of times per bench run, flooding
    // the driver's bounded output tail (the r19 verdict's parsed:null
    // diagnosis). In(c, Seq(0)) is semantically identical for these
    // non-null ints, constant-folds the same way, and logs nothing.
    val flipped = when(c.isin(0) && r <= 2,
      when(base(r, lit(0)) > b1, b1 - 1).otherwise(b1 + 1))
      .otherwise(b)
    when(v.isin(0), b).when(v.isin(1), b + 1)
      .when(v.isin(2), flipped).otherwise(alt(r, c))
  }

  // -------- little-endian hex builders shared by the binary-fixture
  // synthesizers (q137 WAV, q138 WAV, q139 AVI): one definition, not a
  // per-query copy (r14 review finding — byte-layout code must be
  // edited in one place)
  private def byteHex(x: org.apache.spark.sql.Column, k: Int) =
    lpad(hex(shiftright(x.cast("long"), 8 * k).bitwiseAND(lit(255L))),
      2, "0")
  private def le16hex(x: org.apache.spark.sql.Column) =
    concat(byteHex(x, 0), byteHex(x, 1))
  private def le32hex(x: org.apache.spark.sql.Column) =
    concat(byteHex(x, 0), byteHex(x, 1), byteHex(x, 2), byteHex(x, 3))

  /** q137: PCM sample-level audio features under a full driver gate —
    * the q133 fixture discipline applied to the audio modality. Four
    * deterministic variants per doc_id group are SYNTHESIZED as
    * genuine PCM-16 mono WAV byte streams (base waveform from doc_id
    * arithmetic; a planted 10-sample silence block; planted clipping
    * at ±32767/−32768 every 16th sample; and a raw-text non-WAV that
    * must decode to an all-null row), decoded by
    * [[graft.Multimodal.decodeWavSamples]], with every feature
    * computed SPARK-SIDE over the sample array by codegen'd HOFs —
    * integer-exact peak/energy/silence/clip counts plus one rounded
    * IEEE rms. The oracle re-derives the waveform and the features
    * arithmetically from doc_id, so a sign-extension slip, an
    * off-by-one in the data-chunk walk, or a wrong HOF all break the
    * hash gate.
    */
  def q137AudioFeatures(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    val n = (lit(40) + pmod(col("doc_id"), lit(20))).cast("int")
    // sample i (0-based): base waveform with variant overrides — ONE
    // HOF lambda over sequence(0, n-1), not n unrolled slots (the
    // codegen-size lesson from q138's first cut)
    def sample(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val base = pmod(g * 7 + i * 13, lit(2001)) - lit(1000)
      when(v === 1 && i >= 10 && i < 20, lit(0))
        .when(v === 2 && pmod(i, lit(16)) === 0, lit(32767))
        .when(v === 2 && pmod(i, lit(16)) === 8, lit(-32768))
        .otherwise(base)
    }
    val sampleHex = concat_ws("",
      transform(sequence(lit(0), n - 1),
        i => le16hex(pmod(sample(i), lit(65536)))))
    // RIFF/WAVE: riff size = 36 + 2N; fmt16 PCM mono 8 kHz 16-bit;
    // data size = 2N
    val payloadHex = concat(
      lit("52494646"), le32hex(lit(36) + n * 2), lit("57415645"),
      lit("666D7420" + "10000000" + "0100" + "0100" +
        "401F0000" + "803E0000" + "0200" + "1000"),
      lit("64617461"), le32hex(n * 2), sampleHex)
    val content = when(v === 3, col("text").cast("binary"))
      .otherwise(unhex(payloadHex))
    val smp = graft.functions.Udfs.wavSamples(content)
    val sumSq = aggregate(col("smp"), lit(0L),
      (acc, x) => acc + x.cast("long") * x.cast("long"))
    Tables.documents(s, d)
      .select(col("doc_id"), smp.as("smp"))
      .select(col("doc_id"),
        size(col("smp")).cast("long").as("n_samples"),
        array_max(transform(col("smp"), x => abs(x))).cast("long")
          .as("peak"),
        sumSq.as("sum_sq"),
        size(filter(col("smp"), x => x === 0)).cast("long")
          .as("silence_n"),
        size(filter(col("smp"),
          x => x === 32767 || x === -32768)).cast("long").as("clip_n"),
        round(sqrt(sumSq.cast("double") / size(col("smp"))), 6).as("rms"))
      .select(col("doc_id"),
        // undecodable rows: size(null) is null under the current
        // default but -1 under legacy sizeOfNull — this guard
        // normalizes to null under EITHER config (null >= 0 is null,
        // -1 >= 0 is false), so the gate never depends on the flag
        when(col("n_samples") >= 0, col("n_samples")).as("n_samples"),
        col("peak"), col("sum_sq"),
        when(col("n_samples") >= 0, col("silence_n")).as("silence_n"),
        when(col("n_samples") >= 0, col("clip_n")).as("clip_n"),
        col("rms"))
      .orderBy("doc_id")
  }

  /** q179: G.711 µ-LAW audio decode under a full driver gate — the
    * audio modality's first real CODEC (PCM-16 is a layout, µ-law is
    * a companding transform): four deterministic variants per doc_id
    * group synthesized as genuine format-7 mono WAV byte streams
    * (base companded bytes from doc_id arithmetic; a planted 0xFF run
    * — µ-law digital silence, decoding to exactly 0; planted 0x00 /
    * 0x80 extremes decoding to the published ±32124 full-scale
    * values; and a raw-text non-WAV that must decode to an all-null
    * row), expanded by [[graft.Multimodal.mulawExpand]] inside the
    * shared decodeWavSamples walk, features computed Spark-side over
    * the expanded array. The oracle re-derives the expansion formula
    * itself (complement, bias-132 mantissa, exponent shift, sign) in
    * SQL — a wrong shift, bias, or sign convention breaks the gate on
    * every row.
    */
  def q179MulawFeatures(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    val n = (lit(40) + pmod(col("doc_id"), lit(20))).cast("int")
    def ub(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(v === 1 && i >= 10 && i < 20, lit(0xFF))
        .when(v === 2 && pmod(i, lit(16)) === 0, lit(0x00))
        .when(v === 2 && pmod(i, lit(16)) === 8, lit(0x80))
        .otherwise(pmod(g * 7 + i * 13 + v * 31, lit(256)))
    val byteHexStr = concat_ws("",
      transform(sequence(lit(0), n - 1),
        i => lpad(hex(ub(i).cast("long")), 2, "0")))
    // RIFF/WAVE: fmt16 with audioFormat 7 (µ-law), mono, 8 kHz,
    // byte rate 8000, block align 1, 8 bits; data size = N bytes
    val payloadHex = concat(
      lit("52494646"), le32hex(lit(36) + n), lit("57415645"),
      lit("666D7420" + "10000000" + "0700" + "0100" +
        "401F0000" + "401F0000" + "0100" + "0800"),
      lit("64617461"), le32hex(n), byteHexStr)
    val content = when(v === 3, col("text").cast("binary"))
      .otherwise(unhex(payloadHex))
    val smp = graft.functions.Udfs.wavSamples(content)
    val sumSq = aggregate(col("smp"), lit(0L),
      (acc, x) => acc + x.cast("long") * x.cast("long"))
    Tables.documents(s, d)
      .select(col("doc_id"), smp.as("smp"))
      .select(col("doc_id"),
        size(col("smp")).cast("long").as("n_samples"),
        array_max(transform(col("smp"), x => abs(x))).cast("long")
          .as("peak"),
        sumSq.as("sum_sq"),
        size(filter(col("smp"), x => x === 0)).cast("long")
          .as("silence_n"),
        size(filter(col("smp"),
          x => abs(x) === 32124)).cast("long").as("extreme_n"),
        round(sqrt(sumSq.cast("double") / size(col("smp"))), 6).as("rms"))
      .select(col("doc_id"),
        // the q137 sizeOfNull guard: normalize undecodable rows to
        // null under either legacy config
        when(col("n_samples") >= 0, col("n_samples")).as("n_samples"),
        col("peak"), col("sum_sq"),
        when(col("n_samples") >= 0, col("silence_n")).as("silence_n"),
        when(col("n_samples") >= 0, col("extreme_n")).as("extreme_n"),
        col("rms"))
      .orderBy("doc_id")
  }

  /** q202: MEDIA CENSUS — the "what is in this bucket" profile every
    * 100 TB ingest starts with: ONE header-only container sniff per
    * modality ([[graft.Multimodal.decodeImageHeader]] — PNG → BMP →
    * GIF → TIFF → JPEG — plus, since r19, its audio sibling
    * [[graft.Multimodal.decodeAudioHeader]] — FLAC → MP3 → ADTS AAC,
    * the containers most crawl audio actually arrives in, and since
    * r20 the modern-crawl legs: WebP all three first-chunk layouts +
    * AVIF in the image sniff, Ogg Opus/Vorbis in the audio sniff, and
    * an MP3 whose sync hides behind post-ID3 padding — the bounded
    * forward scan's leg; no payload read anywhere) over a corpus that
    * mixes seven image containers, five compressed-audio shapes with
    * g-varied header fields (rate tables, channel modes, an ID3v2
    * skip, dim encodings), a PCM WAV BOTH
    * sniffs must reject (magic-check discipline — the image sniff by
    * container, the audio sniff because WAV's census role is the
    * rejection gate and [[graft.Multimodal.decodeWavHeader]] already
    * owns its real decode), and raw text. Per doc: format label,
    * dims + bits per pixel for images, sample rate + channels for
    * audio — all re-derived arithmetically from the v-split. A
    * sniffer that misorders magic checks, misreads a header field,
    * mislabels a Layer or profile, or accepts the WAV breaks the
    * hash.
    */
  def q202MediaCensus(s: SparkSession, d: String): DataFrame =
    stagedFixture(s, d, "census")
      .select(col("doc_id"),
        graft.functions.Udfs.decodeImg(col("content")).as("m"),
        graft.functions.Udfs.decodeAudio(col("content")).as("a"))
      .select(col("doc_id"),
        coalesce(col("m.format"), col("a.format")).as("fmt"),
        col("m.width").cast("long").as("w"),
        col("m.height").cast("long").as("h"),
        col("m.bits_per_pixel").cast("long").as("bpp"),
        col("a.sample_rate").cast("long").as("sample_rate"),
        col("a.channels").cast("long").as("channels"))
      .orderBy("doc_id")

  /** q200: A-LAW audio features — q179's µ-law gate re-run through
    * G.711's OTHER half (European telephony): same RIFF plumbing,
    * audioFormat 6, and the expansion with every property µ-law's
    * lacks — even-bit inversion instead of complement, INVERTED sign
    * polarity (bit 7 set = positive), ±32256 full scale, and NO true
    * zero (the quiet codes decode to ±8, so the silence feature
    * counts |x| = 8). Variants: v1 plants a quiet run (0xD5), v2
    * plants the two extremes (0x2A → −32256, 0xAA → +32256), v3 is
    * raw text → the all-null row. Oracle re-derives the expansion
    * arithmetically — a decoder that reuses µ-law's complement or
    * sign convention breaks the hash.
    */
  def q200AlawFeatures(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    val n = (lit(40) + pmod(col("doc_id"), lit(20))).cast("int")
    def ub(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(v === 1 && i >= 10 && i < 20, lit(0xD5))
        .when(v === 2 && pmod(i, lit(16)) === 0, lit(0x2A))
        .when(v === 2 && pmod(i, lit(16)) === 8, lit(0xAA))
        .otherwise(pmod(g * 7 + i * 13 + v * 31, lit(256)))
    val byteHexStr = concat_ws("",
      transform(sequence(lit(0), n - 1),
        i => lpad(hex(ub(i).cast("long")), 2, "0")))
    // RIFF/WAVE: fmt16 with audioFormat 6 (A-law), mono, 8 kHz
    val payloadHex = concat(
      lit("52494646"), le32hex(lit(36) + n), lit("57415645"),
      lit("666D7420" + "10000000" + "0600" + "0100" +
        "401F0000" + "401F0000" + "0100" + "0800"),
      lit("64617461"), le32hex(n), byteHexStr)
    val content = when(v === 3, col("text").cast("binary"))
      .otherwise(unhex(payloadHex))
    val smp = graft.functions.Udfs.wavSamples(content)
    val sumSq = aggregate(col("smp"), lit(0L),
      (acc, x) => acc + x.cast("long") * x.cast("long"))
    Tables.documents(s, d)
      .select(col("doc_id"), smp.as("smp"))
      .select(col("doc_id"),
        size(col("smp")).cast("long").as("n_samples"),
        array_max(transform(col("smp"), x => abs(x))).cast("long")
          .as("peak"),
        sumSq.as("sum_sq"),
        size(filter(col("smp"), x => abs(x) === 8)).cast("long")
          .as("quiet_n"),
        size(filter(col("smp"),
          x => abs(x) === 32256)).cast("long").as("extreme_n"),
        round(sqrt(sumSq.cast("double") / size(col("smp"))), 6).as("rms"))
      .select(col("doc_id"),
        when(col("n_samples") >= 0, col("n_samples")).as("n_samples"),
        col("peak"), col("sum_sq"),
        when(col("n_samples") >= 0, col("quiet_n")).as("quiet_n"),
        when(col("n_samples") >= 0, col("extreme_n")).as("extreme_n"),
        col("rms"))
      .orderBy("doc_id")
  }

  /** The q201 fixture's fixed per-block nibble pattern — all sixteen
    * codes, so the decode exercises every diff term and both index
    * directions. Byte layout derives from it (low nibble first); the
    * ORACLE's offset table derives from it by running the reference
    * block decode at predictor 0 (decode is LINEAR in the predictor
    * until a clamp, which the fixture's predictor range never hits —
    * AdpcmSpec pins the margin). */
  private val adpcmPattern =
    Array(5, 13, 3, 11, 7, 15, 1, 9, 2, 10, 6, 14, 0, 8, 4, 12)
  private lazy val adpcmPatternHex: String =
    adpcmPattern.grouped(2).map { case Array(lo, hi) =>
      f"${lo | (hi << 4)}%02X"
    }.mkString
  private lazy val adpcmOffsets: Array[Int] =
    Multimodal.adpcmDecodeBlock(0, 0, adpcmPattern)

  /** The stereo legs' per-channel offset tables (r20): channel 0
    * plays the pattern's first eight nibbles, channel 1 the last
    * eight — same linearity-in-the-predictor argument, two smaller
    * tables. */
  private lazy val adpcmOffsetsL: Array[Int] =
    Multimodal.adpcmDecodeBlock(0, 0, adpcmPattern.take(8))
  private lazy val adpcmOffsetsR: Array[Int] =
    Multimodal.adpcmDecodeBlock(0, 0, adpcmPattern.drop(8))

  /** q201: IMA/DVI ADPCM decode — the audio family's real
    * DIFFERENTIAL codec (WAV format 0x11), the LZW-for-audio move:
    * 4-bit nibbles adapt a step-size index through the published IMA
    * tables, and each fixed-size block opens with its own
    * (predictor, index) header so blocks are independently seekable —
    * exactly the property a 100 TB range-read needs. Fixture: 1 +
    * doc_id%2 blocks of blockAlign 12 (17 samples each), every block
    * the SAME all-sixteen-codes nibble pattern over a PER-BLOCK
    * predictor formula — decode is linear in the predictor below the
    * clamp, so the oracle is the per-block predictor plus a
    * literal offset table generated by the reference decode at
    * predictor 0. A decoder that carries state ACROSS blocks, plays
    * nibbles high-first, or mis-adapts the index breaks the hash.
    * Every 7th doc is raw text → the all-null row.
    *
    * r20: every doc_id % 3 == 2 is STEREO — blockAlign 16, two
    * 4-byte channel headers (independent per-block predictors), one
    * interleaved [4 bytes ch0 | 4 bytes ch1] nibble group (channel 0
    * plays the pattern's first eight codes, channel 1 the last
    * eight), L,R-interleaved output. The sum features can't see
    * interleave ORDER, so the gate also outputs the first two
    * samples: for stereo they must be (predL₀, predR₀) — a decoder
    * that swaps channels, mis-walks the dual headers, or de-
    * interleaves nibble groups wrongly breaks the hash.
    */
  def q201AdpcmFeatures(s: SparkSession, d: String): DataFrame = {
    type C = org.apache.spark.sql.Column
    def hb(x: C) = lpad(hex(x), 2, "0")
    val nb = (lit(1) + pmod(col("doc_id"), lit(2))).cast("int")
    val st = pmod(col("doc_id"), lit(3)) === 2
    def predOf(b: Int): C =
      pmod(col("doc_id") * 37 + lit(b * 101), lit(4001)) - lit(2000)
    def predROf(b: Int): C =
      pmod(col("doc_id") * 53 + lit(b * 61), lit(4001)) - lit(2000)
    def le16p(p: C): C = {
      val pu = pmod(p, lit(65536))
      val lo = pmod(pu, lit(256))
      concat(hb(lo), hb(((pu - lo) / lit(256)).cast("int")))
    }
    def blockHex(b: Int): C =
      when(lit(b) < nb,
        concat(le16p(predOf(b)), lit("00" + "00" + adpcmPatternHex)))
        .otherwise(lit(""))
    def stBlockHex(b: Int): C =
      when(lit(b) < nb,
        concat(le16p(predOf(b)), lit("0000"),
          le16p(predROf(b)), lit("0000"), lit(adpcmPatternHex)))
        .otherwise(lit(""))
    val dataLen = when(st, nb * 16).otherwise(nb * 12)
    // fmt(20): format 0x11, 8 kHz, nominal byte rate, cbSize 2;
    // mono: blockAlign 12, samplesPerBlock 17; stereo: blockAlign 16,
    // samplesPerBlock 9
    val fmtHex = when(st,
      lit("666D7420" + "14000000" + "1100" + "0200" +
        "401F0000" + "A00F0000" + "1000" + "0400" + "0200" + "0900"))
      .otherwise(
        lit("666D7420" + "14000000" + "1100" + "0100" +
          "401F0000" + "A00F0000" + "0C00" + "0400" + "0200" + "1100"))
    val payloadHex = concat(
      lit("52494646"), le32hex(lit(40) + dataLen), lit("57415645"),
      fmtHex, lit("64617461"), le32hex(dataLen),
      when(st, concat(stBlockHex(0), stBlockHex(1)))
        .otherwise(concat(blockHex(0), blockHex(1))))
    val content = when(pmod(col("doc_id"), lit(7)) === 6,
      col("text").cast("binary")).otherwise(unhex(payloadHex))
    val smp = graft.functions.Udfs.wavSamples(content)
    val sumAll = aggregate(col("smp"), lit(0L),
      (acc, x) => acc + x.cast("long"))
    val sumSq = aggregate(col("smp"), lit(0L),
      (acc, x) => acc + x.cast("long") * x.cast("long"))
    Tables.documents(s, d)
      .select(col("doc_id"), smp.as("smp"))
      .select(col("doc_id"),
        size(col("smp")).cast("long").as("n_samples"),
        sumAll.as("sample_sum"),
        sumSq.as("sum_sq"),
        array_max(transform(col("smp"), x => abs(x))).cast("long")
          .as("peak"),
        element_at(col("smp"), 1).cast("long").as("first_s"),
        element_at(col("smp"), 2).cast("long").as("second_s"))
      .select(col("doc_id"),
        when(col("n_samples") >= 0, col("n_samples")).as("n_samples"),
        col("sample_sum"), col("sum_sq"), col("peak"),
        col("first_s"), col("second_s"))
      .orderBy("doc_id")
  }

  /** q138: AUDIO perceptual-hash dedup — q133's pixel move completed
    * for the audio modality: four deterministic PCM-16 WAV variants
    * per doc_id group (base waveform; ×2 AMPLITUDE twin — every
    * sample byte differs, exact dedup misses it, but energy-delta
    * comparisons are scale-invariant so the print must match at
    * hamming 0; first-frame-zeroed twin — only bit 0 can differ,
    * hamming ≤ 1 by construction; an independently-seeded distinct
    * waveform), fed through [[graft.Multimodal.audioPhashDedup]] —
    * real sample decode, real 32-bit energy-delta print, the shared
    * banded hamming pipeline (4×8-bit keys). The oracle re-derives
    * every print from the waveform formulas (frame energies as exact
    * integer sums) and forms pairs by exact hamming ≤ 3 — equal to
    * the banded candidate set by pigeonhole. Group length
    * N = 66 + g%30 keeps floor(N/33) = 2, so "first frame" is
    * samples 0–1 on both sides.
    */
  def q138AudioPhashDedup(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4))
    val n = (lit(66) + pmod(g, lit(30))).cast("int")
    // quadratic mixes (the q133 lesson): linear ramps make adjacent
    // frame energies near-identical ACROSS groups — the first cut of
    // this fixture had v3 "distinct" waveforms averaging 2.45 false
    // near-dups from cross-group print collisions. The sample stream
    // is ONE HOF lambda over sequence(0, n-1), not n unrolled slots —
    // the unrolled form was ~570 concat nodes per row and dominated
    // the query's bench cost (7.4 s → the lambda form's number)
    def base(i: org.apache.spark.sql.Column) = {
      val m = g + i * 7
      pmod(g * 11 + m * m, lit(2001)) - lit(1000)
    }
    def alt(i: org.apache.spark.sql.Column) = {
      val m = g * 3 + i * 11 + lit(7)
      pmod(g * 13 + m * m, lit(2001)) - lit(1000)
    }
    def sample(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(v === 1, base(i) * 2)
        .when(v === 2 && i < 2, lit(0))
        .when(v === 3, alt(i))
        .otherwise(base(i))
    val sampleHex = concat_ws("",
      transform(sequence(lit(0), n - 1),
        i => le16hex(pmod(sample(i), lit(65536)))))
    val payloadHex = concat(
      lit("52494646"), le32hex(lit(36) + n * 2), lit("57415645"),
      lit("666D7420" + "10000000" + "0100" + "0100" +
        "401F0000" + "803E0000" + "0200" + "1000"),
      lit("64617461"), le32hex(n * 2), sampleHex)
    Multimodal.audioPhashDedup(
      Tables.documents(s, d)
        .select(col("doc_id"), unhex(payloadHex).as("content")))
      .orderBy("doc_id")
  }

  /** q139: REAL video-frame extraction under a full driver gate —
    * MJPEG-in-AVI, the one video container honestly decodable without
    * a codec (every frame is a complete JPEG; the walk is RIFF chunk
    * arithmetic + [[graft.Multimodal.decodeJpegHeader]] per frame).
    * Each doc synthesizes a genuine AVI byte stream: LIST(hdrl) with
    * an avih declaring the frame count, LIST(movi) with 1–3 `00dc`
    * JPEG frames whose dims derive from (doc_id, frame); every 7th
    * doc carries raw text instead and must decode to a null row. The
    * oracle re-derives declared/decoded counts and per-frame dims
    * arithmetically — a chunk-walk off-by-one, a bad even-padding
    * step, or a broken frame JPEG all break the hash gate. Completes
    * the codec-free content triplet: BMP pixels (q133), PCM samples
    * (q137/q138), MJPEG frames (this).
    */
  def q139VideoFrames(s: SparkSession, d: String): DataFrame = {
    val fCount = (lit(1) + pmod(col("doc_id"), lit(3))).cast("int")
    def hex4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    // one 39-byte baseline JFIF JPEG per frame (q122's construction,
    // density fixed at 72×96), padded to the RIFF even boundary
    def frameChunk(f: Int): org.apache.spark.sql.Column = {
      val w = lit(100) + pmod(col("doc_id") * 3 + lit(f), lit(50))
      val h = lit(80) + pmod(col("doc_id") * 5 + lit(f), lit(40))
      when(lit(f) < fCount, concat(
        lit("30306463" + "27000000" + // '00dc', size 39
          "FFD8" + "FFE000104A46494600010101" + "0048" + "0060" + "0000" +
          "FFC0001108"),
        hex4(h), hex4(w), lit("03012200021101031101" + "00"))) // + pad
        .otherwise("")
    }
    // avih payload (56 B): 16 B rates/flags, dwTotalFrames, 36 B rest
    val hdrl = concat(
      lit("4C495354" + "44000000" + "6864726C" + // LIST(68) 'hdrl'
        "61766968" + "38000000" + "00" * 16),    // 'avih'(56)
      le32hex(fCount), lit("00" * 36))
    val movi = concat(
      lit("4C495354"), le32hex(lit(4) + fCount * 48), lit("6D6F7669"),
      frameChunk(0), frameChunk(1), frameChunk(2))
    val payloadHex = concat(
      lit("52494646"), le32hex(lit(92) + fCount * 48), lit("41564920"),
      hdrl, movi)
    val content = when(pmod(col("doc_id"), lit(7)) === 6,
      col("text").cast("binary")).otherwise(unhex(payloadHex))
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Udfs.aviFrames(content).as("avi"))
      .select(col("doc_id"),
        col("avi.declared_frames").as("declared_frames"),
        // guard the null-decode rows explicitly: size(null) is null
        // under the current default but -1 under legacy sizeOfNull —
        // the gate must not depend on that config (q137's posture)
        when(col("avi").isNotNull, size(col("avi.frames")))
          .as("n_frames"),
        explode_outer(col("avi.frames")).as("fr"))
      .select(col("doc_id"), col("declared_frames"), col("n_frames"),
        col("fr.idx").as("frame_idx"),
        col("fr.format").as("frame_fmt"),
        col("fr.width").as("frame_w"),
        col("fr.height").as("frame_h"))
      .orderBy("doc_id", "frame_idx")
  }

  /** q140: the CROSS-MODAL curation manifest — what a training-data
    * pipeline actually ships per document: the modality signals this
    * round made real (q133's image near-dup verdict, q137's clipping
    * count) joined with a text-length gate into one include/exclude
    * decision. The gate is compositional: each signal's full pipeline
    * (pixel decode → dHash → banded near-dup; PCM decode → HOF
    * features) runs inside this query, and the oracle re-derives all
    * three from the shared CTE chains — so the stages provably fit
    * together end to end, the q128 posture across modalities.
    * Dedup policy: a doc is an image dup iff it has a near-dup
    * partner with a SMALLER doc_id (min-id canonical keeps one copy
    * per duplicate set — hamming-0 twins keep exactly the first).
    */
  def q140CurationManifest(s: SparkSession, d: String): DataFrame = {
    val txt = Tables.documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val img = q133ImagePhashDedup(s, d)
      .select(col("doc_id"), col("n_dups"), col("best_partner"))
    val aud = q137AudioFeatures(s, d).select(col("doc_id"), col("clip_n"))
    txt.join(img, Seq("doc_id")).join(aud, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_tokens").between(5, 5000).as("ok_text"),
        (col("n_dups") > 0 && col("best_partner") < col("doc_id"))
          .as("is_image_dup"),
        coalesce(col("clip_n") === 0, lit(false)).as("ok_audio"))
      .withColumn("include",
        col("ok_text") && !col("is_image_dup") && col("ok_audio"))
      .orderBy("doc_id")
  }

  def q109UrlDedup(s: SparkSession, d: String): DataFrame =
    CorpusOps.urlCanonicalize(urlAugmented(Tables.documents(s, d)),
      "doc_id", "url")

  def q110ChunkTable(s: SparkSession, d: String): DataFrame =
    CorpusOps.chunkTable(Tables.documents(s, d), "doc_id", "text")

  def q111SourceProfile(s: SparkSession, d: String): DataFrame =
    CorpusOps.sourceProfile(Tables.documents(s, d), "doc_id", "text",
      "source")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_pii_screen" -> (q101PiiScreen _),
    "q102_paragraph_dedup" -> (q102ParagraphDedup _),
    "q103_bigram_lm" -> (q103BigramLm _),
    "q104_bloom_exact" -> (q104BloomExact _),
    "q105_shard_plan" -> (q105ShardPlan _),
    "q106_streaming_windows_replay" ->
      (graft.streaming.ReplayParity.q106StreamingWindowsReplay _),
    "q107_top_ngrams" -> (q107TopNgrams _),
    "q108_sliding_rates" -> (q108SlidingRates _),
    "q109_url_dedup" -> (q109UrlDedup _),
    "q110_chunk_table" -> (q110ChunkTable _),
    "q111_source_profile" -> (q111SourceProfile _),
    "q112_streaming_sliding_replay" ->
      (graft.streaming.ReplayParity.q112StreamingSlidingReplay _),
    "q113_streaming_interval_join" ->
      (graft.streaming.ReplayParity.q113StreamingIntervalJoinReplay _),
    "q114_scd2_history" -> ((s, d) => Temporal.q114Scd2History(s, d)),
    "q115_time_travel" -> ((s, d) => Temporal.q115TimeTravel(s, d)),
    // registered WITHOUT the probabilistic cms_within_eps column: the
    // ε bound holds per probe only with confidence 0.99, so pinning it
    // in the oracle would be data-regeneration-flaky by design (the
    // operator still exposes it; CorpusOpsSpec asserts it)
    "q116_heavy_hitters" -> ((s, d) =>
      CorpusOps.heavyHittersGate(Tables.documents(s, d), "doc_id", "text")
        .drop("cms_within_eps")),
    "q117_rate_anomaly" -> ((s, d) => Temporal.q117RateAnomaly(s, d)),
    "q118_constraint_check" -> ((s, d) =>
      Quality.constraintCheck(Tables.orders(s, d),
        predicates = Seq(
          "o_custkey_nonnull" -> col("o_custkey").isNotNull,
          "o_orderstatus_domain" ->
            col("o_orderstatus").isin("O", "F", "P"),
          "o_totalprice_positive" -> (col("o_totalprice") > 0),
          "o_orderdate_nonnull" -> col("o_orderdate").isNotNull),
        uniqueKeys = Seq("o_orderkey_unique" -> Seq("o_orderkey")))),
    "q119_scd2_incremental" -> ((s, d) => Temporal.q119Scd2Incremental(s, d)),
    "q120_zorder_roundtrip" -> (q120ZorderRoundtrip _),
    "q121_vocab_encode" -> ((s, d) =>
      CorpusOps.vocabEncode(Tables.documents(s, d), "doc_id", "text")),
    "q122_jpeg_meta" -> (q122JpegMeta _),
    "q133_image_phash_dedup" -> (q133ImagePhashDedup _),
    "q176_png_pixel_dedup" -> (q176PngPixelDedup _),
    "q179_mulaw_features" -> (q179MulawFeatures _),
    "q180_png_rgb_dedup" -> (q180PngRgbDedup _),
    "q181_cross_container_dedup" -> (q181CrossContainerDedup _),
    "q184_jpeg_cross_container" -> (q184JpegCrossContainer _),
    "q185_jpeg_modes_dedup" -> (q185JpegModesDedup _),
    "q186_palette_png_dedup" -> (q186PalettePngDedup _),
    "q193_png_depths" -> (q193PngDepths _),
    "q194_mp4_samples" -> (q194Mp4Samples _),
    "q195_gif_lzw_dedup" -> (q195GifLzwDedup _),
    "q196_png_alpha_dedup" -> (q196PngAlphaDedup _),
    "q197_tiff_dedup" -> (q197TiffDedup _),
    "q198_gif_anim_frames" -> (q198GifAnimFrames _),
    "q199_unicode_dedup" -> (q199UnicodeDedup _),
    "q200_alaw_features" -> (q200AlawFeatures _),
    "q201_adpcm_features" -> (q201AdpcmFeatures _),
    "q202_media_census" -> (q202MediaCensus _),
    "q203_mojibake_repair" -> (q203MojibakeRepair _),
    // keyed on event_id: its per-type cardinality (~2k at sf0.01)
    // sits safely PAST the 2.5m linear-counting boundary where the
    // raw HLL estimate is unbiased — user_id's 150 would land in the
    // small-range regime where raw HLL reads ~1.8x high by design
    "q204_hll_distinct" -> ((s, d) => CorpusOps.hllDistinctGate(
      Tables.events(s, d), "event_id", "event_type")),
    // the merge half of the HLL story: per-type shard sketches
    // combined by elementwise max, landing on the UNION's
    // cardinality. Key = ACTIVE USER-HOUR (user_id * 1e6 + epoch
    // hour): it repeats across event types (a user active in an hour
    // fires several types — summing per-type counts would overcount
    // by the overlap; the merged sketch must not) and its global
    // cardinality (~9.6k at sf0.01) sits far past the 2.5m
    // linear-counting boundary
    "q205_hll_merged" -> ((s, d) => {
      val u = unix_timestamp(col("ts")).cast("long")
      val uh = (col("user_id") * lit(1000000L) +
        ((u - pmod(u, lit(3600L))) / lit(3600L)).cast("long"))
        .as("user_hour")
      CorpusOps.hllMergedGate(
        Tables.events(s, d).select(uh, col("event_type")),
        "user_hour", "event_type")
    }),
    // the SMALL-RANGE regime q204 deliberately keys past: per-type
    // user_id cardinality (150 at sf0.01) sits BELOW the 2.5m
    // linear-counting boundary where raw HLL reads ~1.8x high
    // (raw_high indicts it) and m*ln(m/zero_regs) recovers the count;
    // the '__all' event_id leg (~10k distinct) exercises the raw
    // branch in the same result. Regime choice compares identical
    // doubles; ln() lives only in wide-margin boolean verdicts
    // (CorpusOps.hllSmallRangeGate — edit together)
    "q206_hll_small_range" -> ((s, d) => {
      val ev = Tables.events(s, d)
      CorpusOps.hllSmallRangeGate(
        ev.select(col("event_type").as("grp"), col("user_id").as("kv"))
          .unionByName(ev.select(lit("__all").as("grp"),
            col("event_id").as("kv"))),
        "kv", "grp")
    }),
    "q189_exif_meta" -> (q189ExifMeta _),
    "q191_oriented_dedup" -> (q191OrientedDedup _),
    "q123_bpe_merges" -> (Bpe.q123BpeMerges _),
    "q124_bpe_encode" -> (Bpe.q124BpeEncode _),
    "q125_langid_trigram" -> ((s, d) =>
      CorpusOps.langIdTrigram(Tables.documents(s, d), "doc_id", "text",
        "lang")),
    "q128_bpe_packing" -> (q128BpePacking _),
    "q131_late_windows_replay" ->
      (graft.streaming.ReplayParity.q131LateWindowsReplay _),
    "q132_late_asof_replay" ->
      (graft.streaming.ReplayParity.q132LateAsofReplay _),
    "q152_streaming_sessions_replay" ->
      (graft.streaming.ReplayParity.q152StreamingSessionsReplay _),
    "q136_streaming_index_ingest" ->
      (graft.streaming.ReplayParity.q136StreamingIndexIngest _),
    // the r17 maintenance-policy loop: append + rapid-retraction
    // takedown + threshold compaction per micro-batch; the oracle is
    // the inline ranker over the never-retracted corpus
    "q190_streaming_maintenance" -> ((s, d) =>
      graft.streaming.ReplayParity.q190StreamingIndexMaintenance(
        s, d, bm25Queries)),
    "q161_streaming_vector_ingest" ->
      (graft.streaming.ReplayParity.q161StreamingVectorIngest _),
    "q137_audio_features" -> (q137AudioFeatures _),
    "q138_audio_phash_dedup" -> (q138AudioPhashDedup _),
    "q139_video_frames" -> (q139VideoFrames _),
    "q140_curation_manifest" -> (q140CurationManifest _),
    "q142_substring_dedup" -> ((s, d) =>
      CorpusOps.substringDedup(Tables.documents(s, d), "doc_id", "text")),
    "q143_pagerank" -> (Graph.q143PageRank _),
    "q144_source_mix" -> ((s, d) =>
      CorpusOps.sourceMixPlan(Tables.documents(s, d), "doc_id", "text",
        "source")),
    // the 20% target-domain slice follows q94's membership convention
    "q146_dsir_select" -> ((s, d) =>
      CorpusOps.dsirSelect(Tables.documents(s, d), "doc_id", "text",
        col("doc_id") % 10 < 2)),
    "q147_mix_execute" -> ((s, d) =>
      CorpusOps.sourceMixExecute(Tables.documents(s, d), "doc_id",
        "text", "source")),
    "q148_label_prop" -> (Graph.q148LabelProp _),
    // converge the previous-generation graph, then warm-start the
    // republished one from its ranks — the full incremental-refresh
    // lifecycle; bit-equal to a cold run (GraphSpec), rounds ∝ log of
    // the rank delta instead of log(scale)
    "q172_pagerank_refresh" -> (Graph.q172PageRankRefresh _),
    // the STANDING rank index: q172's lifecycle through the
    // generation-manifest commit protocol — bootstrap gen1, refresh
    // to the republished graph, serve the committed generation;
    // bit-equal to the inline refresh, so it SHARES q172's oracle
    // converging community refresh: gen1 communities warm-start the
    // republished graph's LPA — the q172 lifecycle for labels
    "q178_labelprop_refresh" -> (Graph.q178LabelPropRefresh _),
    "q175_rank_index" -> ((s, d) => {
      val (nodes, edges) = Graph.tradeGraph(s, d)
      graft.sources.RankIndex.bootstrap(nodes,
        Graph.tradeGraphGen1(s, d), "rankix")
      graft.sources.RankIndex.refresh(nodes, edges, "rankix")
      graft.sources.RankIndex.ranks(s, "rankix").orderBy("node")
    }),
    // the delivery leg: q149's schedule written as real shard FILES,
    // result = per-file manifest re-derived from the read-back
    "q173_shard_writer" -> (q173ShardWriter _),
    "q149_mix_pack" -> ((s, d) =>
      CorpusOps.mixPack(Tables.documents(s, d), "doc_id", "text",
        "source")),
    // query terms drawn from the corpus vocabulary, plus one
    // never-matching term ('zzz') pinning the inner-join semantics
    "q150_bm25_topk" -> ((s, d) =>
      CorpusOps.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        bm25Queries)),
    // the standing-retrieval-index lifecycle (the q98/q99 pattern for
    // BM25): bootstrap 60% + append 40% = the full corpus, so the
    // indexed search is bit-equal to q150's inline ranker and SHARES
    // its oracle — same queries verbatim
    "q154_bm25_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.sources.Bm25Index.write(docs.filter(col("doc_id") % 5 <= 2),
        "doc_id", "text", "g154")
      graft.sources.Bm25Index.append(docs.filter(col("doc_id") % 5 >= 3),
        "doc_id", "text", "g154")
      graft.sources.Bm25Index.search(s, "g154", bm25Queries)
    }),
    // the positional-index lifecycle end-to-end: bootstrap + append =
    // the full corpus, then a planted batch is appended AND taken down
    // (offset ids — the id-unique contract), then the THRESHOLD
    // compaction policy runs — the planted batch leaves 2/9 dead row
    // mass, under the 30% gate, so the corpus-proportional rewrite is
    // SKIPPED and search folds the delete log (bit-equal answers; the
    // r16 verdict's ask: maintenance cost must track dead mass, not
    // corpus size — the full-rewrite path stays gated by
    // GenerationsSpec and q129/q130, the partial path by q187) — then
    // exact-phrase search runs, so the oracle is the inline positional
    // SQL over the never-planted corpus. p3 is a repeated-token phrase
    // (same folded frame probed at two offsets); p4 never matches
    // (inner chain empties)
    "q157_phrase_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      graft.sources.Bm25Index.write(docs.filter(col("doc_id") % 5 <= 2),
        "doc_id", "text", "g157")
      graft.sources.Bm25Index.append(docs.filter(col("doc_id") % 5 >= 3),
        "doc_id", "text", "g157")
      graft.sources.Bm25Index.append(planted, "doc_id", "text", "g157")
      graft.sources.Bm25Index.delete(planted, "doc_id", "text", "g157")
      val ran = graft.sources.Bm25Index.compactIfStale(s, "g157",
        gatePct = 30L)
      require(!ran, "q157: 2/9 dead mass crossed the 30% gate — " +
        "the threshold arithmetic moved")
      graft.sources.Bm25Index.phraseSearch(s, "g157", phraseQueries)
    }),
    // PARTIAL compaction gate: bootstrap a fifth of the corpus, take
    // down a narrow slice (doc_id % 500 — a handful of docs), then
    // compactPartial rewrites ONLY the tombstoned buckets (physical
    // removal at cost ∝ touched mass) and copies the rest's files
    // byte-for-byte, carrying their batch visibility across the b0
    // flip. Search over the partially-compacted index must equal the
    // inline ranker over the live corpus — the oracle is the q150
    // template over the surviving slice.
    "q187_partial_compact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fifth = docs.filter(col("doc_id") % 5 === 0)
      graft.sources.Bm25Index.write(fifth, "doc_id", "text", "g187")
      graft.sources.Bm25Index.delete(
        fifth.filter(col("doc_id") % 500 === 0), "doc_id", "text",
        "g187")
      graft.sources.Bm25Index.compactPartial(s, "g187")
      graft.sources.Bm25Index.search(s, "g187", bm25Queries)
    }),
    // deterministic token-mass systematic sampler, m = 100 picks
    "q158_systematic_sample" -> ((s, d) =>
      CorpusOps.systematicSample(Tables.documents(s, d), "doc_id",
        "text", m = 100)),
    // INCREMENTAL index refresh driven by the snapshot-diff manifest
    // (q153's generation planting shared verbatim): bootstrap the
    // standing BM25 index on generation 1, diff gen1→gen2, take down
    // exactly the removed+changed docs and append the added+changed
    // docs' new text — the refreshed index must answer exactly as one
    // bootstrapped fresh on gen2 (oracle: the inline ranker over the
    // gen2 CTE). This is the 100 TB steady state: a republished
    // corpus refreshes the serving index by touching only the delta,
    // never re-ingesting the unchanged mass.
    "q159_index_refresh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gen1 = docs.filter(col("doc_id") % 7 =!= 3)
        .select("doc_id", "text")
      val gen2 = docs.filter(col("doc_id") % 5 =!= 4)
        .withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .select("doc_id", "text")
      graft.sources.Bm25Index.write(gen1, "doc_id", "text", "g159")
      graft.sources.Bm25Index.refreshFromDiff(gen1, gen2, "doc_id",
        "text", "g159")
      graft.sources.Bm25Index.search(s, "g159", bm25Queries)
    }),
    // incrementally maintained per-source data card (the mergeable-
    // partial ledger): bootstrap on generation 1, refresh through the
    // q153 diff manifest (delta-only — unchanged docs contribute
    // nothing), then the folded profile must equal aggregating gen2
    // directly (integer sums commute; oracle over the gen2 CTE)
    "q163_stats_refresh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gen1 = docs.filter(col("doc_id") % 7 =!= 3)
        .select("doc_id", "text", "source")
      val gen2 = docs.filter(col("doc_id") % 5 =!= 4)
        .withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .select("doc_id", "text", "source")
      graft.sources.StatsLedger.write(gen1, "text", "source", "g163")
      graft.sources.StatsLedger.refreshFromDiff(gen1, gen2, "doc_id",
        "text", "source", "g163")
      graft.sources.StatsLedger.profile(s, "g163")
    }),
    // retrieval evaluation: P@10 / recall / MRR of the BM25 top-10
    // against the conjunctive-containment relevance judgment (exact
    // integer micro-units; the 'zzz' query pins the zero-relevant leg)
    "q164_retrieval_eval" -> ((s, d) =>
      CorpusOps.bm25Eval(Tables.documents(s, d), "doc_id", "text",
        bm25Queries)),
    // SNIPPET extraction — the serving composition behind every
    // search result page: phrase hits come from the STANDING
    // positional index (never a corpus text scan), then only the
    // matched docs' token arrays are read back to cut a ±3-token
    // window around the first occurrence. Oracle mirrors the phrase
    // chain + list slicing (snippetOracleSql — edit together). Reads
    // the built-once SHARED index (sharedIndex — the r15 staged-
    // fixture discipline applied to serving: a deployment never
    // rebuilds its index per query; the BUILD paths stay gated by
    // q154/q157/q159/q187).
    "q165_phrase_snippets" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val hits = graft.sources.Bm25Index.phraseSearch(s,
        sharedIndex(s, d), phraseQueries)
      val pl = phraseQueries
        .map { case (q, t) => (q, t.trim.split("\\s+").length) }
        .toDF("query_id", "plen")
      hits.join(broadcast(pl), Seq("query_id"))
        .join(docs.select(col("doc_id"),
          graft.TextOps.words(col("text")).as("wds")), Seq("doc_id"))
        .withColumn("st",
          greatest(lit(1), col("first_pos") + 1 - SnippetWindow)
            .cast("int"))
        .withColumn("en",
          least(size(col("wds")),
            (col("first_pos") + col("plen") + SnippetWindow)
              .cast("int")))
        .select(col("query_id"), col("doc_id"), col("n_hits"),
          col("first_pos"),
          array_join(slice(col("wds"), col("st"),
            greatest(col("en") - col("st") + 1, lit(0))), " ")
            .as("snippet"))
        .orderBy("query_id", "doc_id")
    }),
    // TYPO-TOLERANT vocab match — deletion-neighborhood candidates
    // (equi-join, never vocab × query) + exact Levenshtein ≤ 1 verify.
    // Query batch shared verbatim with the oracle (fuzzyQueries /
    // fuzzyOracleSql — edit together).
    "q166_fuzzy_vocab" -> ((s, d) =>
      CorpusOps.fuzzyVocabMatch(Tables.documents(s, d), "doc_id",
        "text", fuzzyQueries)),
    // PROXIMITY (NEAR-k) search over the standing positional index:
    // all distinct query terms within a 6-token window, any order —
    // batch shared verbatim with the oracle (proxQueries /
    // proxOracleSql — edit together). Reads the built-once SHARED
    // index (the q165 note: serving features gate the SEARCH, the
    // lifecycle queries gate the build).
    "q167_proximity_search" -> ((s, d) =>
      graft.sources.Bm25Index.proximitySearch(s, sharedIndex(s, d),
        proxQueries, ProxWin)),
    // PHRASE-AWARE ranking: BM25 + flat proximity boost for docs whose
    // distinct query terms sit within the window — boost applied to
    // the full scored set BEFORE the top-k cut; integer micro-units
    // end-to-end (bm25Queries shared with q150/q154, so the 'zzz' leg
    // pins the no-boost path). Shared index, the q165/q167 posture.
    "q168_proximity_ranked" -> ((s, d) =>
      graft.sources.Bm25Index.searchWithProximity(s, sharedIndex(s, d),
        bm25Queries, k = 10, win = ProxWin, boostMicro = ProxBoost)))

  /** The per-process built-once FULL-CORPUS retrieval index the
    * serving-feature gates (q165/q167/q168) read — the r15 staged-
    * fixture lesson applied to standing indexes: those queries gate
    * SEARCH semantics (snippets, proximity windows, boosted ranking),
    * and a deployment serves them from one standing index, it does
    * not re-ingest the corpus per query. The build/maintenance paths
    * keep their own gates (q154 bootstrap+append, q157 delete +
    * threshold policy, q159 diff refresh, q187 partial compaction).
    * Keyed by dataset dir so the sf0.001 warmup and the timed SF
    * never share tables. */
  private val sharedIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedIndex(s: SparkSession, d: String): String =
    sharedIndexes.computeIfAbsent(d, _ => {
      // prefix from the SANITIZED dataset path (Tables.tablePrefix),
      // not its hashCode: two dirs colliding on hashCode would
      // silently serve the serving gates from the wrong corpus, and
      // abs(Int.MinValue) is negative (an invalid table name)
      val p = Tables.tablePrefix("gshr", d)
      graft.sources.Bm25Index.write(Tables.documents(s, d), "doc_id",
        "text", p)
      p
    })

  /** q165's context half-window in tokens (each side of the match). */
  private val SnippetWindow = 3

  /** q166's query batch — one leg per edit type against the corpus
    * vocabulary: insertion (querry→query), substitution (scam→scan),
    * deletion (tble→table), exact (sort), multi-match (sow→slow/row),
    * and a no-match leg (zzzzz). Shared verbatim with the oracle.
    */
  private val fuzzyQueries = Seq(
    ("f1", "querry"), ("f2", "scam"), ("f3", "tble"),
    ("f4", "sort"), ("f5", "sow"), ("f6", "zzzzz"))

  /** q157's phrase batch — shared verbatim with the oracle generator. */
  private val phraseQueries = Seq(
    ("p1", "table hash"), ("p2", "big order scan"), ("p3", "a a"),
    ("p4", "table hash zzz"))

  /** q167's proximity batch — any-order two-term, three-term,
    * single-term (every occurrence is a window), repeated-token (the
    * distinct-term contract), and never-matching legs. Shared verbatim
    * with [[proxOracleSql]] — edit together. */
  private val proxQueries = Seq(
    ("x1", "hash table"), ("x2", "customer order line"),
    ("x3", "scan"), ("x4", "order order"), ("x5", "table zzz"))

  /** q167/q168's window size (tokens) and q168's flat boost (micro). */
  private val ProxWin = 6
  private val ProxBoost = 500000L

  /** q150/q154/q159's query batch — shared verbatim with the oracle
    * generator ('zzz' never matches, pinning inner-join semantics). */
  private val bm25Queries = Seq(
    ("q1", "join hash"), ("q2", "customer order line"),
    ("q3", "vector scan zzz"))

  /** q120: end-to-end driver gate for the Z-ordered writer (the
    * q66/q67 posture for physical layouts): write events through
    * `Sinks.writeZOrdered` on (user_id, hour), read the layout back
    * with a two-dimensional filter, and the result must be exactly
    * what a direct scan answers (the oracle) — layout changes bytes on
    * disk, never rows. The selective read exercises the pruned path
    * the zorder-ab probe measures.
    */
  /** q173's shard granularity: 16 seqLen-512 sequences per shard file
    * (~8k tokens each at test scale; a deployment sizes this to its
    * dataloader's file budget — the arithmetic is granularity-blind).
    * An instance is assigned to the shard its FIRST sequence lands in,
    * so a straddling instance's tail spills into the next shard's
    * sequence range but its bytes ship once — the manifest's
    * seq_start/seq_end span is what the loader stitches with. */
  private val seqsPerShard = 16L

  /** SHARD-WRITER leg — materialize q149's packed sequences as REAL
    * partitioned files (the q67 write-then-read-back posture at the
    * delivery end of the pipeline): mixPack's manifest gains a
    * shard_id, lands via [[graft.sources.Sinks.writeShards]] (one file
    * per (source, shard) dir), and the registered result is the
    * per-file manifest REDERIVED FROM THE FILES READ BACK — instance
    * count, token mass, sequence span, and an order-canonical content
    * md5 — so the oracle (q149's chain + shard grouping) passing
    * proves the write→read roundtrip preserved every instance row.
    */
  private def q173ShardWriter(s: SparkSession, d: String): DataFrame = {
    val packed = CorpusOps.mixPack(Tables.documents(s, d), "doc_id",
        "text", "source")
      .withColumn("shard_id", expr(s"seq_start div $seqsPerShard"))
    // per-process discriminator — the q120 concurrent-harness argument
    val path = "/tmp/graft_shards_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_p" + ProcessHandle.current().pid()
    graft.TmpDirs.deleteOnExit(path)
    graft.sources.Sinks.writeShards(packed, path,
      Seq("source", "shard_id"))
    shardManifest(s.read.parquet(path))
  }

  /** The per-file manifest contract shared by the registered read-back
    * and SinksSpec's written-vs-expected pin: one row per (source,
    * shard) with an order-canonical md5 over the instance rows
    * ((doc_id, copy) is unique, so the array_sort order is total and
    * matches the oracle's string_agg ORDER BY). */
  private[graft] def shardManifest(back: DataFrame): DataFrame =
    back.groupBy(col("source"), col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_instances"),
        sum(col("toks")).as("n_tokens"),
        min(col("seq_start")).as("first_seq"),
        max(col("seq_end")).as("last_seq"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("doc_id"), col("copy"),
            col("tok_start"), col("toks"), col("seq_offset")))),
          x => concat_ws(":",
            x.getField("doc_id").cast("string"),
            x.getField("copy").cast("string"),
            x.getField("tok_start").cast("string"),
            x.getField("toks").cast("string"),
            x.getField("seq_offset").cast("string")))))
          .as("content_hash"))
      .orderBy("source", "shard_id")

  private def q120ZorderRoundtrip(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      expr("(unix_timestamp(ts) div 3600) * 3600").as("hour_epoch"))
    // per-process discriminator: two concurrent harness runs over the
    // same dataset must not race on one path (mode=overwrite deletes
    // files the other process is reading back)
    val path = "/tmp/graft_zorder_rt_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_p" + ProcessHandle.current().pid()
    // the returned frame reads this path LAZILY (Verify materializes it
    // later), so deletion must outlive the query call: a deduplicated
    // JVM exit hook reclaims the directory — repeated harness runs no
    // longer accumulate /tmp/graft_zorder_rt_* dirs unboundedly
    graft.TmpDirs.deleteOnExit(path)
    // z-dims must fit zValue's bit budget: raw hour_epoch (~1.7e9,
    // 31 bits) would wrap every 2^20 s (~12 days) through the 20-bit
    // interleave and destroy the time clustering — feed the hour INDEX
    // relative to the corpus epoch instead (rows' stored columns are
    // untouched; the dim is layout-only)
    graft.sources.Sinks.writeZOrdered(ev, path, col("user_id"),
      expr("(hour_epoch - 1704067200L) div 3600"), numFiles = 16)
    s.read.parquet(path)
      .filter(col("user_id").between(10, 40) &&
        col("hour_epoch") < 1705276800L) // first half of January
      .orderBy("event_id")
  }

  /** q128: the tokenizer and the packing planner COMPOSED — sequence
    * packing driven by the REAL per-doc token counts of the learned
    * BPE encoder (q124's counts) instead of q93's whitespace stand-in.
    * The two-level prefix sum is unchanged
    * ([[graft.TextOps.sequencePackingByCount]]); what this gates is
    * that the pipeline's stages actually fit together: tokenizer
    * counts in, trainer-sequence plan out, end to end against one
    * oracle re-deriving both.
    */
  private def q128BpePacking(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.select(col("doc_id"), col("lang"))
      .join(Bpe.tokenCounts(docs, "doc_id", "text",
        prebuilt = Some(Bpe.mergeTable(s, d))), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    TextOps.sequencePackingByCount(counts)
  }

  /** q194: the ISO-BMFF (MP4) SAMPLE-TABLE walk under a full driver
    * gate — q139's modality reach past AVI (the r17 verdict's stretch
    * item): per doc a spec-true fast-start MP4 (ftyp, moov with mvhd
    * and the full trak → mdia → minf → stbl chain — stsd visual
    * sample entry, per-sample stsz, stsc chunk map, stco offsets —
    * then mdat), walked by [[graft.Multimodal.decodeMp4Samples]]
    * exactly as a demuxer would: sample offsets come from the chunk
    * map, never from assuming contiguity. Two codec legs, honest per
    * the q139 rule: docs with doc_id % 5 == 4 declare `avc1` and
    * carry opaque (inter-coded) samples — the walk labels each sample
    * with the codec fourcc and the stsd-DECLARED track dims, decoding
    * nothing; every other doc is Motion-JPEG (`jpeg`), where each
    * sample is a complete JPEG and per-frame dims are DECODED from
    * the sample bytes (q139's frame formulas, so a box-walk
    * off-by-one, a wrong stco base, or a misread stsd offset all
    * break the hash gate). Every 7th doc carries raw text and must
    * yield the all-null row. r19: the avc1 legs carry an stss
    * sync-sample table (even 0-based samples are keyframes) and the
    * walk surfaces is_sync per sample; the Motion-JPEG legs OMIT the
    * box and must land on the spec default — every sample sync.
    */
  def q194Mp4Samples(s: SparkSession, d: String): DataFrame = {
    type C = org.apache.spark.sql.Column
    val fCount = (lit(1) + pmod(col("doc_id"), lit(3))).cast("int")
    val isAvc = pmod(col("doc_id"), lit(5)) === 4
    def hex4(c: C) = lpad(hex(c), 4, "0")
    def be32hex(c: C) = lpad(hex(c), 8, "0")
    // per-frame 39-byte payload: q139's complete baseline JPEG for
    // the Motion-JPEG docs; a deterministic opaque pattern for avc1
    def frameHex(f: Int): C = {
      val w = lit(100) + pmod(col("doc_id") * 3 + lit(f), lit(50))
      val h = lit(80) + pmod(col("doc_id") * 5 + lit(f), lit(40))
      // 39 bytes exactly — q139's JPEG WITHOUT its trailing RIFF
      // even-pad byte (MP4 samples are unpadded; stsz declares 39)
      val jpeg = concat(
        lit("FFD8" + "FFE000104A46494600010101" + "0048" + "0060" +
          "0000" + "FFC0001108"),
        hex4(h), hex4(w), lit("03012200021101031101"))
      val avc = concat_ws("", transform(sequence(lit(0), lit(38)),
        i => lpad(hex(pmod(col("doc_id") * 7 + i * 11 + lit(1),
          lit(256))), 2, "0")))
      when(lit(f) < fCount, when(isAvc, avc).otherwise(jpeg))
        .otherwise(lit(""))
    }
    // stsd declares the TRACK's nominal dims = frame 0's formulas
    val w0 = lit(100) + pmod(col("doc_id") * 3, lit(50))
    val h0 = lit(80) + pmod(col("doc_id") * 5, lit(40))
    val codecHex = when(isAvc, lit("61766331")) // 'avc1'
      .otherwise(lit("6A706567"))               // 'jpeg'
    val ftyp = lit("00000010" + "66747970" + "69736F6D" + "00000000")
    val matrixHex = "000100000000000000000000" +
      "000000000001000000000000" + "000000000000000040000000"
    val mvhd = concat(
      lit("0000006C" + "6D766864" + "00000000" + "00000000" +
        "00000000" + "000003E8"),
      be32hex(fCount * 40), // duration: 40 units (25 fps) per frame
      lit("00010000" + "0100" + "0000" + "00" * 8 + matrixHex +
        "00" * 24 + "00000002"))
    val stsd = concat(
      lit("00000066" + "73747364" + "00000000" + "00000001" +
        "00000056"), codecHex,
      lit("00" * 6 + "0001" + "00" * 16),
      hex4(w0), hex4(h0),
      lit("00480000" + "00480000" + "00000000" + "0001" + "00" * 32 +
        "0018" + "FFFF"))
    def perFrame(mk: Int => C): C =
      concat((0 until 3).map(f =>
        when(lit(f) < fCount, mk(f)).otherwise(lit(""))): _*)
    val stsz = concat(be32hex(lit(20) + fCount * 4),
      lit("7374737A" + "00000000" + "00000000"), be32hex(fCount),
      perFrame(_ => lit("00000027"))) // every sample is 39 bytes
    val stsc = lit("0000001C" + "73747363" + "00000000" + "00000001" +
      "00000001" + "00000001" + "00000001") // one sample per chunk
    // stss (AVC LEG ONLY — r19): inter-coded tracks mark their
    // keyframes; even 0-based samples (numbers 1, 3) are sync. The
    // Motion-JPEG legs OMIT the box, exercising the spec default
    // (absent stss = every sample sync, the all-intra case).
    val nSync = ((fCount + lit(1) -
      pmod(fCount + lit(1), lit(2))) / lit(2)).cast("int")
    val stssSize = when(isAvc, lit(16) + nSync * 4).otherwise(lit(0))
      .cast("int")
    val stss = concat(be32hex(lit(16) + nSync * 4),
      lit("73747373" + "00000000"), be32hex(nSync),
      perFrame(f => if (f % 2 == 0) be32hex(lit(f + 1)) else lit("")))
    // mdat payload starts at ftyp(16) + moov(314+8f+stss) + hdr(8)
    val stco = concat(be32hex(lit(16) + fCount * 4),
      lit("7374636F" + "00000000"), be32hex(fCount),
      perFrame(f => be32hex(lit(338 + 39 * f) + fCount * 8 + stssSize)))
    val stbl = concat(be32hex(lit(174) + fCount * 8 + stssSize),
      lit("7374626C"), stsd, stsz, stsc, stco,
      when(isAvc, stss).otherwise(lit("")))
    val minf = concat(be32hex(lit(182) + fCount * 8 + stssSize),
      lit("6D696E66"), stbl)
    val mdia = concat(be32hex(lit(190) + fCount * 8 + stssSize),
      lit("6D646961"), minf)
    val trak = concat(be32hex(lit(198) + fCount * 8 + stssSize),
      lit("7472616B"), mdia)
    val moov = concat(be32hex(lit(314) + fCount * 8 + stssSize),
      lit("6D6F6F76"), mvhd, trak)
    val mdat = concat(be32hex(lit(8) + fCount * 39), lit("6D646174"),
      frameHex(0), frameHex(1), frameHex(2))
    val payloadHex = concat(ftyp, moov, mdat)
    val content = when(pmod(col("doc_id"), lit(7)) === 6,
      col("text").cast("binary")).otherwise(unhex(payloadHex))
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Udfs.mp4Samples(content).as("mv"))
      .select(col("doc_id"),
        col("mv.codec").as("codec"),
        col("mv.declared_samples").as("declared_samples"),
        when(col("mv").isNotNull, size(col("mv.frames")))
          .as("n_frames"),
        explode_outer(col("mv.frames")).as("fr"))
      .select(col("doc_id"), col("codec"), col("declared_samples"),
        col("n_frames"),
        col("fr.idx").as("frame_idx"),
        col("fr.format").as("frame_fmt"),
        col("fr.width").as("frame_w"),
        col("fr.height").as("frame_h"),
        // 0/1 int, not boolean: a NULLABLE bool renders None via
        // pyarrow but NaN via duckdb-pandas on the raw-text null
        // rows, breaking the driver hash on representation alone
        col("fr.is_sync").cast("int").as("is_sync"))
      .orderBy("doc_id", "frame_idx")
  }

  /** The q133 pixel→hash→near-dup CTE chain (CTE names prefixed with
    * i/imgd to stay composable), ending at `ibest` — shared by the
    * q133 oracle and q140's image-dup signal; mirrors
    * q133ImagePhashDedup, edit together. Powers of two accumulate in
    * HUGEINT then wrap to the engine's two's-complement long
    * (BIGINT << 63 overflows).
    */
  /** dHash + banded-pair tail shared by every image-dedup oracle
    * (q133/q176/q180 via [[imagePhashCtes]], q181 via its own px):
    * consumes a `px(doc_id, r, c, pv)` level. */
  private lazy val dHashChainCtes: String =
    """bits AS (
      |  SELECT a.doc_id, a.r*8 + a.c AS b,
      |    CASE WHEN a.pv > x.pv THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px x ON a.doc_id = x.doc_id AND a.r = x.r
      |    AND x.c = a.c + 1
      |  WHERE a.c <= 7),
      |hsum AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN bit = 1
      |        THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
      |        ELSE CAST(0 AS HUGEINT) END) AS s
      |  FROM bits GROUP BY 1),
      |ihs AS (
      |  SELECT doc_id,
      |    CAST(s - CASE WHEN s >= CAST(1 AS HUGEINT) << 63
      |      THEN CAST(1 AS HUGEINT) << 64 ELSE 0 END AS BIGINT)
      |      AS phash
      |  FROM hsum),
      |ipairs AS (
      |  SELECT x.doc_id AS pa, y.doc_id AS pb,
      |    bit_count(xor(x.phash, y.phash)) AS hamming
      |  FROM ihs x JOIN ihs y ON x.doc_id < y.doc_id
      |  WHERE bit_count(xor(x.phash, y.phash)) <= 3),
      |isym AS (SELECT pa AS doc_id, pb AS partner, hamming FROM ipairs
      |        UNION ALL SELECT pb, pa, hamming FROM ipairs),
      |irk AS (SELECT doc_id, partner, hamming,
      |        row_number() OVER (PARTITION BY doc_id
      |          ORDER BY hamming, partner) AS rn
      |       FROM isym),
      |ibest AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups,
      |        max(CASE WHEN rn = 1 THEN partner END) AS best_partner,
      |        max(CASE WHEN rn = 1 THEN hamming END) AS best_hamming
      |        FROM irk GROUP BY 1)""".stripMargin

  /** The q133-variant pixel levels (mirrors [[fixturePix]] — edit
    * together), composed with [[dHashChainCtes]]. */
  private lazy val imagePhashCtes: String =
    s"""imgd AS (
       |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, r, c,
       |    CASE
       |      WHEN v = 3 THEN 1 + (g*53
       |        + (g*3 + r*11 + c*17 + 7)*(g*3 + r*11 + c*17 + 7)
       |        + 137) % 254
       |      WHEN v = 2 AND c = 0 AND r <= 2 THEN
       |        CASE WHEN 1 + (g*31 + (g + r*7)*(g + r*7)) % 254
       |                  > 1 + (g*31 + (g + r*7 + 13)*(g + r*7 + 13)) % 254
       |             THEN (g*31 + (g + r*7 + 13)*(g + r*7 + 13)) % 254
       |             ELSE 2 + (g*31 + (g + r*7 + 13)*(g + r*7 + 13)) % 254
       |             END
       |      WHEN v = 1 THEN 2 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254
       |      ELSE 1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254 END AS pv
       |  FROM imgd, range(8) t1(r), range(9) t2(c)),
       |$dHashChainCtes""".stripMargin

  private val imagePhashTail: String =
    """SELECT h.doc_id, h.phash,
      |  coalesce(n_dups, 0) AS n_dups, best_partner, best_hamming
      |FROM ihs h LEFT JOIN ibest USING (doc_id)
      |ORDER BY h.doc_id""".stripMargin

  /** The image-dedup oracle shared verbatim by q133 (BMP), q176
    * (gray PNG) and q180 (truecolor PNG) — identical pixels through
    * [[fixturePix]], identical dHash pipeline; only the container
    * differs. */
  private lazy val imagePhashOracle: String =
    s"WITH $imagePhashCtes\n$imagePhashTail"

  /** q181's oracle: the SAME image per group for v ∈ {0,1,2} (the
    * base formula) — the three container deliveries must hash
    * identically, so every group forms a 3-member hamming-0 clique —
    * and the independent alt image for v = 3. */
  private lazy val crossContainerOracle: String =
    s"""WITH imgd AS (
       |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, r, c,
       |    CASE
       |      WHEN v = 3 THEN 1 + (g*53
       |        + (g*3 + r*11 + c*17 + 7)*(g*3 + r*11 + c*17 + 7)
       |        + 137) % 254
       |      ELSE 1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254 END AS pv
       |  FROM imgd, range(8) t1(r), range(9) t2(c)),
       |$dHashChainCtes
       |$imagePhashTail""".stripMargin

  /** q193's oracle: the same image for v ∈ {0,1,2} (BMP, interlaced
    * PNG, 16-bit PNG of the base) and the QUANTIZED image for
    * v ∈ {3,4} (4-bit PNG + its BMP twin) — mirrors the png_depths
    * fixture's v split; shares [[dHashChainCtes]] and the tail. */
  private lazy val pngDepthsOracle: String =
    s"""WITH imgd AS (
       |  SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS v
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, r, c,
       |    CASE
       |      WHEN v >= 3 THEN ((1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254) // 16) * 17
       |      ELSE 1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254 END AS pv
       |  FROM imgd, range(8) t1(r), range(9) t2(c)),
       |$dHashChainCtes
       |$imagePhashTail""".stripMargin

  /** q195's oracle: the base image for v = 0 and the evenly QUANTIZED
    * image ((pv // 2)·2 — what the GIF members' palette lookup and
    * the v4 BMP twin both store) otherwise — mirrors the gif_lzw
    * fixture's v split; shares [[dHashChainCtes]] and the tail. */
  private lazy val gifLzwOracle: String =
    s"""WITH imgd AS (
       |  SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS v
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, r, c,
       |    CASE
       |      WHEN v >= 1 THEN ((1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254) // 2) * 2
       |      ELSE 1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254 END AS pv
       |  FROM imgd, range(8) t1(r), range(9) t2(c)),
       |$dHashChainCtes
       |$imagePhashTail""".stripMargin

  /** q196's oracle: the base image for v ∈ {0,1,2} (the opaque
    * alpha members composite to the identity) and the WHITE-COMPOSITED
    * image for v ∈ {3,4} — comp = (pv·a + 255·(255−a)) // 255 with
    * the fixture's alpha plane a = (g·5 + r·11 + c·19) % 256; mirrors
    * the png_alpha fixture's v split, shares [[dHashChainCtes]]. */
  private lazy val pngAlphaOracle: String =
    s"""WITH imgd AS (
       |  SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS v
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, r, c,
       |    CASE
       |      WHEN v >= 3 THEN
       |        ((1 + (g*31 + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254)
       |           * ((g*5 + r*11 + c*19) % 256)
       |         + 255 * (255 - (g*5 + r*11 + c*19) % 256)) // 255
       |      ELSE 1 + (g*31
       |        + (g + r*7 + c*13)*(g + r*7 + c*13)) % 254 END AS pv
       |  FROM imgd, range(8) t1(r), range(9) t2(c)),
       |$dHashChainCtes
       |$imagePhashTail""".stripMargin

  /** The q137 waveform→features CTE chain (CTE names prefixed a*),
    * ending at `af` (doc_id, v, n, smp, sum_sq) — shared by the q137
    * oracle and q140's audio signal; mirrors q137AudioFeatures, edit
    * together.
    */
  private lazy val audioFeatureCtes: String =
    """audd AS (
      |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
      |    40 + doc_id % 20 AS n
      |  FROM documents),
      |aw AS (
      |  SELECT doc_id, v, n,
      |    [CASE WHEN v = 1 AND i >= 11 AND i <= 20 THEN 0
      |          WHEN v = 2 AND (i-1) % 16 = 0 THEN 32767
      |          WHEN v = 2 AND (i-1) % 16 = 8 THEN -32768
      |          ELSE ((g*7 + (i-1)*13) % 2001) - 1000 END
      |     for i in range(1, n + 1)] AS smp
      |  FROM audd),
      |af AS (
      |  SELECT doc_id, v, n, smp,
      |    CAST(list_sum(list_transform(smp, x -> x*x)) AS BIGINT)
      |      AS sum_sq
      |  FROM aw)""".stripMargin

  /** The canonical instantiation over the raw documents table (q149 /
    * q173). */
  private lazy val mixPackCtes: String =
    "WITH " + MixPackSql.ctesOver("documents", "")

  val oracle: Map[String, String] = Map(
    "q101_pii_screen" ->
      s"""WITH p AS (
         |  SELECT doc_id, $piiAugmentSql AS pii_text FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |    AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
         |    AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '\\+[0-9]{1,3}[ -][0-9]{2,4}-[0-9]{5,9}'))
         |    AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
         |      'g'),
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>',
         |      'g'),
         |    '\\+[0-9]{1,3}[ -][0-9]{2,4}-[0-9]{5,9}', '<PHONE>', 'g'))
         |    AS redacted_hash,
         |  len(regexp_extract_all(pii_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |  + len(regexp_extract_all(pii_text,
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
         |  + len(regexp_extract_all(pii_text,
         |    '\\+[0-9]{1,3}[ -][0-9]{2,4}-[0-9]{5,9}')) > 0 AS has_pii
         |FROM p ORDER BY doc_id""".stripMargin,
    "q102_paragraph_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    [array_to_string(w[(i*10+1):(i*10+10)], ' ')
        |     for i in range(0, (len(w)+9)//10)] AS chunks
        |  FROM t),
        |ex AS (
        |  SELECT doc_id, unnest(chunks) AS chunk,
        |    unnest(range(1, len(chunks)+1)) AS pos
        |  FROM ch),
        |f AS (SELECT md5(chunk) AS h, count(*) AS freq FROM ex GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs,
        |  CAST(sum(CASE WHEN freq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN freq < 2 THEN chunk END,
        |    ' ' ORDER BY pos), '')) AS retained_hash
        |FROM ex JOIN f ON md5(ex.chunk) = f.h
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q103_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS g2
        |  FROM t),
        |occ AS (SELECT doc_id, unnest(g2) AS bg FROM g),
        |od AS (SELECT doc_id, bg, count(*) AS n FROM occ GROUP BY 1, 2),
        |m AS (SELECT bg, CAST(sum(n) AS BIGINT) AS c2 FROM od GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CASE WHEN c2 >= 5 THEN n ELSE 0 END) AS BIGINT)
        |      AS n_frequent,
        |    CAST(sum(least(c2, 1000) * n) AS BIGINT) AS fam_sum
        |  FROM od JOIN m USING (bg) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(n_frequent, 0) AS n_frequent,
        |  coalesce(fam_sum, 0) AS fam_sum,
        |  CASE WHEN coalesce(n_bigrams, 0) > 0
        |    THEN round(n_frequent / n_bigrams, 6) ELSE 0.0 END
        |    AS frequent_ratio,
        |  CASE WHEN coalesce(n_bigrams, 0) > 0
        |    THEN round(fam_sum / n_bigrams, 6) ELSE 0.0 END
        |    AS avg_familiarity
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // bit-equal to q97 by construction (bloom prefilter; see
    // CorpusOps.bloomExactScreen scaladoc) — shares its oracle text
    "q104_bloom_exact" -> LlmQueries.oracle("q97_incremental_exact"),
    "q105_shard_plan" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT lang, tok_start // 4096 AS file_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS file_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming windowed aggregate over the full replay equals the
    // batch hourly GROUP BY (ReplayParity.q106 scaladoc has the
    // watermark argument)
    "q106_streaming_windows_replay" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS hour_epoch,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the LATE-DATA windowed gate: re-derive Spark's TWO-WATERMARK
    // late-drop rule over the planted arrival permutation (event_id %
    // 5 = 0 arrives one epoch-day late — ReplayParity.lateShiftedDay,
    // edit together). Since the multi-stateful-operator rework
    // (SPARK-24634, probed empirically on 4.1.2 — see
    // q131LateWindowsReplay's scaladoc), the LATE-EVENT filter uses
    // the PREVIOUS batch's watermark while EVICTION uses the current
    // one: a row in the batch of arrival day A is dropped iff its
    // hour-window END <= (max event time over arrival days at least
    // TWO positions earlier in the day sequence) - 1 h. The one-batch
    // lag also proves the GROUP BY shape safe: eviction leads the
    // late filter by exactly one batch, so a window can never emit
    // twice
    "q131_late_windows_replay" ->
      """WITH e AS (
        |  SELECT event_id, ts, event_type, value,
        |    epoch_us(ts) // 86400000000
        |      + CASE WHEN event_id % 10 = 0 THEN 2
        |             WHEN event_id % 10 = 5 THEN 1 ELSE 0 END AS aday
        |  FROM events),
        |dm AS (SELECT aday, max(epoch_us(ts)) AS day_max
        |       FROM e GROUP BY 1),
        |w AS (SELECT aday,
        |        max(day_max) OVER (ORDER BY aday
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |          AS late_wm_base
        |      FROM dm),
        |surv AS (
        |  SELECT e.ts, e.event_type, e.value
        |  FROM e JOIN w USING (aday)
        |  WHERE w.late_wm_base IS NULL
        |     OR (epoch_us(e.ts) // 3600000000 + 1) * 3600000000
        |        > w.late_wm_base - 3600000000)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS hour_epoch,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS sum_cents
        |FROM surv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming index-ingest loop: screen-before-append per
    // micro-batch (batches = doc_id // 100 arrival days) — a doc is
    // known iff a STRICTLY earlier batch shares its hash, canonical =
    // min doc_id over those; same-batch dups stay unknown. The corpus
    // has no byte-identical texts, so cross-batch duplicates are
    // PLANTED by the same CASE the engine applies (every 17th doc →
    // one of three seed texts — edit with q136StreamingIndexIngest)
    "q136_streaming_index_ingest" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 3
        |        THEN 'dup-seed-' || CAST(doc_id % 3 AS VARCHAR)
        |        ELSE text END) AS content_hash,
        |    doc_id // 100 AS b
        |  FROM documents),
        |canon AS (
        |  SELECT x.doc_id, min(y.doc_id) AS canonical_id
        |  FROM h x JOIN h y ON y.content_hash = x.content_hash
        |                   AND y.b < x.b
        |  GROUP BY 1)
        |SELECT h.doc_id, h.content_hash, c.canonical_id,
        |  c.canonical_id IS NOT NULL AS is_known
        |FROM h LEFT JOIN canon c USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,
    // the streaming SEMANTIC vector-ingest loop (q136's discipline
    // over the standing ANN index; batches = vec_id // 100 arrival
    // days): a vector is known iff a STRICTLY earlier batch holds a
    // same-block duplicate at integer cosine ≥ 19/20, canonical = min
    // such vec_id; same-batch dups stay unknown. Near-random corpus
    // embeddings never reach the threshold, so cross-batch duplicates
    // are PLANTED by the same seeded CASE the engine applies (every
    // 17th vector → one of three per-dim seed formulas — edit with
    // q161StreamingVectorIngest). The threshold is the exact integer
    // form 400·dot² ≥ 361·‖x‖²‖y‖² with dot > 0 (no float compare).
    "q161_streaming_vector_ingest" ->
      """WITH base AS (
        |  SELECT vec_id, label, vec_id // 100 AS b,
        |    CASE WHEN vec_id % 17 = 3 THEN
        |      [CAST((((vec_id % 3) * 7 + (d-1) * 13) % 201 - 100) * 10
        |         AS BIGINT) for d in range(1, 65)]
        |    ELSE list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
        |    END AS q
        |  FROM embeddings),
        |n2 AS (
        |  SELECT vec_id, label, q, b,
        |    CAST(list_sum([q[i]*q[i] for i in range(1, 65)]) AS BIGINT)
        |      AS norm2
        |  FROM base),
        |dup AS (
        |  SELECT x.vec_id, y.vec_id AS old_id,
        |    CAST(list_sum([x.q[i]*y.q[i] for i in range(1, 65)])
        |      AS BIGINT) AS dot,
        |    x.norm2 AS nx, y.norm2 AS ny
        |  FROM n2 x JOIN n2 y ON y.label = x.label AND y.b < x.b),
        |hit AS (
        |  SELECT vec_id, min(old_id) AS canonical_id
        |  FROM dup WHERE dot > 0 AND 400 * dot * dot >= 361 * nx * ny
        |  GROUP BY 1)
        |SELECT n2.vec_id, h.canonical_id,
        |  h.canonical_id IS NOT NULL AS is_known
        |FROM n2 LEFT JOIN hit h USING (vec_id)
        |ORDER BY n2.vec_id""".stripMargin,
    // the LATE-DATA as-of gate: the bounded-state machine re-derived
    // over the same planted permutation — per-user state after any
    // processed view set is its (ts, event_id) maximum, so each
    // click's held view is the max-(ts, id) view among views arrived
    // before it (earlier arrival day, or same day with view_ts <=
    // click_ts per the intra-batch (ts, side, id) sort); match iff
    // held.ts <= click.ts — a late click that a newer view overtook
    // reports NO match (the documented approximation)
    "q132_late_asof_replay" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    epoch_us(ts) // 86400000000
        |      + CASE WHEN event_id % 10 = 0 THEN 2
        |             WHEN event_id % 10 = 5 THEN 1 ELSE 0 END AS aday
        |  FROM events WHERE event_type IN ('view', 'click')),
        |c AS (SELECT event_id AS click_id, user_id, ts AS cts,
        |        aday AS cday
        |      FROM e WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, ts AS vts,
        |        aday AS vday
        |      FROM e WHERE event_type = 'view'),
        |held AS (
        |  SELECT click_id, view_id, vts,
        |    row_number() OVER (PARTITION BY click_id
        |      ORDER BY vts DESC, view_id DESC) AS rn
        |  FROM c JOIN v USING (user_id)
        |  WHERE v.vday < c.cday OR (v.vday = c.cday AND v.vts <= c.cts))
        |SELECT c.click_id, c.user_id,
        |  CASE WHEN h.vts <= c.cts THEN h.view_id END AS view_id,
        |  CASE WHEN h.vts <= c.cts
        |    THEN epoch_us(c.cts) - epoch_us(h.vts) END AS lag_us
        |FROM c LEFT JOIN (SELECT * FROM held WHERE rn = 1) h
        |  USING (click_id)
        |ORDER BY click_id""".stripMargin,
    // each event lands in exactly two epoch-aligned sliding windows:
    // floor-to-30min and that minus 30min (Spark window() alignment)
    "q108_sliding_rates" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1000000 AS es, event_type, user_id
        |  FROM events),
        |u AS (
        |  SELECT unnest([(es // 1800) * 1800, (es // 1800) * 1800 - 1800])
        |    AS window_epoch, event_type, user_id
        |  FROM e)
        |SELECT window_epoch, event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q109_url_dedup" ->
      s"""WITH p AS (
         |  SELECT doc_id, $urlAugmentSql AS url FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    -- unparseable (schemeless) URLs canonicalize to THEMSELVES
         |    CASE WHEN regexp_extract(url,
         |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '' THEN url ELSE
         |    lower(regexp_extract(url,
         |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
         |    regexp_replace(lower(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
         |      '^www\\.', '') ||
         |    regexp_replace(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
         |      '/+$$', '') ||
         |    CASE WHEN regexp_replace(regexp_replace(
         |        regexp_extract(url, '\\?([^#]*)', 1),
         |        '(^|&)utm_[a-z]+=[^&]*', '', 'g'), '^&+', '') <> ''
         |      THEN '?' || regexp_replace(regexp_replace(
         |        regexp_extract(url, '\\?([^#]*)', 1),
         |        '(^|&)utm_[a-z]+=[^&]*', '', 'g'), '^&+', '')
         |      ELSE '' END END AS canonical_url
         |  FROM p)
         |SELECT doc_id, canonical_url,
         |  min(doc_id) OVER (PARTITION BY canonical_url) AS canonical_doc,
         |  min(doc_id) OVER (PARTITION BY canonical_url) = doc_id
         |    AS is_canonical
         |FROM c ORDER BY doc_id""".stripMargin,
    // chunk-count convention mirrored exactly: ceil((n-64)/32)+1,
    // clamped to >= 1; 1-based inclusive list slices clamp like slice()
    "q110_chunk_table" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    unnest(range(0, greatest(1,
        |      CAST(ceil((len(w) - 64) / 32.0) AS INT) + 1)))
        |      AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 32 + 1 AS BIGINT) AS start_tok,
        |  CAST(len(w[(chunk_id*32+1):(chunk_id*32+64)]) AS BIGINT)
        |    AS n_tok,
        |  md5(array_to_string(w[(chunk_id*32+1):(chunk_id*32+64)], ' '))
        |    AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q111_source_profile" ->
      """WITH b AS (
        |  SELECT doc_id, source, md5(text) AS h,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> list_contains(['the','a','of','and'], x))) AS BIGINT)
        |      AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id)
        |    > 1 AS dup
        |  FROM b)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  round(sum(n_stop) / sum(n_tokens), 6) AS stop_ratio,
        |  CAST(sum(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short,
        |  sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1000 > count(*) * 100
        |    AS flagged
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // the sliding twin of q106's parity gate: each event in exactly
    // two epoch-aligned windows (q108's assignment), cents discipline
    "q112_streaming_sliding_replay" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1000000 AS es, event_type,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |u AS (
        |  SELECT unnest([(es // 1800) * 1800, (es // 1800) * 1800 - 1800])
        |    AS window_epoch, event_type, v
        |  FROM e)
        |SELECT window_epoch, event_type, count(*) AS n,
        |  CAST(sum(v) * 100 AS BIGINT) AS sum_cents
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // inner interval join: the streamed pair set equals the batch pair
    // join under day-ascending replay (ReplayParity.q113 scaladoc)
    "q113_streaming_interval_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id,
        |  c.user_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
        |ORDER BY click_id, view_id""".stripMargin,
    "q114_scd2_history" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS version,
        |  event_type AS state,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) AS valid_to_us,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL AS is_current
        |FROM ch ORDER BY user_id, version""".stripMargin,
    "q115_time_travel" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR prev <> event_type),
        |v AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS version,
        |    event_type AS state,
        |    epoch_us(ts) AS valid_from_us,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS valid_to_us
        |  FROM ch)
        |SELECT user_id, state, version, valid_from_us
        |FROM v
        |WHERE valid_from_us <= 1705276800000000
        |  AND (valid_to_us IS NULL OR valid_to_us > 1705276800000000)
        |ORDER BY user_id""".stripMargin,
    // the q86/q91 gate style: oracle asserts the exact top-k + TRUE
    // CMS-bound verdicts (the sketch is deterministic for the fixed seed)
    "q116_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
        |      FROM tok GROUP BY 1),
        |r AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token ASC) AS rank
        |  FROM c)
        |SELECT rank, token, n, true AS cms_no_undercount
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // variance from integer window sums: (cnt*Σn² − (Σn)²)/cnt² — the
    // only floats are the final division/sqrt on identical integers
    "q117_rate_anomaly" ->
      """WITH h AS (
        |  SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_epoch,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |wst AS (
        |  SELECT hour_epoch, event_type, n,
        |    CAST(count(*) OVER f AS BIGINT) AS w_cnt,
        |    CAST(sum(n) OVER f AS BIGINT) AS w_sum,
        |    CAST(sum(n * n) OVER f AS BIGINT) AS w_sumsq
        |  FROM h WINDOW f AS (PARTITION BY event_type ORDER BY hour_epoch
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT hour_epoch, event_type, n,
        |    CASE WHEN w_cnt = 24 AND w_cnt * w_sumsq > w_sum * w_sum
        |      THEN round((n - w_sum / w_cnt) /
        |        sqrt((w_cnt * w_sumsq - w_sum * w_sum) /
        |          (w_cnt * w_cnt)), 6) END AS z
        |  FROM wst)
        |SELECT hour_epoch, event_type, n, z,
        |  coalesce(abs(z) > 3.0, false) AS is_anomaly
        |FROM z ORDER BY 1, 2""".stripMargin,
    "q118_constraint_check" ->
      """WITH t AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS custkey_nonnull,
        |  CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1
        |    ELSE 0 END) AS BIGINT) AS status_domain,
        |  CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS price_positive,
        |  CAST(sum(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS date_nonnull,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS key_distinct
        |FROM orders)
        |SELECT c.constraint, c.n_pass, c.n_total,
        |  c.n_pass = c.n_total AS ok
        |FROM t, LATERAL (VALUES
        |  ('o_custkey_nonnull', custkey_nonnull, n_total),
        |  ('o_orderstatus_domain', status_domain, n_total),
        |  ('o_totalprice_positive', price_positive, n_total),
        |  ('o_orderdate_nonnull', date_nonnull, n_total),
        |  ('o_orderkey_unique', key_distinct, n_total))
        |  AS c("constraint", n_pass, n_total)
        |ORDER BY c.constraint""".stripMargin,
    // bit-equal to q114's full rebuild by the scd2Apply contract (the
    // batch is strictly newer than every old observation), so it
    // SHARES q114's oracle — edit together
    "q119_scd2_incremental" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS version,
        |  event_type AS state,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) AS valid_to_us,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL AS is_current
        |FROM ch ORDER BY user_id, version""".stripMargin,
    // layout roundtrip: the z-ordered write must preserve rows exactly
    "q120_zorder_roundtrip" ->
      """SELECT event_id, user_id,
        |  (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_epoch
        |FROM events
        |WHERE user_id BETWEEN 10 AND 40
        |  AND (epoch_us(ts) // 1000000 // 3600) * 3600 < 1705276800
        |ORDER BY event_id""".stripMargin,
    // rank-20 vocab, ids 1..20, OOV -> 0; the ids_hash receipt hashes
    // the comma-joined id sequence in token order
    "q121_vocab_encode" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, unnest(w) AS token,
        |    unnest(range(1, len(w)+1)) AS pos
        |  FROM t),
        |c AS (SELECT token, count(*) AS n FROM ex GROUP BY 1),
        |v AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY n DESC, token ASC)
        |      AS BIGINT) AS id
        |  FROM c ORDER BY n DESC, token ASC LIMIT 20)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  md5(string_agg(CAST(coalesce(id, 0) AS VARCHAR), ','
        |    ORDER BY pos)) AS ids_hash
        |FROM ex LEFT JOIN v USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // BPE-aware packing: the encode chain's counts through q93's
    // packing arithmetic — see Bpe.oraclePackingSql
    "q128_bpe_packing" -> Bpe.oraclePackingSql,
    // the Cavnar–Trenkle trigram classifier: integer rank profiles and
    // out-of-place distances re-derived end-to-end (the q53 posture —
    // the gate pins the math, not accuracy on the synthetic corpus)
    "q125_langid_trigram" ->
      """WITH g AS MATERIALIZED (
        |  SELECT doc_id, lang, gram, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_transform(
        |        generate_series(1, length(lower(text)) - 2),
        |        i -> substr(lower(text), i, 3))) AS gram
        |    FROM documents WHERE length(lower(text)) >= 3)
        |  GROUP BY 1, 2, 3),
        |lp AS (
        |  SELECT lang AS p_lang, gram, lrank FROM (
        |    SELECT lang, gram,
        |      CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY sum(n) DESC, gram ASC) AS BIGINT) AS lrank
        |    FROM g GROUP BY lang, gram)
        |  WHERE lrank <= 50),
        |dp AS (
        |  SELECT doc_id, gram, drank FROM (
        |    SELECT doc_id, gram,
        |      CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY n DESC, gram ASC) AS BIGINT) AS drank
        |    FROM g)
        |  WHERE drank <= 20),
        |langs AS (SELECT DISTINCT lang AS p_lang FROM g),
        |sc AS (
        |  SELECT dp.doc_id, l.p_lang,
        |    CAST(sum(coalesce(abs(dp.drank - lp.lrank), 50)) AS BIGINT)
        |      AS distance
        |  FROM dp CROSS JOIN langs l
        |  LEFT JOIN lp ON lp.p_lang = l.p_lang AND lp.gram = dp.gram
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, p_lang AS predicted, distance FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY distance ASC, p_lang ASC) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT d.doc_id, d.lang, predicted, distance,
        |  coalesce(predicted = d.lang, false) AS is_correct
        |FROM documents d LEFT JOIN best USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the BPE gates: generated unrolled CTE chains (one pairs → best →
    // seg block per merge rank) re-deriving the learning loop — see
    // Bpe.oracleMergesSql/oracleEncodeSql
    "q123_bpe_merges" -> Bpe.oracleMergesSql,
    "q124_bpe_encode" -> Bpe.oracleEncodeSql,
    // the synthesized-JPEG gate: expected fields re-derived from
    // doc_id arithmetic (the query's scaladoc documents the variants);
    // variants 3 (truncated) and 4 (raw text) must decode to all-null
    "q122_jpeg_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 IN (0, 2) THEN 'jpeg'
        |       WHEN doc_id % 5 = 1 THEN 'jpeg_prog' END AS jpeg_format,
        |  CASE WHEN doc_id % 5 <= 2
        |    THEN CAST(100 + doc_id % 1500 AS INT) END AS jpeg_width,
        |  CASE WHEN doc_id % 5 <= 2
        |    THEN CAST(80 + doc_id % 900 AS INT) END AS jpeg_height,
        |  CASE WHEN doc_id % 5 <= 2 THEN CAST(24 AS INT) END AS jpeg_bpp,
        |  CASE WHEN doc_id % 5 <= 1 THEN CAST(1 AS INT) END
        |    AS density_unit,
        |  CASE WHEN doc_id % 5 <= 1
        |    THEN CAST(72 + doc_id % 200 AS INT) END AS x_density,
        |  CASE WHEN doc_id % 5 <= 1 THEN CAST(96 AS INT) END AS y_density
        |FROM documents ORDER BY doc_id""".stripMargin,
    // PCM sample-level audio features: the waveform and every feature
    // re-derived arithmetically from doc_id (q137AudioFeatures scaladoc
    // — edit together); v=3 rows are non-WAV text and must be all-null
    "q137_audio_features" ->
      s"""WITH $audioFeatureCtes
         |SELECT doc_id,
         |  CASE WHEN v <> 3 THEN CAST(n AS BIGINT) END AS n_samples,
         |  CASE WHEN v <> 3 THEN
         |    CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT)
         |    END AS peak,
         |  CASE WHEN v <> 3 THEN sum_sq END AS sum_sq,
         |  CASE WHEN v <> 3 THEN
         |    CAST(len(list_filter(smp, x -> x = 0)) AS BIGINT)
         |    END AS silence_n,
         |  CASE WHEN v <> 3 THEN
         |    CAST(len(list_filter(smp, x -> x = 32767 OR x = -32768))
         |      AS BIGINT) END AS clip_n,
         |  CASE WHEN v <> 3 THEN round(sqrt(sum_sq / n), 6) END AS rms
         |FROM af ORDER BY doc_id""".stripMargin,
    // MJPEG-in-AVI frame walk: declared/decoded counts + per-frame
    // dims re-derived from (doc_id, frame) arithmetic (q139VideoFrames
    // scaladoc — edit together); every 7th doc is raw text → null row
    "q139_video_frames" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS f_total,
        |    doc_id % 7 = 6 AS bad
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, unnest(range(f_total)) AS f
        |  FROM d WHERE NOT bad)
        |SELECT d.doc_id,
        |  CASE WHEN NOT d.bad THEN d.f_total END AS declared_frames,
        |  CASE WHEN NOT d.bad THEN d.f_total END AS n_frames,
        |  fr.f AS frame_idx,
        |  CASE WHEN fr.f IS NOT NULL THEN 'jpeg' END AS frame_fmt,
        |  CASE WHEN fr.f IS NOT NULL
        |    THEN 100 + (d.doc_id*3 + fr.f) % 50 END AS frame_w,
        |  CASE WHEN fr.f IS NOT NULL
        |    THEN 80 + (d.doc_id*5 + fr.f) % 40 END AS frame_h
        |FROM d LEFT JOIN fr USING (doc_id)
        |ORDER BY d.doc_id, frame_idx""".stripMargin,
    // audio perceptual dedup: every 32-bit energy-delta print
    // re-derived from the waveform formulas (q138AudioPhashDedup
    // scaladoc — edit together); bits stay below 2^32 so plain BIGINT
    // arithmetic suffices (no HUGEINT wrap needed, unlike q133)
    "q138_audio_phash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
        |    66 + (doc_id // 4) % 30 AS n
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n,
        |    [CASE WHEN v = 1 THEN 2 * (((g*11
        |            + (g + (i-1)*7)*(g + (i-1)*7)) % 2001) - 1000)
        |          WHEN v = 2 AND i <= 2 THEN 0
        |          WHEN v = 3 THEN ((g*13
        |            + (g*3 + (i-1)*11 + 7)*(g*3 + (i-1)*11 + 7))
        |            % 2001) - 1000
        |          ELSE ((g*11
        |            + (g + (i-1)*7)*(g + (i-1)*7)) % 2001) - 1000 END
        |     for i in range(1, n + 1)] AS smp
        |  FROM d),
        |en AS (
        |  SELECT doc_id,
        |    [list_sum(list_transform(smp[(f*n//33)+1:((f+1)*n)//33],
        |       x -> x*x)) for f in range(0, 33)] AS e
        |  FROM w),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN e[f+1] > e[f+2]
        |      THEN CAST(1 AS BIGINT) << f ELSE 0 END
        |      for f in range(0, 32)]) AS BIGINT) AS phash
        |  FROM en),
        |pairs AS (
        |  SELECT x.doc_id AS pa, y.doc_id AS pb,
        |    bit_count(xor(x.phash, y.phash)) AS hamming
        |  FROM hs x JOIN hs y ON x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.phash, y.phash)) <= 3),
        |sym AS (SELECT pa AS doc_id, pb AS partner, hamming FROM pairs
        |        UNION ALL SELECT pb, pa, hamming FROM pairs),
        |rk AS (SELECT doc_id, partner, hamming,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY hamming, partner) AS rn
        |       FROM sym),
        |best AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups,
        |        max(CASE WHEN rn = 1 THEN partner END) AS best_partner,
        |        max(CASE WHEN rn = 1 THEN hamming END) AS best_hamming
        |        FROM rk GROUP BY 1)
        |SELECT h.doc_id, h.phash,
        |  coalesce(n_dups, 0) AS n_dups, best_partner, best_hamming
        |FROM hs h LEFT JOIN best USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,
    // pixel-level BMP dedup: every hash re-derived from the fixture's
    // pixel formulas (q133ImagePhashDedup scaladoc — edit together);
    // all-pairs hamming <= 3 equals the engine's banded candidate set
    // by pigeonhole. Powers of two accumulate in HUGEINT then wrap to
    // the engine's two's-complement long (BIGINT << 63 would overflow)
    "q133_image_phash_dedup" -> imagePhashOracle,
    // q176 produces BIT-IDENTICAL output to q133 — same fixturePix
    // pixels, same dHash pipeline, PNG container instead of BMP — so
    // it shares the oracle verbatim (the q98/q99 pattern); the gate
    // isolates the PNG decode path
    "q176_png_pixel_dedup" -> imagePhashOracle,
    // truecolor channels average back to exactly the q133 grays —
    // same oracle again; the gate isolates the bpp-3 decode path
    "q180_png_rgb_dedup" -> imagePhashOracle,
    // container-blind by construction: hashes derive from pixels alone
    "q181_cross_container_dedup" -> crossContainerOracle,
    // q184 shares the container-blind pixel oracle: the JPEG variant
    // decodes (then box-averages) to the same 9x8 base formula
    "q184_jpeg_cross_container" -> crossContainerOracle,
    // q185 shares it too: restart-interval and progressive members
    // decode to the same pixels, so the expected cliques are q181's
    "q185_jpeg_modes_dedup" -> crossContainerOracle,
    "q186_palette_png_dedup" -> crossContainerOracle,
    "q193_png_depths" -> pngDepthsOracle,
    "q195_gif_lzw_dedup" -> gifLzwOracle,
    "q196_png_alpha_dedup" -> pngAlphaOracle,
    // TIFF members decode to the base pixels exactly (invert ∘ invert
    // = id; strips re-ordered by the offsets array) — q181's
    // container-blind oracle verbatim
    "q197_tiff_dedup" -> crossContainerOracle,
    // animated-GIF walk: placement/dims/delays AND per-frame decoded
    // gray sums re-derived arithmetically (edit with q198GifAnimFrames:
    // the pixel CASE, the %4 no-GCE leg, and the %7 null leg)
    "q198_gif_anim_frames" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS fc,
        |    doc_id % 7 = 6 AS bad,
        |    doc_id % 4 = 1 AS nogce0,
        |    doc_id % 11 AS dm
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, unnest(range(fc)) AS f
        |  FROM d WHERE NOT bad),
        |gs AS (
        |  SELECT fr.doc_id, fr.f,
        |    SUM(2 * ((1 + (fr.doc_id*31
        |      + (fr.doc_id + r*7 + c*13)*(fr.doc_id + r*7 + c*13)) % 254
        |      + 7*fr.f) % 128)) AS gsum
        |  FROM fr, range(8) t1(r), range(9) t2(c)
        |  GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CASE WHEN NOT d.bad THEN 16 END AS screen_w,
        |  CASE WHEN NOT d.bad THEN 12 END AS screen_h,
        |  CASE WHEN NOT d.bad THEN d.fc END AS n_frames,
        |  fr.f AS frame_idx,
        |  CASE WHEN fr.f IS NOT NULL THEN 2*fr.f END AS frame_left,
        |  CASE WHEN fr.f IS NOT NULL THEN fr.f END AS frame_top,
        |  CASE WHEN fr.f IS NOT NULL THEN 9 END AS frame_w,
        |  CASE WHEN fr.f IS NOT NULL THEN 8 END AS frame_h,
        |  CASE WHEN fr.f IS NOT NULL AND NOT (fr.f = 0 AND d.nogce0)
        |       THEN 4 + fr.f + d.dm END AS delay_cs,
        |  gs.gsum AS gray_sum
        |FROM d LEFT JOIN fr USING (doc_id)
        |  LEFT JOIN gs ON gs.doc_id = fr.doc_id AND gs.f = fr.f
        |ORDER BY d.doc_id, frame_idx""".stripMargin,
    // unicode-normalized dedup: the planting CASE mirrors
    // q199UnicodeDedup via chr() code points (233 é, 769 combining
    // acute, 160 NBSP, 8203 ZWSP); the normalization chain mirrors
    // Udfs.normalizeUnicode — strip zero-widths, NBSP→space, NFC
    "q199_unicode_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, doc_id // 4 AS g, doc_id % 4 AS v
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN v = 0 THEN
        |        'caf' || chr(233) || ' dup ' || CAST(g AS VARCHAR)
        |      WHEN v = 1 THEN
        |        'cafe' || chr(769) || chr(160) || 'dup '
        |          || CAST(g AS VARCHAR)
        |      WHEN v = 2 THEN
        |        'caf' || chr(233) || chr(8203) || ' dup '
        |          || CAST(g AS VARCHAR)
        |      ELSE text END AS txt
        |  FROM d),
        |n AS (
        |  SELECT doc_id, txt,
        |    nfc_normalize(replace(replace(replace(replace(replace(txt,
        |      chr(8203), ''), chr(8204), ''), chr(8205), ''),
        |      chr(65279), ''), chr(160), ' ')) AS norm
        |  FROM p),
        |k AS (
        |  SELECT doc_id, md5(norm) AS norm_key, norm <> txt AS changed
        |  FROM n),
        |a AS (
        |  SELECT norm_key, CAST(count(*) AS BIGINT) AS dup_count,
        |    min(doc_id) AS canonical_id
        |  FROM k GROUP BY 1)
        |SELECT k.doc_id, k.changed, k.norm_key, a.dup_count,
        |  a.canonical_id
        |FROM k JOIN a USING (norm_key)
        |ORDER BY k.doc_id""".stripMargin,
    // MP4 sample walk: mirrors q194Mp4Samples' fixture arithmetic —
    // decoded per-frame dims for the Motion-JPEG docs, the honest
    // codec label + stsd-declared dims for avc1; is_sync from the
    // avc legs' stss (even samples) vs the absent-box all-sync
    // default on the jpeg legs (edit together)
    "q194_mp4_samples" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS f_total,
        |    doc_id % 7 = 6 AS bad,
        |    doc_id % 5 = 4 AS avc
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, unnest(range(f_total)) AS f
        |  FROM d WHERE NOT bad)
        |SELECT d.doc_id,
        |  CASE WHEN NOT d.bad THEN
        |    CASE WHEN d.avc THEN 'avc1' ELSE 'jpeg' END END AS codec,
        |  CASE WHEN NOT d.bad THEN d.f_total END AS declared_samples,
        |  CASE WHEN NOT d.bad THEN d.f_total END AS n_frames,
        |  fr.f AS frame_idx,
        |  CASE WHEN fr.f IS NOT NULL THEN
        |    CASE WHEN d.avc THEN 'avc1' ELSE 'jpeg' END END
        |    AS frame_fmt,
        |  CASE WHEN fr.f IS NOT NULL THEN
        |    CASE WHEN d.avc THEN 100 + (d.doc_id*3) % 50
        |         ELSE 100 + (d.doc_id*3 + fr.f) % 50 END END
        |    AS frame_w,
        |  CASE WHEN fr.f IS NOT NULL THEN
        |    CASE WHEN d.avc THEN 80 + (d.doc_id*5) % 40
        |         ELSE 80 + (d.doc_id*5 + fr.f) % 40 END END
        |    AS frame_h,
        |  CASE WHEN fr.f IS NOT NULL THEN
        |    CASE WHEN d.avc THEN CAST(fr.f % 2 = 0 AS INTEGER)
        |         ELSE 1 END END AS is_sync
        |FROM d LEFT JOIN fr USING (doc_id)
        |ORDER BY d.doc_id, frame_idx""".stripMargin,
    // q191 shares the container-blind pixel oracle: orientation
    // normalization recovers the base pixels exactly, so expected
    // cliques are q181's
    "q191_oriented_dedup" -> crossContainerOracle,
    // q189: the fields re-derive arithmetically from doc_id; the %7
    // leg pins the no-Exif null row
    "q189_exif_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE 1 + doc_id % 8 END AS exif_orientation,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE 'cam' || CAST(doc_id % 5 AS VARCHAR)
        |       END AS exif_model,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE '2024:01:' ||
        |         lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') ||
        |         ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
        |         ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') ||
        |         ':' || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0')
        |       END AS exif_datetime
        |FROM documents ORDER BY doc_id""".stripMargin,
    // µ-law: the oracle re-derives the companded bytes AND the G.711
    // expansion formula (255−u complement, bias-132 mantissa, exponent
    // shift, sign) — edit with q179MulawFeatures and mulawExpand
    "q179_mulaw_features" ->
      """WITH md AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
        |    40 + doc_id % 20 AS n
        |  FROM documents),
        |mb AS (
        |  SELECT doc_id, v, n,
        |    [CASE WHEN v = 1 AND i >= 11 AND i <= 20 THEN 255
        |          WHEN v = 2 AND (i-1) % 16 = 0 THEN 0
        |          WHEN v = 2 AND (i-1) % 16 = 8 THEN 128
        |          ELSE (g*7 + (i-1)*13 + v*31) % 256 END
        |     for i in range(1, n + 1)] AS ub
        |  FROM md),
        |ms AS (
        |  SELECT doc_id, v, n,
        |    list_transform(ub, u ->
        |      CASE WHEN ((255 - u) & 128) = 128
        |        THEN 132 - ((((255 - u) & 15) * 8 + 132)
        |          * (1 << (((255 - u) & 112) // 16)))
        |        ELSE (((255 - u) & 15) * 8 + 132)
        |          * (1 << (((255 - u) & 112) // 16)) - 132 END) AS smp
        |  FROM mb)
        |SELECT doc_id,
        |  CASE WHEN v = 3 THEN NULL ELSE CAST(n AS BIGINT) END
        |    AS n_samples,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT)
        |    END AS peak,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(list_sum(list_transform(smp, x -> x*x)) AS BIGINT)
        |    END AS sum_sq,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(len(list_filter(smp, x -> x = 0)) AS BIGINT)
        |    END AS silence_n,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(len(list_filter(smp, x -> abs(x) = 32124)) AS BIGINT)
        |    END AS extreme_n,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    round(sqrt(CAST(list_sum(list_transform(smp, x -> x*x))
        |      AS DOUBLE) / n), 6) END AS rms
        |FROM ms ORDER BY doc_id""".stripMargin,
    // A-law twin of the q179 oracle: even-bit inversion (xor 85),
    // inverted sign polarity, segment-0 half-step — edit with
    // q200AlawFeatures (byte plants must match)
    "q200_alaw_features" ->
      """WITH md AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
        |    40 + doc_id % 20 AS n
        |  FROM documents),
        |mb AS (
        |  SELECT doc_id, v, n,
        |    [CASE WHEN v = 1 AND i >= 11 AND i <= 20 THEN 213
        |          WHEN v = 2 AND (i-1) % 16 = 0 THEN 42
        |          WHEN v = 2 AND (i-1) % 16 = 8 THEN 170
        |          ELSE (g*7 + (i-1)*13 + v*31) % 256 END
        |     for i in range(1, n + 1)] AS ub
        |  FROM md),
        |ms AS (
        |  SELECT doc_id, v, n,
        |    list_transform(ub, u ->
        |      CASE WHEN (xor(u, 85) & 112) = 0 THEN
        |        CASE WHEN (xor(u, 85) & 128) = 128
        |          THEN (xor(u, 85) & 15) * 16 + 8
        |          ELSE -((xor(u, 85) & 15) * 16 + 8) END
        |      ELSE
        |        CASE WHEN (xor(u, 85) & 128) = 128
        |          THEN ((xor(u, 85) & 15) * 16 + 264)
        |            * (1 << ((xor(u, 85) & 112) // 16 - 1))
        |          ELSE -(((xor(u, 85) & 15) * 16 + 264)
        |            * (1 << ((xor(u, 85) & 112) // 16 - 1))) END
        |      END) AS smp
        |  FROM mb)
        |SELECT doc_id,
        |  CASE WHEN v = 3 THEN NULL ELSE CAST(n AS BIGINT) END
        |    AS n_samples,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT)
        |    END AS peak,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(list_sum(list_transform(smp, x -> x*x)) AS BIGINT)
        |    END AS sum_sq,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(len(list_filter(smp, x -> abs(x) = 8)) AS BIGINT)
        |    END AS quiet_n,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    CAST(len(list_filter(smp, x -> abs(x) = 32256)) AS BIGINT)
        |    END AS extreme_n,
        |  CASE WHEN v = 3 THEN NULL ELSE
        |    round(sqrt(CAST(list_sum(list_transform(smp, x -> x*x))
        |      AS DOUBLE) / n), 6) END AS rms
        |FROM ms ORDER BY doc_id""".stripMargin,
    // IMA-ADPCM: per-block predictor + the GENERATED offset table
    // (reference decode of the fixed nibble pattern at predictor 0 —
    // decode is linear in the predictor below the clamp); edit with
    // q201AdpcmFeatures — mono rows accumulate the 17-entry offset
    // table; stereo rows (doc_id % 3 = 2) accumulate BOTH per-channel
    // 9-entry tables over their independent predictors; first/second
    // sample pin the L,R interleave (mono: p₀, p₀+off[1]; stereo:
    // predL₀, predR₀)
    "q201_adpcm_features" -> {
      val offVals = adpcmOffsets.zipWithIndex
        .map { case (o, t) => s"($t, $o)" }.mkString(", ")
      val offLVals = adpcmOffsetsL.zipWithIndex
        .map { case (o, t) => s"($t, $o)" }.mkString(", ")
      val offRVals = adpcmOffsetsR.zipWithIndex
        .map { case (o, t) => s"($t, $o)" }.mkString(", ")
      s"""WITH off(t, o) AS (SELECT * FROM (VALUES $offVals) v(a, b)),
         |offl(t, o) AS (SELECT * FROM (VALUES $offLVals) v(a, b)),
         |offr(t, o) AS (SELECT * FROM (VALUES $offRVals) v(a, b)),
         |d AS (
         |  SELECT doc_id, 1 + doc_id % 2 AS nb, doc_id % 7 = 6 AS bad,
         |    doc_id % 3 = 2 AS st
         |  FROM documents),
         |blk AS (
         |  SELECT doc_id, b, st,
         |    (doc_id*37 + b*101) % 4001 - 2000 AS p,
         |    (doc_id*53 + b*61) % 4001 - 2000 AS pr
         |  FROM d, range(2) t(b) WHERE b < nb AND NOT bad),
         |smp AS (
         |  SELECT doc_id, p + o AS s FROM blk, off WHERE NOT st
         |  UNION ALL SELECT doc_id, p + o FROM blk, offl WHERE st
         |  UNION ALL SELECT doc_id, pr + o FROM blk, offr WHERE st),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
         |    CAST(sum(s) AS BIGINT) AS sample_sum,
         |    CAST(sum(s*s) AS BIGINT) AS sum_sq,
         |    CAST(max(abs(s)) AS BIGINT) AS peak
         |  FROM smp GROUP BY 1),
         |fs AS (
         |  SELECT doc_id,
         |    CAST((doc_id*37) % 4001 - 2000 AS BIGINT) AS first_s,
         |    CAST(CASE WHEN st THEN (doc_id*53) % 4001 - 2000
         |      ELSE (doc_id*37) % 4001 - 2000 +
         |        (SELECT o FROM off WHERE t = 1) END AS BIGINT)
         |      AS second_s
         |  FROM d WHERE NOT bad)
         |SELECT d.doc_id, agg.n_samples, agg.sample_sum, agg.sum_sq,
         |  agg.peak, fs.first_s, fs.second_s
         |FROM d LEFT JOIN agg USING (doc_id)
         |  LEFT JOIN fs USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    // media census: expected (format, dims, bpp, rate, channels)
    // re-derived from the v-split — bmp 9x8x24, gray PNG 9x8x8, the
    // 72x64 grayscale JPEG, GIF 9x8 with a 7-bit table, the mm TIFF
    // 9x8x8; FLAC/MP3/ADTS rates and channel modes re-derive the
    // fixture's g-arithmetic through the same tables the sniff reads;
    // r20 legs: WebP dims/alpha (VP8 raw, VP8L packed-minus-one,
    // VP8X 24-bit-minus-one — all must land on the same g formulas),
    // Ogg opus/vorbis rate+channels, AVIF ispe dims + pixi depth
    // (8-bit / 10-bit / absent-defaults-24), padded MP3 behind the
    // forward scan; WAV and raw text must sniff to the all-null row
    // (edit with q202MediaCensus)
    "q202_media_census" ->
      """WITH d AS (SELECT doc_id, doc_id // 14 AS g, doc_id % 14 AS v
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN v = 0 THEN 'bmp' WHEN v = 1 THEN 'png'
        |       WHEN v = 2 THEN 'jpeg' WHEN v = 3 THEN 'gif'
        |       WHEN v = 4 THEN 'tiff' WHEN v = 7 THEN 'flac'
        |       WHEN v = 8 THEN 'mp3' WHEN v = 9 THEN 'aac'
        |       WHEN v = 10 THEN 'webp'
        |       WHEN v = 11 THEN
        |         CASE WHEN g % 2 = 0 THEN 'opus' ELSE 'vorbis' END
        |       WHEN v = 12 THEN 'avif'
        |       WHEN v = 13 THEN 'mp3' END AS fmt,
        |  CASE WHEN v = 2 THEN 72 WHEN v <= 4 THEN 9
        |       WHEN v = 10 THEN 16 + g % 7
        |       WHEN v = 12 THEN 20 + g % 9 END AS w,
        |  CASE WHEN v = 2 THEN 64 WHEN v <= 4 THEN 8
        |       WHEN v = 10 THEN 9 + g % 5
        |       WHEN v = 12 THEN 11 + g % 6 END AS h,
        |  CASE WHEN v = 0 THEN 24 WHEN v = 3 THEN 7
        |       WHEN v <= 4 THEN 8
        |       WHEN v = 10 THEN
        |         CASE WHEN g % 3 = 0 THEN 24 ELSE 24 + 8 * (g % 2) END
        |       WHEN v = 12 THEN
        |         CASE WHEN g % 3 = 1 THEN 30 ELSE 24 END END AS bpp,
        |  CASE WHEN v = 7 THEN 8000 + (g % 3) * 4000
        |       WHEN v IN (8, 13) THEN
        |         CASE g % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |              ELSE 32000 END
        |       WHEN v = 9 THEN
        |         CASE g % 3 WHEN 0 THEN 16000 WHEN 1 THEN 12000
        |              ELSE 11025 END
        |       WHEN v = 11 THEN 8000 * (1 + g % 3) END AS sample_rate,
        |  CASE WHEN v = 7 THEN 1 + g % 2
        |       WHEN v IN (8, 13) THEN
        |         CASE WHEN g % 2 = 0 THEN 2 ELSE 1 END
        |       WHEN v = 9 THEN 1 + g % 2
        |       WHEN v = 11 THEN 1 + (g // 2) % 2 END AS channels
        |FROM d ORDER BY doc_id""".stripMargin,
    // mojibake repair: expected repaired strings + changed flags
    // re-derived via chr() code points (233 e-acute, 239 i-diaeresis,
    // 8220/8221 = the repaired smart quotes — v4's CP1252 damage and
    // v5's genuine quotes both land on the same clean string, but
    // only v4 counts as changed); edit with q203MojibakeRepair
    "q203_mojibake_repair" ->
      """WITH d AS (
        |  SELECT doc_id, text, doc_id // 6 AS g, doc_id % 6 AS v
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN v = 0 THEN
        |      'caf' || chr(233) || ' dup ' || CAST(g AS VARCHAR)
        |    WHEN v = 1 THEN
        |      'caf' || chr(233) || ' dup ' || CAST(g AS VARCHAR)
        |    WHEN v = 2 THEN
        |      'na' || chr(239) || 've dup ' || CAST(g AS VARCHAR)
        |    WHEN v IN (4, 5) THEN
        |      chr(8220) || 'quoted' || chr(8221) || ' dup '
        |        || CAST(g AS VARCHAR)
        |    ELSE text END AS fixed,
        |  v IN (1, 2, 4) AS changed
        |FROM d ORDER BY doc_id""".stripMargin,
    // deterministic HLL: integer register sketch (md5-based hash,
    // bin()-length ranks, exact scaled harmonic sum) + the one
    // float division both engines round identically; edit with
    // CorpusOps.hllDistinctGate (p = 8 constants: 256 registers,
    // 2^26 zero term, alpha*m^2*2^26 numerator)
    "q204_hll_distinct" ->
      """WITH h AS (
        |  SELECT event_type AS grp,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(
        |        substring(md5(CAST(event_id AS VARCHAR)), 1, 8), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1
        |          AS BIGINT))),
        |      (acc, x) -> acc * 16 + x) AS hv
        |  FROM events WHERE event_id IS NOT NULL),
        |r AS (SELECT grp, hv % 256 AS reg, hv // 256 AS w FROM h),
        |rr AS (SELECT grp, reg,
        |    MAX(CASE WHEN w = 0 THEN 25
        |        ELSE 25 - length(bin(w)) END) AS mr
        |  FROM r GROUP BY 1, 2),
        |sk AS (SELECT grp,
        |    CAST(count(*) AS BIGINT) AS present_regs,
        |    CAST(max(mr) AS BIGINT) AS max_rank,
        |    CAST(sum(mr) AS BIGINT) AS sum_rank,
        |    CAST(sum(CAST(1 AS BIGINT) << (26 - mr)) AS BIGINT)
        |      AS pow_present
        |  FROM rr GROUP BY 1),
        |e AS (SELECT event_type AS grp,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
        |  FROM events WHERE event_id IS NOT NULL GROUP BY 1),
        |j AS (SELECT sk.grp, n_exact, present_regs, max_rank,
        |    sum_rank,
        |    pow_present + (256 - present_regs)
        |      * (CAST(1 AS BIGINT) << 26) AS s_scaled
        |  FROM sk JOIN e USING (grp))
        |SELECT grp AS event_type, n_exact, present_regs, max_rank,
        |  sum_rank, s_scaled,
        |  round((0.7213 / (1.0 + 1.079 / 256.0))
        |    * 4398046511104.0 / s_scaled, 4) AS hll_est,
        |  abs((0.7213 / (1.0 + 1.079 / 256.0))
        |    * 4398046511104.0 / s_scaled - n_exact)
        |    <= 0.2 * n_exact AS hll_ok
        |FROM j ORDER BY event_type""".stripMargin,
    // merged HLL: the q204 register chain re-grouped — per-type
    // registers, elementwise-max merge, one global row; the exact
    // side de-duplicates the cross-type user-hour overlap (edit with
    // CorpusOps.hllMergedGate)
    "q205_hll_merged" ->
      """WITH k AS (
        |  SELECT event_type AS grp,
        |    user_id * 1000000 + CAST(epoch(ts) AS BIGINT) // 3600
        |      AS uh
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (
        |  SELECT grp,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(
        |        substring(md5(CAST(uh AS VARCHAR)), 1, 8), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1
        |          AS BIGINT))),
        |      (acc, x) -> acc * 16 + x) AS hv
        |  FROM k),
        |r AS (SELECT grp, hv % 256 AS reg, hv // 256 AS w FROM h),
        |rr AS (SELECT grp, reg,
        |    MAX(CASE WHEN w = 0 THEN 25
        |        ELSE 25 - length(bin(w)) END) AS mr
        |  FROM r GROUP BY 1, 2),
        |mm AS (SELECT reg, MAX(mr) AS mr FROM rr GROUP BY 1),
        |sk AS (SELECT
        |    CAST(count(*) AS BIGINT) AS present_regs,
        |    CAST(max(mr) AS BIGINT) AS max_rank,
        |    CAST(sum(mr) AS BIGINT) AS sum_rank,
        |    CAST(sum(CAST(1 AS BIGINT) << (26 - mr)) AS BIGINT)
        |      AS pow_present
        |  FROM mm),
        |e AS (SELECT CAST(count(DISTINCT uh) AS BIGINT) AS n_exact
        |  FROM k),
        |j AS (SELECT n_exact, present_regs, max_rank, sum_rank,
        |    pow_present + (256 - present_regs)
        |      * (CAST(1 AS BIGINT) << 26) AS s_scaled
        |  FROM sk, e)
        |SELECT n_exact, present_regs, max_rank, sum_rank, s_scaled,
        |  round((0.7213 / (1.0 + 1.079 / 256.0))
        |    * 4398046511104.0 / s_scaled, 4) AS hll_est,
        |  abs((0.7213 / (1.0 + 1.079 / 256.0))
        |    * 4398046511104.0 / s_scaled - n_exact)
        |    <= 0.2 * n_exact AS hll_ok
        |FROM j""".stripMargin,
    // small-range HLL: the q204 register chain over a two-leg union
    // (per-type user_id = linear regime, '__all' event_id = raw);
    // regime picked on the identical-double raw estimate, ln() only
    // inside wide-margin booleans (edit with
    // CorpusOps.hllSmallRangeGate)
    "q206_hll_small_range" ->
      """WITH src AS (
        |  SELECT event_type AS grp, user_id AS kv FROM events
        |  WHERE user_id IS NOT NULL
        |  UNION ALL
        |  SELECT '__all' AS grp, event_id AS kv FROM events
        |  WHERE event_id IS NOT NULL),
        |h AS (
        |  SELECT grp,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(
        |        substring(md5(CAST(kv AS VARCHAR)), 1, 8), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1
        |          AS BIGINT))),
        |      (acc, x) -> acc * 16 + x) AS hv
        |  FROM src),
        |r AS (SELECT grp, hv % 256 AS reg, hv // 256 AS w FROM h),
        |rr AS (SELECT grp, reg,
        |    MAX(CASE WHEN w = 0 THEN 25
        |        ELSE 25 - length(bin(w)) END) AS mr
        |  FROM r GROUP BY 1, 2),
        |sk AS (SELECT grp,
        |    CAST(count(*) AS BIGINT) AS present_regs,
        |    CAST(sum(CAST(1 AS BIGINT) << (26 - mr)) AS BIGINT)
        |      AS pow_present
        |  FROM rr GROUP BY 1),
        |e AS (SELECT grp,
        |    CAST(count(DISTINCT kv) AS BIGINT) AS n_exact
        |  FROM src GROUP BY 1),
        |j AS (SELECT sk.grp, n_exact, present_regs,
        |    256 - present_regs AS zero_regs,
        |    (0.7213 / (1.0 + 1.079 / 256.0)) * 4398046511104.0
        |      / (pow_present + (256 - present_regs)
        |         * (CAST(1 AS BIGINT) << 26)) AS raw_est
        |  FROM sk JOIN e USING (grp))
        |SELECT grp, n_exact, present_regs, zero_regs,
        |  CASE WHEN raw_est <= 640.0 AND zero_regs > 0
        |    THEN 'linear' ELSE 'raw' END AS regime,
        |  raw_est > 1.2 * n_exact AS raw_high,
        |  CASE WHEN raw_est <= 640.0 AND zero_regs > 0
        |    THEN abs(256.0 * ln(256.0 / zero_regs) - n_exact)
        |      <= 0.2 * n_exact
        |    ELSE abs(raw_est - n_exact) <= 0.2 * n_exact END
        |    AS est_ok
        |FROM j ORDER BY grp""".stripMargin,
    // the cross-modal curation manifest: text + image-dup + audio
    // signals composed under ONE verdict — shares imagePhashCtes and
    // audioFeatureCtes verbatim with q133/q137; edit all three
    // together
    "q140_curation_manifest" ->
      s"""WITH $imagePhashCtes,
         |$audioFeatureCtes,
         |t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |sig AS (
         |  SELECT t.doc_id, t.n_tokens,
         |    t.n_tokens BETWEEN 5 AND 5000 AS ok_text,
         |    coalesce(ib.n_dups, 0) > 0
         |      AND ib.best_partner < t.doc_id AS is_image_dup,
         |    coalesce(
         |      CASE WHEN a.v <> 3 THEN
         |        len(list_filter(a.smp,
         |          x -> x = 32767 OR x = -32768)) = 0 END,
         |      false) AS ok_audio
         |  FROM t
         |  LEFT JOIN ibest ib USING (doc_id)
         |  LEFT JOIN af a USING (doc_id))
         |SELECT doc_id, n_tokens, ok_text, is_image_dup, ok_audio,
         |  ok_text AND NOT is_image_dup AND ok_audio AS include
         |FROM sig ORDER BY doc_id""".stripMargin,
    "q107_top_ngrams" ->
      """WITH t AS (
        |  SELECT lang, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT lang,
        |    unnest([array_to_string(w[i:i+2], ' ')
        |            for i in range(1, len(w)-1)]) AS gram
        |  FROM t WHERE len(w) >= 3),
        |c AS (SELECT lang, gram, count(*) AS n FROM g GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, gram, n, row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, gram ASC) AS rank
        |  FROM c)
        |SELECT lang, rank, gram, n FROM r WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,
    // exact-substring span dedup: 8-token rolling windows, global
    // occurrence count, gaps-and-islands span merge, excised-text md5
    // — mirrors CorpusOps.substringDedup stage for stage
    "q142_substring_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |win AS (
        |  SELECT doc_id,
        |    unnest([i for i in range(1, len(w) - 6)]) AS pos,
        |    unnest([substr(md5(array_to_string(w[i:i+7], chr(31))), 1, 16)
        |            for i in range(1, len(w) - 6)]) AS h
        |  FROM tok WHERE len(w) >= 8),
        |wc AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
        |  FROM win),
        |cov AS (SELECT DISTINCT doc_id, p FROM (
        |  SELECT doc_id, unnest([pos + k for k in range(0, 8)]) AS p
        |  FROM wc WHERE cnt >= 2)),
        |sp AS (
        |  SELECT doc_id, count(*) AS dup_tokens,
        |    count(DISTINCT p - rn) AS n_spans
        |  FROM (SELECT doc_id, p, row_number() OVER (
        |          PARTITION BY doc_id ORDER BY p) AS rn FROM cov)
        |  GROUP BY doc_id),
        |tks AS (
        |  SELECT doc_id, unnest(w) AS tk,
        |    unnest([i for i in range(1, len(w) + 1)]) AS pos
        |  FROM tok),
        |cl AS (
        |  SELECT t.doc_id,
        |    md5(coalesce(string_agg(CASE WHEN c.p IS NULL THEN t.tk END,
        |      ' ' ORDER BY t.pos), '')) AS clean_hash
        |  FROM tks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.p
        |  GROUP BY t.doc_id)
        |SELECT k.doc_id,
        |  CAST(len(k.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
        |  cl.clean_hash
        |FROM tok k LEFT JOIN sp s USING (doc_id) LEFT JOIN cl USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin,
    "q143_pagerank" -> Graph.q143OracleSql(),
    // static over-unroll + least-of-last-two gates the dynamically
    // converging warm-start loop: past cycle entry every consecutive
    // level pair is the same {x, y} (see Graph.q172OracleSql)
    "q172_pagerank_refresh" -> Graph.q172OracleSql(),
    // the standing rank index answers exactly as the inline refresh
    // lifecycle — q172's oracle verbatim (the q98/q99 pattern)
    "q175_rank_index" -> Graph.q172OracleSql(),
    // static over-unroll + least-of-last-two replays the converging
    // warm-started LPA (see Graph.q178OracleSql)
    "q178_labelprop_refresh" -> Graph.q178OracleSql(),
    // temperature mixing plan: τ=1/2 via sqrt (correctly rounded in
    // both engines), then integer floor-divisions; windowed sums CAST
    // — DuckDB sums BIGINT into HUGEINT (the q93 lesson)
    "q144_source_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS weight_q
        |  FROM c),
        |t AS (
        |  SELECT source, n_docs, n_tokens, weight_q,
        |    CAST(sum(weight_q) OVER () AS BIGINT) AS tw
        |  FROM w)
        |SELECT source, n_docs, n_tokens, weight_q,
        |  (1000000 * weight_q) // tw AS alloc_tokens,
        |  (((1000000 * weight_q) // tw) * 1000000) // n_tokens
        |    AS epochs_micro
        |FROM t ORDER BY source""".stripMargin,
    // DSIR selection: hashed-unigram buckets via the shared hexFold
    // md5 fragment (keep in sync with TextOps.hash7), integer count
    // ratios, top-100 by score
    "q146_dsir_select" -> (
      s"""WITH tok AS (
         |  SELECT doc_id, doc_id % 10 < 2 AS is_target,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS wrd
         |  FROM documents),
         |tb AS (
         |  SELECT doc_id, is_target,
         |    ${LlmQueries.hexFold.format("wrd")} % 1024 AS b
         |  FROM tok),
         |bc AS (
         |  SELECT b,
         |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc,
         |    sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS rc
         |  FROM tb GROUP BY b),
         |r AS (SELECT b, ((tc + 1) * 1000000) // (rc + 1) AS r FROM bc),
         |db AS (SELECT doc_id, b, count(*) AS c FROM tb
         |       WHERE NOT is_target GROUP BY 1, 2),
         |s AS (
         |  SELECT doc_id, CAST(sum(c * r.r) AS BIGINT) AS score,
         |    CAST(sum(c) AS BIGINT) AS n_tokens
         |  FROM db JOIN r USING (b) GROUP BY doc_id)
         |SELECT doc_id, score, n_tokens FROM s
         |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin),
    // mix-plan EXECUTOR: q144's plan CTEs, then the md5-shuffled
    // per-source schedule prefix (single window here == the engine's
    // two-level prefix sum) drives the per-doc copy counts; window
    // sums CAST (HUGEINT, the q93 lesson)
    "q147_mix_execute" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS weight_q
        |  FROM c),
        |t AS (
        |  SELECT source, n_tokens, weight_q,
        |    CAST(sum(weight_q) OVER () AS BIGINT) AS tw
        |  FROM w),
        |p AS (
        |  SELECT source, n_tokens,
        |    (1000000 * weight_q) // tw AS alloc_tokens
        |  FROM t),
        |d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+'))
        |      AS BIGINT) AS toks
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, toks,
        |    CAST(coalesce(sum(toks) OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS sched_prefix
        |  FROM d)
        |SELECT o.source, o.doc_id, o.toks, o.sched_prefix,
        |  CAST((p.alloc_tokens // p.n_tokens) +
        |    (CASE WHEN o.sched_prefix < (p.alloc_tokens % p.n_tokens)
        |     THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
        |FROM o JOIN p USING (source)
        |WHERE (p.alloc_tokens // p.n_tokens) +
        |  (CASE WHEN o.sched_prefix < (p.alloc_tokens % p.n_tokens)
        |   THEN 1 ELSE 0 END) > 0
        |ORDER BY o.source, o.doc_id""".stripMargin,
    "q148_label_prop" -> Graph.q148OracleSql(),
    // streaming session_window replay ≡ batch gap sessionization —
    // shares q80's oracle verbatim (the q100↔q79 pattern)
    "q152_streaming_sessions_replay" ->
      Temporal.oracle("q80_gap_sessions"),
    // mix→pack composition (the chain is factored as mixPackCtes —
    // shared with q173's shard grouping, edit together): q147's CTEs
    // + generate_series copy expansion + the packing floor-divs; the
    // single window mirrors the engine's two-level prefix sum in
    // (copy, md5) schedule order
    "q149_mix_pack" ->
      s"""$mixPackCtes
         |SELECT source, doc_id, copy, toks, tok_start,
         |  tok_start // 512 AS seq_start,
         |  (tok_start + greatest(toks, 1) - 1) // 512 AS seq_end,
         |  ((tok_start + greatest(toks, 1) - 1) // 512)
         |    - (tok_start // 512) + 1 AS n_seqs,
         |  tok_start % 512 AS seq_offset
         |FROM s ORDER BY source, doc_id, copy""".stripMargin,
    // shard-writer read-back: q149's chain + per-(source, shard)
    // grouping with the order-canonical content md5 (string_agg
    // ORDER BY doc_id, copy == the engine's array_sort order —
    // (doc_id, copy) is unique within a shard)
    "q173_shard_writer" ->
      s"""$mixPackCtes,
         |pk AS (
         |  SELECT source, doc_id, copy, toks, tok_start,
         |    tok_start // 512 AS seq_start,
         |    (tok_start + greatest(toks, 1) - 1) // 512 AS seq_end,
         |    tok_start % 512 AS seq_offset
         |  FROM s)
         |SELECT source,
         |  CAST(seq_start // 16 AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_instances,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  CAST(min(seq_start) AS BIGINT) AS first_seq,
         |  CAST(max(seq_end) AS BIGINT) AS last_seq,
         |  md5(string_agg(
         |    CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)
         |      || ':' || CAST(tok_start AS VARCHAR) || ':'
         |      || CAST(toks AS VARCHAR) || ':'
         |      || CAST(seq_offset AS VARCHAR),
         |    ',' ORDER BY doc_id, copy)) AS content_hash
         |FROM pk GROUP BY source, seq_start // 16
         |ORDER BY source, shard_id""".stripMargin,
    // integer-exact Okapi BM25: idf in micro-units, k1/b in
    // milli-units, floor divs on non-negative operands throughout;
    // df/tf restricted to query terms; top-10 per query. The indexed
    // twin (q154: bootstrap + append = the full corpus) is bit-equal
    // and SHARES this SQL — the q98/q92 pattern.
    "q150_bm25_topk" -> bm25OracleSql,
    "q154_bm25_indexed" -> bm25OracleSql,
    "q157_phrase_search" -> phraseOracleSql,
    "q164_retrieval_eval" -> bm25EvalOracleSql,
    "q165_phrase_snippets" -> snippetOracleSql,
    "q166_fuzzy_vocab" -> fuzzyOracleSql,
    "q167_proximity_search" -> proxOracleSql,
    "q168_proximity_ranked" -> proxRankedOracleSql,
    // the refreshed ledger folds to exactly the gen2 aggregation —
    // q111's sum-mergeable fragments (edit together) over q153's
    // planting CASE
    "q163_stats_refresh" ->
      """WITH corpus AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 4),
        |b AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> list_contains(['the','a','of','and'], x))) AS BIGINT)
        |      AS n_stop
        |  FROM corpus)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  round(sum(n_stop) / sum(n_tokens), 6) AS stop_ratio,
        |  CAST(sum(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // the refreshed index answers as one bootstrapped fresh on gen2 —
    // same inline ranker, corpus CTE = q153's planting CASE verbatim
    // the maintenance-policy loop's live set: every batch's rapid-
    // retraction slice is taken down in-batch, so the final index
    // answers as the inline ranker over the never-retracted corpus
    "q190_streaming_maintenance" -> bm25OracleSqlOver(
      "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 6"),
    // the live corpus after q187's narrow takedown — partial
    // compaction is semantics-free, so the index answers as the
    // inline ranker over the survivors
    "q187_partial_compact" -> bm25OracleSqlOver(
      "SELECT doc_id, text FROM documents " +
        "WHERE doc_id % 5 = 0 AND doc_id % 500 <> 0"),
    "q159_index_refresh" -> bm25OracleSqlOver(
      """SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 4""".stripMargin),
    // systematic sampler: single-window prefix in the oracle (the
    // engine's two-level shard split composes to the same order
    // because hex-prefix order IS md5-string order — the q147
    // argument); stride/ceil arithmetic mirrored term for term
    "q158_systematic_sample" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS sk
        |  FROM documents),
        |st AS (SELECT CAST(sum(toks) AS BIGINT) // 100 AS s FROM tok),
        |pre AS (
        |  SELECT doc_id, toks,
        |    coalesce(CAST(sum(toks) OVER (ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS prefix
        |  FROM tok)
        |SELECT doc_id, toks, prefix,
        |  least(100, (prefix + toks + s - 1) // s)
        |    - least(100, (prefix + s - 1) // s) AS n_picked
        |FROM pre, st ORDER BY doc_id""".stripMargin)

  /** Generated inline positional-phrase oracle over the full corpus
    * (the planted batch in q157 is inserted AND deleted, so the index
    * must answer as never-planted): zipped-unnest positions (the q142
    * idiom, 0-based like the engine's posexplode), one CTE per phrase
    * chaining t₀'s positions through (doc_id, pos + j) equi-joins —
    * mirrors [[graft.sources.Bm25Index.phraseSearch]], edit together.
    */
  private lazy val phraseOracleSql: String = {
    val per = phraseQueries.zipWithIndex.map { case ((qid, ptext), i) =>
      val ts = ptext.trim.split("\\s+")
      val joins = ts.indices.drop(1).map { j =>
        s"  JOIN tp t$j ON t$j.doc_id = t0.doc_id AND " +
          s"t$j.pos = t0.pos + $j AND t$j.term = '${ts(j)}'"
      }.mkString("\n")
      s"""m$i AS (
         |  SELECT '$qid' AS query_id, t0.doc_id,
         |    count(*) AS n_hits, CAST(min(t0.pos) AS BIGINT) AS first_pos
         |  FROM tp t0
         |$joins
         |  WHERE t0.term = '${ts(0)}'
         |  GROUP BY 1, 2)""".stripMargin
    }
    val union = per.indices.map(i => s"SELECT * FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |tp AS (
       |  SELECT doc_id, unnest(w) AS term,
       |    unnest([i for i in range(0, len(w))]) AS pos
       |  FROM tok),
       |${per.mkString(",\n")}
       |$union
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** One proximity-tuple CTE per query (the [[phraseOracleSql]]
    * pattern with range predicates): t₀ anchors, each later DISTINCT
    * term joins on doc_id with |posⱼ − pos₀| ≤ win−1, the exact span
    * test lands in WHERE — mirrors
    * [[graft.sources.Bm25Index.proximitySearch]], edit together.
    * `body` renders each per-query select list/grouping (full counts
    * for q167, presence-only for q168's boost join).
    */
  private def proxTupleCte(name: String, qid: String, terms: Seq[String],
                           win: Int, select: String): String = {
    val ts = terms.distinct
    val joins = ts.indices.drop(1).map { j =>
      s"  JOIN tpp t$j ON t$j.doc_id = t0.doc_id AND " +
        s"t$j.term = '${ts(j)}' AND abs(t$j.pos - t0.pos) <= ${win - 1}"
    }.mkString("\n")
    val ps = ts.indices.map(j => s"t$j.pos").mkString(", ")
    // greatest/least are variadic ≥ 2 args; a single-term query has
    // span 0 by construction, so the predicate drops entirely
    val spanPred = if (ts.length == 1) ""
      else s"\n    AND greatest($ps) - least($ps) <= ${win - 1}"
    s"""$name AS (
       |  SELECT '$qid' AS query_id, t0.doc_id$select
       |  FROM tpp t0
       |$joins
       |  WHERE t0.term = '${ts(0)}'$spanPred
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The window-start expression for a query's distinct-term tuple. */
  private def proxStart(nTerms: Int): String =
    if (nTerms == 1) "t0.pos"
    else "least(" + (0 until nTerms).map(j => s"t$j.pos")
      .mkString(", ") + ")"

  /** The positional-token CTEs shared by the proximity oracles (named
    * apart from [[bm25RankCtesOver]]'s `tok`, which q168 also uses).
    * Lazy for the oracle-map object-init ordering (the centCtes
    * lesson: the map's initializer forces the lazy oracle strings
    * before later-declared plain vals assign). */
  private lazy val proxTokCtes =
    """tokp AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |tpp AS (
      |  SELECT doc_id, unnest(w) AS term,
      |    unnest([i for i in range(0, len(w))]) AS pos
      |  FROM tokp)""".stripMargin

  /** q167's generated oracle: per-query proximity tuple counts +
    * earliest window start over the full corpus (bootstrap + append =
    * the full corpus, so the index answers as the inline positional
    * SQL). */
  private lazy val proxOracleSql: String = {
    val per = proxQueries.zipWithIndex.map { case ((qid, qtext), i) =>
      val m = qtext.trim.split("\\s+").distinct.length
      proxTupleCte(s"m$i", qid, qtext.trim.split("\\s+").toSeq, ProxWin,
        select = s""",
             |    count(*) AS n_windows,
             |    CAST(min(${proxStart(m)}) AS BIGINT) AS first_start"""
          .stripMargin)
    }
    val union = per.indices.map(i => s"SELECT * FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH $proxTokCtes,
       |${per.mkString(",\n")}
       |$union
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** q168's generated oracle: the shared BM25 ranking chain up to `sc`
    * ([[bm25RankCtesOver]] — q150/q154's arithmetic verbatim), plus
    * per-query window-presence CTEs, the flat boost added BEFORE the
    * top-k cut, and the re-rank — mirrors
    * [[graft.sources.Bm25Index.searchWithProximity]], edit together.
    */
  private lazy val proxRankedOracleSql: String = {
    val per = bm25Queries.zipWithIndex.map { case ((qid, qtext), i) =>
      proxTupleCte(s"w$i", qid, qtext.trim.split("\\s+").toSeq, ProxWin,
        select = "")
    }
    val union = per.indices.map(i => s"SELECT * FROM w$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bm25RankCtesOver("SELECT doc_id, text FROM documents")},
       |$proxTokCtes,
       |${per.mkString(",\n")},
       |px AS ($union),
       |sc2 AS (
       |  SELECT sc.query_id, sc.doc_id,
       |    sc.score + CASE WHEN px.doc_id IS NOT NULL
       |      THEN $ProxBoost ELSE 0 END AS score,
       |    sc.matched
       |  FROM sc LEFT JOIN px
       |    ON sc.query_id = px.query_id AND sc.doc_id = px.doc_id),
       |r2 AS (
       |  SELECT query_id, doc_id, score, matched,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM sc2)
       |SELECT query_id, doc_id, score,
       |  CAST(matched AS BIGINT) AS matched, CAST(rank AS BIGINT) AS rank
       |FROM r2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q165's generated oracle: the phrase chain ([[phraseOracleSql]]'s
    * per-phrase CTEs — edit together) joined back to the token lists,
    * ±3-token window cut with clamped 1-based list slicing.
    */
  private lazy val snippetOracleSql: String = {
    val per = phraseQueries.zipWithIndex.map { case ((qid, ptext), i) =>
      val ts = ptext.trim.split("\\s+")
      val joins = ts.indices.drop(1).map { j =>
        s"  JOIN tp t$j ON t$j.doc_id = t0.doc_id AND " +
          s"t$j.pos = t0.pos + $j AND t$j.term = '${ts(j)}'"
      }.mkString("\n")
      s"""m$i AS (
         |  SELECT '$qid' AS query_id, t0.doc_id,
         |    count(*) AS n_hits, CAST(min(t0.pos) AS BIGINT) AS first_pos
         |  FROM tp t0
         |$joins
         |  WHERE t0.term = '${ts(0)}'
         |  GROUP BY 1, 2),
         |s$i AS (
         |  SELECT m.query_id, m.doc_id, m.n_hits, m.first_pos,
         |    array_to_string(
         |      k.w[CAST(greatest(1, m.first_pos + 1 - 3) AS BIGINT):
         |          CAST(least(len(k.w), m.first_pos + ${ts.length} + 3)
         |            AS BIGINT)], ' ') AS snippet
         |  FROM m$i m JOIN tok k USING (doc_id))""".stripMargin
    }
    val union = per.indices.map(i => s"SELECT * FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |tp AS (
       |  SELECT doc_id, unnest(w) AS term,
       |    unnest([i for i in range(0, len(w))]) AS pos
       |  FROM tok),
       |${per.mkString(",\n")}
       |$union
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** q166's generated oracle: the oracle side can afford the small
    * vocab × query Levenshtein scan (the query batch is bounded) —
    * the ENGINE may not, which is the point of the deletion index.
    */
  private lazy val fuzzyOracleSql: String = {
    val vals = fuzzyQueries
      .map { case (id, t) => s"('$id', '$t')" }.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |vocab AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM tok
       |  WHERE length(term) > 0 GROUP BY 1),
       |q(query_id, qterm) AS (VALUES $vals)
       |SELECT q.query_id, v.term, v.df,
       |  CAST(levenshtein(v.term, q.qterm) AS BIGINT) AS dist
       |FROM vocab v JOIN q ON levenshtein(v.term, q.qterm) <= 1
       |ORDER BY query_id, term""".stripMargin
  }

  // lazy: referenced from the oracle map's initializer above
  private lazy val bm25OracleSql: String =
    bm25OracleSqlOver("SELECT doc_id, text FROM documents")

  /** Inline BM25 ranker oracle parameterized by the corpus CTE body —
    * q150/q154 rank the documents table itself; q159 ranks generation
    * 2 (q153's planting CASE shared verbatim), because a correctly
    * refreshed index answers exactly as one bootstrapped on gen2. The
    * query VALUES are generated from [[bm25Queries]] — edit together
    * with [[graft.operators.CorpusOps.bm25Rank]].
    */
  private def bm25OracleSqlOver(corpusSql: String): String =
    s"""WITH ${bm25RankCtesOver(corpusSql)}
        |SELECT query_id, doc_id, score,
        |  CAST(matched AS BIGINT) AS matched, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The full ranking chain up to the `r` (ranked) CTE — shared by the
    * top-k oracles above and q164's retrieval-eval oracle (which
    * appends relevance/metric CTEs); mirrors
    * [[graft.CorpusOps.bm25TopK]]/`bm25Rank`, edit together.
    */
  private def bm25RankCtesOver(corpusSql: String): String = {
    val vals = bm25Queries
      .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
    s"""corpus AS ($corpusSql),
        |q(query_id, qtext) AS (VALUES $vals),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(string_split_regex(trim(qtext), '\\s+')) AS term
        |  FROM q),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS term
        |  FROM corpus),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |av AS (
        |  SELECT count(*) AS n,
        |    (CAST(sum(dl) AS BIGINT) * 1000) // count(*) AS avgdl_m
        |  FROM dl),
        |hits AS (
        |  SELECT t.doc_id, qt.query_id, qt.term
        |  FROM tok t JOIN qt ON t.term = qt.term),
        |idf AS (
        |  SELECT term,
        |    ((2 * ((SELECT n FROM av) - count(DISTINCT doc_id)) + 1)
        |      * 1000000) // (2 * count(DISTINCT doc_id) + 1) AS idf_u
        |  FROM hits GROUP BY term),
        |tf AS (
        |  SELECT query_id, doc_id, term, count(*) AS tf
        |  FROM hits GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT tf.query_id, tf.doc_id,
        |    CAST(sum((idf.idf_u * tf.tf * 2200) //
        |      (tf.tf * 1000 + (1200 * ((1000 - 750) +
        |        (750 * dl.dl * 1000) // (SELECT avgdl_m FROM av)))
        |        // 1000)) AS BIGINT) AS score,
        |    count(*) AS matched
        |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, score, matched,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM sc)""".stripMargin
  }

  /** q164: P@10 / recall / MRR of the ranked top-10 against the
    * conjunctive-containment relevance judgment, all in exact integer
    * micro-units — appends relevance + metric CTEs to the shared
    * ranking chain; mirrors [[graft.CorpusOps.bm25Eval]], edit
    * together.
    */
  private lazy val bm25EvalOracleSql: String =
    s"""WITH ${bm25RankCtesOver("SELECT doc_id, text FROM documents")},
       |nq AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
       |relc AS (
       |  SELECT m.query_id, m.doc_id
       |  FROM (SELECT DISTINCT query_id, doc_id, term FROM hits) m
       |  JOIN nq USING (query_id)
       |  GROUP BY m.query_id, m.doc_id, nq.n_terms
       |  HAVING count(*) = nq.n_terms),
       |rs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |       FROM relc GROUP BY 1),
       |hs AS (
       |  SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
       |    CAST(min(r.rank) AS BIGINT) AS first_rel
       |  FROM r JOIN relc USING (query_id, doc_id)
       |  WHERE r.rank <= 10 GROUP BY 1)
       |SELECT q.query_id,
       |  coalesce(rs.n_rel, 0) AS n_rel,
       |  coalesce(hs.hits, 0) AS hits,
       |  (coalesce(hs.hits, 0) * 1000000) // 10 AS p_at_k_micro,
       |  CASE WHEN coalesce(rs.n_rel, 0) > 0
       |       THEN (coalesce(hs.hits, 0) * 1000000) // rs.n_rel
       |       ELSE 0 END AS recall_micro,
       |  CASE WHEN hs.first_rel IS NOT NULL
       |       THEN 1000000 // hs.first_rel ELSE 0 END AS mrr_micro
       |FROM (SELECT DISTINCT query_id FROM q) q
       |LEFT JOIN rs USING (query_id) LEFT JOIN hs USING (query_id)
       |ORDER BY 1""".stripMargin
}
