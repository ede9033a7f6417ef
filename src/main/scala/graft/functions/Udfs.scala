package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** UDF wrappers for the Parse kernel's irreducible multi-strategy parsers
  * (SURVEY §2.10): pure String => Option functions, so null-in/null-out is
  * automatic. Year-dependent parsers are factories taking the asOfYear the
  * job pins (never wall clock).
  *
  * Everything that CAN be a built-in Column expression lives in [[Cleaners]]
  * instead — these UDFs are the short list the reference's control flow
  * genuinely requires, kept out of hot scan paths where possible.
  */
object Udfs {

  val reExtractPrice: UserDefinedFunction = udf(Parse.reExtractPrice _)
  val findLandSize: UserDefinedFunction = udf(Parse.findLandSize _)
  val findBuildSize: UserDefinedFunction = udf(Parse.findBuildSize _)
  val landsizeExtractor: UserDefinedFunction = udf(Parse.landsizeExtractor _)
  val buildsizeExtractor: UserDefinedFunction = udf(Parse.buildsizeExtractor _)
  val getUploadedDate: UserDefinedFunction = udf(Parse.getUploadedDate _)
  val findBedroomsInDescription: UserDefinedFunction =
    udf(Parse.findBedroomsInDescription _)
  val findLocationInDescription: UserDefinedFunction =
    udf(Parse.findLocationInDescription _)

  def countLeaseYears(asOfYear: Int): UserDefinedFunction =
    udf((s: String) => Parse.countLeaseYears(s, asOfYear))
  def findLeaseYears(asOfYear: Int): UserDefinedFunction =
    udf((s: String) => Parse.findLeaseYears(s, asOfYear))
  def searchLeaseholdYears(asOfYear: Int): UserDefinedFunction =
    udf((s: String) => Parse.searchLeaseholdYears(s, asOfYear))
  def leaseholdYearsFinders(asOfYear: Int): UserDefinedFunction =
    udf((s: String) => Parse.leaseholdYearsFinders(s, asOfYear))
  def getLeaseYears(asOfYear: Int): UserDefinedFunction =
    udf((s: String) => Parse.getLeaseYears(s, asOfYear).map(_._1))
  val recalculatePriceByLandSize: UserDefinedFunction =
    udf((t: String, p: java.lang.Long, l: java.lang.Long) =>
      if (p == null || l == null) None
      else Parse.recalculatePriceByLandSize(t, p, l))
  def ubudFindLeaseholdYears(asOfYear: Int): UserDefinedFunction =
    udf((s: String) => Parse.ubudFindLeaseholdYears(s, asOfYear))

  /** WAV (RIFF/WAVE) header decode over a binary payload — irreducible
    * like the parsers above: binary chunk-walking has no built-in Column
    * expression. Applied only to audio-typed rows (never a hot scan
    * path); the kernel is [[graft.Multimodal.decodeWavHeader]].
    */
  val decodeWav: UserDefinedFunction =
    udf(graft.Multimodal.decodeWavHeader _)

  /** PNG/BMP header decode over a binary payload — the image twin of
    * [[decodeWav]]; the kernel is [[graft.Multimodal.decodeImageHeader]].
    */
  val decodeImg: UserDefinedFunction =
    udf(graft.Multimodal.decodeImageHeader _)

  /** MP4 (ISO BMFF) header decode over a binary payload — the video
    * triplet completer; the kernel is [[graft.Multimodal.decodeMp4Header]].
    */
  val decodeMp4: UserDefinedFunction =
    udf(graft.Multimodal.decodeMp4Header _)

  /** Compressed-audio census sniff (FLAC → MP3 → ADTS AAC), the audio
    * sibling of [[decodeImg]]'s container sniff — header-only honest
    * labels; the kernel is [[graft.Multimodal.decodeAudioHeader]].
    */
  val decodeAudio: UserDefinedFunction =
    udf(graft.Multimodal.decodeAudioHeader _)

  /** JPEG header decode in its FULL form (frame dims + JFIF density) —
    * the dominant-web-format member of the image family; the sniffing
    * [[decodeImg]] already folds JPEG's dimension core into ImgMeta.
    * Kernel: [[graft.Multimodal.decodeJpegHeader]].
    */
  val decodeJpeg: UserDefinedFunction =
    udf(graft.Multimodal.decodeJpegHeader _)

  /** EXIF (APP1) metadata decode: orientation / camera model / capture
    * datetime from the embedded TIFF IFD walk, either byte order; null
    * where the container carries no Exif. Kernel:
    * [[graft.Multimodal.decodeJpegExif]]. */
  val decodeExif: UserDefinedFunction =
    udf(graft.Multimodal.decodeJpegExif _)

  /** Orientation-normalized perceptual print: decode, apply the EXIF
    * rotation, then dHash — [[graft.Multimodal.orientedImageDHash]]. */
  val orientedImagePhash: UserDefinedFunction =
    udf(graft.Multimodal.orientedImageDHash _)

  /** Perceptual 64-bit dHash over an uncompressed-BMP payload; null
    * for undecodable/unsupported containers. Kernel:
    * [[graft.Multimodal.bmpDHash]] (pixel decode + integer box-average
    * grid + adjacent-cell comparisons).
    */
  val bmpPhash: UserDefinedFunction =
    udf(graft.Multimodal.bmpDHash _)

  /** Perceptual 64-bit dHash over a grayscale-8 PNG payload (full
    * chunk-CRC + inflate + filter reconstruction); null for
    * undecodable/unsupported containers. Kernel:
    * [[graft.Multimodal.pngDHash]].
    */
  val pngPhash: UserDefinedFunction =
    udf(graft.Multimodal.pngDHash _)

  /** Container-sniffing perceptual dHash (PNG either color type, or
    * BMP) — the cross-container dedup kernel. Kernel:
    * [[graft.Multimodal.imageDHash]].
    */
  val imagePhash: UserDefinedFunction =
    udf(graft.Multimodal.imageDHash _)

  /** PCM 16-bit WAV sample array; null for undecodable/non-PCM-16
    * payloads. Kernel: [[graft.Multimodal.decodeWavSamples]]; feature
    * math runs Spark-side over the array (HOFs, codegen'd).
    */
  val wavSamples: UserDefinedFunction =
    udf(graft.Multimodal.decodeWavSamples _)

  /** Perceptual 32-bit energy-delta print over a PCM-16 WAV payload;
    * null for undecodable containers. Kernel:
    * [[graft.Multimodal.wavPhash]].
    */
  val wavPhash: UserDefinedFunction =
    udf(graft.Multimodal.wavPhash _)

  /** MJPEG-in-AVI frame walk: declared frame count + per-frame JPEG
    * metadata; null for undecodable containers. Kernel:
    * [[graft.Multimodal.decodeAviMjpeg]].
    */
  val aviFrames: UserDefinedFunction =
    udf(graft.Multimodal.decodeAviMjpeg _)

  /** ISO-BMFF sample-table walk: codec fourcc + declared sample count
    * + per-sample metadata (decoded JPEG dims for Motion-JPEG, the
    * honest codec label + declared dims otherwise); null for
    * undecodable containers. Kernel:
    * [[graft.Multimodal.decodeMp4Samples]].
    */
  val mp4Samples: UserDefinedFunction =
    udf(graft.Multimodal.decodeMp4Samples _)

  /** Full GIF animation walk — every frame LZW-decoded to its
    * placement/dims/delay + gray checksum; the q198 kernel. See
    * [[graft.Multimodal.decodeGifFrames]]. */
  val gifFrames: UserDefinedFunction =
    udf(graft.Multimodal.decodeGifFrames _)

  /** Mojibake REPAIR (the q203 kernel): the classic double-encoding
    * damage — UTF-8 bytes mis-decoded as Latin-1/CP1252 somewhere
    * upstream and re-encoded, so "caf\u00e9" arrives as
    * "caf\u00c3\u00a9" and a left smart quote as
    * "\u00e2\u20ac\u0153". The deterministic rule: reconstruct the
    * pre-mis-decode bytes — chars ≤ 0xFF as their Latin-1 byte, the
    * 27 CP1252 0x80–0x9F code points through the inverse CP1252 map
    * (real-web damage went through WHATWG windows-1252, which emits
    * wide punctuation for defined slots and C1 controls for the five
    * undefined ones) — and repair ONLY when that byte string is
    * STRICTLY valid UTF-8 (a CharsetDecoder in REPORT mode, never
    * the replacing default). Anything else — pure ASCII, wide
    * Unicode outside the CP1252 block, Latin-1 text whose bytes are
    * NOT valid UTF-8 (a real "caf\u00e9" stays: 0xE9 + space cannot
    * parse as UTF-8), GENUINE smart quotes (their mapped 0x93 byte is
    * a continuation byte, never a valid lead) — passes through
    * unchanged, so the repair can never destroy legitimate text.
    * One level per application, matching how the damage compounds. */
  val fixMojibake: UserDefinedFunction =
    udf(graft.TextOps.fixMojibake _)

  /** Unicode text canonicalization for dedup (the q199 kernel): strip
    * the zero-width code points crawlers inject (ZWSP/ZWNJ/ZWJ/BOM),
    * map NBSP to a plain space, then NFC-normalize — so "café"
    * precomposed (U+00E9) and decomposed (e + U+0301) canonicalize to
    * one string. A UDF because Spark has no built-in normalizer; the
    * oracle mirrors it with DuckDB's utf8proc nfc_normalize — parity
    * holds because stripping precedes normalization on BOTH sides and
    * the involved mappings are stable across Unicode versions. Cheap
    * fast path: pure-ASCII strings (the overwhelming majority of a
    * real corpus) return identically without a Normalizer call. */
  val normalizeUnicode: UserDefinedFunction = udf { (s: String) =>
    if (s == null) null
    else {
      var ascii = true
      var i = 0
      while (ascii && i < s.length) {
        if (s.charAt(i) >= 0x80) ascii = false
        i += 1
      }
      if (ascii) s
      else java.text.Normalizer.normalize(
        s.replaceAll("[\u200B\u200C\u200D\uFEFF]", "")
          .replace('\u00A0', ' '),
        java.text.Normalizer.Form.NFC)
    }
  }
}
