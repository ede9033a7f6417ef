package perfbench

import java.time.LocalDate
import scala.util.Random

import graft._
import graft.functions.Parse
import graft.sources.{Bm25Index, DedupIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed call into the engine.
  *
  * @param layer  the module whose public function the call enters
  * @param work   counts toward the workload's throughput (`work_per_s`)
  * @param lat    counts toward the workload's latency (`op_ms`)
  * @param items  input rows (or documents) the call processes
  * @param bytes  input bytes a commit hands to an index
  * @param output for calls that produce a frame: the frame and how to
  *               check it; the run checks it once (see
  *               `Main.Checking`)
  */
final case class Op(name: String, layer: String, work: Boolean,
                    lat: Boolean, items: Long, run: () => Unit,
                    bytes: Long = 0L, output: Option[Output] = None)

/** A checkable output. With `expected`, it must equal that frame (the
  * inline operator an index call is pinned bit-equal to); otherwise it is
  * compared against the DuckDB oracle of registered query `oracle` or,
  * without one, must have `rows` rows. */
final case class Output(df: () => DataFrame, oracle: Option[String],
                        rows: Long = -1L,
                        expected: Option[() => DataFrame] = None)

/** What a workload runs against: the session, the generated input
  * tables (`data`, with their row counts, per-document text bytes and
  * the corpus's vocabulary from the generator), the seed and the
  * session's core count. */
final class Ctx(val spark: SparkSession, val data: String, val seed: Long,
                val cores: Int, val rows: Map[String, Long],
                val textBytes: Array[Long], val vocabulary: Array[String]) {
  def query(name: String): DataFrame = Queries.all(name)(spark, data)
  def rng(salt: Long): Random = new Random(seed * 1000003L + salt)
}

trait Workload {
  /** Preparation before the warm-up (index bootstraps); part of
    * `setup_s`. */
  def prepare(): Unit = ()
  /** The operations of round `r`; rounds are the unit of the timed loop. */
  def round(r: Int): Seq[Op]
  /** Operations too slow to repeat every round, run once after the
    * window of a traced run (checked, traced, not in the end-to-end
    * metrics). */
  def maintenance(): Seq[Op] = Nil
  /** Called as the timed window starts and as it ends. */
  def onWindow(start: Boolean): Unit = ()
  /** Direct per-layer probes of the traced run, by metric name. */
  def probes(): Map[String, Double] = Map.empty
  /** Per-layer numbers of the workload's own layers, from its traced
    * operations (window rounds and maintenance) and the window's round
    * count. */
  def layerMetrics(traced: Seq[(Op, Span)], rounds: Int): Map[String, Double] =
    Map.empty
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "listing_cycle"     => new ListingCycle(c)
    case "index_maintenance" => new IndexMaintenance(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def collect(df: DataFrame): Unit = { df.collect(); () }

  /** An operation that materializes a frame: written to the noop sink
    * (`read = false`) or collected to the driver (`read = true`). */
  def frameOp(name: String, layer: String, work: Boolean, lat: Boolean,
              items: Long, read: Boolean, oracle: Option[String],
              rows: Long = -1L, expected: Option[() => DataFrame] = None)(
      df: => DataFrame): Op =
    Op(name, layer, work, lat, items,
      () => if (read) collect(df) else noop(df),
      output = Some(Output(() => df, oracle, rows, expected)))

  /** The rows of `df` as sorted strings over name-sorted columns — the
    * order-insensitive form two outputs are compared in. */
  def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted
  }

  def sameRows(what: String, got: DataFrame, want: DataFrame): Option[String] = {
    val g = canon(got); val w = canon(want)
    if (got.columns.sorted.toSeq != want.columns.sorted.toSeq)
      Some(s"$what: columns ${got.columns.sorted.mkString(",")} != " +
        want.columns.sorted.mkString(","))
    else if (g != w)
      Some(s"$what: ${g.size} rows vs ${w.size} expected; first difference " +
        g.zipAll(w, "<none>", "<none>").find(p => p._1 != p._2).getOrElse(""))
    else None
  }
}

import Workload._

/** The reference's monthly job, write phase then read phase. */
final class ListingCycle(c: Ctx) extends Workload {
  import c._
  private val asOf = LocalDate.of(2026, 8, 15)

  // order keys are 0 until n: the current table keeps key % 10 < 8 and
  // the incoming crawl key % 10 >= 2 (EtlQueries)
  private val nOrders = rows("orders")
  private val nCurrent = nOrders / 10 * 8 + math.min(nOrders % 10, 8L)
  private val nIncoming = nOrders / 10 * 8 + math.max(nOrders % 10 - 2, 0L)
  private val nPart = rows("part")
  private val nDocs = rows("documents")

  /** Scraped detail pages, one per document (the shape `Standardize`
    * takes: raw title, price, type, contract, description, labels). */
  private def rawItems: DataFrame = {
    val id = col("doc_id")
    Tables.documents(spark, data).select(
      concat(lit("https://bench.example/p"), id).as("url"),
      col("source"),
      concat(lit("Stunning "), id % 6 + 1,
        lit(" bedroom villa in Ubud")).as("raw_title"),
      when(id % 3 === 0, concat(lit("IDR "), (id + 1) * 1000000))
        .when(id % 3 === 1, concat(lit("USD "), (id + 1) * 100))
        .otherwise(lit("price request")).as("raw_price"),
      when(id % 4 === 0, "Land for Sale").otherwise(lit("Villa")).as("raw_type"),
      when(id % 2 === 0, "leasehold property").otherwise(lit("freehold"))
        .as("raw_contract"),
      concat(col("text"), lit("\nleasehold 25 years"),
        when(id % 4 === 0, lit("\nzoning: yellow area")).otherwise(lit("")))
        .as("raw_desc"),
      when(id % 11 === 0, array(lit("SOLD out")))
        .otherwise(array(lit("For Sale"))).as("labels"),
      lit("https://bench.example/img-300x200.jpg").as("raw_image"))
  }

  /** The write cycle in pipeline order: (op, layer, registered query). */
  private val writes: Seq[(String, String, String)] = Seq(
    ("standardize", "Standardize", ""),
    ("issue_tags", "Quality", "q29_issue_tags"),
    ("merge", "Merge", "q28_merge_upsert"),
    ("export", "Export", "q30_export_wide"))

  /** Cycle steps too slow to repeat every round: source profiles is
    * about three seconds of planning and driver work. */
  private val once: Seq[(String, String, String)] = Seq(
    ("source_profiles", "SourceProfiles", "q55_source_profiles"))

  private val reads: Seq[(String, String)] = Seq(
    "crawl_report" -> "q47_crawl_report",
    "report_totals" -> "q63_report_totals",
    "tag_counts" -> "q48_tag_counts",
    "queue_page" -> "q49_queue_page")

  /** Dashboard passes per round: each pass issues every request type
    * once, in a seeded order. */
  private val ReadPasses = 2

  private def items(op: String): Long = op match {
    case "source_profiles" => nPart
    case "standardize" => nDocs
    case "issue_tags" => nOrders
    case "merge" => nCurrent + nIncoming
    case _ => nCurrent
  }

  private def writeDf(op: String, q: String): DataFrame =
    if (op == "standardize") Standardize(rawItems, asOf) else query(q)

  /** A write step. Standardize has no registered oracle; its check is
    * that every scraped item comes out as exactly one listing. */
  private def writeOp(op: String, layer: String, q: String, work: Boolean) =
    frameOp(op, s"operators.$layer", work, lat = false, items(op),
      read = false, if (q.isEmpty) None else Some(q),
      rows = if (q.isEmpty) nDocs else -1L)(writeDf(op, q))

  override def maintenance(): Seq[Op] =
    once.map { case (op, layer, q) => writeOp(op, layer, q, work = false) }

  /** The write cycle in pipeline order, then the dashboard passes. */
  def round(r: Int): Seq[Op] = {
    val cycle = writes.map { case (op, layer, q) => writeOp(op, layer, q, work = true) }
    val rnd = rng(r)
    val dash = (0 until ReadPasses).flatMap(_ => rnd.shuffle(reads)).map {
      case (op, q) =>
        frameOp(op, "operators.Analytics", work = false, lat = true, 1L,
          read = true, Some(q))(query(q))
    }
    cycle ++ dash
  }

  private val Kinds = Array("Villa", "Land for Sale", "leasehold property",
    "freehold", "Apartment", "price on request")

  /** Raw strings of the kind the cycle's parsers see, distinct. */
  private def rawStrings: Array[String] = {
    val rnd = rng(-7)
    val units = Array("IDR ", "USD ", "Rp ", "$ ", "")
    val sizes = Array(" are", " m2", " sqm", "")
    Array.tabulate(4000) { i =>
      i % 4 match {
        case 0 => units(rnd.nextInt(units.length)) +
          f"${rnd.nextInt(900) + 100}%d.${rnd.nextInt(1000)}%03d.000"
        case 1 => f"${rnd.nextInt(9000) + 100}%d,${rnd.nextInt(1000)}%03d"
        case 2 => s"land ${rnd.nextInt(900) + 50}${sizes(rnd.nextInt(sizes.length))}" +
          s" build ${rnd.nextInt(400) + 20} m2 lease ${rnd.nextInt(40) + 5} years"
        case _ => Kinds(rnd.nextInt(Kinds.length)) + s" #$i"
      }
    }.distinct
  }

  /** `functions.Parse.ns_per_value`: nanoseconds per parser call over the
    * distinct raw strings, median of five passes. */
  override def probes(): Map[String, Double] = {
    val vs = rawStrings
    val fns: Seq[String => Any] = Seq(
      Parse.toNumber, Parse.findIdr, Parse.findUsd, Parse.reExtractPrice,
      Parse.findLandSize, Parse.findBuildSize, Parse.getContractType,
      Parse.standardizePropertyType)
    var sink = 0
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      vs.foreach(v => fns.foreach(f => sink += f(v).hashCode & 1))
      (System.nanoTime() - t0).toDouble / (vs.length * fns.size)
    }.sorted
    require(sink >= 0)
    Map("functions.Parse.ns_per_value" -> times(2))
  }
}

/** Standing indexes: bootstrap a share of the corpus, then rounds of
  * seeded append batches next to screens and searches. Once per traced
  * run: a delete batch, a compaction of the dedup index, a rank refresh,
  * and one curation pass per corpus operator module over the corpus the
  * indexes hold. */
final class IndexMaintenance(c: Ctx) extends Workload {
  import c._
  private val Dedup = "pb_dedup"
  private val Bm25 = "pb_bm25"
  private val Vec = "pb_vec"
  /** Bytes one vector row carries: id, 64 floats, label. */
  private val VecBytes = 8L + 64 * 4 + 4

  private def docs = Tables.documents(spark, data)
  private def vecs = Tables.embeddings(spark, data)
  private val boot = col("doc_id") % 5 <= 2
  private val vboot = col("vec_id") % 5 <= 2

  /** (id, utf-8 text bytes) of the append candidates (doc_id % 5 == 3). */
  private val candidates: Array[(Long, Long)] =
    textBytes.indices.filter(_ % 5 == 3).map(i => (i.toLong, textBytes(i))).toArray
  /** Input bytes of the bootstrap share: documents plus vectors. */
  private val bootBytes: Long = textBytes.indices.filter(_ % 5 <= 2)
    .map(i => textBytes(i) + 8 + VecBytes).sum

  /** The append candidates of quarter `res`: (rows, document bytes). */
  private def share(res: Int): (Long, Long) = {
    val chosen = candidates.filter(p => (p._1 / 5) % 4 == res)
    (chosen.length.toLong, chosen.map(_._2 + 8).sum)
  }

  /** Live append batches as (residue, id offset); see [[batch]]. */
  private val batches = scala.collection.mutable.ArrayBuffer[(Int, Long)]()

  /** Bootstrap times, seconds. */
  private var writeS = Map.empty[String, Double]

  private def timed(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f
    writeS += name -> (System.nanoTime() - t0) / 1e9
  }

  override def prepare(): Unit = {
    timed("sources.DedupIndex.write_s")(DedupIndex.write(docs.filter(boot),
      "doc_id", "text", Dedup, buckets = cores))
    timed("sources.Bm25Index.write_s")(Bm25Index.write(docs.filter(boot),
      "doc_id", "text", Bm25, buckets = cores))
    timed("sources.VectorIndex.write_s")(VectorIndex.write(vecs.filter(vboot),
      "vec_id", "embedding", "label", Vec))
  }

  private def pick(id: String, res: Int) =
    col(id) % 5 === 3 && (col(id) / 5).cast("long") % 4 === res

  /** Documents and vectors of one batch: a quarter of the append
    * candidates re-keyed to ids no other batch uses (the indexes'
    * id-unique contract). Documents and vectors share the id range. */
  private def batchRows(res: Int, off: Long): (DataFrame, DataFrame) =
    (docs.filter(pick("doc_id", res)).withColumn("doc_id", col("doc_id") + off),
      vecs.filter(pick("vec_id", res)).withColumn("vec_id", col("vec_id") + off))

  /** A new batch for round `r`, the quarter chosen by the seed:
    * (documents, vectors, rows, document bytes). */
  private def batch(r: Int): (DataFrame, DataFrame, Long, Long) = {
    val res = rng(r).nextInt(4)
    val off = (batches.size + 1) * 1000000L
    batches += ((res, off))
    val (d, v) = batchRows(res, off)
    val (n, bytes) = share(res)
    (d, v, n, bytes)
  }

  /** Documents never inserted (doc_id % 5 == 4), a seeded quarter. */
  private def screenSet(r: Int): DataFrame = {
    val res = rng(r + 500).nextInt(4)
    docs.filter(col("doc_id") % 5 === 4 &&
      (col("doc_id") / 5).cast("long") % 4 === res)
  }

  /** Three BM25 queries of one to three corpus words, shaped like the
    * registered q154 set: the last also holds a word no document has. */
  private def queries(r: Int): Seq[(String, String)] = {
    val rnd = rng(r + 900)
    (1 to 3).map { i =>
      val words = Seq.fill(1 + rnd.nextInt(3))(
        vocabulary(rnd.nextInt(vocabulary.length)))
      s"q$i" -> (if (i == 3) words :+ "zzz" else words).mkString(" ")
    }
  }

  private def probeFilter(r: Int) =
    col("vec_id") % 50 === rng(r + 1300).nextInt(10) * 5

  private def probeVecs(r: Int): DataFrame =
    graft.Similarity.probes(vecs.filter(vboot), "vec_id", "embedding",
      probeFilter(r))

  private def commit(name: String, layer: String, n: Long, bytes: Long)(
      f: => Unit) =
    Op(name, layer, work = true, lat = true, n, () => f, bytes = bytes)

  def round(r: Int): Seq[Op] = {
    val (d, v, n, docBytes) = batch(r)
    val s = screenSet(r); val q = queries(r); val p = probeVecs(r)
    // checked against the inline operator over the live rows: the
    // bootstrap share plus every batch appended so far
    def live = union(docs.filter(boot), batches.toSeq, _._1)
    def liveVecs = union(vecs.filter(vboot), batches.toSeq, _._2)
    def read(name: String, layer: String, df: => DataFrame)(
        expected: => DataFrame) =
      frameOp(name, layer, work = false, lat = true, 0L, read = true, None,
        expected = Some(() => expected))(df)
    Seq(
      commit("dedup_append", "sources.DedupIndex", n, docBytes)(
        DedupIndex.append(d, "doc_id", "text", Dedup)),
      commit("bm25_append", "sources.Bm25Index", n, docBytes)(
        Bm25Index.append(d, "doc_id", "text", Bm25)),
      commit("vector_append", "sources.VectorIndex", n, n * VecBytes)(
        VectorIndex.append(v, "vec_id", "embedding", "label", Vec)),
      read("dedup_screen_near", "sources.DedupIndex",
        DedupIndex.screenNearDup(spark, s, "doc_id", "text", Dedup))(
        TextOps.incrementalNearDup(live.unionByName(s), "doc_id", "text",
          col("doc_id") % 5 === 4)),
      read("bm25_search", "sources.Bm25Index", Bm25Index.search(spark, Bm25, q))(
        CorpusOps.bm25TopK(live, "doc_id", "text", q)),
      read("vector_search", "sources.VectorIndex",
        VectorIndex.search(spark, Vec, p, k = 3, nprobe = 2))(
        graft.Similarity.ivfTopK(liveVecs, "vec_id", "embedding", "label",
          probeFilter(r), 3, nprobe = 2)))
  }

  /** (op, layer, registered query). The other curation passes (SimHash,
    * winnowed containment, decontamination, paragraph and substring
    * dedup, language ID, the composed q174 pipeline) are one to four
    * seconds each and do not fit the run budget. */
  private val passes: Seq[(String, String, String)] = Seq(
    ("minhash_lsh", "TextOps", "q36_minhash_lsh"),
    ("pii_screen", "CorpusOps", "q101_pii_screen"),
    ("bpe_encode", "Bpe", "q124_bpe_encode"),
    ("semdedup", "Similarity", "q156_semdedup"))

  /** BPE encode learns its merges inline (the registered q124 reads a
    * prebuilt table it caches outside the warehouse); BpeSpec pins the
    * two bit-equal, so q124's oracle checks it. */
  private def passDf(op: String, q: String): DataFrame =
    if (op == "bpe_encode")
      Bpe.encodeCorpus(Tables.documents(spark, data), "doc_id", "text")
    else query(q)

  /** Takes down the first batch, compacts the dedup index, refreshes
    * the ranks, runs the curation passes. */
  override def maintenance(): Seq[Op] = {
    val (res, off) = batches.remove(0)
    val (d, _) = batchRows(res, off)
    val (n, bytes) = share(res)
    Seq(
      commit("dedup_delete", "sources.DedupIndex", n, bytes)(
        DedupIndex.delete(d, "doc_id", "text", Dedup)),
      Op("dedup_compact", "sources.DedupIndex", work = false, lat = false, 0L,
        () => DedupIndex.compact(spark, Dedup)),
      frameOp("rank_refresh", "operators.Graph", work = false, lat = false,
        0L, read = false, Some("q143_pagerank"))(query("q143_pagerank"))) ++
      passes.map { case (op, layer, q) =>
        frameOp(op, s"operators.$layer", work = false, lat = false,
          rows(if (op == "semdedup") "embeddings" else "documents"),
          read = false, Some(q))(passDf(op, q))
      }
  }

  private def union(base: DataFrame, bs: Seq[(Int, Long)],
                    side: ((DataFrame, DataFrame)) => DataFrame): DataFrame =
    bs.map { case (res, off) => side(batchRows(res, off)) }
      .foldLeft(base)(_ unionByName _)

  private def warehouseFiles: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    Option(wh.listFiles()).toSeq.flatten
      .filter(t => Seq(Dedup, Bm25, Vec).exists(t.getName.startsWith))
      .flatMap(walk).filter(f => !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
  }
  private var filesAtStart = 0
  private var filesAtEnd = 0
  private var bytesAtEnd = 0L
  private var liveAtEnd = 0L
  override def onWindow(start: Boolean): Unit =
    if (start) filesAtStart = warehouseFiles.size
    else {
      filesAtEnd = warehouseFiles.size
      bytesAtEnd = warehouseFiles.map(_.length).sum
      // live input: the bootstrap share and every batch appended so far,
      // documents and vectors
      liveAtEnd = bootBytes + batches.map { case (res, _) =>
        val (n, bytes) = share(res); bytes + n * VecBytes
      }.sum
    }

  override def layerMetrics(traced: Seq[(Op, Span)],
                            rounds: Int): Map[String, Double] = {
    def med(names: String*): Double = Stats.median(
      traced.collect { case (o, s) if names.contains(o.name) => s.ms })
    def one(name: String): Option[Span] =
      traced.collectFirst { case (o, s) if o.name == name => s }
    val commits = traced.filter(_._1.bytes > 0)
    val written = commits.map(_._2.counts.outputBytes).sum.toDouble
    val ingested = commits.map(_._1.bytes).sum.toDouble
    val refresh = one("rank_refresh")
    writeS ++ Map(
      "sources.DedupIndex.append_ms" -> med("dedup_append"),
      "sources.DedupIndex.delete_ms" -> med("dedup_delete"),
      "sources.DedupIndex.screen_ms" -> med("dedup_screen_near"),
      "sources.DedupIndex.compact_s" -> one("dedup_compact").map(_.ms / 1000).getOrElse(0.0),
      "sources.Bm25Index.append_ms" -> med("bm25_append"),
      "sources.Bm25Index.search_ms" -> med("bm25_search"),
      "sources.VectorIndex.append_ms" -> med("vector_append"),
      "sources.VectorIndex.search_ms" -> med("vector_search"),
      "sources.write_amp" -> (if (ingested > 0) written / ingested else 0.0),
      "sources.space_amp" -> bytesAtEnd.toDouble / liveAtEnd,
      "sources.files_written" -> (filesAtEnd - filesAtStart).toDouble / math.max(1, rounds),
      "sources.compact_bytes_rewritten" -> traced.collect {
        case (o, s) if o.name.endsWith("_compact") => s.counts.outputBytes
      }.sum.toDouble,
      "operators.Graph.round_ms" -> refresh.map(_.ms / RankRounds).getOrElse(0.0),
      "operators.Graph.jobs_per_round" ->
        refresh.map(_.counts.jobs.toDouble / RankRounds).getOrElse(0.0))
  }
  /** Rounds of the rank refresh (q143 runs `Graph.pageRank`'s default). */
  private val RankRounds = 10
}
