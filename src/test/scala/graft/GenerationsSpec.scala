package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Bm25Index, DedupIndex, Generations, StatsLedger,
  VectorIndex}

/** The atomic-commit contract of the standing-index family
  * ([[graft.sources.Generations]]): a reader NEVER observes a missing
  * table, a half-written batch, or a mixed-generation index —
  * maintenance becomes visible only through one manifest commit
  * marker. Crashed batches = running the append phase without its
  * commit call (the exact prefix of work a real crash leaves); crashed
  * compactions throw from inside the [[Generations.rebuild]] build;
  * the failed-write case plants a real failing write job.
  */
class GenerationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, d)

  private val qs = Seq(("q1", "the order"), ("q2", "data zzz"))

  test("search during compaction: answers are bit-equal while the next " +
    "generation builds, after the flip, and after GC") {
    val p = "tgen1"
    Bm25Index.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id",
      "text", p)
    Bm25Index.append(docs.filter(col("doc_id") % 5 >= 3), "doc_id",
      "text", p)
    Bm25Index.delete(docs.filter(col("doc_id") % 10 === 3), "doc_id",
      "text", p)
    def run() = Bm25Index.search(spark, p, qs).collect().toSeq
    val before = run()
    assert(before.nonEmpty)
    // between build and flip: full next-generation tables exist on
    // disk, but no commit marker — readers keep the old generation
    val ng = Generations.rebuild(spark, p, Bm25Index.Logicals,
      retain = 1) { (st, ng) =>
        Bm25Index.compactInto(spark, p)(st, ng)
        assert(Generations.committedState(spark, p)._1 != ng,
          "uncommitted generation leaked into the committed state")
        assert(run() == before, "search diverged mid-compaction")
        Caches.clear()
        ng
    }
    // the flip: ONE b0 marker; retain = 1 keeps the old generation on
    // disk, the state a reader lands in between commit and GC
    assert(Generations.committedState(spark, p) == (ng -> Seq(0L)))
    assert(spark.catalog.tableExists(s"${p}_postings"),
      "the old generation was dropped before GC")
    assert(run() == before, "search diverged across the commit flip")
    Caches.clear()
    // GC drops the old generation only after the flip
    Generations.gc(spark, p, ng, Bm25Index.Logicals)
    assert(run() == before, "search diverged after GC")
    assert(!spark.catalog.tableExists(s"${p}_postings"),
      "old generation survived GC")
    Caches.clear()
  }

  test("interrupted compaction (crash before commit) leaves the index " +
    "fully readable on the old generation; the next compaction " +
    "succeeds and skips the orphaned generation number") {
    val p = "tgen2"
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id",
      "text", p)
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", p)
    def screen() = DedupIndex.screenExact(spark,
      docs.filter(col("doc_id") % 5 === 4), "doc_id", "text", p)
      .collect().toSeq
    val before = screen()
    assert(before.nonEmpty)
    val st0 = Generations.committedState(spark, p)
    // the build writes the whole next generation, then crashes
    var orphan = -1L
    val crash = intercept[IllegalStateException](
      Generations.rebuild(spark, p, DedupIndex.Logicals) { (st, ng) =>
        DedupIndex.compactInto(spark, p)(st, ng)
        orphan = ng
        throw new IllegalStateException("crash before commit")
      })
    assert(crash.getMessage == "crash before commit")
    assert(spark.catalog.tableExists(
      Generations.physical(p, "hashes", orphan)),
      "the crashed build wrote no next-generation table")
    assert(Generations.committedState(spark, p) == st0,
      "interrupted compaction changed the committed state")
    assert(screen() == before, "interrupted compaction changed answers")
    Caches.clear()
    // recovery: a later compaction allocates a FRESH generation (the
    // orphan's number is burned, never reused) and completes normally
    DedupIndex.compact(spark, p)
    val (g, _) = Generations.committedState(spark, p)
    assert(g > orphan, s"generation $orphan reused after crash")
    assert(screen() == before, "post-recovery answers diverged")
    // GC reclaimed the orphan's tables along with the old generation's
    assert(!spark.catalog.tableExists(
      Generations.physical(p, "hashes", orphan)),
      "orphaned generation's tables survived GC")
    Caches.clear()
  }

  test("a crashed multi-table ingest (no commit row) is invisible to " +
    "every read, and stays invisible after later commits") {
    val p = "tgen3"
    Bm25Index.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id",
      "text", p)
    def run() = Bm25Index.search(spark, p, qs).collect().toSeq
    val before = run()
    // all four tables now hold the crashed batch's rows — none visible
    val (g, orphanB) = Generations.beginBatch(spark, p)
    Bm25Index.writeClaimed(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", p, g, orphanB)
    assert(spark.table(s"${p}_postings").filter(col("b") === orphanB)
      .count() > 0, "the crash simulation wrote nothing")
    assert(run() == before, "uncommitted batch leaked into search")
    Caches.clear()
    // a later, committed batch allocates a FRESH id; committing it must
    // not resurrect the orphan
    Bm25Index.append(docs.filter(col("doc_id") % 5 === 4), "doc_id",
      "text", p)
    val st = Generations.committedState(spark, p)
    assert(st._1 == g && !st._2.contains(orphanB),
      s"orphan batch $orphanB became visible: $st")
    val after = run()
    val expected = CorpusOps.bm25TopK(
      docs.filter(col("doc_id") % 5 <= 2 || col("doc_id") % 5 === 4),
      "doc_id", "text", qs).collect().toSeq
    assert(after == expected,
      "post-crash committed state diverged from the inline ranker")
    Caches.clear()
    // compaction physically drops the orphan rows
    Bm25Index.compact(spark, p)
    val physPost = Generations.physicalFor(spark, p, "postings")
    assert(spark.table(physPost).filter(col("b") === orphanB).isEmpty ||
      orphanB == 0L, "compaction kept crashed-batch rows")
    assert(run() == after, "compaction changed answers")
    Caches.clear()
  }

  test("two concurrent writers: the atomic intent-marker claim " +
    "arbitrates batch ids — the loser detects the collision and " +
    "retries upward; both batches land without overlap, whichever " +
    "commits first") {
    val p = "tgen5"
    Bm25Index.write(docs.filter(col("doc_id") % 5 === 0), "doc_id",
      "text", p)
    // both writers listed the SAME manifest state and computed the
    // same first candidate (1) — the exclusive create arbitrates:
    // exactly one wins id 1, the loser detects the existing marker
    // and claims the next free id
    val bA = Generations.claimBatchFrom(spark, p, 0L, 1L)
    val bB = Generations.claimBatchFrom(spark, p, 0L, 1L)
    assert(bA == 1L && bB == 2L,
      s"claim arbitration failed: A=$bA B=$bB")
    // step-interleaved bodies: A writes, B writes, B commits FIRST
    val dA = docs.filter(col("doc_id") % 5 === 1)
    val dB = docs.filter(col("doc_id") % 5 === 2)
    Bm25Index.writeClaimed(dA, "doc_id", "text", p, 0L, bA)
    Bm25Index.writeClaimed(dB, "doc_id", "text", p, 0L, bB)
    Generations.commit(spark, p, 0L, bB)
    def run() = Bm25Index.search(spark, p, qs).collect().toSeq
    // B visible, A (written but uncommitted) invisible
    assert(Generations.committedState(spark, p) == (0L -> Seq(0L, bB)))
    assert(run() == CorpusOps.bm25TopK(
      docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 5 === 2),
      "doc_id", "text", qs).collect().toSeq,
      "uncommitted concurrent batch leaked into search")
    Caches.clear()
    // A commits out of order — both batches now visible exactly once
    Generations.commit(spark, p, 0L, bA)
    assert(Generations.committedState(spark, p) ==
      (0L -> Seq(0L, bA, bB)))
    assert(run() == CorpusOps.bm25TopK(
      docs.filter(col("doc_id") % 5 <= 2), "doc_id", "text", qs)
      .collect().toSeq, "interleaved writers diverged from inline")
    Caches.clear()
  }

  test("retention-windowed GC: a reader pinned on the pre-flip " +
    "generation still completes under retain = 1; retain = 0 " +
    "reproduces immediate GC") {
    val p = "tgen6"
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 1), "doc_id",
      "text", p)
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 2), "doc_id",
      "text", p)
    def screen() = DedupIndex.screenExact(spark,
      docs.filter(col("doc_id") % 5 === 4), "doc_id", "text", p)
      .collect().toSeq
    val before = screen()
    val (gOld, _) = Generations.committedState(spark, p)
    val oldPhys = Generations.physical(p, "hashes", gOld)
    Generations.rebuild(spark, p, DedupIndex.Logicals, retain = 1)(
      DedupIndex.compactInto(spark, p))
    val (g1, _) = Generations.committedState(spark, p)
    assert(g1 > gOld)
    // the pre-flip generation survived the flip: a reader that
    // resolved its state before the compaction finishes its scan
    assert(spark.table(oldPhys).count() > 0,
      "retain = 1 dropped the previous generation")
    assert(screen() == before, "answers diverged across retained GC")
    Caches.clear()
    // the next compaction with retain = 0 drops ALL predecessors
    DedupIndex.compact(spark, p)
    assert(!spark.catalog.tableExists(oldPhys),
      "retain = 0 kept a superseded generation")
    assert(!spark.catalog.tableExists(
      Generations.physical(p, "hashes", g1)),
      "retain = 0 kept the immediately-preceding generation")
    assert(screen() == before, "answers diverged after immediate GC")
    Caches.clear()
  }

  test("the manifest stays bounded: micro-batch appends grow it two " +
    "markers per batch, compaction GC resets it to the surviving " +
    "generation's markers") {
    val p = "tgen7"
    DedupIndex.write(docs.filter(col("doc_id") % 10 === 0), "doc_id",
      "text", p)
    // bootstrap is ONE marker (its commit): invisibility-until-commit
    // is structural when no committed generation exists yet
    assert(Generations.rows(spark, p).size == 1)
    for (i <- 1 to 4)
      DedupIndex.append(docs.filter(col("doc_id") % 10 === i),
        "doc_id", "text", p)
    // intent + commit per append
    assert(Generations.rows(spark, p).size == 1 + 2 * 4)
    def screen() = DedupIndex.screenExact(spark,
      docs.filter(col("doc_id") % 5 === 4), "doc_id", "text", p)
      .collect().toSeq
    val before = screen()
    DedupIndex.compact(spark, p)
    // the compacted generation's intent + commit only — dead history
    // deleted with its generations, so streaming ingest cannot grow
    // the manifest without bound
    assert(Generations.rows(spark, p).size == 2,
      s"manifest not compacted: ${Generations.rows(spark, p)}")
    assert(screen() == before, "manifest compaction changed answers")
    Caches.clear()
  }

  test("orphaned-intent GC: crash-looping claims are reaped once a " +
    "later batch commits — the manifest stays bounded and reaped ids " +
    "are never reallocated") {
    val p = "tgen8"
    DedupIndex.write(docs.filter(col("doc_id") % 10 === 0), "doc_id",
      "text", p)
    def screen() = DedupIndex.screenExact(spark,
      docs.filter(col("doc_id") % 5 === 4), "doc_id", "text", p)
      .collect().toSeq
    // five crash-looping writers: each claims an intent, writes
    // nothing, never commits — exactly the residue ADVICE flagged as
    // growing the manifest forever
    val orphans = (1 to 5).map(_ =>
      Generations.beginBatch(spark, p)._2)
    assert(orphans == (1L to 5L), s"claims not sequential: $orphans")
    // a later writer succeeds at a HIGHER id — that commit is what
    // makes the orphans safe to reap
    DedupIndex.append(docs.filter(col("doc_id") % 10 === 1), "doc_id",
      "text", p)
    assert(Generations.rows(spark, p).size == 1 + 5 + 2)
    val before = screen()
    Generations.gc(spark, p,
      Generations.committedState(spark, p)._1, DedupIndex.Logicals)
    // bootstrap commit + the live batch's intent/commit survive; the
    // five orphans are gone — bounded at O(live), not O(crashes)
    val after = Generations.rows(spark, p)
    assert(after.size == 3, s"orphaned intents not reaped: $after")
    assert(screen() == before, "orphan reaping changed answers")
    // a reaped id can never be reallocated: the next claim probes
    // from past the surviving max, not into the reaped range
    val (_, b) = Generations.beginBatch(spark, p)
    assert(b == 7L, s"reaped id reallocated: next claim got $b")
    Caches.clear()
  }

  test("claim-primitive trait boundary: a store WITHOUT atomic " +
    "exclusive create lets two interleaved racers claim the same " +
    "batch id — the documented object-store failure, executable") {
    val p = "tgen9"
    Generations.beginBootstrap(spark, p) // clean slate across sbt runs
    var bB = -1L
    var fired = false
    val saved = Generations.claimPrimitive
    try {
      // writer A's claim is paused between its exists() probe and its
      // create; writer B races the SAME candidate in that window
      Generations.claimPrimitive =
        new GenerationsSpec.NonAtomicSimulation(() => {
          if (!fired) {
            fired = true
            bB = Generations.claimBatchFrom(spark, p, 0L, 1L)
          }
        })
      val bA = Generations.claimBatchFrom(spark, p, 0L, 1L)
      // BOTH writers believe they own batch 1 — the torn state the
      // atomic primitive exists to prevent (contrast the two-writer
      // test above, where the default primitive yields 1 and 2)
      assert(bA == 1L && bB == 1L && bA == bB,
        s"expected the double-claim failure: A=$bA B=$bB")
    } finally { Generations.claimPrimitive = saved }
  }

  test("partial compaction: a small delete log rewrites ONLY the " +
    "tombstoned buckets, copies the rest's files byte-for-byte, and " +
    "answers stay bit-equal across the b0 flip") {
    import spark.implicits._
    // tiny-vocab corpus so the deleted doc's terms pin a SMALL touched
    // set: doc 3's vocab is {qq, rr} — at most 2 postings buckets —
    // and one doc_id — at most 1 doclens bucket
    val corpus = Seq((1L, "aa bb cc dd"), (2L, "aa cc ee"),
      (3L, "qq rr qq"), (4L, "bb dd ff"), (5L, "ee ff aa"))
      .toDF("doc_id", "text")
    val p = "tgen10"
    Bm25Index.write(corpus, "doc_id", "text", p)
    Bm25Index.delete(corpus.filter($"doc_id" === 3L), "doc_id",
      "text", p)
    val qs2 = Seq(("q1", "aa ff"), ("q2", "qq"))
    def run() = Bm25Index.search(spark, p, qs2).collect().toSeq
    val before = run()
    assert(before.nonEmpty)
    val oldFiles = spark.table(s"${p}_doclens").inputFiles.toSet
    val rewritten = Bm25Index.compactPartial(spark, p)
    // the touched sets are delta-sized, not corpus-sized
    assert(rewritten("doclens") <= 1,
      s"doclens rewrote ${rewritten("doclens")} buckets for one doc")
    assert(rewritten("postings") <= 2 && rewritten("positions") <= 2,
      s"term tables rewrote $rewritten buckets for a 2-term doc")
    assert(run() == before, "answers diverged across partial compaction")
    // untouched buckets' files were CARRIED, not rewritten: the new
    // generation's doclens reads mostly the byte-identical file names
    val (g, bs) = Generations.committedState(spark, p)
    assert(g > 0L, "partial compaction did not flip a new generation")
    // the old batch ids stayed visible (carried commits + b0 flip)
    assert(bs.contains(0L) && bs.size >= 2,
      s"carried batch visibility lost: $bs")
    val newFiles = spark.table(
      Generations.physicalFor(spark, p, "doclens")).inputFiles
    val carried = newFiles.count(f =>
      oldFiles.exists(of => of.split("/").last == f.split("/").last))
    assert(carried > 0, "no doclens files were carried over")
    // physical removal happened where it should: doc 3's tombstone
    // and insert rows are gone from the rewritten bucket
    val livePost = spark.table(
      Generations.physicalFor(spark, p, "postings"))
    assert(livePost.filter($"term" === "qq").count() == 0,
      "tombstoned rows survived the touched-bucket rewrite")
    // and the index keeps working for later appends (b0-flip rule:
    // the carried generation is the current one)
    Bm25Index.append(Seq((6L, "aa qq")).toDF("doc_id", "text"),
      "doc_id", "text", p)
    val after = Bm25Index.search(spark, p, qs2).collect().toSeq
    assert(after != before, "post-compaction append was not visible")
    Caches.clear()
  }

  test("refreshFromDiff is all-or-nothing: its takedown and re-append " +
    "legs share one batch id and flip together") {
    import spark.implicits._
    val gen1 = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b d"))
      .toDF("doc_id", "text")
    val gen2 = Seq((1L, "a a b"), (3L, "b b e"), (4L, "d d a"))
      .toDF("doc_id", "text")
    val p = "tgen4"
    Bm25Index.write(gen1, "doc_id", "text", p)
    Bm25Index.refreshFromDiff(gen1, gen2, "doc_id", "text", p)
    // ONE batch beyond bootstrap carries the whole refresh
    val (_, bs) = Generations.committedState(spark, p)
    assert(bs == Seq(0L, 1L), s"refresh used ${bs.size - 1} batches")
    // and both legs' rows carry it: doc 3's tombstones AND doc 4's
    // inserts sit in batch 1
    val b1 = spark.table(s"${p}_postings").filter($"b" === 1L)
    assert(b1.filter($"doc_id" === 3L && $"w" === -1).count() > 0)
    assert(b1.filter($"doc_id" === 4L && $"w" === 1).count() > 0)
    Caches.clear()
  }

  test("full compaction refuses to flip over a batch committed during " +
    "its build: the late batch stays visible, and the next compaction " +
    "folds it in") {
    import spark.implicits._
    val p = "tgen14"
    DedupIndex.write(Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text"),
      "doc_id", "text", p)
    val st = Generations.committedState(spark, p)
    val x = Seq((3L, "the late batch lands mid compaction"))
      .toDF("doc_id", "text")
    var ng = -1L
    val flipped = scala.util.Try(
      Generations.rebuild(spark, p, DedupIndex.Logicals) { (snap, g) =>
        DedupIndex.compactInto(spark, p)(snap, g)
        ng = g
        // doc X commits into the OLD generation while the next builds
        DedupIndex.append(x, "doc_id", "text", p)
      })
    def known() = DedupIndex.screenExact(spark, x, "doc_id", "text", p)
      .collect().map(_.getAs[Boolean]("is_known")).toSeq
    assert(known() == Seq(true),
      "the batch committed during compaction was lost by the flip")
    assert(flipped.isFailure, "the flip ignored a concurrent commit")
    assert(flipped.failed.get.getMessage.contains(
      "a batch committed during compaction"), flipped.failed.get)
    assert(Generations.committedState(spark, p)._1 == st._1)
    DedupIndex.compact(spark, p)
    assert(Generations.committedState(spark, p)._1 > ng)
    assert(known() == Seq(true), "the recovery compaction dropped X")
    Caches.clear()
  }

  /** One log lifecycle of the standing-index family, as the
    * failed-write test drives it. Frames carry (id, payload, group):
    * (doc_id, text, source) for the text indexes, (vec_id, embedding,
    * label) for the vector layers. */
  private case class Lifecycle(name: String, vectors: Boolean,
                               boot: (DataFrame, String) => Unit,
                               append: (DataFrame, String) => Unit,
                               compact: String => Unit,
                               read: String => Seq[String],
                               manifest: String => String = identity)

  test("a REAL failed write (a projection that raises at execution) " +
    "leaves every log lifecycle exactly as it was; the next batch " +
    "gets a higher id and compaction answers as if it never ran") {
    import spark.implicits._
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val qs = Seq(("q1", "quick brown"), ("q2", "lazy dog"))
    val screen = Seq((100L, "the quick brown fox jumps over it"),
      (101L, "a lazy dog sleeps all night long")).toDF("doc_id", "text")
    def vec(seed: Int): Array[Float] =
      (0 until 16).map(d => ((seed * 7 + d * 13) % 201 - 100) / 100.0f)
        .toArray
    // frames come from an RDD, not a local relation, so the planted
    // raise_error runs inside the write job instead of being folded at
    // planning time
    val text = Seq(
      (1L, "the quick brown fox jumps over it", "web"),
      (2L, "a lazy dog sleeps all day long", "news"),
      (3L, "the quick brown fox leaps over it", "web"),
      (4L, "a lazy dog sleeps all night long", "news"),
      (5L, "order data zzz and the quick cat", "web"))
    val vecs = (1 to 10).map(i => (i.toLong, vec(i % 6), i % 2))
    def textF(ids: Long => Boolean) = spark.sparkContext
      .parallelize(text.filter(r => ids(r._1)), 2)
      .toDF("doc_id", "text", "source")
    def vecF(ids: Long => Boolean) = spark.sparkContext
      .parallelize(vecs.filter(r => ids(r._1)), 2)
      .toDF("vec_id", "embedding", "label")
    val probes = Similarity.probes(
      Seq((200L, vec(1), 0), (201L, vec(4), 1))
        .toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", lit(true))
    val cases = Seq(
      Lifecycle("dedup", vectors = false,
        DedupIndex.write(_, "doc_id", "text", _),
        DedupIndex.append(_, "doc_id", "text", _),
        DedupIndex.compact(spark, _),
        p => sorted(DedupIndex.screenNearDup(spark, screen, "doc_id",
          "text", p, threshold = 0.3))),
      Lifecycle("bm25", vectors = false,
        Bm25Index.write(_, "doc_id", "text", _),
        Bm25Index.append(_, "doc_id", "text", _),
        Bm25Index.compact(spark, _),
        p => sorted(Bm25Index.search(spark, p, qs))),
      Lifecycle("vector", vectors = true,
        VectorIndex.write(_, "vec_id", "embedding", "label", _),
        VectorIndex.append(_, "vec_id", "embedding", "label", _),
        VectorIndex.compact(spark, _),
        p => sorted(VectorIndex.search(spark, p, probes, 2, nprobe = 2))),
      Lifecycle("pq", vectors = true,
        (df, p) => {
          VectorIndex.trainCodebook(vecF(_ => true), "embedding", "label",
            p)
          VectorIndex.writeCodes(df, "vec_id", "embedding", "label", p)
        },
        VectorIndex.appendCodes(_, "vec_id", "embedding", "label", _),
        VectorIndex.compactCodes(spark, _),
        p => sorted(VectorIndex.searchAdc(spark, p, probes, 2)),
        manifest = p => s"${p}_pq"),
      Lifecycle("ledger", vectors = false,
        StatsLedger.write(_, "text", "source", _),
        StatsLedger.append(_, "text", "source", _),
        StatsLedger.compact(spark, _),
        p => sorted(StatsLedger.profile(spark, p))))
    def planted(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).exists(t =>
        Option(t.getMessage).exists(_.contains("planted")))
    for (c <- cases) {
      val (p, ref) = (s"tfail_${c.name}", s"tfail_${c.name}_ref")
      val (base, good, bad) =
        if (c.vectors) (vecF(_ <= 6), vecF(_ > 6),
          vecF(_ > 6).withColumn("embedding", when(col("vec_id") === 8L,
            raise_error(lit("planted"))).otherwise(col("embedding"))))
        else (textF(_ <= 3), textF(_ > 3),
          textF(_ > 3).withColumn("text", when(col("doc_id") === 5L,
            raise_error(lit("planted"))).otherwise(col("text"))))
      c.boot(base, p)
      val st0 = Generations.committedState(spark, c.manifest(p))
      val before = c.read(p)
      Caches.clear()
      val e = intercept[Exception](c.append(bad, p))
      assert(planted(e), s"${c.name}: failed for another reason: $e")
      Caches.clear()
      assert(Generations.committedState(spark, c.manifest(p)) == st0,
        s"${c.name}: the failed batch changed the committed state")
      assert(c.read(p) == before, s"${c.name}: answers moved")
      Caches.clear()
      val failedB = Generations.rows(spark, c.manifest(p))
        .filter(_._3 == "intent").map(_._2).max
      c.append(good, p)
      assert(Generations.committedState(spark, c.manifest(p))._2.max >
        failedB, s"${c.name}: the failed batch's id was reused")
      c.compact(p)
      c.boot(base, ref)
      c.append(good, ref)
      assert(c.read(p) == c.read(ref),
        s"${c.name}: compacted answers differ from an index that never " +
          "saw the failed batch")
      Caches.clear()
    }
  }
}

object GenerationsSpec {
  /** A deliberately NON-atomic claim — exists() then plain create, the
    * semantics of a store without conditional writes — so the spec can
    * DEMONSTRATE the object-store failure (two racers both claiming one
    * id) instead of merely asserting it in scaladoc. */
  class NonAtomicSimulation(interleave: () => Unit)
      extends Generations.ClaimPrimitive {
    def claim(fs: org.apache.hadoop.fs.FileSystem,
              p: org.apache.hadoop.fs.Path): Boolean =
      if (fs.exists(p)) false
      else { interleave(); fs.create(p, true).close(); true }
  }
}
