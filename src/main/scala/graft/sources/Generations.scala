package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftHooks, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** ATOMIC COMMIT for the standing-index family — the missing
  * transactional layer over [[DedupIndex]]/[[Bm25Index]]/[[VectorIndex]]/
  * [[StatsLedger]]'s log-structured parquet tables (the reference's
  * analogue is Postgres' transactional MERGE,
  * reid/pipelines/property.py:96-126; at corpus scale the same guarantee
  * comes from a manifest, which is how Delta/Iceberg commit).
  *
  * One tiny `<prefix>_manifest` DIRECTORY per index records the commit
  * log as zero-byte MARKER FILES named `<state>_g<gen>_b<b>`, where
  * `gen` is a physical-table GENERATION (compaction rewrites into a NEW
  * generation's tables and flips here), `b` is a BATCH id within a
  * generation (every ingest/takedown/refresh stamps its rows with one
  * `b`), and `state` is `intent` (id claimed, data may be partially
  * written) or `commit` (fully written, visible). Marker files instead
  * of a catalog table because the manifest is pure driver-side
  * metadata: every protocol step is one atomic file create/list — no
  * Spark job — so the per-batch fixed cost a table-backed manifest
  * paid (two 1-row table-write jobs + a collect per batch) drops to
  * filesystem latency. This is exactly the Delta/Iceberg posture: the
  * transaction log is files, only the data is tables.
  *
  * The index modules never sequence these steps themselves: every
  * write goes through one of three brackets — [[bootstrap]] (reset,
  * write generation 0, commit), [[batch]] (claim, write, commit) and
  * [[rebuild]] (read the snapshot, claim the next generation, build
  * it, re-check the snapshot, carry batch ids, commit b0, gc) — and
  * every row-level tombstone fold goes through [[live]]. Each index
  * keeps only its table layout, its projections and its weighted-sum
  * readers.
  *
  * The protocol — CONCURRENT writers, any number of readers:
  *
  *  1. a writer CLAIMS a fresh `b` (or `gen`) by atomically creating
  *     its `intent` marker with exclusive create (O_EXCL): the first
  *     candidate is one past every id the writer can list, and when
  *     two writers race to the same candidate the create arbitrates —
  *     exactly one wins, the loser probes upward and claims the next
  *     free id ([[claimBatchFrom]]; GenerationsSpec interleaves two
  *     writers step by step). Claimed ids are never reused, even after
  *     a crash: the marker file persists,
  *  2. writes ALL its data rows stamped with that (gen, b) — across
  *     however many physical tables the index keeps,
  *  3. commits by creating ONE `commit` marker.
  *
  * Readers resolve the manifest ONCE per operation ([[committedState]]:
  * one bounded directory listing): current generation = max gen
  * carrying a commit, visible batches = that generation's committed `b`
  * list — then filter every table scan to `b IN (visible)`. The batch
  * list is bounded (it grows only until the next compaction resets it),
  * so the predicate reaches the parquet scan as a static filter.
  * Consequences:
  *
  *  - a crash between steps 2 and 3 leaves orphan rows that are
  *    INVISIBLE forever (their `b` is never committed and never
  *    reallocated) and are physically dropped at the next compaction;
  *  - a multi-table ingest (Bm25Index writes four tables) or a
  *    two-legged refresh (takedown + re-append under ONE `b`) is
  *    all-or-nothing — no reader ever sees a half-applied batch;
  *  - compaction builds the ENTIRE next generation's tables while
  *    readers keep resolving the old one, then flips visibility with
  *    the single commit-marker create — no purge-then-rename window,
  *    the index is never missing or mixed-generation (GenerationsSpec
  *    simulates the interrupted compaction);
  *  - old generations are garbage-collected AFTER the flip ([[gc]]),
  *    which also deletes their dead manifest markers — the manifest
  *    stays bounded at (current generation's batches + retained
  *    generations) no matter how many micro-batches streaming ingest
  *    appends. `retain` keeps the newest N pre-flip generations on
  *    disk for readers still mid-scan on them (the Delta VACUUM
  *    retention knob); retain = 0 is the immediate-GC posture.
  *
  * The store requirement: the arbitration rests on ONE primitive,
  * atomic exclusive create ([[ClaimPrimitive]]). It holds on HDFS and
  * on local `file:` paths ([[ClaimPrimitive.Exclusive]]); a store
  * without it (classic S3) cannot host the manifest — the same caveat
  * every file-format transaction log carries. GenerationsSpec makes
  * the failure mode executable with a deliberately non-atomic
  * [[ClaimPrimitive]].
  */
object Generations {

  /** The atomic claim primitive: create `p` iff absent, atomically —
    * exactly one of N concurrent callers returns true. Everything the
    * concurrent-writer protocol guarantees reduces to this contract
    * holding on the manifest's filesystem. */
  trait ClaimPrimitive {
    def claim(fs: FileSystem, p: Path): Boolean
  }

  object ClaimPrimitive {
    /** Default: true O_EXCL semantics.
      *  - `file:` scheme → java.nio.file.Files.createFile, which maps
      *    to open(O_CREAT|O_EXCL) — kernel-arbitrated. (Hadoop's local
      *    FS create(p, overwrite=false) is exists()-then-open: a TOCTOU
      *    window two concurrent writers can both pass.)
      *  - other schemes → FileSystem.create(p, overwrite=false), which
      *    HDFS implements as an atomic namespace operation. */
    object Exclusive extends ClaimPrimitive {
      def claim(fs: FileSystem, p: Path): Boolean =
        if (fs.getScheme == "file") {
          val local = java.nio.file.Paths.get(p.toUri.getPath)
          java.nio.file.Files.createDirectories(local.getParent)
          try { java.nio.file.Files.createFile(local); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else {
          try { fs.create(p, false).close(); true }
          catch { case e: java.io.IOException =>
            if (fs.exists(p)) false else throw e }
        }
    }
  }

  /** The primitive in force — swappable by tests only. */
  private[graft] var claimPrimitive: ClaimPrimitive =
    ClaimPrimitive.Exclusive

  def manifestT(prefix: String): String = s"${prefix}_manifest"

  /** Physical table name of `logical` at `gen`; generation 0 keeps the
    * plain `<prefix>_<logical>` name. */
  def physical(prefix: String, logical: String, gen: Long): String =
    if (gen == 0L) s"${prefix}_${logical}" else s"${prefix}_${logical}_gen$gen"

  /** Resolve `logical`'s CURRENT physical name — the reader entry point
    * (also what specs use to find tables on disk post-compaction). */
  def physicalFor(spark: SparkSession, prefix: String,
                  logical: String): String =
    physical(prefix, logical, committedState(spark, prefix)._1)

  // ----------------------------------------------- marker-file storage

  private def dir(spark: SparkSession, prefix: String): Path =
    new Path(spark.sessionState.conf.warehousePath, manifestT(prefix))

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private val Marker = "(intent|commit)_g(\\d+)_b(\\d+)".r

  private def marker(spark: SparkSession, prefix: String, gen: Long,
                     b: Long, state: String): Path =
    new Path(dir(spark, prefix), s"${state}_g${gen}_b$b")

  /** The manifest directory's file names — one bounded listing, no
    * Spark job. */
  private def names(spark: SparkSession, prefix: String): Seq[String] = {
    val d = dir(spark, prefix)
    val f = fsOf(spark, d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
  }

  /** The full manifest: (gen, b, state) rows parsed from marker names. */
  private[graft] def rows(spark: SparkSession,
                          prefix: String): Seq[(Long, Long, String)] =
    names(spark, prefix).collect {
      case Marker(state, g, b) => (g.toLong, b.toLong, state)
    }

  /** Atomically create a marker via the pluggable [[ClaimPrimitive]];
    * false when it already exists — a concurrent writer won this id. */
  private def tryCreate(spark: SparkSession, prefix: String, gen: Long,
                        b: Long, state: String): Boolean = {
    val p = marker(spark, prefix, gen, b, state)
    claimPrimitive.claim(fsOf(spark, p), p)
  }

  // ------------------------------------------------------ the protocol

  /** Start a fresh index: reset the manifest. Until [[commit]] lands
    * the index has no committed generation and readers refuse it, so
    * bootstrap needs no intent marker — it is the one write with
    * nothing prior to stay readable, and its invisibility-until-commit
    * is structural. */
  def beginBootstrap(spark: SparkSession, prefix: String): Unit =
    Sinks.purgeTable(spark, manifestT(prefix))

  // ------------------------------------------- writer-pinned settings

  private val BucketsMarker = "buckets_(\\d+)".r

  /** Persist the WRITER's bucket count in the manifest — the layout
    * knob every later reader and maintenance pass MUST follow (a
    * reader folding with the wrong count would compute wrong bucket
    * ids in [[Sinks.tombstonedBuckets]] and partial compaction would
    * rewrite the wrong files). Written once at bootstrap, immutable
    * for the index's lifetime ([[gc]] never touches it — changing the
    * count means re-bucketing every table, i.e. a fresh bootstrap).
    * One marker file, same discipline as the commit log. */
  private def setBuckets(spark: SparkSession, prefix: String,
                         n: Int): Unit = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    val p = new Path(dir(spark, prefix), s"buckets_$n")
    require(claimPrimitive.claim(fsOf(spark, p), p),
      s"${manifestT(prefix)}: bucket count already pinned")
  }

  /** The writer-pinned bucket count of a bucketed index; fails, naming
    * the manifest, when no `buckets_N` marker exists. */
  def bucketsOf(spark: SparkSession, prefix: String): Int =
    names(spark, prefix).collectFirst {
      case BucketsMarker(n) => n.toInt
    }.getOrElse(throw new IllegalArgumentException(
      s"${manifestT(prefix)}: no pinned bucket count (buckets_N marker)"))

  /** Claim the first free batch id at or past `startB` in generation
    * `g` — the arbitration loop, split out so GenerationsSpec can
    * drive two writers from the SAME starting candidate (the state a
    * concurrent listing produces): exactly one wins each id, the
    * loser detects the collision and retries upward. */
  private[graft] def claimBatchFrom(spark: SparkSession, prefix: String,
                                    g: Long, startB: Long): Long = {
    var b = startB
    while (!tryCreate(spark, prefix, g, b, "intent")) b += 1
    b
  }

  /** Allocate the next batch id in the current committed generation via
    * the atomic intent-marker claim. Crashed allocations are never
    * reused: their markers persist and the claim probes past them
    * (until [[gc]] reaps the ones a later commit makes safe to drop —
    * see the orphaned-intent note there). */
  def beginBatch(spark: SparkSession, prefix: String): (Long, Long) = {
    val rs = rows(spark, prefix)
    // the CURRENT generation is the flipped (b0-committed) max — the
    // committedState rule: appending into a generation still being
    // built by a partial compaction would hand that compaction's file
    // copy a moving target
    val flipped = rs.filter(r => r._3 == "commit" && r._2 == 0L)
      .map(_._1)
    require(flipped.nonEmpty,
      s"${manifestT(prefix)}: no committed generation to append to")
    val g = flipped.max
    (g, claimBatchFrom(spark, prefix, g,
      rs.filter(_._1 == g).map(_._2).max + 1))
  }

  /** Allocate the next generation (for compaction's full rewrite) via
    * the same claim loop — two concurrent compactions can never build
    * into the same generation's tables. */
  private def beginGeneration(spark: SparkSession, prefix: String): Long = {
    val rs = rows(spark, prefix)
    require(rs.exists(_._3 == "commit"),
      s"${manifestT(prefix)}: no committed generation to compact")
    var ng = rs.map(_._1).max + 1
    while (!tryCreate(spark, prefix, ng, 0L, "intent")) ng += 1
    ng
  }

  /** The commit point: ONE created marker makes batch `b` of `gen`
    * (and, if it is a new generation's first, the whole generation)
    * visible. */
  def commit(spark: SparkSession, prefix: String, gen: Long,
             b: Long): Unit =
    require(tryCreate(spark, prefix, gen, b, "commit"),
      s"${manifestT(prefix)}: batch g${gen}_b$b committed twice")

  /** Reader resolution: (current committed generation, its visible
    * batch ids, sorted). One bounded directory listing per operation.
    *
    * The CURRENT generation is the max gen whose batch-0 commit exists
    * — b = 0 is every generation's bootstrap/flip batch (bootstrap and
    * every compaction commit it), so the b0 marker IS the atomic
    * generation switch. This matters for PARTIAL compaction, which
    * carries the old generation's batch ids into the new one: those
    * carry-over commits land FIRST and stay invisible (no b0 yet), and
    * the single b0 create flips the whole batch set at once — without
    * the rule, a reader racing the carry-over creates would adopt the
    * new generation with a torn, partial batch list. */
  def committedState(spark: SparkSession,
                     prefix: String): (Long, Seq[Long]) = {
    val committed = rows(spark, prefix).filter(_._3 == "commit")
    val flipped = committed.filter(_._2 == 0L).map(_._1)
    require(flipped.nonEmpty,
      s"${manifestT(prefix)}: no committed generation")
    val g = flipped.max
    (g, committed.filter(_._1 == g).map(_._2).distinct.sorted)
  }

  /** Drop superseded generations' physical tables AND their dead
    * manifest markers. Runs strictly AFTER the flip; idempotent, so a
    * crash mid-GC just re-runs later.
    *
    *  - `retain` keeps the newest N committed generations BELOW
    *    `keepGen` on disk (markers and tables), so a reader that
    *    resolved its state before the flip still completes its scan —
    *    the Delta VACUUM retention window; retain = 0 reproduces
    *    immediate GC.
    *  - Only generations BELOW `keepGen` are touched: an intent above
    *    it is a concurrent compaction mid-build (or its crash residue),
    *    whose claim must stay so its number is never reused while its
    *    tables may exist; it is reclaimed by the gc after the NEXT
    *    flip passes it.
    *  - Deleting dropped generations' markers IS the manifest
    *    compaction: the listing stays bounded at the current
    *    generation's batches + retained history, no matter how many
    *    micro-batches streaming ingest appended before the flip
    *    (GenerationsSpec pins the bound).
    */
  def gc(spark: SparkSession, prefix: String, keepGen: Long,
         logicals: Seq[String], retain: Int = 0): Unit = {
    val rs = rows(spark, prefix)
    val retained = rs.filter(r => r._3 == "commit" && r._1 < keepGen)
      .map(_._1).distinct.sorted.takeRight(retain).toSet
    val drop = rs.map(_._1).distinct
      .filter(g => g < keepGen && !retained(g))
    drop.foreach(g => logicals.foreach(l =>
      Sinks.purgeTable(spark, physical(prefix, l, g))))
    val f = fsOf(spark, dir(spark, prefix))
    rs.filter(r => drop.contains(r._1)).foreach { case (g, b, st) =>
      f.delete(marker(spark, prefix, g, b, st), false) }
    // ORPHANED-INTENT reaping within the surviving generation: a
    // crash-looping writer leaves an intent marker per attempt, and
    // without this the manifest grows one file per crash forever. An
    // intent with no commit is safe to delete once SOME LATER batch of
    // the same generation committed: future claims probe from
    // max(all markers)+1 ≥ that commit's id + 1, so the reaped id can
    // never be reallocated (its invisible data rows stay invisible and
    // are physically dropped at the next compaction, exactly as
    // before). Tail orphans — above every commit — must stay: deleting
    // them would free their id for reuse while their rows may exist.
    // A LIVE slow writer below the max commit may lose its intent
    // marker here; its own commit still lands and is honored — the
    // intent's only job was claim arbitration, already done.
    val keep = rs.filter(_._1 == keepGen)
    val committedB = keep.filter(_._3 == "commit").map(_._2)
    if (committedB.nonEmpty) {
      val maxCommitted = committedB.max
      keep.filter(r => r._3 == "intent" && r._2 < maxCommitted &&
          !committedB.contains(r._2))
        .foreach { case (g, b, st) =>
          f.delete(marker(spark, prefix, g, b, st), false) }
    }
  }

  // ------------------------------------------------------ the brackets

  /** Write mode of batch `b`: b = 0 is a generation's first batch and
    * creates its tables (bootstrap, reroute); every later batch appends
    * to them. */
  def modeOf(b: Long): String = if (b == 0L) "overwrite" else "append"

  /** Bootstrap an index: reset its manifest, pin the writer's bucket
    * count when the index is bucketed, `write` generation 0's tables
    * as batch 0, then commit g0/b0 — the index is invisible until that
    * one marker lands. */
  def bootstrap[A](spark: SparkSession, prefix: String,
                   buckets: Option[Int])(write: (Long, Long) => A): A = {
    beginBootstrap(spark, prefix)
    buckets.foreach(setBuckets(spark, prefix, _))
    val out = write(0L, 0L)
    commit(spark, prefix, 0L, 0L)
    out
  }

  /** One atomic batch: claim a fresh id in the current generation,
    * `write` every table's rows stamped with it, commit. A failed write
    * commits nothing and rethrows — its rows stay invisible under an
    * id that is never reused, and the next compaction drops them. */
  def batch[A](spark: SparkSession, prefix: String)(
      write: (Long, Long) => A): A = {
    val (g, b) = beginBatch(spark, prefix)
    val out = write(g, b)
    commit(spark, prefix, g, b)
    out
  }

  /** One maintenance pass (compaction, re-route, refresh): read the
    * committed snapshot, claim the next generation `ng`, `build(snapshot,
    * ng)` every one of its `logicals` tables, then flip to it. A build
    * that throws commits nothing: readers stay on the snapshot's
    * generation, and the claimed number is never reused — its tables
    * are reaped by the [[gc]] after a later flip.
    *
    * The flip re-lists the manifest first. A batch committed since the
    * snapshot appended into the old generation's tables, which the
    * build neither folded nor copied and [[gc]] is about to drop — so
    * the flip refuses (no b0 lands, readers stay on the old generation).
    * The re-list shrinks the race to one listing; truly concurrent
    * append and compaction would need a CAS on the flip itself. `carry`
    * then commits the snapshot's batch ids into `ng` (a partial
    * compaction that copied their rows forward); they stay invisible
    * until the b0 commit flips the whole set at once ([[committedState]]'s
    * rule). Last comes [[gc]], with its `retain`. */
  def rebuild[A](spark: SparkSession, prefix: String, logicals: Seq[String],
                 retain: Int = 0, carry: Boolean = false)(
      build: ((Long, Seq[Long]), Long) => A): A = {
    val snapshot = committedState(spark, prefix)
    val ng = beginGeneration(spark, prefix)
    val out = build(snapshot, ng)
    require(committedState(spark, prefix) == snapshot,
      s"$prefix: a batch committed during compaction — aborting the " +
        "flip (single-maintenance-writer contract)")
    if (carry)
      snapshot._2.filter(_ != 0L).foreach(commit(spark, prefix, ng, _))
    commit(spark, prefix, ng, 0L)
    gc(spark, prefix, ng, logicals, retain)
    out
  }

  /** `b` is one of the `visible` batch ids, with the ids bound as data:
    * a set-backed `InSet` reaches generated code as a reference object,
    * so the compiled classes are the same for every committed state,
    * where `isin` would inline each id as a literal (until the list
    * passes the optimizer's 10-item set conversion) and recompile every
    * stage that reads a log table after each commit. The scan still
    * receives the predicate as `In(b, …)`. */
  def visibleIn(visible: Seq[Long]): Column =
    GraftHooks.inSet(col("b"), visible)

  /** The live (tombstone-folded) view of a log-structured table at the
    * resolved committed state `st`: visible batches only, optionally
    * `restrict`ed, grouped on `dataCols` with net weight > 0. Both
    * filters are static predicates that reach the parquet scan, and
    * the fold commutes with `restrict` whenever its columns are among
    * `dataCols`. With the bucket key leading `dataCols` the aggregate
    * takes its distribution from the bucketed read — zero Exchange —
    * and its output stays partitioned on the bucket key, which is what
    * every downstream screen or search join needs. */
  def live(spark: SparkSession, prefix: String, logical: String,
           st: (Long, Seq[Long]), dataCols: Seq[String],
           restrict: Option[Column] = None): DataFrame = {
    val visible = spark.table(physical(prefix, logical, st._1))
      .filter(visibleIn(st._2))
    restrict.fold(visible)(visible.filter)
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("w")).as("net"))
      .filter(col("net") > 0)
      .select(dataCols.map(col): _*)
  }
}
