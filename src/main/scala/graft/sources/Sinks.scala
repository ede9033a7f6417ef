package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink shapes (SURVEY §2.1): the reference's write paths as DataFrame
  * writers. Partitioned appends replace per-item INSERTs; the
  * unique-constraint tables become dedup + anti-join before append —
  * set-based idempotency instead of catch-rollback per row.
  */
object Sinks {

  /** Staging append (reference property pipeline insert,
    * reid/pipelines/property.py:38-66): partitioned by source + month so
    * downstream reads prune (mirrors the reference's indexes).
    */
  def stagingAppend(df: DataFrame, path: String): Unit =
    df.withColumn("month", date_format(col("scraped_at"), "yyyy-MM"))
      .write.mode("append").partitionBy("source", "month").parquet(path)

  /** Constrained append (reference Error / DuplicateListing inserts,
    * models/error.py:6-16, models/duplicate_listing.py:7-17): enforce the
    * unique key against both the batch and what's already written.
    */
  def constrainedAppend(df: DataFrame, path: String, uniqueCols: Seq[String]): Unit = {
    // only a genuinely absent path means "first write" — any other read
    // failure must propagate, or the unique-key guard silently turns off.
    // Hadoop FileSystem so the check works for local AND remote (s3a/hdfs)
    // URIs; read-then-append is single-writer-batch by design (matches the
    // reference's own posture, SURVEY §7.4.1) — concurrent writers would
    // need a transactional table format instead.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) {
      df.dropDuplicates(uniqueCols).write.mode("append").parquet(path)
      return
    }
    // Bloom prefilter on the STANDING side (guide §3.2): the
    // anti-join needs only the existing rows that could possibly
    // collide with this batch's keys — without the prefilter every
    // append re-reads AND re-shuffles the whole standing table just to
    // prove most of it irrelevant, an unbounded per-append cost at
    // 100 TB. The filter is built over the BATCH (small by
    // construction) keyed on one xxhash64 of the unique columns —
    // key-hash collisions and bloom false positives both only let
    // extra standing rows through to the EXACT anti-join, so the
    // result is bit-equal (no false negatives; SourcesSinksSpec pins
    // equality under a saturated filter).
    val spark = df.sparkSession
    val deduped = graft.Caches.persistTracked(df.dropDuplicates(uniqueCols))
    val keyOf = xxhash64(uniqueCols.map(col): _*)
    val expected = math.max(deduped.count(), 1L)
    val bloom = deduped.select(keyOf.as("__k")).stat
      .bloomFilter("__k", expected, 0.01)
    val bloomB = graft.Caches.trackBroadcast(
      spark.sparkContext.broadcast(bloom))
    val mightMatch = udf((h: Long) => bloomB.value.mightContainLong(h))
      .withName("graft_bloom_might_contain")
    val existing = spark.read.parquet(path)
      .select(uniqueCols.map(col): _*)
      .filter(mightMatch(keyOf))
    deduped.join(existing, uniqueCols, "left_anti")
      .write.mode("append").parquet(path)
  }

  /** Drop a warehouse table AND reclaim its location — the shared
    * purge of every standing-table writer (a DROP alone can leave a
    * stale location that blocks the next CREATE; see the compaction
    * temp-table rename). All index/ledger tables live under the
    * session warehouse path by construction.
    */
  def purgeTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table)
    loc.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(loc, true)
  }

  /** Write `df` as warehouse table `table`. `overwrite` purges any
    * stale table and location first and then creates the table
    * (`errorifexists`: after the purge a leftover is a bug, not data to
    * replace); other modes pass through. */
  def saveTable(df: DataFrame, table: String,
                mode: String = "overwrite"): Unit = {
    if (mode == "overwrite") purgeTable(df.sparkSession, table)
    df.write.mode(if (mode == "overwrite") "errorifexists" else mode)
      .saveAsTable(table)
  }

  /** Run INDEPENDENT sink writes concurrently (guide §2.6 "overlap
    * independent jobs"): Spark's scheduler happily runs several jobs
    * at once inside one application — the index writers' per-ingest
    * table writes (postings/doclens/positions/stats, bands/shsets/
    * hashes) are sequential only because the driver called them
    * sequentially, and each one alone leaves most of a 32-core box
    * idle in its write tail. Caller contract: the tasks must be
    * independent (different target tables) and any shared upstream
    * projection must ALREADY be materialized (run the first write
    * alone first), or the racing tasks compute the shared cache
    * once each. The first failure propagates with its original
    * exception; remaining tasks are awaited (a torn multi-table
    * batch stays invisible anyway — only the manifest commit marker,
    * which the caller never writes after a failure, makes it
    * visible). */
  def inParallel(tasks: Seq[() => Unit]): Unit =
    inParallelMap(tasks): Unit

  /** [[inParallel]] with results, in task order. EVERY task is awaited
    * before the first failure rethrows: abandoning a
    * still-running sibling write would let the caller's cleanup
    * (Caches unpersist, a retry of the same batch id) race an orphan
    * job still appending rows under the batch id the retry later
    * commits — the manifest-invisibility argument needs all writers
    * of a failed batch to have STOPPED before the failure surfaces. */
  def inParallelMap[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.sizeIs <= 1) return tasks.map(_.apply())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val fs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        })
      }
      val results = fs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(e.getCause)
          case e: Throwable => Left(e)
        }
      }
      results.collectFirst { case Left(e) => e }.foreach(throw _)
      results.collect { case Right(a) => a }
    } finally pool.shutdown()
  }

  /** BUCKETED-table writer — the co-location write path behind two
    * scale designs:
    *
    *  - the canonical-listing MERGE (SURVEY §4 "optional bucketing by
    *    url"): current and incoming tables written through this on
    *    `url` make [[graft.Merge.merge]]'s full-outer SMJ plan ZERO
    *    Exchange on either side (BucketingSpec pins the merge plan;
    *    SCALING.md's bucketed-merge probe row measures the saving). The
    *    canonical table is re-written through this writer each merge
    *    cycle (`overwrite`), so the one-time layout cost amortizes
    *    across every later merge;
    *  - the standing dedup index ([[DedupIndex]]), which appends.
    *
    * `overwrite` purges the physical location as well as the catalog
    * entry: the session catalog is in-memory, so a table written by a
    * PREVIOUS session is invisible to DROP TABLE yet still blocks the
    * managed location (Hadoop FS, so remote warehouses behave the
    * same). Bucket count is a deployment knob — match the cluster's
    * parallelism; the non-bucketed side of a join shuffles to exactly
    * this many partitions.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int = 32,
                    mode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one key")
    val spark = df.sparkSession
    if (mode == "overwrite") purgeTable(spark, table)
    // pin partition-to-bucket alignment for EVERY bucketed write:
    // a bucketed saveAsTable emits one file per (task, bucket-held), so
    // an input whose partitioning is not the bucket hash writes up to
    // tasks × buckets files per batch — measured 1533 files on a
    // 2-batch postings table once the corpus scan fanned out to 32
    // tasks (was the documented 1 file/bucket/batch only by the
    // accident of AQE coalescing the upstream aggregate to one task).
    // repartition's hash IS the bucket hash, so each task holds
    // exactly one bucket and emits exactly one file; the exchange
    // carries already-aggregated index rows.
    df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Net a log-structured bucketed table (data columns + a signed
    * weight column `w` + a batch-epoch column `b`) and rewrite it as
    * ONE file per bucket under a NEW name, preserving the bucket spec —
    * the shared offline compaction of the standing-index family
    * ([[DedupIndex.compact]], [[Bm25Index.compact]]): bounds the
    * one-file-per-bucket-per-batch growth AND physically removes
    * tombstone-cancelled rows (the takedown/GDPR guarantee that deleted
    * content leaves disk, not just the folds) AND drops orphan rows of
    * crashed, never-committed batches (only `visibleB` batches are
    * read). The net aggregate groups on every data column — bucket key
    * leading, so it runs IN-BUCKET over the bucketed read — and keeps
    * rows with nonzero net weight, which makes compaction semantics-
    * free by construction: every screen folds `sum(w)` either way, so
    * pre- and post-compaction answers are bit-equal even for histories
    * the deployments never produce (double inserts,
    * delete-before-insert).
    *
    * `to` is the next generation's physical name
    * ([[Generations.physical]]): readers keep resolving `from` until the
    * new generation's [[Generations.commit]] marker lands — the source
    * table is never dropped here (that is post-commit
    * [[Generations.gc]]). The explicit `repartition(numBuckets,
    * bucketKey)` pins partition-to-bucket alignment — repartition's
    * hash IS the bucket hash — so each write task holds exactly one
    * bucket and emits exactly one file. The compacted rows restart at
    * batch b = 0, the new generation's bootstrap batch.
    */
  def compactBucketedTo(spark: SparkSession, from: String, to: String,
                        bucketCols: Seq[String], numBuckets: Int,
                        visibleB: Seq[Long]): Unit =
    writeBucketed(netFold(spark.table(from), visibleB), to, bucketCols,
      numBuckets, "overwrite")

  /** The compaction net fold: `rows`' visible batches grouped on every
    * data column, `sum(w)` kept where nonzero, survivors restamped
    * b = 0, columns in `rows`' order. */
  private def netFold(rows: DataFrame, visibleB: Seq[Long]): DataFrame = {
    val dataCols = rows.columns.filterNot(c => c == "w" || c == "b").toSeq
    rows.filter(Generations.visibleIn(visibleB))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("w")).cast("int").as("w"))
      .filter(col("w") =!= 0)
      .withColumn("b", lit(0L))
      .select(rows.columns.toSeq.map(col): _*)
  }

  /** Full compaction of an index's bucketed `logicals` from the
    * committed state `st` into generation `ng`: one
    * [[compactBucketedTo]] per table, the independent legs overlapped
    * (guide §2.6). */
  def compactLegs(spark: SparkSession, prefix: String,
                  logicals: Seq[String], bucketCols: String => Seq[String],
                  numBuckets: Int, st: (Long, Seq[Long]), ng: Long): Unit =
    inParallel(logicals.map(l => () =>
      compactBucketedTo(spark, Generations.physical(prefix, l, st._1),
        Generations.physical(prefix, l, ng), bucketCols(l), numBuckets,
        st._2)))

  /** Partial compaction of an index's bucketed `logicals` from `st`
    * into `ng`: per table, rewrite the tombstoned buckets and carry the
    * rest ([[partialCompactBucketedTo]]), the legs overlapped.
    * @return rewritten-bucket count per logical table */
  def partialCompactLegs(spark: SparkSession, prefix: String,
                         logicals: Seq[String],
                         bucketCols: String => Seq[String], numBuckets: Int,
                         st: (Long, Seq[Long]), ng: Long): Map[String, Int] =
    inParallelMap(logicals.map(l => () => {
      val from = Generations.physical(prefix, l, st._1)
      val touched = tombstonedBuckets(spark, from, bucketCols(l),
        numBuckets, st._2)
      partialCompactBucketedTo(spark, from,
        Generations.physical(prefix, l, ng), bucketCols(l), numBuckets,
        st._2, touched)
      l -> touched.size
    })).toMap

  /** Spark's bucket id of a bucketed-table data file name
    * (`part-00000-<uuid>_00017.c000.snappy.parquet` → 17), −1 for
    * non-data entries (_SUCCESS). The `_NNNNN` group before the `.cNNN`
    * writer suffix is the id bucketBy encodes in every file name. */
  private def bucketIdOf(name: String): Int =
    "_(\\d+)\\.c\\d+".r.findAllMatchIn(name).toSeq.lastOption
      .map(_.group(1).toInt).getOrElse(-1)

  /** Bucket ids holding at least one TOMBSTONE (w < 0) row among the
    * visible batches — the touched set [[partialCompactBucketedTo]]
    * rewrites. Bucket id = pmod(hash(keys), n): the same Murmur3 the
    * bucketed write uses (the repartition-alignment argument), so the
    * predicate computes real bucket membership. Bounded collect
    * (≤ numBuckets ints). */
  def tombstonedBuckets(spark: SparkSession, table: String,
                        bucketCols: Seq[String], numBuckets: Int,
                        visibleB: Seq[Long]): Seq[Int] =
    spark.table(table)
      .filter(Generations.visibleIn(visibleB) && col("w") < 0)
      .select(pmod(hash(bucketCols.map(col): _*), lit(numBuckets))
        .as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** PARTIAL compaction — the delta-proportional sibling of
    * [[compactBucketedTo]]: rewrite ONLY `buckets` (net-fold over
    * `visibleB`, survivors restamped b = 0, one file per touched
    * bucket) and COPY every other bucket's files into the new table's
    * directory byte-for-byte, names preserved (the `_NNNNN` bucket id
    * in the file name is the bucket spec's, identical across
    * generations). Rewrite cost tracks the TOMBSTONED mass, not the
    * corpus — the 100 TB steady state where a day's takedowns touch a
    * sliver of a doc-keyed table. The caller must make the copied
    * rows' original batch ids visible in the new generation (carry
    * their commits over BEFORE the b0 flip — the committedState b0
    * rule keeps the carry-over invisible until the flip); orphan rows
    * riding along in copied files stay invisible exactly as before
    * (their b is never committed). SINGLE-MAINTENANCE-WRITER contract:
    * the fold and the carry both read a point-in-time snapshot of the
    * source, so a batch committed concurrently would be silently
    * dropped from the new generation — callers must re-resolve
    * [[Generations.committedState]] immediately before their b0 flip
    * and abort on drift ([[Generations.rebuild]] does).
    * Untouched buckets keep their
    * one-file-per-batch layout — partial compaction bounds tombstone
    * mass, FULL compaction bounds file count; a maintenance schedule
    * alternates them by [[graft.sources.Bm25Index.deadFractionPct]]-
    * style gates.
    *
    * Degradation note (honest): for TERM-keyed tables a deleted doc
    * touches one bucket per distinct term, so a takedown of ordinary
    * documents tombstones most term buckets and partial ≈ full; the
    * win is structural for ID-keyed tables (doclens, dedup hashes),
    * where touched buckets ∝ deleted docs. */
  def partialCompactBucketedTo(spark: SparkSession, from: String,
                               to: String, bucketCols: Seq[String],
                               numBuckets: Int, visibleB: Seq[Long],
                               buckets: Seq[Int]): Unit = {
    val df = spark.table(from)
    val wh = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath)
    val srcDir = new org.apache.hadoop.fs.Path(wh, from)
    val dstDir = new org.apache.hadoop.fs.Path(wh, to)
    val conf = spark.sessionState.newHadoopConf()
    val fs = srcDir.getFileSystem(conf)
    val touched = buckets.toSet
    // split the source's files by the bucket id in their NAME: the
    // rewrite reads ONLY the touched buckets' files (a filter over the
    // logical table would scan everything just to recompute the hash),
    // so the fold cost tracks the touched share, not the corpus
    val (rewriteFiles, carryFiles) = fs.listStatus(srcDir).toSeq
      .map(_.getPath).filter(p => bucketIdOf(p.getName) >= 0)
      .partition(p => touched(bucketIdOf(p.getName)))
    val touchedRows =
      if (rewriteFiles.isEmpty) df.filter(lit(false))
      else spark.read.schema(df.schema)
        .parquet(rewriteFiles.map(_.toString): _*)
    writeBucketed(netFold(touchedRows, visibleB), to, bucketCols, numBuckets,
      "overwrite")
    // CARRY the untouched buckets' files. Moving their bytes would
    // cost what the skipped rewrite costs (the partial-ab probe
    // measured the byte-copy variant at ~0.75x of FULL — a loss), so
    // the carry must be metadata-priced per store: a HARD LINK on
    // POSIX local filesystems (data files are immutable once written,
    // and gc's directory delete just drops one name off the inode), a
    // server-side copy on object stores (S3 CopyObject moves no
    // client bytes), distcp or a reference manifest on HDFS. Only the
    // local link is implemented here — other schemes fall back to the
    // byte copy, honestly priced.
    carryFiles.foreach { p =>
      val dst = new org.apache.hadoop.fs.Path(dstDir, p.getName)
      val linked = fs.getScheme == "file" && {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(p.toUri.getPath))
          true
        } catch { case _: java.io.IOException => false }
      }
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, dst, false, conf)
    }
    // the writeBucketed above registered the table; the out-of-band
    // carries need the cached file listing dropped
    spark.catalog.refreshTable(to)
  }

  /** PACKED-SHARD writer — the delivery leg of the mix→pack pipeline:
    * the packed-instance manifest lands as REAL partitioned files, one
    * parquet file per shard directory, the layout a trainer's
    * dataloader consumes. `repartition` on the partition keys
    * co-locates each shard's rows in one task, so `partitionBy` emits
    * exactly ONE file per shard dir (the compactBucketedTo alignment
    * argument); a shard is bounded by the packer's seqs-per-shard
    * contract, so each file is a bounded delivery unit and the
    * repartition width = shard count — the dimension that scales out
    * with the corpus. Overwrite mode: a re-run replaces the delivery
    * atomically at the directory level (the generation-manifest
    * discipline applies when shards need concurrent-reader safety).
    */
  def writeShards(df: DataFrame, path: String,
                  parts: Seq[String]): Unit = {
    require(parts.nonEmpty, "shard write needs at least one key")
    df.repartition(parts.map(col): _*)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(path)
  }

  /** Morton (Z-order) value: interleave the low `bits` of two
    * non-negative int columns, a in the even positions, b in the odd —
    * pure Column arithmetic (shift/and/or), stays in whole-stage
    * codegen. Nearby (a, b) points land near each other in z-value
    * order, which is what makes [[writeZOrdered]]'s min/max stats
    * selective on BOTH dimensions at once.
    */
  def zValue(a: Column, b: Column, bits: Int = 20): Column = {
    // CONTRACT: both dims must already fit in `bits` non-negative bits
    // — the interleave reads only the low bits, so an oversized dim
    // (a raw epoch, a hash) silently WRAPS and destroys the locality
    // the layout exists for. Normalize first: rank, bucket, or offset
    // from a corpus epoch (q120 does the latter).
    require(bits >= 1 && bits <= 31, s"bits must be 1..31, got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ORDERED writer — the multi-dimensional clustering layout
    * (Delta OPTIMIZE ZORDER's shape, as a plain parquet write): range-
    * partition + sort the rows by the Morton value of two filter
    * dimensions, so every output file's parquet min/max stats are
    * tight on BOTH columns and a scan filtering on either (or both)
    * prunes whole files. A single-column sort gives tight stats on one
    * dimension and useless ones on the other; z-order trades a little
    * of each for pruning on both — the standard layout for a 100 TB
    * fact table queried by (tenant, time), (user, time), (geo, time).
    * SCALING.md's zorder-ab probe row measures the pruning win; ZOrderSpec
    * pins the interleave math and the locality property.
    *
    * `numFiles` is the pruning granularity knob: files ≈ row-groups
    * here (each partition one file), and pruning can never skip finer
    * than a file.
    */
  def writeZOrdered(df: DataFrame, path: String, dimA: Column,
                    dimB: Column, numFiles: Int = 64,
                    bits: Int = 20): Unit =
    df.withColumn("_z", zValue(dimA, dimB, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
}
