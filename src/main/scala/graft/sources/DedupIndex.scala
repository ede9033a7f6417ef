package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Caches, TextOps}

/** Standing-index lifecycle for the incremental dedup screens — the
  * production piece [[graft.TextOps.incrementalNearDup]] /
  * [[graft.TextOps.incrementalExactDedup]] deliberately leave out (they
  * rebuild the old side from the snapshot per run; fine for one query,
  * wrong for a daily ingest over a 100 TB corpus that must not re-hash
  * itself every increment).
  *
  * Three bucketed tables per index (reference-analog: the monthly
  * re-crawl merge state, reid/pipelines/property.py:96-126, kept at
  * corpus scale; the delete path is the analog of the reference's
  * queue-driven delisting, api/routers/queue_routes.py:61-117, whose
  * index rows are mutable — ours are immutable, so removal is a
  * tombstone):
  *
  *  - `<prefix>_bands`  (doc_id, band, key, w)    bucketed by (band, key)
  *  - `<prefix>_shsets` (doc_id, shset, w)        bucketed by doc_id
  *  - `<prefix>_hashes` (content_hash, doc_id, w) bucketed by content_hash
  *
  * Bucketing IS the design: each screen join's corpus side reads
  * pre-partitioned on its join key, so the only Exchange in the probe
  * plan is the increment's own (PlanShapeSpec pins this). All three
  * tables are LOG-STRUCTURED with a weight column `w`: [[append]]
  * writes the projection with w = +1 and [[delete]] re-projects the
  * SAME rows with w = -1 (pure row-appends in every case — no
  * read-modify-write, so ingest and takedown never rewrite corpus
  * data). Every screen folds the log on read with an IN-BUCKET
  * aggregate (`sum(w) > 0` grouped on keys that lead with the bucket
  * key), so liveness filtering costs zero Exchange — the LSM-tree
  * delete-tombstone discipline expressed as bucketed parquet.
  *
  * [[compact]] is the offline maintenance pass that keeps the log
  * honest at 100 TB: a daily ingest adds one file per bucket per batch
  * forever, so compaction periodically nets the log (dropping
  * tombstone-cancelled rows entirely — the takedown/GDPR guarantee
  * that deleted content eventually leaves disk, not just the query
  * results) and rewrites each table to exactly one file per bucket.
  * Screens are bit-equal before and after (DedupIndexSpec pins both
  * the file count and the equality; q129/q130 gate the full
  * bootstrap → append → delete → compact → screen lifecycle against
  * the never-inserted-corpus oracle).
  *
  * Single-writer-batch posture, like [[Sinks.constrainedAppend]]:
  * concurrent appends would need a transactional table format. What IS
  * transactional — via the [[Generations]] manifest every read and
  * write brackets — is each batch against readers and crashes: a
  * multi-table ingest or takedown becomes visible through one commit
  * marker, and [[compact]] builds the next table generation fully
  * before flipping, so a reader never sees a missing table or half a
  * batch.
  */
object DedupIndex {

  /** DEFAULT bucket count: sized to the local parallelism; on a real
    * cluster this is a deployment knob (buckets ≥ executor cores, and
    * the probe side's shuffle lands on exactly this many partitions).
    * [[write]] takes the actual count and PINS it in the generation
    * manifest ([[Generations.bootstrap]]); every later append/delete/
    * compaction resolves the writer's count from there — a reader or
    * maintenance pass guessing a different count would compute wrong
    * bucket ids. The partial-compaction law (SCALING.md partial-ab:
    * touched share ≈ deletes × bands / buckets) is unsatisfiable with
    * a constant 32 at 100 TB — deployments size this into the
    * thousands.
    */
  val Buckets = 32

  private[graft] val Logicals = Seq("bands", "shsets", "hashes")

  /** The per-increment hashing pass shared by [[write]], [[append]]
    * and [[delete]]: one persisted projection feeds the band rows, the
    * shingle-set rows and the content-hash rows, so a document is
    * tokenized and hashed exactly once per ingest (and a takedown
    * re-derives tombstones that match its insert bit-for-bit).
    */
  private def project(docs: DataFrame, idCol: String, textCol: String,
                      w: Int): (DataFrame, DataFrame, DataFrame) = {
    val sh = Caches.persistTracked(docs.select(col(idCol).as("doc_id"),
      TextOps.hashedShingleSet(col(textCol)).as("shset"),
      md5(col(textCol)).as("content_hash")))
    (TextOps.bandedKeys(sh.select("doc_id", "shset"), "doc_id")
       .withColumn("w", lit(w)),
      sh.select("doc_id", "shset").withColumn("w", lit(w)),
      sh.select("content_hash", "doc_id").withColumn("w", lit(w)))
  }

  private def bucketColsOf(logical: String): Seq[String] = logical match {
    case "bands"  => Seq("band", "key")
    case "shsets" => Seq("doc_id")
    case _        => Seq("content_hash")
  }

  /** Write one batch's rows — stamped with its manifest batch id `b` —
    * into generation `gen`'s physical tables, at the writer-pinned
    * bucket count. Callers run it inside a [[Generations]] bracket;
    * rows written here are invisible until the commit marker lands. */
  private def writeAll(docs: DataFrame, idCol: String, textCol: String,
                       prefix: String, w: Int)(gen: Long, b: Long): Unit = {
    val nb = Generations.bucketsOf(docs.sparkSession, prefix)
    val (bn, s, h) = project(docs, idCol, textCol, w)
    def one(df: DataFrame, logical: String): Unit =
      Sinks.writeBucketed(df.withColumn("b", lit(b)),
        Generations.physical(prefix, logical, gen),
        bucketColsOf(logical), nb, Generations.modeOf(b))
    // bands first, alone — it materializes the shared hashing
    // projection; shsets/hashes then read the cache and overlap
    // ([[Sinks.inParallel]], guide §2.6)
    one(bn, "bands")
    Sinks.inParallel(Seq(
      () => one(s, "shsets"),
      () => one(h, "hashes")))
  }

  /** (Re)build the standing index from a corpus snapshot — the one-time
    * bootstrap write ([[Sinks.writeBucketed]] purges any stale location
    * from a previous session). Steady state never calls this again:
    * increments fold in via [[append]], takedowns via [[delete]].
    */
  def write(docs: DataFrame, idCol: String, textCol: String,
            prefix: String, buckets: Int = Buckets): Unit =
    Generations.bootstrap(docs.sparkSession, prefix, Some(buckets))(
      writeAll(docs, idCol, textCol, prefix, w = 1))

  /** Fold an accepted increment into the standing index. Appends only —
    * each batch adds one file per bucket and the corpus is never
    * rewritten; Spark unions bucket files at read, so the bucketed
    * read-side guarantee survives any number of appends. The batch is
    * ATOMIC: all three tables' rows carry one manifest batch id, made
    * visible by a single commit marker — a crash mid-write leaves
    * only invisible orphans ([[Generations]]). Run [[compact]]
    * periodically to bound the accumulated file count.
    */
  def append(increment: DataFrame, idCol: String, textCol: String,
             prefix: String): Unit =
    Generations.batch(increment.sparkSession, prefix)(
      writeAll(increment, idCol, textCol, prefix, w = 1))

  /** Remove documents from the standing index — the takedown/GDPR path.
    * The caller supplies the SAME (id, text) rows it inserted (a
    * takedown batch reads them back from the corpus snapshot); the
    * projection re-derives exactly the band/shingle/hash rows the
    * insert wrote and appends them with w = -1, so every screen's
    * in-bucket `sum(w) > 0` fold nets them to dead. Pure row-appends —
    * a takedown is as cheap as an ingest and never touches corpus
    * files; [[compact]] later reclaims the bytes.
    */
  def delete(docs: DataFrame, idCol: String, textCol: String,
             prefix: String): Unit =
    Generations.batch(docs.sparkSession, prefix)(
      writeAll(docs, idCol, textCol, prefix, w = -1))

  /** Compact all three of an index's tables to one file per bucket,
    * physically dropping tombstone-cancelled rows and crashed batches'
    * orphans. The rewrite lands in the NEXT generation's tables while
    * readers keep the current one; ONE manifest commit marker flips
    * visibility, then the old generation is garbage-collected — no
    * missing-table or mixed-generation window at any point
    * (GenerationsSpec pins search-during-compaction equality). A batch
    * committed during the rewrite aborts the flip
    * ([[Generations.rebuild]]). */
  def compact(spark: SparkSession, prefix: String): Unit =
    Generations.rebuild(spark, prefix, Logicals)(compactInto(spark, prefix))

  /** PARTIAL compaction — the takedown-proportional maintenance pass
    * ([[Sinks.partialCompactBucketedTo]]; [[Bm25Index.compactPartial]]
    * is the sibling): rewrite only the buckets the delete log touched,
    * copy every other bucket's files byte-for-byte into the next
    * generation, carry the old batch ids across as pre-flip commits,
    * flip on the b0 commit. For THIS index the win is structural in
    * all three tables — they are keyed by content_hash / doc_id /
    * (band, key), so a takedown of K docs tombstones at most K, K,
    * and K·bands buckets respectively, independent of corpus size:
    * the physical-removal (GDPR) pass WRITES ∝ the takedown, not the
    * corpus. Honest wall-clock caveat (SCALING.md partial-ab): below
    * ~10M rows the pass is job-overhead-bound and partial LOSES to a
    * straight full rewrite (~0.77×); the win needs rewrite work ≫
    * fixed job cost and bucket counts ≫ deletes × bands — the 100 TB
    * regime, not a 32-bucket local index. Untouched buckets keep
    * their one-file-per-batch layout; a periodic FULL [[compact]]
    * still bounds file count.
    * @return rewritten-bucket count per logical table (spec gate) */
  def compactPartial(spark: SparkSession,
                     prefix: String): Map[String, Int] =
    Generations.rebuild(spark, prefix, Logicals, carry = true)(
      Sinks.partialCompactLegs(spark, prefix, Logicals, bucketColsOf,
        Generations.bucketsOf(spark, prefix), _, _))

  /** [[compact]]'s build: the full rewrite of committed state `st` into
    * generation `ng`, no commit — the closure [[compact]] hands to
    * [[Generations.rebuild]], which GenerationsSpec wraps to read and
    * fail between build and flip. */
  private[graft] def compactInto(spark: SparkSession, prefix: String)(
      st: (Long, Seq[Long]), ng: Long): Unit =
    Sinks.compactLegs(spark, prefix, Logicals, bucketColsOf,
      Generations.bucketsOf(spark, prefix), st, ng)

  /** Screen a new batch against the standing index: banded-LSH
    * candidates from the index only, exact-Jaccard verify against the
    * stored shingle sets, best-match verdict at `threshold` — bit-equal
    * to [[graft.TextOps.incrementalNearDup]] over the same live
    * membership (the q98-vs-q92 gate; q129 adds the delete leg). The
    * increment is hashed here, once; the corpus side is only ever read,
    * with the tombstone fold running inside its buckets.
    */
  def screenNearDup(spark: SparkSession, batch: DataFrame, idCol: String,
                    textCol: String, prefix: String,
                    threshold: Double = 0.8): DataFrame = {
    val st = Generations.committedState(spark, prefix)
    val newSh = Caches.persistTracked(batch.select(col(idCol).as("doc_id"),
      TextOps.hashedShingleSet(col(textCol)).as("shset")))
    TextOps.incrementalNearDupProbe(
      Generations.live(spark, prefix, "bands", st,
          Seq("band", "key", "doc_id"))
        .select(col("doc_id").as("old_id"), col("band"), col("key")),
      Generations.live(spark, prefix, "shsets", st,
        Seq("doc_id", "shset")),
      newSh, threshold)
  }

  /** Screen a new batch against the standing hash table — bit-equal to
    * [[graft.TextOps.incrementalExactDedup]] over the same live
    * membership (the q99-vs-q97 gate; q130 adds the delete leg). The
    * canonical id is re-derived as an in-bucket `min(doc_id)` per hash
    * over the tombstone-folded table: the fold, the min aggregate and
    * the probe join all key on `content_hash`, the bucket key, so the
    * corpus side plans zero Exchanges.
    */
  def screenExact(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, prefix: String): DataFrame = {
    val st = Generations.committedState(spark, prefix)
    val oldCanon = Generations.live(spark, prefix, "hashes", st,
        Seq("content_hash", "doc_id"))
      .groupBy("content_hash").agg(min(col("doc_id")).as("canonical_id"))
    batch.select(col(idCol).as("doc_id"),
        md5(col(textCol)).as("content_hash"))
      .join(oldCanon, Seq("content_hash"), "left_outer")
      .select(col("doc_id"), col("content_hash"), col("canonical_id"),
        col("canonical_id").isNotNull.as("is_known"))
      .orderBy("doc_id")
  }
}
