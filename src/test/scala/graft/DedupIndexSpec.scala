package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DedupIndex

/** The standing-index lifecycle (bootstrap → append → screen) must be
  * bit-equal to the snapshot-rebuild twins (q92/q97) AND keep the
  * corpus side of every screen join exchange-free — the 100 TB claim:
  * an increment pays its own hashing and shuffling, the standing corpus
  * is only ever read in place.
  */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"
  private val prefix = "tidx"

  // bootstrap from the 60% standing corpus, fold batch N in via append —
  // the old side the screens see is exactly doc_id % 5 != 4
  private lazy val indexed: Unit = {
    val docs = Tables.documents(spark, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id", "text",
      prefix)
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", prefix)
  }

  private def batch = Tables.documents(spark, d)
    .filter(col("doc_id") % 5 === 4)

  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame): Unit = {
    val (ra, rb) = (a.collect().toSeq, b.collect().toSeq)
    assert(ra.nonEmpty && ra == rb,
      s"lifecycle result diverged from snapshot twin " +
        s"(${ra.size} vs ${rb.size} rows)")
  }

  test("screenNearDup over write+append is bit-equal to incrementalNearDup") {
    indexed
    assertSameRows(
      DedupIndex.screenNearDup(spark, batch, "doc_id", "text", prefix),
      TextOps.incrementalNearDup(Tables.documents(spark, d), "doc_id",
        "text", col("doc_id") % 5 === 4))
  }

  test("screenExact over write+append is bit-equal to incrementalExactDedup") {
    indexed
    assertSameRows(
      DedupIndex.screenExact(spark, batch, "doc_id", "text", prefix),
      TextOps.incrementalExactDedup(Tables.documents(spark, d), "doc_id",
        "text", col("doc_id") % 5 === 4))
  }

  test("screen joins plan ZERO corpus-side exchanges (bucketed index)") {
    indexed
    // force the at-scale SMJ shape — tiny test tables would broadcast
    // and trivially hide a corpus shuffle
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val near = DedupIndex.screenNearDup(spark, batch, "doc_id", "text",
        prefix).queryExecution.executedPlan.toString
      // band probe: ONE exchange on (band, key) — the increment's; the
      // bucketed g98-style bands table satisfies the distribution as read
      assert("Exchange hashpartitioning\\(band".r
        .findAllIn(near).size == 1, s"band probe corpus side shuffled:\n$near")
      // Jaccard verify: ONE exchange on old_id — the candidate side's;
      // the doc_id-bucketed shset table reads in place
      assert("Exchange hashpartitioning\\(old_id".r
        .findAllIn(near).size == 1, s"verify corpus side shuffled:\n$near")
      assert(near.contains(s"${prefix}_bands") &&
        near.contains(s"${prefix}_shsets"), near)

      val exact = DedupIndex.screenExact(spark, batch, "doc_id", "text",
        prefix).queryExecution.executedPlan.toString
      // in-bucket min + probe join: the only content_hash exchange is
      // the increment's — the log-structured hash table aggregates and
      // joins inside its buckets
      assert("Exchange hashpartitioning\\(content_hash".r
        .findAllIn(exact).size == 1,
        s"exact screen corpus side shuffled:\n$exact")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("append is a pure row-append: bucket files accumulate, no rewrite") {
    indexed
    val loc = new java.io.File(s"spark-warehouse/${prefix}_hashes")
    val files = loc.listFiles().filter(_.getName.endsWith(".parquet"))
    // two ingests (bootstrap + batch N) over 32 buckets: every bucket
    // file belongs to one ingest generation; append never rewrote the
    // bootstrap's files (their count survives)
    assert(files.nonEmpty && files.length > DedupIndex.Buckets / 2,
      s"expected per-ingest bucket files, found ${files.length}")
  }

  // ---------------------------------------- delete + compact lifecycle

  /** bootstrap → append → delete HALF the appended batch: the live set
    * the screens must answer for is % 5 <= 2 OR % 10 == 8 (the q129/
    * q130 membership) — a partial takedown, so both the tombstoned and
    * the surviving appended docs are exercised.
    */
  private val delPrefix = "tdel"
  private lazy val deleted: Unit = {
    val docs = Tables.documents(spark, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id", "text",
      delPrefix)
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", delPrefix)
    DedupIndex.delete(docs.filter(col("doc_id") % 10 === 3), "doc_id",
      "text", delPrefix)
  }

  /** The never-inserted-corpus twin: the snapshot operators run over
    * ONLY the live docs plus the probe batch.
    */
  private def liveUnionBatch = Tables.documents(spark, d)
    .filter(col("doc_id") % 5 <= 2 || col("doc_id") % 10 === 8 ||
      col("doc_id") % 5 === 4)

  test("delete tombstones: screens answer as if deleted docs were never " +
      "inserted") {
    deleted
    assertSameRows(
      DedupIndex.screenNearDup(spark, batch, "doc_id", "text", delPrefix),
      TextOps.incrementalNearDup(liveUnionBatch, "doc_id", "text",
        col("doc_id") % 5 === 4))
    assertSameRows(
      DedupIndex.screenExact(spark, batch, "doc_id", "text", delPrefix),
      TextOps.incrementalExactDedup(liveUnionBatch, "doc_id", "text",
        col("doc_id") % 5 === 4))
  }

  test("compact: one file per bucket, screens bit-equal before and after") {
    deleted
    val near0 = DedupIndex.screenNearDup(spark, batch, "doc_id", "text",
      delPrefix).collect().toSeq
    val exact0 = DedupIndex.screenExact(spark, batch, "doc_id", "text",
      delPrefix).collect().toSeq
    DedupIndex.compact(spark, delPrefix)
    // three write batches (bootstrap, append, tombstones) collapse
    // to exactly one file per bucket in every table — compaction now
    // lands in the NEXT generation's physical tables, resolved
    // through the manifest
    for (t <- Seq("bands", "shsets", "hashes")) {
      val phys = graft.sources.Generations.physicalFor(spark, delPrefix, t)
      val loc = new java.io.File(s"spark-warehouse/$phys")
      val files = loc.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == DedupIndex.Buckets,
        s"$phys: expected ${DedupIndex.Buckets} files " +
          s"(one per bucket), found ${files.length}")
    }
    // tombstone-cancelled rows are physically GONE, not just folded:
    // the compacted hash table holds exactly the live rows
    val liveRows = Tables.documents(spark, d)
      .filter(col("doc_id") % 5 <= 2 || col("doc_id") % 10 === 8)
      .count()
    assert(spark.table(graft.sources.Generations
        .physicalFor(spark, delPrefix, "hashes")).count() == liveRows,
      "compaction left non-live rows on disk")
    val near1 = DedupIndex.screenNearDup(spark, batch, "doc_id", "text",
      delPrefix).collect().toSeq
    val exact1 = DedupIndex.screenExact(spark, batch, "doc_id", "text",
      delPrefix).collect().toSeq
    assert(near0.nonEmpty && near0 == near1,
      "near-dup screen diverged across compaction")
    assert(exact0.nonEmpty && exact0 == exact1,
      "exact screen diverged across compaction")
  }

  test("compacted tables keep the bucket layout: screen plans stay " +
      "corpus-side exchange-free") {
    deleted
    DedupIndex.compact(spark, delPrefix)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val near = DedupIndex.screenNearDup(spark, batch, "doc_id", "text",
        delPrefix).queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(band".r
        .findAllIn(near).size == 1,
        s"post-compaction band probe corpus side shuffled:\n$near")
      assert("Exchange hashpartitioning\\(old_id".r
        .findAllIn(near).size == 1,
        s"post-compaction verify corpus side shuffled:\n$near")
      val exact = DedupIndex.screenExact(spark, batch, "doc_id", "text",
        delPrefix).queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(content_hash".r
        .findAllIn(exact).size == 1,
        s"post-compaction exact screen corpus side shuffled:\n$exact")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partial compaction: a one-doc takedown rewrites at most its " +
    "own buckets (≤ 1 per id-keyed table, ≤ bands for the band " +
    "table), removes the dead rows physically, and screens stay " +
    "bit-equal to a full compact") {
    val p = "tpar"
    val docs = Tables.documents(spark, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id",
      "text", p)
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", p)
    // exactly ONE takedown doc — the narrow GDPR shape the partial
    // pass exists for
    val victim = docs.filter(col("doc_id") % 5 === 3).limit(1)
      .select("doc_id", "text")
    val victimId = victim.head().getLong(0)
    DedupIndex.delete(victim, "doc_id", "text", p)
    def near() = DedupIndex.screenNearDup(spark, batch, "doc_id",
      "text", p).collect().toSeq
    def exact() = DedupIndex.screenExact(spark, batch, "doc_id",
      "text", p).collect().toSeq
    val (near0, exact0) = (near(), exact())
    val rewritten = DedupIndex.compactPartial(spark, p)
    // touched sets are TAKEDOWN-sized: one hash bucket, one shset
    // bucket, at most one band bucket per band of the victim
    assert(rewritten("hashes") <= 1 && rewritten("shsets") <= 1,
      s"id-keyed tables over-rewrote: $rewritten")
    assert(rewritten("bands") < DedupIndex.Buckets,
      s"band table rewrote every bucket for one doc: $rewritten")
    assert(near() == near0, "near screen diverged across partial compact")
    assert(exact() == exact0, "exact screen diverged across partial compact")
    // physical removal where it should: the victim's hash row is gone
    // from the rewritten bucket (and from the live fold, trivially)
    val physH = graft.sources.Generations.physicalFor(spark, p, "hashes")
    assert(spark.table(physH).filter(col("doc_id") === victimId)
        .groupBy("content_hash", "doc_id")
        .agg(sum(col("w")).as("net")).filter(col("net") > 0).isEmpty,
      "victim still live after partial compact")
    assert(spark.table(physH)
        .filter(col("doc_id") === victimId && col("w") < 0).isEmpty,
      "victim's tombstone rows survived the touched-bucket rewrite")
    Caches.clear()
  }

  test("writer-pinned bucket count: a non-default count threads " +
    "through append/delete/partial+full compaction — bucket-id math " +
    "and file counts follow the manifest, screens stay bit-equal") {
    val p = "tbk8"
    val nb = 8
    val docs = Tables.documents(spark, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2), "doc_id",
      "text", p, buckets = nb)
    assert(graft.sources.Generations.bucketsOf(spark, p) == nb,
      "bootstrap did not pin the bucket count in the manifest")
    // append and delete must resolve the pinned 8, not the default 32
    // — a mismatched count would write files whose NAME-encoded bucket
    // id disagrees with the fold's hash math and the partial pass
    // below would rewrite the wrong files, leaving tombstones live
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", p)
    val victim = docs.filter(col("doc_id") % 5 === 3).limit(1)
      .select("doc_id", "text")
    val victimId = victim.head().getLong(0)
    DedupIndex.delete(victim, "doc_id", "text", p)
    def near() = DedupIndex.screenNearDup(spark, batch, "doc_id",
      "text", p).collect().toSeq
    val near0 = near()
    val rewritten = DedupIndex.compactPartial(spark, p)
    assert(rewritten.values.forall(_ <= nb), s"over-rewrote: $rewritten")
    val physH = graft.sources.Generations.physicalFor(spark, p, "hashes")
    assert(spark.table(physH)
        .filter(col("doc_id") === victimId && col("w") < 0).isEmpty,
      "tombstone survived — partial pass used the wrong bucket count")
    assert(near() == near0,
      "screen diverged across partial compact at 8 buckets")
    DedupIndex.compact(spark, p)
    for (t <- Seq("bands", "shsets", "hashes")) {
      val phys = graft.sources.Generations.physicalFor(spark, p, t)
      val files = new java.io.File(s"spark-warehouse/$phys")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == nb,
        s"$phys: expected $nb files (one per pinned bucket), " +
          s"found ${files.length}")
    }
    assert(near() == near0,
      "screen diverged across full compact at 8 buckets")
    Caches.clear()
  }

  test("a bucketed index whose buckets_N marker is gone refuses to " +
      "append, naming its manifest") {
    val p = "tbkgone"
    val docs = Tables.documents(spark, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
      p, buckets = 4)
    val manifest = graft.sources.Generations.manifestT(p)
    val marker = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.sessionState.conf.warehousePath,
        manifest), "buckets_4")
    assert(marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false), s"no $marker to delete")
    val e = intercept[IllegalArgumentException](
      DedupIndex.append(docs.filter(col("doc_id") % 5 === 1), "doc_id",
        "text", p))
    assert(e.getMessage.contains(manifest), e.getMessage)
    Caches.clear()
  }

  test("visible batches bind as data: a warm screen compiles nothing " +
      "after one more committed batch, and the scan still pushes In(b)") {
    val p = "tbind"
    val docs = Tables.documents(spark, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 1), "doc_id", "text",
      p)
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 2), "doc_id",
      "text", p)
    def screen() = DedupIndex.screenNearDup(spark, batch, "doc_id",
      "text", p)
    // the first call caches the batch's shingle sets, the second reads
    // them: the plan a warm call runs
    for (_ <- 1 to 2) screen().write.format("noop").mode("overwrite").save()
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), "doc_id",
      "text", p)
    val c0 = graft.tools.Profile.compiles()
    val warm = screen()
    warm.write.format("noop").mode("overwrite").save()
    val compiled = graft.tools.Profile.compiles() - c0
    val plan = warm.queryExecution.executedPlan.toString
    assert(compiled == 0, s"warm screen compiled $compiled classes:\n$plan")
    // the fold's filter holds the ids as a set, not as inlined literals
    assert("b#\\d+L INSET ".r.findFirstIn(plan).nonEmpty, plan)
    assert(plan.contains("In(b, [0,1,2])"), plan)
    Caches.clear()
  }
}
