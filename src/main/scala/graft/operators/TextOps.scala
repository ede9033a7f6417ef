package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over text corpora: exact/near dedup
  * (MinHash-LSH, SimHash, n-gram Jaccard), fingerprinting and text
  * analysis (token stats, language heuristic, quality score).
  *
  * Scale discipline: every candidate-pair generator is bucketed (LSH band
  * buckets, metadata blocks) — never an all-pairs crossJoin; at 100 TB the
  * only shuffles are on bucket keys whose fan-out is bounded by design
  * (band width, block size). Hashing is md5-prefix so the DuckDB oracle
  * can reproduce values bit-for-bit.
  */
object TextOps {

  /** 28-bit deterministic hash both engines can compute: fold the first 7
    * hex chars of md5.
    */
  def hash7(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Exact dedup MODULO UNICODE NORMALIZATION (q199): the crawler-dup
    * shape byte-exact dedup structurally misses — the same page served
    * with precomposed vs decomposed accents (NFC vs NFD), zero-width
    * code points injected by templating, NBSP-vs-space drift.
    * Canonicalize each text ([[graft.functions.Udfs.normalizeUnicode]]:
    * strip ZWSP/ZWNJ/ZWJ/BOM, NBSP→space, NFC), then group on the
    * md5 OF THE CANONICAL FORM — the shuffle key is a 32-char digest,
    * never the document body, so the agg+join shuffles stay narrow at
    * 100 TB exactly like the exact-dedup family (q13's posture).
    * Output per doc: the canonical key, whether normalization changed
    * the text, the cluster size, and the cluster's min-id canonical
    * doc. Collision risk is md5's (the exact-dedup family's standing
    * argument). */
  /** Inverse CP1252 map for the 0x80–0x9F block — the 27 code points
    * Windows-1252 assigns where Latin-1 has C1 controls. Real-web
    * double-encoding is overwhelmingly CP1252, not pure Latin-1: the
    * smart-quote mojibake "\u00E2\u20AC\u0153" carries U+20AC/U+0153,
    * whose damaged bytes sat at 0x80/0x9C. A char above 0xFF that is
    * NOT in this map means the text cannot be a single-byte
    * mis-decode at all — pass through. */
  private val cp1252Inv: Map[Char, Byte] = Map(
    '\u20AC' -> 0x80, '\u201A' -> 0x82, '\u0192' -> 0x83,
    '\u201E' -> 0x84, '\u2026' -> 0x85, '\u2020' -> 0x86,
    '\u2021' -> 0x87, '\u02C6' -> 0x88, '\u2030' -> 0x89,
    '\u0160' -> 0x8A, '\u2039' -> 0x8B, '\u0152' -> 0x8C,
    '\u017D' -> 0x8E, '\u2018' -> 0x91, '\u2019' -> 0x92,
    '\u201C' -> 0x93, '\u201D' -> 0x94, '\u2022' -> 0x95,
    '\u2013' -> 0x96, '\u2014' -> 0x97, '\u02DC' -> 0x98,
    '\u2122' -> 0x99, '\u0161' -> 0x9A, '\u203A' -> 0x9B,
    '\u0153' -> 0x9C, '\u017E' -> 0x9E, '\u0178' -> 0x9F
  ).map { case (c, b) => c -> b.toByte }

  /** The q203 mojibake-repair kernel (plain-function form — the UDF
    * wrapper is [[graft.functions.Udfs.fixMojibake]], whose scaladoc
    * carries the rule): reconstruct the pre-mis-decode byte string —
    * chars ≤ 0xFF as their Latin-1 byte, chars in [[cp1252Inv]] as
    * their CP1252 0x80–0x9F byte (the decoder that did the damage is
    * in practice WHATWG windows-1252: defined slots yield wide
    * punctuation, the five undefined slots pass as C1 controls, and
    * this inverse handles both) — and repair ONLY when those bytes
    * are strictly valid UTF-8. Pure ASCII, genuine wide Unicode
    * outside the CP1252 block, legitimate Latin-1 whose bytes cannot
    * parse as UTF-8, and genuine smart-quote text (its mapped 0x93
    * byte is a continuation byte — never a valid lead) all pass
    * through unchanged. */
  def fixMojibake(s: String): String = {
    if (s == null) null
    else if (s.forall(c => c < 0x80)) s
    else {
      val bytes = new Array[Byte](s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c <= 0xff) bytes(i) = c.toByte
        else cp1252Inv.get(c) match {
          case Some(b) => bytes(i) = b
          case None => return s
        }
        i += 1
      }
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      catch {
        case _: java.nio.charset.CharacterCodingException => s
      }
    }
  }

  def unicodeNormalizedDedup(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val keyed = docs.select(col(idCol),
      graft.functions.Udfs.normalizeUnicode(col(textCol)).as("norm"),
      col(textCol).as("raw"))
      .select(col(idCol), md5(col("norm")).as("norm_key"),
        (col("norm") =!= col("raw")).as("changed"))
    val clusters = keyed.groupBy("norm_key")
      .agg(count(lit(1)).as("dup_count"),
        min(col(idCol)).as("canonical_id"))
    keyed.join(clusters, Seq("norm_key"))
      .select(col(idCol), col("changed"), col("norm_key"),
        col("dup_count"), col("canonical_id"))
      .orderBy(idCol)
  }

  /** Symmetrize an (a, b, measures…) pair frame into both directions in
    * ONE pass: a union of two selects over the pair frame would
    * re-evaluate the candidate join + per-pair verify kernel once per
    * branch (Spark has no cross-branch subplan reuse) — explode emits
    * (a→b) and (b→a) from a single evaluation. Used by every pairwise
    * operator (MinHash/SimHash/cosine best-partner, dup-cluster
    * adjacency).
    */
  private[graft] def symmetrize(pairs: DataFrame, outId: String,
                                outPartner: String,
                                measures: String*): DataFrame = {
    def side(id: Column, partner: Column) = struct(
      id.as(outId) +: partner.as(outPartner) +: measures.map(col): _*)
    pairs.select(explode(array(
      side(col("a"), col("b")), side(col("b"), col("a")))).as("e"))
      .select((outId +: outPartner +: measures).map(f => col(s"e.$f")): _*)
  }

  /** Whitespace word array. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Hashed shingle SET: sorted distinct 28-bit hashes of the word
    * n-grams. This is the per-pair currency of the near-dup verifiers:
    * the md5 runs ONCE PER DOCUMENT here, and every candidate pair then
    * intersects two sorted long arrays with the native two-pointer
    * kernel (`graft_sorted_intersect_count`) — no string hashing, no
    * per-pair allocation. Jaccard over the hashed sets equals Jaccard
    * over the string sets up to 28-bit in-document collisions, which
    * both engines reproduce identically (md5 on both sides).
    *
    * Native kernel (`graft_hashed_shingles`): one pass per document from
    * the md5 digest bytes — no hex round-trip, no intermediate
    * shingle-string array. The Column-composed executable spec it
    * replaced lives in the tests (`LegacyTextKernels`), pinned
    * bit-equal by TextKernelsSpec.
    */
  def hashedShingleSet(text: Column, n: Int = 3): Column =
    call_function("graft_hashed_shingles", text, lit(n))

  /** Word n-gram shingles (default 3): one string per window. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromWords(words(text), n)

  /** [[shingles]] over an already-materialized token array — hot-path
    * callers persist (id, words) first so the slice lambda sees an
    * attribute reference instead of re-splitting the text per window
    * (the repetitionStats O(windows)-re-split trap).
    */
  def shinglesFromWords(w: Column, n: Int): Column =
    // guard: sequence(1, 0) would generate a DESCENDING range in Spark
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Exact dedup (hash-groupBy): canonical = lowest id per content hash.
    * One shuffle on the hash; at 100 TB this is the standard dedup pass.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_hash").orderBy(idCol)
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col(idCol), col("content_hash"), col("is_canonical"))
  }

  /** MinHash permutation parameters (a, b): sig_i = min((a*h + b) mod P).
    * P = 2^31-1; h < 2^28 and a < 2^20 keep a*h+b well inside int64.
    */
  val minhashPerms: Seq[(Long, Long)] = Seq(
    (999983L, 12345L), (999979L, 54321L), (1000003L, 98765L),
    (1000033L, 13579L), (1000037L, 24680L), (1000039L, 11111L),
    (1000081L, 22222L), (1000099L, 33333L))
  val P: Long = 2147483647L
  val bandsCount = 4 // 8 perms → 4 bands × 2 rows

  /** Per-doc MinHash signature columns sig0..sig7, computed ROW-LOCAL
    * from a pre-hashed shingle-set column: sig_i = array_min((a_i·h +
    * b_i) mod P). Because the expensive md5 already ran once per doc in
    * [[hashedShingleSet]], the 8 permutations are cheap long arithmetic
    * over a long array — no explode, no shuffle, no aggregation. (An
    * earlier form exploded shingles and min-aggregated; that shuffles
    * |corpus|·|shingles| rows where this shuffles nothing.) Empty set →
    * null signatures (array_min of empty), which downstream banding
    * filters out.
    */
  def sigCols(hset: Column): Seq[Column] =
    minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(hset, h => (lit(a) * h + lit(b)) % P)).as(s"sig$i")
    }

  /** The shared LSH front half: hashed shingle sets → row-local MinHash
    * signatures → banded (band, bucket-key) self-join → exact-Jaccard
    * verification. The join key is (band, combined-sig), so only
    * same-bucket docs ever pair — candidate count per bucket is the LSH
    * collision rate, never O(n²). Returns (sig, pairs): per-doc
    * signature columns and verified candidate pairs (a < b, jaccard).
    * Consumers: [[minhashLsh]] (per-doc best-candidate stats) and
    * [[dupClusters]] (threshold → connected components).
    */
  def lshVerifiedPairs(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    // The HASHED shingle-set projection feeds three consumers
    // (signatures + both sides of the Jaccard verify join); persist it so
    // the split/slice/concat/md5 work happens once, not per consumer —
    // and so the verify join intersects sorted long arrays (native
    // kernel), not string sets. MEMORY_AND_DISK: at corpus scale the
    // arrays spill instead of OOMing — and if executors are
    // storage-tight the blocks just recompute, which is the pre-cache
    // behavior. Registered under the Caches lifecycle so long-lived
    // sessions can release the blocks after materialization.
    lshVerifiedPairsFrom(Caches.persistTracked(
      df.select(col(idCol).as("doc_id"),
        hashedShingleSet(col(textCol)).as("shset"))))
  }

  /** (doc_id, band, key) rows from a (doc_id, shset) frame: row-local
    * signatures ([[sigCols]]) exploded onto the [[bandsCount]] banded
    * bucket keys, null keys (empty shingle sets) dropped. THE one
    * banding construction — [[lshVerifiedPairsFrom]]'s symmetric
    * self-join and [[incrementalNearDup]]'s asymmetric probe both
    * consume it, and the SQL `lshSigBandCtes` mirrors it.
    */
  private[graft] def bandedKeys(shsets: DataFrame, idName: String): DataFrame =
    shsets.select(col("doc_id") +: sigCols(col("shset")): _*)
      .select(col("doc_id").as(idName),
        explode(array((0 until bandsCount).map { j =>
          struct(lit(j).as("band"),
            (col(s"sig${2 * j}") * P + col(s"sig${2 * j + 1}")).as("key"))
        }: _*)).as("bk"))
      .select(col(idName), col("bk.band"), col("bk.key"))
      .filter(col("key").isNotNull)

  /** [[lshVerifiedPairs]] over an ALREADY-persisted (doc_id, shset)
    * frame — lets a caller that needs the shingle sets for its own joins
    * ([[dedupRecall]]'s pooled verify) share one projection and one
    * cache instead of materializing the md5-shingle pass twice.
    */
  private[graft] def lshVerifiedPairsFrom(shsets: DataFrame)
      : (DataFrame, DataFrame) = {
    // signatures are row-local over the cached hashed sets (sigCols) —
    // no explode, no shuffle, no join-back
    val sig = shsets.select(col("doc_id") +: sigCols(col("shset")): _*)
    val banded = bandedKeys(shsets, "doc_id")
    val pairs = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct() // same pair can collide in several bands
      .join(shsets.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("shset", "sa"), Seq("a"))
      .join(shsets.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("shset", "sb"), Seq("b"))
      .withColumn("inter",
        call_function("graft_sorted_intersect_count", col("sa"), col("sb")))
      .withColumn("jaccard",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .select(col("a"), col("b"), col("jaccard"))
    (sig, pairs)
  }

  /** Banded MinHash-LSH near-dup stats per doc: [[lshVerifiedPairs]]
    * then best-candidate selection. Docs with no candidate keep a row
    * (n_candidates 0).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (sig, pairs) = lshVerifiedPairs(df, idCol, textCol)
    val perDoc = symmetrize(pairs, "doc_id", "partner", "jaccard")
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("partner").asc)
    val best = perDoc.withColumn("rn", row_number().over(wBest))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"),
        max(when(col("rn") === 1, col("jaccard"))).as("best_jaccard"),
        max(when(col("rn") === 1, col("partner"))).as("best_partner"))
    sig.select(col("doc_id"), col("sig0"), col("sig1"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("sig0"), col("sig1"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_jaccard"), col("best_partner"))
  }

  /** INCREMENTAL exact dedup: the hash pass that runs BEFORE
    * [[incrementalNearDup]] on the same increment — each new doc
    * looked up by content hash against the standing corpus, reporting
    * the canonical existing doc (min doc_id per hash) when the exact
    * content is already known. At 100 TB this is one hash join on
    * content_hash (the standing side is maintained as a (hash,
    * canonical) table, bucketed by hash → the corpus side never
    * reshuffles); known docs short-circuit out of the near-dup screen.
    */
  def incrementalExactDedup(df: DataFrame, idCol: String, textCol: String,
                            isNew: Column): DataFrame = {
    // one persisted hashed projection feeds BOTH sides (old-canon
    // aggregate + new-side probe) — without it each side rescans the
    // input and pays the md5 twice, same sharing rule as
    // [[incrementalNearDup]]'s shingle projection
    val hashed = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("content_hash"), isNew.as("is_new")))
    val oldCanon = hashed.filter(!col("is_new"))
      .groupBy("content_hash").agg(min(col("doc_id")).as("canonical_id"))
    hashed.filter(col("is_new"))
      .join(oldCanon, Seq("content_hash"), "left_outer")
      .select(col("doc_id"), col("content_hash"), col("canonical_id"),
        col("canonical_id").isNotNull.as("is_known"))
      .orderBy("doc_id")
  }

  /** SNAPSHOT DIFF manifest — the content-level delta between two
    * corpus generations (crawl N vs N+1): per doc_id, whether it was
    * `added`, `removed`, `changed` (same id, different content hash)
    * or `unchanged` — the decision input every incremental job
    * (re-embed, re-screen, re-index, takedown) consumes instead of
    * reprocessing the full snapshot. Null-safe: content equality uses
    * `<=>`, so two null texts compare `unchanged`, and presence is
    * tracked by explicit flags rather than hash nullability.
    *
    * Scale shape: hashes are computed map-side, so the single
    * full-outer hash join on doc_id shuffles 32-byte digests, never
    * text; with both snapshots bucketed by doc_id (the q98 layout)
    * the join is zero-exchange. Same skew posture as the MERGE: AQE
    * cannot split a full-outer join, and the defense is the
    * id-unique-per-snapshot input contract (SCALING.md merge-skew).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("old_hash"), lit(true).as("in_old"))
    val n = newDf.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("new_hash"), lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("verdict",
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("old_hash") <=> col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col("doc_id"), col("verdict"), col("old_hash"),
        col("new_hash"))
      .orderBy("doc_id")
  }

  /** Shared DELTA-REFRESH choreography for standing artifacts
    * ([[graft.sources.Bm25Index.refreshFromDiff]],
    * [[graft.sources.StatsLedger.refreshFromDiff]]): diff the two
    * generations on `sig` (the columns the artifact's rows actually
    * derive from — an artifact keyed on more than text must widen the
    * signature or a re-attributed row reads 'unchanged' and silently
    * keeps its stale contribution), then hand the removed+changed OLD
    * rows to `delete` and the added+changed NEW rows to `append`.
    * Cost ∝ |delta| plus the digest scan; the unchanged mass is never
    * re-ingested.
    */
  def refreshViaDiff(oldGen: DataFrame, newGen: DataFrame,
                     idCol: String, sig: Column)(
                     delete: DataFrame => Unit,
                     append: DataFrame => Unit): Unit = {
    val diff = Caches.persistTracked(
      snapshotDiff(oldGen.withColumn("g_sig", sig),
          newGen.withColumn("g_sig", sig), idCol, "g_sig")
        .select(col("doc_id"), col("verdict")))
    def ids(verdicts: String*) =
      diff.filter(col("verdict").isin(verdicts: _*))
        .select(col("doc_id").as(idCol))
    delete(oldGen.join(ids("removed", "changed"), Seq(idCol)))
    append(newGen.join(ids("added", "changed"), Seq(idCol)))
  }

  /** INCREMENTAL near-dup: screen a NEW batch of documents against the
    * EXISTING corpus — the shape a daily training-data ingest actually
    * runs, where the standing corpus is orders of magnitude larger than
    * the increment and must not be re-paired against itself. Membership
    * is the `isNew` predicate; every new doc gets its banded-LSH
    * candidates FROM THE OLD SIDE ONLY, exact-Jaccard verification
    * (native sorted-intersect kernel), best existing match, and an
    * `is_dup` verdict at `threshold`.
    *
    * Scale shape: the band join is ASYMMETRIC — new bands probe old
    * bands on (band, key), so candidate count is the cross-collision
    * rate (∝ |new| × bucket density), never |old|² or |new|²; a
    * duplicate-rich increment doesn't explode against itself (intra-
    * batch dups are [[minhashLsh]]'s job on the increment alone). At
    * 100 TB the old side's (doc_id, band, key) frame and hashed
    * shingle sets are a PERSISTED index — bucketed by (band, key) the
    * probe join is shuffle-free on the corpus side and the increment
    * pays one small shuffle; this operator rebuilds them from the
    * snapshot because the testdata is one table, but nothing in the
    * plan depends on that.
    */
  def incrementalNearDup(df: DataFrame, idCol: String, textCol: String,
                         isNew: Column, threshold: Double = 0.8)
      : DataFrame = {
    // one hashed-shingle projection feeds signatures AND both verify
    // sides, exactly like lshVerifiedPairsFrom
    val shsets = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      hashedShingleSet(col(textCol)).as("shset"), isNew.as("is_new")))
    incrementalNearDupFrom(
      shsets.filter(!col("is_new")).select("doc_id", "shset"),
      shsets.filter(col("is_new")).select("doc_id", "shset"), threshold)
  }

  /** [[incrementalNearDup]] over pre-built (doc_id, shset) frames — the
    * steady-state entry point: in production `oldSh` IS the standing
    * corpus index (persisted/bucketed), so an increment pays only its
    * own hashing plus the asymmetric probe. SCALING.md's
    * `incremental-ab` probe row measures exactly this arm.
    */
  private[graft] def incrementalNearDupFrom(oldSh: DataFrame,
                                            newSh: DataFrame,
                                            threshold: Double): DataFrame =
    incrementalNearDupProbe(bandedKeys(oldSh, "old_id"), oldSh, newSh,
      threshold)

  /** The probe arm over a PREBUILT old-side band index — the standing-
    * index entry point ([[graft.sources.DedupIndex.screenNearDup]]):
    * `oldBands` is the persisted (old_id, band, key) table and `oldSh`
    * the persisted (doc_id, shset) table, both bucketed by their join
    * keys so neither corpus-side frame ever re-shuffles (PlanShapeSpec
    * pins one Exchange per join, on the increment side only).
    */
  private[graft] def incrementalNearDupProbe(oldBands: DataFrame,
                                             oldSh: DataFrame,
                                             newSh: DataFrame,
                                             threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = bandedKeys(newSh, "new_id")
      .join(oldBands, Seq("band", "key"))
      .select("new_id", "old_id")
      .distinct() // same pair can collide in several bands
    val verified = cand
      .join(newSh.select(col("doc_id").as("new_id"), col("shset").as("sa")),
        Seq("new_id"))
      .join(oldSh.select(col("doc_id").as("old_id"), col("shset").as("sb")),
        Seq("old_id"))
      .withColumn("inter",
        call_function("graft_sorted_intersect_count", col("sa"), col("sb")))
      .withColumn("jaccard",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .select(col("new_id"), col("old_id"), col("jaccard"))
    val wBest = Window.partitionBy("new_id")
      .orderBy(col("jaccard").desc, col("old_id").asc)
    val best = verified.withColumn("rn", row_number().over(wBest))
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_candidates"),
        max(when(col("rn") === 1, col("jaccard"))).as("best_jaccard"),
        max(when(col("rn") === 1, col("old_id"))).as("best_match"))
    newSh.select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left_outer")
      .select(col("new_id").as("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_jaccard"), col("best_match"),
        coalesce(col("best_jaccard") >= threshold, lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Duplicate CLUSTERS: connected components over the verified near-dup
    * pairs at `threshold`, as iterative min-label propagation — the step
    * a production dedup pipeline runs after pair generation to pick one
    * canonical doc per duplicate group. Component id = min doc_id in the
    * component; singletons keep their own id.
    *
    * Scale shape: each iteration is one shuffle (edges ⋈ labels on dst →
    * min per src) and converges in the component DIAMETER iterations —
    * near-dup groups are near-cliques (diameter ≤ ~3), so the loop exits
    * almost immediately; the iteration cap is a safety bound, and
    * exhausting it AUTO-FALLS BACK to the large-star/small-star loop
    * warm-started from the partial labels ([[componentsIters]]) rather
    * than raising — bit-equal labels either way. For dedup clusters
    * min-propagation is the standard shape; labels persist per
    * iteration (old iterate unpersisted) so lineage stays shallow.
    */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8, maxIters: Int = 20): DataFrame = {
    val (_, pairs) = lshVerifiedPairs(df, idCol, textCol)
    val adj = Caches.persistTracked(
      symmetrize(pairs.filter(col("jaccard") >= threshold), "src", "dst"))
    val labels = components(adj, maxIters)
    df.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL dup-cluster refresh — warm-starting the
    * [[components]] loop from a PREVIOUS generation's cluster labels,
    * the last iterative operator still recomputing cold on republish
    * (the graph family got this in r15). The previous labels enter as
    * HINT EDGES: every clustered doc gains an edge to its old
    * component representative, so each old cluster arrives already
    * collapsed to a star (diameter ≤ 2) and the min-label loop spends
    * its rounds only on structure the republish actually CHANGED —
    * the round count drops from O(log max-cluster-diameter) toward
    * the diff's local diameter (componentsIters' rounds output;
    * ComponentsSpec pins the saving).
    *
    * Validity contract — ADDITIONS-ONLY republish (new pair set ⊇
    * old): a hint edge (doc → old comp) connects two docs that were
    * connected in the old graph, hence still are, so hints are inside
    * the new transitive closure and components(adj ∪ hints) ≡
    * components(adj) BIT-EQUAL — min-label has a true unique fixed
    * point, no limit-cycle caveat. That is the corpus-growth steady
    * state (new docs arrive, old content persists). Removals can
    * split clusters and make an old label a foreign attractor — a
    * takedown-bearing republish recomputes cold (or screens the
    * affected components first), exactly as the scaladoc of the
    * monotone union-find family warns everywhere.
    *
    * @param prevLabels (doc_id, comp) from the previous generation's
    *                   [[dupClusters]] run
    * @return (doc_id, comp) over `df`, bit-equal to a cold
    *         [[dupClusters]] of the same corpus
    */
  def dupClustersRefresh(df: DataFrame, prevLabels: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double = 0.8,
                         maxIters: Int = 20): DataFrame =
    dupClustersRefreshIters(df, prevLabels, idCol, textCol, threshold,
      maxIters)._1

  /** [[dupClustersRefresh]] plus the rounds the warm loop ran — the
    * ComponentsSpec hook, mirroring [[componentsIters]]. */
  private[graft] def dupClustersRefreshIters(
      df: DataFrame, prevLabels: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      maxIters: Int): (DataFrame, Int) = {
    val (_, pairs) = lshVerifiedPairs(df, idCol, textCol)
    val adj = Caches.persistTracked(
      symmetrize(pairs.filter(col("jaccard") >= threshold), "src", "dst"))
    // hint edges: only genuinely-clustered docs (comp == doc_id rows
    // are singletons and carry no information); symmetrized like every
    // adjacency this loop consumes
    val hints = prevLabels.filter(col("comp") =!= col("doc_id"))
      .select(col("doc_id").as("src"), col("comp").as("dst"))
    val adjWarm = adj.unionByName(hints)
      .unionByName(hints.select(col("dst").as("src"),
        col("src").as("dst")))
    val (labels, rounds) = componentsIters(adjWarm, maxIters)
    (df.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
      .orderBy("doc_id"), rounds)
  }

  /** CANONICAL-document selection per near-dup cluster — the decision
    * step the clustering exists FOR: of each [[dupClusters]] group,
    * keep exactly one representative and drop the rest. Policy: the
    * doc with the MOST tokens wins (the "keep the most complete
    * version" heuristic of production dedup pipelines — near-dup
    * groups are typically truncations/mirrors of one page), ties to
    * the smallest doc_id, so the verdict is fully deterministic.
    * Output is the per-doc manifest (doc_id, comp, n_tokens, keep) —
    * the frame a downstream filter or takedown job consumes.
    *
    * Scale shape: [[dupClusters]]'s cost dominates (band join + the
    * edge-subgraph component loop); the selection adds one broadcast-
    * or-shuffle join of the label frame with the per-doc token counts
    * and a bounded top-1 rank window per component (WindowGroupLimit).
    * Singleton docs are their own component and always keep.
    */
  def canonicalPerCluster(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.8,
                          maxIters: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(df, idCol, textCol, threshold, maxIters)
    val toks = df.select(col(idCol).as("doc_id"),
      size(words(col(textCol))).cast("long").as("n_tokens"))
    clusters.join(toks, Seq("doc_id"))
      .withColumn("rn", row_number().over(Window.partitionBy("comp")
        .orderBy(col("n_tokens").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("comp"), col("n_tokens"),
        (col("rn") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** SimHash duplicate CLUSTERS: connected components over the banded
    * hamming-≤-`maxHamming` pairs ([[simhashBandedPairs]]) — the same
    * canonical-doc-per-group step as [[dupClusters]], built on the OTHER
    * candidate family. Fingerprints are row-local (zero shuffle) and the
    * band bucket join is the only pair-forming exchange, so at 100 TB
    * this is the cheaper clustering path when hamming distance is the
    * right notion of "near" (e.g. boilerplate-dominated web text);
    * jaccard-threshold clusters ([[dupClusters]]) stay the pick when
    * set overlap is. Component id = min doc_id; singletons keep their
    * own id.
    */
  def simhashDupClusters(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 3, maxIters: Int = 20,
                         stars: Boolean = false)
      : DataFrame = {
    val (_, ham) = simhashBandedPairs(df, idCol, textCol, maxHamming)
    val adj = Caches.persistTracked(
      symmetrize(ham.select("a", "b"), "src", "dst"))
    // `stars` routes the component step through the large-star/
    // small-star fallback ([[componentsStars]] — bit-equal labels,
    // the boilerplate-heavy-corpus policy); min-label propagation
    // stays the near-clique default
    val labels = if (stars) componentsStars(adj, maxIters)
      else components(adj, maxIters)
    df.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .orderBy("doc_id")
  }

  /** Min-label connected components over a SYMMETRIZED (src, dst) edge
    * list → (doc_id, comp) for every edge vertex. Propagates over the
    * EDGE-VERTEX SET only: a doc with no near-dup edge can never change
    * component, so the loop runs on the (small) duplicate subgraph — at
    * corpus scale the near-dup vertex set is orders of magnitude smaller
    * than the corpus, and the full table is touched exactly once, in
    * [[dupClusters]]'s final left-outer stitch.
    *
    * Seed = least(self, min(neighbor)) straight off the adjacency: the
    * same single shuffle a distinct() would cost, but near-dup
    * components are near-CLIQUES, so most members see the component
    * min among their direct neighbors and the seed is already the
    * fixpoint — the loop's first pass is then the convergence proof
    * rather than a propagation round.
    *
    * Each CHANGING round is min-over-neighbors PLUS a pointer-jump
    * (label(u) := label(label(u)), one self-join of the small label
    * table): jumping halves label-chain lengths every round, so
    * worst-case convergence is O(log diameter) rounds instead of
    * O(diameter) — a path graph of 2^k vertices converges in ~k+3
    * rounds, and a planted star+path giant component stays inside the
    * same bound (ComponentsSpec pins both). The jump is ADAPTIVE: a
    * round whose propagation changed nothing IS the fixpoint (with a
    * symmetrized edge list, stability means labels agree across every
    * edge), so the final round skips the jump join entirely — at
    * near-dup scale components are near-cliques converging in 1–2
    * rounds, where the unconditional jump was pure overhead. Labels
    * only decrease and stay within the component (a label is always a
    * reachable vertex id), so the fixpoint is the component min, jump
    * or no jump; the raise on non-convergence is the backstop for an
    * adversarial maxIters.
    */
  private[graft] def components(adj: DataFrame, maxIters: Int): DataFrame =
    componentsIters(adj, maxIters)._1

  /** [[components]] plus the number of rounds the loop ran — the hook
    * ComponentsSpec uses to pin O(log diameter) convergence as an
    * assertion, not a comment.
    *
    * AUTO-FALLBACK (r18): exhausting `maxIters` no longer throws —
    * non-convergence at the round bound IS the operational signal the
    * fallback's scaladoc names (a component family whose diameter
    * outruns min-label's budget: the boilerplate-web giant), and at
    * 100 TB a throw after maxIters shuffles is the worst possible
    * answer. The loop hands off to [[componentsStarsIters]] WARM: the
    * partial labels enter as hint edges (label(u) is always a vertex
    * reachable from u, so label edges stay inside the true components
    * and components(adj ∪ hints) ≡ components(adj) — the
    * [[dupClustersRefresh]] validity argument with the hints coming
    * from this run instead of a previous generation), which means the
    * star rounds start from chains the propagation already halved
    * maxIters times. Labels stay bit-equal to a converged min-label
    * run by the star algorithm's own fixpoint (the per-component min);
    * ComponentsSpec pins the equality on an adversarial graph that
    * exceeds the min-label budget. The returned round count is
    * maxIters + the star rounds. The star leg gets its own `maxIters`
    * budget and retains the raise — two algorithms both failing a
    * generous bound is a real pathology, not a policy choice.
    */
  private[graft] def componentsIters(adj: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    // Each iterate is an EAGER localCheckpoint, not a persist: the
    // pointer-jump self-join references the previous iterate twice, so
    // without lineage truncation the logical plan doubles every round
    // and analysis itself OOMs by ~8 iterations. Checkpointing holds
    // only the (small) label table per round; a cluster deployment with
    // executor-loss concerns would swap in reliable checkpoint() — same
    // loop, durable storage. (Checkpoint blocks live OUTSIDE the
    // CacheManager — Dataset.unpersist would be a no-op on them — so
    // per-round release is the trackOnly/clear + ContextCleaner
    // lifecycle, exactly as Caches.trackOnly documents.)
    var labels = Caches.trackOnly(adj.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("comp"))
      .localCheckpoint())
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = adj
        .join(labels.select(col("doc_id").as("dst"), col("comp").as("ncomp")),
          Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("ncomp")).as("nmin"))
      // carry old + new comp so the convergence check is a scan of the
      // checkpointed iterate, not another join
      val prop = Caches.trackOnly(labels
        .join(neighborMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        .localCheckpoint())
      val changed = prop.filter(col("comp") =!= col("prev")).count()
      if (changed == 0) {
        // no-change propagation == full convergence (and the jump would
        // be the identity): skip the jump join on the final round
        converged = true
        labels = prop.select("doc_id", "comp")
      } else {
        // pointer jump: comp(comp(u)) ≤ comp(u) by monotonicity, so a
        // plain coalesce suffices (left outer is defensive — every
        // label is an edge vertex and therefore has its own row). Both
        // sides read the CHECKPOINTED prop — cheap local-block scans,
        // no recompute.
        labels = Caches.trackOnly(prop
          .join(prop.select(col("doc_id").as("comp"), col("comp").as("pcomp")),
            Seq("comp"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("pcomp"), col("comp")).as("comp"))
          .localCheckpoint())
      }
      iter += 1
    }
    if (converged) (labels, iter)
    else {
      // warm star handoff: current labels as (symmetrized) hint edges —
      // each partially-collapsed chain arrives pre-shortened, so the
      // star loop resumes from where propagation got to, not from zero
      val hints = labels.select(col("doc_id").as("src"),
          col("comp").as("dst"))
        .filter(col("src") =!= col("dst"))
      val adjWarm = adj.unionByName(hints)
        .unionByName(hints.select(col("dst").as("src"),
          col("src").as("dst")))
      val (starLabels, starRounds) = componentsStarsIters(adjWarm, maxIters)
      (starLabels, iter + starRounds)
    }
  }

  /** LARGE-STAR / SMALL-STAR connected components — the GIANT-
    * component fallback [[components]]' scaladoc has promised since
    * r12, now real (the alternating star algorithm of Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond"). Where
    * min-label propagation carries a LABEL TABLE and pays a pointer-
    * jump self-join keyed on the label — so one giant component
    * funnels its whole row mass through the hot label's partition
    * every round — the star operations rewrite the EDGE LIST itself:
    *
    *  - LARGE-STAR: every edge (u, v), v > u, re-hangs v onto
    *    m(u) = min(Γ(u) ∪ u) — one map-side-combinable min aggregate
    *    plus one equi-join of the edge list with the m table.
    *  - SMALL-STAR: every canonical edge (a, b), a < b, re-hangs a
    *    (and b) onto m(b) = min over b's smaller neighbors — the same
    *    two shapes on the other orientation.
    *
    * Both keep per-key reduce work bounded by CURRENT degree, the min
    * is partially aggregated map-side, and the one potentially-skewed
    * equi-join (everything hanging off a star center) is a plain
    * shuffle join AQE's skew split handles — there is no label-keyed
    * self-join anywhere. Alternating rounds converge to min-rooted
    * STARS in O(log n) rounds on ANY topology, including the
    * boilerplate-web shape (one giant chain-y component) that skews
    * the propagation loop. The fixed point's labels are exactly
    * [[components]]': the unique per-component min — ComponentsSpec
    * pins bit-equality on every shared fixture.
    *
    * OPT-IN policy (the 100 TB call): near-dup clusters are
    * near-cliques where min-label converges in 1–2 rounds with a
    * smaller constant factor, so [[components]] stays the default;
    * switch here when the corpus is known boilerplate-heavy — the
    * operational signal is the previous generation's label histogram
    * (one component holding a double-digit corpus share), or a
    * propagation round whose hot-label partition spills.
    */
  private[graft] def componentsStars(adj: DataFrame,
                                     maxIters: Int): DataFrame =
    componentsStarsIters(adj, maxIters)._1

  /** [[componentsStars]] plus rounds run (one round = LS + SS) — the
    * ComponentsSpec hook, mirroring [[componentsIters]]. */
  private[graft] def componentsStarsIters(adj: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    // state: the CANONICAL undirected edge set (a < b, deduped), one
    // eager localCheckpoint per round (each round reads its
    // predecessor several times — the componentsIters lineage posture)
    var edges = Caches.trackOnly(adj
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint())
    var cnt = edges.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // LARGE-STAR over the symmetric view: m(u) = min(Γ(u) ∪ u);
      // every edge (a, b) becomes (m(a), b) — m(a) ≤ a < b keeps the
      // canonical orientation for free
      val sym = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      val mL = sym.groupBy("src").agg(min(col("dst")).as("nmin"))
        .select(col("src").as("a"),
          least(col("src"), col("nmin")).as("m"))
      val ls = Caches.trackOnly(edges.join(mL, Seq("a"))
        .select(col("m").as("a"), col("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint())
      // SMALL-STAR on LS's output: per b, m = min of its smaller
      // neighbors; (a, b) becomes (m, a) [a ≠ m] plus the (m, b) spine
      val mS = ls.groupBy("b").agg(min(col("a")).as("m"))
      val next = Caches.trackOnly(
        ls.join(mS, Seq("b"))
          .filter(col("a") =!= col("m"))
          .select(col("m").as("a"), col("a").as("b"))
          .unionByName(mS.select(col("m").as("a"), col("b")))
          .distinct()
          .localCheckpoint())
      val nextCnt = next.count()
      // fixed point = edge-set equality (both sides canonical + distinct)
      converged = nextCnt == cnt &&
        next.exceptAll(edges).limit(1).count() == 0L
      edges = next
      cnt = nextCnt
      iter += 1
    }
    require(converged,
      s"componentsStars did not converge within $maxIters rounds")
    // stars: root r carries (r, v) edges only — every vertex labels as
    // min(self, min neighbor), the [[components]] seed formula
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    (sym.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nmin")).as("comp")), iter)
  }

  /** 28-bit SimHash over distinct words (single unsalted hash; the
    * explode → signed-bit-sum aggregates are map-side combinable, and
    * the hash runs once per word — a nested higher-order-function form
    * would recompute it per bit position after projection collapse).
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWideDf(df, idCol, textCol, Seq(""))

  /** Width-parameterized SimHash: each salt contributes 28 independent
    * bits (hash7 of the salted word), so width = 28 × |salts|.
    * Fingerprint WIDTH is the SimHash scaling knob: band-bucket
    * cardinality is 2^(width/bands), so a wider print keeps buckets
    * sparse as the corpus grows (a 28-bit print banded 4×7 has only 128
    * buckets per band — bucket occupancy, and with it pair count, grows
    * quadratically with the corpus; at true 100 TB scale this becomes
    * ~128-bit, i.e. 5 salts, with 4×32-bit bands — same operator).
    *
    * Native kernel (`graft_simhash`): the whole fingerprint is ROW-LOCAL
    * — one generated-code pass over the distinct words per doc, ZERO
    * shuffle. (The previous explode → 28·|salts|-column ±1 bit-sum
    * aggregate shuffled one row per (doc, distinct word); the tests'
    * `LegacyTextKernels` keeps that form as the kernel's executable
    * spec, pinned bit-equal by TextKernelsSpec.)
    */
  def simhashWideDf(df: DataFrame, idCol: String, textCol: String,
                    salts: Seq[String]): DataFrame = {
    require(salts.nonEmpty && 28 * salts.size <= 63,
      "width must fit a single long")
    df.select(col(idCol).as("doc_id"),
      call_function("graft_simhash", col(textCol), array(salts.map(lit): _*))
        .as("simhash"))
  }

  /** 56-bit SimHash (plain + '#'-salted word hashes; see
    * [[simhashWideDf]] for the width-vs-corpus law).
    */
  def simhash56Df(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWideDf(df, idCol, textCol, Seq("", "#"))

  /** SimHash near-dup pairs: band the 56-bit simhash into 4×14-bit keys
    * (16 384 buckets per band), bucket-join on band equality, verify
    * with exact Hamming distance (bit_count of xor — a primitive op per
    * pair). Pigeonhole gives EXACT recall for hamming ≤ 3: a pair
    * differing in ≤ 3 bits cannot differ in all 4 bands, so it collides
    * in at least one bucket — banding here is lossless, not
    * approximate. Pair count is the bucket collision rate, never n²
    * (see [[simhash56Df]] for the width-vs-corpus scaling law). Returns
    * one row per doc: candidate count and the best (lowest hamming,
    * lowest id) partner.
    */
  /** The SimHash banding front half: 56-bit fingerprints → 4×14-bit band
    * bucket join → hamming-verified candidate pairs (a < b, hamming ≤
    * `maxHamming`). Returns (sim, pairs): the persisted per-doc
    * fingerprint frame and the candidate pairs. Consumers:
    * [[simhashNearDup]] (per-doc best-partner stats) and
    * [[dedupRecall]] (candidate-quality eval).
    */
  private[graft] def simhashBandedPairs(df: DataFrame, idCol: String,
                                        textCol: String, maxHamming: Int)
      : (DataFrame, DataFrame) = {
    val sim = Caches.persistTracked(simhash56Df(df, idCol, textCol))
    (sim, hammingBandedPairs(sim, nBands = 4, bandBits = 14, maxHamming))
  }

  /** The GENERIC hamming band-join over any (doc_id, simhash) frame —
    * the banding core shared by the 56-bit text SimHash (4×14-bit
    * keys) and the 64-bit image dHash (4×16-bit keys,
    * [[graft.Multimodal]]): explode each fingerprint onto `nBands`
    * band keys of `bandBits` low bits each, bucket-join on band
    * equality, verify with exact Hamming (bit_count of xor — a
    * primitive per pair). Pigeonhole gives EXACT recall for hamming ≤
    * nBands − 1 (enforced): a pair differing in ≤ nBands − 1 bits
    * cannot differ in every band, so banding is lossless at the
    * default maxHamming = 3, and pair count is the bucket collision
    * rate, never n².
    *
    * The 8-byte fingerprint RIDES THROUGH the band shuffle: the verify
    * value arrives with the candidate pair, so there is no join back
    * to the corpus for sa/sb — at scale that's one wide-ish exchange
    * instead of two extra shuffled joins. (Contrast lshVerifiedPairs,
    * where the carried value would be the whole shingle-set array —
    * there the join-back is the cheaper side of the same trade.)
    */
  private[graft] def hammingBandedPairs(sim: DataFrame, nBands: Int,
                                        bandBits: Int,
                                        maxHamming: Int): DataFrame = {
    require(maxHamming <= nBands - 1,
      s"banding is lossless only for hamming <= ${nBands - 1}")
    require(nBands * bandBits <= 64, "bands must tile one long")
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map { j =>
        struct(lit(j).as("band"),
          shiftright(col("simhash"), bandBits * j)
            .bitwiseAND((1L << bandBits) - 1).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: shrink its input
      .distinct() // a pair can collide in several bands
  }

  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    val (sim, ham) = simhashBandedPairs(df, idCol, textCol, maxHamming)
    val sym = symmetrize(ham, "doc_id", "partner", "hamming")
    // lexicographic struct-min == the (hamming ASC, partner ASC) window
    // rank-1 row, in ONE aggregate with no window sort
    val best = sym.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dups"),
        min(struct(col("hamming"), col("partner"))).as("m"))
    sim.join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("m.partner").as("best_partner"),
        col("m.hamming").as("best_hamming"))
  }

  /** Candidate-quality eval for the near-dup paths — the metric a
    * production dedup pipeline tracks to tune its banding knobs: recall
    * and precision of the MinHash-LSH band candidates
    * ([[lshVerifiedPairs]]) and the SimHash hamming-≤-3 candidates
    * ([[simhashBandedPairs]]) against POOLED ground truth (TREC-style):
    * truth = exact Jaccard ≥ `threshold` verified over the pool of
    * (both methods' candidate pairs) ∪ (all pairs within a fixed
    * `auditFilter` subset). Runs over the FULL corpus, and every stage
    * is bounded: candidate generation is the banded production path
    * (linear-ish), exact verification touches only pooled pairs, and
    * the all-pairs component is quadratic only in the constant-size
    * audit subset. A corpus-proportional doc sample was the previous
    * design and is the trap both this doc and SCALING.md warn about:
    * its truth join measured 21× the sf0.01 cost at sf0.1, and a
    * CONSTANT doc sample instead loses the randomly-planted dup pairs
    * quadratically (0 ground-truth pairs at sf0.1) — pair-pooling is
    * how the eval stays both bounded and non-degenerate.
    *
    * Output, one row per method plus one row per audit STRATUM:
    * (method, n_exact, n_candidates, n_hits, recall, precision).
    * An audit row restricts all three counts to pairs inside its
    * stratum, where truth is candidate-independent — its recall is the
    * estimated fraction of true pairs the pooled methods find at all
    * (the pool-miss rate the pooling methodology must report). TWO
    * default strata (even / odd doc_ids < 500) make that estimate a
    * pair of independent replicates: disjoint doc sets, so agreement
    * between the rows is evidence the estimate is stable, not a
    * single-sample artifact.
    */
  def dedupRecall(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8,
                  auditStrata: Seq[(String, Column)] = Seq(
                    "pool_audit_even" ->
                      (col("doc_id") % 2 === 0 && col("doc_id") < 500),
                    "pool_audit_odd" ->
                      (col("doc_id") % 2 === 1 && col("doc_id") < 500)))
      : DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    // one shingle-set projection + cache shared between the minhash
    // chain and the pooled exact-verify joins below
    val sh = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      hashedShingleSet(col(textCol)).as("shset")))
    val lshCand = Caches.persistTracked(
      lshVerifiedPairsFrom(sh)._2.select("a", "b"))
    val simCand = Caches.persistTracked(
      simhashBandedPairs(df, idCol, textCol, maxHamming = 3)
        ._2.select("a", "b"))
    // one constant-size all-pairs frame per audit stratum (pairs stay
    // WITHIN a stratum — disjoint strata give independent replicates)
    val strataPairs = auditStrata.map { case (name, filter) =>
      val audit = sh.filter(filter)
      name -> audit.as("x")
        .join(audit.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    }
    val pool = strataPairs.map(_._2)
      .foldLeft(lshCand.unionByName(simCand))(_ unionByName _)
      .distinct()
    // truth: exact verification of pooled pairs only — never all-pairs
    // over the corpus
    val truth = Caches.persistTracked(pool
      .join(sh.select(col("doc_id").as("a"), col("shset").as("sa")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("shset").as("sb")), Seq("b"))
      .withColumn("inter", call_function("graft_sorted_intersect_count",
        col("sa"), col("sb")))
      .filter(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")) >= threshold)
      .select("a", "b"))
    val cand = lshCand.withColumn("method", lit("minhash_lsh"))
      .unionByName(simCand.withColumn("method", lit("simhash")))
    val per = cand.join(truth.withColumn("hit", lit(1)), Seq("a", "b"),
      "left_outer")
      .groupBy("method")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0))).as("n_hits"))
    val nExact = truth.agg(count(lit(1)).as("n_exact"))
    // static method list: a method with zero candidates keeps its row
    // (recall 0, precision null) instead of vanishing from the groupBy
    val methodRows = Seq("minhash_lsh", "simhash").toDF("method")
      .join(per, Seq("method"), "left_outer")
      .crossJoin(nExact)
      .select(col("method"), col("n_exact"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    // audit rows: within an audit stratum truth is candidate-independent,
    // so hits/exact there estimates what fraction of ALL true pairs the
    // pooled candidate generators surface. All strata share ONE pass:
    // the stratum-labeled pair union joins truth and the method pool
    // once and a single groupBy emits every stratum's three counts (the
    // frames are distinct on (a,b) within a stratum, so the flag sums
    // are exact set sizes). A left join against the static strata-name
    // frame pins empty strata to 0s instead of dropping their rows.
    val methodCand = lshCand.unionByName(simCand).distinct()
    val auditAll = strataPairs.map { case (name, pairs) =>
      pairs.withColumn("method", lit(name))
    }.reduce(_ unionByName _)
    val auditAgg = auditAll
      .join(truth.withColumn("t", lit(1)), Seq("a", "b"), "left_outer")
      .join(methodCand.withColumn("c", lit(1)), Seq("a", "b"),
        "left_outer")
      .groupBy("method")
      .agg(sum(coalesce(col("t"), lit(0))).as("n_exact"),
        sum(coalesce(col("c"), lit(0))).as("n_candidates"),
        sum(coalesce(col("t"), lit(0)) * coalesce(col("c"), lit(0)))
          .as("n_hits"))
    val auditRows = strataPairs.map(_._1).toDF("method")
      .join(auditAgg, Seq("method"), "left_outer")
      .select(col("method"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    methodRows.unionByName(auditRows)
      .select(col("method"), col("n_exact"), col("n_candidates"),
        col("n_hits"),
        when(col("n_exact") > 0, col("n_hits") / col("n_exact"))
          .as("recall"),
        when(col("n_candidates") > 0, col("n_hits") / col("n_candidates"))
          .as("precision"))
      .orderBy("method")
  }

  /** Bag-of-words fingerprint: md5 over the sorted distinct vocabulary —
    * the cheap "same content, re-ordered" detector.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))

  /** Hashes of every character k-gram of `text` (1-based substrings),
    * empty for null/short docs. First half of winnowing — keep it a
    * SEPARATE projection from [[winnowSelect]]: as a subtree of the
    * window pass the whole md5 array would re-evaluate once per window
    * (the higher-order-function recomputation trap the simhash scaladoc
    * describes), turning a linear scan quadratic.
    */
  private[graft] def gramHashes(text: Column, k: Int = 8): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => hash7(text.substr(i, lit(k)))))
      .otherwise(array().cast("array<long>"))

  /** Winnow selection (the MOSS rule) over a MATERIALIZED gram-hash
    * column: keep the MINIMUM of each sliding window of `w` consecutive
    * gram hashes, return the sorted distinct selection. Winnowing
    * guarantees any shared substring of length ≥ k + w − 1 contributes
    * at least one COMMON selected print to both docs, while keeping
    * only ~2/(w+1) of all gram hashes. Row-local; fewer than `w` grams
    * select nothing.
    */
  private[graft] def winnowSelect(gh: Column, w: Int = 16): Column =
    when(size(gh) >= w,
      array_sort(array_distinct(transform(
        sequence(lit(1), size(gh) - (w - 1)),
        j => array_min(slice(gh, j, lit(w)))))))
      .otherwise(array().cast("array<long>"))

  /** Winnowed character-k-gram fingerprints as a single Column — for
    * SHORT strings only (tests, ad-hoc probes): the gram hashes live
    * inside the window transform here, so they re-evaluate once per
    * window. Pipelines over real documents go through the two-projection
    * [[gramHashes]] → [[winnowSelect]] split, as [[containmentPairs]]
    * does.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 16): Column =
    winnowSelect(gramHashes(text, k), w)

  /** CONTAINMENT pairs via winnowed fingerprints — the partial-dup case
    * every symmetric near-dup operator misses: a document EMBEDDED in a
    * larger one (quotation, boilerplate wrapper, concatenated shard) has
    * low Jaccard (size mismatch dilutes the union) but high containment
    * |Fa ∩ Fb| / min(|Fa|, |Fb|) over the selected prints. Candidates
    * come from an inverted index on the prints, so pair count tracks
    * true print sharing; prints appearing in more than `dfCap` docs are
    * dropped FIRST (a boilerplate print can only blow up its bucket,
    * never evidence containment — the standard winnowing-index cap, and
    * what keeps the join bounded at 100 TB). Containment is computed
    * over the CAPPED sets, so exact dups score 1.0 regardless of how
    * much of their content is corpus-common. Returns (a, b, shared,
    * containment) for pairs with `shared` ≥ `minShared` capped prints
    * and containment ≥ `minContainment`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 16, dfCap: Int = 20,
                       minShared: Int = 4,
                       minContainment: Double = 0.5): DataFrame = {
    // the fp projection is PERSISTED, not just split in two: the explode
    // below is a Generate, and the optimizer collapses projections into
    // a generator's input even when that re-inlines the md5 gram array
    // inside the per-window lambda — re-evaluating all grams once per
    // window (measured 169 s vs 1 s at sf0.01). The InMemoryRelation is
    // a collapse barrier; at corpus scale this cache is the winnowed
    // print table itself (~2/(w+1) of the gram hashes), which the
    // inverted index needs materialized anyway.
    val fp = Caches.persistTracked(
      df.select(col(idCol).as("doc_id"),
          gramHashes(col(textCol), k).as("gh"))
        .select(col("doc_id"), winnowSelect(col("gh"), w).as("fp")))
    val ex = fp.select(col("doc_id"), explode(col("fp")).as("h"))
    val keep = ex.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") <= dfCap).select("h")
    val exf = Caches.persistTracked(ex.join(keep, Seq("h")))
    val sz = exf.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = exf.as("x").join(exf.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("raw", col("shared") / least(col("na"), col("nb")))
      .filter(col("raw") >= minContainment)
      .select(col("a"), col("b"), col("shared"),
        round(col("raw"), 6).as("containment"))
      .orderBy("a", "b")
  }

  /** n-gram Jaccard best-partner within metadata blocks: pairs only form
    * inside a (block) group, so the self-join fan-out is bounded by block
    * size — never a global cartesian.
    *
    * Variant note: for large-vocabulary corpora where shingle sharing is
    * rare, [[ngramJaccardBestInverted]] (explode shingles, join on the
    * shingle, count matches per pair) only materializes pairs that
    * OVERLAP, so its pair count tracks true-overlap density instead of
    * C(block, 2); on dense/small vocabularies the per-shingle buckets
    * blow up quadratically and this block self-join with the native
    * intersect wins. NgramVariantSpec pins the two bit-equal; SCALING.md's
    * `ngram-ab` probe row measures them (a wash at sf0.1 on the
    * synthetic corpus — 1.02 vs 1.03 s — because its blocks are small
    * and overlap moderate; the trade only opens up with block size and
    * vocabulary). At 100 TB you'd pick per-dataset; blocks there come
    * from LSH bands (minhashLsh), not metadata.
    */
  def ngramJaccardBest(df: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Hashed-set currency (see hashedShingleSet): the shingle/md5 work
    // runs once per doc in a persisted projection shared by both sides
    // of the self-join; each candidate pair then costs one native
    // two-pointer intersect over sorted longs instead of a per-pair
    // string hash set.
    val base = Caches.persistTracked(df.select(Seq(col(idCol).as("doc_id"),
      hashedShingleSet(col(textCol)).as("sh")) ++
      blockCols.map(col): _*))
    val cond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _) && col("x.doc_id") < col("y.doc_id")
    val pairs = base.as("x").join(base.as("y"), cond)
      .withColumn("inter",
        call_function("graft_sorted_intersect_count", col("x.sh"), col("y.sh")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (col("inter") /
          (size(col("x.sh")) + size(col("y.sh")) - col("inter"))).as("jaccard"))
    val sym = symmetrize(pairs, "doc_id", "partner", "jaccard")
    val w = Window.partitionBy("doc_id").orderBy(col("jaccard").desc, col("partner").asc)
    sym.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "partner", "jaccard")
  }

  /** [[ngramJaccardBest]] via an INVERTED INDEX — the sparse-overlap
    * scale path the block self-join's scaladoc describes, as a real
    * operator: explode each doc's hashed shingle set, self-join on
    * (block, shingle hash) so only OVERLAPPING pairs ever materialize
    * (pair count = number of overlapping pairs, not C(block, 2)), count
    * shared hashes per pair (the sets are distinct, so count =
    * |intersection|), then the same best-partner window. Docs whose best
    * is jaccard 0 (block-mates, zero overlap) never appear in the index
    * join, so they take a fallback row — lowest other id in the block,
    * matching the self-join's partner-asc tiebreak exactly.
    * NgramVariantSpec pins bit-equal output against [[ngramJaccardBest]]
    * on fixture and randomized corpora; pick per dataset (dense/small
    * vocabularies favor the block self-join — see the variant note
    * there).
    *
    * PRECONDITION for the equality claim: every doc has ≥ n words. A doc
    * with an EMPTY shingle set scores null jaccard against another empty
    * doc in the self-join form (0/0) but 0.0 here, so the two forms can
    * tie-break such degenerate blocks differently.
    */
  def ngramJaccardBestInverted(df: DataFrame, idCol: String,
                               textCol: String,
                               blockCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Caches.persistTracked(df.select(Seq(col(idCol).as("doc_id"),
      hashedShingleSet(col(textCol)).as("sh")) ++
      blockCols.map(col): _*))
    val ex = base.select(Seq(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("h")) ++ blockCols.map(col): _*)
    val blockEq = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _)
    val pairs = ex.as("x").join(ex.as("y"),
        blockEq && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("a"), col("b"),
        (col("inter") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
    val sym = symmetrize(pairs, "doc_id", "partner", "jaccard")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("partner").asc)
    val overlapped = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id", "partner", "jaccard")
    // fallback for paired-but-zero-overlap docs: with every candidate at
    // jaccard 0 the self-join's window tiebreak picks the LOWEST other
    // id in the block — two tiny per-block aggregates reproduce it
    val b1 = base.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("m1"))
    val b2 = base.join(b1, blockCols).filter(col("doc_id") =!= col("m1"))
      .groupBy(blockCols.map(col): _*).agg(min(col("doc_id")).as("m2"))
    val fallback = base.join(b1, blockCols).join(b2, blockCols, "left_outer")
      .filter(col("cnt") > 1)
      .select(col("doc_id"),
        when(col("doc_id") === col("m1"), col("m2")).otherwise(col("m1"))
          .as("partner"),
        lit(0.0).as("jaccard"))
      .join(overlapped.select("doc_id"), Seq("doc_id"), "left_anti")
    overlapped.unionByName(fallback)
  }

  /** Deterministic stratified sample: exactly min(k, |stratum|) rows
    * per stratum, ranked by the 28-bit md5 hash of the id with the id
    * itself as tiebreaker — the reproducible eval-carve-out device. No
    * RNG or seed state: selection is a pure function of ids, identical
    * across engines, reruns, and ingest ORDER. (Adding or removing
    * stratum members can change which ids rank inside the top k — by
    * design, the sample stays hash-uniform over the CURRENT
    * population; contrast [[splitAssign]], where a row's assignment is
    * permanent regardless of population.)
    *
    * Scale shape: one hash shuffle on the strata; the rank-≤-k filter
    * compiles to WindowGroupLimit (partial top-k BEFORE the exchange on
    * Spark 3.5+), so no stratum ever materializes a full sort of
    * itself on one task — per-task state is k rows.
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String],
                       idCol: String, k: Int): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hash7(col(idCol).cast("string")), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic train/val/test assignment: hash the doc id into 100
    * buckets (md5-prefix, so the oracle reproduces it) and carve the
    * range by cumulative percentage — the standard reproducible-split
    * device for training corpora (no RNG, no seed drift across reruns
    * or engines; a doc's split is a pure function of its id, so
    * incremental ingests never reshuffle history). Row-local.
    */
  def splitAssign(id: Column,
                  cuts: Seq[(String, Int)] = Seq(
                    "train" -> 80, "val" -> 90, "test" -> 100)): Column = {
    require(cuts.nonEmpty && cuts.last._2 == 100 &&
      cuts.map(_._2) == cuts.map(_._2).sorted,
      "cuts must be ascending cumulative percentages ending at 100")
    val bucket = hash7(id.cast("string")) % 100
    cuts.init.foldRight(lit(cuts.last._1): Column) { case ((name, cut), rest) =>
      when(bucket < cut, name).otherwise(rest)
    }
  }

  /** Per-(split, lang) corpus-mix report over the deterministic split:
    * doc and token counts plus each split's share of its language's
    * tokens — the table a training run reads to validate mix weights
    * and leakage-free splits. One scan + one agg; the share is a window
    * over the tiny aggregate.
    */
  def splitReport(df: DataFrame, idCol: String, textCol: String,
                  langCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = df.select(splitAssign(col(idCol)).as("split"),
        col(langCol).as("lang"),
        size(words(col(textCol))).cast("long").as("n_tok"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    agg.withColumn("token_share", round(col("n_tokens") /
        sum(col("n_tokens")).over(Window.partitionBy("lang")), 6))
      .orderBy("split", "lang")
  }

  /** Corpus-mix rebalance: deterministically downsample each language
    * to at most `targetTokens` tokens by keeping a doc iff its SALTED
    * hash bucket clears the language's keep rate (`target / tokens`).
    * The salt (`#mix`) decorrelates the keep decision from
    * [[splitAssign]]'s buckets — the same unsalted hash would make the
    * kept subset systematically over-sample one split. Two tiny aggs +
    * one broadcast join back; the per-doc decision is row-local, so the
    * whole rebalance is one scan + one shuffle of per-lang partials at
    * any corpus size. Output: per-lang before/after doc+token counts
    * and the keep rate.
    */
  def rebalanceCorpus(df: DataFrame, idCol: String, textCol: String,
                      langCol: String, targetTokens: Long): DataFrame = {
    val base = df.select(col(langCol).as("lang"),
      size(words(col(textCol))).cast("long").as("n_tok"),
      (hash7(concat(col(idCol).cast("string"), lit("#mix"))) % 10000)
        .as("bucket"))
    val rated = base.groupBy("lang")
      .agg(sum(col("n_tok")).as("tok"))
      .select(col("lang"), least(lit(1.0),
        lit(targetTokens.toDouble) / col("tok")).as("rate"))
    base.join(broadcast(rated), Seq("lang"))
      .withColumn("kept", col("bucket") < col("rate") * 10000)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_before"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_docs_after"),
        sum(col("n_tok")).as("n_tokens_before"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L))
          .as("n_tokens_after"),
        round(min(col("rate")), 6).as("keep_rate"))
      .orderBy("lang")
  }

  /** Repetition / boilerplate signals per document — the Gopher-family
    * quality filters a pretraining pipeline applies before anything
    * model-based: share of the doc consumed by its most frequent word
    * and word-2-gram, and the duplicate-word fraction. Everything is
    * ROW-LOCAL higher-order functions over the token array (the
    * per-doc count is O(distinct × tokens), bounded by doc length) —
    * zero shuffle, the whole operator scales as a scan. `repetitive`
    * applies the standard gates: top-2-gram share ≥ 0.20 or top-word
    * share ≥ 0.30.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      top2Max: Double = 0.20,
                      topWordMax: Double = 0.30): DataFrame = {
    // The token and 2-gram arrays are MATERIALIZED (persist = collapse
    // barrier, the containmentPairs lesson): inlined, every lambda call
    // in the counting HOFs re-evaluates its argument, so `filter(w, …)`
    // inside `transform(distinct(w), …)` would re-SPLIT the text once
    // per distinct token — O(distinct × tokens) regex splits per doc
    // (measured: one sf0.1 bench task pinned a core for 40+ minutes).
    // Over materialized arrays the same HOFs are plain array scans.
    val w0 = words(col(textCol))
    val tok = Caches.persistTracked(
      df.select(col(idCol).as("doc_id"), w0.as("w"))
        .withColumn("g2", when(size(col("w")) >= 2,
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1))))
          .otherwise(array().cast("array<string>"))))
    def topShare(arr: Column, denom: Column): Column =
      when(denom > 0, array_max(transform(array_distinct(arr),
        d => size(filter(arr, x => x === d)))) / denom)
        .otherwise(lit(0.0))
    tok.select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        round(topShare(col("w"), size(col("w"))), 6).as("top_word_ratio"),
        round((size(col("w")) - size(array_distinct(col("w")))) /
          size(col("w")), 6).as("dup_word_ratio"),
        round(topShare(col("g2"), size(col("g2"))), 6)
          .as("top_2gram_ratio"))
      .withColumn("repetitive",
        col("top_2gram_ratio") >= top2Max ||
          col("top_word_ratio") >= topWordMax)
      .orderBy("doc_id")
  }

  /** DECONTAMINATION screen: find training documents that contain
    * held-out eval/benchmark content — the check every pretraining
    * pipeline runs so the model isn't graded on memorized test items.
    * Same winnowed char-k-gram prints as [[containmentPairs]], but the
    * join is ASYMMETRIC and the score direction is fixed: a (train,
    * eval) pair is reported when they share ≥ `minShared` prints, with
    * `eval_coverage` = shared / |eval prints| — how much of the
    * BENCHMARK ITEM the training doc reproduces (the wrapper-dilution-
    * proof direction; jaccard would let a long train doc hide the
    * overlap).
    *
    * Scale shape: the eval side is a benchmark suite — tiny and fixed —
    * so its exploded print index BROADCASTS and the 100 TB training
    * corpus streams through a broadcast hash join with NO corpus
    * shuffle; the only exchange is the per-(train, eval) hit count,
    * which is ∝ actual contamination. No df-cap: the index is bounded
    * by the benchmark, and dropping a common print could hide real
    * contamination.
    *
    * The broadcast is SIZE-GATED, not unconditional: the eval print
    * count is measured against the persisted projection (one cheap
    * aggregate) and a side above `maxBroadcastPrints` falls back to a
    * plain hash-partitioned join instead of OOMing the driver — the
    * screen then costs one corpus shuffle on `h`, which is the honest
    * price of an eval side that big. Both paths are bit-equal
    * (ContainmentSpec) and both plan shapes are pinned (PlanShapeSpec
    * for the broadcast mode, ContainmentSpec for the fallback).
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    isEval: Column, k: Int = 8, w: Int = 16,
                    minShared: Int = 4,
                    maxBroadcastPrints: Long = 4L * 1000 * 1000)
      : DataFrame = {
    // persisted two-projection split for the same HOF-collapse reason
    // as containmentPairs (see that scaladoc)
    val fp = Caches.persistTracked(
      df.select(col(idCol).as("doc_id"), isEval.as("is_eval"),
          gramHashes(col(textCol), k).as("gh"))
        .select(col("doc_id"), col("is_eval"),
          winnowSelect(col("gh"), w).as("fp")))
    // ~16 bytes per (eval_id, h) row → the default gate caps the
    // broadcast near 64 MB; the count reads the persisted projection
    val evalPrints = fp.filter(col("is_eval"))
      .agg(coalesce(sum(size(col("fp"))), lit(0L))).head().getLong(0)
    val bcast = evalPrints <= maxBroadcastPrints
    def evalSide(d: DataFrame): DataFrame = if (bcast) broadcast(d) else d
    val evalEx = fp.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), explode(col("fp")).as("h"))
    val evalSz = fp.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), size(col("fp")).as("n_eval"))
    val trainEx = fp.filter(!col("is_eval"))
      .select(col("doc_id").as("train_id"), explode(col("fp")).as("h"))
    trainEx.join(evalSide(evalEx), Seq("h"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(evalSide(evalSz), Seq("eval_id"))
      .select(col("train_id"), col("eval_id"), col("shared"),
        round(col("shared") / col("n_eval"), 6).as("eval_coverage"))
      .orderBy("train_id", "eval_id")
  }

  /** Sequence PACKING: the concat-then-chunk layout LLM pretraining
    * feeds the trainer — per language, documents are concatenated in
    * doc_id order and cut into fixed-`budget` token sequences, docs
    * straddling cuts. Per doc: its token span start, the first/last
    * sequence it lands in, how many sequences it touches, and its
    * offset inside the first one. Token = whitespace word, exactly
    * [[textStats]]'s `n_tokens`.
    *
    * Scale shape: the running token sum is a TWO-LEVEL prefix sum (the
    * [[Temporal.peakConcurrency]] pattern) — doc_id-contiguous
    * `shardSize` ranges get local running sums on a (lang, shard)
    * exchange, and the cross-shard carry is a window over the
    * |langs × shards|-row aggregate, broadcast back. A single per-lang
    * window would drag every token count of a monolingual 100 TB
    * corpus through ONE task; here per-task state is a shard and the
    * carry frame is tiny. The narrow (doc_id, lang, n_tokens)
    * projection is persisted because both levels read it.
    */
  def sequencePacking(df: DataFrame, idCol: String, textCol: String,
                      langCol: String, budget: Long = 512,
                      shardSize: Long = 100000): DataFrame =
    sequencePackingByCount(
      df.select(col(idCol).cast("long").as("doc_id"),
        col(langCol).as("lang"),
        size(words(col(textCol))).cast("long").as("n_tokens")),
      budget, shardSize)

  /** [[sequencePacking]] over PRE-COMPUTED token counts — a
    * (doc_id, lang, n_tokens) frame — so the planner can pack by the
    * counts of a REAL tokenizer (q128 feeds it [[graft.Bpe]]'s encode
    * counts) instead of the whitespace stand-in. Same two-level prefix
    * sum; the count column is whatever the caller's tokenizer says.
    */
  def sequencePackingByCount(counts: DataFrame, budget: Long = 512,
                             shardSize: Long = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"budget must be positive, got $budget")
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val base = Caches.persistTracked(
      counts.select(col("doc_id").cast("long").as("doc_id"),
        col("lang"), col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div ${shardSize}L")))
    val wLocal = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("local_start",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    val wCarry = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = base.groupBy("lang", "shard")
      .agg(sum(col("n_tokens")).as("shard_tok"))
      .withColumn("carry",
        coalesce(sum(col("shard_tok")).over(wCarry), lit(0L)))
      .select("lang", "shard", "carry")
    packSpan(
        local.join(broadcast(carry), Seq("lang", "shard"))
          .withColumn("tok_start", col("local_start") + col("carry")),
        "n_tokens", budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("tok_start"),
        col("seq_start"), col("seq_end"), col("n_seqs"), col("seq_offset"))
      .orderBy("lang", "doc_id")
  }

  /** The shared packing arithmetic: given a `tok_start` column and a
    * per-row token count `tokCol`, add the fixed-`budget` sequence
    * span columns (seq_start/seq_end/n_seqs/seq_offset). Integer
    * `div`, not floor(double): token offsets are exact longs; empty
    * rows (`greatest(tokCol, 1)`) occupy one position so spans are
    * never inverted. Used by [[sequencePackingByCount]] and
    * `CorpusOps.mixPack` — one place for the span rule.
    */
  private[graft] def packSpan(df: DataFrame, tokCol: String,
                              budget: Long): DataFrame =
    df.withColumn("seq_start", expr(s"tok_start div ${budget}L"))
      .withColumn("seq_end", expr(
        s"(tok_start + greatest($tokCol, 1L) - 1) div ${budget}L"))
      .withColumn("n_seqs", col("seq_end") - col("seq_start") + 1)
      .withColumn("seq_offset", expr(s"tok_start % ${budget}L"))

  /** Split-LEAKAGE repair over duplicate clusters: per-doc hash splits
    * put near-identical docs on both sides of the train/test boundary
    * (classic contamination — the eval set "leaks" into training via a
    * near-dup). The fix every production corpus pipeline applies:
    * assign splits per CLUSTER, not per doc — hash the component
    * representative (min doc_id, from [[dupClusters]]) instead of the
    * doc itself, so a whole near-dup family lands on one side. Output
    * per doc: component, the naive per-doc split, the repaired
    * cluster-level split, and whether the repair moved it. Cost is the
    * q69 clustering plus one row-local relabel — no extra shuffle.
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame =
    dupClusters(df, idCol, textCol, threshold)
      .select(col("doc_id"), col("comp"),
        splitAssign(col("doc_id")).as("naive_split"),
        splitAssign(col("comp")).as("split"))
      .withColumn("moved", col("naive_split") =!= col("split"))
      .orderBy("doc_id")

  /** The composed corpus-preparation pipeline: quality gates → language
    * filter → fingerprint dedup, with a single REASON verdict per doc
    * (first failing gate wins, mirroring how training-data pipelines
    * report drop attribution). A surviving doc is 'duplicate' iff an
    * earlier (lower-id) SURVIVOR shares its bag-of-words fingerprint —
    * rejected docs never shadow a later canonical. Row-local except one
    * window over the fingerprint key: scales as a scan + one shuffle.
    */
  def corpusFilter(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 30, minQuality: Double = 2.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // language + fingerprint ride in textStats' projection: one scan,
    // no self-join
    val base = textStats(df, idCol, textCol,
      "predicted" -> langId(col(textCol)),
      "fp" -> fingerprint(col(textCol)))
    val gate = when(col("n_tokens") < minTokens, "too_short")
      .when(col("quality_score") < minQuality, "low_quality")
      .when(col("predicted") =!= "en", "non_english")
    val w = Window.partitionBy("fp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val earlierSurvivors =
      sum(when(gate.isNull, 1).otherwise(0)).over(w)
    base.select(col("doc_id"), col("n_tokens"),
      coalesce(gate,
        when(earlierSurvivors > 0, "duplicate"), lit("kept")).as("reason"))
  }

  val stopwords = Seq("the", "a", "of", "and", "in")

  /** TF-IDF-shaped keyword extraction: top-k terms per doc ranked by term
    * frequency × inverse document frequency. The corpus-size factor N
    * multiplies every score equally so the ranking drops it, leaving the
    * exact integer `(tf * 1e6) div df` — no log, no float, cross-engine
    * deterministic. Stopwords and tokens under 3 chars excluded; ties
    * break alphabetically.
    *
    * Scale: one (doc,term) aggregation, one term aggregation, one
    * term-keyed join (both sides term-partitioned after the df aggregate,
    * so the exchange is reused), one per-doc window. The vocabulary-sized
    * df side stays distributed — never collected or broadcast.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"),
      explode(filter(words(lower(col(textCol))),
        t => length(t) >= 3 && !t.isin(stopwords: _*))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score", expr("(tf * 1000000) div df_docs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df_docs", "score")
  }

  /** Token/char/stopword statistics + a deterministic quality score
    * (length, stopword ratio, capped token count — the usual LLM-corpus
    * quality gates). `extra` columns are computed IN THE SAME projection
    * so composed pipelines ([[corpusFilter]]) stay one scan with no
    * self-join.
    */
  def textStats(df: DataFrame, idCol: String, textCol: String,
                extra: (String, Column)*): DataFrame = {
    val w = words(col(textCol))
    // BPE-ish pre-tokenization: letter runs (either case), digit runs,
    // single symbols — the usual subword-tokenizer front end, counted
    // without a vocab
    val bpeish = regexp_extract_all(col(textCol),
      lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))
    df.select(Seq(
      col(idCol).as("doc_id"),
      size(w).as("n_tokens"),
      size(bpeish).as("n_bpe_tokens"),
      size(array_distinct(w)).as("n_uniq"),
      length(col(textCol)).as("n_chars"),
      (aggregate(w, lit(0L), (acc, x) => acc + length(x)) / size(w))
        .as("avg_tok_len"),
      (size(filter(w, x => x.isin(stopwords: _*))) / size(w))
        .as("stop_ratio")) ++ extra.map { case (n, c) => c.as(n) }: _*)
      .withColumn("quality_score",
        col("avg_tok_len") * 0.5 + col("stop_ratio") * 2.0 +
          least(col("n_tokens"), lit(100)) / 100.0)
  }

  /** Stopword-ratio language heuristic (n-gram-free variant: the synthetic
    * corpus shares one vocabulary, so the en-stopword rate is the signal).
    */
  def langId(text: Column): Column = {
    val w = words(text)
    val enHits = size(filter(w, x => x.isin("the", "a")))
    when(enHits * 20 >= size(w), "en").otherwise("unknown")
  }
}
