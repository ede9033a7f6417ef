package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.DedupIndex

/** Driver-checkable queries for the LLM-corpus operators (dedup,
  * similarity, text analysis) over `documents`/`embeddings`. Hashing is
  * md5-prefix folded to int so every query has a bit-exact DuckDB oracle;
  * floating point appears only as final divisions of identical integers.
  */
object LlmQueries {

  /** shared DuckDB fragments */
  private[graft] val hexFold =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |  list_transform(string_split(substring(md5(%s), 1, 7), ''),
      |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
      |  (acc, x) -> acc * 16 + x)""".stripMargin

  /** The q77/q78 deterministic 80/10/10 split as a SQL CASE over the
    * md5-bucket of expression `e` — mirrors [[TextOps.splitAssign]].
    */
  private def splitCase(e: String): String =
    s"""CASE WHEN ${hexFold.format(e)} % 100 < 80 THEN 'train'
       |     WHEN ${hexFold.format(e)} % 100 < 90 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** Exact dedup via content hash (the 100 TB standard first pass). */
  def q31DedupExact(s: SparkSession, d: String): DataFrame =
    TextOps.exactDedup(Tables.documents(s, d), "doc_id", "text")

  /** Token/char/stopword stats + quality score per document. */
  def q32TextStats(s: SparkSession, d: String): DataFrame =
    TextOps.textStats(Tables.documents(s, d), "doc_id", "text")

  /** Language-ID heuristic vs the labeled lang column. */
  def q33LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextOps.langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** TF-IDF keyword extraction: top-3 integer-scored keywords per doc. */
  def q34TfidfKeywords(s: SparkSession, d: String): DataFrame =
    TextOps.tfidfKeywords(Tables.documents(s, d), "doc_id", "text")

  /** Embedding quality stats: dimension, exact quantized square norm,
    * zero count, max |component| — all integers (no sqrt/log), row-local,
    * scales as a scan.
    */
  def q41EmbeddingStats(s: SparkSession, d: String): DataFrame = {
    val q = Similarity.quantize(col("embedding"))
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"),
      size(col("embedding")).as("dim"),
      Similarity.dotQ(q, q).as("sq_norm_milli"),
      size(filter(q, x => x === 0L)).as("n_zero"),
      array_max(transform(q, x => abs(x))).as("max_abs_milli"))
  }

  /** Composed corpus-preparation pipeline: quality gates → language
    * filter → fingerprint dedup with first-fail reason attribution.
    */
  def q71CorpusFilter(s: SparkSession, d: String): DataFrame =
    TextOps.corpusFilter(Tables.documents(s, d), "doc_id", "text")

  /** Bag-of-words fingerprint per document. */
  def q35Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))

  /** Banded MinHash-LSH near-dup candidates with exact-Jaccard verify. */
  def q36MinhashLsh(s: SparkSession, d: String): DataFrame =
    TextOps.minhashLsh(Tables.documents(s, d), "doc_id", "text")

  /** Duplicate clusters: connected components over the verified LSH
    * pairs at Jaccard ≥ 0.8 (iterative min-label propagation).
    */
  def q69DupClusters(s: SparkSession, d: String): DataFrame =
    TextOps.dupClusters(Tables.documents(s, d), "doc_id", "text")

  /** q183: INCREMENTAL dup-cluster refresh — the full republish
    * lifecycle for the component family (q172/q178's posture): the
    * previous corpus generation (doc_id % 4 ≠ 3 — an additions-only
    * predecessor: every gen1 pair survives into the full corpus, the
    * [[graft.TextOps.dupClustersRefresh]] validity contract) is
    * clustered cold, then the FULL corpus re-clusters warm-started
    * from those labels as hint edges. Refreshed ≡ cold bit-equal
    * (min-label's fixed point is unique — no limit-cycle caveat), so
    * the oracle is q69's recursive-CTE chain verbatim; the round
    * saving is ComponentsSpec's pin.
    */
  def q183ClustersRefresh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gen1Labels = Caches.persistTracked(TextOps.dupClusters(
      docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text"))
    TextOps.dupClustersRefresh(docs, gen1Labels, "doc_id", "text")
  }

  /** Canonical selection over q69's clusters: keep the longest doc per
    * component (ties to min doc_id), drop the rest.
    */
  def q151CanonicalDocs(s: SparkSession, d: String): DataFrame =
    TextOps.canonicalPerCluster(Tables.documents(s, d), "doc_id", "text")

  /** Snapshot diff between two deterministic generations of the
    * documents table: old = doc_id % 7 ≠ 3, new = doc_id % 5 ≠ 4 with
    * every 11th doc's text revised — the CASE is shared verbatim with
    * the oracle (the q136 planting convention), so both engines agree
    * on which ids are added/removed/changed.
    */
  def q153SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val old = docs.filter(col("doc_id") % 7 =!= 3)
    val nw = docs.filter(col("doc_id") % 5 =!= 4)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    TextOps.snapshotDiff(old, nw, "doc_id", "text")
  }

  /** Incremental ingest screen: the deterministic 20% "new batch"
    * (doc_id % 5 == 4 — scale-invariant, so every SF exercises both
    * sides) near-dup-checked against the other 80% standing corpus.
    */
  def q92IncrementalNeardup(s: SparkSession, d: String): DataFrame =
    TextOps.incrementalNearDup(Tables.documents(s, d), "doc_id", "text",
      col("doc_id") % 5 === 4)

  /** Concat-then-chunk packing of the corpus into 512-token training
    * sequences per language; shardSize 1000 so every SF exercises the
    * cross-shard carry, not just the local level.
    */
  def q93SequencePacking(s: SparkSession, d: String): DataFrame =
    TextOps.sequencePacking(Tables.documents(s, d), "doc_id", "text",
      "lang", budget = 512, shardSize = 1000)

  /** Benchmark-contamination screen: the deterministic 4% "eval suite"
    * (doc_id % 25 == 0) checked for winnowed-print containment inside
    * the other 96% training corpus.
    */
  def q94Decontaminate(s: SparkSession, d: String): DataFrame =
    TextOps.decontaminate(Tables.documents(s, d), "doc_id", "text",
      col("doc_id") % 25 === 0)

  /** END-TO-END CURATION composition — the full-text handoff gate the
    * per-stage queries don't cover: quality filter (q71's gates) ∩
    * canonical-dup keepers (q151) ∩ not-contaminated (q94's screen,
    * eval suite excluded from training outright), then the mix→pack
    * layout (q144→q147→q149) over exactly that curated corpus. Each
    * gate votes on the full corpus (semi/anti joins on doc_id — the
    * one-pass-per-gate shape that parallelizes at 100 TB); the packed
    * manifest is the deliverable a trainer consumes. The oracle chains
    * the same factored CTE fragments, so a drift in any stage's COLUMN
    * CONTRACT (reason/keep/train_id names, the curated projection)
    * breaks this gate even while every per-stage gate stays green.
    */
  def q174CurationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept = TextOps.corpusFilter(docs, "doc_id", "text")
      .filter(col("reason") === "kept").select("doc_id")
    val canon = TextOps.canonicalPerCluster(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val contam = TextOps.decontaminate(docs, "doc_id", "text",
        col("doc_id") % 25 === 0)
      .select(col("train_id").as("doc_id")).distinct()
    val cur = docs
      .filter(col("doc_id") % 25 =!= 0)
      .join(kept, Seq("doc_id"), "left_semi")
      .join(canon, Seq("doc_id"), "left_semi")
      .join(contam, Seq("doc_id"), "left_anti")
    CorpusOps.mixPack(cur, "doc_id", "text", "source")
  }

  /** Gopher-style repetition/boilerplate signals per document. */
  def q95RepetitionStats(s: SparkSession, d: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(s, d), "doc_id", "text")

  /** The exact-hash first pass of the incremental ingest, over the
    * same deterministic 20% batch as q92.
    */
  def q97IncrementalExact(s: SparkSession, d: String): DataFrame =
    TextOps.incrementalExactDedup(Tables.documents(s, d), "doc_id",
      "text", col("doc_id") % 5 === 4)

  /** The STANDING-INDEX ingest loop — the production shape of q92:
    * bootstrap the bucketed dedup index from the 60% standing corpus
    * (doc_id % 5 in 0..2), fold batch N (doc_id % 5 == 3) in via
    * [[graft.sources.DedupIndex.append]] (pure row-appends), then
    * screen batch N+1 (doc_id % 5 == 4) against the updated index. The
    * old side the screen sees is exactly q92's (% 5 != 4) — so the
    * result is bit-equal and shares q92's oracle — but here the corpus
    * is hashed once at ingest and only READ at screen time, with zero
    * corpus-side Exchange (PlanShapeSpec pins the plan).
    */
  def q98NeardupIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2),
      "doc_id", "text", "g98")
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3),
      "doc_id", "text", "g98")
    DedupIndex.screenNearDup(s, docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", "g98")
  }

  /** The exact-hash arm of the standing-index loop (production q97):
    * same bootstrap → append(batch N) → screen(batch N+1) lifecycle
    * over the log-structured (content_hash, doc_id) table; canonical
    * ids re-derive as an in-bucket min per hash, so appending batch N
    * preserves "canonical = min doc_id per hash" exactly and the
    * result shares q97's oracle.
    */
  def q99ExactIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2),
      "doc_id", "text", "g99")
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3),
      "doc_id", "text", "g99")
    DedupIndex.screenExact(s, docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", "g99")
  }

  /** The FULL standing-index lifecycle including the takedown and
    * maintenance legs — bootstrap (doc_id % 5 in 0..2), append batch N
    * (% 5 == 3), DELETE half of batch N (% 10 == 3 — a partial
    * takedown, so surviving appended docs must still screen as known),
    * COMPACT all three tables to one file per bucket, then screen
    * batch N+1 (% 5 == 4). The oracle is the never-inserted-corpus
    * answer: the standing side is exactly the live set
    * (% 5 <= 2 OR % 10 == 8), so a tombstone that leaks (or a
    * compaction that drops a live row) fails the hash gate.
    */
  def q129NeardupDeleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2),
      "doc_id", "text", "g129")
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3),
      "doc_id", "text", "g129")
    DedupIndex.delete(docs.filter(col("doc_id") % 10 === 3),
      "doc_id", "text", "g129")
    DedupIndex.compact(s, "g129")
    DedupIndex.screenNearDup(s, docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", "g129")
  }

  /** The exact-hash arm of the delete/compact lifecycle (q129's
    * design note) — canonical ids must re-derive as the min over LIVE
    * doc ids only: a deleted doc must neither be canonical nor count
    * as known.
    */
  def q130ExactDeleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2),
      "doc_id", "text", "g130")
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3),
      "doc_id", "text", "g130")
    DedupIndex.delete(docs.filter(col("doc_id") % 10 === 3),
      "doc_id", "text", "g130")
    DedupIndex.compact(s, "g130")
    DedupIndex.screenExact(s, docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", "g130")
  }

  /** The PARTIAL-compaction arm of the lifecycle (r17): same
    * bootstrap + append as q130, but the takedown is NARROW
    * (doc_id % 500 == 3 — a handful of docs, the real takedown shape)
    * and the maintenance pass is [[DedupIndex.compactPartial]]:
    * physical removal rewrites only the tombstoned buckets (≤ K per
    * id-keyed table for K deleted docs) while every other bucket's
    * files carry over byte-for-byte with their batch visibility. The
    * screen must still answer exactly as the never-inserted-corpus
    * oracle over the live set — a leaked tombstone, a dropped carried
    * row, or a torn batch list across the b0 flip all fail the hash
    * gate.
    */
  def q188PartialDedupCompact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2),
      "doc_id", "text", "g188")
    DedupIndex.append(docs.filter(col("doc_id") % 5 === 3),
      "doc_id", "text", "g188")
    DedupIndex.delete(docs.filter(col("doc_id") % 500 === 3),
      "doc_id", "text", "g188")
    DedupIndex.compactPartial(s, "g188")
    DedupIndex.screenExact(s, docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", "g188")
  }

  /** Semantic (embedding-space) duplicate clusters at cosine ≥ 0.25 —
    * the threshold that exercises multi-member components on the
    * synthetic embeddings (their banded pairs top out near 0.35; a
    * real embedding model would run this at ~0.95+).
    */
  def q96SemanticClusters(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDupClusters(Tables.embeddings(s, d), "vec_id",
      "embedding", threshold = 0.25)

  /** Duplicate clusters over the OTHER candidate family: connected
    * components on the simhash hamming-≤-3 pairs (q70's banded
    * candidates) — fingerprints row-local, the band join the only
    * pair-forming shuffle.
    */
  def q75SimhashClusters(s: SparkSession, d: String): DataFrame =
    TextOps.simhashDupClusters(Tables.documents(s, d), "doc_id", "text")

  /** q192: q75's clustering routed through the LARGE-STAR/SMALL-STAR
    * fallback ([[graft.TextOps.componentsStars]]) — the giant-
    * component path's full oracle gate: labels must be bit-equal to
    * min-label propagation's (the unique per-component min), so the
    * two queries share one oracle and any divergence in the star
    * rewrite (a dropped vertex, a torn alternation) hash-mismatches.
    */
  def q192StarsClusters(s: SparkSession, d: String): DataFrame =
    TextOps.simhashDupClusters(Tables.documents(s, d), "doc_id", "text",
      stars = true)

  /** The shared q75/q192 oracle: transitive closure over the banded
    * hamming pairs, component id = reachable min. */
  private lazy val simhashClustersOracle: String =
    s"""WITH RECURSIVE $simhashHamCtes,
       |symd AS (SELECT a AS src, b AS dst FROM ham
       |         UNION ALL SELECT b, a FROM ham),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM symd
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN symd s ON r.dst = s.src)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS comp
       |FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** n-gram Jaccard best partner within (lang, source) blocks.
    *
    * REGISTERED execution: the inverted-index form — pairs materialize
    * only where shingles actually overlap, so the pair count tracks
    * true-overlap density instead of C(block, 2). The block self-join
    * ([[TextOps.ngramJaccardBest]]) remains the named pedagogical
    * variant for dense/small vocabularies; NgramVariantSpec pins the
    * two bit-equal and SCALING.md's `ngram-ab` probe row measures them.
    */
  def q37NgramJaccard(s: SparkSession, d: String): DataFrame =
    TextOps.ngramJaccardBestInverted(Tables.documents(s, d), "doc_id",
      "text", Seq("lang", "source"))

  /** Embedding cosine best partner within label blocks.
    *
    * REGISTERED execution: the LSH-banded form — candidate pairs must
    * share (label, hyperplane bucket) and are verified with the exact
    * integer cosine, so the per-block pair count is collision-governed
    * rather than C(block, 2). The exact block self-join
    * ([[Similarity.blockedNearestNeighbor]]) remains the named
    * pedagogical variant; BlockedLshSpec pins agreement wherever the
    * true nearest neighbor shares the bucket.
    */
  def q38CosinePairs(s: SparkSession, d: String): DataFrame =
    Similarity.blockedLshNearestNeighbor(Tables.embeddings(s, d), "vec_id",
      "embedding", "label")

  /** Brute-force ANN top-3 for the probe subset (vec_id % 50 == 0). */
  def q39AnnTopk(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      col("vec_id") % 50 === 0, 3)

  /** 28-bit SimHash per document. */
  def q40Simhash(s: SparkSession, d: String): DataFrame =
    TextOps.simhashDf(Tables.documents(s, d), "doc_id", "text")

  /** SimHash near-dup: banded hamming-distance candidate join (exact
    * recall for hamming ≤ 3 by pigeonhole over the 4 bands).
    */
  def q70SimhashDups(s: SparkSession, d: String): DataFrame =
    TextOps.simhashNearDup(Tables.documents(s, d), "doc_id", "text")

  /** Multimodal column plumbing: opaque binary + typed metadata. The
    * dimension stand-in (`fake_*`) stays clearly stubbed, but the
    * `img_*` columns run the REAL PNG/BMP header decode
    * ([[graft.Multimodal.decodeImageHeader]]) — over these synthetic
    * text payloads every row decodes to null by construction (text
    * can't spoof either container's header gates), which is exactly
    * what the oracle asserts; the golden decode itself is gated by
    * LlmOpsSpec's real-header fixtures, matching the WAV precedent.
    */
  def q42MultimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.withVideoMeta(Multimodal.withImgMeta(Multimodal.withMeta(
      Multimodal.asMediaTable(Tables.documents(s, d)))))
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("content_md5"), col("fake_width"), col("fake_height"),
        col("img.format").as("img_format"),
        col("img.width").as("img_width"),
        col("img.height").as("img_height"),
        col("img.bits_per_pixel").as("img_bpp"),
        col("vid.major_brand").as("vid_brand"),
        col("vid.timescale").as("vid_timescale"),
        col("vid.duration_units").as("vid_duration_units"))

  /** Built-once IVF centroid index per sf dir (the [[Similarity.buildIvf]]
    * build/search split): the first search over a dir pays the full-corpus
    * centroid aggregation and materializes the index as parquet; every
    * subsequent search — q43/q68/q72 below, repeated bench iterations —
    * reads the tiny index table instead, so the SEARCH plan contains no
    * centroid aggregation (pinned by LlmOpsSpec). This is the 100 TB
    * shape: the index is built once per corpus snapshot, not per probe
    * batch.
    */
  private val ivfBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def ivfIndex(s: SparkSession, d: String): DataFrame = {
    val path = ivfBuilt.computeIfAbsent(d, _ => {
      // per-PROCESS path + exit-hook cleanup — concurrent JVMs must
      // not race one artifact and repeated runs must not accumulate
      // /tmp dirs (the q120/Bpe.mergeTable discipline, r14 review)
      val p = "/tmp/graft_ivf_" + d.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_p" + ProcessHandle.current().pid()
      Similarity.buildIvf(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", p)
      graft.TmpDirs.deleteOnExit(p)
      p
    })
    s.read.parquet(path)
  }

  /** IVF-routed ANN top-3: centroid route then single-cluster search,
    * against the prebuilt [[ivfIndex]].
    */
  def q43AnnIvf(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      "label", col("vec_id") % 50 === 0, 3,
      prebuilt = Some(ivfIndex(s, d)))

  /** IVF with nprobe=2: each probe searches its TWO nearest clusters —
    * the recall-vs-cost knob a production IVF exposes.
    */
  def q68AnnIvf2(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      "label", col("vec_id") % 50 === 0, 3, nprobe = 2,
      prebuilt = Some(ivfIndex(s, d)))

  /** q160: the standing ANN index lifecycle end-to-end (the q157
    * posture for vectors) — bootstrap 60% + append 40% = the full
    * corpus, a planted batch appended AND taken down (offset ids, the
    * id-unique contract; its signed centroid partials cancel exactly),
    * then COMPACTION, then the routed search — so the oracle is q68's
    * inline IVF ranker verbatim over the never-planted corpus, and the
    * registered path exercises delete + compaction + the mergeable-
    * centroid fold in one gate.
    */
  def q160VectorIndex(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val planted = emb.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    graft.sources.VectorIndex.write(emb.filter(col("vec_id") % 5 <= 2),
      "vec_id", "embedding", "label", "g160")
    graft.sources.VectorIndex.append(emb.filter(col("vec_id") % 5 >= 3),
      "vec_id", "embedding", "label", "g160")
    graft.sources.VectorIndex.append(planted,
      "vec_id", "embedding", "label", "g160")
    graft.sources.VectorIndex.delete(planted,
      "vec_id", "embedding", "label", "g160")
    graft.sources.VectorIndex.compact(s, "g160")
    graft.sources.VectorIndex.search(s, "g160",
      Similarity.probes(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0),
      k = 3, nprobe = 2)
  }

  /** q177: DIFF-DRIVEN refresh of the standing ANN index — the q159
    * discipline for vectors, completing the delta path across every
    * index family. The OLD generation is constructed so the diff
    * exercises all three verdicts and the FINAL state is exactly the
    * plain embeddings table: gen1 = 6/7 of the corpus with every 11th
    * vector perturbed (+1/4 on every dim — the republish "re-embeds"
    * them back to clean), plus id-shifted negated extras the republish
    * REMOVES; gen2 = the raw table. Bootstrap gen1, refreshFromDiff to
    * gen2 (one atomic batch: tombstones from gen1's rows, appends from
    * gen2's), search — bit-equal to q160's compacted lifecycle over
    * the same corpus, so it SHARES ivfOracle(2) verbatim and the gate
    * isolates the diff/tombstone arithmetic.
    */
  def q177VectorRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VectorIndex
    val emb = Tables.embeddings(s, d)
    val gen1 = emb.filter(col("vec_id") % 7 =!= 3)
      .withColumn("embedding",
        when(col("vec_id") % 11 === 0,
          transform(col("embedding"), x => x + lit(0.25f)))
          .otherwise(col("embedding")))
      .unionByName(emb.filter(col("vec_id") % 9 === 2)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
          transform(col("embedding"), x => -x).as("embedding")))
    VectorIndex.write(gen1, "vec_id", "embedding", "label", "g177")
    VectorIndex.refreshFromDiff(gen1, emb, "vec_id", "embedding",
      "label", "g177")
    VectorIndex.search(s, "g177",
      Similarity.probes(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0),
      k = 3, nprobe = 2)
  }

  /** q162: the PQ-CODED standing index lifecycle — the serving layout
    * a 100 TB vector corpus ships (codes, not vectors, in the standing
    * table; ~32× smaller). Codebook trained once over the full corpus
    * (the trainer set), then the q160 lifecycle over the codes log:
    * bootstrap 60% + append 40% = full corpus, planted batch appended
    * AND taken down (codes are deterministic integer argmins, so the
    * tombstones cancel bit-for-bit), compaction, then ADC search —
    * bit-equal to [[Similarity.pqAdcTopK]] inline over the
    * never-planted corpus (oracle shares q134/q135's pqCtes).
    */
  def q162PqIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VectorIndex
    val emb = Tables.embeddings(s, d)
    val planted = emb.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    VectorIndex.trainCodebook(emb, "embedding", "label", "g162")
    VectorIndex.writeCodes(emb.filter(col("vec_id") % 5 <= 2),
      "vec_id", "embedding", "label", "g162")
    VectorIndex.appendCodes(emb.filter(col("vec_id") % 5 >= 3),
      "vec_id", "embedding", "label", "g162")
    VectorIndex.appendCodes(planted, "vec_id", "embedding", "label",
      "g162")
    VectorIndex.deleteCodes(planted, "vec_id", "embedding", "label",
      "g162")
    VectorIndex.compactCodes(s, "g162")
    VectorIndex.searchAdc(s, "g162",
      Similarity.probes(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0), k = 3)
  }

  /** q169: the LEARNED-ROUTING standing ANN index — the composition
    * the r14 verdict named as missing: blocks assigned by the TRAINED
    * coarse quantizer (q155's Lloyd k-means, persisted as the
    * `_coarse` table) instead of caller-supplied labels. Same full
    * lifecycle as q160 (bootstrap 60% + append 40%, planted batch in
    * and out — the learned assignment is deterministic given the
    * persisted quantizer, so tombstones cancel bit-for-bit — then
    * compaction), then the routed nprobe-2 search. Oracle: the
    * unrolled Lloyd chain → per-cluster sum-vector centroids →
    * routing → top-3, i.e. the inline kmeans-routed ranker re-derived
    * bit-for-bit.
    */
  /** The per-dataset SHARED learned-ANN build (the q165/q167/q168
    * staged-index discipline applied to the vector family): ONE coarse
    * quantizer trained (Lloyd k=4 iters=3 over the full embedding
    * table — deterministic, so every consumer would derive the
    * bit-identical centroids) and ONE full-corpus learned index
    * written per dataset dir. q170's recall eval searches the shared
    * index directly (it gates ROUTING QUALITY, not the build — the
    * build lifecycle is q169's subject); q169/q171 reuse only the
    * trained quantizer ([[graft.sources.VectorIndex.reuseCoarse]], a
    * bounded-table copy) because their gates ARE the lifecycle over
    * their own prefixes. Keyed by dataset dir like sharedIndexes, so
    * warmup and timed SF never share tables. */
  private val sharedLearnedIdx =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedLearned(s: SparkSession, d: String): String =
    sharedLearnedIdx.computeIfAbsent(d, _ => {
      import graft.sources.VectorIndex
      val p = Tables.tablePrefix("glrn", d)
      val emb = Tables.embeddings(s, d)
      VectorIndex.trainCoarse(emb, "vec_id", "embedding", p,
        k = 4, iters = 3)
      VectorIndex.writeLearned(emb, "vec_id", "embedding", p)
      p
    })

  def q169LearnedVectorIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VectorIndex
    val emb = Tables.embeddings(s, d)
    VectorIndex.reuseCoarse(s, sharedLearned(s, d), "g169")
    val planted = emb.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    VectorIndex.writeLearned(emb.filter(col("vec_id") % 5 <= 2),
      "vec_id", "embedding", "g169")
    VectorIndex.appendLearned(emb.filter(col("vec_id") % 5 >= 3),
      "vec_id", "embedding", "g169")
    VectorIndex.appendLearned(planted, "vec_id", "embedding", "g169")
    VectorIndex.deleteLearned(planted, "vec_id", "embedding", "g169")
    VectorIndex.compact(s, "g169")
    VectorIndex.search(s, "g169",
      Similarity.probes(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0), k = 3, nprobe = 2)
  }

  /** q170: recall@3 of the learned-routed standing index (nprobe 1
    * and 2) against the exact brute-force baseline — the q72
    * evaluation shape over the q169 index, so the learned quantizer's
    * routing quality is a REPORTED number, not an assumption.
    */
  def q170LearnedRecall(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VectorIndex
    val emb = Tables.embeddings(s, d)
    val probe = col("vec_id") % 50 === 0
    // the shared full-corpus learned index — q170 gates routing
    // quality against brute force, not the build (q169's subject)
    val idx = sharedLearned(s, d)
    val probes = Similarity.probes(emb, "vec_id", "embedding", probe)
    val exact = Caches.persistTracked(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 3))
    def r(np: Int) = Similarity.recallAtK(exact,
      VectorIndex.search(s, idx, probes, 3, np), 3)
    r(1).select(col("probe_id"), col("hits").as("hits_np1"),
        col("recall").as("recall_np1"))
      .join(r(2).select(col("probe_id"), col("hits").as("hits_np2"),
        col("recall").as("recall_np2")), Seq("probe_id"))
      .orderBy("probe_id")
  }

  /** q171: the PQ-coded standing index with codewords = the LEARNED
    * clusters (the verdict's "train the PQ codebooks per learned
    * cluster" composition): coarse quantizer trained, codebook
    * trained per learned cluster, then the full q162 codes lifecycle
    * (bootstrap + append + planted in/out + compaction) and the ADC
    * search — bit-equal to the inline ADC ranker whose codebook is
    * derived from the unrolled Lloyd assignment (oracle shares the
    * parameterized pqCtes over the af-cluster frame).
    */
  def q171LearnedPqIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VectorIndex
    val emb = Tables.embeddings(s, d)
    VectorIndex.reuseCoarse(s, sharedLearned(s, d), "g171")
    VectorIndex.trainCodebookLearned(emb, "embedding", "g171")
    val planted = emb.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    VectorIndex.writeCodesLearned(emb.filter(col("vec_id") % 5 <= 2),
      "vec_id", "embedding", "g171")
    VectorIndex.appendCodesLearned(emb.filter(col("vec_id") % 5 >= 3),
      "vec_id", "embedding", "g171")
    VectorIndex.appendCodesLearned(planted, "vec_id", "embedding",
      "g171")
    VectorIndex.deleteCodesLearned(planted, "vec_id", "embedding",
      "g171")
    VectorIndex.compactCodes(s, "g171")
    VectorIndex.searchAdc(s, "g171",
      Similarity.probes(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0), k = 3)
  }

  /** q182: DRIFT-TRIGGERED QUANTIZER RE-TRAINING — the loop wiring
    * q141's drift metric to q169's learned routing (the r15 verdict's
    * open end: a static quantizer silently degrades recall as the
    * corpus distribution moves). Both generations are deterministic
    * RE-EMBEDDINGS of the corpus — the scenario where the embedding
    * MODEL changed: a 20.0 spike marks each vector's cluster (gen1:
    * dim 16·(vec_id mod 4); gen2: dim 16·((vec_id + vec_id÷4) mod 4)
    * + 8 — the new classes CROSS-CUT the old and live on disjoint
    * dims) over a shared pseudo-random residual
    * ((vec_id·31 + i·7) mod 2001 − 1000)/1000, all integer-exact
    * through quantization (float32(k/1000)·1000 rounds back to k).
    * The degradation is STRUCTURAL, independent of the real
    * embedding values (only vec_id/label are read): stale centroids
    * ≈ the four old spike dims, so routing a gen2 vector reduces to
    * argmax over its RESIDUALS at those dims — pseudo-random per
    * vector, uncorrelated with the new classes — while true top-3
    * sets are new-class-internal; probed blocks miss them and
    * nprobe-1 recall@3 collapses (measured 0.23 at the verify scale).
    * The drift gate
    * (min per-label drift_cos between generations) crosses its 0.9
    * threshold → [[graft.sources.VectorIndex.reroute]] re-trains on
    * the drifted corpus and rebuilds routing as a NEW index
    * generation (retain = 1 keeps the stale generation for the
    * pinned pre-flip reader — this query's own stale leg); Forgy
    * seeds (vec_ids 0–3) cover all four spike classes, so the
    * re-trained clusters recover the true structure and recall
    * recovers. Output per probe: recall@3 stale vs re-routed, plus
    * the drift minimum and the trigger verdict. Both legs are
    * oracled bit-for-bit via two unrolled Lloyd chains (the q155
    * discipline) — and the TRIGGER is gated too: if it failed to
    * fire, the engine's "new" leg would still be the stale ranking
    * and hash-mismatch the oracle's re-trained one.
    */
  /** The q182 re-embedding: spike marker at `spikeDim` over the
    * shared pseudo-random residual — one generator, two generations
    * (VectorIndexSpec drives the same pair). */
  private[graft] def reEmbedded(emb: DataFrame,
                                spikeDim: Column): DataFrame =
    emb.withColumn("embedding",
      transform(col("embedding"), (_, i) =>
        when(i === spikeDim, lit(20.0f))
          .otherwise(((pmod(col("vec_id") * 31 + i.cast("long") * 7,
            lit(2001L)) - 1000L) / lit(1000.0)).cast("float"))))

  private[graft] def q182Gen1(emb: DataFrame): DataFrame =
    reEmbedded(emb, pmod(col("vec_id"), lit(4)).cast("int") * 16)

  private[graft] def q182Gen2(emb: DataFrame): DataFrame =
    reEmbedded(emb,
      pmod(col("vec_id") + expr("vec_id div 4"), lit(4)).cast("int")
        * 16 + 8)

  def q182DriftReroute(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VectorIndex
    val emb = Tables.embeddings(s, d)
    val gen1 = Caches.persistTracked(q182Gen1(emb))
    val drifted = Caches.persistTracked(q182Gen2(emb))
    // gen1-trained quantizer routes the republished (drifted) corpus
    VectorIndex.trainCoarse(gen1, "vec_id", "embedding", "g182",
      k = 4, iters = 3)
    VectorIndex.writeLearned(drifted, "vec_id", "embedding", "g182")
    val isProbe = col("vec_id") % 50 === 0
    val probes = Similarity.probes(drifted, "vec_id", "embedding",
      isProbe)
    val exact = Caches.persistTracked(Similarity.bruteForceTopK(
      drifted, "vec_id", "embedding", isProbe, 3))
    val stale = Similarity.recallAtK(exact,
      VectorIndex.search(s, "g182", probes, 3, nprobe = 1), 3)
      .select(col("probe_id"), col("hits").as("hits_stale"),
        col("recall").as("recall_stale"))
    // the drift gate: q141's metric between the two generations —
    // the new side's vec_ids are offset past the id space so the
    // is_new predicate survives embeddingDrift's prepared projection
    // (which keeps only vec_id/q/label)
    val NewIdBase = 1000000000L
    val both = gen1.unionByName(drifted.withColumn("vec_id",
      col("vec_id") + NewIdBase))
    val driftMin = Similarity.embeddingDrift(both, "vec_id",
      "embedding", "label", col("vec_id") >= NewIdBase)
      .agg(min(col("drift_cos"))).head().getDouble(0)
    val rerouted = driftMin < 0.9
    if (rerouted)
      VectorIndex.reroute(drifted, "vec_id", "embedding", "g182",
        k = 4, iters = 3, retain = 1)
    val fresh = Similarity.recallAtK(exact,
      VectorIndex.search(s, "g182", probes, 3, nprobe = 1), 3)
      .select(col("probe_id"), col("hits").as("hits_new"),
        col("recall").as("recall_new"))
    stale.join(fresh, Seq("probe_id"))
      .withColumn("drift_min", lit(driftMin))
      .withColumn("rerouted", lit(rerouted))
      .orderBy("probe_id")
  }

  /** Label-free cosine near-dup via random-hyperplane LSH buckets. */
  def q54CosineLsh(s: SparkSession, d: String): DataFrame =
    Similarity.lshNearestNeighbor(Tables.embeddings(s, d), "vec_id", "embedding")

  /** The IVF centroid index BUILD as a driver-gated query: per-cluster
    * integer sum vector signature (label, cnorm2, n_dims, cq_sum) of
    * exactly the table [[Similarity.buildIvf]] persists. q43/q68/q72
    * gate the search half of the build/search split (and LlmOpsSpec
    * pins its plan shape); this gates the build half's VALUES against
    * an independent DuckDB aggregation. Also the honest bench entry for
    * the once-per-corpus-snapshot build cost that the search queries no
    * longer pay.
    */
  def q74IvfCentroids(s: SparkSession, d: String): DataFrame =
    Similarity.ivfCentroids(Tables.embeddings(s, d), "vec_id", "embedding",
      "label")
      .select(col("label"), col("cnorm2"),
        size(col("cq")).cast("long").as("n_dims"),
        aggregate(col("cq"), lit(0L), (a, x) => a + x).as("cq_sum"))
      .orderBy("label")

  /** ANN recall eval: recall@3 of IVF (nprobe = 1 and 2) against the
    * exact brute-force baseline, per probe — the quality metric that
    * justifies an approximate index at scale (and shows the nprobe
    * recall-vs-cost curve actually bends the right way).
    */
  /** q135: the PQ index SEARCHED — ADC top-3 over the q134 codes
    * (probe exact, corpus reconstructed) recall-evaluated against the
    * exact brute-force baseline, the q72 evaluation shape for the
    * quantized index. This is the number a deployment actually tunes:
    * how much top-k recall the 32× compression costs. On the synthetic
    * near-random embeddings with a 10-entry codebook the measured
    * recall is expectedly LOW (~0.17 at sf0.01) — the gate pins the
    * ADC arithmetic end-to-end, not embedding-model quality (the
    * q53/q125 posture); a real corpus runs a learned k-means codebook
    * with k ≫ blocks.
    */
  def q135PqAdcRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probe = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      probe, 3)
    Similarity.recallAtK(exact,
      Similarity.pqAdcTopK(emb, "vec_id", "embedding", "label", probe, 3),
      3)
      .orderBy("probe_id")
  }

  def q72AnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probe = col("vec_id") % 50 === 0
    // both recall branches reference the exact baseline; persist it (under
    // the Caches.clear lifecycle) so the brute-force top-k runs once, not
    // once per branch — Spark has no cross-branch subplan reuse
    val exact = Caches.persistTracked(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 3))
    def r(nprobe: Int) = Similarity.recallAtK(exact,
      Similarity.ivfTopK(emb, "vec_id", "embedding", "label", probe, 3, nprobe,
        prebuilt = Some(ivfIndex(s, d))), 3)
    r(1).select(col("probe_id"), col("hits").as("hits_np1"),
        col("recall").as("recall_np1"))
      .join(r(2).select(col("probe_id"), col("hits").as("hits_np2"),
        col("recall").as("recall_np2")), Seq("probe_id"))
      .orderBy("probe_id")
  }

  /** Dedup candidate-quality eval over the FULL corpus with pooled
    * ground truth (see [[TextOps.dedupRecall]]): recall/precision of the
    * MinHash-LSH and SimHash candidate pair sets against exact Jaccard
    * ≥ 0.8 verified on the candidate pool plus two constant-size audit
    * strata (even / odd doc_ids < 500 — 250 docs each at every SF,
    * which the oracle reproduces). Bounded at every stage; the two
    * audit rows are independent replicates of the pool-miss estimate.
    */
  def q73DedupRecall(s: SparkSession, d: String): DataFrame =
    TextOps.dedupRecall(Tables.documents(s, d), "doc_id", "text")

  /** Containment pairs via winnowed k-gram fingerprints: the embedded/
    * partial-duplicate detector (high containment, low jaccard) with the
    * doc-frequency-capped inverted print index.
    */
  def q76Containment(s: SparkSession, d: String): DataFrame =
    TextOps.containmentPairs(Tables.documents(s, d), "doc_id", "text")

  /** Deterministic train/val/test corpus split + per-(split, lang) mix
    * report (see [[TextOps.splitReport]]): doc/token counts and each
    * split's token share within its language. The split is a pure
    * function of doc_id (md5-bucket), so the oracle reproduces it
    * bit-for-bit and incremental ingests never reshuffle history.
    */
  def q77SplitReport(s: SparkSession, d: String): DataFrame =
    TextOps.splitReport(Tables.documents(s, d), "doc_id", "text", "lang")

  /** Split-leakage audit + repair (see [[TextOps.splitLeakage]]): docs
    * in one near-dup cluster (q69's components) must share a split —
    * the repaired split hashes the cluster representative instead of
    * the doc, and `moved` flags where the naive per-doc split would
    * have contaminated the eval side.
    */
  def q78SplitLeakage(s: SparkSession, d: String): DataFrame =
    TextOps.splitLeakage(Tables.documents(s, d), "doc_id", "text")

  /** Corpus-mix rebalance (see [[TextOps.rebalanceCorpus]]): cap every
    * language at 3 000 tokens by deterministic salted-hash
    * downsampling; report per-lang before/after counts and keep rates.
    */
  def q81Rebalance(s: SparkSession, d: String): DataFrame =
    TextOps.rebalanceCorpus(Tables.documents(s, d), "doc_id", "text",
      "lang", 3000L)

  /** Deterministic stratified eval sample (see
    * [[TextOps.stratifiedSample]]): exactly 40 docs per language,
    * md5-hash-ranked — no RNG, identical across engines and reruns.
    */
  def q90StratifiedSample(s: SparkSession, d: String): DataFrame =
    TextOps.stratifiedSample(Tables.documents(s, d), Seq("lang"),
        "doc_id", 40)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_dedup_exact" -> (q31DedupExact _),
    "q32_text_stats" -> (q32TextStats _),
    "q33_lang_id" -> (q33LangId _),
    "q34_tfidf_keywords" -> (q34TfidfKeywords _),
    "q35_fingerprint" -> (q35Fingerprint _),
    "q41_embedding_stats" -> (q41EmbeddingStats _),
    "q36_minhash_lsh" -> (q36MinhashLsh _),
    "q37_ngram_jaccard" -> (q37NgramJaccard _),
    "q38_cosine_pairs" -> (q38CosinePairs _),
    "q39_ann_topk" -> (q39AnnTopk _),
    "q40_simhash" -> (q40Simhash _),
    "q42_multimodal_meta" -> (q42MultimodalMeta _),
    "q43_ann_ivf" -> (q43AnnIvf _),
    "q54_cosine_lsh" -> (q54CosineLsh _),
    "q68_ann_ivf_nprobe2" -> (q68AnnIvf2 _),
    "q160_vector_index" -> (q160VectorIndex _),
    "q177_vector_refresh" -> (q177VectorRefresh _),
    "q162_pq_index" -> (q162PqIndex _),
    "q169_learned_vector_index" -> (q169LearnedVectorIndex _),
    "q170_learned_recall" -> (q170LearnedRecall _),
    "q171_learned_pq_index" -> (q171LearnedPqIndex _),
    "q182_drift_reroute" -> (q182DriftReroute _),
    "q69_dup_clusters" -> (q69DupClusters _),
    "q183_clusters_refresh" -> (q183ClustersRefresh _),
    "q151_canonical_docs" -> (q151CanonicalDocs _),
    "q153_snapshot_diff" -> (q153SnapshotDiff _),
    "q70_simhash_dups" -> (q70SimhashDups _),
    "q71_corpus_filter" -> (q71CorpusFilter _),
    "q72_ann_recall" -> (q72AnnRecall _),
    "q73_dedup_recall" -> (q73DedupRecall _),
    "q74_ivf_centroids" -> (q74IvfCentroids _),
    "q75_simhash_clusters" -> (q75SimhashClusters _),
    "q192_stars_clusters" -> (q192StarsClusters _),
    "q76_winnow_containment" -> (q76Containment _),
    "q77_split_report" -> (q77SplitReport _),
    "q78_split_leakage" -> (q78SplitLeakage _),
    "q81_corpus_rebalance" -> (q81Rebalance _),
    "q90_stratified_sample" -> (q90StratifiedSample _),
    "q92_incremental_neardup" -> (q92IncrementalNeardup _),
    "q93_sequence_packing" -> (q93SequencePacking _),
    "q94_decontaminate" -> (q94Decontaminate _),
    "q174_curation_pipeline" -> (q174CurationPipeline _),
    "q95_repetition_stats" -> (q95RepetitionStats _),
    "q96_semantic_clusters" -> (q96SemanticClusters _),
    "q97_incremental_exact" -> (q97IncrementalExact _),
    "q98_neardup_indexed" -> (q98NeardupIndexed _),
    "q99_exact_indexed" -> (q99ExactIndexed _),
    "q129_neardup_deleted" -> (q129NeardupDeleted _),
    "q130_exact_deleted" -> (q130ExactDeleted _),
    "q188_partial_dedup_compact" -> (q188PartialDedupCompact _),
    "q126_sq8_recall" -> ((s, d) =>
      Similarity.sq8Recall(Tables.embeddings(s, d), "vec_id",
        "embedding", "label")),
    "q134_pq_recall" -> ((s, d) =>
      Similarity.pqRecall(Tables.embeddings(s, d), "vec_id",
        "embedding", "label")),
    "q135_pq_adc_recall" -> (q135PqAdcRecall _),
    // per-label centroid drift between the even/odd vec_id slices —
    // the deterministic stand-in for "last snapshot vs this one"
    "q141_embedding_drift" -> ((s, d) =>
      Similarity.embeddingDrift(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", pmod(col("vec_id"), lit(2)) === 1)),
    // the 4% eval slice (q94's membership convention) screened against
    // the training side in EMBEDDING space; threshold 0.2 sits inside
    // the synthetic corpus's nearest-cos spread so BOTH verdict
    // outcomes appear in the gated output (a real embedding model runs
    // this at ~0.9+)
    "q127_semantic_decontam" -> ((s, d) =>
      Similarity.semanticDecontaminate(Tables.embeddings(s, d), "vec_id",
        "embedding", col("vec_id") % 25 === 0, threshold = 0.2)),
    // hard-negative mining: q39's probe convention, negatives must
    // carry a different label
    "q145_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", col("vec_id") % 50 === 0, 5)),
    // trained Lloyd k-means over the embedding corpus (k=4, 3 rounds —
    // matched in the generated oracle's unrolled CTE chain)
    "q155_kmeans" -> ((s, d) =>
      Similarity.kmeansClusters(Tables.embeddings(s, d), "vec_id",
        "embedding", "label")),
    // SemDeDup over the q155 clustering; τ = 3/10 sits inside the
    // synthetic corpus's within-cluster cosine spread (max ~0.47) so
    // both keep/drop outcomes appear in the gated output — a real
    // embedding model runs this at ~0.9+ (the q127 calibration note)
    "q156_semdedup" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), "vec_id",
        "embedding", "label")))

  private val shingleBase =
    """base AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct([array_to_string(w[i:i+2], ' ')
      |                   for i in range(1, len(w) - 1)]) AS sh
      |  FROM (SELECT doc_id, lang, source,
      |          string_split_regex(trim(text), '\s+') AS w
      |        FROM documents))""".stripMargin

  /** Shared LSH CTE front half (hashed shingle sets → signatures →
    * bands); consumed via [[lshJacCtes]] (symmetric pairs, q36/q69)
    * and directly by q92's asymmetric new-vs-old probe.
    */
  private lazy val lshSigBandCtes: String =
    s"""hs AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(
       |      list_transform(sh, s -> ${hexFold.format("s")}))) AS hs
       |  FROM base),
       |sig AS (
       |  SELECT doc_id, hs,
       |    list_min(list_transform(hs, h -> (999983*h + 12345) % 2147483647)) AS sig0,
       |    list_min(list_transform(hs, h -> (999979*h + 54321) % 2147483647)) AS sig1,
       |    list_min(list_transform(hs, h -> (1000003*h + 98765) % 2147483647)) AS sig2,
       |    list_min(list_transform(hs, h -> (1000033*h + 13579) % 2147483647)) AS sig3,
       |    list_min(list_transform(hs, h -> (1000037*h + 24680) % 2147483647)) AS sig4,
       |    list_min(list_transform(hs, h -> (1000039*h + 11111) % 2147483647)) AS sig5,
       |    list_min(list_transform(hs, h -> (1000081*h + 22222) % 2147483647)) AS sig6,
       |    list_min(list_transform(hs, h -> (1000099*h + 33333) % 2147483647)) AS sig7
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, hs, 0 AS band, sig0*2147483647 + sig1 AS key FROM sig
       |  UNION ALL SELECT doc_id, hs, 1, sig2*2147483647 + sig3 FROM sig
       |  UNION ALL SELECT doc_id, hs, 2, sig4*2147483647 + sig5 FROM sig
       |  UNION ALL SELECT doc_id, hs, 3, sig6*2147483647 + sig7 FROM sig)""".stripMargin

  /** Shared LSH CTE chain (hashed shingle sets → signatures → bands →
    * verified pairs → jaccard); consumed by q36 and q69.
    */
  /** The cold dup-cluster chain (recursive reachability over verified
    * LSH pairs at Jaccard ≥ 0.8) — shared verbatim by q69 and by q183
    * (whose warm-started engine path is bit-equal to cold by the
    * additions-only hint-edge argument). Edit with q151, whose oracle
    * embeds the same chain. */
  private lazy val dupClustersOracle: String =
    s"""WITH RECURSIVE $shingleBase,
       |$lshJacCtes,
       |edges AS (SELECT a, b FROM jac WHERE jaccard >= 0.8),
       |symd AS (SELECT a AS src, b AS dst FROM edges
       |         UNION ALL SELECT b, a FROM edges),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM symd
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN symd s ON r.dst = s.src)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS comp
       |FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private lazy val lshJacCtes: String =
    s"""$lshSigBandCtes,
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.hs AS sa, y.hs AS sb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE x.key IS NOT NULL),
       |jac AS (
       |  SELECT a, b,
       |    len(list_intersect(sa, sb))
       |      / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
       |  FROM pairs)""".stripMargin

  private val embBase =
    """base AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n2 AS (
      |  SELECT vec_id, label, q,
      |    CAST(list_sum([q[i]*q[i] for i in range(1, 65)]) AS BIGINT) AS norm2
      |  FROM base)""".stripMargin

  /** q155/q156's shared unrolled Lloyd chain (the Graph/Bpe generated-
    * oracle pattern), appended after [[embBase]]: c0 = Forgy seeds (the
    * k smallest vec_ids), then per round r an assignment CTE a_r
    * (squared-L2 argmin vs c_{r−1}, ties → min cluster — the engine's
    * lexicographic `array_min`), per-(cluster, dim) integer sums s_r,
    * floor-mean update u_r (remainder normalized non-negative first so
    * `//` is exact — the q134 truncate-vs-floor lesson), and the
    * carried-centroid frame c_r (empty clusters keep their previous
    * centroid). Ends at `af`: the final assignment carrying (vec_id,
    * label, q, norm2, cl, dist). Every CTE `AS MATERIALIZED`: each
    * centroid level is referenced twice (assignment + carry), the q143
    * dual-reference inlining hazard. Mirrors
    * [[graft.Similarity.kmeansCentroids]] — edit together.
    */
  /** One argmin-assignment SELECT body: rows of `src` labeled with
    * their nearest centroid from `cenCte` (squared-L2, ties → min
    * cluster — the engine's lexicographic `array_min`). Shared by
    * [[kmeansCtes]]' per-round assignment and by q182's
    * cross-generation assignments (drifted corpus vs stale/fresh
    * centroids). */
  private def kmeansAssignSql(src: String, cenCte: String,
                              cols: String): String =
    s"""  SELECT $cols, cl, dist FROM (
       |    SELECT $cols, cl, dist, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn
       |    FROM (SELECT ${cols.split(", ").map(s"$src." + _)
                    .mkString(", ")}, c.cl,
       |      CAST(list_sum([($src.q[i] - c.cen[i]) * ($src.q[i] - c.cen[i])
       |                     for i in range(1, 65)]) AS BIGINT) AS dist
       |      FROM $src, $cenCte c)) WHERE rn = 1""".stripMargin

  /** The unrolled Lloyd TRAINING chain over `src` with CTE names
    * prefixed `p` (c<p>0 … c<p>iters) — [[kmeansCtes]] instantiates
    * it once over n2 with the empty prefix; q182's two-generation
    * oracle runs it twice (stale over n2, re-trained over the drifted
    * n2d). */
  private def kmeansChainCtes(src: String, p: String, k: Int,
                              iters: Int): String = {
    val head =
      s"""c${p}0 AS MATERIALIZED (
         |  SELECT cl, cen FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
         |      q AS cen FROM $src) WHERE cl < $k)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$p$r AS MATERIALIZED (
         |${kmeansAssignSql(src, s"c$p${r - 1}", "vec_id, q")}),
         |s$p$r AS MATERIALIZED (
         |  SELECT cl, d, CAST(sum(v) AS BIGINT) AS s, count(*) AS c
         |  FROM (SELECT cl, unnest(q) AS v, unnest(range(1, 65)) AS d
         |        FROM a$p$r)
         |  GROUP BY 1, 2),
         |u$p$r AS MATERIALIZED (
         |  SELECT cl, list((s - ((s % c) + c) % c) // c ORDER BY d) AS cen
         |  FROM s$p$r GROUP BY cl),
         |c$p$r AS MATERIALIZED (
         |  SELECT p.cl, coalesce(u.cen, p.cen) AS cen
         |  FROM c$p${r - 1} p LEFT JOIN u$p$r u USING (cl))""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }

  private def kmeansCtes(k: Int, iters: Int): String =
    s"""${kmeansChainCtes("n2", "", k, iters)},
       |af AS MATERIALIZED (
       |${kmeansAssignSql("n2", s"c$iters", "vec_id, label, q, norm2")})""".stripMargin

  /** Per-LEARNED-cluster sum-vector centroid CTEs over [[kmeansCtes]]'s
    * final assignment `af` — [[centCtes]]'s shape with label → cl;
    * shared by the q169/q170 oracles (edit together). */
  private def learnedCentCtesFrom(src: String, p: String): String =
    s"""lcent$p AS (
       |  SELECT cl AS block, list(s ORDER BY i) AS cq
       |  FROM (
       |    SELECT cl, i, CAST(sum(v) AS BIGINT) AS s
       |    FROM (SELECT cl, unnest(q) AS v,
       |                 unnest(range(1, 65)) AS i FROM $src) z
       |    GROUP BY cl, i) g
       |  GROUP BY cl),
       |lcn$p AS (SELECT block, cq,
       |         CAST(list_sum([cq[i]*cq[i] for i in range(1, 65)]) AS BIGINT)
       |           AS cnorm2 FROM lcent$p)""".stripMargin

  private lazy val learnedCentCtes: String =
    learnedCentCtesFrom("af", "")

  /** q182's two-generation oracle: both deterministic re-embeddings
    * re-derived from vec_id alone (n2g1: spike 16·(vec_id mod 4);
    * n2d: spike 16·((vec_id + vec_id÷4) mod 4) + 8 — mirror the
    * engine's [[reEmbedded]] exactly, integer-exact through
    * quantization), the STALE leg (Lloyd chain `g` trained over
    * n2g1, drifted corpus assigned against cg3, routed nprobe-1
    * top-3) and the RE-TRAINED leg (chain `h` over n2d, assigned
    * against ch3) — both scored against the brute-force top-3 over
    * n2d, plus the per-label drift minimum (q141's metric between
    * the generations) and the trigger verdict. The engine's trigger
    * is gated through the NEW leg: had it failed to fire, hits_new
    * would still be the stale ranking and hash-mismatch. */
  private lazy val q182OracleSql: String = {
    def routedLeg(p: String, afCte: String): String =
      s"""routed$p AS (
         |  SELECT probe_id, pq, pnorm2, block FROM (
         |    SELECT p.probe_id, p.pq, p.pnorm2, c.block,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.cq[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.cnorm2)) DESC, c.block ASC) AS rn
         |    FROM probes p CROSS JOIN lcn$p c) t WHERE rn <= 1),
         |ivf$p AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT r.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY r.probe_id ORDER BY
         |        CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(r.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM routed$p r JOIN $afCte c
         |      ON c.cl = r.block AND c.vec_id <> r.probe_id) t
         |  WHERE rank <= 3),
         |h$p AS (SELECT e.probe_id, count(*) AS hits FROM ex e
         |       JOIN ivf$p i ON i.probe_id = e.probe_id
         |                   AND i.neighbor_id = e.neighbor_id GROUP BY 1)""".stripMargin
    s"""WITH n2g1 AS MATERIALIZED (
       |  SELECT vec_id, label, q,
       |    CAST(list_sum([q[i]*q[i] for i in range(1, 65)]) AS BIGINT)
       |      AS norm2
       |  FROM (
       |    SELECT vec_id, label,
       |      [CASE WHEN i = (vec_id % 4) * 16 + 1 THEN 20000
       |            ELSE ((vec_id * 31 + (i - 1) * 7) % 2001) - 1000
       |       END for i in range(1, 65)] AS q
       |    FROM embeddings) b1),
       |n2d AS MATERIALIZED (
       |  SELECT vec_id, label, q,
       |    CAST(list_sum([q[i]*q[i] for i in range(1, 65)]) AS BIGINT)
       |      AS norm2
       |  FROM (
       |    SELECT vec_id, label,
       |      [CASE WHEN i = ((vec_id + vec_id // 4) % 4) * 16 + 9 THEN 20000
       |            ELSE ((vec_id * 31 + (i - 1) * 7) % 2001) - 1000
       |       END for i in range(1, 65)] AS q
       |    FROM embeddings) b0),
       |${kmeansChainCtes("n2g1", "g", 4, 3)},
       |afs AS MATERIALIZED (
       |${kmeansAssignSql("n2d", "cg3", "vec_id, q, norm2")}),
       |${kmeansChainCtes("n2d", "h", 4, 3)},
       |afn AS MATERIALIZED (
       |${kmeansAssignSql("n2d", "ch3", "vec_id, q, norm2")}),
       |${learnedCentCtesFrom("afs", "s")},
       |${learnedCentCtesFrom("afn", "n")},
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
       |  FROM n2d WHERE vec_id % 50 = 0),
       |ex AS MATERIALIZED (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.probe_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
       |        CAST(list_sum([p.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
       |          / (sqrt(p.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
       |    FROM probes p JOIN n2d c ON c.vec_id <> p.probe_id) t
       |  WHERE rank <= 3),
       |${routedLeg("s", "afs")},
       |${routedLeg("n", "afn")},
       |da AS (SELECT label, d, CAST(sum(v) AS BIGINT) AS sa
       |       FROM (SELECT label, unnest(q) AS v,
       |             unnest(range(1, 65)) AS d FROM n2g1) GROUP BY 1, 2),
       |db AS (SELECT label, d, CAST(sum(v) AS BIGINT) AS sb
       |       FROM (SELECT label, unnest(q) AS v,
       |             unnest(range(1, 65)) AS d FROM n2d) GROUP BY 1, 2),
       |dl AS (
       |  SELECT a.label, list(a.sa ORDER BY a.d) AS ca,
       |         list(b.sb ORDER BY b.d) AS cb
       |  FROM da a JOIN db b ON a.label = b.label AND a.d = b.d
       |  GROUP BY a.label),
       |dm AS (
       |  SELECT min(round(
       |    CAST(list_sum([ca[i]*cb[i] for i in range(1, 65)]) AS BIGINT)
       |    / (sqrt(CAST(list_sum([ca[i]*ca[i] for i in range(1, 65)]) AS BIGINT))
       |     * sqrt(CAST(list_sum([cb[i]*cb[i] for i in range(1, 65)]) AS BIGINT))),
       |    6)) AS drift_min FROM dl),
       |pr AS (SELECT DISTINCT probe_id FROM ex)
       |SELECT pr.probe_id,
       |  coalesce(hs.hits, 0) AS hits_stale,
       |  coalesce(hs.hits, 0) / 3.0 AS recall_stale,
       |  coalesce(hn.hits, 0) AS hits_new,
       |  coalesce(hn.hits, 0) / 3.0 AS recall_new,
       |  (SELECT drift_min FROM dm) AS drift_min,
       |  TRUE AS rerouted
       |FROM pr LEFT JOIN hs USING (probe_id) LEFT JOIN hn USING (probe_id)
       |ORDER BY pr.probe_id""".stripMargin
  }

  /** The standing-index lifecycle queries (q98/q99) produce bit-identical
    * answers to their snapshot-rebuild twins (q92/q97) by construction —
    * the index IS the old side, persisted — so they share the oracle
    * verbatim.
    */
  val oracle: Map[String, String] = baseOracle ++ Map(
    "q98_neardup_indexed" -> baseOracle("q92_incremental_neardup"),
    "q99_exact_indexed" -> baseOracle("q97_incremental_exact"),
    // the delete/compact lifecycle gates (q129/q130): the oracle's
    // standing side is the post-takedown LIVE membership — the index
    // must answer as if the deleted docs were never inserted
    "q129_neardup_deleted" ->
      neardupScreenSql("y.doc_id % 5 <= 2 OR y.doc_id % 10 = 8"),
    "q130_exact_deleted" ->
      exactScreenSql("doc_id % 5 <= 2 OR doc_id % 10 = 8"),
    // q188: live set = bootstrap + append minus the NARROW takedown
    "q188_partial_dedup_compact" ->
      exactScreenSql("doc_id % 5 <> 4 AND doc_id % 500 <> 3"),
    // SQ8 quantization fidelity: codes/reconstructions are positive
    // integer floor-divisions (// here, exact double-div+floor in the
    // engine — quotients sit ≥ 1/span from any integer, far above one
    // ulp), cosines the usual single IEEE division of identical ints
    "q126_sq8_recall" ->
      s"""WITH $embBase,
         |st AS (
         |  SELECT d, min(v) AS mn, greatest(max(v) - min(v), 1) AS sp
         |  FROM (SELECT unnest(q) AS v, unnest(range(1, 65)) AS d
         |        FROM n2)
         |  GROUP BY d),
         |mm AS (SELECT list(mn ORDER BY d) AS mns,
         |              list(sp ORDER BY d) AS sps FROM st),
         |rn AS (
         |  SELECT vec_id, label, q, norm2,
         |    [mns[i] + (((q[i] - mns[i]) * 255 // sps[i]) * sps[i]) // 255
         |     for i in range(1, 65)] AS r
         |  FROM n2, mm),
         |rr AS (
         |  SELECT vec_id, label, q, norm2, r,
         |    CAST(list_sum([r[i]*r[i] for i in range(1, 65)]) AS BIGINT)
         |      AS rnorm2
         |  FROM rn),
         |p AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    CAST(list_sum([x.q[i]*y.q[i] for i in range(1, 65)])
         |      AS BIGINT) / (sqrt(x.norm2) * sqrt(y.norm2)) AS cos_exact,
         |    CAST(list_sum([x.r[i]*y.r[i] for i in range(1, 65)])
         |      AS BIGINT) / (sqrt(x.rnorm2) * sqrt(y.rnorm2)) AS cos_sq8
         |  FROM rr x JOIN rr y
         |    ON x.label = y.label AND x.vec_id < y.vec_id),
         |sym AS (
         |  SELECT a AS vec_id, b AS nn_id, cos_exact, cos_sq8 FROM p
         |  UNION ALL SELECT b, a, cos_exact, cos_sq8 FROM p),
         |rk AS (
         |  SELECT vec_id, nn_id, cos_exact, cos_sq8,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_exact DESC, nn_id ASC) AS re,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_sq8 DESC, nn_id ASC) AS rs
         |  FROM sym),
         |best AS (
         |  SELECT vec_id,
         |    max(CASE WHEN re = 1 THEN nn_id END) AS nn_exact,
         |    max(CASE WHEN re = 1 THEN round(cos_exact, 6) END)
         |      AS cos_exact,
         |    max(CASE WHEN rs = 1 THEN nn_id END) AS nn_sq8,
         |    max(CASE WHEN rs = 1 THEN round(cos_sq8, 6) END) AS cos_sq8
         |  FROM rk GROUP BY vec_id)
         |SELECT n.vec_id, n.label, nn_exact, cos_exact, nn_sq8, cos_sq8,
         |  nn_exact IS NOT DISTINCT FROM nn_sq8 AS agree
         |FROM n2 n LEFT JOIN best USING (vec_id)
         |ORDER BY n.vec_id""".stripMargin,
    // IVF-PQ fidelity: per-label floor-mean codebooks over 8 contiguous
    // subspaces, integer-exact nearest-entry assignment (ties -> min
    // code), reconstruction + dual-precision top-1 agreement — mirrors
    // Similarity.pqRecall; edit together. Floor-mean: DuckDB's // and %
    // TRUNCATE toward zero on negative sums (-748 // 63 = -11, caught
    // by this gate) while the engine's (sum - pmod)/count FLOORS, so
    // the oracle normalizes the remainder to non-negative first — the
    // numerator becomes exactly divisible and // is then exact
    "q134_pq_recall" ->
      s"""WITH $embBase,
         |$pqCtes,
         |p AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    CAST(list_sum([x.q[i]*y.q[i] for i in range(1, 65)])
         |      AS BIGINT) / (sqrt(x.norm2) * sqrt(y.norm2)) AS cos_exact,
         |    CAST(list_sum([x.r[i]*y.r[i] for i in range(1, 65)])
         |      AS BIGINT) / (sqrt(x.rnorm2) * sqrt(y.rnorm2)) AS cos_pq
         |  FROM rr x JOIN rr y
         |    ON x.label = y.label AND x.vec_id < y.vec_id),
         |sym AS (
         |  SELECT a AS vec_id, b AS nn_id, cos_exact, cos_pq FROM p
         |  UNION ALL SELECT b, a, cos_exact, cos_pq FROM p),
         |rk AS (
         |  SELECT vec_id, nn_id, cos_exact, cos_pq,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_exact DESC, nn_id ASC) AS re,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_pq DESC, nn_id ASC) AS rs
         |  FROM sym),
         |best AS (
         |  SELECT vec_id,
         |    max(CASE WHEN re = 1 THEN nn_id END) AS nn_exact,
         |    max(CASE WHEN re = 1 THEN round(cos_exact, 6) END)
         |      AS cos_exact,
         |    max(CASE WHEN rs = 1 THEN nn_id END) AS nn_pq,
         |    max(CASE WHEN rs = 1 THEN round(cos_pq, 6) END) AS cos_pq
         |  FROM rk GROUP BY vec_id)
         |SELECT v.vec_id, v.label, v.recon_err2,
         |  nn_exact, cos_exact, nn_pq, cos_pq,
         |  nn_exact IS NOT DISTINCT FROM nn_pq AS agree
         |FROM rr v LEFT JOIN best USING (vec_id)
         |ORDER BY v.vec_id""".stripMargin,
    // per-label centroid drift between the even/odd slices: integer
    // conditional dimension sums, cosine of the sum vectors (scale
    // invariant ≡ mean cosine) — mirrors Similarity.embeddingDrift
    "q141_embedding_drift" ->
      s"""WITH $embBase,
         |dx AS (SELECT vec_id, label, vec_id % 2 = 1 AS is_new,
         |         unnest(q) AS v, unnest(range(1, 65)) AS d
         |       FROM n2),
         |bd AS (SELECT label, d,
         |        CAST(sum(CASE WHEN NOT is_new THEN v END) AS BIGINT)
         |          AS sa,
         |        CAST(sum(CASE WHEN is_new THEN v END) AS BIGINT) AS sb
         |       FROM dx GROUP BY 1, 2),
         |ct AS (SELECT label, list(sa ORDER BY d) AS ca,
         |         list(sb ORDER BY d) AS cb
         |       FROM bd GROUP BY 1),
         |cn AS (SELECT label,
         |        CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END)
         |          AS BIGINT) AS n_old,
         |        CAST(count(CASE WHEN vec_id % 2 = 1 THEN 1 END)
         |          AS BIGINT) AS n_new
         |       FROM n2 GROUP BY 1)
         |SELECT c.label, n_old, n_new,
         |  round(CAST(list_sum([ca[i]*cb[i] for i in range(1, 65)])
         |      AS BIGINT)
         |    / (sqrt(CAST(list_sum([ca[i]*ca[i] for i in range(1, 65)])
         |        AS BIGINT))
         |     * sqrt(CAST(list_sum([cb[i]*cb[i] for i in range(1, 65)])
         |        AS BIGINT))), 6) AS drift_cos
         |FROM cn c JOIN ct USING (label)
         |WHERE n_old > 0 AND n_new > 0
         |ORDER BY c.label""".stripMargin,
    // ADC search over the PQ codes: probe exact, corpus reconstructed
    // (shares pqCtes with q134 — edit together); recall vs the exact
    // brute-force top-3, the q72 evaluation shape
    "q135_pq_adc_recall" ->
      s"""WITH $embBase,
         |$pqCtes,
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0),
         |exa AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.q[i] for i in range(1, 65)])
         |          AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.norm2)) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM probes p JOIN n2 c ON c.vec_id <> p.probe_id) t
         |  WHERE rank <= 3),
         |adc AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.r[i] for i in range(1, 65)])
         |          AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.rnorm2)) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM probes p JOIN rr c ON c.vec_id <> p.probe_id) t
         |  WHERE rank <= 3),
         |h AS (SELECT e.probe_id, CAST(count(*) AS BIGINT) AS hits
         |      FROM exa e JOIN adc a ON a.probe_id = e.probe_id
         |                          AND a.neighbor_id = e.neighbor_id
         |      GROUP BY 1),
         |pr AS (SELECT DISTINCT probe_id FROM exa)
         |SELECT pr.probe_id, coalesce(h.hits, 0) AS hits,
         |  coalesce(h.hits, 0) / 3.0 AS recall
         |FROM pr LEFT JOIN h USING (probe_id)
         |ORDER BY pr.probe_id""".stripMargin,
    // the PQ-coded standing index answers exactly as the inline ADC
    // ranker over the never-planted corpus — probe exact, corpus
    // reconstructed from codes (shares pqCtes with q134/q135, edit
    // together); cosine is one IEEE division of exact ints (the
    // ivfOracle argument)
    "q162_pq_index" ->
      s"""WITH $embBase,
         |$pqCtes,
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0)
         |SELECT probe_id, rank, neighbor_id, cosine FROM (
         |  SELECT p.probe_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum([p.pq[i]*c.r[i] for i in range(1, 65)])
         |      AS BIGINT)
         |      / (sqrt(p.pnorm2) * sqrt(c.rnorm2)) AS cosine,
         |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |      CAST(list_sum([p.pq[i]*c.r[i] for i in range(1, 65)])
         |        AS BIGINT)
         |        / (sqrt(p.pnorm2) * sqrt(c.rnorm2)) DESC,
         |      c.vec_id ASC) AS rank
         |  FROM probes p JOIN rr c ON c.vec_id <> p.probe_id) t
         |WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin,
    // asymmetric eval-vs-training screen over the shared hyperplane
    // signature — edit cosSigCte together with q54/q96
    "q127_semantic_decontam" ->
      s"""WITH $embBase,
         |$cosSigCte,
         |ev AS (SELECT vec_id AS eval_id, q AS eq, norm2 AS en2, bucket
         |       FROM sig WHERE vec_id % 25 = 0),
         |tr AS (SELECT vec_id, q, norm2, bucket FROM sig
         |       WHERE vec_id % 25 <> 0),
         |cand AS (
         |  SELECT ev.eval_id, tr.vec_id AS train_id,
         |    CAST(list_sum([ev.eq[i]*tr.q[i] for i in range(1, 65)])
         |      AS BIGINT) / (sqrt(ev.en2) * sqrt(tr.norm2)) AS cosine
         |  FROM tr JOIN ev ON tr.bucket = ev.bucket),
         |rk AS (
         |  SELECT eval_id, train_id, cosine,
         |    row_number() OVER (PARTITION BY eval_id
         |      ORDER BY cosine DESC, train_id ASC) AS rn
         |  FROM cand),
         |best AS (
         |  SELECT eval_id, CAST(count(*) AS BIGINT) AS n_candidates,
         |    max(CASE WHEN rn = 1 THEN train_id END) AS nearest_train,
         |    max(CASE WHEN rn = 1 THEN round(cosine, 6) END)
         |      AS nearest_cos
         |  FROM rk GROUP BY 1)
         |SELECT s.vec_id AS eval_id, s.bucket,
         |  coalesce(n_candidates, 0) AS n_candidates,
         |  nearest_train, nearest_cos,
         |  coalesce(nearest_cos >= 0.2, false) AS contaminated
         |FROM sig s LEFT JOIN best ON s.vec_id = best.eval_id
         |WHERE s.vec_id % 25 = 0
         |ORDER BY eval_id""".stripMargin)

  private lazy val baseOracle: Map[String, String] = Map(
    "q31_dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |    AS is_canonical
        |FROM documents""".stripMargin,
    "q32_text_stats" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(w) AS n_tokens,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
        |    len(list_distinct(w)) AS n_uniq,
        |    length(text) AS n_chars,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      / len(w) AS avg_tok_len,
        |    len(list_filter(w, x -> x IN ('the','a','of','and','in')))
        |      / len(w) AS stop_ratio
        |  FROM w)
        |SELECT doc_id, n_tokens, n_bpe_tokens, n_uniq, n_chars, avg_tok_len, stop_ratio,
        |  avg_tok_len * 0.5 + stop_ratio * 2.0 + least(n_tokens, 100) / 100.0
        |    AS quality_score
        |FROM m""".stripMargin,
    "q34_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> length(t) >= 3 AND t NOT IN ('the','a','of','and','in')))
        |      AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
        |r AS (
        |  SELECT doc_id, term, tf, df_docs,
        |    (tf * 1000000) // df_docs AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY (tf * 1000000) // df_docs DESC, term ASC) AS rank
        |  FROM tf JOIN dfreq USING (term))
        |SELECT doc_id, rank, term, tf, df_docs, score FROM r
        |WHERE rank <= 3""".stripMargin,
    "q41_embedding_stats" ->
      """WITH base AS (
        |  SELECT vec_id, label, len(embedding) AS dim,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT vec_id, label, dim,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
        |    AS sq_norm_milli,
        |  len(list_filter(q, x -> x = 0)) AS n_zero,
        |  CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT)
        |    AS max_abs_milli
        |FROM base""".stripMargin,
    "q33_lang_id" ->
      """WITH w AS (
        |  SELECT lang, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN len(list_filter(w, x -> x IN ('the','a'))) * 20 >= len(w)
        |       THEN 'en' ELSE 'unknown' END AS predicted,
        |  count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q35_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(
        |    list_sort(list_distinct(string_split_regex(trim(text), '\s+'))),
        |    ' ')) AS fingerprint
        |FROM documents""".stripMargin,
    "q36_minhash_lsh" -> (
      s"""WITH $shingleBase,
         |$lshJacCtes,
         |sym AS (
         |  SELECT a AS doc_id, b AS partner, jaccard FROM jac
         |  UNION ALL SELECT b, a, jaccard FROM jac),
         |rk AS (
         |  SELECT doc_id, partner, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, partner ASC) AS rn
         |  FROM sym),
         |best AS (
         |  SELECT doc_id, count(*) AS n_candidates,
         |    max(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard,
         |    max(CASE WHEN rn = 1 THEN partner END) AS best_partner
         |  FROM rk GROUP BY 1)
         |SELECT s.doc_id, s.sig0, s.sig1,
         |  coalesce(b.n_candidates, 0) AS n_candidates,
         |  b.best_jaccard, b.best_partner
         |FROM sig s LEFT JOIN best b USING (doc_id)""".stripMargin),
    "q37_ngram_jaccard" -> (
      s"""WITH $shingleBase,
         |hbase AS (
         |  SELECT doc_id, lang, source,
         |    list_sort(list_distinct(
         |      list_transform(sh, s -> ${hexFold.format("s")}))) AS hsh
         |  FROM base),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.hsh, y.hsh))
         |      / (len(x.hsh) + len(y.hsh) - len(list_intersect(x.hsh, y.hsh)))
         |      AS jaccard
         |  FROM hbase x JOIN hbase y
         |    ON x.lang = y.lang AND x.source = y.source
         |    AND x.doc_id < y.doc_id),
         |sym AS (
         |  SELECT a AS doc_id, b AS partner, jaccard FROM pairs
         |  UNION ALL SELECT b, a, jaccard FROM pairs)
         |SELECT doc_id, partner, jaccard FROM (
         |  SELECT doc_id, partner, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, partner ASC) AS rn
         |  FROM sym) t WHERE rn = 1""".stripMargin),
    "q38_cosine_pairs" -> (
      s"""WITH $embBase,
         |sig AS (
         |  SELECT vec_id, label, q, norm2,
         |    CAST(list_sum([
         |      CASE WHEN list_sum([q[i] *
         |          (((1103515245*((j*64)+(i-1)) + 12345) % 2147483648) % 21 - 10)
         |          for i in range(1,65)]) > 0
         |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
         |      for j in range(0,16)]) AS BIGINT) AS bucket
         |  FROM n2),
         |pairs AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    CAST(list_sum([x.q[i]*y.q[i] for i in range(1, 65)]) AS BIGINT)
         |      / (sqrt(x.norm2) * sqrt(y.norm2)) AS cosine
         |  FROM sig x JOIN sig y
         |    ON x.label = y.label AND x.bucket = y.bucket
         |    AND x.vec_id < y.vec_id),
         |sym AS (
         |  SELECT a AS vec_id, b AS nn_id, cosine FROM pairs
         |  UNION ALL SELECT b, a, cosine FROM pairs),
         |rk AS (
         |  SELECT vec_id, nn_id, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nn_id ASC) AS rn
         |  FROM sym),
         |best AS (
         |  SELECT vec_id, count(*) AS n_peers,
         |    max(CASE WHEN rn = 1 THEN nn_id END) AS best_nn,
         |    max(CASE WHEN rn = 1 THEN cosine END) AS best_cos
         |  FROM rk GROUP BY 1)
         |SELECT s.vec_id, s.label, s.bucket,
         |  coalesce(b.n_peers, 0) AS n_peers, b.best_nn, b.best_cos
         |FROM sig s LEFT JOIN best b USING (vec_id)""".stripMargin),
    "q39_ann_topk" -> (
      s"""WITH $embBase,
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT p.probe_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum([p.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |      / (sqrt(p.pnorm2) * sqrt(c.norm2)) AS cosine
         |  FROM probes p JOIN n2 c ON c.vec_id <> p.probe_id)
         |SELECT probe_id, rank, neighbor_id, cosine FROM (
         |  SELECT probe_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored) t WHERE rank <= 3""".stripMargin),
    // q39's scan with the different-label predicate and k=5 — the
    // hard-negative miner; ranks are BIGINT like the engine's cast
    "q145_hard_negatives" -> (
      s"""WITH $embBase,
         |probes AS (SELECT vec_id AS probe_id, label AS plabel,
         |             q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT p.probe_id, p.plabel, c.vec_id AS negative_id,
         |    c.label AS neg_label,
         |    CAST(list_sum([p.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |      / (sqrt(p.pnorm2) * sqrt(c.norm2)) AS cosine
         |  FROM probes p JOIN n2 c
         |    ON c.vec_id <> p.probe_id AND c.label <> p.plabel)
         |SELECT probe_id, plabel, rank, negative_id, neg_label, cosine
         |FROM (
         |  SELECT probe_id, plabel, negative_id, neg_label, cosine,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, negative_id ASC) AS BIGINT) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY probe_id, rank""".stripMargin),
    // trained Lloyd k-means: the unrolled round chain (Forgy seeds →
    // assign → floor-mean update ×3) ending at the final assignment
    "q155_kmeans" -> (
      s"""WITH $embBase,
         |${kmeansCtes(k = 4, iters = 3)}
         |SELECT vec_id, label, cl AS cluster, dist FROM af
         |ORDER BY vec_id""".stripMargin),
    // SemDeDup over the same chain: within-cluster pairs, integer
    // threshold test (τ=3/10 ⟺ 100·dot² ≥ 9·‖x‖²‖y‖², dot>0), the
    // nearer-to-centroid member of each dup pair dropped (min
    // dominating id reported) — mirrors Similarity.semDedup
    "q156_semdedup" -> (
      s"""WITH $embBase,
         |${kmeansCtes(k = 4, iters = 3)},
         |dups AS MATERIALIZED (
         |  SELECT x.vec_id AS a, y.vec_id AS b, x.dist AS xd,
         |    y.dist AS yd, x.norm2 AS xn, y.norm2 AS yn,
         |    CAST(list_sum([x.q[i] * y.q[i] for i in range(1, 65)])
         |      AS BIGINT) AS dot
         |  FROM af x JOIN af y
         |    ON x.cl = y.cl AND x.vec_id <> y.vec_id),
         |dom AS MATERIALIZED (
         |  SELECT a AS vec_id, min(b) AS dropped_by FROM dups
         |  WHERE dot > 0 AND 100 * dot * dot >= 9 * xn * yn
         |    AND (yd > xd OR (yd = xd AND b > a))
         |  GROUP BY 1)
         |SELECT af.vec_id, af.label, af.cl AS cluster, af.dist,
         |  dom.dropped_by IS NULL AS keep, dom.dropped_by
         |FROM af LEFT JOIN dom USING (vec_id)
         |ORDER BY af.vec_id""".stripMargin),
    "q40_simhash" -> (
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_distinct(string_split_regex(trim(text), '\\s+')),
         |      s -> ${hexFold.format("s")}) AS hs
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(list_sum([
         |    CASE WHEN list_sum([((h >> j) & 1) * 2 - 1 for h in hs]) > 0
         |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
         |    for j in range(0, 28)]) AS BIGINT) AS simhash
         |FROM w""".stripMargin),
    "q42_multimodal_meta" -> (
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image'
         |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  length(text) AS n_bytes,
         |  md5(text) AS content_md5,
         |  CAST(${hexFold.format("text")} % 1920 AS INT) AS fake_width,
         |  CAST(${hexFold.format("text")} % 1080 AS INT) AS fake_height,
         |  -- the real PNG/BMP/MP4 header decodes reject every text
         |  -- payload: no container's magic/layout gate is
         |  -- ASCII-spoofable (printable size bytes read >= 0x20202020)
         |  CAST(NULL AS VARCHAR) AS img_format,
         |  CAST(NULL AS INTEGER) AS img_width,
         |  CAST(NULL AS INTEGER) AS img_height,
         |  CAST(NULL AS INTEGER) AS img_bpp,
         |  CAST(NULL AS VARCHAR) AS vid_brand,
         |  CAST(NULL AS INTEGER) AS vid_timescale,
         |  CAST(NULL AS BIGINT) AS vid_duration_units
         |FROM documents""".stripMargin),
    "q54_cosine_lsh" -> (
      s"""WITH $embBase,
         |$cosBucketPairCtes,
         |sym AS (
         |  SELECT a AS vec_id, b AS nn_id, cosine FROM pairs
         |  UNION ALL SELECT b, a, cosine FROM pairs),
         |rk AS (
         |  SELECT vec_id, nn_id, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nn_id ASC) AS rn
         |  FROM sym),
         |best AS (
         |  SELECT vec_id, count(*) AS n_peers,
         |    max(CASE WHEN rn = 1 THEN nn_id END) AS best_nn,
         |    max(CASE WHEN rn = 1 THEN cosine END) AS best_cos
         |  FROM rk GROUP BY 1)
         |SELECT s.vec_id, s.bucket, coalesce(b.n_peers, 0) AS n_peers,
         |  b.best_nn, b.best_cos
         |FROM sig s LEFT JOIN best b USING (vec_id)""".stripMargin),
    "q71_corpus_filter" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(w) AS n_tokens,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      / len(w) AS avg_tok_len,
        |    len(list_filter(w, x -> x IN ('the','a','of','and','in')))
        |      / len(w) AS stop_ratio,
        |    CASE WHEN len(list_filter(w, x -> x IN ('the','a'))) * 20 >= len(w)
        |         THEN 'en' ELSE 'unknown' END AS predicted,
        |    md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp
        |  FROM w),
        |g AS (
        |  SELECT doc_id, n_tokens, fp,
        |    CASE WHEN n_tokens < 30 THEN 'too_short'
        |         WHEN avg_tok_len * 0.5 + stop_ratio * 2.0
        |              + least(n_tokens, 100) / 100.0 < 2.8 THEN 'low_quality'
        |         WHEN predicted <> 'en' THEN 'non_english' END AS gate
        |  FROM m),
        |d AS (
        |  SELECT doc_id, n_tokens, gate,
        |    sum(CASE WHEN gate IS NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY fp ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS earlier
        |  FROM g)
        |SELECT doc_id, n_tokens,
        |  coalesce(gate, CASE WHEN earlier > 0 THEN 'duplicate' END, 'kept')
        |    AS reason
        |FROM d""".stripMargin,
    "q43_ann_ivf" -> ivfOracle(1),
    "q68_ann_ivf_nprobe2" -> ivfOracle(2),
    // the standing index answers exactly as the inline IVF ranker
    // over the never-planted corpus — q68's oracle verbatim
    "q160_vector_index" -> ivfOracle(2),
    // diff-refreshed index's final state = the plain corpus — q160's
    // oracle verbatim; the gate isolates the diff/tombstone legs
    "q177_vector_refresh" -> ivfOracle(2),
    // the LEARNED-routing standing index: unrolled Lloyd chain →
    // per-cluster sum-vector centroids → nprobe-2 routing → top-3
    // (the inline kmeans-routed ranker; ivfOracle's shape with
    // label → learned cluster, the never-planted corpus)
    "q169_learned_vector_index" -> (
      s"""WITH $embBase,
         |${kmeansCtes(k = 4, iters = 3)},
         |$learnedCentCtes,
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0),
         |routed AS (
         |  SELECT probe_id, pq, pnorm2, block FROM (
         |    SELECT p.probe_id, p.pq, p.pnorm2, c.block,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.cq[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.cnorm2)) DESC, c.block ASC) AS rn
         |    FROM probes p CROSS JOIN lcn c) t WHERE rn <= 2),
         |scored AS (
         |  SELECT r.probe_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |      / (sqrt(r.pnorm2) * sqrt(c.norm2)) AS cosine
         |  FROM routed r JOIN af c
         |    ON c.cl = r.block AND c.vec_id <> r.probe_id)
         |SELECT probe_id, rank, neighbor_id, cosine FROM (
         |  SELECT probe_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored) t WHERE rank <= 3""".stripMargin),
    // recall@3 of the learned-routed index vs brute force — q72's
    // oracle shape with the label routing replaced by the af clusters
    "q170_learned_recall" -> (
      s"""WITH $embBase,
         |${kmeansCtes(k = 4, iters = 3)},
         |$learnedCentCtes,
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0),
         |ex AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM probes p JOIN n2 c ON c.vec_id <> p.probe_id) t
         |  WHERE rank <= 3),
         |routed AS (
         |  SELECT probe_id, pq, pnorm2, block, rn FROM (
         |    SELECT p.probe_id, p.pq, p.pnorm2, c.block,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.cq[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.cnorm2)) DESC, c.block ASC) AS rn
         |    FROM probes p CROSS JOIN lcn c) t WHERE rn <= 2),
         |ivf1 AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT r.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY r.probe_id ORDER BY
         |        CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(r.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM routed r JOIN af c
         |      ON c.cl = r.block AND c.vec_id <> r.probe_id
         |    WHERE r.rn <= 1) t
         |  WHERE rank <= 3),
         |ivf2 AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT r.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY r.probe_id ORDER BY
         |        CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(r.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM routed r JOIN af c
         |      ON c.cl = r.block AND c.vec_id <> r.probe_id
         |    WHERE r.rn <= 2) t
         |  WHERE rank <= 3),
         |h1 AS (SELECT e.probe_id, count(*) AS hits FROM ex e
         |       JOIN ivf1 i ON i.probe_id = e.probe_id
         |                  AND i.neighbor_id = e.neighbor_id GROUP BY 1),
         |h2 AS (SELECT e.probe_id, count(*) AS hits FROM ex e
         |       JOIN ivf2 i ON i.probe_id = e.probe_id
         |                  AND i.neighbor_id = e.neighbor_id GROUP BY 1),
         |pr AS (SELECT DISTINCT probe_id FROM ex)
         |SELECT pr.probe_id,
         |  coalesce(h1.hits, 0) AS hits_np1,
         |  coalesce(h1.hits, 0) / 3.0 AS recall_np1,
         |  coalesce(h2.hits, 0) AS hits_np2,
         |  coalesce(h2.hits, 0) / 3.0 AS recall_np2
         |FROM pr LEFT JOIN h1 USING (probe_id) LEFT JOIN h2 USING (probe_id)
         |ORDER BY pr.probe_id""".stripMargin),
    // the learned-codeword PQ index: q162's ADC tail over the
    // parameterized pqCtes whose codebook derives from the af
    // clusters instead of the caller labels
    "q171_learned_pq_index" -> (
      s"""WITH $embBase,
         |${kmeansCtes(k = 4, iters = 3)},
         |n2l AS (SELECT vec_id, cl AS label, q, norm2 FROM af),
         |${pqCtesFrom("n2l")},
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0)
         |SELECT probe_id, rank, neighbor_id, cosine FROM (
         |  SELECT p.probe_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum([p.pq[i]*c.r[i] for i in range(1, 65)])
         |      AS BIGINT)
         |      / (sqrt(p.pnorm2) * sqrt(c.rnorm2)) AS cosine,
         |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |      CAST(list_sum([p.pq[i]*c.r[i] for i in range(1, 65)])
         |        AS BIGINT)
         |        / (sqrt(p.pnorm2) * sqrt(c.rnorm2)) DESC,
         |      c.vec_id ASC) AS rank
         |  FROM probes p JOIN rr c ON c.vec_id <> p.probe_id) t
         |WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin),
    "q182_drift_reroute" -> q182OracleSql,
    "q73_dedup_recall" -> q73Oracle,
    "q74_ivf_centroids" -> (
      s"""WITH $embBase,
         |$centCtes
         |SELECT label, cnorm2, CAST(len(cq) AS BIGINT) AS n_dims,
         |  CAST(list_sum(cq) AS BIGINT) AS cq_sum
         |FROM cn ORDER BY label""".stripMargin),
    "q72_ann_recall" -> (
      s"""WITH $embBase,
         |$centCtes,
         |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
         |           FROM n2 WHERE vec_id % 50 = 0),
         |ex AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM probes p JOIN n2 c ON c.vec_id <> p.probe_id) t
         |  WHERE rank <= 3),
         |routed AS (
         |  SELECT probe_id, pq, pnorm2, label, rn FROM (
         |    SELECT p.probe_id, p.pq, p.pnorm2, c.label,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(list_sum([p.pq[i]*c.cq[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(p.pnorm2) * sqrt(c.cnorm2)) DESC, c.label ASC) AS rn
         |    FROM probes p CROSS JOIN cn c) t WHERE rn <= 2),
         |ivf1 AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT r.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY r.probe_id ORDER BY
         |        CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(r.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM routed r JOIN n2 c
         |      ON c.label = r.label AND c.vec_id <> r.probe_id
         |    WHERE r.rn <= 1) t
         |  WHERE rank <= 3),
         |ivf2 AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT r.probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY r.probe_id ORDER BY
         |        CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
         |          / (sqrt(r.pnorm2) * sqrt(c.norm2)) DESC, c.vec_id ASC) AS rank
         |    FROM routed r JOIN n2 c
         |      ON c.label = r.label AND c.vec_id <> r.probe_id
         |    WHERE r.rn <= 2) t
         |  WHERE rank <= 3),
         |h1 AS (SELECT e.probe_id, count(*) AS hits FROM ex e
         |       JOIN ivf1 i ON i.probe_id = e.probe_id
         |                  AND i.neighbor_id = e.neighbor_id GROUP BY 1),
         |h2 AS (SELECT e.probe_id, count(*) AS hits FROM ex e
         |       JOIN ivf2 i ON i.probe_id = e.probe_id
         |                  AND i.neighbor_id = e.neighbor_id GROUP BY 1),
         |pr AS (SELECT DISTINCT probe_id FROM ex)
         |SELECT pr.probe_id,
         |  coalesce(h1.hits, 0) AS hits_np1,
         |  coalesce(h1.hits, 0) / 3.0 AS recall_np1,
         |  coalesce(h2.hits, 0) AS hits_np2,
         |  coalesce(h2.hits, 0) / 3.0 AS recall_np2
         |FROM pr LEFT JOIN h1 USING (probe_id) LEFT JOIN h2 USING (probe_id)
         |ORDER BY pr.probe_id""".stripMargin),
    "q70_simhash_dups" -> (
      s"""WITH $simhashHamCtes,
         |sym AS (SELECT a AS doc_id, b AS partner, hamming FROM ham
         |        UNION ALL SELECT b, a, hamming FROM ham),
         |rk AS (SELECT doc_id, partner, hamming,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY hamming ASC, partner ASC) AS rn FROM sym),
         |best AS (SELECT doc_id, count(*) AS n_dups,
         |           max(CASE WHEN rn = 1 THEN partner END) AS best_partner,
         |           max(CASE WHEN rn = 1 THEN hamming END) AS best_hamming
         |         FROM rk GROUP BY 1)
         |SELECT s.doc_id, s.simhash, coalesce(b.n_dups, 0) AS n_dups,
         |  b.best_partner, b.best_hamming
         |FROM sims s LEFT JOIN best b USING (doc_id)""".stripMargin),
    "q69_dup_clusters" -> dupClustersOracle,
    // the warm-started refresh is BIT-EQUAL to the cold clustering by
    // construction (hint edges live inside the new transitive closure
    // — TextOps.dupClustersRefresh's additions-only contract), so the
    // gate is the cold chain verbatim: any divergence the warm start
    // introduced would hash-mismatch here
    "q183_clusters_refresh" -> dupClustersOracle,
    // canonical selection = q69's component chain + the longest-doc
    // (ties to min doc_id) top-1 window per component — edit with q69
    "q151_canonical_docs" -> (
      s"""WITH RECURSIVE $shingleBase,
         |$lshJacCtes,
         |edges AS (SELECT a, b FROM jac WHERE jaccard >= 0.8),
         |symd AS (SELECT a AS src, b AS dst FROM edges
         |         UNION ALL SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM symd
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN symd s ON r.dst = s.src),
         |comp AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS comp
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id),
         |tk AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT c.doc_id, c.comp, t.n_tokens,
         |  (row_number() OVER (PARTITION BY c.comp
         |    ORDER BY t.n_tokens DESC, c.doc_id ASC) = 1) AS keep
         |FROM comp c JOIN tk t USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin),
    "q76_winnow_containment" -> (
      s"""WITH $winnowSelCtes,
         |ex AS (SELECT doc_id, unnest(fp) AS h FROM sel),
         |df AS (SELECT h FROM ex GROUP BY h HAVING count(*) <= 20),
         |exf AS (SELECT doc_id, h FROM ex JOIN df USING (h)),
         |sz AS (SELECT doc_id, count(*) AS n FROM exf GROUP BY doc_id),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |  FROM exf x JOIN exf y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 4)
         |SELECT p.a, p.b, p.shared,
         |  ROUND(p.shared / least(sa.n, sb.n), 6) AS containment
         |FROM pairs p JOIN sz sa ON sa.doc_id = p.a
         |             JOIN sz sb ON sb.doc_id = p.b
         |WHERE p.shared / least(sa.n, sb.n) >= 0.5
         |ORDER BY p.a, p.b""".stripMargin),
    "q75_simhash_clusters" -> simhashClustersOracle,
    // q192 runs the SAME clustering through the large-star/small-star
    // fallback — bit-equal labels by construction, oracle shared
    "q192_stars_clusters" -> simhashClustersOracle,
    "q77_split_report" -> (
      s"""WITH b AS (
         |  SELECT
         |    ${splitCase("CAST(doc_id AS VARCHAR)")} AS split,
         |    lang,
         |    len(string_split_regex(trim(text), '\\s+')) AS n_tok
         |  FROM documents),
         |agg AS (
         |  SELECT split, lang, count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM b GROUP BY 1, 2)
         |SELECT split, lang, n_docs, n_tokens,
         |  round(n_tokens / CAST(sum(n_tokens) OVER (PARTITION BY lang)
         |                        AS DOUBLE), 6) AS token_share
         |FROM agg
         |ORDER BY split, lang""".stripMargin),
    "q78_split_leakage" -> (
      s"""WITH RECURSIVE $shingleBase,
         |$lshJacCtes,
         |edges AS (SELECT a, b FROM jac WHERE jaccard >= 0.8),
         |symd AS (SELECT a AS src, b AS dst FROM edges
         |         UNION ALL SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM symd
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN symd s ON r.dst = s.src),
         |comp AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS comp
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id),
         |labeled AS (
         |  SELECT doc_id, comp,
         |    ${splitCase("CAST(doc_id AS VARCHAR)")} AS naive_split,
         |    ${splitCase("CAST(comp AS VARCHAR)")} AS split
         |  FROM comp)
         |SELECT doc_id, comp, naive_split, split,
         |  naive_split <> split AS moved
         |FROM labeled
         |ORDER BY doc_id""".stripMargin),
    "q81_corpus_rebalance" -> (
      s"""WITH base AS (
         |  SELECT lang,
         |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         |    ${hexFold.format("(CAST(doc_id AS VARCHAR) || '#mix')")}
         |      % 10000 AS bucket
         |  FROM documents),
         |rated AS (
         |  SELECT lang,
         |    least(CAST(1 AS DOUBLE),
         |          CAST(3000 AS DOUBLE) / CAST(sum(n_tok) AS BIGINT))
         |      AS rate
         |  FROM base GROUP BY 1)
         |SELECT b.lang,
         |  count(*) AS n_docs_before,
         |  CAST(sum(CASE WHEN b.bucket < r.rate * 10000 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_docs_after,
         |  CAST(sum(b.n_tok) AS BIGINT) AS n_tokens_before,
         |  CAST(sum(CASE WHEN b.bucket < r.rate * 10000 THEN b.n_tok
         |           ELSE 0 END) AS BIGINT) AS n_tokens_after,
         |  round(min(r.rate), 6) AS keep_rate
         |FROM base b JOIN rated r USING (lang)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q90_stratified_sample" -> (
      s"""SELECT doc_id, lang, sample_rank FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${hexFold.format("CAST(doc_id AS VARCHAR)")},
         |        doc_id) AS sample_rank
         |  FROM documents)
         |WHERE sample_rank <= 40
         |ORDER BY lang, sample_rank""".stripMargin),
    "q92_incremental_neardup" -> neardupScreenSql("y.doc_id % 5 <> 4"),
    "q93_sequence_packing" -> (
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |-- one global per-lang running sum: semantically identical to
        |-- the engine's two-level (shard-local + broadcast carry) form
        |-- because shards are doc_id-contiguous
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    -- CAST: DuckDB's windowed sum(BIGINT) is HUGEINT, which
        |    -- the compare renders as double
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, tok_start,
        |  tok_start // 512 AS seq_start,
        |  (tok_start + greatest(n_tokens, 1) - 1) // 512 AS seq_end,
        |  (tok_start + greatest(n_tokens, 1) - 1) // 512
        |    - tok_start // 512 + 1 AS n_seqs,
        |  tok_start % 512 AS seq_offset
        |FROM c ORDER BY lang, doc_id""".stripMargin),
    "q94_decontaminate" -> (
      s"""WITH $winnowSelCtes,
         |ex AS (SELECT doc_id, unnest(fp) AS h FROM sel),
         |-- asymmetric: 96% training side probes the 4% eval suite
         |hits AS (
         |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         |    count(*) AS shared
         |  FROM ex t JOIN ex e ON t.h = e.h
         |  WHERE t.doc_id % 25 <> 0 AND e.doc_id % 25 = 0
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 4),
         |sz AS (SELECT doc_id AS eval_id, len(fp) AS n_eval FROM sel
         |       WHERE doc_id % 25 = 0)
         |SELECT train_id, eval_id, shared,
         |  ROUND(shared / n_eval, 6) AS eval_coverage
         |FROM hits JOIN sz USING (eval_id)
         |ORDER BY train_id, eval_id""".stripMargin),
    // the end-to-end curation composition: q71's gate chain (CTEs
    // renamed f* — the bare w/m/g/d names collide with the spliced
    // fragments), q151's recursive component chain + selection,
    // q94's containment screen, then the PREFIXED mix→pack chain
    // (MixPackSql.ctesOver) over the curated corpus — edit with
    // q71/q151/q94/q149
    "q174_curation_pipeline" -> (
      s"""WITH RECURSIVE $shingleBase,
         |$lshJacCtes,
         |edges AS (SELECT a, b FROM jac WHERE jaccard >= 0.8),
         |symd AS (SELECT a AS src, b AS dst FROM edges
         |         UNION ALL SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM symd
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN symd s ON r.dst = s.src),
         |comp AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS comp
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id),
         |tk AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS BIGINT) AS n_tokens
         |  FROM documents),
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, row_number() OVER (PARTITION BY c.comp
         |      ORDER BY t.n_tokens DESC, c.doc_id ASC) AS rn
         |    FROM comp c JOIN tk t USING (doc_id)) WHERE rn = 1),
         |fw AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |fm AS (
         |  SELECT doc_id,
         |    len(w) AS n_tokens,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
         |      / len(w) AS avg_tok_len,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','in')))
         |      / len(w) AS stop_ratio,
         |    CASE WHEN len(list_filter(w, x -> x IN ('the','a'))) * 20 >= len(w)
         |         THEN 'en' ELSE 'unknown' END AS predicted,
         |    md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp
         |  FROM fw),
         |fg AS (
         |  SELECT doc_id, fp,
         |    CASE WHEN n_tokens < 30 THEN 'too_short'
         |         WHEN avg_tok_len * 0.5 + stop_ratio * 2.0
         |              + least(n_tokens, 100) / 100.0 < 2.8 THEN 'low_quality'
         |         WHEN predicted <> 'en' THEN 'non_english' END AS gate
         |  FROM fm),
         |fd AS (
         |  SELECT doc_id, gate,
         |    sum(CASE WHEN gate IS NULL THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY fp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS earlier
         |  FROM fg),
         |kept AS (
         |  SELECT doc_id FROM fd
         |  WHERE gate IS NULL AND coalesce(earlier, 0) = 0),
         |$winnowSelCtes,
         |ex AS (SELECT doc_id, unnest(fp) AS h FROM sel),
         |contam AS (
         |  SELECT DISTINCT train_id AS doc_id FROM (
         |    SELECT t.doc_id AS train_id, e.doc_id AS eval_id
         |    FROM ex t JOIN ex e ON t.h = e.h
         |    WHERE t.doc_id % 25 <> 0 AND e.doc_id % 25 = 0
         |    GROUP BY 1, 2 HAVING count(*) >= 4)),
         |cur AS (
         |  SELECT d0.source, d0.doc_id, d0.text FROM documents d0
         |  JOIN kept USING (doc_id) JOIN canon USING (doc_id)
         |  WHERE d0.doc_id % 25 <> 0
         |    AND d0.doc_id NOT IN (SELECT doc_id FROM contam)),
         |${MixPackSql.ctesOver("cur", "mp_")}
         |SELECT source, doc_id, copy, toks, tok_start,
         |  tok_start // 512 AS seq_start,
         |  (tok_start + greatest(toks, 1) - 1) // 512 AS seq_end,
         |  ((tok_start + greatest(toks, 1) - 1) // 512)
         |    - (tok_start // 512) + 1 AS n_seqs,
         |  tok_start % 512 AS seq_offset
         |FROM mp_s ORDER BY source, doc_id, copy""".stripMargin),
    "q95_repetition_stats" -> (
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS g2
        |  FROM t),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(w) > 0 THEN
        |      list_max(list_transform(list_distinct(w),
        |        d -> len(list_filter(w, x -> x = d)))) / len(w)
        |      ELSE 0.0 END AS top_word_ratio,
        |    (len(w) - len(list_distinct(w))) / len(w) AS dup_word_ratio,
        |    CASE WHEN len(w) >= 2 THEN
        |      list_max(list_transform(list_distinct(g2),
        |        d -> len(list_filter(g2, x -> x = d)))) / len(g2)
        |      ELSE 0.0 END AS top_2gram_ratio
        |  FROM g)
        |SELECT doc_id, n_tokens,
        |  round(top_word_ratio, 6) AS top_word_ratio,
        |  round(dup_word_ratio, 6) AS dup_word_ratio,
        |  round(top_2gram_ratio, 6) AS top_2gram_ratio,
        |  round(top_2gram_ratio, 6) >= 0.20
        |    OR round(top_word_ratio, 6) >= 0.30 AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin),
    "q96_semantic_clusters" -> (
      s"""WITH RECURSIVE $embBase,
         |$cosBucketPairCtes,
         |edges AS (SELECT a, b FROM pairs WHERE cosine >= 0.25),
         |symd AS (SELECT a AS src, b AS dst FROM edges
         |         UNION ALL SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM symd
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN symd s ON r.dst = s.src)
         |SELECT e.vec_id,
         |  least(e.vec_id, coalesce(min(r.dst), e.vec_id)) AS comp
         |FROM embeddings e LEFT JOIN reach r ON r.src = e.vec_id
         |GROUP BY e.vec_id
         |ORDER BY e.vec_id""".stripMargin),
    "q97_incremental_exact" -> exactScreenSql("doc_id % 5 <> 4"),
    // snapshot diff: full outer on doc_id over map-side md5 digests;
    // the rev2 CASE is shared verbatim with the engine's planting
    "q153_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS old_hash
        |  FROM documents WHERE doc_id % 7 <> 3),
        |n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |         ELSE text END) AS new_hash
        |  FROM documents WHERE doc_id % 5 <> 4)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.old_hash IS NOT DISTINCT FROM n.new_hash
        |         THEN 'unchanged'
        |       ELSE 'changed' END AS verdict,
        |  o.old_hash, n.new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin)

  /** The asymmetric near-dup screen oracle (the 20% new batch probed
    * against a standing corpus), parameterized by the standing-side
    * membership predicate over `y.doc_id` — q92 passes "everything not
    * in the new batch"; q129 passes the post-delete LIVE set, because a
    * correctly tombstoned index must answer exactly as if the deleted
    * docs were never inserted.
    */
  private def neardupScreenSql(oldPred: String): String =
    s"""WITH $shingleBase,
       |$lshSigBandCtes,
       |-- ASYMMETRIC probe: the 20% new batch against the standing
       |-- corpus only — mirrors TextOps.incrementalNearDup
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id,
       |    x.hs AS sa, y.hs AS sb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key
       |  WHERE x.doc_id % 5 = 4 AND ($oldPred)
       |    AND x.key IS NOT NULL),
       |jac AS (
       |  SELECT new_id, old_id,
       |    len(list_intersect(sa, sb))
       |      / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
       |      AS jaccard
       |  FROM cand),
       |rk AS (
       |  SELECT new_id, old_id, jaccard,
       |    row_number() OVER (PARTITION BY new_id
       |      ORDER BY jaccard DESC, old_id ASC) AS rn
       |  FROM jac),
       |best AS (
       |  SELECT new_id, count(*) AS n_candidates,
       |    max(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard,
       |    max(CASE WHEN rn = 1 THEN old_id END) AS best_match
       |  FROM rk GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(b.n_candidates, 0) AS n_candidates,
       |  b.best_jaccard, b.best_match,
       |  coalesce(b.best_jaccard >= 0.8, false) AS is_dup
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.new_id
       |WHERE d.doc_id % 5 = 4
       |ORDER BY d.doc_id""".stripMargin

  /** The exact-hash screen oracle, parameterized the same way as
    * [[neardupScreenSql]] (predicate over bare `doc_id`) — q97 vs
    * q130's post-delete live set.
    */
  private def exactScreenSql(oldPred: String): String =
    s"""WITH old_canon AS (
       |  SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id
       |  FROM documents WHERE $oldPred GROUP BY 1)
       |SELECT d.doc_id, md5(d.text) AS content_hash, o.canonical_id,
       |  o.canonical_id IS NOT NULL AS is_known
       |FROM documents d LEFT JOIN old_canon o
       |  ON md5(d.text) = o.content_hash
       |WHERE d.doc_id % 5 = 4
       |ORDER BY d.doc_id""".stripMargin

  /** The PQ codebook → assignment → reconstruction CTE chain shared
    * by the q134 fidelity and q135 ADC-search oracles — mirrors
    * `Similarity.pqReconstructed` (floor-mean via the
    * remainder-normalized form: DuckDB's `//`/`%` truncate toward
    * zero on negatives while the engine floors); edit together.
    * Expects [[embBase]] upstream.
    */
  private lazy val pqCtes: String = pqCtesFrom("n2")

  /** The PQ codebook/assign/reconstruct chain parameterized by its
    * source CTE (columns vec_id, label, q, norm2): q134/q135/q162 run
    * it over `n2` (codewords = caller labels), q171 over the
    * af-cluster frame (codewords = the learned clusters). */
  private def pqCtesFrom(src: String): String =
    s"""pqex AS (SELECT vec_id, label, unnest(q) AS v,
      |         unnest(range(1, 65)) AS d
      |       FROM $src),
      |cb AS (SELECT label AS cl, d,
      |         (CAST(sum(v) AS BIGINT)
      |          - ((CAST(sum(v) AS BIGINT) % count(*)) + count(*))
      |            % count(*)) // count(*) AS cv
      |       FROM pqex GROUP BY 1, 2),
      |cbl AS (SELECT cl, list(cv ORDER BY d) AS cvec
      |        FROM cb GROUP BY 1),
      |ad AS (
      |  SELECT n.vec_id, c.cl, s,
      |    list_sum([(n.q[s*8+j] - c.cvec[s*8+j])
      |              * (n.q[s*8+j] - c.cvec[s*8+j])
      |              for j in range(1, 9)]) AS dist
      |  FROM $src n, cbl c, range(0, 8) t(s)),
      |asg AS (
      |  SELECT vec_id, s, cl FROM (
      |    SELECT vec_id, s, cl,
      |      row_number() OVER (PARTITION BY vec_id, s
      |        ORDER BY dist, cl) AS rn
      |    FROM ad)
      |  WHERE rn = 1),
      |rd AS (
      |  SELECT a.vec_id, a.s*8 + j AS d, c.cvec[a.s*8 + j] AS rv
      |  FROM asg a JOIN cbl c ON c.cl = a.cl, range(1, 9) t(j)),
      |rl AS (SELECT vec_id, list(rv ORDER BY d) AS r
      |       FROM rd GROUP BY 1),
      |rr AS (
      |  SELECT n.vec_id, n.label, n.q, n.norm2, r,
      |    CAST(list_sum([r[i]*r[i] for i in range(1, 65)]) AS BIGINT)
      |      AS rnorm2,
      |    CAST(n.norm2
      |      - 2 * list_sum([n.q[i]*r[i] for i in range(1, 65)])
      |      + list_sum([r[i]*r[i] for i in range(1, 65)]) AS BIGINT)
      |      AS recon_err2
      |  FROM $src n JOIN rl USING (vec_id))""".stripMargin

  /** The hyperplane-signature CTE alone (q127's asymmetric screen
    * joins eval against corpus on it without the symmetric pair stage)
    * — mirrors `Similarity.hyperplaneBucket`; edit together. Expects
    * [[embBase]]'s `n2` CTE upstream.
    */
  private lazy val cosSigCte: String =
    """sig AS (
      |  SELECT vec_id, q, norm2,
      |    CAST(list_sum([
      |      CASE WHEN list_sum([q[i] *
      |          (((1103515245*((j*64)+(i-1)) + 12345) % 2147483648) % 21 - 10)
      |          for i in range(1,65)]) > 0
      |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
      |      for j in range(0,16)]) AS BIGINT) AS bucket
      |  FROM n2)""".stripMargin

  /** Unblocked hyperplane-bucket cosine CTEs ([[cosSigCte]] →
    * bucket-collision candidates → exact quantized cosine) shared by
    * the q54 nearest-neighbor and q96 cluster oracles — mirrors
    * `Similarity.lshCosinePairsFrom`; edit together.
    */
  private lazy val cosBucketPairCtes: String =
    s"""$cosSigCte,
       |pairs AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    CAST(list_sum([x.q[i]*y.q[i] for i in range(1, 65)]) AS BIGINT)
       |      / (sqrt(x.norm2) * sqrt(y.norm2)) AS cosine
       |  FROM sig x JOIN sig y
       |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin

  /** Winnowed-fingerprint CTEs (char-8-gram md5 hashes → window-16
    * minima selection) shared by the q76 containment and q94
    * decontamination oracles — mirrors `TextOps.gramHashes` +
    * `winnowSelect`; edit together.
    */
  private lazy val winnowSelCtes: String =
    s"""grams AS (
       |  SELECT doc_id,
       |    [${hexFold.format("substring(text, i, 8)")}
       |     for i in range(1, length(text) - 8 + 2)] AS gh
       |  FROM documents),
       |sel AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    [list_min(gh[j:j+15]) for j in range(1, len(gh) - 16 + 2)]))
       |      AS fp
       |  FROM grams WHERE len(gh) >= 16)""".stripMargin

  /** SimHash candidate CTEs shared by the q70 (best-partner stats) and
    * q75 (components) oracles: 56-bit two-hash fingerprints → 4×14-bit
    * bands → bucket-collision candidates → hamming-≤-3 `ham` pairs.
    * Lazy for the same object-init ordering reason as [[centCtes]].
    */
  private lazy val simhashHamCtes: String =
    s"""sims AS (
       |  SELECT doc_id,
       |    CAST(list_sum([
       |      CASE WHEN list_sum([((h >> j) & 1) * 2 - 1 for h in hs1]) > 0
       |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
       |      for j in range(0, 28)])
       |    + list_sum([
       |      CASE WHEN list_sum([((h >> j) & 1) * 2 - 1 for h in hs2]) > 0
       |           THEN (CAST(1 AS BIGINT) << (28 + j)) ELSE 0 END
       |      for j in range(0, 28)]) AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(w, s -> ${hexFold.format("s")}) AS hs1,
       |      list_transform(w, s -> ${hexFold.format("(s || '#')")}) AS hs2
       |    FROM (
       |      SELECT doc_id,
       |        list_distinct(string_split_regex(trim(text), '\\s+')) AS w
       |      FROM documents) w0) w),
       |banded AS (
       |  SELECT doc_id, 0 AS band, (simhash >> 0) & 16383 AS key FROM sims
       |  UNION ALL SELECT doc_id, 1, (simhash >> 14) & 16383 FROM sims
       |  UNION ALL SELECT doc_id, 2, (simhash >> 28) & 16383 FROM sims
       |  UNION ALL SELECT doc_id, 3, (simhash >> 42) & 16383 FROM sims),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |ham AS (
       |  SELECT a, b,
       |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
       |  FROM cand JOIN sims sa ON sa.doc_id = a JOIN sims sb ON sb.doc_id = b
       |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3)""".stripMargin

  /** Centroid CTEs shared by the IVF and recall oracles. Lazy: the
    * `oracle` val above evaluates before this declaration during object
    * init (a plain val would interpolate as "null").
    */
  private lazy val centCtes =
    """cent AS (
      |  SELECT label, list(s ORDER BY i) AS cq
      |  FROM (
      |    SELECT label, i, CAST(sum(v) AS BIGINT) AS s
      |    FROM (SELECT label, unnest(q) AS v,
      |                 unnest(range(1, 65)) AS i FROM base) z
      |    GROUP BY label, i) g
      |  GROUP BY label),
      |cn AS (SELECT label, cq,
      |         CAST(list_sum([cq[i]*cq[i] for i in range(1, 65)]) AS BIGINT)
      |           AS cnorm2 FROM cent)""".stripMargin

  /** q73 oracle: the pooled dedup-recall eval over the FULL corpus —
    * hashed shingle sets, the MinHash band-collision candidates (q36's
    * chain), the SimHash hamming-≤-3 candidates (q70's chain), the
    * constant-size audit subset's all-pairs, then exact-Jaccard
    * verification of the pooled pairs and per-method + audit
    * recall/precision. Lazy for the same object-init ordering reason as
    * [[centCtes]].
    */
  private lazy val q73Oracle: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(w[i:i+2], ' ')
       |                   for i in range(1, len(w) - 1)]) AS sh
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |        FROM documents)),
       |hs AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    list_transform(sh, s -> ${hexFold.format("s")}))) AS hs
       |  FROM base),
       |sig AS (
       |  SELECT doc_id,
       |    list_min(list_transform(hs, h -> (999983*h + 12345) % 2147483647)) AS sig0,
       |    list_min(list_transform(hs, h -> (999979*h + 54321) % 2147483647)) AS sig1,
       |    list_min(list_transform(hs, h -> (1000003*h + 98765) % 2147483647)) AS sig2,
       |    list_min(list_transform(hs, h -> (1000033*h + 13579) % 2147483647)) AS sig3,
       |    list_min(list_transform(hs, h -> (1000037*h + 24680) % 2147483647)) AS sig4,
       |    list_min(list_transform(hs, h -> (1000039*h + 11111) % 2147483647)) AS sig5,
       |    list_min(list_transform(hs, h -> (1000081*h + 22222) % 2147483647)) AS sig6,
       |    list_min(list_transform(hs, h -> (1000099*h + 33333) % 2147483647)) AS sig7
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, 0 AS band, sig0*2147483647 + sig1 AS key FROM sig
       |  UNION ALL SELECT doc_id, 1, sig2*2147483647 + sig3 FROM sig
       |  UNION ALL SELECT doc_id, 2, sig4*2147483647 + sig5 FROM sig
       |  UNION ALL SELECT doc_id, 3, sig6*2147483647 + sig7 FROM sig),
       |lshc AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE x.key IS NOT NULL),
       |sims AS (
       |  SELECT doc_id,
       |    CAST(list_sum([
       |      CASE WHEN list_sum([((h >> j) & 1) * 2 - 1 for h in hs1]) > 0
       |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
       |      for j in range(0, 28)])
       |    + list_sum([
       |      CASE WHEN list_sum([((h >> j) & 1) * 2 - 1 for h in hs2]) > 0
       |           THEN (CAST(1 AS BIGINT) << (28 + j)) ELSE 0 END
       |      for j in range(0, 28)]) AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(w, s -> ${hexFold.format("s")}) AS hs1,
       |      list_transform(w, s -> ${hexFold.format("(s || '#')")}) AS hs2
       |    FROM (
       |      SELECT doc_id,
       |        list_distinct(string_split_regex(trim(text), '\\s+')) AS w
       |      FROM documents) w0) w),
       |sbanded AS (
       |  SELECT doc_id, 0 AS band, (simhash >> 0) & 16383 AS key FROM sims
       |  UNION ALL SELECT doc_id, 1, (simhash >> 14) & 16383 FROM sims
       |  UNION ALL SELECT doc_id, 2, (simhash >> 28) & 16383 FROM sims
       |  UNION ALL SELECT doc_id, 3, (simhash >> 42) & 16383 FROM sims),
       |simc AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM sbanded x JOIN sbanded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  JOIN sims sa ON sa.doc_id = x.doc_id
       |  JOIN sims sb ON sb.doc_id = y.doc_id
       |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3),
       |ap_even AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM hs x JOIN hs y ON x.doc_id < y.doc_id
       |  WHERE x.doc_id % 2 = 0 AND x.doc_id < 500
       |    AND y.doc_id % 2 = 0 AND y.doc_id < 500),
       |ap_odd AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM hs x JOIN hs y ON x.doc_id < y.doc_id
       |  WHERE x.doc_id % 2 = 1 AND x.doc_id < 500
       |    AND y.doc_id % 2 = 1 AND y.doc_id < 500),
       |pool AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM lshc UNION ALL SELECT a, b FROM simc
       |    UNION ALL SELECT a, b FROM ap_even
       |    UNION ALL SELECT a, b FROM ap_odd)),
       |ex AS (
       |  SELECT p.a, p.b
       |  FROM pool p JOIN hs x ON x.doc_id = p.a
       |              JOIN hs y ON y.doc_id = p.b
       |  WHERE len(list_intersect(x.hs, y.hs))
       |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))
       |    >= 0.8),
       |cand AS (
       |  SELECT 'minhash_lsh' AS method, a, b FROM lshc
       |  UNION ALL SELECT 'simhash', a, b FROM simc),
       |per AS (
       |  SELECT method, count(*) AS n_candidates, count(e.a) AS n_hits
       |  FROM cand c LEFT JOIN ex e ON e.a = c.a AND e.b = c.b
       |  GROUP BY method),
       |m AS (SELECT unnest(['minhash_lsh', 'simhash']) AS method),
       |ne AS (SELECT count(*) AS n_exact FROM ex),
       |mc AS (SELECT DISTINCT a, b FROM cand),
       |arow_even AS (
       |  SELECT 'pool_audit_even' AS method,
       |    (SELECT count(*) FROM ex e JOIN ap_even ap
       |       ON ap.a = e.a AND ap.b = e.b) AS n_exact,
       |    (SELECT count(*) FROM mc JOIN ap_even ap
       |       ON ap.a = mc.a AND ap.b = mc.b) AS n_candidates,
       |    (SELECT count(*) FROM mc JOIN ap_even ap
       |       ON ap.a = mc.a AND ap.b = mc.b
       |     JOIN ex e ON e.a = mc.a AND e.b = mc.b) AS n_hits),
       |arow_odd AS (
       |  SELECT 'pool_audit_odd' AS method,
       |    (SELECT count(*) FROM ex e JOIN ap_odd ap
       |       ON ap.a = e.a AND ap.b = e.b) AS n_exact,
       |    (SELECT count(*) FROM mc JOIN ap_odd ap
       |       ON ap.a = mc.a AND ap.b = mc.b) AS n_candidates,
       |    (SELECT count(*) FROM mc JOIN ap_odd ap
       |       ON ap.a = mc.a AND ap.b = mc.b
       |     JOIN ex e ON e.a = mc.a AND e.b = mc.b) AS n_hits),
       |rows_ AS (
       |  SELECT m.method, ne.n_exact,
       |    coalesce(per.n_candidates, 0) AS n_candidates,
       |    coalesce(per.n_hits, 0) AS n_hits
       |  FROM m CROSS JOIN ne LEFT JOIN per USING (method)
       |  UNION ALL
       |  SELECT method, n_exact, n_candidates, n_hits FROM arow_even
       |  UNION ALL
       |  SELECT method, n_exact, n_candidates, n_hits FROM arow_odd)
       |SELECT method, n_exact, n_candidates, n_hits,
       |  CASE WHEN n_exact > 0 THEN n_hits / n_exact END AS recall,
       |  CASE WHEN n_candidates > 0 THEN n_hits / n_candidates END
       |    AS precision
       |FROM rows_ ORDER BY method""".stripMargin

  /** IVF oracle, parameterized on nprobe (the routed CTE keeps each
    * probe's top-nprobe centroids; clusters are disjoint so the union
    * scan has no duplicate neighbors).
    */
  private def ivfOracle(nprobe: Int): String =
    s"""WITH $embBase,
       |$centCtes,
       |probes AS (SELECT vec_id AS probe_id, q AS pq, norm2 AS pnorm2
       |           FROM n2 WHERE vec_id % 50 = 0),
       |routed AS (
       |  SELECT probe_id, pq, pnorm2, label FROM (
       |    SELECT p.probe_id, p.pq, p.pnorm2, c.label,
       |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
       |        CAST(list_sum([p.pq[i]*c.cq[i] for i in range(1, 65)]) AS BIGINT)
       |          / (sqrt(p.pnorm2) * sqrt(c.cnorm2)) DESC, c.label ASC) AS rn
       |    FROM probes p CROSS JOIN cn c) t WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT r.probe_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum([r.pq[i]*c.q[i] for i in range(1, 65)]) AS BIGINT)
       |      / (sqrt(r.pnorm2) * sqrt(c.norm2)) AS cosine
       |  FROM routed r JOIN n2 c
       |    ON c.label = r.label AND c.vec_id <> r.probe_id)
       |SELECT probe_id, rank, neighbor_id, cosine FROM (
       |  SELECT probe_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) t WHERE rank <= 3""".stripMargin
}
