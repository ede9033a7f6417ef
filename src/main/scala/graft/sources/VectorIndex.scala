package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Caches, Similarity}

/** Standing ANN INDEX — the [[DedupIndex]]/[[Bm25Index]] lifecycle
  * discipline applied to the vector-similarity family, so a 100 TB
  * embedding corpus is ingested once and served forever without
  * re-reading or re-aggregating raw vectors per probe batch
  * ([[graft.Similarity.ivfTopK]] with an inline build is the one-job
  * form; [[graft.Similarity.buildIvf]] persists centroids but still
  * scans the raw corpus per search and has no takedown path):
  *
  *  - `<prefix>_vectors`   (block, vec_id, q, norm2, w, b) bucketed by block
  *  - `<prefix>_centroids` (block, cq, cnt, w, b)           per-batch log
  *
  * Both tables are LOG-STRUCTURED with the w = ±1 weight discipline:
  * [[append]] writes the batch's quantized vectors plus its PER-BLOCK
  * PARTIAL SUM VECTORS with w = +1, [[delete]] re-derives the same
  * rows with w = -1, and [[search]] folds liveness in-bucket. The
  * centroid log is the novel piece: a centroid here is an integer sum
  * vector ([[graft.Similarity.ivfCentroids]]'s representation), which
  * is a MERGEABLE aggregate — the live centroid of a block is the
  * elementwise signed sum of its per-batch partials, so ingest never
  * touches previously indexed vectors and a takedown's negative
  * partial cancels its insert exactly (integer arithmetic — no drift).
  * This is the partial-aggregation-as-index-rows posture: the index
  * maintains the map-side combine output, and search finishes the
  * reduce over a |blocks × batches|-row table instead of the corpus.
  *
  * Every batch is ATOMIC via the [[Generations]] manifest (rows stamped
  * with batch id `b`, one commit-marker flip): a crash between the
  * vectors write and the centroid-partial write can never leave readers
  * with vectors whose block has no centroid mass (or vice versa), and
  * [[compact]] builds the next table generation fully before the
  * commit-marker flip — no purge-then-rename window. The PQ codes layer
  * has its own independent manifest (`<prefix>_pq`), since the two layers
  * have independent lifecycles.
  *
  * [[search]] is [[graft.Similarity.ivfTopK]]'s routed shape against
  * the standing tables: probes broadcast against the folded centroids
  * (nprobe nearest by exact integer cosine), the routed frame
  * broadcasts against the live vectors on the bucket key — the corpus
  * side is never shuffled — and the per-probe top-k window finishes.
  * Bit-equal to `ivfTopK` over the same live membership because every
  * stage commutes: net sums equal one-shot sums, and the liveness
  * fold's grouping leads with the bucket key (zero-Exchange,
  * LlmOpsSpec pins it). [[compact]] rewrites the vectors table to one
  * file per bucket and nets the centroid log to one row per block.
  * Single-writer-batch posture like [[DedupIndex]].
  */
object VectorIndex {

  val Buckets = 16

  private[graft] val Logicals = Seq("vectors", "centroids")

  private def phys(prefix: String, logical: String, gen: Long): String =
    Generations.physical(prefix, logical, gen)

  /** One quantization pass feeds both tables; a takedown (w = -1)
    * re-derives rows matching its insert bit-for-bit. Rows carry the
    * manifest batch id `b`; callers run it inside a [[Generations]]
    * bracket. */
  private def writeAll(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, prefix: String, w: Int)(
                       gen: Long, b: Long): Unit = {
    val mode = Generations.modeOf(b)
    val vecs = Caches.persistTracked(
      df.select(col(blockCol).as("block"), col(idCol).as("vec_id"),
          Similarity.quantize(col(vecCol)).as("q"))
        .withColumn("norm2", Similarity.dotQ(col("q"), col("q"))))
    Sinks.writeBucketed(
      vecs.withColumn("w", lit(w)).withColumn("b", lit(b)),
      phys(prefix, "vectors", gen), Seq("block"), Buckets, mode)
    val partial = vecs
      .select(col("block"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("block", "pos").agg(sum("v").as("s"))
      .groupBy("block")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s")))),
        p => p.getField("s")).as("cq"))
      .join(vecs.groupBy("block").agg(count(lit(1)).as("cnt")),
        Seq("block"))
      .withColumn("w", lit(w)).withColumn("b", lit(b))
    Sinks.saveTable(partial, phys(prefix, "centroids", gen), mode)
  }

  /** Bootstrap from a corpus snapshot; steady state is
    * [[append]]/[[delete]] only. */
  def write(df: DataFrame, idCol: String, vecCol: String,
            blockCol: String, prefix: String): Unit =
    Generations.bootstrap(df.sparkSession, prefix, None)(
      writeAll(df, idCol, vecCol, blockCol, prefix, w = 1))

  /** Fold a new batch in (id-unique contract: appended vec_ids are
    * new). Pure row-appends — one file per bucket per batch plus a
    * |blocks|-row centroid partial; both flip visible on one commit. */
  def append(df: DataFrame, idCol: String, vecCol: String,
             blockCol: String, prefix: String): Unit =
    Generations.batch(df.sparkSession, prefix)(
      writeAll(df, idCol, vecCol, blockCol, prefix, w = 1))

  /** Takedown: the same projections with w = -1 — the centroid
    * partial cancels the insert's exactly (integer sums). */
  def delete(df: DataFrame, idCol: String, vecCol: String,
             blockCol: String, prefix: String): Unit =
    Generations.batch(df.sparkSession, prefix)(
      writeAll(df, idCol, vecCol, blockCol, prefix, w = -1))

  /** INCREMENTAL refresh from a vector-corpus generation diff — the
    * [[Bm25Index.refreshFromDiff]] discipline for embeddings, closing
    * the one index family that lacked its delta path: the
    * [[graft.TextOps.refreshViaDiff]] manifest (content signature =
    * md5 over the canonically rendered vector — digests shuffle, never
    * embeddings) names exactly the republish delta; removed+changed
    * vectors re-derive their w = −1 projections from the OLD
    * generation's rows (the signed centroid partial cancels the
    * original insert's exactly — integer sums), added+changed append
    * the NEW rows. Both legs share ONE batch id and ONE commit marker —
    * the refresh is all-or-nothing against readers and crashes, and
    * post-refresh the index answers exactly as one bootstrapped fresh
    * on `newGen` (the q177 gate shares q160's oracle). Cost ∝ |delta|
    * vectors plus the digest diff; unchanged mass is never re-ingested
    * or re-summed.
    */
  def refreshFromDiff(oldGen: DataFrame, newGen: DataFrame,
                      idCol: String, vecCol: String, blockCol: String,
                      prefix: String): Unit =
    Generations.batch(oldGen.sparkSession, prefix) { (g, b) =>
      val sig = md5(concat_ws(",",
        transform(col(vecCol), x => x.cast("string"))))
      graft.TextOps.refreshViaDiff(oldGen, newGen, idCol, sig)(
        writeAll(_, idCol, vecCol, blockCol, prefix, w = -1)(g, b),
        writeAll(_, idCol, vecCol, blockCol, prefix, w = 1)(g, b))
    }

  /** Finish the centroid reduce over the signed partial log at the
    * resolved committed state: blocks with a live member count, their
    * net sum vector and its norm. The log is |blocks × batches| rows —
    * broadcast-sized by construction.
    */
  private def liveCentroids(spark: SparkSession, prefix: String,
                            st: (Long, Seq[Long])): DataFrame =
    spark.table(phys(prefix, "centroids", st._1))
      .filter(Generations.visibleIn(st._2))
      .select(col("block"), col("w"), col("cnt"),
        posexplode(col("cq")).as(Seq("pos", "v")))
      .groupBy("block", "pos")
      .agg(sum(col("v") * col("w")).as("s"),
        sum(col("cnt") * col("w")).as("net_cnt"))
      .filter(col("net_cnt") > 0)
      .groupBy("block")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s")))),
        p => p.getField("s")).as("cq"))
      .withColumn("cnorm2", Similarity.dotQ(col("cq"), col("cq")))

  /** The live vectors of a bounded block list — the batch-visibility
    * and tombstone fold behind [[search]] and [[screenSemantic]]: both
    * static IN filters reach the parquet scan, then the fold runs
    * in-bucket (its grouping leads with `block`). */
  private def liveVectors(spark: SparkSession, prefix: String,
                          st: (Long, Seq[Long]),
                          blocks: Seq[Any]): DataFrame =
    Generations.live(spark, prefix, "vectors", st,
      Seq("block", "vec_id", "q", "norm2"),
      Some(col("block").isin(blocks: _*)))

  /** Route + rank a bounded probe batch (probe_id, pq, pnorm2 — see
    * [[graft.Similarity.probes]]) against the live index: nprobe
    * nearest centroids per probe by exact integer cosine, then top-k
    * over only the routed blocks' live vectors. No raw corpus is
    * touched and the vectors table is never shuffled: the liveness
    * fold groups leading with the bucket key and the routed frame
    * broadcasts into the bucket-partitioned scan.
    */
  def search(spark: SparkSession, prefix: String, probes: DataFrame,
             k: Int, nprobe: Int = 1): DataFrame = {
    val st = Generations.committedState(spark, prefix)
    val cent = liveCentroids(spark, prefix, st)
    val wc = Window.partitionBy("probe_id")
      .orderBy(col("ccos").desc, col("block").asc)
    val routed = Caches.persistTracked(
      probes.crossJoin(broadcast(cent))
        .withColumn("ccos", Similarity.cosineQ(col("pq"), col("cq"),
          col("pnorm2"), col("cnorm2")))
        .withColumn("rn", row_number().over(wc))
        .filter(col("rn") <= nprobe)
        .select(col("probe_id"), col("pq"), col("pnorm2"), col("block")))
    // the index LOOKUP (the Bm25Index.search lesson): the routed block
    // list is bounded by the broadcast-sized centroid table, so it
    // pushes into the vectors scan as a STATIC In(block, …) predicate
    // — parquet row-group pruning over the block-sorted buckets skips
    // unrouted clusters before any fold or join. The liveness fold
    // then runs over routed rows only — filter and fold commute
    // because the fold's grouping includes `block`.
    val routedBlocks = routed.select("block").distinct()
      .collect().map(_.get(0)).toSeq
    val live = liveVectors(spark, prefix, st, routedBlocks)
    val scored = live.join(broadcast(routed), Seq("block"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Similarity.cosineQ(col("pq"), col("q"), col("pnorm2"),
          col("norm2")).as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "cosine")
  }

  /** SEMANTIC INGEST SCREEN — the [[DedupIndex]] screen-before-append
    * posture for vectors: each arriving vector is checked for a
    * semantic duplicate already LIVE in the index (same block — the
    * SemDeDup cluster-scoping argument — with cosine ≥ tauNum/tauDen),
    * reporting `is_known` and the canonical (minimum) live vec_id it
    * duplicates. The threshold test is EXACT integer arithmetic (the
    * q156 pattern): dot > 0 ∧ tauDen²·dot² ≥ tauNum²·‖x‖²‖y‖² — no
    * float compare, so engine and oracle can never disagree at the
    * boundary. Magnitude guard: |q| ≤ 1000 per dim ⇒ dot² ≤ 4.1e15 and
    * the default 19/20 multipliers keep both sides under 2e18 < int64.
    *
    * Scale shape: the batch's distinct block list is bounded by the
    * centroid table, so it pushes into the vectors scan as a static
    * In(block, …) predicate (the [[search]]/[[Bm25Index]] lesson); the
    * screen join is block-equi against the in-bucket liveness fold —
    * the standing corpus is read in place, never shuffled, and only
    * the batch's own blocks are read at all.
    */
  def screenSemantic(spark: SparkSession, batch: DataFrame,
                     idCol: String, vecCol: String, blockCol: String,
                     prefix: String, tauNum: Long = 19,
                     tauDen: Long = 20): DataFrame = {
    val st = Generations.committedState(spark, prefix)
    val b = Caches.persistTracked(
      batch.select(col(blockCol).as("block"), col(idCol).as("vec_id"),
          Similarity.quantize(col(vecCol)).as("q"))
        .withColumn("norm2", Similarity.dotQ(col("q"), col("q"))))
    val blocks = b.select("block").distinct()
      .collect().map(_.get(0)).toSeq
    val live = liveVectors(spark, prefix, st, blocks)
      .select(col("block"), col("vec_id").as("old_id"),
        col("q").as("oq"), col("norm2").as("on2"))
    val dot = Similarity.dotQ(col("q"), col("oq"))
    val hit = b.join(live, Seq("block"))
      .filter(dot > 0 &&
        dot * dot * lit(tauDen * tauDen) >=
          col("norm2") * col("on2") * lit(tauNum * tauNum))
      .groupBy("vec_id").agg(min(col("old_id")).as("canonical_id"))
    b.select("vec_id").join(hit, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("canonical_id"),
        col("canonical_id").isNotNull.as("is_known"))
  }

  /** Compact into the NEXT generation: vectors to one live file per
    * bucket (tombstoned pairs and uncommitted orphans physically
    * drop), centroid log netted to one row per block — then the
    * commit-marker flip and post-commit GC. Readers resolve the old
    * generation until the flip; a batch committed during the rewrite
    * aborts it. */
  def compact(spark: SparkSession, prefix: String): Unit =
    Generations.rebuild(spark, prefix, Logicals) {
      case (st @ (gen, bs), ng) =>
        Sinks.compactBucketedTo(spark, phys(prefix, "vectors", gen),
          phys(prefix, "vectors", ng), Seq("block"), Buckets, bs)
        val net = liveCentroids(spark, prefix, st)
          .join(spark.table(phys(prefix, "centroids", gen))
              .filter(Generations.visibleIn(bs))
              .groupBy("block")
              .agg(sum(col("cnt") * col("w")).as("cnt")),
            Seq("block"))
          .select(col("block"), col("cq"), col("cnt"), lit(1).as("w"),
            lit(0L).as("b"))
        Sinks.saveTable(net.coalesce(1), phys(prefix, "centroids", ng))
    }

  // ---------------------------------------------------------------
  // LEARNED coarse routing — blocks assigned by the TRAINED quantizer
  // (graft.Similarity's Lloyd k-means) instead of a caller-supplied
  // label column: the composition a real 100 TB vector index runs,
  // where the coarse centroids are learned from the corpus and every
  // ingested vector routes to its nearest one. The quantizer is
  // trained ONCE and persisted as a bounded (cl, d, cv) table (the
  // PQ-codebook posture); assignment is a row-local integer argmin
  // against centroid literals — deterministic given the table, so a
  // takedown re-derives its insert's block bit-for-bit and the whole
  // w = ±1 lifecycle carries over unchanged. Search needs no learned
  // variant: the standing mergeable-centroid log now simply tracks
  // the learned clusters (q169 pins the equivalence to the inline
  // kmeans-routed ranker; q170 reports recall@k vs brute force).
  // ---------------------------------------------------------------

  private def coarseT(p: String) = s"${p}_coarse"

  /** Train + persist the coarse quantizer over the trainer corpus:
    * k×dim rows (cl, d, cv) — Lloyd k-means' final centroids
    * ([[graft.Similarity.kmeansClusters]]'s arithmetic, the q155
    * gate). Train-once posture like [[trainCodebook]], BEFORE the
    * learned bootstrap. */
  def trainCoarse(df: DataFrame, idCol: String, vecCol: String,
                  prefix: String, k: Int = 4, iters: Int = 3): Unit = {
    val cens = Similarity.trainKmeans(df, idCol, vecCol, k, iters)
    val s = df.sparkSession
    import s.implicits._
    val rows = for {
      (c, cl) <- cens.zipWithIndex.toSeq
      (v, d) <- c.zipWithIndex.toSeq
    } yield (cl, d, v)
    Sinks.saveTable(rows.toDF("cl", "d", "cv").coalesce(1),
      coarseT(prefix))
  }

  /** Reuse an ALREADY-TRAINED coarse quantizer under a new index
    * prefix — the staged-build discipline for gates that compose over
    * the same trainer corpus (q169/q170/q171 all train the identical
    * Lloyd quantizer; training is deterministic, so re-running it per
    * gate re-pays the k-means corpus passes for bit-identical
    * centroids). Copies the bounded k×dim table — one tiny job, no
    * corpus scan. */
  def reuseCoarse(spark: SparkSession, from: String, to: String): Unit =
    Sinks.saveTable(spark.table(coarseT(from)).coalesce(1), coarseT(to))

  /** The bounded coarse table read back as the centroid matrix. */
  private def loadCoarse(spark: SparkSession,
                         prefix: String): Array[Array[Long]] = {
    val rows = spark.table(coarseT(prefix)).collect()
    require(rows.nonEmpty, s"empty coarse quantizer ${coarseT(prefix)}")
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getLong(2)).toArray).toArray
  }

  /** The learned-routing projection: block = nearest trained centroid
    * of the row's quantized vector (row-local argmin, stays in
    * codegen — no join, no shuffle). */
  private def withLearnedBlock(df: DataFrame, vecCol: String,
                               prefix: String): DataFrame = {
    val cens = loadCoarse(df.sparkSession, prefix)
    df.withColumn("_lblock",
      Similarity.assignToCentroids(cens,
        Similarity.quantize(col(vecCol))).cast("long"))
  }

  /** [[write]]/[[append]]/[[delete]] with the block assigned by the
    * trained coarse quantizer ([[trainCoarse]] must run first). */
  def writeLearned(df: DataFrame, idCol: String, vecCol: String,
                   prefix: String): Unit =
    write(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
      "_lblock", prefix)

  def appendLearned(df: DataFrame, idCol: String, vecCol: String,
                    prefix: String): Unit =
    append(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
      "_lblock", prefix)

  def deleteLearned(df: DataFrame, idCol: String, vecCol: String,
                    prefix: String): Unit =
    delete(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
      "_lblock", prefix)

  /** DRIFT-TRIGGERED RE-ROUTE — the loop that closes the learned-ANN
    * story: a TRAINED quantizer is a snapshot of the
    * corpus distribution, and when the distribution moves (the
    * caller's drift gate — [[graft.Similarity.embeddingDrift]] against
    * the previous generation, the q141 metric — crossed its
    * threshold), routing through the stale centroids silently degrades
    * recall: true neighbor sets re-form along the new structure while
    * blocks still follow the old one, so nprobe probes miss them.
    * The fix is a NEW INDEX GENERATION: re-train the coarse quantizer
    * on the current corpus, re-assign every vector through it, and
    * build the re-routed tables entirely before the one-marker commit
    * flips readers over ([[Generations]]' compaction posture — readers
    * keep answering from the stale-routed generation throughout, and
    * `retain` keeps it on disk for readers still pinned there).
    *
    * The `_coarse` table is writer-side state only (search routes by
    * the per-block centroid LOG, never the quantizer), so overwriting
    * it mid-rebuild affects no reader; a crash between the re-train
    * and the commit leaves an orphan intent generation and a
    * newer-trained quantizer — the next reroute retrains anyway.
    * Cost shape: one corpus pass (quantize + assign row-local against
    * centroid literals) + the bootstrap write — exactly a compaction
    * with different routing, ∝ corpus, amortized over every search
    * until the next drift event.
    */
  def reroute(df: DataFrame, idCol: String, vecCol: String,
              prefix: String, k: Int = 4, iters: Int = 3,
              retain: Int = 0): Unit =
    Generations.rebuild(df.sparkSession, prefix, Logicals, retain) {
      (_, ng) =>
        trainCoarse(df, idCol, vecCol, prefix, k, iters)
        writeAll(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
          "_lblock", prefix, w = 1)(ng, 0L)
    }

  /** [[trainCodebook]] with codewords = the LEARNED clusters instead
    * of caller labels:
    * the PQ codebook of a production index is trained per coarse
    * cluster, so reconstruction quality tracks the actual routing
    * geometry. */
  def trainCodebookLearned(df: DataFrame, vecCol: String,
                           prefix: String): Unit =
    trainCodebook(withLearnedBlock(df, vecCol, prefix), vecCol,
      "_lblock", prefix)

  /** The codes lifecycle under learned routing. */
  def writeCodesLearned(df: DataFrame, idCol: String, vecCol: String,
                        prefix: String): Unit =
    writeCodes(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
      "_lblock", prefix)

  def appendCodesLearned(df: DataFrame, idCol: String, vecCol: String,
                         prefix: String): Unit =
    appendCodes(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
      "_lblock", prefix)

  def deleteCodesLearned(df: DataFrame, idCol: String, vecCol: String,
                         prefix: String): Unit =
    deleteCodes(withLearnedBlock(df, vecCol, prefix), idCol, vecCol,
      "_lblock", prefix)

  // ---------------------------------------------------------------
  // PQ-CODED layer — the serving layout a 100 TB vector corpus
  // actually ships: the standing table stores product-quantization
  // CODES (subspaces × one small int each, ~32× smaller than the
  // quantized vectors), the codebook is a persisted bounded table,
  // and search is ADC (probe exact, corpus reconstructed from codes)
  // — [[graft.Similarity.pqAdcTopK]]'s arithmetic over standing
  // tables, with the same w = ±1 tombstone lifecycle as the
  // full-precision layer. Codes are DETERMINISTIC given the codebook
  // (exact integer argmin), so a takedown re-derives its insert's
  // rows bit-for-bit, and search over any live membership is
  // bit-equal to the inline ADC ranker over that membership. The
  // layer keeps its OWN manifest (`<prefix>_pq`): codes + codebook
  // move through generations together, independently of the
  // full-precision tables.
  // ---------------------------------------------------------------

  val Subspaces = 8

  private def pqPrefix(p: String) = s"${p}_pq"
  private[graft] val PqLogicals = Seq("codes", "codebook")

  /** Train + persist the PQ codebook over the TRAINER corpus: per
    * (codeword, dim) floor-normalized integer means (the q134
    * arithmetic — remainder normalized non-negative so engine and
    * oracle floor identically on negative sums), codewords = the
    * trainer's blocks. Rows: (cl, d, cv) — |blocks| × dim, bounded.
    * Trained ONCE per corpus snapshot, BEFORE [[writeCodes]]'s
    * bootstrap (it writes the generation-0 name directly; compaction
    * carries the codebook forward into each new generation, so codes
    * and the codebook they were argmin'd against always travel
    * together).
    */
  def trainCodebook(df: DataFrame, vecCol: String,
                    blockCol: String, prefix: String): Unit = {
    val cb = df
      .select(col(blockCol).cast("int").as("cl"),
        Similarity.quantize(col(vecCol)).as("q"))
      .select(col("cl"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy("cl", "d")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .select(col("cl"), col("d"),
        ((col("sv") - pmod(col("sv"), col("cnt"))) / col("cnt"))
          .cast("long").as("cv"))
    Sinks.saveTable(cb.coalesce(1), phys(pqPrefix(prefix), "codebook", 0L))
  }

  /** The bounded codebook of generation `gen` read back: (dim, sorted
    * codeword ids, id → full-dim codeword vector). */
  private def loadCodebook(spark: SparkSession, prefix: String, gen: Long)
      : (Int, Seq[Int], Map[Int, Array[Long]]) = {
    val tbl = phys(pqPrefix(prefix), "codebook", gen)
    val rows = spark.table(tbl).collect()
    require(rows.nonEmpty, s"empty codebook $tbl")
    val dim = rows.map(_.getInt(1)).max + 1
    val cb = rows.groupBy(_.getInt(0)).map { case (l, rs) =>
      l -> rs.sortBy(_.getInt(1)).map(_.getLong(2))
    }
    (dim, cb.keys.toSeq.sorted, cb)
  }

  /** One coding pass feeds the codes log; a takedown re-derives the
    * same codes (exact integer argmin against the persisted codebook)
    * with w = -1. Codes are bucketed by block like the full-precision
    * vectors and stamped with the manifest batch id. */
  private def writeAllCodes(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, prefix: String, w: Int)(
                            gen: Long, b: Long): Unit = {
    val spark = df.sparkSession
    val (dim, labels, cb) = loadCodebook(spark, prefix, gen)
    require(dim % Subspaces == 0, s"dim $dim must split into $Subspaces")
    val subDim = dim / Subspaces
    def codeExpr(s: Int) = {
      val sub = slice(col("q"), s * subDim + 1, subDim)
      array_min(array(labels.map { l =>
        val cv = cb(l).slice(s * subDim, (s + 1) * subDim).toSeq
        struct(
          (Similarity.dotQ(sub, sub) -
            lit(2L) * Similarity.dotQ(sub, typedLit(cv)) +
            lit(cv.map(x => x * x).sum)).as("dist"),
          lit(l).as("l"))
      }: _*)).getField("l")
    }
    val coded = df
      .select(col(blockCol).as("block"), col(idCol).as("vec_id"),
        Similarity.quantize(col(vecCol)).as("q"))
      .select(col("block"), col("vec_id"),
        array((0 until Subspaces).map(codeExpr): _*).as("codes"))
      .withColumn("w", lit(w)).withColumn("b", lit(b))
    Sinks.writeBucketed(coded, phys(pqPrefix(prefix), "codes", gen),
      Seq("block"), Buckets, Generations.modeOf(b))
  }

  /** Bootstrap the codes log (codebook must be trained first). */
  def writeCodes(df: DataFrame, idCol: String, vecCol: String,
                 blockCol: String, prefix: String): Unit =
    Generations.bootstrap(df.sparkSession, pqPrefix(prefix), None)(
      writeAllCodes(df, idCol, vecCol, blockCol, prefix, w = 1))

  def appendCodes(df: DataFrame, idCol: String, vecCol: String,
                  blockCol: String, prefix: String): Unit =
    Generations.batch(df.sparkSession, pqPrefix(prefix))(
      writeAllCodes(df, idCol, vecCol, blockCol, prefix, w = 1))

  def deleteCodes(df: DataFrame, idCol: String, vecCol: String,
                  blockCol: String, prefix: String): Unit =
    Generations.batch(df.sparkSession, pqPrefix(prefix))(
      writeAllCodes(df, idCol, vecCol, blockCol, prefix, w = -1))

  /** ADC search over the standing codes: probes exact (the
    * [[graft.Similarity.probes]] projection), corpus reconstructed
    * row-locally from codes via the broadcast-bounded codebook map —
    * no raw or full-precision vector is ever read. Bit-equal to
    * [[graft.Similarity.pqAdcTopK]] over the same live membership
    * (same argmin codes, same reconstruction, same ranking — the
    * q162 gate). The probe side broadcasts against the in-bucket
    * liveness fold; the inequality join is the ANN family's bounded
    * nested loop (the q39/q135 shape).
    */
  def searchAdc(spark: SparkSession, prefix: String, probes: DataFrame,
                k: Int): DataFrame = {
    val st = Generations.committedState(spark, pqPrefix(prefix))
    val (dim, labels, cb) = loadCodebook(spark, prefix, st._1)
    // same guard as the coding path: a retrained non-divisible
    // codebook must fail loudly, not silently truncate reconstruction
    require(dim % Subspaces == 0, s"dim $dim must split into $Subspaces")
    val subDim = dim / Subspaces
    val live = Generations.live(spark, pqPrefix(prefix), "codes", st,
        Seq("block", "vec_id", "codes"))
      .select("vec_id", "codes")
    val r = concat((0 until Subspaces).map { s =>
      val subMap = labels.map(l =>
        l -> cb(l).slice(s * subDim, (s + 1) * subDim).toSeq).toMap
      element_at(typedLit(subMap), col("codes").getItem(s))
    }: _*)
    val recon = live.withColumn("r", r)
      .withColumn("rnorm2", Similarity.dotQ(col("r"), col("r")))
    val scored = recon.join(broadcast(probes),
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (Similarity.dotQ(col("pq"), col("r")) /
          (sqrt(col("pnorm2").cast("double")) *
            sqrt(col("rnorm2").cast("double")))).as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "cosine")
  }

  /** Compact the codes log into the next generation (codebook copied
    * forward — codes and their codebook travel together), then the
    * commit-marker flip + GC. */
  def compactCodes(spark: SparkSession, prefix: String): Unit = {
    val pq = pqPrefix(prefix)
    Generations.rebuild(spark, pq, PqLogicals) { case ((gen, bs), ng) =>
      Sinks.compactBucketedTo(spark, phys(pq, "codes", gen),
        phys(pq, "codes", ng), Seq("block"), Buckets, bs)
      Sinks.saveTable(spark.table(phys(pq, "codebook", gen)).coalesce(1),
        phys(pq, "codebook", ng))
    }
  }
}
