package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Caches, CorpusOps, TextOps}

/** Standing RETRIEVAL index for the BM25 ranker — the production piece
  * [[graft.operators.CorpusOps.bm25TopK]] deliberately leaves out (it
  * re-tokenizes and re-aggregates the corpus per query batch; fine for
  * one job, wrong for a serving path over a 100 TB corpus that must
  * not re-read its text for every query). The [[DedupIndex]] lifecycle
  * discipline applied to the IR family:
  *
  *  - `<prefix>_postings` (term, doc_id, tf, w, b)  bucketed by term
  *  - `<prefix>_doclens`  (doc_id, dl, w, b)        bucketed by doc_id
  *  - `<prefix>_positions`(term, doc_id, pos, w, b) bucketed by term
  *  - `<prefix>_stats`    (n, tt, w, b)             log of signed batch rows
  *
  * All four are LOG-STRUCTURED with the DedupIndex weight discipline:
  * [[append]] writes projections with w = +1, [[delete]] re-derives
  * the SAME rows with w = -1 (takedowns are row-appends, never
  * rewrites), and every [[search]] folds liveness with an IN-BUCKET
  * `sum(w) > 0` aggregate — the postings fold groups on (term, doc_id,
  * tf) leading with the bucket key, so tombstone filtering costs the
  * corpus side zero Exchange. The stats log stores signed per-batch
  * (n, tt) rows whose running sum is the live corpus size — one tiny
  * scan, no doclens pass at query time.
  *
  * Every batch is ATOMIC via the [[Generations]] manifest: the four
  * tables' rows carry one batch id `b`, made visible by a single
  * commit-row append — so a crash mid-ingest (or between
  * [[refreshFromDiff]]'s takedown and re-append legs, which share ONE
  * batch id) leaves readers on the previous consistent state, never on
  * three-of-four tables or a half-applied refresh. [[compact]] builds
  * the next table GENERATION fully before the one-row flip — readers
  * keep answering from the old generation throughout (GenerationsSpec
  * pins the equality), replacing the old purge-then-rename window.
  *
  * [[search]] joins the postings against the broadcast query-term
  * table FIRST (bucket-key join, no corpus shuffle), computes df over
  * the matched postings only (in-bucket aggregate on `term`), and
  * hands the (query_id, doc_id, term, tf) frame to the SHARED
  * [[CorpusOps.bm25Rank]] scoring tail — bit-equal to the inline
  * ranker over the same live membership by construction (the
  * q98-vs-q92 argument: the index IS the corpus projection,
  * persisted). Single-writer-batch posture like [[DedupIndex]].
  */
object Bm25Index {

  /** DEFAULT bucket count — [[write]] takes the actual count and pins
    * it in the generation manifest ([[Generations.setBuckets]]); every
    * later append/delete/compaction resolves the writer's count from
    * there (the [[DedupIndex.Buckets]] rationale: bucket-id math must
    * use the count the files were written with, and the
    * partial-compaction touched-share law needs deployment-sized
    * counts, not a constant). */
  val Buckets = 32

  /** The pinned bucket count of an existing index (pre-knob indexes
    * default to [[Buckets]], which is what their writers used). */
  private def bucketsOf(spark: SparkSession, prefix: String): Int =
    Generations.bucketsOf(spark, prefix, Buckets)

  private[graft] val Logicals =
    Seq("postings", "doclens", "positions", "stats")

  private def bucketColsOf(logical: String): Seq[String] = logical match {
    case "postings" | "positions" => Seq("term")
    case _                        => Seq("doc_id")
  }

  private def phys(prefix: String, logical: String, gen: Long): String =
    Generations.physical(prefix, logical, gen)

  /** One tokenization per ingest feeds all four tables; a takedown
    * (w = -1) re-derives rows that match its insert bit-for-bit. The
    * POSITIONAL postings (term, doc_id, pos) are the classic IR
    * positional index — ~dl rows per doc (vs distinct-term rows for
    * the tf postings), bucketed by term like the tf table so
    * [[phraseSearch]]'s per-term probes read pre-partitioned. Rows are
    * stamped with manifest batch id `b`; callers own the intent/commit
    * bracket.
    */
  private def writeAll(docs: DataFrame, idCol: String, textCol: String,
                       prefix: String, w: Int, gen: Long, b: Long,
                       mode: String, nb: Int): Unit = {
    val spark = docs.sparkSession
    val toks = Caches.persistTracked(docs.select(
      col(idCol).as("doc_id"),
      posexplode(TextOps.words(col(textCol))).as(Seq("pos", "term"))))
    val post = toks.groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf")).withColumn("w", lit(w))
    val dls = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .withColumn("w", lit(w))
    // the postings write runs ALONE first: it materializes the shared
    // `toks` cache exactly once; the remaining three tables then read
    // the cache and their writes are independent — overlapped via
    // [[Sinks.inParallel]] (guide §2.6; measured on the q154/q157/q159
    // lifecycle gates)
    Sinks.writeBucketed(post.withColumn("b", lit(b)),
      phys(prefix, "postings", gen), Seq("term"), nb, mode)
    Sinks.inParallel(Seq(
      () => Sinks.writeBucketed(dls.withColumn("b", lit(b)),
        phys(prefix, "doclens", gen), Seq("doc_id"), nb, mode),
      () => Sinks.writeBucketed(toks.select("term", "doc_id", "pos")
        .withColumn("w", lit(w)).withColumn("b", lit(b)),
        phys(prefix, "positions", gen), Seq("term"), nb, mode),
      () => {
        val st = dls.agg((count(lit(1)) * w).as("n"),
          (coalesce(sum(col("dl")), lit(0L)) * w).as("tt"))
          .withColumn("w", lit(w)).withColumn("b", lit(b))
        if (mode == "overwrite")
          Sinks.purgeTable(spark, phys(prefix, "stats", gen))
        st.write.mode(if (mode == "overwrite") "errorifexists" else mode)
          .saveAsTable(phys(prefix, "stats", gen))
      }))
  }

  /** Bootstrap the index from a corpus snapshot; steady state uses
    * [[append]]/[[delete]] only. */
  def write(docs: DataFrame, idCol: String, textCol: String,
            prefix: String, buckets: Int = Buckets): Unit = {
    val spark = docs.sparkSession
    Generations.beginBootstrap(spark, prefix)
    Generations.setBuckets(spark, prefix, buckets)
    writeAll(docs, idCol, textCol, prefix, w = 1, gen = 0L, b = 0L,
      mode = "overwrite", nb = buckets)
    Generations.commit(spark, prefix, 0L, 0L)
  }

  /** Fold a NEW batch in (id-unique contract: appended doc_ids are
    * new). Pure row-appends, one file per bucket per batch; all four
    * tables flip visible together on the single commit row. */
  def append(increment: DataFrame, idCol: String, textCol: String,
             prefix: String): Unit =
    appendBatch(increment, idCol, textCol, prefix, w = 1)

  /** Takedown: append the same projections with w = -1; the search
    * fold nets them dead and the stats sum shrinks accordingly. */
  def delete(docs: DataFrame, idCol: String, textCol: String,
             prefix: String): Unit =
    appendBatch(docs, idCol, textCol, prefix, w = -1)

  private def appendBatch(docs: DataFrame, idCol: String, textCol: String,
                          prefix: String, w: Int): Unit = {
    val spark = docs.sparkSession
    val (g, b) = Generations.beginBatch(spark, prefix)
    writeAll(docs, idCol, textCol, prefix, w, g, b, mode = "append",
      nb = bucketsOf(spark, prefix))
    Generations.commit(spark, prefix, g, b)
  }

  /** [[append]] WITHOUT the commit row — the simulated writer crash
    * GenerationsSpec drives; the rows stay invisible forever. */
  private[graft] def appendUncommitted(docs: DataFrame, idCol: String,
                                       textCol: String,
                                       prefix: String): (Long, Long) = {
    val spark = docs.sparkSession
    val (g, b) = Generations.beginBatch(spark, prefix)
    writeAll(docs, idCol, textCol, prefix, w = 1, g, b, mode = "append",
      nb = bucketsOf(spark, prefix))
    (g, b)
  }

  /** Write one batch's rows under a PRE-CLAIMED (gen, b) without
    * committing — the step-interleaved two-writer GenerationsSpec
    * drives claim → write → commit as separate steps; production
    * writers use [[append]]/[[delete]]. */
  private[graft] def writeClaimed(docs: DataFrame, idCol: String,
                                  textCol: String, prefix: String,
                                  g: Long, b: Long): Unit =
    writeAll(docs, idCol, textCol, prefix, w = 1, g, b, mode = "append",
      nb = bucketsOf(docs.sparkSession, prefix))

  /** Live fold of a log table at the resolved committed state. */
  private def live(spark: SparkSession, prefix: String, logical: String,
                   st: (Long, Seq[Long]),
                   dataCols: Seq[String]): DataFrame =
    spark.table(phys(prefix, logical, st._1))
      .filter(col("b").isin(st._2: _*))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("w")).as("net"))
      .filter(col("net") > 0)
      .select(dataCols.map(col): _*)

  /** The stats log's running sum at the committed state: (live N, live
    * total tokens) — one bounded scalar read. */
  private def liveStats(spark: SparkSession, prefix: String,
                        st: (Long, Seq[Long])): (Long, Long) = {
    val r = spark.table(phys(prefix, "stats", st._1))
      .filter(col("b").isin(st._2: _*))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("tt")), lit(0L)).as("tt")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Rank the live index against a query batch — bit-equal to
    * [[CorpusOps.bm25TopK]] over the same live corpus (the q154 gate).
    * No corpus text is touched: postings carry tf, doclens carry dl,
    * and the stats log's running sum yields N/avgdl as one bounded
    * driver scalar.
    */
  def search(spark: SparkSession, prefix: String,
             queries: Seq[(String, String)], k: Int = 10,
             k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    val st = Generations.committedState(spark, prefix)
    val (tf, dfr, dl, n, avgdlMilli) =
      rankInputs(spark, prefix, queries, st)
    CorpusOps.bm25Rank(tf, dfr, dl, n, avgdlMilli, k, k1Milli, bMilli)
  }

  /** The shared ranking head of [[search]] and [[searchWithProximity]]:
    * (query-term tf frame, df frame, live doclens, live N, avgdl).
    * Takes the RESOLVED committed state — callers resolve the manifest
    * exactly once per operation (the documented invariant: a commit or
    * compaction flip landing between two resolves of one operation
    * would hand back a torn read, half old state, half new). */
  private def rankInputs(spark: SparkSession, prefix: String,
                         queries: Seq[(String, String)],
                         st: (Long, Seq[Long]))
      : (DataFrame, DataFrame, DataFrame, Long, Long) = {
    val (n, tt) = liveStats(spark, prefix, st)
    require(n > 0, "Bm25Index.search needs a non-empty live index")
    val avgdlMilli = tt * 1000L / n
    val qterms = CorpusOps.bm25QueryTerms(spark, queries)
    // the index LOOKUP: query terms are a bounded driver-side list, so
    // they push into the postings scan as a STATIC In(term, …) filter
    // — parquet row-group pruning over the term-sorted buckets skips
    // the corpus's unmatched vocabulary before any fold or join (the
    // whole-log-then-filter formulation measured 1.0× vs inline on the
    // bm25-ab probe; restriction must reach the scan). The liveness
    // fold then runs over matched rows only — filter and fold commute
    // because the fold's grouping includes `term`.
    val terms = queries.flatMap(_._2.trim.split("\\s+")).distinct
    val matched = Caches.persistTracked(
      spark.table(phys(prefix, "postings", st._1))
        .filter(col("b").isin(st._2: _*))
        .filter(col("term").isin(terms: _*))
        .groupBy("term", "doc_id", "tf")
        .agg(sum(col("w")).as("net")).filter(col("net") > 0)
        .select("term", "doc_id", "tf"))
    val dfr = matched.groupBy("term").agg(count(lit(1)).as("df"))
    val tf = matched.join(broadcast(qterms), Seq("term"))
      .select("query_id", "doc_id", "term", "tf")
    (tf, dfr, live(spark, prefix, "doclens", st, Seq("doc_id", "dl")),
      n, avgdlMilli)
  }

  /** PROXIMITY (NEAR-k) search over the positional postings — the
    * retrieval feature between bag-of-words [[search]] and exact
    * [[phraseSearch]]: a document matches when ALL the query's
    * DISTINCT terms occur within a `win`-token window, in ANY order
    * (span = max(pos) − min(pos) ≤ win − 1). Per (query, doc) the
    * output counts the satisfying position TUPLES (one position per
    * distinct term — the deterministic tuple semantics both engines
    * derive exactly) and the earliest window start.
    *
    * Scale shape — the [[phraseSearch]] argument with a bounded fan:
    * inputs are only the query terms' live positions
    * ([[livePositions]]'s static-In pushdown; the corpus is never
    * scanned), chained as m−1 doc_id equi-joins. Each step filters to
    * |pos_j − anchor| ≤ win − 1 IMMEDIATELY (a necessary condition of
    * the final span test), so the per-anchor intermediate is capped at
    * win positions per term — the tuple frame grows ∝ tf₀·winᵐ⁻¹,
    * never the unbounded per-doc cross product. The exact span filter
    * lands after the last join.
    */
  def proximitySearch(spark: SparkSession, prefix: String,
                      queries: Seq[(String, String)],
                      win: Int): DataFrame =
    proximityHits(spark, prefix, queries, win,
      Generations.committedState(spark, prefix))
      .orderBy("query_id", "doc_id")

  /** [[proximitySearch]] without the presentation sort — the form
    * [[searchWithProximity]] consumes (a sort under a join is a wasted
    * range Exchange). Takes the resolved committed state like
    * [[rankInputs]] — one manifest resolve per public operation. */
  private def proximityHits(spark: SparkSession, prefix: String,
                            queries: Seq[(String, String)],
                            win: Int,
                            st: (Long, Seq[Long])): DataFrame = {
    require(win >= 1, s"window must be >= 1 token, got $win")
    // unguarded public inputs: an empty batch would make the final
    // reduce throw deep in the plan, and a whitespace-only query text
    // would silently probe the empty-string term — reject both here
    require(queries.nonEmpty, "proximity search needs a non-empty " +
      "query batch")
    queries.foreach { case (qid, qtext) =>
      require(qtext.trim.nonEmpty,
        s"proximity search query '$qid' has empty text") }
    val allTerms = queries.flatMap(_._2.trim.split("\\s+")).distinct
    val matched = Caches.persistTracked(
      livePositions(spark, prefix, allTerms, st))
    val perQuery = queries.map { case (qid, qtext) =>
      val ts = qtext.trim.split("\\s+").distinct
      val anchor = matched.filter(col("term") === ts(0))
        .select(col("doc_id"), col("pos").as("p0"))
      val tuples = ts.indices.drop(1).foldLeft(anchor) { (cur, j) =>
        cur.join(matched.filter(col("term") === ts(j))
            .select(col("doc_id"), col("pos").as(s"p$j")),
          Seq("doc_id"))
          .filter(abs(col(s"p$j") - col("p0")) <= win - 1)
      }
      val ps = ts.indices.map(j => col(s"p$j"))
      val (span, start) =
        if (ts.length == 1) (lit(0L), col("p0"))
        else (greatest(ps: _*) - least(ps: _*), least(ps: _*))
      tuples.filter(span <= win - 1)
        .select(col("doc_id"), start.as("wstart"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          min(col("wstart")).cast("long").as("first_start"))
        .select(lit(qid).as("query_id"), col("doc_id"),
          col("n_windows"), col("first_start"))
    }
    perQuery.reduce(_.unionByName(_))
  }

  /** PHRASE-AWARE ranking: [[search]]'s BM25 score plus a flat
    * `boostMicro` for documents where all the query's distinct terms
    * sit within a `win`-token window ([[proximitySearch]]'s
    * within-window judgment) — the standard second-stage signal every
    * search deployment layers over bag-of-words ranking. The boost is
    * added to the FULL scored set before the top-k cut (a boosted doc
    * can enter the top-k from below), and stays exact integer
    * micro-units end-to-end, so the oracle reproduces every rank
    * bit-for-bit. Proximity-boosted docs necessarily matched every
    * query term, so the left join onto the scored set loses nothing.
    */
  def searchWithProximity(spark: SparkSession, prefix: String,
                          queries: Seq[(String, String)], k: Int = 10,
                          win: Int = 8, boostMicro: Long = 500000L,
                          k1Milli: Long = 1200L,
                          bMilli: Long = 750L): DataFrame = {
    // ONE manifest resolve feeds both the BM25 leg and the proximity
    // leg: resolving twice would let a commit/compaction flip land
    // between them (scores from one committed state, boosts from
    // another — and post-flip GC could drop the first leg's tables
    // while its lazy plan still references them)
    val st = Generations.committedState(spark, prefix)
    val (tf, dfr, dl, n, avgdlMilli) =
      rankInputs(spark, prefix, queries, st)
    val scored = CorpusOps.bm25Scores(tf, dfr, dl, n, avgdlMilli,
      k1Milli, bMilli)
    val prox = proximityHits(spark, prefix, queries, win, st)
      .select(col("query_id"), col("doc_id"), lit(boostMicro).as("bst"))
    val boosted = scored
      .join(broadcast(prox), Seq("query_id", "doc_id"), "left_outer")
      .select(col("query_id"), col("doc_id"),
        (col("score") + coalesce(col("bst"), lit(0L))).as("score"),
        col("matched"))
    CorpusOps.bm25RankTail(boosted, k)
  }

  /** The live positional postings restricted to a bounded term list —
    * the shared head of [[phraseSearch]] and proximity search: the
    * driver-side term list pushes into the positions scan as a static
    * In(term, …) predicate, so parquet row-group pruning over the
    * term-sorted buckets skips the rest of the vocabulary before the
    * liveness fold — which commutes with the restriction because its
    * grouping includes `term`. Takes the resolved committed state —
    * the resolve-once-per-operation invariant. */
  private def livePositions(spark: SparkSession, prefix: String,
                            terms: Seq[String],
                            st: (Long, Seq[Long])): DataFrame =
    spark.table(phys(prefix, "positions", st._1))
      .filter(col("b").isin(st._2: _*))
      .filter(col("term").isin(terms: _*))
      .groupBy("term", "doc_id", "pos")
      .agg(sum(col("w")).as("net")).filter(col("net") > 0)
      .select("term", "doc_id", "pos")

  /** EXACT-PHRASE search over the positional postings — the retrieval
    * feature tf postings cannot answer ("big order scan" as consecutive
    * tokens, not a bag). Per phrase t₀…tₘ₋₁: the t₀ position list is
    * the anchor, and each later term joins on (doc_id, pos − j = anchor
    * pos) — m−1 equi-joins whose inputs are only the QUERY TERMS'
    * postings, never the corpus ([[livePositions]]'s static-In
    * restriction). A phrase with a repeated token probes the same
    * folded frame at two offsets — correct because position sets are
    * per-term exact.
    *
    * Output per (query_id, matching doc): occurrence count + first
    * match position. Phrases are a bounded driver-side list (the query
    * batch contract, as in [[search]]).
    */
  def phraseSearch(spark: SparkSession, prefix: String,
                   phrases: Seq[(String, String)]): DataFrame = {
    val allTerms = phrases.flatMap(_._2.trim.split("\\s+")).distinct
    val matched = Caches.persistTracked(
      livePositions(spark, prefix, allTerms,
        Generations.committedState(spark, prefix)))
    val perPhrase = phrases.map { case (qid, ptext) =>
      val ts = ptext.trim.split("\\s+")
      val anchor = matched.filter(col("term") === ts(0))
        .select(col("doc_id"), col("pos"))
      ts.indices.drop(1).foldLeft(anchor) { (cur, j) =>
        cur.join(matched.filter(col("term") === ts(j))
            .select(col("doc_id"), (col("pos") - j).as("pos")),
          Seq("doc_id", "pos"))
      }.groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          min(col("pos")).cast("long").as("first_pos"))
        .select(lit(qid).as("query_id"), col("doc_id"), col("n_hits"),
          col("first_pos"))
    }
    perPhrase.reduce(_.unionByName(_)).orderBy("query_id", "doc_id")
  }

  /** INCREMENTAL refresh from a corpus generation diff — the steady
    * state of a 100 TB serving index when the corpus is republished
    * daily: instead of re-ingesting the whole new generation, the
    * [[graft.operators.TextOps.snapshotDiff]] manifest names exactly
    * the delta, and the index takes down removed+changed docs (their
    * OLD text re-derives the tombstone rows bit-for-bit) and appends
    * added+changed docs' NEW text. Unchanged mass — the bulk at scale
    * — is never RE-INGESTED: the tokenize/postings/write cost is
    * ∝ |delta|. Post-refresh the index answers exactly as one
    * bootstrapped fresh on `newGen` (the q159 gate; CorpusOpsSpec
    * pins bit-equality). Both legs share ONE manifest batch id and ONE
    * commit row, so the refresh is all-or-nothing: no reader ever sees
    * the takedowns applied without the re-appends.
    *
    * Scale shape: the diff is one map-side-digest full-outer join
    * (md5 hashes shuffle, never text — snapshotDiff's contract); the
    * two verdict joins are id-equi-joins against the persisted
    * manifest; ingest itself is the usual per-batch bucketed append.
    * Honest cost note (measured, SCALING.md r14e-ab + r15a-ab): the
    * diff and the two join legs are ~|docs|-proportional corpus
    * passes, so on SHORT docs (200k×30-token parquet corpus) refresh
    * runs 0.6× a full re-ingest — and on LONG docs (10k×1k-token),
    * where ingest cost ∝ tokens dominates (the positional table's
    * ~dl rows per doc), it wins 2.1× at 1/64–1/16 deltas and 1.4×
    * even at a 1/4 delta. The applicability condition is the
    * tokens-per-doc ratio, and it wins unconditionally when the
    * delta arrives as an upstream manifest ([[delete]]/[[append]]
    * apply directly, no diff scan).
    */
  def refreshFromDiff(oldGen: DataFrame, newGen: DataFrame,
                      idCol: String, textCol: String,
                      prefix: String): Unit = {
    val spark = oldGen.sparkSession
    val nb = bucketsOf(spark, prefix)
    val (g, b) = Generations.beginBatch(spark, prefix)
    TextOps.refreshViaDiff(oldGen, newGen, idCol, col(textCol))(
      writeAll(_, idCol, textCol, prefix, w = -1, g, b, mode = "append",
        nb),
      writeAll(_, idCol, textCol, prefix, w = 1, g, b, mode = "append",
        nb))
    Generations.commit(spark, prefix, g, b)
  }

  /** Compact the index's four tables into the NEXT generation — one
    * file per bucket, stats netted to a single row — then flip with
    * one commit and GC the old generation. Readers resolve the old
    * tables until the flip; an interrupted compaction leaves the index
    * exactly as it was (GenerationsSpec pins both).
    */
  def compact(spark: SparkSession, prefix: String,
              retain: Int = 0): Unit = {
    val ng = buildNextGeneration(spark, prefix)
    Generations.commit(spark, prefix, ng, 0L)
    Generations.gc(spark, prefix, ng, Logicals, retain)
  }

  /** Dead-row fraction of the log, in percent — one bounded stats-log
    * scan: gross row mass ∝ Σ|n| (inserts AND tombstones both append
    * their row counts), live mass ∝ Σn, dead fraction = 1 − net/gross.
    * The compaction-policy signal: a full rewrite is worth its
    * corpus-proportional cost only when it reclaims a real fraction of
    * the log. */
  def deadFractionPct(spark: SparkSession, prefix: String): Long = {
    val st = Generations.committedState(spark, prefix)
    val r = spark.table(phys(prefix, "stats", st._1))
      .filter(col("b").isin(st._2: _*))
      .agg(coalesce(sum(abs(col("n"))), lit(0L)).as("gross"),
        coalesce(sum(col("n")), lit(0L)).as("net")).head()
    val (gross, net) = (r.getLong(0), r.getLong(1))
    if (gross <= 0) 0L else (gross - net) * 100L / gross
  }

  /** THRESHOLD compaction — the steady-state maintenance policy the
    * r16 verdict asked for: q157's lifecycle paid a FULL index rewrite
    * for a one-batch delete log, a cost ∝ corpus that at 100 TB
    * dominates the maintenance budget while reclaiming almost nothing.
    * Search correctness never depends on compaction (every read folds
    * the delete log — `sum(w) > 0`), so below the gate the rewrite is
    * simply SKIPPED; above it the usual full [[compact]] runs.
    * @return true when a compaction actually ran */
  def compactIfStale(spark: SparkSession, prefix: String,
                     gatePct: Long = 25L, retain: Int = 0): Boolean = {
    val stale = deadFractionPct(spark, prefix) >= gatePct
    if (stale) compact(spark, prefix, retain)
    stale
  }

  /** PARTIAL compaction — rewrite only the buckets the delete log
    * touched ([[Sinks.partialCompactBucketedTo]]): tombstoned buckets
    * net-fold into the next generation (physical removal — the
    * takedown/GDPR guarantee — at cost ∝ touched mass), every other
    * bucket's files are COPIED byte-for-byte, and the old generation's
    * batch ids are carried over as pre-flip commits so the copied
    * rows stay visible — the b0 commit is the single atomic flip
    * (committedState's rule; a reader racing the carry-over never
    * sees a torn batch list). The stats log is rewritten NETTED to
    * one live row (the [[buildNextGeneration]] form): the touched-
    * bucket fold physically removed every tombstone-cancelled row —
    * tombstones live only in touched buckets by definition — so the
    * post-partial dead fraction IS zero, and copying the signed log
    * verbatim would leave [[deadFractionPct]] reporting the
    * pre-compaction figure, letting a later [[compactIfStale]] fire a
    * redundant corpus-proportional full rewrite. Honest shape note:
    * the win is structural for the doc-keyed doclens; for the
    * term-keyed postings/positions a takedown of ordinary documents
    * touches most term buckets and partial ≈ full —
    * [[compactIfStale]] is the policy for that shape.
    * @return rewritten-bucket count per logical table (spec gate) */
  def compactPartial(spark: SparkSession, prefix: String,
                     retain: Int = 0): Map[String, Int] = {
    val st @ (gen, bs) = Generations.committedState(spark, prefix)
    val nb = bucketsOf(spark, prefix)
    val ng = Generations.beginGeneration(spark, prefix)
    // the three per-table legs are independent (distinct source and
    // target tables) — overlapped (guide §2.6, r21)
    val counts = Sinks.inParallelMap(
      Seq("postings", "doclens", "positions").map(logical => () => {
        val touched = Sinks.tombstonedBuckets(spark,
          phys(prefix, logical, gen), bucketColsOf(logical), nb, bs)
        Sinks.partialCompactBucketedTo(spark,
          phys(prefix, logical, gen), phys(prefix, logical, ng),
          bucketColsOf(logical), nb, bs, touched)
        logical -> touched.size
      })).toMap
    val (n, tt) = liveStats(spark, prefix, st)
    val s = spark
    import s.implicits._
    val tgt = phys(prefix, "stats", ng)
    Sinks.purgeTable(spark, tgt)
    Seq((n, tt, 1, 0L)).toDF("n", "tt", "w", "b")
      .coalesce(1).write.mode("errorifexists").saveAsTable(tgt)
    // SINGLE-MAINTENANCE-WRITER guard before the flip — the
    // [[DedupIndex.compactPartial]] rationale: a batch committed into
    // the old generation after the snapshot would be silently dropped
    // by the carry; abort instead (no b0 lands, readers keep the old
    // generation, the orphaned tables are GC'd after a later flip).
    require(Generations.committedState(spark, prefix) == st,
      s"$prefix: a batch committed during partial compaction — " +
        "aborting the flip (single-maintenance-writer contract)")
    // carry the old batch visibility over, THEN flip on b0
    bs.filter(_ != 0L).foreach(b =>
      Generations.commit(spark, prefix, ng, b))
    Generations.commit(spark, prefix, ng, 0L)
    Generations.gc(spark, prefix, ng, Logicals, retain)
    counts
  }

  /** Compaction's build phase (intent + next-generation tables, NO
    * commit) — split out for GenerationsSpec's interleaved reads. */
  private[graft] def buildNextGeneration(spark: SparkSession,
                                         prefix: String): Long = {
    val st @ (gen, bs) = Generations.committedState(spark, prefix)
    val nb = bucketsOf(spark, prefix)
    val ng = Generations.beginGeneration(spark, prefix)
    // independent per-table rewrites — overlapped (guide §2.6, r21)
    Sinks.inParallel(Seq("postings", "doclens", "positions").map(
      logical => () =>
        Sinks.compactBucketedTo(spark, phys(prefix, logical, gen),
          phys(prefix, logical, ng), bucketColsOf(logical), nb, bs)))
    val (n, tt) = liveStats(spark, prefix, st)
    val s = spark
    import s.implicits._
    val tgt = phys(prefix, "stats", ng)
    Sinks.purgeTable(spark, tgt)
    Seq((n, tt, 1, 0L)).toDF("n", "tt", "w", "b")
      .coalesce(1).write.mode("errorifexists").saveAsTable(tgt)
    ng
  }
}
