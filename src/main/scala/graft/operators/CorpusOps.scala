package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 corpus-hardening operators: PII screening, paragraph-level
  * dedup, bigram-LM quality scoring, bloom-prescreened incremental
  * dedup, and output-shard planning — the pipeline stages a pretraining
  * corpus build runs between the near-dup screens (TextOps) and the
  * trainer-facing packing (TextOps.sequencePacking).
  *
  * Same determinism discipline as TextOps: md5-based hashing, integer
  * accumulators, floats only as final divisions of identical integers —
  * so every operator has a bit-exact DuckDB oracle.
  */
object CorpusOps {

  // ---------------------------------------------------------------- PII

  /** Regex set shared by detector and redactor. Kept to syntax valid —
    * and semantically identical (leftmost-first, no lookaround) — in
    * both java.util.regex and RE2, so the DuckDB oracle reproduces
    * match-for-match.
    */
  val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val ipRe = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
  val phoneRe = """\+[0-9]{1,3}[ -][0-9]{2,4}-[0-9]{5,9}"""

  /** PII detection + redaction screen — the compliance pass every
    * training-corpus pipeline runs before a crawl snapshot is allowed
    * into the training mix (emails/phones/IPs are the canonical
    * regex-detectable classes; ML-based NER rides on top in production,
    * out of engine scope). Per doc: per-class match counts over the
    * input text, a `has_pii` verdict, and the md5 of the redacted text
    * (redaction order email → ip → phone is part of the contract — the
    * classes' alphabets overlap on digits/dots, so the chain order is
    * observable and must match the oracle's).
    *
    * Scale shape: entirely ROW-LOCAL regex work in one projection —
    * zero shuffle, scales as a scan, and the three `regexp_extract_all`
    * counts + three `regexp_replace` stay inside whole-stage codegen.
    */
  def piiScreen(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def n(re: String): Column =
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<PHONE>")
    df.select(col(idCol).as("doc_id"),
        n(emailRe).as("n_emails"),
        n(ipRe).as("n_ips"),
        n(phoneRe).as("n_phones"),
        md5(redacted).as("redacted_hash"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_phones") > 0)
      .orderBy("doc_id")
  }

  // ------------------------------------------------- paragraph dedup

  /** Fixed-size word windows standing in for paragraphs: the testdata
    * corpus has no newlines, so the "paragraph" unit is every run of
    * `width` consecutive words (last one ragged). In production the
    * splitter is `split(text, '\n\n')` — the operator downstream of the
    * chunker is identical.
    */
  private[graft] def wordChunks(text: Column, width: Int): Column =
    wordChunksFromWords(TextOps.words(text), width)

  /** [[wordChunks]] over an already-materialized token ARRAY — callers
    * on the hot path persist (id, words) first so `w` is an attribute
    * reference: inlined, every element access in the transform lambda
    * would re-evaluate the split (the q95/repetitionStats O(chunks)
    * re-split trap).
    */
  private[graft] def wordChunksFromWords(w: Column, width: Int): Column = {
    // ceil-div via floor((n + width-1)/width): exact in double for any
    // realistic doc length. Guard: sequence(0, -1) would DESCEND.
    val nch = floor((size(w) + lit(width - 1)) / lit(width)).cast("int")
    when(size(w) >= 1,
      transform(sequence(lit(0), nch - 1),
        i => concat_ws(" ", slice(w, i * width + 1, lit(width)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Paragraph-level exact dedup (the CCNet/RefinedWeb line-dedup pass):
    * boilerplate paragraphs — navigation, cookie banners, footers —
    * repeat VERBATIM across pages even when no two whole documents are
    * near-dups, so document-level screens never see them. Chunk every
    * doc into `width`-word paragraphs, count each paragraph's VERBATIM
    * frequency across the whole corpus (by md5, so the shuffle carries
    * 16-byte keys, not text), drop paragraphs occurring ≥ `minFreq`
    * times, and re-assemble what survives. Per doc: paragraph count,
    * dropped count, and the md5 of the retained text.
    *
    * Scale shape: one exploded projection → one count shuffle on the
    * 16-byte hash → one join back → one per-doc aggregate. Paragraph
    * frequency is partial-aggregated map-side; the re-assembly
    * collect_list is bounded by a single document's length. This is the
    * same two-shuffle budget CCNet spends at web scale.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     width: Int = 10, minFreq: Int = 2): DataFrame = {
    // token arrays MATERIALIZED first (persist = collapse barrier):
    // inlined, the chunk transform re-splits the text once per chunk
    val tok = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("w")))
    val ex = Caches.persistTracked(
      tok.select(col("doc_id"),
          posexplode(wordChunksFromWords(col("w"), width))
            .as(Seq("pos", "chunk")))
        .withColumn("h", md5(col("chunk"))))
    val freq = ex.groupBy("h").agg(count(lit(1)).as("freq"))
    val kept = struct(col("pos"), col("chunk"))
    ex.join(freq, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paragraphs"),
        sum(when(col("freq") >= minFreq, 1L).otherwise(0L)).as("n_dropped"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("freq") < minFreq, kept))),
          s => s.getField("chunk")))).as("retained_hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- bigram LM score

  /** Corpus-trained bigram-LM quality score — the shape of a KenLM
    * perplexity filter (CCNet's quality signal) with the float log-sum
    * replaced by integer familiarity counts, so the score is exactly
    * reproducible across engines: train bigram counts over the WHOLE
    * corpus, then score each document by how much of it is made of
    * frequent bigrams. Per doc: bigram token count, occurrences whose
    * corpus count ≥ `minCount`, a familiarity sum (corpus counts capped
    * at `cap`, weighted by in-doc occurrences), and the two derived
    * ratios — floats only as final divisions of identical integers.
    *
    * Scale shape: doc-side occurrences pre-aggregate per (doc, bigram)
    * before anything joins, the model is one partial-aggregated count
    * shuffle over the same frame, and the score join is keyed on the
    * bigram — all three stages ∝ distinct bigrams, never doc pairs. In
    * production the model table is df-capped to the top-M bigrams
    * (everything below `minCount` scores identically to unseen), which
    * bounds the join's build side regardless of corpus size.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
                    minCount: Int = 5, cap: Int = 1000): DataFrame = {
    // token arrays MATERIALIZED first: inlined, the two element_at
    // calls per bigram re-split the text O(tokens) times per doc (the
    // q95 trap — measured 5× on this operator at sf0.1)
    val tok = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("w")))
    val w = col("w")
    val g2 = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    val occ = Caches.persistTracked(
      tok.select(col("doc_id"), explode(g2).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n")))
    val model = occ.groupBy("bg").agg(sum(col("n")).as("c2"))
    val scored = occ.join(model, Seq("bg"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"),
        sum(when(col("c2") >= minCount, col("n")).otherwise(0L))
          .as("n_frequent"),
        sum(least(col("c2"), lit(cap.toLong)) * col("n")).as("fam_sum"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_frequent"), lit(0L)).as("n_frequent"),
        coalesce(col("fam_sum"), lit(0L)).as("fam_sum"),
        when(col("n_bigrams") > 0,
          round(col("n_frequent") / col("n_bigrams"), 6))
          .otherwise(lit(0.0)).as("frequent_ratio"),
        when(col("n_bigrams") > 0,
          round(col("fam_sum") / col("n_bigrams"), 6))
          .otherwise(lit(0.0)).as("avg_familiarity"))
      .orderBy("doc_id")
  }

  // ------------------------------------- bloom-prescreened exact dedup

  /** [[TextOps.incrementalExactDedup]] with a BLOOM-FILTER runtime
    * prefilter on the standing-corpus side — the asymmetry a daily
    * ingest needs at 100 TB: the increment is small (one day's crawl),
    * the standing corpus is not, and without a prefilter the corpus
    * pays a full groupBy shuffle just to answer membership for a
    * handful of hashes. Build a bloom filter over the INCREMENT's
    * content hashes (one aggregation pass, driver object sized to the
    * increment — `(n·ln fpp)/ln²2` bits, a few MB for a daily batch),
    * then stream the corpus through `mightContain` so only hashes that
    * can possibly match an increment hash reach the canonical-id
    * aggregate. Result is BIT-EQUAL to the unfiltered screen: bloom
    * has no false negatives, per-hash filtering can't change a
    * per-hash min(doc_id), and false positives produce canonical rows
    * for hashes no increment row joins — dropped by the left join.
    * (BloomScreenSpec pins equality, including under a deliberately
    * FP-saturated fpp.)
    *
    * The membership probe is a Scala UDF by necessity: Spark's native
    * `might_contain` expression is internal to the runtime-filter
    * rewrite and not in the public registry. The probe is one Kirsch-
    * Mitzenmacher hash per row over a broadcast bitset — cheap enough
    * that the corpus-side scan stays I/O-bound.
    */
  def bloomExactScreen(df: DataFrame, idCol: String, textCol: String,
                       isNew: Column, fpp: Double = 0.03): DataFrame = {
    val spark = df.sparkSession
    val hashed = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("content_hash"), isNew.as("is_new")))
    val newSide = hashed.filter(col("is_new"))
    val expected = math.max(newSide.count(), 1L)
    val bloom = newSide.stat.bloomFilter("content_hash", expected, fpp)
    val bloomB = Caches.trackBroadcast(spark.sparkContext.broadcast(bloom))
    val mightMatch = udf((h: String) => h != null && bloomB.value.mightContain(h))
      .withName("graft_bloom_might_contain")
    val oldCanon = hashed.filter(!col("is_new") && mightMatch(col("content_hash")))
      .groupBy("content_hash").agg(min(col("doc_id")).as("canonical_id"))
    newSide
      .join(oldCanon, Seq("content_hash"), "left_outer")
      .select(col("doc_id"), col("content_hash"), col("canonical_id"),
        col("canonical_id").isNotNull.as("is_known"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ shard plan

  /** Output-SHARD planner: assign documents to fixed-token-budget
    * output files (per language, in doc_id order) and report each
    * planned file — the write-side twin of [[TextOps.sequencePacking]]
    * (which plans trainer sequences; this plans the parquet/WebDataset
    * shards a 100 TB corpus is materialized into, where ~uniform file
    * sizes decide downstream scan parallelism). A document belongs to
    * the file its token span STARTS in. Per (lang, file): doc count,
    * token count, and the doc_id range — the manifest a shard writer
    * executes.
    *
    * Scale shape: reuses the packing operator's two-level prefix sum
    * (shard-local running sums + broadcast carry), so no single task
    * ever owns a language's whole token stream; the per-file aggregate
    * is one more exchange on (lang, file_id) whose cardinality is
    * corpus_tokens / budget.
    */
  def shardPlan(df: DataFrame, idCol: String, textCol: String,
                langCol: String, budget: Long = 4096,
                shardSize: Long = 100000): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    TextOps.sequencePacking(df, idCol, textCol, langCol,
      budget = budget, shardSize = shardSize)
      .withColumn("file_id", expr(s"tok_start div ${budget}L"))
      .groupBy("lang", "file_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("file_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "file_id")
  }

  // ------------------------------------------------- RAG chunking

  /** Overlapping-window CHUNKING — the retrieval/RAG layout (and the
    * long-document windowing an embedding pipeline feeds the encoder):
    * fixed `width`-token windows every `stride` tokens, so consecutive
    * chunks overlap by width − stride and no token span longer than the
    * overlap is ever split across a chunk boundary. One row per chunk:
    * ordinal, token start, actual length (tail chunks are ragged), and
    * the chunk-text md5 (the downstream embed/dedup key).
    *
    * Chunk count = ceil((n − width)/stride) + 1 clamped to ≥ 1 — the
    * standard "last window covers the tail" convention. Entirely
    * row-local (transform + posexplode); scales as a scan.
    */
  def chunkTable(df: DataFrame, idCol: String, textCol: String,
                 width: Int = 64, stride: Int = 32): DataFrame = {
    require(stride > 0 && width >= stride,
      s"need width >= stride > 0, got width=$width stride=$stride")
    val tok = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("w")))
    val n = size(col("w"))
    val nch = greatest(lit(1),
      floor((n - lit(width) + lit(stride - 1)) / lit(stride)).cast("int")
        + lit(1))
    val chunks = transform(sequence(lit(0), nch - 1),
      i => struct(
        (i * stride + 1).as("start_tok"),
        slice(col("w"), i * stride + 1, lit(width)).as("toks")))
    tok.select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("c.start_tok").cast("long").as("start_tok"),
        size(col("c.toks")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("c.toks"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  // --------------------------------------- source governance profile

  /** Per-SOURCE corpus governance profile — the C4/RefinedWeb-style
    * domain report a corpus curator reads to decide which sources to
    * throttle or block: volume, verbatim-duplicate rate (within and
    * across sources, by content hash), token/char totals, and
    * integer-exact quality aggregates (stopword hits, short docs), with
    * a `flagged` verdict for sources whose duplicate rate exceeds
    * `maxDupPermille`.
    *
    * Determinism discipline: every aggregate is an INTEGER sum (token
    * counts, hash-rank dup counts, stopword hits); ratios are final
    * divisions of identical integers — no cross-row float sums, which
    * are order-dependent and would break cross-engine hashing.
    *
    * Scale shape: one groupBy on content_hash (the dedup rank), one on
    * source — both partial-aggregated; output is |sources| rows.
    */
  def sourceProfile(df: DataFrame, idCol: String, textCol: String,
                    srcCol: String, maxDupPermille: Int = 100)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokenize ONCE per row (the tranche's materialize-once rule): the
    // split lands in a named column so both counts read the attribute
    val base = df.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        md5(col(textCol)).as("h"),
        length(col(textCol)).cast("long").as("n_chars"),
        TextOps.words(col(textCol)).as("w"))
      .select(col("doc_id"), col("source"), col("h"), col("n_chars"),
        size(col("w")).cast("long").as("n_tokens"),
        size(filter(col("w"), x => x.isin("the", "a", "of", "and")))
          .cast("long").as("n_stop"))
    val ranked = base.withColumn("dup",
      row_number().over(
        Window.partitionBy("h").orderBy("doc_id")) > 1)
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dups"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_stop")).as("n_stop"),
        sum(when(col("n_tokens") < 20, 1L).otherwise(0L))
          .as("n_short"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        col("n_tokens"), col("n_chars"),
        round(col("n_stop") / col("n_tokens"), 6).as("stop_ratio"),
        col("n_short"),
        (col("n_dups") * 1000 > col("n_docs") * maxDupPermille)
          .as("flagged"))
      .orderBy("source")
  }

  // ------------------------------------------- URL canonicalization

  /** URL canonicalization + canonical-URL dedup — the crawl-side
    * dedup pass that catches re-crawls of ONE page under MANY spellings
    * (tracking params, fragments, case, www, trailing slashes) before
    * any content-level screen runs: lowercase scheme and host, strip a
    * leading `www.`, drop the fragment, strip `utm_*` tracking params,
    * strip trailing path slashes, then group on the canonical form and
    * keep the lowest id (exactly [[TextOps.exactDedup]]'s shape, keyed
    * on the canonical URL instead of a content hash).
    *
    * Implementation contract: extract-and-reassemble (scheme + host +
    * path + cleaned query), all regexes with LITERAL replacements only
    * — `$1`-style backreference replacement syntax differs between
    * java.util.regex and RE2, so avoiding backrefs is what keeps the
    * DuckDB oracle bit-equal. Row-local until the one dedup shuffle on
    * the canonical string.
    */
  def urlCanonicalize(df: DataFrame, idCol: String, urlCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    val query = regexp_replace(regexp_replace(
      regexp_extract(u, "\\?([^#]*)", 1),
      "(^|&)utm_[a-z]+=[^&]*", ""), "^&+", "")
    // a URL the scheme grammar can't parse (schemeless, relative,
    // mailto:, garbage) canonicalizes to ITSELF — collapsing all
    // non-matches into one empty-parts form would mark unrelated pages
    // as duplicates of each other
    val canonical = when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), host, path,
        when(query =!= "", concat(lit("?"), query)).otherwise(lit(""))))
    val w = Window.partitionBy("canonical_url")
    df.select(col(idCol), canonical.as("canonical_url"))
      .withColumn("canonical_doc", min(col(idCol)).over(w))
      .withColumn("is_canonical", col("canonical_doc") === col(idCol))
      .orderBy(idCol)
  }

  // --------------------------------------- heavy hitters (CMS gate)

  /** Heavy-hitter tokens with a COUNT-MIN-SKETCH cross-check — the
    * third member of the approx-sketch family (t-digest percentiles
    * q86, HLL++ retention q91, CMS frequencies here): exact top-`k`
    * token counts (the deterministic, oracle-checkable side) joined
    * with the CMS estimate for each, and an in-plan verdict that every
    * estimate respects the sketch's ABSOLUTE guarantee — a count-min
    * estimate can never under-count. Registered in the q86/q91
    * SELF-VALIDATING gate style: the oracle asserts the exact values +
    * TRUE verdicts. The ε-overcount bound (est ≤ n + ⌈eps·N⌉) holds
    * only with probability ≥ `confidence` per probe, so asserting it
    * in the driver oracle would make the gate data-regeneration-flaky
    * by design — CorpusOpsSpec checks it instead, where tolerance can
    * be reasoned about. The sketch itself is the production operator
    * for unbounded-cardinality frequency queries where an exact
    * groupBy's state is unpayable.
    *
    * The sketch builds in one distributed aggregation
    * (`stat.countMinSketch`, deterministic for a fixed seed) into a
    * driver object whose size is eps/confidence-bounded (depth×width
    * counters — KBs here), then broadcasts for the k probe lookups.
    */
  def heavyHittersGate(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 20, eps: Double = 0.001,
                       confidence: Double = 0.99, seed: Int = 42)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val tok = Caches.persistTracked(
      df.select(explode(TextOps.words(col(textCol))).as("token")))
    val total = tok.count()
    val cms = tok.stat.countMinSketch("token", eps, confidence, seed)
    val cmsB = Caches.trackBroadcast(spark.sparkContext.broadcast(cms))
    val est = udf((t: String) => cmsB.value.estimateCount(t))
      .withName("graft_cms_estimate")
    // global top-k via TakeOrderedAndProject (parallel partial top-k on
    // every partition, k-row merge on the driver side of the exchange)
    // — a global row_number window would drag every distinct token
    // through ONE task; the rank window below runs over k rows only
    val top = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
    val w = Window.orderBy(col("n").desc, col("token").asc)
    val slack = math.ceil(eps * total).toLong
    top.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("est", est(col("token")))
      .select(col("rank"), col("token"), col("n"),
        (col("est") >= col("n")).as("cms_no_undercount"),
        // ε-bound verdict kept OUT of the column the oracle pins (see
        // scaladoc) but exposed for callers/specs
        (col("est") <= col("n") + slack).as("cms_within_eps"))
      .orderBy("rank")
  }

  /** Deterministic HYPERLOGLOG register sketch + verdict gate (q204) —
    * the mergeable approximate-distinct primitive a 100 TB pipeline
    * uses where an exact count-distinct's shuffle is unpayable (unique
    * users per segment, unique URLs per host). Every step is INTEGER
    * arithmetic both engines reproduce bit-for-bit: the 32-bit hash is
    * the first 8 hex chars of md5 (the hash7 family's posture),
    * register = hash mod 2^p, rank = leading zeros of the remaining
    * 32−p bits + 1 via the binary-string length (`bin()` renders
    * unpadded in both engines), and the harmonic denominator is kept
    * as the EXACT scaled integer Σ 2^(32−p+2−rank) (absent registers
    * contribute rank 0) — so the only floats are one multiply and one
    * divide of identical values (correctly-rounded IEEE in both
    * engines; the estimate column rounds to 4). The gate joins the
    * exact distinct count and asserts the estimate lands within ±20%
    * (~3σ at p = 8) — a DETERMINISTIC verdict, not a probabilistic
    * hope, because both sides compute identical doubles. HONEST
    * RANGE NOTE: the column is the RAW HLL estimate, unbiased only
    * past the classic 2.5·m small-range boundary; below it raw HLL
    * reads high by design (measured 1.76× at n = 150, m = 256) and
    * the standard remedy is linear counting, m·ln(m/zeros), which
    * the output's (present_regs, s_scaled) lets a consumer apply —
    * the gate itself stays keyed past the boundary because ln() is
    * not correctly-rounded IEEE and would put the ORACLE hash at the
    * mercy of two libm implementations agreeing.
    * [[hllSmallRangeGate]] (q206) carries the small-range regime
    * itself, with ln() confined to wide-margin boolean verdicts.
    *
    * Scale shape: the sketch is ONE partial-aggregated groupBy whose
    * post-shuffle width is (groups × 2^p) rank maxima — KBs per
    * group — and register tables MERGE by elementwise max, the
    * property that lets a 1000-executor fleet sketch shards
    * independently. The exact count exists for the verdict only.
    */
  def hllDistinctGate(df: DataFrame, keyCol: String, groupCol: String,
                      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p out of range: $p")
    val m = 1 << p
    val wBits = 32 - p
    val zeroPow = 1L << (wBits + 2)
    val keyed = df.filter(col(keyCol).isNotNull)
    val sketch = hllRollup(hllRegs(df, keyCol, groupCol, p), wBits)
    val exact = keyed.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(keyCol)).as("n_exact"))
    val sScaled = (col("pow_present") +
      (lit(m.toLong) - col("present_regs")) * lit(zeroPow)).as("s_scaled")
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    // α·m²·2^(wBits+2) — the numerator over the scaled denominator
    val est = alpha * lit(m.toDouble * m * zeroPow) / col("s_scaled")
    sketch.join(exact, Seq("grp"))
      .select(col("grp"), col("n_exact"), col("present_regs"),
        col("max_rank"), col("sum_rank"), sScaled)
      .select(col("grp").as(groupCol), col("n_exact"),
        col("present_regs"), col("max_rank"), col("sum_rank"),
        col("s_scaled"),
        round(est, 4).as("hll_est"),
        (abs(est - col("n_exact")) <= lit(0.2) * col("n_exact"))
          .as("hll_ok"))
      .orderBy(groupCol)
  }

  /** The MERGE half of the HLL story (q205) — the property the sketch
    * exists for at 1000 executors: per-group register tables combine
    * into the UNION's sketch by ELEMENTWISE MAX, no rescan of either
    * side. This gate computes each group's registers independently
    * (exactly [[hllDistinctGate]]'s front half — shards sketched in
    * isolation), merges them by max into one global register table,
    * and emits the merged estimate next to the exact GLOBAL distinct
    * (which de-duplicates keys shared ACROSS groups — the thing a sum
    * of per-group counts gets wrong and a merged sketch gets right).
    * Same integer discipline as the per-group gate; one output row.
    */
  def hllMergedGate(df: DataFrame, keyCol: String, groupCol: String,
                    p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p out of range: $p")
    val m = 1 << p
    val wBits = 32 - p
    val zeroPow = 1L << (wBits + 2)
    val keyed = df.filter(col(keyCol).isNotNull)
    // per-group register tables (the independent shard sketches) …
    val perGroup = hllRegs(df, keyCol, groupCol, p)
    // … merged by elementwise max into the union's registers
    val merged = perGroup.groupBy("reg").agg(max("mr").as("mr"))
      .agg(count(lit(1)).cast("long").as("present_regs"),
        max("mr").cast("long").as("max_rank"),
        sum("mr").cast("long").as("sum_rank"),
        sum(pow(lit(2.0), lit(wBits + 2) - col("mr")).cast("long"))
          .as("pow_present"))
    val exact = keyed.agg(countDistinct(col(keyCol)).as("n_exact"))
    val sScaled = (col("pow_present") +
      (lit(m.toLong) - col("present_regs")) * lit(zeroPow)).as("s_scaled")
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val est = alpha * lit(m.toDouble * m * zeroPow) / col("s_scaled")
    // 1-row × 1-row combine: explicit broadcast (the q143/q73
    // posture — whitelisted in PlanSweepSpec)
    merged.crossJoin(org.apache.spark.sql.functions.broadcast(exact))
      .select(col("n_exact"), col("present_regs"), col("max_rank"),
        col("sum_rank"), sScaled)
      .select(col("n_exact"), col("present_regs"), col("max_rank"),
        col("sum_rank"), col("s_scaled"),
        round(est, 4).as("hll_est"),
        (abs(est - col("n_exact")) <= lit(0.2) * col("n_exact"))
          .as("hll_ok"))
  }

  /** Shared front half of the HLL family: per-(group, register) rank
    * maxima — 32-bit md5-prefix hash, register = hash mod 2^p, rank =
    * leading zeros of the remaining 32−p bits + 1 via the unpadded
    * `bin()` length. Null keys dropped. One partial-aggregated groupBy;
    * post-shuffle width ≤ groups × 2^p rows. */
  private def hllRegs(df: DataFrame, keyCol: String, groupCol: String,
      p: Int): DataFrame = {
    val m = 1 << p
    val wBits = 32 - p
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8),
      16, 10).cast("long")
    val reg = pmod(h, lit(m))
    val w = ((h - reg) / lit(m)).cast("long")
    val rho = when(w === 0, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(w)))
    df.filter(col(keyCol).isNotNull)
      .select(col(groupCol).as("grp"), reg.as("reg"), rho.as("rho"))
      .groupBy("grp", "reg").agg(max("rho").as("mr"))
  }

  /** Per-group register roll-up: present-register count, rank extrema,
    * and the EXACT scaled harmonic numerator Σ 2^(wBits+2−rank) over
    * present registers (2^k exact in a double for k ≤ 26, cast back
    * exact). */
  private def hllRollup(regs: DataFrame, wBits: Int): DataFrame =
    regs.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("present_regs"),
        max("mr").cast("long").as("max_rank"),
        sum("mr").cast("long").as("sum_rank"),
        sum(pow(lit(2.0), lit(wBits + 2) - col("mr")).cast("long"))
          .as("pow_present"))

  /** The SMALL-RANGE (linear-counting) regime of the HLL estimator
    * (q206) — the branch [[hllDistinctGate]]'s scaladoc documents but
    * deliberately keys past: below ~2.5·2^p distinct the raw estimate
    * reads high BY DESIGN (measured 1.76× at n = 150, m = 256), and
    * low-cardinality groups are the COMMON case in per-source /
    * per-language rollups at 100 TB. Classic Flajolet rule, applied
    * per group: when raw_est ≤ 2.5·m and at least one register is
    * still zero, estimate by linear counting m·ln(m/zero_regs);
    * otherwise keep the raw estimate.
    *
    * Determinism posture (why this gate can exist despite the house
    * ban on ln() in oracles): the REGIME DECISION compares raw_est —
    * an exact-scaled-integer ratio both engines compute to the
    * identical double — against the constant 2.5·m, so both engines
    * always pick the same branch; ln() appears ONLY inside boolean
    * verdicts (est_ok, and the raw_high indictment column) whose
    * fixture margins are orders of magnitude wider than any libm
    * ulp disagreement — no float column derived from ln() is ever
    * OUTPUT, so the driver hash never touches a non-correctly-rounded
    * operation. Output: n_exact, present/zero register counts, the
    * chosen regime, raw_high (raw estimate misses the +20% band —
    * TRUE exactly where the small-range regime is needed), and est_ok
    * (the regime-selected estimate lands within ±20% of exact).
    */
  def hllSmallRangeGate(df: DataFrame, keyCol: String, groupCol: String,
                        p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p out of range: $p")
    val m = 1 << p
    val wBits = 32 - p
    val zeroPow = 1L << (wBits + 2)
    val sketch = hllRollup(hllRegs(df, keyCol, groupCol, p), wBits)
    val exact = df.filter(col(keyCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(keyCol)).as("n_exact"))
    val sScaled = col("pow_present") +
      (lit(m.toLong) - col("present_regs")) * lit(zeroPow)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val rawEst = alpha * lit(m.toDouble * m * zeroPow) / sScaled
    val zeroRegs = lit(m.toLong) - col("present_regs")
    val isLinear = rawEst <= lit(2.5 * m) && zeroRegs > 0
    val lcEst = lit(m.toDouble) * log(lit(m.toDouble) / zeroRegs)
    val band = lit(0.2) * col("n_exact")
    sketch.join(exact, Seq("grp"))
      .select(col("grp").as(groupCol), col("n_exact"),
        col("present_regs"), zeroRegs.as("zero_regs"),
        when(isLinear, lit("linear")).otherwise(lit("raw")).as("regime"),
        (rawEst > lit(1.2) * col("n_exact")).as("raw_high"),
        when(isLinear, abs(lcEst - col("n_exact")) <= band)
          .otherwise(abs(rawEst - col("n_exact")) <= band).as("est_ok"))
      .orderBy(groupCol)
  }

  // --------------------------------------- vocabulary build + encode

  /** Vocabulary BUILD + corpus ENCODE — the tokenizer-prep step of a
    * pretraining pipeline: rank the top `vocabSize` tokens (count desc,
    * token asc — deterministic), assign ids 1..V, then re-encode every
    * document as its id sequence with out-of-vocabulary tokens mapped
    * to 0. Per doc: token count, OOV count, and the md5 of the
    * comma-joined id sequence (the compact, order-preserving encode
    * receipt both engines can hash).
    *
    * Scale shape: the vocab is one partial-aggregated count + the
    * parallel top-k (TakeOrderedAndProject), then BROADCASTS (V is a
    * tokenizer-sized constant — 32k/50k/100k — never corpus-sized);
    * the encode is a broadcast left join over the exploded tokens and
    * one doc_id re-aggregation whose shuffle carries (pos, id) pairs,
    * not text. In production the re-agg is usually fused into the
    * shard writer; the plan shape is the same.
    */
  def vocabEncode(df: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Caches.persistTracked(
      df.select(col(idCol).as("doc_id"),
        posexplode(TextOps.words(col(textCol))).as(Seq("pos", "token"))))
    val top = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(vocabSize)
    // global window over the ALREADY-LIMITED top-V rows only (V is a
    // tokenizer-sized constant) — WindowExec's single-partition WARN
    // fires here and is expected: the frame is V rows, never corpus
    val w = Window.orderBy(col("n").desc, col("token").asc)
    val vocab = top.withColumn("id", row_number().over(w).cast("long"))
      .select("token", "id")
    tok.join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("id"), lit(0L)).as("id")))),
          s => s.getField("id")))).as("ids_hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------- trained language classifier

  /** TRAINED character-trigram language classifier — the
    * Cavnar–Trenkle out-of-place method, upgrading the stopword
    * heuristic ([[TextOps.langId]], q71) to the real n-gram shape the
    * text-analysis surface calls for: per language, rank the top
    * `langK` char trigrams by corpus frequency (the language PROFILE);
    * per document, rank its own top `docK` trigrams; the distance from
    * a document to a language is the sum over the document's profile
    * of |doc rank − language rank|, with a flat `langK` penalty for
    * trigrams absent from the language profile. Predicted language =
    * argmin distance, ties broken language-asc. Everything is integer
    * ranks and counts, so the DuckDB oracle reproduces the classifier
    * bit-for-bit — the q53 posture (the gate pins the MATH; accuracy
    * on the shared-vocabulary synthetic corpus is chance-like by
    * construction and is not what's asserted).
    *
    * Scale shape (r22): ALL per-document work is row-local. `idCol`
    * keys exactly one input row (a document id — the declared
    * precondition), so a document's gram counts and its top-`docK`
    * rank profile never need rows from any other
    * partition: the gram array is sorted and run-length encoded with
    * higher-order functions inside the row, then rank-sorted by
    * (count desc, gram asc) — the exact window order the old
    * formulation paid the fleet's largest exchange for (explode every
    * occurrence, hash-aggregate (doc, lang, gram) across the cluster,
    * then re-exchange the counts by doc_id for the rank window; guide
    * §8 "use what you know that the optimizer does not": the optimizer
    * cannot know doc_id is unique). The only remaining exchanges carry
    * (lang, gram, n) partial-aggregated language-profile counts and
    * the tiny (doc, lang) score rows. Scoring never materializes the
    * doc × language cross product: an INNER broadcast join on the gram
    * alone yields only (doc, lang) pairs sharing ≥ 1 profile gram, and
    * the absent-gram penalties fold in arithmetically (distance =
    * Σ|Δrank| + langK · (docProfileSize − matches)). That suffices by
    * strict dominance: every matched gram contributes ≤ langK − 1, so
    * ANY language sharing a gram strictly beats every language sharing
    * none — unmatched languages can only win when NONE match, and that
    * fallback is the (langK · profileSize, min-language) row computed
    * without a join. The plan is one broadcast hash join + bounded
    * aggregates; no nested loop, no stage touching doc pairs.
    */
  def langIdTrigram(df: DataFrame, idCol: String, textCol: String,
                    langCol: String, langK: Int = 50, docK: Int = 20)
      : DataFrame = {
    // the dominance shortcut (scaladoc above) needs every matched gram's
    // contribution |drank − lrank| ≤ langK − 1, which holds only when
    // docK ≤ langK — enforce the precondition instead of assuming it
    require(docK <= langK,
      s"langIdTrigram needs docK ($docK) <= langK ($langK): the " +
        "matched-only argmin's dominance argument breaks otherwise")
    import org.apache.spark.sql.expressions.Window
    val t = lower(col(textCol))
    val grams = when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2),
        i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    // ROW-LOCAL per-doc gram counting (guide §8): every (doc, gram)
    // count lives inside one input row, so sort the gram array and
    // run-length encode it in place — `starts` holds the 1-based
    // positions where a new gram value begins, the struct pairs each
    // distinct gram with its run length. No explode, no exchange.
    // Staged projections keep each intermediate a REAL attribute:
    // element_at(sorted, ·) inside the lambdas must index a computed
    // array, not re-inline the array_sort per element (CollapseProject
    // leaves multiply-referenced non-cheap expressions uncollapsed).
    val sorted = array_sort(col("g"))
    val nG = size(col("sorted"))
    val starts = when(nG >= 1, filter(sequence(lit(1), nG), i =>
        (i === 1) ||
          element_at(col("sorted"), i) =!= element_at(col("sorted"), i - 1)))
      .otherwise(array().cast("array<int>"))
    val rle = transform(col("starts"), (s, j) => struct(
      (coalesce(try_element_at(col("starts"), j + 2),
        size(col("sorted")) + 1) - s).cast("long").as("n"),
      element_at(col("sorted"), s).as("gram")))
    val docBase = Caches.persistTracked(
      df.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
          grams.as("g"))
        .select(col("doc_id"), col("lang"), sorted.as("sorted"))
        .select(col("doc_id"), col("lang"), col("sorted"),
          starts.as("starts"))
        .select(col("doc_id"), col("lang"), rle.as("rle")))
    val wLang = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("gram").asc)
    val langProf = docBase
      .select(col("lang"), explode(col("rle")).as("e"))
      .select(col("lang"), col("e.gram").as("gram"), col("e.n").as("n"))
      .groupBy("lang", "gram").agg(sum(col("n")).as("n"))
      .withColumn("lrank", row_number().over(wLang).cast("long"))
      .filter(col("lrank") <= langK)
      .select(col("lang").as("p_lang"), col("gram"), col("lrank"))
    // top-docK doc profile, still row-local: rank-sort the RLE pairs by
    // (count desc, gram asc) — bit-identically the old window order —
    // and keep the first docK; drank is the 1-based slot. The sort key
    // is (−n, gram) under the NATIVE struct ordering: a comparator
    // lambda here costs an interpreted expression eval per comparison
    // (measured +22% on the 400k-doc probe arm), the natural ordering
    // none
    val byRank = array_sort(transform(col("rle"), e =>
      struct((-e.getField("n")).as("negn"), e.getField("gram").as("gram"))))
    val docProf = docBase
      .select(col("doc_id"), slice(byRank, 1, docK).as("prof"))
      .select(col("doc_id"), posexplode(col("prof")).as(Seq("i", "e")))
      .select(col("doc_id"), col("e.gram").as("gram"),
        (col("i") + 1).cast("long").as("drank"))
    // inner join on the gram ONLY — matched (doc, lang) pairs; the
    // per-pair distance folds the unmatched-gram penalty in
    // arithmetically (see scaladoc's dominance argument)
    val matched = docProf.join(broadcast(langProf), Seq("gram"))
      .groupBy("doc_id", "p_lang")
      .agg(sum(abs(col("drank") - col("lrank"))).as("d_sum"),
        count(lit(1)).as("m"))
    // profile size is row-local too: min(|distinct grams|, docK); docs
    // with no grams (sub-trigram text) are absent, as the old
    // count-over-docProf was
    val nProf = docBase.filter(size(col("rle")) >= 1)
      .select(col("doc_id"),
        least(size(col("rle")).cast("long"), lit(docK.toLong))
          .as("n_prof"))
    val scored = matched.join(nProf, Seq("doc_id"))
      .select(col("doc_id"), col("p_lang"),
        (col("d_sum") + lit(langK.toLong) * (col("n_prof") - col("m")))
          .as("distance"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("distance").asc, col("p_lang").asc)
    val matchedBest = scored.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("predicted"),
        col("distance"))
    // fallback: a doc whose profile shares NO gram with any language
    // profile scores langK·|profile| against every language — the
    // min-language wins the tie. One bounded driver scalar.
    val minLang = docBase.filter(size(col("rle")) >= 1)
      .agg(min(col("lang"))).head() match {
      case r if r.isNullAt(0) => null
      case r => r.getString(0)
    }
    val best = nProf.join(matchedBest, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("predicted"), lit(minLang)).as("predicted"),
        coalesce(col("distance"), lit(langK.toLong) * col("n_prof"))
          .as("distance"))
    df.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("predicted"),
        col("distance"),
        coalesce(col("predicted") === col("lang"), lit(false))
          .as("is_correct"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- top-k n-grams

  /** Corpus-wide most-frequent n-grams per language — the boilerplate
    * MINING pass (what [[paragraphDedup]] drops, this surfaces for
    * inspection): count every word 3-gram across the corpus and keep
    * the top `k` per language with a deterministic (count desc, gram
    * asc) tie-break.
    *
    * Scale shape: the count is partial-aggregated map-side, so the one
    * big shuffle carries (lang, gram, partial n) — ∝ distinct grams per
    * partition, not corpus tokens; the top-k window runs over the
    * aggregated frame only. At 100 TB the standard refinement is a
    * count-min/df-cap pre-pass to drop singleton grams before the
    * exchange; the plan shape is unchanged.
    */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
                langCol: String, n: Int = 3, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same materialized-token barrier as the other HOF pipelines
    val tok = Caches.persistTracked(df.select(col(langCol).as("lang"),
      TextOps.words(col(textCol)).as("w")))
    val counts = tok
      .select(col("lang"),
        explode(TextOps.shinglesFromWords(col("w"), n)).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("gram").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("gram"), col("n"))
      .orderBy("lang", "rank")
  }

  // --------------------------------------- temperature source mixing

  /** Temperature-scaled source-mixing plan — the sampling schedule a
    * multi-source pretraining run fixes before launch (the
    * multilingual/NMT exponential-smoothing recipe, τ = 1/2): source s
    * gets sampling weight n_s^τ, flattening the natural size
    * distribution so small high-quality sources are not drowned out.
    * Output per source: doc/token counts, the quantized weight, the
    * token allocation out of `budget`, and epochs over the source in
    * micro-units (>1e6 ⇒ the source repeats — the Muennighoff
    * repeated-epochs regime).
    *
    * Determinism: τ is FIXED at 1/2 because sqrt is correctly rounded
    * under IEEE-754 in both the JVM and DuckDB (pow is not) — one
    * sqrt, one multiply, one floor lands both engines on the same
    * BIGINT weight; every downstream ratio is integer floor-division.
    * The total-weight window is partition-less, which is exactly right
    * here: the frame is one row per SOURCE (dozens at web scale),
    * bounded regardless of corpus size — the token counts beneath it
    * are partial-aggregated map-side like any groupBy.
    */
  def sourceMixPlan(df: DataFrame, idCol: String, textCol: String,
                    srcCol: String, budget: Long = 1000000L): DataFrame =
    mixPlanFromCounts(
      df.groupBy(col(srcCol).as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.words(col(textCol)))).cast("long")
            .as("n_tokens")),
      budget)

  /** [[sourceMixPlan]]'s arithmetic over a PRE-AGGREGATED
    * (source, n_docs, n_tokens) frame — the executor feeds it the
    * per-source sums of its already-tokenized docs frame so the corpus
    * text is scanned (and regex-split) exactly once per job. The
    * window is over the |sources|-row aggregate, hence the deliberate
    * single partition.
    */
  private def mixPlanFromCounts(counts: DataFrame,
                                budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts
      .withColumn("weight_q",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
      .withColumn("tw", sum(col("weight_q")).over(Window.partitionBy()))
      .withColumn("alloc_tokens", expr(s"($budget * weight_q) div tw"))
      .withColumn("epochs_micro",
        expr("(alloc_tokens * 1000000) div n_tokens"))
      .select("source", "n_docs", "n_tokens", "weight_q", "alloc_tokens",
        "epochs_micro")
      .orderBy("source")
  }

  /** EXECUTE a [[sourceMixPlan]]: turn the per-source token
    * allocations into the concrete per-document sampling manifest a
    * dataloader consumes — which documents to read and HOW MANY times
    * each (epochs > 1 repeat the source; a fractional final epoch
    * takes a prefix of it). The plan says "600k tokens of source A";
    * this says "doc 17 twice, doc 42 once, doc 88 not at all".
    *
    * Schedule order within a source is md5(doc_id) — a deterministic
    * pseudo-random shuffle both engines compute identically — so the
    * fractional epoch's prefix is an unbiased sample, not a doc_id-
    * ordered (= crawl-ordered) slice. A document is in the partial
    * pass iff the tokens scheduled BEFORE it (`sched_prefix`) are
    * under the remainder `alloc_tokens mod n_tokens`; full epochs add
    * `alloc_tokens div n_tokens` copies to every doc. Greedy spans:
    * the doc straddling the remainder boundary ships whole.
    *
    * Scale shape: the per-source running sum is the q93 TWO-LEVEL
    * prefix sum ([[TextOps.sequencePackingByCount]]) — the schedule
    * key's first two hex chars shard each source into ≤256 ranges
    * (hex-prefix order IS md5-string order, so shard-local sums +
    * a broadcast carry compose to the global prefix), keeping any
    * single task's window state at 1/256th of a source instead of
    * dragging a monolithic source's every token count through ONE
    * task. The plan side joins back as a |sources|-row broadcast.
    */
  def sourceMixExecute(df: DataFrame, idCol: String, textCol: String,
                       srcCol: String, budget: Long = 1000000L): DataFrame = {
    // one corpus text scan: the plan's per-source sums derive from the
    // SAME persisted tokenized frame the schedule is built on
    val docs = Caches.persistTracked(df.select(
        col(srcCol).as("source"), col(idCol).as("doc_id"),
        size(TextOps.words(col(textCol))).cast("long").as("toks"))
      .withColumn("sk", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("sk"), 1, 2)))
    val plan = mixPlanFromCounts(
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens")), budget)
      .select(col("source"), col("alloc_tokens"), col("n_tokens"))
    twoLevelTokenPrefix(docs, Seq("shard"), "sched_prefix")
      .join(broadcast(plan), Seq("source"))
      .withColumn("n_copies",
        expr("alloc_tokens div n_tokens") +
          when(col("sched_prefix") < expr("alloc_tokens % n_tokens"),
            lit(1L)).otherwise(lit(0L)))
      .filter(col("n_copies") > 0)
      .select(col("source"), col("doc_id"), col("toks"),
        col("sched_prefix"), col("n_copies"))
      .orderBy("source", "doc_id")
  }

  /** The shared TWO-LEVEL prefix sum of the mixing family: the running
    * `toks` total per `source` stream, ordered (`shardCols`, sk,
    * doc_id) — shard-local window sums plus a broadcast carry over the
    * per-shard aggregate, the q93 pattern. `shardCols` must be a
    * prefix of the intended global order (the executor shards on the
    * schedule key's hex prefix; the packer on (copy, hex prefix)), so
    * composing local + carry reproduces the single-window prefix
    * exactly. Adds `outCol`; every other input column passes through.
    */
  private def twoLevelTokenPrefix(df: DataFrame, shardCols: Seq[String],
                                  outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = "source" +: shardCols
    val wLocal = Window.partitionBy(keys.map(col): _*)
      .orderBy("sk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = df.withColumn("g_local_start",
      coalesce(sum(col("toks")).over(wLocal), lit(0L)))
    val wCarry = Window.partitionBy("source")
      .orderBy(shardCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = df.groupBy(keys.map(col): _*)
      .agg(sum(col("toks")).as("g_shard_tok"))
      .withColumn("g_carry",
        coalesce(sum(col("g_shard_tok")).over(wCarry), lit(0L)))
      .select(keys.map(col) :+ col("g_carry"): _*)
    local.join(broadcast(carry), keys)
      .withColumn(outCol, col("g_local_start") + col("g_carry"))
      .drop("g_local_start", "g_carry")
  }

  /** Compose [[sourceMixExecute]] with the q93 packing arithmetic:
    * materialize the EPOCH SCHEDULE (every (doc, copy) instance the
    * manifest orders, fractional epoch last) and cut each source's
    * token stream into fixed-`seqLen` training sequences — the final
    * layout job of pretraining prep: plan (q144) → manifest (q147) →
    * packed shards (this). Per scheduled instance: its token start in
    * the source's stream, first/last sequence touched, sequence count,
    * and offset inside the first — exactly [[TextOps
    * .sequencePackingByCount]]'s contract with (doc, copy) as the
    * packing unit and schedule order (copy-major, md5-shuffled within
    * each epoch) as the stream order.
    *
    * Scale shape: the copy expansion is a row-local `sequence()`
    * explode bounded by the token budget (Σ scheduled tokens per
    * source = alloc_tokens plus at most ONE straddling doc — the
    * manifest's greedy-span rule, so Σ copies ≈ budget/avg_doc), and
    * the running sum is the same two-level prefix sum as the
    * manifest's, sharded on (copy, schedule-key hex prefix) with a
    * broadcast carry. Nothing here re-reads the corpus text: the
    * manifest carries the token counts.
    */
  def mixPack(df: DataFrame, idCol: String, textCol: String,
              srcCol: String, budget: Long = 1000000L,
              seqLen: Long = 512L): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val manifest = sourceMixExecute(df, idCol, textCol, srcCol, budget)
    val expanded = Caches.persistTracked(manifest
      .select(col("source"), col("doc_id"), col("toks"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .withColumn("sk", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("sk"), 1, 2)))
    TextOps.packSpan(
        twoLevelTokenPrefix(expanded, Seq("copy", "shard"), "tok_start"),
        "toks", seqLen)
      .select(col("source"), col("doc_id"), col("copy"), col("toks"),
        col("tok_start"), col("seq_start"), col("seq_end"),
        col("n_seqs"), col("seq_offset"))
      .orderBy("source", "doc_id", "copy")
  }

  /** Integer-exact BM25 top-k retrieval — the classic query→document
    * relevance ranking (Robertson/Spärck Jones), the op that mines
    * query–document training pairs and builds eval candidate pools
    * from a corpus. Okapi BM25 with k1/b in milli-units and idf in
    * micro-units, every division a floor div on non-negative operands,
    * so both engines land on identical BIGINTs:
    *
    *   idf_u   = ((2(N − df) + 1) · 10^6) div (2·df + 1)   — the
    *             (N − df + 0.5)/(df + 0.5) form cleared of halves
    *   dlnorm‰ = (1000 − b‰) + (b‰ · dl · 1000) div avgdl‰
    *   denom‰  = tf · 1000 + (k1‰ · dlnorm‰) div 1000
    *   term    = (idf_u · tf · (1000 + k1‰)) div denom‰
    *
    * and a document's score is the integer sum over matched query
    * terms. Monotone in tf-saturation and idf exactly as float BM25;
    * the absolute scale is arbitrary, as retrieval only needs order.
    *
    * Scale shape: the query-term table broadcasts onto the exploded
    * corpus tokens FIRST (df and tf are only ever computed for query
    * terms — the corpus-wide vocabulary never aggregates), per-doc
    * lengths partial-aggregate, N/avgdl are one bounded driver scalar
    * (the pageRank-n posture), and top-k per query is a bounded rank
    * window (WindowGroupLimit). At 10^9+ docs the idf/score products
    * approach BIGINT range and the micro-units would quantize
    * per-mille, like [[dsirSelect]]'s note.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queries: Seq[(String, String)], k: Int = 10,
               k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    val spark = df.sparkSession
    val toks = Caches.persistTracked(df.select(
      col(idCol).as("doc_id"),
      explode(TextOps.words(col(textCol))).as("term")))
    val qterms = bm25QueryTerms(spark, queries)
    // bounded driver scalars: corpus doc count + average doc length
    val dl = Caches.persistTracked(
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tt"))
      .head()
    val n = stats.getLong(0)
    require(n > 0, "bm25TopK needs a non-empty corpus")
    val avgdlMilli = (stats.getLong(1) * 1000L) / n
    // df/tf restricted to query terms BEFORE any aggregation
    val hits = Caches.persistTracked(
      toks.join(broadcast(qterms), Seq("term")))
    val dfr = hits.select("doc_id", "term").distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
    val tf = hits.groupBy("query_id", "doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    bm25Rank(tf, dfr, dl, n, avgdlMilli, k, k1Milli, bMilli)
  }

  /** RETRIEVAL EVALUATION over the BM25 ranker — the q72/q73 posture
    * for text retrieval: per query, precision@k, recall and MRR of the
    * ranked top-k against a DETERMINISTIC relevance oracle (a doc is
    * relevant iff it contains EVERY distinct query term — the
    * conjunctive-containment judgment both engines can derive exactly;
    * a real deployment plugs in editorial judgments, the metric
    * arithmetic is unchanged). All three metrics are exact integers in
    * micro-units (hits·10⁶ div k, hits·10⁶ div n_rel, 10⁶ div
    * first-relevant-rank) — no float appears, so engine and oracle
    * agree bit-for-bit. A query with no relevant doc (the 'zzz' leg)
    * reports zeros.
    *
    * Scale shape: the ranking is [[bm25TopK]] (query-term-restricted
    * aggregates); the relevance side restricts the token scan to the
    * same pushed term list before its distinct — every growing stage
    * is ∝ matched tokens, the metric join is |queries × k| rows.
    */
  def bm25Eval(df: DataFrame, idCol: String, textCol: String,
               queries: Seq[(String, String)], k: Int = 10,
               k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = Caches.persistTracked(
      bm25TopK(df, idCol, textCol, queries, k, k1Milli, bMilli))
    val qterms = bm25QueryTerms(spark, queries)
    val nq = qterms.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    val terms = queries.flatMap(_._2.trim.split("\\s+")).distinct
    val rel = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .join(broadcast(qterms), Seq("term"))
      .select("query_id", "doc_id", "term").distinct()
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nm"))
      .join(broadcast(nq), Seq("query_id"))
      .filter(col("nm") === col("n_terms"))
      .select("query_id", "doc_id")
    val relStats = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val perQ = ranked.join(rel, Seq("query_id", "doc_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("first_rel"))
    queries.map(_._1).distinct.toDF("query_id")
      .join(relStats, Seq("query_id"), "left_outer")
      .join(perQ, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, 0L) * 1000000 div $k").as("p_at_k_micro"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          expr("coalesce(hits, 0L) * 1000000 div n_rel"))
          .otherwise(lit(0L)).as("recall_micro"),
        when(col("first_rel").isNotNull,
          expr("1000000 div first_rel")).otherwise(lit(0L))
          .as("mrr_micro"))
      .orderBy("query_id")
  }

  /** The exploded, deduplicated (query_id, term) table both BM25 entry
    * points broadcast. */
  private[graft] def bm25QueryTerms(spark: SparkSession,
      queries: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "BM25 needs at least one query")
    queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(TextOps.words(col("qtext"))).as("term"))
      .distinct()
  }

  /** The shared BM25 scoring tail: given (query_id, doc_id, term, tf),
    * per-term document frequencies, per-doc lengths and the corpus
    * scalars, produce the ranked top-k — one place for the integer
    * arithmetic, consumed by [[bm25TopK]] (inline corpus scan) and
    * `sources.Bm25Index.search` (standing postings index).
    */
  private[graft] def bm25Rank(tf: DataFrame, dfr: DataFrame,
      dl: DataFrame, n: Long, avgdlMilli: Long, k: Int,
      k1Milli: Long, bMilli: Long): DataFrame =
    bm25RankTail(
      bm25Scores(tf, dfr, dl, n, avgdlMilli, k1Milli, bMilli), k)

  /** The scoring half of [[bm25Rank]]: every (query, doc) pair's
    * integer micro-unit score, BEFORE the top-k cut — split out so
    * `sources.Bm25Index.searchWithProximity` can add its proximity
    * boost to the full scored set (boosting after the cut would let a
    * boosted rank-k+1 doc be wrongly dropped). */
  private[graft] def bm25Scores(tf: DataFrame, dfr: DataFrame,
      dl: DataFrame, n: Long, avgdlMilli: Long,
      k1Milli: Long, bMilli: Long): DataFrame = {
    val dfreq = dfr.withColumn("idf_u",
      expr(s"((2 * (${n}L - df) + 1) * 1000000) div (2 * df + 1)"))
    tf
      .join(broadcast(dfreq.select("term", "idf_u")), Seq("term"))
      .join(dl, Seq("doc_id"))
      .withColumn("dlnorm_m",
        expr(s"(1000 - $bMilli) + ($bMilli * dl * 1000) div $avgdlMilli"))
      .withColumn("denom_m",
        expr(s"tf * 1000 + ($k1Milli * dlnorm_m) div 1000"))
      .withColumn("term_score",
        expr(s"(idf_u * tf * (1000 + $k1Milli)) div denom_m"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).as("matched"))
  }

  /** The per-query top-k cut shared by every BM25-shaped ranker. */
  private[graft] def bm25RankTail(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("matched"), col("rn").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------- DSIR importance selection

  /** DSIR-style targeted data selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every candidate document by how much its hashed-unigram profile
    * looks like a TARGET domain rather than the raw pool, and keep the
    * top-k. This is the third selection pillar next to quality gates
    * (which are target-agnostic) and dedup (which is similarity to
    * SELF): "give me the slice of the crawl that reads like my target
    * corpus".
    *
    * Determinism: DSIR's per-feature log-likelihood ratio is replaced
    * by the integer-quantized count ratio ((tc+1)·10^6) div (rc+1) —
    * the [[bigramLmScore]] substitution — and a document's score is
    * the integer sum of per-bucket count×ratio products, so both
    * engines land on identical BIGINTs (floats appear nowhere).
    * Monotonicity in "target-likeness per bucket" is what selection
    * needs; the absolute scale is arbitrary exactly as log-space is.
    *
    * Scale shape: two partial-aggregated count shuffles keyed on the
    * 28-bit feature bucket, a `buckets`-row model table broadcast back
    * onto per-(doc, bucket) counts, and a distributed
    * TakeOrderedAndProject top-k — every stage ∝ total tokens, the
    * model side O(buckets) regardless of corpus size. At trillion-
    * token scale the ratio table would quantize per-mille to keep the
    * c×r products inside BIGINT; the gate corpus is orders of
    * magnitude inside the bound.
    */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 targetFilter: Column, buckets: Int = 1024,
                 k: Int = 100): DataFrame = {
    val tok = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
        targetFilter.as("is_target"),
        explode(TextOps.words(col(textCol))).as("wrd"))
      .withColumn("b", TextOps.hash7(col("wrd")) % buckets))
    val ratio = tok.groupBy("b").agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("rc"))
      .select(col("b"), expr("((tc + 1) * 1000000) div (rc + 1)").as("r"))
    val docB = tok.filter(!col("is_target"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    docB.join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("r")).as("score"),
        sum(col("c")).as("n_tokens"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "score", "n_tokens")
  }

  // ------------------------------------------- exact-substring dedup

  /** Span-level exact-substring dedup — the "Deduplicating Training
    * Data Makes Language Models Better" (Lee et al. 2022) pass:
    * document- and paragraph-level screens miss VERBATIM spans that
    * repeat inside otherwise-distinct documents (license boilerplate,
    * quoted passages, templated sentences), so this operator finds
    * every `width`-token window whose exact content occurs ≥ `minOcc`
    * times ANYWHERE in the corpus (across docs or repeated within
    * one), merges overlapping duplicate windows into maximal spans,
    * and reports per doc: token count, duplicated-token count, span
    * count, and the md5 of the text with duplicated spans excised.
    *
    * The reference paper builds a single-node suffix array; that does
    * not shard. The Spark-first shape is rolling windows hashed
    * row-locally (16-hex md5 prefix so the shuffle carries 16-byte
    * keys, not text), ONE count shuffle on the window hash (a window
    * aggregate — no second join pass), and a coverage explode bounded
    * by `width` × the duplicated subset only. Every stage is ∝ total
    * tokens, never doc pairs; the per-doc covered-position array is
    * bounded by a single document's length, same as the q95/q102
    * materialized-array posture. Hash collisions (64-bit prefix)
    * merge windows identically in engine and oracle, so the gate is
    * exact by construction.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     width: Int = 8, minOcc: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // token arrays materialized once (the q95 re-split trap)
    val tok = Caches.persistTracked(df.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("w")))
    // one row per window start (1-based); short docs emit none
    val win = tok
      .where(size(col("w")) >= width)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("w")) - lit(width - 1)),
          i => substring(
            md5(concat_ws("", slice(col("w"), i, lit(width)))),
            1, 16))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    // global occurrence count in the SAME shuffle that carries the
    // windows (count over an h-partitioned frame, no join back)
    val dupw = win
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("cnt") >= minOcc)
    // token positions covered by ≥1 duplicate window; persisted —
    // both the span rollup and the reconstruction array read it, and
    // recomputing would repeat the h-window shuffle
    val cov = Caches.persistTracked(dupw
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(width - 1))).as("p"))
      .distinct())
    // maximal spans via gaps-and-islands on the covered positions
    val rn = row_number().over(
      Window.partitionBy("doc_id").orderBy("p"))
    val spans = cov.withColumn("g", col("p") - rn)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_tokens"),
        countDistinct(col("g")).as("n_spans"))
    val covArr = cov.groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("cov"))
    tok.join(covArr, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        md5(concat_ws(" ", filter(col("w"), (_, i) =>
          !array_contains(
            coalesce(col("cov"), array().cast("array<int>")), i + 1))))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  /** WEIGHTED SYSTEMATIC SAMPLING by token mass — the deterministic
    * corpus subsampler: order the corpus on the md5 schedule key (the
    * q147 shuffle convention), lay the docs out as a token stream, and
    * pick the doc under every stride-`s` boundary (s = ⌊W/m⌋ for a
    * target of `m` picks). Each doc's pick count is the number of
    * boundaries inside its token span — selection probability exactly
    * proportional to length, the size-proportional draw a mixture/
    * curriculum builder wants, with none of a random sampler's
    * nondeterminism: the whole draw is integer arithmetic over a
    * prefix sum, so it is reproducible at any parallelism and has a
    * bit-exact oracle (q158). Docs spanning multiple boundaries get
    * multi-counted (n_picked ≥ 2) — the with-replacement convention
    * weighted samplers share; the final W mod m token tail carries no
    * boundary (j ≤ m−1), so ceil terms clamp at m and total picks are
    * EXACTLY m (CorpusOpsSpec pins the identity).
    *
    * Scale shape: one pass for the global token total (a bounded
    * driver scalar, the pageRank-n posture), the q93/q147 TWO-LEVEL
    * prefix sum (hex-shard-local window sums + a broadcast carry over
    * the 256 per-shard aggregates — no corpus-wide single-partition
    * window), then row-local arithmetic. Stride boundaries stay in
    * int64: every product here is ≤ W + s, never W·m (the ceil is
    * computed against the stride, not cross-multiplied — at 100 TB,
    * W·m would need 128-bit).
    */
  def systematicSample(df: DataFrame, idCol: String, textCol: String,
                       m: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Caches.persistTracked(df.select(
        col(idCol).as("doc_id"),
        size(TextOps.words(col(textCol))).cast("long").as("toks"))
      .withColumn("sk", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("sk"), 1, 2)))
    val total = base.agg(coalesce(sum(col("toks")), lit(0L)))
      .head().getLong(0)
    require(m > 0 && total >= m,
      s"systematicSample needs total tokens ($total) >= m ($m) > 0")
    val s = total / m
    val wLocal = Window.partitionBy("shard").orderBy("sk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("p_local",
      coalesce(sum(col("toks")).over(wLocal), lit(0L)))
    // carry: one window over the 256 per-shard aggregates — bounded
    val carry = base.groupBy("shard").agg(sum(col("toks")).as("st"))
      .withColumn("carry",
        coalesce(sum(col("st")).over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "carry")
    local.join(broadcast(carry), Seq("shard"))
      .withColumn("prefix", col("p_local") + col("carry"))
      .withColumn("n_picked",
        least(lit(m), expr(s"(prefix + toks + ${s - 1}) div $s")) -
          least(lit(m), expr(s"(prefix + ${s - 1}) div $s")))
      .select("doc_id", "toks", "prefix", "n_picked")
      .orderBy("doc_id")
  }

  /** TYPO-TOLERANT vocabulary match — the deletion-neighborhood
    * (SymSpell-style) candidate index: every corpus vocabulary term and
    * every query term is expanded to its depth-1 deletion neighborhood
    * (the term plus each single-character deletion), candidates form by
    * an EQUI-join on the shared variant, and an exact Levenshtein ≤ 1
    * verify makes the answer exact. Two strings at edit distance ≤ 1
    * always share a depth-1 deletion variant (equal → the term itself;
    * substitution → delete the differing position on both sides;
    * insert/delete → the shorter string is itself a variant of the
    * longer), so the candidate stage loses nothing and the verify
    * removes the false positives (distinct variants at distance 2,
    * e.g. transpositions) — never a vocab × query cross product.
    *
    * Output per (query_id, matched term): the term's document
    * frequency and the exact distance. Distances stay integers; no
    * float appears anywhere (bit-exact DuckDB oracle, q166).
    *
    * Scale shape: the vocabulary fold is one (term, doc_id) distinct
    * aggregate over the token explode (partial-aggregated, ∝ corpus
    * tokens); the variant table is |vocab| × (len+1) rows of short
    * strings — the classic SymSpell space trade, and the natural
    * standing-table candidate under the Bm25Index lifecycle for a
    * corpus that is indexed once and probed often; the query side is a
    * broadcast of |queries| × (len+1) rows, so the candidate join
    * shuffles nothing but the vocabulary variants.
    */
  def fuzzyVocabMatch(df: DataFrame, idCol: String, textCol: String,
                      queries: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(queries.nonEmpty, "fuzzyVocabMatch needs at least one query")
    val vocab = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    val vv = vocab.select(col("term"), col("df"),
      explode(delNeighborhood(col("term"))).as("variant"))
    val qv = queries.toDF("query_id", "qterm")
      .select(col("query_id"), col("qterm"),
        explode(delNeighborhood(col("qterm"))).as("variant"))
    vv.join(broadcast(qv), Seq("variant"))
      .select("query_id", "qterm", "term", "df").distinct()
      .withColumn("dist",
        levenshtein(col("term"), col("qterm")).cast("long"))
      .filter(col("dist") <= 1)
      .select("query_id", "term", "df", "dist")
      .orderBy("query_id", "term")
  }

  /** Depth-1 deletion neighborhood: the term itself plus every
    * single-character deletion, deduplicated (repeated characters
    * collapse, e.g. "aa" → ["aa", "a"]). Requires non-empty input
    * (callers filter; sequence(1, 0) would run backwards).
    */
  private def delNeighborhood(t: Column): Column =
    array_union(array(t),
      transform(sequence(lit(1), length(t)), i =>
        concat(t.substr(lit(1), i - 1),
          t.substr(i + 1, length(t) - i))))
}
