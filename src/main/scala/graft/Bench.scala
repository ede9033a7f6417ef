package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR as one
  * fixed sweep — every row [[Draws]] timed draws, publishing the min and
  * the spread — writes bench_out.json with the run's [[conditions]], and
  * prints the one-line metric JSON as the LAST stdout line (consumers
  * keep only a bounded output tail, and Spark/sbt noise printed after
  * the line would push it out).
  *
  * Timing = full materialization via the noop sink (every row produced on
  * the executors, nothing collected). count() would let column pruning
  * skip most of the work for projection-heavy queries.
  *
  * A query that throws is reported as -1 in "queries" and listed in
  * "errors" — never as a fake-fast timing.
  *
  * Compare two runs with `graft.tools.BenchDiff prev.json curr.json`,
  * which refuses runs taken under different conditions.
  */
object Bench {

  /** Timed draws per row, fixed so every commit runs the same benchmark.
    * Sized from a measured one-draw sweep at sf0.1 on a 4-core host:
    * warmup 63 s, one timed sweep 875 s, so warmup plus [[Draws]] sweeps
    * must fit the 2,670 s wall budget — three (2,689 s) do not, two
    * (1,813 s) do. */
  val Draws = 2

  /** BENCH-ONLY production-hash twins of the two heaviest shingle
    * scans: the registered q36/q76 stay on md5 (DuckDB reproduces it —
    * the oracle constraint), but the production deployment runs
    * xxhash64 (the `xx` flag; HashModeSpec pins mode equivalence on a
    * collision-free corpus), so the HEADLINE number for those scans
    * should be the production hash's, not the md5 tax. These are not
    * driver-registry queries — no oracle claims, benchable only.
    */
  private[graft] val benchOnly
      : Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
    "q36x_minhash_lsh_xx" -> ((s, d) =>
      graft.TextOps.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        xx = true)),
    "q76x_winnow_containment_xx" -> ((s, d) =>
      graft.TextOps.containmentPairs(Tables.documents(s, d), "doc_id",
        "text", xx = true)),
    // the capped langid production twin: minDocGramCount = 2 drops
    // per-doc hapax trigrams after the partial aggregate — the spill
    // knob SCALING.md's corpus-scale probe motivates. The registered
    // q125 stays uncapped for oracle fidelity; this twin carries the
    // production number in the headline next to it
    "q125x_langid_capped" -> ((s, d) =>
      graft.CorpusOps.langIdTrigram(Tables.documents(s, d), "doc_id",
        "text", "lang", minDocGramCount = 2)),
    // The CODE-INDEPENDENT drift control: pure Spark built-ins over
    // spark.range — no graft operator code, no input data — so its
    // run-over-run ratio moves only with the host/JVM, never with the
    // code under test (any estimate derived from the other rows is
    // contaminated by a uniform plan regression). Shuffle-shaped by
    // design (64M rows hashed, partial-agg'd and exchanged to 1M
    // groups: the median headline row's shape). BenchDiff normalizes
    // by the MIN of its drift bases — see BenchDiff.flag.
    "q00x_drift_probe" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.range(0, 64000000L, 1, 64)
        .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
          // bounded values: a sum of full-range xxhash64 longs
          // overflows int64 under ANSI mode
          pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).as("v"))
        .groupBy("k")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    }),
    // The second probe leg — CPU-bound, NO shuffle (the only exchange
    // is the single final-aggregate row). With both legs published,
    // BenchDiff attributes a divergence: probe_cpu moved too → host/JVM
    // drift; the shuffle probe alone → the shuffle path; neither while
    // the fleet moved → suspect the code. md5 over short strings is the
    // row-local kernel shape (hashing, codecs, text ops).
    "q00y_drift_probe_cpu" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      // sized to land WELL over the sub-second noise floor (a drift
      // BASIS must itself be comparison-grade; the sub-second flag
      // rule exists because such rows measure JVM state)
      s.range(0, 48000000L, 1, 64)
        .select(md5(concat_ws("-", col("id"), lit("graft"),
          col("id") * 2654435761L)).as("h"))
        .agg(max(col("h")).as("mx"), count(lit(1)).as("n"))
    }))

  /** Every benchable query: the driver registry + the bench-only twins. */
  private[graft] def benchable
      : Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] =
    SparkEntry.queries ++ benchOnly

  /** The heavier, shuffle/join/window-shaped subset of the inventory. */
  def headline: Seq[String] =
    headline(sys.env.get("SPARK_GRAFT_BENCH_QUERIES"))

  /** [[headline]] with the subset request injectable (spec hook). */
  private[graft] def headline(subsetEnv: Option[String]): Seq[String] = {
    val preferred = Seq(
      // first rows: the code-independent drift controls (benchOnly)
      "q00x_drift_probe", "q00y_drift_probe_cpu",
      "q02_pricing_summary", "q05_latest_per_group", "q10_join_agg",
      "q11_join_5way", "q14_self_join_dup", "q16_window_seq_id",
      "q17_topk_per_group", "q18_running_agg", "q28_merge_upsert",
      "q31_dedup_exact", "q36_minhash_lsh", "q37_ngram_jaccard",
      "q38_cosine_pairs", "q40_simhash", "q43_ann_ivf",
      "q01_monthly_counts", "q34_tfidf_keywords", "q55_source_profiles",
      "q58_queue_writeback", "q69_dup_clusters", "q70_simhash_dups",
      "q71_corpus_filter", "q72_ann_recall", "q73_dedup_recall",
      "q74_ivf_centroids", "q75_simhash_clusters",
      "q76_winnow_containment", "q77_split_report",
      "q78_split_leakage", "q79_asof_attribution", "q80_gap_sessions",
      "q81_corpus_rebalance", "q82_retention_cohorts",
      "q83_funnel_attribution", "q84_value_percentiles",
      "q85_event_transitions", "q86_value_percentiles_approx",
      "q87_range_windows", "q88_session_overlap", "q89_peak_concurrency",
      "q90_stratified_sample", "q91_retention_cohorts_approx",
      "q92_incremental_neardup", "q93_sequence_packing",
      "q94_decontaminate", "q95_repetition_stats",
      "q96_semantic_clusters", "q97_incremental_exact",
      "q101_pii_screen", "q102_paragraph_dedup", "q103_bigram_lm",
      "q104_bloom_exact", "q105_shard_plan", "q107_top_ngrams",
      "q108_sliding_rates", "q109_url_dedup", "q110_chunk_table",
      "q111_source_profile", "q114_scd2_history", "q115_time_travel",
      "q116_heavy_hitters", "q117_rate_anomaly",
      "q118_constraint_check", "q119_scd2_incremental",
      "q121_vocab_encode",
      // the production standing-index screens: each run times the full
      // registered lifecycle (bootstrap write + append + screen) — the
      // steady-state screen-only cost is SCALING.md's index-ab probe
      // row; benching the registered form here makes the flagship
      // driver-visible instead of probe-only
      "q98_neardup_indexed", "q99_exact_indexed",
      // round-14: the full delete/compact lifecycle (bootstrap + append
      // + tombstone + three-table compaction + screen) — the takedown
      // maintenance cost, driver-visible like the q98/q99 ingest cost
      "q129_neardup_deleted", "q130_exact_deleted",
      // round-13 additions: synthesized-JPEG decode scan, BPE learn +
      // corpus encode
      "q122_jpeg_meta", "q123_bpe_merges", "q124_bpe_encode",
      "q125_langid_trigram", "q126_sq8_recall", "q127_semantic_decontam",
      "q128_bpe_packing",
      // round-14: synthesized-BMP pixel decode + dHash + banded
      // hamming near-dup (the image-content dedup path); IVF-PQ
      // codebook/reconstruction fidelity gate
      "q133_image_phash_dedup", "q134_pq_recall", "q135_pq_adc_recall",
      "q137_audio_features", "q138_audio_phash_dedup",
      "q139_video_frames", "q140_curation_manifest",
      "q141_embedding_drift",
      // round-14 second tranche: substring-span dedup (rolling-window
      // scan + one count shuffle), 10-round fixed-point PageRank
      // (iterative checkpoints — the only multi-job headline entry),
      // mixing planner (agg-only), hard-negative broadcast-probe scan
      "q142_substring_dedup", "q143_pagerank", "q144_source_mix",
      "q145_hard_negatives", "q146_dsir_select",
      // round-14 third tranche: the mix-plan EXECUTOR (two-level
      // per-source prefix sum) and 5-round label propagation (the
      // second iterative-checkpoint entry)
      "q147_mix_execute", "q148_label_prop",
      // round-14 fourth tranche: epoch-schedule packing (budget-
      // bounded copy explode), integer BM25 retrieval (query-term
      // broadcast onto the token explode), and canonical selection
      // over q69's clusters
      "q149_mix_pack", "q150_bm25_topk", "q151_canonical_docs",
      "q153_snapshot_diff", "q154_bm25_indexed",
      // round-14 fifth tranche: trained Lloyd k-means (bounded
      // centroid collects per round), SemDeDup over its clusters
      // (the within-cluster pair join), and the positional-index
      // lifecycle (build + takedown + compaction + phrase joins)
      "q155_kmeans", "q156_semdedup", "q157_phrase_search",
      "q158_systematic_sample",
      // round-14 sixth tranche: diff-driven BM25 index refresh
      // (bootstrap + delta ingest + search), the standing ANN index
      // lifecycle (mergeable-centroid build + takedown + compaction +
      // routed search), and its PQ-coded serving layout (codebook
      // train + codes log + ADC search)
      "q159_index_refresh", "q160_vector_index", "q162_pq_index",
      "q163_stats_refresh", "q164_retrieval_eval",
      "q165_phrase_snippets", "q166_fuzzy_vocab",
      // round-15 tranche: proximity retrieval over the positional
      // index (windowed m-way chains), phrase-aware ranking (BM25 +
      // boost before the cut), the learned-routing ANN index
      // (trained coarse quantizer + lifecycle + routed search), its
      // recall eval, and the learned-codeword PQ lifecycle
      "q167_proximity_search", "q168_proximity_ranked",
      "q169_learned_vector_index", "q170_learned_recall",
      "q171_learned_pq_index",
      // round-15 second tranche: the end-to-end curation composition
      // (quality ∩ canonical ∩ decontaminated → mix→pack) — the
      // full-text pipeline cost in one number — and the PNG pixel
      // decode gate (CRC-verified chunk walk + inflate + all-five
      // filter reconstruction, q133's sibling); q172/q175 (iterative
      // refresh lifecycles) and q173 (shard writer) are floor-table
      // entries like the other harness/writer shapes
      "q174_curation_pipeline", "q176_png_pixel_dedup",
      "q179_mulaw_features", "q180_png_rgb_dedup",
      "q181_cross_container_dedup",
      // diff-driven ANN refresh (bootstrap + diff + atomic batch +
      // routed search) — q159's posture for vectors
      "q177_vector_refresh",
      // round-16: drift-triggered quantizer re-training (two Lloyd
      // trainings + stale/re-routed search legs + brute-force eval),
      // warm-started dup-cluster refresh (two component loops over
      // the LSH pair path), and the baseline-JPEG cross-container
      // clique (entropy decode joins the pixel-hash dedup space)
      "q182_drift_reroute", "q183_clusters_refresh",
      "q184_jpeg_cross_container",
      // round-17: restart-interval + progressive JPEG entropy layouts,
      // palette-8 PNG joining the container-blind clique, and the
      // partial-compaction lifecycle (touched-bucket rewrite)
      "q185_jpeg_modes_dedup", "q186_palette_png_dedup",
      "q187_partial_compact", "q188_partial_dedup_compact",
      "q189_exif_meta", "q191_oriented_dedup",
      "q192_stars_clusters",
      // round-18: the PNG depth/interlace matrix (Adam7 + 16-bit +
      // 4-bit members joining the container-blind clique) and the
      // ISO-BMFF sample-table walk (Motion-JPEG decoded, avc1
      // honestly labeled)
      "q193_png_depths", "q194_mp4_samples",
      // round-18 second tranche: GIF joins the clique via real LZW;
      // alpha PNGs (types 4/6) join via white-compositing; TIFF joins
      // in both byte orders with scattered strips
      "q195_gif_lzw_dedup", "q196_png_alpha_dedup", "q197_tiff_dedup",
      "q198_gif_anim_frames", "q199_unicode_dedup",
      "q200_alaw_features", "q201_adpcm_features", "q202_media_census",
      "q203_mojibake_repair", "q204_hll_distinct", "q205_hll_merged",
      // round-19: the small-range (linear-counting) HLL regime —
      // per-type user_id sits below the 2.5m boundary at sf0.01
      "q206_hll_small_range",
      // production twins (benchOnly): xxhash64 for the heaviest
      // shingle scans, df-capped langid for the heaviest per-char scan
      "q36x_minhash_lsh_xx", "q76x_winnow_containment_xx",
      "q125x_langid_capped")
    // excluded by design, like the q66/q67 sink roundtrips: q120 (the
    // z-ordered WRITER — scan cost is measured above; the write path is
    // ZOrderSpec's subject) and q100/q106/q112/q113 (file-backed replay
    // harnesses whose cost is dominated by streaming-engine batch
    // bookkeeping, not executor-side plans)
    val available = preferred.filter(benchable.contains)
    val base =
      if (available.nonEmpty) available else benchable.keys.toSeq.sorted
    // SPARK_GRAFT_BENCH_QUERIES=q36_minhash_lsh,q69_dup_clusters benches a
    // subset in isolation — used to separate a query's own cost from
    // cache/ordering interplay with the rest of the headline sequence.
    subsetEnv match {
      case Some(list) =>
        val wanted = list.split(",").map(_.trim).filter(_.nonEmpty)
        // a typo must fail loudly, not yield an empty rc-0 bench run —
        // and any registry query is benchable, not just the headline set
        val unknown = wanted.filterNot(benchable.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_QUERIES names not in the query registry: " +
            unknown.mkString(", "))
        wanted.distinct.toSeq
      case None => base
    }
  }

  /** Short git HEAD of the working tree, "" outside a repo — recorded in
    * [[conditions]] so a run names the code it measured. Read from .git
    * directly (no subprocess — the bench must not depend on a git
    * binary). */
  private[graft] def gitHeadToken(dir: java.io.File =
      new java.io.File(".")): String =
    try {
      // .git may be a DIRECTORY (normal clone) or a gitdir-pointer
      // FILE (git worktree); worktree gitdirs additionally keep refs
      // in the commondir
      val dotGit = dir.toPath.resolve(".git")
      val gitDir =
        if (Files.isDirectory(dotGit)) dotGit
        else {
          val ptr = Files.readString(dotGit).trim
          require(ptr.startsWith("gitdir: "), s"unrecognized .git: $ptr")
          dir.toPath.resolve(ptr.drop(8).trim).normalize()
        }
      val commonDir = {
        val cd = gitDir.resolve("commondir")
        if (Files.exists(cd))
          gitDir.resolve(Files.readString(cd).trim).normalize()
        else gitDir
      }
      val head = Files.readString(gitDir.resolve("HEAD")).trim
      val sha =
        if (head.startsWith("ref: ")) {
          val ref = head.drop(5).trim
          Seq(gitDir.resolve(ref), commonDir.resolve(ref))
            .find(Files.exists(_))
            .map(p => Files.readString(p).trim)
            .getOrElse { // packed ref
              val packed = commonDir.resolve("packed-refs")
              if (!Files.exists(packed)) ""
              else Files.readAllLines(packed).toArray.map(_.toString)
                .find(_.endsWith(" " + ref))
                .map(_.split("\\s+")(0)).getOrElse("")
            }
        } else head
      sha.take(12)
    } catch { case _: Throwable => "" }

  /** The conditions a run was taken under, as rendered JSON values.
    * BenchDiff refuses to compare runs whose conditions differ;
    * `git_head` is recorded but is not a condition. `cpus` is the
    * session's `local[N]`, which need not match the host's cores. */
  private[graft] def conditions(cpus: Int, sfDir: String,
      sparkVersion: String, gitHead: String): Seq[(String, String)] = Seq(
    "cpus" -> cpus.toString,
    "host_cpus" -> Runtime.getRuntime.availableProcessors.toString,
    "sf" -> quote(sfDir),
    "java.version" -> quote(System.getProperty("java.version")),
    "spark.version" -> quote(sparkVersion),
    "iters" -> Draws.toString,
    "git_head" -> quote(gitHead))

  private def quote(s: String): String = "\"" + s + "\""

  private def obj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")

  /** The published JSON for timed `draws` per row (-1 marks a failed
    * row): (the stdout line, the bench_out.json body). The stdout line
    * lists only spreads >= 25% to stay short; the file carries every
    * spread and the conditions. `spread_min_pct` says which map a
    * consumer holds. */
  private[graft] def report(draws: Seq[(String, Seq[Double])],
      errors: Seq[String], sfDir: String,
      conds: Seq[(String, String)]): (String, String) = {
    val mins = draws.map { case (k, t) =>
      k -> (if (t.exists(_ < 0)) -1.0 else t.min) }
    val total = mins.map(_._2).filter(_ >= 0).sum
    // per-query spread (max/min − 1, %) across the timed draws: the
    // published noise band — a run-over-run delta smaller than the
    // spread is measurement, not engineering
    def spreads(minPct: Double) = draws.collect {
      case (k, t) if t.min > 0 && (t.max / t.min - 1) * 100 >= minPct =>
        k -> f"${(t.max / t.min - 1) * 100}%.1f"
    }
    def line(minPct: Int, extra: Seq[(String, String)]) = obj(Seq(
      "metric" -> quote("total"), "value" -> f"$total%.3f",
      "unit" -> quote("sec"),
      "queries" -> obj(mins.map { case (k, v) => k -> f"$v%.3f" }),
      "spread_pct" -> obj(spreads(minPct)),
      "spread_min_pct" -> minPct.toString, "iters" -> Draws.toString,
      "errors" -> errors.map(quote).mkString("[", ",", "]"),
      "sf" -> quote(sfDir)) ++ extra)
    (line(25, Nil), line(0, Seq("conditions" -> obj(conds))))
  }

  /** SPARK_GRAFT_SF_DIR, checked before any work: a missing directory
    * would otherwise fail every row only after the full warmup. */
  private[graft] def checkSfDir(dir: String): String = {
    require(new java.io.File(dir).isDirectory,
      s"SPARK_GRAFT_SF_DIR='$dir' is not a directory")
    dir
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    checkSfDir(sfDir)
    val names = headline
    // Fresh per-run warehouse: a long session accretes standing-index
    // tables and every lifecycle gate's bootstrap then pays ~20% extra
    // catalog/listing overhead (SCALING.md's q154 measurement) — a
    // harness artifact a deployment never pays. The bench must measure
    // the plan, not the accretion.
    val wh = Files.createTempDirectory("graft-bench-wh").toString
    TmpDirs.deleteOnExit(wh)
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder("graft-bench", cpus)
      .config("spark.sql.warehouse.dir", wh).getOrCreate()
    // ERROR, not WARN: WARN-class spam (WindowExec bounded-frame notes,
    // Column equality heuristics) pushes the metric line out of a
    // bounded output tail
    spark.sparkContext.setLogLevel("ERROR")

    // Untimed warmup at the smallest scale, by FAMILY: warming every
    // headline row was measured at ~1700 s of a 2533 s wall (each
    // lifecycle gate pays its fixed bootstrap/manifest cost nearly in
    // full even at sf0.001), while what warmup buys is SHARED state
    // (JIT tiers, codegen infra, parquet reader, session machinery) —
    // a ~14-row set covering the distinct code paths warms it at ~5%
    // of the cost. Per-query residual cold cost lands in the first
    // timed draw, which the min over [[Draws]] absorbs. Subset runs
    // warm what they bench (they are small by construction).
    val warmFamilies = Seq(
      "q00x_drift_probe",      // the drift controls must measure WARM
      "q00y_drift_probe_cpu",
      "q02_pricing_summary",   // scan + agg + parse expressions
      "q11_join_5way",         // broadcast/shuffle joins
      "q16_window_seq_id",     // window functions
      "q36_minhash_lsh",       // shingle/LSH HOF pipelines
      "q84_value_percentiles", // sketch/percentile aggs
      "q93_sequence_packing",  // two-level prefix sums
      "q98_neardup_indexed",   // standing-index lifecycle machinery
      "q122_jpeg_meta",        // decoder UDFs
      "q143_pagerank",         // iterative checkpoint loops
      "q150_bm25_topk",        // token explode + rank tail
      "q155_kmeans",           // vector/centroid path
      "q204_hll_distinct")     // register-sketch chain
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      val t0 = System.nanoTime()
      val warmSet =
        if (sys.env.contains("SPARK_GRAFT_BENCH_QUERIES")) names
        else warmFamilies.filter(benchable.contains)
      warmSet.foreach { name =>
        try benchable(name)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        finally Caches.clear()
      }
      println(f"[bench] warmup: ${warmSet.size} queries in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val timedT0 = System.nanoTime()
    var errors = List.empty[String]
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        benchable(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          if (!errors.contains(name)) errors ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      } finally Caches.clear() // don't carry cached blocks across queries
    }
    // min of Draws: single draws swing ±15% (occasionally 2-3×) with
    // host noise — SCALING.md's noise characterization; the min is the
    // stable estimate of what the plan costs (JMH's min-time mode)
    val draws = names.map(name => name -> (1 to Draws).map(_ => once(name)))
    println(f"[bench] timed phase: ${names.size * Draws} draws in " +
      f"${(System.nanoTime() - timedT0) / 1e9}%.1f s")
    val (line, file) = report(draws, errors.reverse, sfDir,
      conditions(cpus.toInt, sfDir, spark.version, gitHeadToken()))
    Files.writeString(Paths.get("bench_out.json"), file + "\n")
    spark.stop()
    println(line)
    if (errors.nonEmpty) sys.exit(1)
  }
}
