package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-critical PHYSICAL-PLAN properties the operators are
  * designed around, so a refactor that silently regresses a plan (an
  * accidental cartesian, a shuffle in a pruned branch, a lost filter
  * pushdown) fails here instead of surfacing as a 100×-scale surprise.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("source-profile dispatch is shuffle-free (per-branch pruned scans)") {
    for (q <- Seq("q55_source_profiles", "q60_source_profiles3",
      "q61_source_profiles4")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q grew a shuffle:\n$p")
    }
  }

  // the inventory-WIDE cartesian/nested-loop sweep lives in
  // PlanSweepSpec (with its planted-regression canary); this spec keeps
  // the targeted per-query pins below

  test("predicate pushdown reaches the parquet scan") {
    val p = plan("q03_filter_project")
    // at least one scan must carry a NON-EMPTY pushed-filter list
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      s"no non-empty PushedFilters in q03:\n$p")
  }

  test("dimension joins broadcast (no shuffle of the fact side for q11)") {
    val p = plan("q11_join_5way")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"q11 dims stopped broadcasting:\n$p")
  }

  test("q79: as-of join is one hash shuffle and NO join operator") {
    val p = plan("q79_asof_attribution")
    // union-tag + window — the whole as-of resolves in a single hash
    // exchange; the only other exchange is the final orderBy's range
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"q79 should as-of in ONE hash shuffle, saw $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q79 grew a join operator — the union-tag form needs none:\n$p")
  }

  test("q80: windows and session aggregate share ONE hash exchange") {
    val p = plan("q80_gap_sessions")
    // lag + running sum + groupBy(user, session_seq) all ride the
    // user_id partitioning — an exchange between them is a regression
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"q80 should sessionize in ONE hash shuffle, saw $hashEx:\n$p")
  }

  test("q83: TWO chained as-ofs resolve in exactly two hash shuffles") {
    val p = plan("q83_funnel_attribution")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"q83 chained as-of grew shuffles ($hashEx):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q83 grew a join operator:\n$p")
  }

  test("q82: retention matrix is join-free") {
    val p = plan("q82_retention_cohorts")
    assert(!p.contains("Join"), s"q82 joined events against a firsts table:\n$p")
  }

  test("q81: the rate join back is broadcast, never a corpus shuffle") {
    val p = plan("q81_corpus_rebalance")
    assert(p.contains("BroadcastHashJoin"), s"q81 rate join stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q81 shuffles the corpus for a 5-row dim:\n$p")
  }

  test("q37 runs the inverted-index execution, not the block self-join") {
    val p = plan("q37_ngram_jaccard")
    // the promoted form explodes the shingle sets into postings and joins
    // on the hash, so pairs only materialize where shingles overlap; the
    // quadratic block self-join instead pairs whole blocks and intersects
    // with the native sorted-intersect kernel
    assert("explode\\(sh#\\d+".r.findFirstIn(p).isDefined,
      s"q37 lost the shingle-postings explode:\n$p")
    assert(!p.contains("graft_sorted_intersect_count"),
      s"q37 regressed to the C(block,2) self-join:\n$p")
  }

  test("q38 candidate join keys include the hyperplane bucket") {
    val p = plan("q38_cosine_pairs")
    // the promoted execution pairs vectors only within (label, bucket);
    // losing the bucket key regresses to C(block, 2) candidates
    assert(
      "Join \\[label#\\d+, bucket#\\d+L\\], \\[label#\\d+, bucket#\\d+L\\]".r
        .findFirstIn(p).isDefined,
      s"q38 candidate join lost the hyperplane-bucket key:\n$p")
  }

  test("q89: the day-carry join back is broadcast, never a delta shuffle") {
    val p = plan("q89_peak_concurrency")
    // the two-level prefix sum only scales if the |days|-row carry
    // table broadcasts back onto the delta stream
    assert(p.contains("BroadcastHashJoin"),
      s"q89 carry join stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q89 shuffles the delta stream for a |days|-row carry:\n$p")
  }

  test("q87: range join executes as a hash equi-join on the bin") {
    val p = plan("q87_range_windows")
    // the bin-replication rewrite's whole point: a pure inequality
    // condition would plan as BroadcastNestedLoopJoin (|points| ×
    // |intervals| — the range-ab probe measured 81×); the rewrite must
    // keep it a hash equi-join keyed on _bin
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q87 regressed to a nested-loop range join:\n$p")
    assert("Join.*\\[_bin#\\d+L\\]".r.findFirstIn(p).isDefined ||
      "Join [^\\n]*_bin#\\d+L".r.findFirstIn(p).isDefined,
      s"q87 candidate join lost the _bin equi-key:\n$p")
  }

  test("q88: first-shared-bin dedup — no distinct pass after the join") {
    val p = plan("q88_session_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q88 regressed to a nested-loop overlap join:\n$p")
    // each overlapping pair must emit exactly once FROM THE JOIN (kept
    // only in its first shared bin); a dedup regression shows up as a
    // grouping-only HashAggregate (functions=[]) between join and the
    // overlap count
    assert(!p.contains("functions=[]"),
      s"q88 grew a distinct (grouping-only aggregate) pass:\n$p")
  }

  test("q93: the cross-shard token carry is broadcast, never a doc shuffle") {
    val p = plan("q93_sequence_packing")
    // the two-level prefix sum only scales if the |langs × shards|-row
    // carry table broadcasts back onto the doc stream (q89's pattern)
    assert(p.contains("BroadcastHashJoin"),
      s"q93 carry join stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q93 shuffles the doc stream for a tiny carry frame:\n$p")
  }

  test("q94: the eval print index broadcasts — the corpus never shuffles " +
    "to meet it") {
    val p = plan("q94_decontaminate")
    // benchmark suite = tiny fixed side; a SortMergeJoin here would
    // shuffle the 100 TB training corpus against a few thousand prints
    assert(p.contains("BroadcastHashJoin"),
      s"q94 eval index stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q94 shuffles the corpus for a broadcast-size eval index:\n$p")
  }

  test("q127: the eval embedding side broadcasts — the training corpus " +
    "never shuffles to meet it (q94's posture in embedding space)") {
    val p = plan("q127_semantic_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"q127 eval side stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q127 shuffles the corpus for a broadcast-size eval slice:\n$p")
  }

  test("q114: SCD2's two windows ride ONE (key) hash exchange") {
    val p = plan("q114_scd2_history")
    // change-detect lag + interval-close lead both partition on the key:
    // a second exchange would mean the windows stopped sharing it
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges == 1, s"q114 expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("q104: the bloom prefilter sits on the corpus side of the plan") {
    val p = plan("q104_bloom_exact")
    // the runtime-filter asymmetry: the standing corpus must pass the
    // increment's bloom BEFORE anything aggregates/shuffles it — losing
    // the filter reverts to q97's full corpus groupBy
    assert(p.contains("graft_bloom_might_contain"),
      s"q104 lost the bloom prefilter:\n$p")
  }

  test("q105: shard plan inherits q93's broadcast carry (no doc shuffle " +
    "for the tiny carry frame)") {
    val p = plan("q105_shard_plan")
    assert(p.contains("BroadcastHashJoin"),
      s"q105 carry join stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q105 shuffles the doc stream for a tiny carry frame:\n$p")
  }

  test("similarity verify kernels stay native in the plan") {
    val p36 = plan("q36_minhash_lsh")
    assert(p36.contains("graft_sorted_intersect_count"), p36)
    val p38 = plan("q38_cosine_pairs")
    assert(p38.contains("graft_dot_long"), p38)
  }

  test("q133/q138: the perceptual-hash pair stage shuffles ONLY on the " +
    "band key — no doc-pair exchange ever forms") {
    Caches.clear()
    // force the at-scale SMJ shape — sf0.001 fingerprint frames would
    // broadcast and hide the band exchange (the DedupIndexSpec posture)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq("q133_image_phash_dedup", "q138_audio_phash_dedup")) {
        val p = plan(q)
        // the band bucket join: one exchange per side of the
        // self-join, both on (band, key) — the only PAIR-FORMING
        // shuffles (the post-join distinct/symmetrize/best-agg
        // exchanges carry only the collision-governed candidate set)
        assert("Exchange hashpartitioning\\(band".r.findAllIn(p).size == 2,
          s"$q band-join shuffle shape changed:\n$p")
        // the fingerprint projection is persisted once for both join
        // sides (the one-scan contract)
        assert(p.contains("InMemoryTableScan"), s"$q lost the persist:\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      Caches.clear()
    }
  }

  test("q134: PQ assignment and reconstruction are row-local — the " +
    "only exchanges are the block-pair join's and the per-vector aggs") {
    Caches.clear()
    val p = plan("q134_pq_recall")
    // no exchange keyed on the subspace/code columns: assignment is a
    // projection over broadcast codebook literals, not a join
    assert(!p.contains("hashpartitioning(code"),
      s"q134 shuffled on assignment codes:\n$p")
    // the exact integer distances ride the native dot kernel
    assert(p.contains("graft_dot_long"), s"q134 lost the native dot:\n$p")
    Caches.clear()
  }

  /** Classes compiled while running the listing cycle's queries once. */
  private def listingCyclePass(): Long = {
    val c0 = graft.tools.Profile.compiles()
    for (q <- Seq("q28_merge_upsert", "q29_issue_tags", "q30_export_wide",
      "q47_crawl_report", "q48_tag_counts", "q49_queue_page",
      "q63_report_totals", "q55_source_profiles")) {
      SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      Caches.clear()
    }
    graft.tools.Profile.compiles() - c0
  }

  test("a warm listing cycle compiles almost no classes") {
    // One pass compiles about 125 distinct classes on a fresh JVM, more
    // than Spark's default generated-class cache of 100, so with the
    // default every warm pass recompiles 90 or more of them. With the
    // session's cache a warm pass usually compiles none, but not always:
    // a warm q28 call has compiled two whole-stage classes twice each in
    // one run and nothing in the next, so the bound leaves room for a
    // few. Two passes warm up; their counts are not asserted because the
    // cache is JVM-global and they depend on which specs ran before.
    listingCyclePass(); listingCyclePass()
    val again = listingCyclePass()
    assert(again <= 8, s"a warm pass recompiled $again classes")
  }
}
