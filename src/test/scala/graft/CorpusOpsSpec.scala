package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Known-answer tests for the round-12 corpus operators: PII
  * detect/redact, paragraph-level dedup, bigram-LM scoring, the
  * bloom-prescreened incremental screen (bit-equality with its
  * unfiltered twin, including FP-saturated), shard planning, and top-k
  * n-gram mining.
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("piiScreen: detects and redacts each class; clean doc untouched") {
    val df = Seq(
      (1L, "mail me at bob.smith+x@corp.example.org thanks"),
      (2L, "server 192.168.10.14 then call +62 812-5551234 now"),
      (3L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val out = CorpusOps.piiScreen(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1L)
    assert(out(1L).getAs[Boolean]("has_pii"))
    assert(out(2L).getAs[Long]("n_ips") == 1L)
    assert(out(2L).getAs[Long]("n_phones") == 1L)
    assert(!out(3L).getAs[Boolean]("has_pii"))
    // redaction replaces the matched span and nothing else
    val red = df.select(col("doc_id"),
      regexp_replace(col("text"), CorpusOps.emailRe, "<EMAIL>").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "mail me at <EMAIL> thanks")
    // clean doc's redacted hash equals the hash of the original text
    val clean = df.filter(col("doc_id") === 3L)
      .select(md5(col("text"))).head().getString(0)
    assert(out(3L).getAs[String]("redacted_hash") == clean)
  }

  test("paragraphDedup: globally repeated paragraph dropped, unique " +
    "kept, reassembly preserves order") {
    // 10-word boilerplate shared by docs 1 and 2; unique tails
    val boiler = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, s"$boiler alpha beta gamma"),
      (2L, s"$boiler delta epsilon zeta"),
      (3L, "totally unique words that repeat nowhere else in corpus x")
    ).toDF("doc_id", "text")
    val out = CorpusOps.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_paragraphs") == 2L)
    assert(out(1L).getAs[Long]("n_dropped") == 1L)
    assert(out(2L).getAs[Long]("n_dropped") == 1L)
    assert(out(3L).getAs[Long]("n_dropped") == 0L)
    // retained text of doc 1 is exactly its unique tail
    val tail1 = df.sparkSession.range(1)
      .select(md5(lit("alpha beta gamma"))).head().getString(0)
    assert(out(1L).getAs[String]("retained_hash") == tail1)
    // doc 3 keeps everything: retained = full text re-chunked/joined
    val full3 = df.sparkSession.range(1).select(md5(lit(
      "totally unique words that repeat nowhere else in corpus x")))
      .head().getString(0)
    assert(out(3L).getAs[String]("retained_hash") == full3)
  }

  test("bigramLmScore: counts match hand computation") {
    // corpus: "a b" occurs 3x across docs (>= minCount 2), "b c" 1x
    val df = Seq((1L, "a b c"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val out = CorpusOps.bigramLmScore(df, "doc_id", "text", minCount = 2,
      cap = 1000).collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: bigrams {a b, b c}; "a b" c2=3 >= 2 frequent; fam = 3 + 1
    assert(out(1L).getAs[Long]("n_bigrams") == 2L)
    assert(out(1L).getAs[Long]("n_frequent") == 1L)
    assert(out(1L).getAs[Long]("fam_sum") == 4L)
    assert(out(1L).getAs[Double]("frequent_ratio") == 0.5)
    assert(out(1L).getAs[Double]("avg_familiarity") == 2.0)
    // doc 2: one bigram, frequent
    assert(out(2L).getAs[Long]("n_bigrams") == 1L)
    assert(out(2L).getAs[Double]("frequent_ratio") == 1.0)
  }

  test("bigramLmScore: doc with a single word scores zero, not null") {
    val df = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val out = CorpusOps.bigramLmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_bigrams") == 0L)
    assert(out(1L).getAs[Double]("frequent_ratio") == 0.0)
  }

  test("bloomExactScreen: bit-equal to incrementalExactDedup, " +
    "including FP-saturated bloom") {
    val docs = (0L until 200L).map { i =>
      // duplicates across the increment boundary every 10th doc
      val text = if (i % 10 == 0) "shared duplicate content"
      else s"unique content number $i"
      (i, text)
    }.toDF("doc_id", "text")
    val isNew = col("doc_id") % 5 === 4
    val exact = TextOps.incrementalExactDedup(docs, "doc_id", "text", isNew)
      .collect().map(_.toString).sorted
    for (fpp <- Seq(0.03, 0.5)) { // 0.5: force heavy false positives
      val bloom = CorpusOps.bloomExactScreen(docs, "doc_id", "text",
        isNew, fpp = fpp).collect().map(_.toString).sorted
      assert(bloom.sameElements(exact), s"fpp=$fpp diverged")
    }
  }

  test("shardPlan: files respect the token budget split point") {
    // 5 docs x 4 tokens, budget 8 => files of 2 docs each
    val df = (1L to 5L).map(i => (i, "t t t t", "en"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusOps.shardPlan(df, "doc_id", "text", "lang",
      budget = 8, shardSize = 2).collect()
    assert(out.map(_.getAs[Long]("file_id")).toSeq == Seq(0L, 1L, 2L))
    val f0 = out.find(_.getAs[Long]("file_id") == 0L).get
    assert(f0.getAs[Long]("n_docs") == 2L)
    assert(f0.getAs[Long]("file_tokens") == 8L)
    assert(f0.getAs[Long]("first_doc") == 1L)
    assert(f0.getAs[Long]("last_doc") == 2L)
    // straddling doc belongs to the file its span STARTS in
    val f2 = out.find(_.getAs[Long]("file_id") == 2L).get
    assert(f2.getAs[Long]("n_docs") == 1L && f2.getAs[Long]("first_doc") == 5L)
  }

  test("topNgrams: counts and deterministic tie-break") {
    val df = Seq(
      (1L, "x y z x y z", "en"),   // "x y z" twice, "y z x"/"z x y" once
      (2L, "x y z q r s", "en")).toDF("doc_id", "text", "lang")
    val out = CorpusOps.topNgrams(df, "doc_id", "text", "lang", k = 3)
      .collect()
    assert(out.head.getAs[String]("gram") == "x y z")
    assert(out.head.getAs[Long]("n") == 3L)
    assert(out.head.getAs[Long]("rank") == 1L)
    // ranks 2 and 3 break the all-count-1 tie alphabetically
    assert(out.map(_.getAs[String]("gram")).toSeq ==
      Seq("x y z", "q r s", "y z q"))
  }

  test("urlCanonicalize: each normalization rule, and dedup keyed on " +
    "the canonical form") {
    val df = Seq(
      (1L, "HTTPS://WWW.Site.COM/a/b/?utm_source=x&id=7#frag"),
      (2L, "https://site.com/a/b?id=7&utm_campaign=y"),
      (3L, "https://site.com/a/b?id=8"),   // different query: no dup
      (4L, "http://other.org/"),           // root: slash stripped
      (5L, "http://other.org")).toDF("doc_id", "url")
    val out = CorpusOps.urlCanonicalize(df, "doc_id", "url")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("canonical_url") ==
      "https://site.com/a/b?id=7")
    assert(out(2L).getAs[String]("canonical_url") ==
      "https://site.com/a/b?id=7")
    assert(out(2L).getAs[Long]("canonical_doc") == 1L)
    assert(!out(2L).getAs[Boolean]("is_canonical"))
    assert(out(3L).getAs[Boolean]("is_canonical"))
    assert(out(4L).getAs[String]("canonical_url") == "http://other.org")
    assert(out(4L).getAs[Long]("canonical_doc") == 4L)
    assert(!out(5L).getAs[Boolean]("is_canonical")) // 4 canonicalized first
  }

  test("urlCanonicalize: unparseable URLs pass through as themselves, " +
    "never collapsing into one bucket") {
    val df = Seq(
      (1L, "example.com/a"),          // schemeless
      (2L, "//cdn.example.com/x"),    // protocol-relative
      (3L, "mailto:someone@x.org"),   // non-hierarchical scheme
      (4L, "not a url at all")).toDF("doc_id", "url")
    val out = CorpusOps.urlCanonicalize(df, "doc_id", "url").collect()
      .map(r => r.getLong(0) -> r).toMap
    for ((id, raw) <- Seq(1L -> "example.com/a", 2L -> "//cdn.example.com/x",
      3L -> "mailto:someone@x.org", 4L -> "not a url at all")) {
      assert(out(id).getAs[String]("canonical_url") == raw, s"doc $id")
      assert(out(id).getAs[Boolean]("is_canonical"), s"doc $id collapsed")
    }
  }

  test("slidingRates: every event lands in exactly two windows") {
    val d = "/root/testdata/sf0.001"
    val spark2 = spark
    val nEvents = Tables.events(spark2, d).count()
    val out = Temporal.q108SlidingRates(spark2, d)
    assert(out.agg(sum(col("n"))).head().getLong(0) == 2 * nEvents)
    // window starts are 30-minute aligned and 1 h apart per event pair
    val starts = out.select(col("window_epoch")).distinct().collect()
      .map(_.getLong(0))
    assert(starts.forall(_ % 1800 == 0))
  }

  test("chunkTable: overlap arithmetic, ragged tail, sub-width doc") {
    val doc1 = (1 to 100).map(i => s"t$i").mkString(" ") // 100 tokens
    val df = Seq((1L, doc1), (2L, "a b c")).toDF("doc_id", "text")
    val out = CorpusOps.chunkTable(df, "doc_id", "text",
      width = 64, stride = 32).collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // ceil((100-64)/32)+1 = 3 chunks at starts 1, 33, 65
    assert(d1.map(_.getAs[Long]("start_tok")).toSeq == Seq(1L, 33L, 65L))
    assert(d1.map(_.getAs[Long]("n_tok")).toSeq == Seq(64L, 64L, 36L))
    // consecutive chunks overlap by width - stride = 32 tokens
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getAs[Long]("n_tok") == 3L)
  }

  test("sourceProfile: dup attribution and integer-exact aggregates") {
    val df = Seq(
      (1L, "the quick fox", "clean"),
      (2L, "the quick fox", "spammy"),   // dup of 1 -> charged to spammy
      (3L, "the quick fox", "spammy"),   // dup of 1
      (4L, "of a different text", "clean")).toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceProfile(df, "doc_id", "text", "source",
      maxDupPermille = 500).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("clean").getAs[Long]("n_dups") == 0L)
    assert(!out("clean").getAs[Boolean]("flagged"))
    assert(out("spammy").getAs[Long]("n_dups") == 2L)
    assert(out("spammy").getAs[Boolean]("flagged")) // 2/2 > 50%
    assert(out("clean").getAs[Long]("n_tokens") == 7L)
    assert(out("clean").getAs[Double]("stop_ratio") == // the + of + a
      math.round(3.0 / 7 * 1e6) / 1e6)
  }

  test("scd2History: repeats collapse, changes version, last row open") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val ev = Seq(
      (1L, ts(100), "view", 1L),
      (2L, ts(200), "view", 1L),     // repeat -> collapses
      (3L, ts(300), "click", 1L),    // change -> v2
      (4L, ts(400), "view", 1L),     // change back -> v3 (not collapsed)
      (5L, ts(100), "purchase", 2L)) // second key, single open row
      .toDF("event_id", "ts", "event_type", "user_id")
    val out = Temporal.scd2History(ev, "user_id", "ts", "event_type",
      "event_id").collect()
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.map(r => (r.getAs[Long]("version"),
      r.getAs[String]("state"))).toSeq ==
      Seq((1L, "view"), (2L, "click"), (3L, "view")))
    assert(u1.map(_.getAs[Long]("valid_from_us")).toSeq ==
      Seq(100000000L, 300000000L, 400000000L))
    // each valid_to equals the next valid_from; last row open/current
    assert(u1.map(r => Option(r.getAs[java.lang.Long]("valid_to_us")))
      .toSeq == Seq(Some(300000000L), Some(400000000L), None))
    assert(u1.map(_.getAs[Boolean]("is_current")).toSeq ==
      Seq(false, false, true))
    val u2 = out.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.length == 1 && u2.head.getAs[Boolean]("is_current"))
  }

  test("streamingIntervalJoin state bounds: condition-derived retention " +
    "appears in the plan") {
    // unit semantics are covered by the q113 oracle gate; here pin that
    // the join IS a stream-stream join with watermarks on both sides
    // (state eviction derives from the interval condition)
    val ev = Seq((1L, new java.sql.Timestamp(1000), "view", 1L))
      .toDF("event_id", "ts", "event_type", "user_id")
    // batch analog compiles and returns the expected schema
    val out = graft.streaming.EventStreams.streamingIntervalJoin(ev)
    assert(out.columns.toSeq ==
      Seq("click_id", "view_id", "user_id", "lag_us"))
  }

  test("heavyHittersGate: exact top-k, CMS bound holds, parallel top-k plan") {
    val df = Seq(
      (1L, "apple apple apple banana banana cherry"),
      (2L, "apple banana date egg fig grape")).toDF("doc_id", "text")
    val out = CorpusOps.heavyHittersGate(df, "doc_id", "text", k = 3)
    val rows = out.collect()
    assert(rows.map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"),
      r.getAs[Long]("n"))).toSeq ==
      Seq((1L, "apple", 4L), (2L, "banana", 3L), (3L, "cherry", 1L)))
    // absolute guarantee (what the driver oracle pins) AND the
    // probabilistic ε bound (spec-only — see the operator scaladoc)
    assert(rows.forall(_.getAs[Boolean]("cms_no_undercount")))
    assert(rows.forall(_.getAs[Boolean]("cms_within_eps")))
    // top-k must compile to the parallel partial-top-k operator, not a
    // global single-partition window
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"heavy hitters lost the parallel top-k:\n$plan")
  }

  test("q117RateAnomaly: hand-computed z over the trailing 24 buckets") {
    val spark2 = spark
    import spark2.implicits._
    // 24 hourly buckets alternating 9/11 events (mean 10, var 1), then
    // a 16-event spike hour -> z = 6
    val events = (0 until 24).flatMap { h =>
      val n = if (h % 2 == 0) 9 else 11
      (0 until n).map(i => (h.toLong * 100 + i,
        new java.sql.Timestamp((h * 3600L + i) * 1000), 1L, "x", 0.0, "{}"))
    } ++ (0 until 16).map(i => (9900L + i,
      new java.sql.Timestamp((24 * 3600L + i) * 1000), 1L, "x", 0.0, "{}"))
    val df = events.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_q117_").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Temporal.q117RateAnomaly(spark2, dir).collect()
    val spike = out.find(_.getAs[Long]("hour_epoch") == 24 * 3600L).get
    assert(spike.getAs[Long]("n") == 16L)
    assert(spike.getAs[Double]("z") == 6.0)
    assert(spike.getAs[Boolean]("is_anomaly"))
    // buckets with under 24 trailing observations carry null z, false flag
    val early = out.find(_.getAs[Long]("hour_epoch") == 3600L).get
    assert(early.isNullAt(early.fieldIndex("z")))
    assert(!early.getAs[Boolean]("is_anomaly"))
  }

  test("scd2Apply: collapse into open row, close on change, new key, " +
    "untouched key") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val oldEv = Seq(
      (1L, ts(100), "view", 1L), (2L, ts(200), "click", 1L), // u1: 2 versions
      (3L, ts(150), "view", 2L),                             // u2: 1 open row
      (4L, ts(100), "view", 3L))                             // u3: untouched
      .toDF("event_id", "ts", "event_type", "user_id")
    val batch = Seq(
      (10L, ts(300), "click", 1L),  // equals u1 open state -> collapses
      (11L, ts(400), "view", 1L),   // change -> closes v2, opens v3
      (12L, ts(500), "view", 2L),   // equals u2 open state -> collapses
      (13L, ts(600), "view", 9L))   // brand-new key
      .toDF("event_id", "ts", "event_type", "user_id")
    val history = Temporal.scd2History(oldEv, "user_id", "ts",
      "event_type", "event_id")
    val applied = Temporal.scd2Apply(history,
      batch.select(col("user_id"), col("ts"), col("event_type"),
        col("event_id")),
      "user_id", "ts", "event_type", "event_id")
    // must bit-equal the full rebuild
    val rebuild = Temporal.scd2History(oldEv.unionByName(batch),
      "user_id", "ts", "event_type", "event_id")
    assert(applied.collect().map(_.toString).sorted
      .sameElements(rebuild.collect().map(_.toString).sorted))
    val u1 = applied.filter(col("user_id") === 1L).collect()
    assert(u1.map(r => (r.getAs[Long]("version"),
      r.getAs[String]("state"))).toSeq ==
      Seq((1L, "view"), (2L, "click"), (3L, "view")))
    // the collapse: v2 stays valid from 200 (not re-opened at 300)
    assert(u1(1).getAs[Long]("valid_from_us") == 200000000L)
    assert(u1(1).getAs[Long]("valid_to_us") == 400000000L)
    val u9 = applied.filter(col("user_id") === 9L).collect()
    assert(u9.length == 1 && u9.head.getAs[Long]("version") == 1L)
    val u3 = applied.filter(col("user_id") === 3L).collect()
    assert(u3.length == 1 && u3.head.getAs[Boolean]("is_current"))
    // contract guard: a batch observation at-or-before an open row's
    // valid_from must be rejected loudly, not silently mis-versioned
    val late = Seq((99L, ts(50), "view", 1L))
      .toDF("event_id", "ts", "event_type", "user_id")
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    val e = intercept[IllegalArgumentException] {
      Temporal.scd2Apply(history, late, "user_id", "ts", "event_type",
        "event_id").collect()
    }
    assert(e.getMessage.contains("strictly newer"))
  }

  test("constraintCheck: per-constraint pass counts and verdicts") {
    val df = Seq(
      (1L, "O", 10.0), (2L, "F", -5.0), (2L, "X", 20.0))
      .toDF("k", "status", "price")
    val out = Quality.constraintCheck(df,
      predicates = Seq(
        "status_domain" -> col("status").isin("O", "F", "P"),
        "price_positive" -> (col("price") > 0)),
      uniqueKeys = Seq("k_unique" -> Seq("k")))
      .collect().map(r => r.getAs[String]("constraint") -> r).toMap
    assert(out("status_domain").getAs[Long]("n_pass") == 2L)
    assert(!out("status_domain").getAs[Boolean]("ok"))
    assert(out("price_positive").getAs[Long]("n_pass") == 2L)
    assert(out("k_unique").getAs[Long]("n_pass") == 2L) // 2 distinct of 3
    assert(!out("k_unique").getAs[Boolean]("ok"))
  }

  test("vocabEncode: rank ids, OOV to zero, order-preserving hash") {
    val df = Seq(
      (1L, "b a b c"),   // counts: b=3(with doc2), a=2, c=1
      (2L, "a b rare")).toDF("doc_id", "text")
    val out = CorpusOps.vocabEncode(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // vocab: b(3)->1, a(2)->2; c and rare are OOV
    assert(out(1L).getAs[Long]("n_tokens") == 4L)
    assert(out(1L).getAs[Long]("n_oov") == 1L)
    assert(out(2L).getAs[Long]("n_oov") == 1L)
    // doc1 encodes "b a b c" -> 1,2,1,0
    val h = df.sparkSession.range(1)
      .select(md5(lit("1,2,1,0"))).head().getString(0)
    assert(out(1L).getAs[String]("ids_hash") == h)
  }

  test("wordChunks: ragged tail and sub-width doc") {
    val df = Seq((1L, "a b c"), (2L, ("w " * 12).trim)).toDF("id", "t")
    val chunks = df.select(col("id"),
      CorpusOps.wordChunks(col("t"), 10).as("c")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(chunks(1L) == Seq("a b c"))
    assert(chunks(2L) == Seq("w w w w w w w w w w", "w w"))
  }

  test("langIdTrigram: separable profiles classify correctly; short and " +
    "held-out docs degrade deterministically") {
    // two languages with DISJOINT character inventories — profiles are
    // fully separable, so the out-of-place distance must recover the
    // label; one 'xx' doc leans 'aa' (shares 'aaa' mass), one doc is
    // too short for any trigram (null prediction, is_correct false)
    val docs = Seq(
      (1L, "aa", "aaaa aaaa aaaa"),
      (2L, "aa", "aaa aaaa aa aaaa"),
      (3L, "bb", "bbbb bbbb bbbb"),
      (4L, "bb", "bbb bbbb bb bbbb"),
      (5L, "xx", "aaaa aaaa bb"),
      (6L, "aa", "aa")).toDF("doc_id", "lang", "text")
    val out = CorpusOps.langIdTrigram(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("predicted") == "aa")
    assert(out(1L).getAs[Boolean]("is_correct"))
    assert(out(3L).getAs[String]("predicted") == "bb")
    assert(out(3L).getAs[Boolean]("is_correct"))
    // the mixed doc matches SOME language deterministically (its own
    // 3-doc 'xx' profile is dominated by 'aa' trigrams)
    assert(out(5L).getAs[String]("predicted") != null)
    // sub-trigram doc: no profile, null prediction, correct = false
    assert(out(6L).getAs[String]("predicted") == null)
    assert(!out(6L).getAs[Boolean]("is_correct"))
    // distances are integers ≥ 0 wherever predicted
    assert(out.values.filter(_.getAs[String]("predicted") != null)
      .forall(_.getAs[Long]("distance") >= 0L))
  }

  test("langIdTrigram: RLE counts and gram-asc rank tie-break match " +
    "hand computation") {
    // d1: "abcabcabc" → abc:3, bca:2, cab:2 (tie on 2 → bca before cab)
    // d2: "xyzxyz"    → xyz:2, yzx:1, zxy:1
    // d3: "qqqxyz"    → qqq:1, qqx:1, qxy:1, xyz:1
    val docs = Seq(
      (1L, "aa", "abcabcabc"),
      (2L, "bb", "xyzxyz"),
      (3L, "bb", "qqqxyz")).toDF("doc_id", "lang", "text")
    // lang bb profile sums d2+d3 → xyz(3) lrank1, then the
    // count-1 grams gram-asc: qqq 2, qqx 3, qxy 4, yzx 5, zxy 6
    val out = CorpusOps.langIdTrigram(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("predicted") == "aa")
    assert(out(1L).getAs[Long]("distance") == 0L)
    // d2: |1−1| + |2−5| + |3−6| = 6 over 3 matched grams, none absent
    assert(out(2L).getAs[String]("predicted") == "bb")
    assert(out(2L).getAs[Long]("distance") == 6L)
    // d3: |1−2| + |2−3| + |3−4| + |4−1| = 6
    assert(out(3L).getAs[String]("predicted") == "bb")
    assert(out(3L).getAs[Long]("distance") == 6L)
  }

  test("sourceMixPlan: τ=1/2 weights, integer allocations and " +
    "epoch micro-units match hand computation") {
    // source A: 4 docs × 4 tokens = 16; source B: 1 doc × 4 tokens
    val df = Seq(
      (1L, "w w w w", "A"), (2L, "w w w w", "A"),
      (3L, "w w w w", "A"), (4L, "w w w w", "A"),
      (5L, "x x x x", "B")).toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceMixPlan(df, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    // weights: floor(sqrt(16))*1e6 = 4e6, floor(sqrt(4))*1e6 = 2e6
    assert(out("A").getAs[Long]("n_tokens") == 16L)
    assert(out("A").getAs[Long]("weight_q") == 4000000L)
    assert(out("B").getAs[Long]("weight_q") == 2000000L)
    // tw = 6e6: A gets 2/3 of the 1M budget, B 1/3 (floored)
    assert(out("A").getAs[Long]("alloc_tokens") == 666666L)
    assert(out("B").getAs[Long]("alloc_tokens") == 333333L)
    // epochs: alloc*1e6 div n_tokens — B repeats ~83,333×
    assert(out("A").getAs[Long]("epochs_micro") == 666666000000L / 16L)
    assert(out("B").getAs[Long]("epochs_micro") == 333333000000L / 4L)
  }

  test("sourceMixExecute: partial-pass docs picked in md5 schedule " +
    "order, straddler ships whole, unscheduled docs dropped") {
    val df = Seq(
      (1L, "w w w w", "A"), (2L, "w w w w", "A"),
      (3L, "w w w w", "A"), (4L, "w w w w", "A"),
      (5L, "x x x x", "B")).toDF("doc_id", "text", "source")
    // budget 9: alloc A = (9*4e6)//6e6 = 6, alloc B = (9*2e6)//6e6 = 3.
    // md5 schedule within A: "4" (a87f…) < "1" (c4ca…) < "2" (c81e…)
    // < "3" (eccb…) → prefixes 0/4/8/12; rem 6 covers docs 4 and 1
    // (doc 1 straddles the boundary and ships whole); docs 2/3 are
    // out. B: rem 3 > prefix 0 → doc 5 once.
    val out = CorpusOps.sourceMixExecute(df, "doc_id", "text",
      "source", budget = 9L).collect()
      .map(r => r.getLong(1) -> r).toMap
    Caches.clear()
    assert(out.keySet == Set(1L, 4L, 5L))
    assert(out(4L).getAs[Long]("sched_prefix") == 0L)
    assert(out(1L).getAs[Long]("sched_prefix") == 4L)
    assert(out.values.forall(_.getAs[Long]("n_copies") == 1L))
  }

  test("sourceMixExecute: epochs > 1 — every doc gets the full-epoch " +
    "count, remainder prefix gets one more, totals cover the alloc") {
    val df = Seq(
      (1L, "w w w w", "A"), (2L, "w w w w", "A"),
      (3L, "w w w w", "A"), (4L, "w w w w", "A"),
      (5L, "x x x x", "B")).toDF("doc_id", "text", "source")
    // default budget 1M: alloc A = 666666 = 41666×16 + 10 → schedule
    // prefixes 0/4/8 (docs 4/1/2) < 10 get 41667, doc 3 gets 41666;
    // alloc B = 333333 = 83333×4 + 1 → doc 5 gets 83334
    val out = CorpusOps.sourceMixExecute(df, "doc_id", "text", "source")
      .collect().map(r => r.getLong(1) -> r).toMap
    Caches.clear()
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(4L).getAs[Long]("n_copies") == 41667L)
    assert(out(1L).getAs[Long]("n_copies") == 41667L)
    assert(out(2L).getAs[Long]("n_copies") == 41667L)
    assert(out(3L).getAs[Long]("n_copies") == 41666L)
    assert(out(5L).getAs[Long]("n_copies") == 83334L)
    // scheduled tokens cover the allocation, overshooting by at most
    // one straddling doc per source
    val a = out.values.filter(_.getString(0) == "A")
      .map(r => r.getAs[Long]("toks") * r.getAs[Long]("n_copies")).sum
    assert(a >= 666666L && a < 666666L + 4L)
  }

  test("sourceMixExecute: two-level prefix sum equals the single-window " +
    "reference on a multi-shard id spread") {
    // ids spread across md5 hex-prefix shards; per-doc token counts
    // vary so prefixes are informative
    val rows = (1L to 60L).map(i =>
      (i, ("t " * (1 + (i % 5)).toInt).trim,
        if (i % 3 == 0) "A" else "B"))
    val df = rows.toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceMixExecute(df, "doc_id", "text",
      "source", budget = 50L)
      .collect().map(r => (r.getString(0), r.getLong(1))
        -> (r.getAs[Long]("sched_prefix"), r.getAs[Long]("n_copies")))
      .toMap
    Caches.clear()
    // single-window reference, computed in-test
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val toks = rows.map { case (i, t, s) =>
      (s, i, t.split("\\s+").length.toLong) }
    val allocs = {
      val nt = toks.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val wq = nt.view.mapValues(n =>
        math.floor(math.sqrt(n.toDouble) * 1e6).toLong).toMap
      val tw = wq.values.sum
      nt.keys.map(s => s -> (50L * wq(s) / tw, nt(s))).toMap
    }
    val expect = toks.groupBy(_._1).flatMap { case (s, ds) =>
      val sched = ds.sortBy { case (_, i, _) => (md5hex(i.toString), i) }
      val prefixes = sched.scanLeft(0L)(_ + _._3)
      val (alloc, nt) = allocs(s)
      sched.zip(prefixes).map { case ((_, i, _), p) =>
        (s, i) -> (p, alloc / nt + (if (p < alloc % nt) 1L else 0L)) }
    }.filter(_._2._2 > 0L)
    assert(out == expect)
  }

  test("mixPack: epoch-major schedule — gapless per-source token " +
    "stream, fractional epoch last, straddler spans two sequences") {
    // single source, ids 1/2 (md5(\"1\") < md5(\"2\")), 4 tokens each;
    // budget 20 = 2 full epochs of 8 + remainder 4 → doc 1 (first in
    // schedule) gets a 3rd copy
    val df = Seq((1L, "w w w w", "A"), (2L, "w w w w", "A"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.mixPack(df, "doc_id", "text", "source",
      budget = 20L, seqLen = 5L).collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        (r.getAs[Long]("tok_start"), r.getAs[Long]("seq_start"),
          r.getAs[Long]("seq_end"), r.getAs[Long]("seq_offset"))).toMap
    Caches.clear()
    assert(out.keySet ==
      Set((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L)))
    // stream order: d1c1 d2c1 | d1c2 d2c2 | d1c3 → starts 0,4,8,12,16
    assert(out((1L, 1L))._1 == 0L && out((2L, 1L))._1 == 4L)
    assert(out((1L, 2L))._1 == 8L && out((2L, 2L))._1 == 12L)
    assert(out((1L, 3L))._1 == 16L)
    // seqLen 5: the copy starting at 4 straddles sequences 0 and 1
    assert(out((2L, 1L)) == (4L, 0L, 1L, 4L))
    // gapless: every start is the previous start + 4
  }

  test("mix family invariants on a seeded random corpus: copy counts, " +
    "coverage bounds, gapless packing streams") {
    val rnd = new scala.util.Random(20260814L)
    val rows = (1L to 300L).map { i =>
      val toks = 1 + rnd.nextInt(40)
      (i, Seq.fill(toks)("w").mkString(" "), s"s${rnd.nextInt(4)}")
    }
    val df = rows.toDF("doc_id", "text", "source")
    val budget = 5000L
    val plan = CorpusOps.sourceMixPlan(df, "doc_id", "text", "source",
      budget).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("alloc_tokens"), r.getAs[Long]("n_tokens"))).toMap
    val man = CorpusOps.sourceMixExecute(df, "doc_id", "text", "source",
      budget).collect()
    Caches.clear()
    // allocations never exceed the budget in total
    assert(plan.values.map(_._1).sum <= budget)
    for ((src, (alloc, nt)) <- plan) {
      val docs = man.filter(_.getString(0) == src)
      // every doc's copy count is full-epochs or full-epochs + 1
      val full = alloc / nt
      assert(docs.forall { r =>
        val c = r.getAs[Long]("n_copies")
        c == full || c == full + 1
      })
      // scheduled tokens cover the allocation, overshooting by less
      // than one max-length doc (the straddler bound)
      val sched = docs.map(r =>
        r.getAs[Long]("toks") * r.getAs[Long]("n_copies")).sum
      val maxToks =
        if (docs.isEmpty) 0L else docs.map(_.getAs[Long]("toks")).max
      assert(sched >= alloc && sched < alloc + math.max(maxToks, 1L))
    }
    // packing: per source, tok_starts ordered by (copy, md5 key) form
    // a GAPLESS stream — each start equals the previous start + toks
    val packed = CorpusOps.mixPack(df, "doc_id", "text", "source",
      budget, seqLen = 128L).collect()
    Caches.clear()
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    packed.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val stream = rs.sortBy(r =>
        (r.getAs[Long]("copy"), md5hex(r.getLong(1).toString),
          r.getLong(1)))
      stream.foldLeft(0L) { (expect, r) =>
        assert(r.getAs[Long]("tok_start") == expect)
        expect + r.getAs[Long]("toks")
      }
      // span arithmetic holds row-wise
      assert(rs.forall { r =>
        val (s, e, o) = (r.getAs[Long]("seq_start"),
          r.getAs[Long]("seq_end"), r.getAs[Long]("seq_offset"))
        s == r.getAs[Long]("tok_start") / 128 && e >= s &&
          o == r.getAs[Long]("tok_start") % 128 &&
          r.getAs[Long]("n_seqs") == e - s + 1
      })
    }
  }

  test("bm25TopK: integer BM25 matches an in-test reference; tf " +
    "saturation and idf ordering hold; OOV terms never match; k bounds") {
    val docs = Seq((1L, "a a b x"), (2L, "a c"), (3L, "b b b"),
      (4L, "c c c c"))
    val df = docs.toDF("doc_id", "text")
    val out = CorpusOps.bm25TopK(df, "doc_id", "text",
      Seq(("q1", "a b"), ("q2", "zzz")), k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("score"), r.getAs[Long]("matched"),
          r.getAs[Long]("rank"))).toMap
    Caches.clear()
    // integer reference with the operator's published formulas
    val toks = docs.map { case (i, t) => i -> t.split("\\s+").toSeq }
    val n = toks.size.toLong
    val avgdlM = toks.map(_._2.size.toLong).sum * 1000L / n
    def idfU(term: String) = {
      val d = toks.count(_._2.contains(term)).toLong
      (2L * (n - d) + 1L) * 1000000L / (2L * d + 1L)
    }
    def score(doc: Long, terms: Seq[String]) = {
      val dt = toks.toMap.apply(doc)
      val dl = dt.size.toLong
      val dlnorm = 250L + 750L * dl * 1000L / avgdlM
      terms.filter(dt.contains).map { t =>
        val tf = dt.count(_ == t).toLong
        idfU(t) * tf * 2200L / (tf * 1000L + 1200L * dlnorm / 1000L)
      }.sum
    }
    // q2's term is OOV: no rows at all
    assert(out.keys.forall(_._1 == "q1"))
    // docs 1 (a,b), 2 (a), 3 (b) match; doc 4 (c only) absent
    assert(out.keySet.map(_._2) == Set(1L, 2L, 3L))
    for (d <- Seq(1L, 2L, 3L))
      assert(out(("q1", d))._1 == score(d, Seq("a", "b")))
    assert(out(("q1", 1L))._2 == 2L) // both terms matched
    // ranks follow (score desc, doc_id asc) and are 1-based
    val byRank = out.toSeq.sortBy(_._2._3).map(x => (x._1._2, x._2._1))
    assert(byRank.sliding(2).forall {
      case Seq((d1, s1), (d2, s2)) => s1 > s2 || (s1 == s2 && d1 < d2)
      case _ => true
    })
    val top1 = CorpusOps.bm25TopK(df, "doc_id", "text",
      Seq(("q1", "a b")), k = 1).collect()
    Caches.clear()
    assert(top1.length == 1)
  }

  test("Bm25Index: indexed search bit-equal to the inline ranker after " +
    "bootstrap+append; the delete leg answers as never-inserted") {
    val docs = Seq((1L, "a a b x"), (2L, "a c"), (3L, "b b b"),
      (4L, "c c c c"), (5L, "a b c")).toDF("doc_id", "text")
    val qs = Seq(("q1", "a b"), ("q2", "c zzz"))
    graft.sources.Bm25Index.write(docs.filter($"doc_id" <= 3),
      "doc_id", "text", "t154")
    graft.sources.Bm25Index.append(docs.filter($"doc_id" > 3),
      "doc_id", "text", "t154")
    val idx = graft.sources.Bm25Index.search(spark, "t154", qs)
      .collect().toSeq
    val inl = CorpusOps.bm25TopK(docs, "doc_id", "text", qs)
      .collect().toSeq
    Caches.clear()
    assert(idx == inl)
    // takedown of the even docs: the index must answer exactly as if
    // only the odd docs were ever inserted
    graft.sources.Bm25Index.delete(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", "t154")
    val idx2 = graft.sources.Bm25Index.search(spark, "t154", qs)
      .collect().toSeq
    val inl2 = CorpusOps.bm25TopK(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", qs).collect().toSeq
    Caches.clear()
    assert(idx2 == inl2)
    // the bucketing contract: both liveness folds group leading with
    // their bucket key, so they plan with ZERO Exchanges — tombstone
    // filtering never reshuffles the corpus side
    val pFold = spark.table("t154_postings")
      .groupBy("term", "doc_id", "tf").agg(sum($"w").as("net"))
      .queryExecution.executedPlan.toString
    assert(!pFold.contains("Exchange"), pFold)
    val dFold = spark.table("t154_doclens")
      .groupBy("doc_id", "dl").agg(sum($"w").as("net"))
      .queryExecution.executedPlan.toString
    assert(!dFold.contains("Exchange"), dFold)
  }

  test("Bm25Index.refreshFromDiff: delta-driven refresh answers exactly " +
    "as an index bootstrapped fresh on the new generation") {
    val gen1 = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b d"),
      (5L, "c d")).toDF("doc_id", "text")
    // gen2: doc 2 removed, doc 4 added, doc 3 changed, 1/5 unchanged
    val gen2 = Seq((1L, "a a b"), (3L, "b b e"), (4L, "d d a"),
      (5L, "c d")).toDF("doc_id", "text")
    val qs = Seq(("q1", "a b"), ("q2", "d zzz"))
    graft.sources.Bm25Index.write(gen1, "doc_id", "text", "t159a")
    graft.sources.Bm25Index.refreshFromDiff(gen1, gen2, "doc_id",
      "text", "t159a")
    val refreshed = graft.sources.Bm25Index.search(spark, "t159a", qs)
      .collect().toSeq
    graft.sources.Bm25Index.write(gen2, "doc_id", "text", "t159b")
    val fresh = graft.sources.Bm25Index.search(spark, "t159b", qs)
      .collect().toSeq
    Caches.clear()
    assert(refreshed == fresh)
    assert(refreshed.nonEmpty)
    // the delta contract: unchanged docs are never re-ingested — the
    // postings log carries only the bootstrap rows for them, while a
    // changed doc carries bootstrap + tombstone + re-insert
    val rows = spark.table("t159a_postings")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rows")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(1L) == 2L) // "a a b": 2 distinct terms, bootstrap only
    assert(rows(3L) == 6L) // changed: 2 boot + 2 tombstone + 2 new
  }

  test("StatsLedger.refreshFromDiff: delta-maintained data card equals " +
    "the fresh aggregation of the new generation") {
    val gen1 = Seq((1L, "the a b", "s1"), (2L, "a c", "s1"),
      (3L, "b b d", "s2"), (5L, "c d", "s2"))
      .toDF("doc_id", "text", "source")
    // doc 2 removed (s1 shrinks), doc 3 changed, doc 4 added (new
    // source s3), docs 1/5 unchanged
    val gen2 = Seq((1L, "the a b", "s1"), (3L, "b b e e e", "s2"),
      (4L, "d d a", "s3"), (5L, "c d", "s2"))
      .toDF("doc_id", "text", "source")
    graft.sources.StatsLedger.write(gen1, "text", "source", "t163a")
    graft.sources.StatsLedger.refreshFromDiff(gen1, gen2, "doc_id",
      "text", "source", "t163a")
    val refreshed = graft.sources.StatsLedger.profile(spark, "t163a")
      .collect().toSeq
    graft.sources.StatsLedger.write(gen2, "text", "source", "t163b")
    val fresh = graft.sources.StatsLedger.profile(spark, "t163b")
      .collect().toSeq
    Caches.clear()
    assert(refreshed.nonEmpty && refreshed == fresh)
    val byS = refreshed.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS == Map("s1" -> 1L, "s2" -> 2L, "s3" -> 1L))
    // the ledger is bounded partials, not per-doc rows: ≤ 3 batches
    // (bootstrap, delete, append) × |sources|
    assert(spark.table("t163a_stats_ledger").count() <= 9)
  }

  test("StatsLedger.refreshFromDiff: a source re-attribution with " +
    "unchanged text moves the doc between sources (the diff signature " +
    "covers both columns)") {
    val gen1 = Seq((1L, "a b c", "s1"), (2L, "d e", "s2"))
      .toDF("doc_id", "text", "source")
    val gen2 = Seq((1L, "a b c", "s2"), (2L, "d e", "s2"))
      .toDF("doc_id", "text", "source")
    graft.sources.StatsLedger.write(gen1, "text", "source", "t163c")
    graft.sources.StatsLedger.refreshFromDiff(gen1, gen2, "doc_id",
      "text", "source", "t163c")
    val byS = graft.sources.StatsLedger.profile(spark, "t163c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.clear()
    assert(byS == Map("s2" -> 2L)) // s1 folds to zero docs and drops
  }

  test("bm25Eval: conjunctive relevance, exact micro-unit metrics, " +
    "zero-relevant query reports zeros") {
    val docs = Seq((1L, "a b"), (2L, "a b c"), (3L, "a x"))
      .toDF("doc_id", "text")
    val out = CorpusOps.bm25Eval(docs, "doc_id", "text",
      Seq(("q1", "a b"), ("q2", "a zzz"))).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    Caches.clear()
    // q1: docs 1 and 2 contain both terms; both land in the top-10 and
    // a two-term doc outranks the one-term doc 3, so first_rel = 1
    assert(out("q1") == (2L, 2L, 200000L, 1000000L, 1000000L))
    // q2: no doc contains 'zzz' → conjunctive relevance is empty
    assert(out("q2") == (0L, 0L, 0L, 0L, 0L))
  }

  test("phrase snippets: ±3-token window around the first hit, " +
    "start clamped at the document head") {
    val docs = Seq((1L, "x y a b c d e f"), (2L, "c d only here c d"))
      .toDF("doc_id", "text")
    graft.sources.Bm25Index.write(docs, "doc_id", "text", "t165")
    val hits = graft.sources.Bm25Index.phraseSearch(spark, "t165",
      Seq(("p1", "c d"), ("p2", "x y")))
    val wds = docs.select($"doc_id", TextOps.words($"text").as("wds"))
    val out = hits.join(wds, Seq("doc_id"))
      .withColumn("st", greatest(lit(1), $"first_pos" + 1 - 3).cast("int"))
      .withColumn("en", least(size($"wds"), ($"first_pos" + 2 + 3).cast("int")))
      .select($"query_id", $"doc_id", $"n_hits", $"first_pos",
        array_join(slice($"wds", $"st", $"en" - $"st" + 1), " ")
          .as("snippet"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    Caches.clear()
    // doc 1 "c d" at pos 4: window [2, 8] → tokens y..f
    assert(out(("p1", 1L)) == (1L, 4L, "y a b c d e f"))
    // doc 2 "c d" first at pos 0, twice: start clamps to the head
    assert(out(("p1", 2L)) == (2L, 0L, "c d only here c"))
    // doc 1 "x y" at pos 0: start clamped, end = 0+2+3
    assert(out(("p2", 1L)) == (1L, 0L, "x y a b c"))
  }

  test("fuzzy vocab match: each edit type matches at distance 1, " +
    "transpositions and distance-2 edits are excluded") {
    val docs = Seq(
      (1L, "query table scan"), (2L, "query scan"), (3L, "aa"))
      .toDF("doc_id", "text")
    val out = CorpusOps.fuzzyVocabMatch(docs, "doc_id", "text",
      Seq(("i", "querry"), ("s", "scam"), ("d", "tble"),
        ("e", "scan"), ("t", "tabel"), ("n", "zzzzz")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // insertion: querry → query (df 2, dist 1)
    assert(out(("i", "query")) == (2L, 1L))
    // substitution: scam → scan
    assert(out(("s", "scan")) == (2L, 1L))
    // deletion: tble → table
    assert(out(("d", "table")) == (1L, 1L))
    // exact: scan → scan at dist 0
    assert(out(("e", "scan")) == (2L, 0L))
    // transposition (tabel↔table) is Levenshtein 2: excluded, and the
    // no-match leg is empty — no other pairs survive
    assert(out.size == 4)
  }

  test("Bm25Index.phraseSearch: consecutive-position semantics, " +
    "repeated-token overlap, takedown + compaction equivalence") {
    val docs = Seq(
      (1L, "a b c a b"),   // 'a b' twice, 'a b c' once
      (2L, "b a"),         // reversed order: no 'a b'
      (3L, "a a a"),       // 'a a' overlaps: two matches
      (4L, "c c a b x"))   // 'a b' once at pos 2
      .toDF("doc_id", "text")
    val ph = Seq(("p1", "a b"), ("p2", "a b c"), ("p3", "a a"),
      ("p4", "b x zzz"))
    graft.sources.Bm25Index.write(docs.filter($"doc_id" <= 2),
      "doc_id", "text", "t157")
    graft.sources.Bm25Index.append(docs.filter($"doc_id" > 2),
      "doc_id", "text", "t157")
    def run() = graft.sources.Bm25Index.phraseSearch(spark, "t157", ph)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val out = run()
    Caches.clear()
    assert(out == Map(
      ("p1", 1L) -> (2L, 0L), ("p1", 4L) -> (1L, 2L),
      ("p2", 1L) -> (1L, 0L),
      ("p3", 3L) -> (2L, 0L)), s"$out")
    // takedown + compaction: screen answers must be bit-equal before
    // and after, and each bucketed table nets to one file per bucket
    graft.sources.Bm25Index.delete(docs.filter($"doc_id" === 4L),
      "doc_id", "text", "t157")
    val afterDelete = run()
    Caches.clear()
    assert(!afterDelete.contains(("p1", 4L)), s"$afterDelete")
    graft.sources.Bm25Index.compact(spark, "t157")
    val afterCompact = run()
    Caches.clear()
    assert(afterCompact == afterDelete, "compaction changed answers")
    // compaction landed in the next generation's tables — resolve them
    // through the manifest
    def phys(l: String) =
      graft.sources.Generations.physicalFor(spark, "t157", l)
    for (l <- Seq("postings", "doclens", "positions")) {
      val t = phys(l)
      val files = spark.table(t).inputFiles
      assert(files.length <= graft.sources.Bm25Index.Buckets,
        s"$t has ${files.length} files after compaction")
      // tombstone-cancelled rows physically gone: no w = -1 survives
      // and doc 4's rows left disk
      assert(spark.table(t).filter($"w" < 0).isEmpty, s"$t keeps tombstones")
    }
    assert(spark.table(phys("positions")).filter($"doc_id" === 4L).isEmpty)
    // the stats log nets to a single live row
    val st = spark.table(phys("stats")).collect()
    assert(st.length == 1 && st.head.getLong(0) == 3L, st.mkString(","))
  }

  test("proximitySearch: any-order within-window tuples, over-slop " +
    "excluded, distinct-term contract, multi-tuple counting") {
    val docs = Seq(
      (1L, "a x b"),       // span 2: in-window at win 3
      (2L, "b y y a"),     // reversed, span 3: in-window only at win 4
      (3L, "a y y y b"),   // span 4: outside both windows
      (4L, "a a b"))       // two anchors → two tuples at win 3
      .toDF("doc_id", "text")
    graft.sources.Bm25Index.write(docs, "doc_id", "text", "t167")
    def run(win: Int) = graft.sources.Bm25Index.proximitySearch(
      spark, "t167", Seq(("x1", "a b"), ("x2", "a a"), ("x3", "a zzz")),
      win).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val w3 = run(3)
    Caches.clear()
    assert(w3(("x1", 1L)) == (1L, 0L))
    assert(!w3.contains(("x1", 2L)), "over-slop reversed pair leaked")
    assert(!w3.contains(("x1", 3L)), "span-4 pair leaked at win 3")
    assert(w3(("x1", 4L)) == (2L, 0L), "two anchors = two tuples")
    // "a a" collapses to the distinct term: every occurrence a window
    assert(w3(("x2", 4L)) == (2L, 0L))
    assert(w3(("x2", 2L)) == (1L, 3L))
    assert(!w3.keys.exists(_._1 == "x3"), "never-matching term leaked")
    val w4 = run(4)
    Caches.clear()
    assert(w4(("x1", 2L)) == (1L, 0L), "any-order within win 4 missed")
    assert(!w4.contains(("x1", 3L)), "span-4 pair leaked at win 4")
  }

  test("searchWithProximity: the boost is applied BEFORE the top-k cut " +
    "(a window doc enters k=1 from rank 2) and zero boost degenerates " +
    "to plain search") {
    // doc 2 outscores doc 1 on plain BM25 (tf 3 vs 1 dominates its dl
    // penalty) but has no 2-token window of {a, b}; doc 1 does
    val docs = Seq((1L, "a b"), (2L, "a a a c b b b"))
      .toDF("doc_id", "text")
    graft.sources.Bm25Index.write(docs, "doc_id", "text", "t168")
    val qs = Seq(("q1", "a b"))
    val base = graft.sources.Bm25Index.search(spark, "t168", qs)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val baseTop = graft.sources.Bm25Index.search(spark, "t168", qs, k = 1)
      .collect().map(_.getLong(1)).toSeq
    assert(baseTop == Seq(2L), s"fixture: expected doc 2 on top, $baseTop")
    val boosted = graft.sources.Bm25Index.searchWithProximity(
      spark, "t168", qs, k = 1, win = 2, boostMicro = 500000L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    Caches.clear()
    assert(boosted.map(_._1) == Seq(1L),
      s"boost did not lift the window doc into k=1: $boosted")
    assert(boosted.head._2 == base(1L) + 500000L,
      "boosted score is not base + boostMicro")
    // boost 0: bit-equal to the plain ranker
    val zero = graft.sources.Bm25Index.searchWithProximity(
      spark, "t168", qs, k = 10, win = 2, boostMicro = 0L)
      .collect().toSeq
    val plain = graft.sources.Bm25Index.search(spark, "t168", qs)
      .collect().toSeq
    Caches.clear()
    assert(zero == plain, "zero boost diverged from plain search")
  }

  test("systematicSample: exactly m picks, length-proportional " +
    "multi-pick, parallelism invariance") {
    val docs = Seq(
      (1L, "a b c"), (2L, Seq.fill(50)("t").mkString(" ")), (3L, "x y"),
      (4L, "p q r s"), (5L, "m n"))
      .toDF("doc_id", "text")
    // W = 61, m = 5 → stride 12; every draw places exactly m boundaries
    val out = CorpusOps.systematicSample(docs, "doc_id", "text", 5)
      .collect()
    Caches.clear()
    assert(out.map(_.getLong(3)).sum == 5L, out.mkString(","))
    // the 50-token doc spans ≥ 4 stride-12 boundaries wherever the
    // schedule key lands it — proportional-to-length multi-pick
    val byId = out.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byId(2L) >= 4L, s"$byId")
    // md5-scheduled integer arithmetic: bit-stable under repartition
    val out2 = CorpusOps.systematicSample(docs.repartition(7), "doc_id",
      "text", 5).collect()
    Caches.clear()
    assert(out.toSeq == out2.toSeq)
  }

  test("dsirSelect: target-like raw doc outscores off-target by the " +
    "exact integer ratios; targets never selected; k bounds output") {
    val df = Seq(
      (1L, "good good"),   // target profile
      (11L, "good good"),  // raw, looks like target
      (12L, "bad bad"))    // raw, off-target
      .toDF("doc_id", "text")
    val out = CorpusOps.dsirSelect(df, "doc_id", "text",
      col("doc_id") < 10, k = 100)
      .collect().map(r => r.getLong(0) -> r).toMap
    // bucket(good): tc=2, rc=2 → r = 3e6//3 = 1e6; doc 11 = 2×1e6
    // bucket(bad):  tc=0, rc=2 → r = 1e6//3 = 333333; doc 12 = 666666
    assert(out.keySet == Set(11L, 12L))
    assert(out(11L).getAs[Long]("score") == 2000000L)
    assert(out(12L).getAs[Long]("score") == 666666L)
    assert(out(11L).getAs[Long]("n_tokens") == 2L)
    val top1 = CorpusOps.dsirSelect(df, "doc_id", "text",
      col("doc_id") < 10, k = 1).collect()
    assert(top1.length == 1 && top1.head.getLong(0) == 11L)
  }

  test("substringDedup: cross-doc shared phrase covered exactly, spans " +
    "merge, clean text excises the phrase") {
    // 10-token phrase shared by docs 1/2, embedded in unique contexts:
    // only the windows fully inside the phrase repeat, and their union
    // covers exactly the phrase's 10 positions as ONE span
    val p = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val df = Seq(
      (1L, s"a1 a2 a3 $p b1 b2 b3"),
      (2L, s"c1 c2 c3 $p d1 d2 d3"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")).toDF("doc_id", "text")
    val out = CorpusOps.substringDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") == 16L)
    assert(out(1L).getAs[Long]("dup_tokens") == 10L)
    assert(out(1L).getAs[Long]("n_spans") == 1L)
    assert(out(2L).getAs[Long]("dup_tokens") == 10L)
    assert(out(3L).getAs[Long]("dup_tokens") == 0L)
    val h1 = spark.range(1).select(md5(lit("a1 a2 a3 b1 b2 b3")))
      .head().getString(0)
    assert(out(1L).getAs[String]("clean_hash") == h1)
    val h3 = spark.range(1)
      .select(md5(lit("u1 u2 u3 u4 u5 u6 u7 u8 u9")))
      .head().getString(0)
    assert(out(3L).getAs[String]("clean_hash") == h3)
  }

  test("substringDedup: WITHIN-doc repetition counts (Lee et al. " +
    "dedups intra-doc repeats), and sub-width docs emit no windows") {
    val run = "r1 r2 r3 r4 r5 r6 r7 r8"
    val df = Seq(
      (1L, s"$run x1 x2 x3 $run"),
      (2L, "short doc under width")).toDF("doc_id", "text")
    val out = CorpusOps.substringDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // both occurrences of the 8-token run are covered, as two spans
    assert(out(1L).getAs[Long]("dup_tokens") == 16L)
    assert(out(1L).getAs[Long]("n_spans") == 2L)
    val h1 = spark.range(1).select(md5(lit("x1 x2 x3")))
      .head().getString(0)
    assert(out(1L).getAs[String]("clean_hash") == h1)
    assert(out(2L).getAs[Long]("n_tokens") == 4L)
    assert(out(2L).getAs[Long]("dup_tokens") == 0L)
    val h2 = spark.range(1).select(md5(lit("short doc under width")))
      .head().getString(0)
    assert(out(2L).getAs[String]("clean_hash") == h2)
  }

  test("substringDedup: overlapping duplicate windows merge into one " +
    "maximal span (gaps-and-islands)") {
    // docs share an 11-token run: window starts 1..4 inside the run
    // all repeat; coverage must merge to a single 11-token span
    val run = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11"
    val df = Seq(
      (1L, s"$run t1 t2"),
      (2L, s"$run v1 v2")).toDF("doc_id", "text")
    val out = CorpusOps.substringDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("dup_tokens") == 11L)
    assert(out(1L).getAs[Long]("n_spans") == 1L)
    val h = spark.range(1).select(md5(lit("t1 t2"))).head().getString(0)
    assert(out(1L).getAs[String]("clean_hash") == h)
  }

  test("hllDistinctGate: exact-integer registers, a ±20% verdict that " +
    "holds, and multiplicity-invariance (the mergeable-sketch property)") {
    import spark.implicits._
    val df = (1 to 2000).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b")).toDF("k", "g")
    val out = CorpusOps.hllDistinctGate(df, "k", "g").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 1000L)
      assert(r.getAs[Long]("present_regs") <= 256L)
      assert(r.getAs[Boolean]("hll_ok"), r.toString)
    }
    // duplicate rows must not move a distinct sketch (register maxima
    // are multiplicity-blind) — the property that makes shard-level
    // sketches mergeable by elementwise max
    val doubled = CorpusOps.hllDistinctGate(df.union(df), "k", "g")
      .collect()
    assert(out.map(_.toSeq).toSet == doubled.map(_.toSeq).toSet)
    // null keys are ignored on BOTH legs (sketch and exact)
    val withNull = df.union(Seq((null.asInstanceOf[java.lang.Long],
      "a")).toDF("k", "g").select($"k".cast("long"), $"g"))
    val out3 = CorpusOps.hllDistinctGate(withNull, "k", "g").collect()
    assert(out.map(_.toSeq).toSet == out3.map(_.toSeq).toSet)
  }

  test("hllMergedGate: merging per-group registers by max is EXACTLY " +
    "the union's sketch, and the estimate tracks the de-duplicated " +
    "cardinality") {
    import spark.implicits._
    // two overlapping groups: union 1..2000, overlap 500..1500
    val df = ((1 to 1500).map(i => (i.toLong, "a")) ++
      (500 to 2000).map(i => (i.toLong, "b"))).toDF("k", "g")
    val merged = CorpusOps.hllMergedGate(df, "k", "g").head()
    assert(merged.getAs[Long]("n_exact") == 2000L)
    assert(merged.getAs[Boolean]("hll_ok"), merged.toString)
    // sketching the union DIRECTLY (one group) yields identical
    // registers — merge loses nothing, the mergeability theorem
    val direct = CorpusOps.hllDistinctGate(
      df.withColumn("g", lit("all")), "k", "g").head()
    for (c <- Seq("present_regs", "max_rank", "sum_rank", "s_scaled"))
      assert(merged.getAs[Long](c) == direct.getAs[Long](c), c)
    assert(merged.getAs[Double]("hll_est") ==
      direct.getAs[Double]("hll_est"))
  }

  test("hllSmallRangeGate: below the 2.5m boundary raw reads high and " +
    "linear counting recovers; past it the raw branch holds") {
    import spark.implicits._
    // 30 distinct in group s — deep inside the small-range regime
    // (raw HLL's n→0 limit is ~alpha*m ≈ 180, a 6x overread at n=30);
    // 5000 distinct in group b — far past the 640 boundary
    val df = ((1 to 30).map(i => (i.toLong, "s")) ++
      (1 to 5000).map(i => (100000L + i, "b"))).toDF("k", "g")
    val out = CorpusOps.hllSmallRangeGate(df, "k", "g")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val s = out("s")
    assert(s.getAs[Long]("n_exact") == 30L)
    assert(s.getAs[String]("regime") == "linear")
    // the indictment column: the raw estimate misses the +20% band
    assert(s.getAs[Boolean]("raw_high"), s.toString)
    // …and linear counting m*ln(m/zeros) lands inside it
    assert(s.getAs[Boolean]("est_ok"), s.toString)
    assert(s.getAs[Long]("zero_regs") > 0L)
    val b = out("b")
    assert(b.getAs[Long]("n_exact") == 5000L)
    assert(b.getAs[String]("regime") == "raw")
    assert(b.getAs[Boolean]("est_ok"), b.toString)
    assert(!b.getAs[Boolean]("raw_high"), b.toString)
  }
}
