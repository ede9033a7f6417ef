package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: the flagship composed pipeline (standardize → quality → merge)
  * produces rows on the sf0.001 fixtures — the same check the driver runs.
  */
class EntrySpec extends AnyFunSuite {
  test("bench subset: registry names pass through, typos fail naming the entry") {
    // a valid subset benches exactly what was asked — including registry
    // queries outside the default headline (q03 is not a headline query)
    assert(Bench.headline(Some("q36_minhash_lsh,q03_filter_project")) ==
      Seq("q36_minhash_lsh", "q03_filter_project"))
    // a typo must fail loudly (not an empty rc-0 bench run) and name the
    // unmatched entry
    val e = intercept[IllegalArgumentException] {
      Bench.headline(Some("q36_minhash_lsh,q99_nope"))
    }
    assert(e.getMessage.contains("q99_nope"))
    // no subset → the default headline, every name benchable (the
    // registry plus Bench.benchOnly's two drift probes)
    val base = Bench.headline(None)
    assert(base.nonEmpty && base.forall(Bench.benchable.contains))
    // the probes are benchable but NOT registry queries — the driver's
    // oracle surface is untouched by bench-only entries
    assert(Bench.benchOnly.keySet ==
      Set("q00x_drift_probe", "q00y_drift_probe_cpu"))
    assert(Bench.benchOnly.keySet.forall(base.contains))
    assert(Bench.benchOnly.keySet
      .forall(k => !SparkEntry.queries.contains(k)))
  }

  test("bench headline: the default set is BENCH_BASELINE.json's rows, " +
    "in order") {
    // BenchDiff compares a run against the committed baseline row by
    // row, so a change to the headline set must update that file too
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_BASELINE.json")), "UTF-8")
    val start = json.indexOf('{', json.indexOf("\"queries\""))
    val rows = "\"([^\"]+)\"\\s*:".r
      .findAllMatchIn(json.substring(start + 1, json.indexOf('}', start)))
      .map(_.group(1)).toSeq
    assert(rows.size == 144)
    assert(Bench.headline(None) == rows)
  }

  test("benchdiff r20: drift normalization and one-draw stricter gate") {
    import graft.tools.BenchDiff
    // the probe row is unchanged, so the drift basis is 1.0 and raw
    // ratios rule: in a ONE-draw run q_a (1.5x) stays under the
    // stricter 1.6x gate while q_b (3.0x) and q_c (2.1x) flag
    val prev = """{"queries":{"q00x_drift_probe":2.0,"q_a":10.0,""" +
      """"q_b":1.0,"q_c":1.0}}"""
    def curr(iters: Int) = """{"queries":{"q00x_drift_probe":2.0,""" +
      """"q_a":15.0,"q_b":3.0,"q_c":2.1},"spread_pct":{},""" +
      s""""iters":$iters}"""
    val f = BenchDiff.flag(prev, curr(1), 1.3, 50.0)
    assert(f.map(_.name) == Seq("q_b", "q_c"))
    assert(f.forall(_.draws == 1))
    // the same rows at three draws use the 1.3x gate: q_a flags too
    assert(BenchDiff.flag(prev, curr(3), 1.3, 50.0).map(_.name) ==
      Seq("q_a", "q_b", "q_c"))
    // RECOVERED host (prev slow, curr fast): the basis is CLAMPED at 1
    // — published values are floor-seeking mins that don't scale
    // below their floors, so an unchanged row (q_c, 1.07x raw) must
    // not inflate to 2x against the 0.525 fleet median and flag
    val prevSlow = """{"queries":{"q_a":20.0,"q_b":2.0,"q_c":1.5}}"""
    val currFast = """{"queries":{"q_a":10.1,"q_b":1.05,"q_c":1.6},""" +
      """"spread_pct":{},"iters":3}"""
    assert(BenchDiff.driftBases(prevSlow, currFast)("self") == 1.0)
    assert(BenchDiff.flag(prevSlow, currFast, 1.3, 50.0).isEmpty)
  }

  test("benchdiff r21: drift basis is the MIN of box/self/probe — a " +
    "uniform plan regression cannot forgive itself through the " +
    "fleet-derived bases") {
    import graft.tools.BenchDiff
    // every fleet row slowed 2x by a code change; the code-independent
    // probe row says the host is CLEAN. The min picks the probe's 1.0
    // and all three rows flag.
    val prev = """{"queries":{"q00x_drift_probe":2.0,"q_a":10.0,""" +
      """"q_b":4.0,"q_c":6.0}}"""
    val curr = """{"queries":{"q00x_drift_probe":2.0,"q_a":20.0,""" +
      """"q_b":8.0,"q_c":12.0},"spread_pct":{},"iters":3}"""
    val bases = BenchDiff.driftBases(prev, curr)
    assert(bases("probe") == 1.0)
    assert(math.abs(bases("self") - 2.0) < 0.01)
    val f = BenchDiff.flag(prev, curr, 1.3, 50.0)
    assert(f.map(_.name) == Seq("q_a", "q_b", "q_c"))
    // genuine host drift: probe AND fleet both 2x — normalized clean
    val currDrift = """{"queries":{"q00x_drift_probe":4.0,"q_a":20.0,""" +
      """"q_b":8.0,"q_c":12.0},"spread_pct":{},"iters":3}"""
    assert(BenchDiff.flag(prev, currDrift, 1.3, 50.0).isEmpty)
  }

  test("benchdiff r22: the CPU probe leg is a fourth basis and never " +
    "rotates out; min-normalization stays most-flagging") {
    import graft.tools.BenchDiff
    // shuffle leg 1.5x, CPU leg 1.0: the min picks 1.0, so CPU-bound
    // fleet rows that grew still flag
    val prev = """{"queries":{"q00x_drift_probe":2.0,""" +
      """"q00y_drift_probe_cpu":1.5,"q_cpu":4.0}}"""
    val curr = """{"queries":{"q00x_drift_probe":3.0,""" +
      """"q00y_drift_probe_cpu":1.5,"q_cpu":8.0},"spread_pct":{},""" +
      """"iters":3}"""
    val bases = BenchDiff.driftBases(prev, curr)
    assert(bases("probe") == 1.5 && bases("probe_cpu") == 1.0)
    // the shuffle probe row itself flags too (1.5x raw over the 1.0
    // min basis) — by design: a probe that moved is exactly what
    // adjudication must see
    assert(BenchDiff.flag(prev, curr, 1.3, 50.0).map(_.name) ==
      Seq("q00x_drift_probe", "q_cpu"))
  }

  test("benchdiff r21: sub-second rows flag on absolute excess only — " +
    "ratio noise on a <1 s floor is JVM/page-cache state, not plan") {
    import graft.tools.BenchDiff
    // q_tiny triples (0.3 -> 0.9 s) but grows only 0.6 s absolute: no
    // flag even at 3x; q_tiny2 grows 0.4 -> 2.0 s (1.6 s absolute):
    // flags. Both publish wild spreads — spread is not consulted for
    // sub-second rows. The unchanged probe row holds the basis at 1.0.
    val prev = """{"queries":{"q00x_drift_probe":2.0,"q_tiny":0.3,""" +
      """"q_tiny2":0.4}}"""
    val curr = """{"queries":{"q00x_drift_probe":2.0,"q_tiny":0.9,""" +
      """"q_tiny2":2.0},"spread_pct":{"q_tiny":24971.0,""" +
      """"q_tiny2":21335.0},"iters":3}"""
    val f = BenchDiff.flag(prev, curr, 1.3, 50.0)
    assert(f.map(_.name) == Seq("q_tiny2"))
  }

  test("benchdiff refuses runs under different conditions and unstamped " +
    "files; a different git_head alone is comparable") {
    import graft.tools.BenchDiff
    def run(cpus: Int, head: String) =
      """{"queries":{"q_a":1.0},"iters":3,"conditions":{"cpus":""" +
        s"""$cpus,"host_cpus":4,"sf":"/d/sf0.1","java.version":"17",""" +
        s""""spark.version":"4.0.0","iters":3,"git_head":"$head"}}"""
    assert(BenchDiff.refusal(run(4, "aaa"), run(4, "bbb")).isEmpty)
    val cross = BenchDiff.refusal(run(32, "aaa"), run(8, "aaa"))
    assert(cross.exists(_.contains("cpus")), cross)
    val unstamped = """{"queries":{"q_a":1.0},"iters":3}"""
    assert(BenchDiff.refusal(unstamped, run(4, "aaa"))
      .exists(_.contains("prev")))
    assert(BenchDiff.refusal(run(4, "aaa"), unstamped)
      .exists(_.contains("curr")))
    // a condition present on one side only is a difference too
    assert(BenchDiff.refusal(run(4, "aaa"),
      run(4, "aaa").replace(""""host_cpus":4,""", ""))
      .exists(_.contains("host_cpus")))
  }

  test("bench report: the file carries the conditions and iters == Draws; " +
    "the stdout line keeps the metric contract") {
    import graft.tools.BenchDiff
    val conds = Bench.conditions(4, "/d/sf0.1", "4.0.0", "0123456789ab")
    val (line, file) = Bench.report(
      Seq("q_a" -> Seq.fill(Bench.Draws)(2.0), "q_err" -> Seq(-1.0)),
      Seq("q_err"), "/d/sf0.1", conds)
    val c = BenchDiff.conditionsOf(file).get
    assert(c.keySet == Set("cpus", "host_cpus", "sf", "java.version",
      "spark.version", "iters", "git_head"))
    assert(c("cpus") == "4" && c("git_head") == "\"0123456789ab\"")
    assert(c("iters").toInt == Bench.Draws)
    assert(BenchDiff.scalarOf(file, "iters").contains(Bench.Draws.toDouble))
    // the stdout line: the metric fields, no conditions
    for (k <- Seq("metric", "value", "unit", "queries", "spread_pct",
        "spread_min_pct", "iters", "errors", "sf"))
      assert(line.contains("\"" + k + "\":"), k)
    assert(BenchDiff.conditionsOf(line).isEmpty)
    assert(BenchDiff.mapOf(line, "queries") ==
      Map("q_a" -> 2.0, "q_err" -> -1.0))
    assert(line.contains("\"errors\":[\"q_err\"]"))
    // a run diffs against itself with nothing flagged
    assert(BenchDiff.refusal(file, file).isEmpty)
    assert(BenchDiff.flag(file, file, 1.3, 50.0).isEmpty)
  }

  test("bench gitHeadToken: the 12-hex revision, in a clone and in a " +
    "worktree layout") {
    // this working tree is a git repo: the token must resolve to a
    // 12-hex revision
    val tok = Bench.gitHeadToken()
    assert(tok.length == 12 && tok.forall(c =>
      c.isDigit || ('a' to 'f').contains(c)), s"got '$tok'")
    // worktree layout: .git is a gitdir-POINTER file and refs live in
    // the commondir — synthesized FS fixture, no git binary needed
    val wt = java.nio.file.Files.createTempDirectory("wtTok")
    val gd = java.nio.file.Files.createTempDirectory("wtGitdir")
    val common = java.nio.file.Files.createTempDirectory("wtCommon")
    java.nio.file.Files.createDirectories(
      common.resolve("refs/heads"))
    java.nio.file.Files.writeString(common.resolve("refs/heads/main"),
      "0123456789abcdef0123456789abcdef01234567\n")
    java.nio.file.Files.writeString(gd.resolve("HEAD"),
      "ref: refs/heads/main\n")
    java.nio.file.Files.writeString(gd.resolve("commondir"),
      common.toString + "\n")
    java.nio.file.Files.writeString(wt.resolve(".git"),
      s"gitdir: $gd\n")
    assert(Bench.gitHeadToken(wt.toFile) == "0123456789ab")
    // detached HEAD in the same layout
    java.nio.file.Files.writeString(gd.resolve("HEAD"),
      "fedcba9876543210fedcba9876543210fedcba98\n")
    assert(Bench.gitHeadToken(wt.toFile) == "fedcba987654")
  }

  test("bench SPARK_GRAFT_SF_DIR: a missing directory fails up front " +
    "naming the variable and the path") {
    val missing = "/nonexistent/graft-sf"
    val e = intercept[IllegalArgumentException](Bench.checkSfDir(missing))
    assert(e.getMessage.contains("SPARK_GRAFT_SF_DIR"), e.getMessage)
    assert(e.getMessage.contains(missing), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("sfdir").toString
    assert(Bench.checkSfDir(dir) == dir)
  }

  test("registry/oracle alignment: every query carries oracle SQL, no " +
    "orphan oracles, numbering gap-free") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    // a missing oracle silently downgrades the driver gate to a
    // rows-only check — make the omission loud instead
    assert((q -- o).isEmpty, s"queries without oracles: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
    val nums = q.map(_.drop(1).takeWhile(_.isDigit).toInt)
    assert(nums == (1 to nums.max).toSet,
      s"query numbering has gaps: missing ${(1 to nums.max).toSet -- nums}")
  }

  test("positive-integer env knobs: unset takes the default, junk and " +
    "non-positive values fail naming the variable and the value") {
    def read(env: Map[String, String]) =
      GraftSession.positiveIntEnv("SPARK_GRAFT_CPUS", 32, env)
    assert(read(Map.empty) == 32)
    assert(read(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    for (bad <- Seq("0", "abc")) {
      val e = intercept[IllegalArgumentException] {
        read(Map("SPARK_GRAFT_CPUS" -> bad))
      }
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("entry returns non-empty summary") {
    val rows = SparkEntry.entry(SparkTestSession.spark).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) > 0))
  }
}
