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
    // registry plus Bench.benchOnly's production-hash twins)
    val base = Bench.headline(None)
    assert(base.nonEmpty && base.forall(Bench.benchable.contains))
    // the twins are benchable but NOT registry queries — the driver's
    // oracle surface is untouched by bench-only entries
    assert(Bench.benchOnly.keySet.forall(base.contains))
    assert(Bench.benchOnly.keySet
      .forall(k => !SparkEntry.queries.contains(k)))
  }

  test("bench iteration schedule (r20): anchored history -> 1 draw, " +
    "new rows min-of-N, explicit overrides bypass") {
    val anchor = Map("q_hist" -> 5.0, "q_tiny" -> 0.2)
    def s(n: String, bypass: Boolean = false) =
      Bench.scheduledIters(n, 3, anchor, bypass)
    // any committed floor — including sub-half-second rows — is one
    // draw; the drift-aware retry pass is the safety net
    assert(s("q_hist") == 1)
    assert(s("q_tiny") == 1)
    // no committed history (new row this round): full schedule
    assert(s("q_new") == 3)
    // explicit SPARK_GRAFT_BENCH_ITERS / subset run: the adjudication
    // re-measure case gets exactly the min-of-N it asked for
    assert(s("q_hist", bypass = true) == 3)
  }

  test("bench anchoredMin: per-row min over the last K snapshots, " +
    "not just the newest (the one-draw ratchet guard)") {
    val dir = java.nio.file.Files.createTempDirectory("anchortest").toFile
    def snap(n: Int, body: String) = java.nio.file.Files.writeString(
      dir.toPath.resolve(s"BENCH_OUT_r$n.json"),
      s"""{"queries":$body}""")
    snap(17, """{"q_a":13.0,"q_b":2.0}""")
    snap(18, """{"q_a":13.5,"q_b":1.8}""")
    snap(19, """{"q_a":14.0,"q_b":2.2,"q_err":-1.0}""")
    snap(20, """{"q_a":22.5,"q_b":2.1,"q_new":4.0}""") // cold ratchet draw
    val a = Bench.anchoredMin(dir, k = 4)
    // the r17 warm floor survives the r20 cold draw
    assert(a("q_a") == 13.0 && a("q_b") == 1.8 && a("q_new") == 4.0)
    // errored rows (-1) never anchor
    assert(!a.contains("q_err"))
    // window bound: k=1 sees only the newest snapshot
    assert(Bench.anchoredMin(dir, k = 1)("q_a") == 22.5)
  }

  test("bench rotation (r20): drift-normalized stable rows alternate " +
    "rounds; unstable rows and the drift control always bench") {
    val dir = java.nio.file.Files.createTempDirectory("rottest").toFile
    val stable = Seq("q_a", "q_b", "q_c", "q_d", "q_e")
    def snap(n: Int, drift: Double, jump: Double): Unit = {
      val rows = ("q02_pricing_summary" -> 1.0 * drift) +:
        stable.zipWithIndex.map { case (q, i) => q -> (i + 2.0) * drift } :+
        ("q_jump" -> jump)
      java.nio.file.Files.writeString(
        dir.toPath.resolve(s"BENCH_OUT_r$n.json"),
        rows.map { case (k, v) => s""""$k":$v""" }
          .mkString("""{"queries":{""", ",", "}}"))
    }
    snap(17, 1.0, 1.0)
    snap(18, 1.2, 8.0) // box drift moves everything together...
    snap(19, 2.0, 1.8) // ...while q_jump moves on its own
    snap(20, 2.5, 10.0)
    val skips = Bench.rotationSkips(dir, 4)
    // the jumpy row and the q02 control never rotate out
    assert(!skips.contains("q_jump"))
    assert(!skips.contains("q02_pricing_summary"))
    // stable rows skip exactly the half whose name-hash parity
    // matches the upcoming snapshot round (21)
    assert(skips == stable.filter(q => (q.## & 1) == (21 & 1)).toSet)
    // under 3 committed snapshots: no rotation at all
    val thin = java.nio.file.Files.createTempDirectory("rotthin").toFile
    java.nio.file.Files.writeString(
      thin.toPath.resolve("BENCH_OUT_r20.json"),
      """{"queries":{"q_a":1.0}}""")
    assert(Bench.rotationSkips(thin, 4).isEmpty)
  }

  test("benchdiff r20: drift normalization and one-draw stricter gate") {
    import graft.tools.BenchDiff
    val prev = """{"queries":{"q_a":10.0,"q_b":1.0,"q_c":1.0},"box_drift":1.0}"""
    // box drifted 1.5x uniformly: q_a at 1.5x raw is NOT a plan
    // regression once normalized; q_b at 3.0x raw (2.0x normalized,
    // 3 draws) flags; q_c at 2.1x raw (1.4x normalized) with ONE draw
    // stays under the stricter 1.6x one-draw gate
    val curr = """{"queries":{"q_a":15.0,"q_b":3.0,"q_c":2.1},""" +
      """"spread_pct":{},"draws":{"q_a":1,"q_b":3,"q_c":1},"box_drift":1.5}"""
    val f = BenchDiff.flag(prev, curr, ratioGate = 1.3, spreadGate = 50.0)
    assert(f.map(_.name) == Seq("q_b"))
    assert(math.abs(f.head.normRatio - 2.0) < 0.01 && f.head.draws == 3)
    // same curr WITHOUT box_drift fields: raw ratios rule, q_a (1.5x,
    // 1 draw) still under 1.6x, q_c (2.1x raw, 1 draw) now flags
    val prevNoDrift = """{"queries":{"q_a":10.0,"q_b":1.0,"q_c":1.0}}"""
    val currNoDrift = curr.replace(""","box_drift":1.5""", "")
    val f2 = BenchDiff.flag(prevNoDrift, currNoDrift, 1.3, 50.0)
    assert(f2.map(_.name) == Seq("q_b", "q_c"))
    // RECOVERED box (prev drifted 2x, curr clean): the ratio is
    // CLAMPED at 1 — published values are floor-seeking mins that
    // don't scale with box_drift, so unchanged rows (raw ~1.0) must
    // not inflate to 2x and mass-flag a clean round
    val prevDrifted =
      """{"queries":{"q_a":10.0,"q_b":1.0},"box_drift":2.0}"""
    val currClean = """{"queries":{"q_a":10.1,"q_b":1.05},""" +
      """"spread_pct":{},"draws":{"q_a":1,"q_b":3},"box_drift":1.0}"""
    assert(BenchDiff.flag(prevDrifted, currClean, 1.3, 50.0).isEmpty)
  }

  test("benchdiff r21: drift basis is the MIN of box/self/probe — a " +
    "uniform plan regression cannot forgive itself through the " +
    "fleet-derived bases") {
    import graft.tools.BenchDiff
    // every fleet row slowed 2x by a code change; the code-independent
    // probe row says the box is CLEAN. box_drift (draw/floor median)
    // also reads 2.0 — the r20 blind spot. The min picks the probe's
    // 1.0 and all three rows flag.
    val prev = """{"queries":{"q00x_drift_probe":2.0,"q_a":10.0,""" +
      """"q_b":4.0,"q_c":6.0},"box_drift":1.0}"""
    val curr = """{"queries":{"q00x_drift_probe":2.0,"q_a":20.0,""" +
      """"q_b":8.0,"q_c":12.0},"spread_pct":{},""" +
      """"draws":{"q_a":3,"q_b":3,"q_c":3},"box_drift":2.0}"""
    val bases = BenchDiff.driftBases(prev, curr)
    assert(bases("probe") == 1.0 && bases("box") == 2.0)
    assert(math.abs(bases("self") - 2.0) < 0.01)
    val f = BenchDiff.flag(prev, curr, 1.3, 50.0)
    assert(f.map(_.name) == Seq("q_a", "q_b", "q_c"))
    // genuine box drift: probe AND fleet both 2x — normalized clean
    val currDrift = """{"queries":{"q00x_drift_probe":4.0,"q_a":20.0,""" +
      """"q_b":8.0,"q_c":12.0},"spread_pct":{},""" +
      """"draws":{"q_a":3,"q_b":3,"q_c":3},"box_drift":2.0}"""
    assert(BenchDiff.flag(prev, currDrift, 1.3, 50.0).isEmpty)
  }

  test("benchdiff r22: the CPU probe leg is a fourth basis and never " +
    "rotates out; min-normalization stays most-flagging") {
    import graft.tools.BenchDiff
    // shuffle leg 1.5x, CPU leg 1.0 (the r21 driver-box shape): the
    // min picks 1.0, so CPU-bound fleet rows that grew still flag
    val prev = """{"queries":{"q00x_drift_probe":2.0,""" +
      """"q00y_drift_probe_cpu":1.5,"q_cpu":4.0},"box_drift":1.0}"""
    val curr = """{"queries":{"q00x_drift_probe":3.0,""" +
      """"q00y_drift_probe_cpu":1.5,"q_cpu":8.0},"spread_pct":{},""" +
      """"draws":{"q_cpu":3},"box_drift":1.5}"""
    val bases = BenchDiff.driftBases(prev, curr)
    assert(bases("probe") == 1.5 && bases("probe_cpu") == 1.0)
    // the shuffle probe row itself flags too (1.5x raw over the 1.0
    // min basis) — by design: a probe that moved is exactly what
    // adjudication must see
    assert(BenchDiff.flag(prev, curr, 1.3, 50.0).map(_.name) ==
      Seq("q00x_drift_probe", "q_cpu"))
    // both probe rows are rotation-exempt like q00x
    val dir = java.nio.file.Files.createTempDirectory("rotprobe2").toFile
    (17 to 20).foreach { n =>
      java.nio.file.Files.writeString(
        dir.toPath.resolve(s"BENCH_OUT_r$n.json"),
        """{"queries":{"q00y_drift_probe_cpu":1.0,"q_pad":2.0,""" +
          s""""q_pad$n":1.0}}""")
    }
    assert(!Bench.rotationSkips(dir, 4).contains("q00y_drift_probe_cpu"))
  }

  test("benchdiff r21: sub-second rows flag on absolute excess only — " +
    "ratio noise on a <1 s floor is JVM/page-cache state, not plan") {
    import graft.tools.BenchDiff
    // q_tiny triples (0.3 -> 0.9 s) but grows only 0.6 s absolute: no
    // flag even at 3x; q_tiny2 grows 0.4 -> 2.0 s (1.6 s absolute):
    // flags. Both publish wild spreads — spread is not consulted for
    // sub-second rows (r20 published 24,971% spreads on such rows).
    val prev = """{"queries":{"q_tiny":0.3,"q_tiny2":0.4},"box_drift":1.0}"""
    val curr = """{"queries":{"q_tiny":0.9,"q_tiny2":2.0},""" +
      """"spread_pct":{"q_tiny":24971.0,"q_tiny2":21335.0},""" +
      """"draws":{"q_tiny":3,"q_tiny2":3},"box_drift":1.0}"""
    val f = BenchDiff.flag(prev, curr, 1.3, 50.0)
    assert(f.map(_.name) == Seq("q_tiny2"))
  }

  test("bench r21: the drift probe never rotates out; run token " +
    "carries the git revision") {
    // rotationSkips' always-bench exemption extends to the probe row
    val dir = java.nio.file.Files.createTempDirectory("rotprobe").toFile
    def snap(n: Int): Unit =
      java.nio.file.Files.writeString(
        dir.toPath.resolve(s"BENCH_OUT_r$n.json"),
        """{"queries":{"q00x_drift_probe":1.0,"q_pad":2.0,""" +
          s""""q_pad$n":1.0}}""")
    (17 to 20).foreach(snap)
    val skips = Bench.rotationSkips(dir, 4)
    assert(!skips.contains("q00x_drift_probe"))
    // this working tree is a git repo: the token must resolve to a
    // 12-hex revision so cross-revision parts refuse to merge
    val tok = Bench.gitHeadToken()
    assert(tok.length == 12 && tok.forall(c =>
      c.isDigit || ('a' to 'f').contains(c)), s"got '$tok'")
    // worktree layout (r21 review fix): .git is a gitdir-POINTER file
    // and refs live in the commondir — synthesized FS fixture, no git
    // binary needed
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

  test("bench part slice: interleaved, disjoint, covering, loud on junk") {
    val names = ('a' to 'g').map(_.toString)
    val p1 = Bench.partSlice(names, 1, 2)
    val p2 = Bench.partSlice(names, 2, 2)
    // interleave: heavy rows scattered across parts, not front-loaded
    assert(p1 == Seq("a", "c", "e", "g") && p2 == Seq("b", "d", "f"))
    // disjoint cover of the input
    assert((p1 ++ p2).sorted == names.sorted)
    // 1/1 is the identity — a driver can wire the part env unconditionally
    assert(Bench.partSlice(names, 1, 1) == names)
    intercept[IllegalArgumentException](Bench.partSlice(names, 3, 2))
    intercept[IllegalArgumentException](Bench.partSlice(names, 0, 2))
  }

  test("bench listOf extracts error arrays; newestSnapshot picks max round") {
    assert(Bench.listOf("""{"errors":["q1","q2"],"x":1}""", "errors") ==
      Seq("q1", "q2"))
    assert(Bench.listOf("""{"errors":[],"x":1}""", "errors").isEmpty)
    assert(Bench.listOf("""{"x":1}""", "errors").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("snaptest").toFile
    assert(Bench.newestSnapshot(dir).isEmpty)
    java.nio.file.Files.writeString(dir.toPath.resolve("BENCH_OUT_r3.json"), "{}")
    java.nio.file.Files.writeString(dir.toPath.resolve("BENCH_OUT_r12.json"), "{}")
    assert(Bench.newestSnapshot(dir) == Some((12, "BENCH_OUT_r12.json")))
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
