package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components loop (TextOps.components) driven directly with
  * synthetic edge lists — including the worst-case long path that the
  * LSH near-dup corpus can't produce deterministically.
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def sym(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def run(edges: Seq[(Long, Long)], maxIters: Int): Map[Long, Long] =
    try TextOps.components(sym(edges), maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally Caches.clear()

  test("33-vertex path converges in O(log diameter) rounds (pointer jump)") {
    // plain min-propagation moves the frontier ~2 vertices per round and
    // would need ~16 rounds here — 8 only suffices because each round
    // also pointer-jumps label chains
    val out = run((0L until 32L).map(i => (i, i + 1)), maxIters = 8)
    assert(out.size == 33)
    assert(out.values.forall(_ == 0L), s"non-min labels: $out")
  }

  test("giant component (star + 1024-edge path) converges in ≤ log2(diameter)+3 rounds") {
    // The skew shape boilerplate-heavy web corpora produce: ONE huge
    // near-dup component. 3000-spoke star centered on 0 with a
    // 1024-edge path hanging off spoke 3000 → 4025 vertices, diameter
    // 1026. log2(1026) ≈ 10; the pointer jump must land within +3 of
    // that, where plain propagation would need ~1000 rounds. SCALING.md
    // records the same shape measured at 200k+ vertices.
    val star = (1L to 3000L).map(i => (0L, i))
    val path = (3000L until 4024L).map(i => (i, i + 1))
    val (labelsDf, rounds) =
      TextOps.componentsIters(sym(star ++ path), maxIters = 13)
    val labels =
      try labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally Caches.clear()
    assert(labels.size == 4025)
    assert(labels.values.forall(_ == 0L),
      s"non-min labels: ${labels.filter(_._2 != 0L).take(5)}")
    assert(rounds <= 13, s"took $rounds rounds")
  }

  private def runStars(edges: Seq[(Long, Long)],
                       maxIters: Int): (Map[Long, Long], Int) =
    try {
      val (df, rounds) = TextOps.componentsStarsIters(sym(edges), maxIters)
      (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    } finally Caches.clear()

  test("large-star/small-star: bit-equal labels to min-label " +
    "propagation on every shared fixture") {
    val fixtures = Seq(
      (0L until 32L).map(i => (i, i + 1)),              // long path
      (1L to 50L).map(i => (0L, i)),                    // star
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
        (21L, 22L), (22L, 20L)),                        // disjoint mix
      (0L until 12L).flatMap(i =>
        (i + 1 until 12L).map(j => (i, j))))            // clique
    for (f <- fixtures) {
      val viaProp = run(f, maxIters = 20)
      val (viaStars, _) = runStars(f, maxIters = 20)
      assert(viaStars == viaProp,
        s"stars diverged from propagation on ${f.take(3)}…")
    }
  }

  test("large-star/small-star: the adversarial giant chain+clique " +
    "component converges within O(log n) rounds with min-rooted " +
    "labels — the boilerplate-web shape the fallback exists for") {
    // one giant component: a 2048-edge chain whose tail fans into a
    // 64-clique, plus a 3000-spoke star on the head — 5100+ vertices,
    // diameter > 2000. log2(n) ≈ 12.3; the star alternation must land
    // within a small constant of it, where plain propagation would
    // need thousands of rounds.
    val chain = (0L until 2048L).map(i => (i, i + 1))
    val clique = (2048L until 2112L).flatMap(i =>
      (i + 1 to 2112L).map(j => (i, j)))
    val star = (1L to 3000L).map(i => (0L, 10000L + i))
    val (labels, rounds) =
      runStars(chain ++ clique ++ star, maxIters = 18)
    assert(labels.size == 2113 + 3000)
    assert(labels.values.forall(_ == 0L),
      s"non-min labels: ${labels.filter(_._2 != 0L).take(5)}")
    assert(rounds <= 18, s"took $rounds rounds")
  }

  test("large-star/small-star: non-convergence raises instead of " +
    "returning a half-collapsed edge set") {
    intercept[IllegalArgumentException] {
      runStars((0L until 4096L).map(i => (i, i + 1)), maxIters = 1)
    }
  }

  test("warm-started refresh: hint edges from a previous generation's " +
    "labels are bit-equal to cold and cut the round count on an " +
    "additions-only republish") {
    // gen1: the 1024-edge path alone (its component min is 3000);
    // the republish ADDS the 3000-spoke star on 0 — gen1's pairs all
    // survive, the additions-only contract dupClustersRefresh names
    val path = (3000L until 4024L).map(i => (i, i + 1))
    val star = (1L to 3000L).map(i => (0L, i))
    val (g1Df, _) = TextOps.componentsIters(sym(path), maxIters = 13)
    val g1 = try g1Df.collect().map(r => (r.getLong(0), r.getLong(1)))
      finally Caches.clear()
    assert(g1.forall(_._2 == 3000L))
    val hintEdges = g1.filter { case (d, c) => d != c }
      .map { case (d, c) => (d, c) }
    val (coldDf, rCold) =
      TextOps.componentsIters(sym(star ++ path), maxIters = 13)
    val cold = try coldDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally Caches.clear()
    val (warmDf, rWarm) = TextOps.componentsIters(
      sym(star ++ path ++ hintEdges), maxIters = 13)
    val warm = try warmDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally Caches.clear()
    assert(warm == cold, "warm-started labels diverged from cold")
    assert(cold.values.forall(_ == 0L))
    // gen1's diameter-1026 chain arrives pre-collapsed to a star, so
    // the warm loop only propagates the NEW structure (the one hop
    // star ↔ path): rounds drop from ~log2(diameter) to a constant
    assert(rWarm < rCold,
      s"warm start saved nothing: $rWarm vs $rCold rounds")
    assert(rWarm <= 3, s"warm refresh took $rWarm rounds")
  }

  test("dupClustersRefresh end-to-end: refreshed labels over a grown " +
    "corpus are bit-equal to a cold dupClusters run") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val t2 = "one two three four five six seven eight nine ten " +
      "eleven twelve"
    val docs = Seq(
      (1L, t1), (2L, t1), (3L, t1), // a 3-clique of exact dups
      (4L, t2), (5L, t2),           // a pair
      (6L, "unique text first solitary document body here now " +
        "with padding tokens"),
      (7L, "another unique second solitary document body here " +
        "now with padding"),
      (8L, "third unique solitary document body entirely its own " +
        "tokens here")).toDF("doc_id", "text")
    // gen1 = the corpus before docs 3/7 arrived (additions-only)
    val gen1 = docs.filter(col("doc_id") =!= 3L && col("doc_id") =!= 7L)
    val lab1 = Caches.persistTracked(
      TextOps.dupClusters(gen1, "doc_id", "text"))
    val (warmDf, _) = TextOps.dupClustersRefreshIters(docs, lab1,
      "doc_id", "text", 0.8, 20)
    val warm = try warmDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      finally Caches.clear()
    val cold = try TextOps.dupClusters(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      finally Caches.clear()
    assert(warm.toSeq == cold.toSeq,
      s"refresh diverged: ${warm.toSeq} vs ${cold.toSeq}")
    assert(warm.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 4L, 6L -> 6L, 7L -> 7L, 8L -> 8L))
  }

  test("near-clique components converge in one round, skipping the jump join") {
    // the common near-dup case: the seed (least of self and neighbor
    // min) is already the fixpoint, so round 1 is pure convergence
    // proof and the adaptive jump never runs
    val (labelsDf, rounds) = TextOps.componentsIters(
      sym(Seq((5L, 6L), (6L, 7L), (5L, 7L))), maxIters = 8)
    val labels =
      try labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally Caches.clear()
    assert(labels == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
    assert(rounds == 1, s"expected 1 round, took $rounds")
  }

  test("disjoint components keep separate minima; labels are component mins") {
    val out = run(Seq((10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (21L, 20L),                                         // edge
      (32L, 31L), (31L, 30L)), maxIters = 8)              // short path
    assert(out == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("min-label budget exhaustion auto-falls back to large-star/" +
    "small-star and converges with the component-min labels") {
    // a 16384-edge path needs ~log2(2^14)+3 ≈ 17 pointer-jumped
    // rounds — the adversarial graph that exceeds min-label's budget
    // of 10. The fallback hands the partial labels to the star loop
    // as hint edges (chains already halved 2^10 times, so the
    // residual structure is ~16 hops) and must converge inside the
    // star leg's own 10-round budget with labels bit-equal to a
    // converged run: every vertex at the component min, 0.
    val (labelsDf, rounds) = TextOps.componentsIters(
      sym((0L until 16384L).map(i => (i, i + 1))), maxIters = 10)
    val labels =
      try labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally Caches.clear()
    assert(labels.size == 16385)
    assert(labels.values.forall(_ == 0L),
      s"non-min labels: ${labels.filter(_._2 != 0L).take(5)}")
    assert(rounds > 10,
      s"fallback never engaged — min-label claimed convergence in " +
        s"$rounds rounds")
  }

  test("non-convergence of BOTH algorithms raises instead of emitting " +
    "a half-propagated labeling") {
    // budget 1 exhausts min-label on a 64-path AND the warm star leg
    // (the residual chain still needs several alternations) — the
    // retained backstop for a genuinely pathological bound
    val ex = intercept[IllegalArgumentException] {
      run((0L until 64L).map(i => (i, i + 1)), maxIters = 1)
    }
    assert(ex.getMessage.contains("converge"))
  }
}
