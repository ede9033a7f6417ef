package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Known-answer + invariance tests for the fixed-point PageRank and
  * the deterministic label propagation, and the join-shape pins the
  * PlanSweepSpec exclusions point at (q143/q148 execute eager
  * per-round checkpoints, so the inventory-wide sweep skips them and
  * this spec owns their plan posture).
  */
class GraphSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val S = 1000000000000L

  test("symmetric two-node graph is an exact fixed point at scale/2") {
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    val out = Graph.pageRank(nodes, edges, iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.clear()
    // r0 = S/2; in = S/2; rank' = 0.15*S/2 + 0.85*S/2 = S/2 exactly
    assert(out("a") == S / 2 && out("b") == S / 2)
  }

  /** Both per-round join strategies: broadcast state and shuffle state
    * (the [[Graph.BcastMaxN]] gate's two arms). */
  private val bothArms = Seq(Long.MaxValue, 0L)

  private def ranks(nodes: Seq[String], edges: Seq[(String, String, Long)],
                    iters: Int, maxN: Long): Map[String, Long] = {
    val out = Graph.pageRank(nodes.toDF("node"),
        edges.toDF("src", "dst", "w"), iters = iters, bcastMaxN = maxN)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.clear()
    out
  }

  test("dangling redistribution: one-iteration hand computation") {
    // a -> b, b dangling. dang = S/2, dshare = S/4, base = 0.15*S/2
    val base = ((S * 15) / 100) / 2
    for (maxN <- bothArms) {
      val out = ranks(Seq("a", "b"), Seq(("a", "b", 1L)), 1, maxN)
      assert(out("a") == base + (85L * (S / 4)) / 100, s"maxN=$maxN")
      assert(out("b") == base + (85L * (S / 2 + S / 4)) / 100,
        s"maxN=$maxN")
      // no mass created: floors only ever lose
      assert(out("a") + out("b") <= S)
      assert(out("a") + out("b") >= S - 10)
    }
  }

  test("dangling known answers: hand-derived integer ranks for 1 and 2 " +
    "rounds on both arms") {
    // a -> b (w=3), a -> c (w=1); b and c dangling. n = 3, base =
    // (0.15*S)/3 = 5e10, r0 = S/3 = 333,333,333,333 each. Round 1:
    // in(b) = (r0*3) div 4, in(c) = r0 div 4, dshare = (r0+r0) div 3,
    // rank = base + (85 * (in + dshare)) div 100 — every floor matters
    val nodes = Seq("a", "b", "c")
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L))
    val expected = Map(
      1 -> Map("a" -> 238888888888L, "b" -> 451388888887L,
        "c" -> 309722222221L),
      2 -> Map("a" -> 265648148146L, "b" -> 417939814812L,
        "c" -> 316412037035L))
    for (maxN <- bothArms; (iters, want) <- expected)
      assert(ranks(nodes, edges, iters, maxN) == want,
        s"iters=$iters maxN=$maxN")
  }

  test("weights shift mass: heavier edge's target outranks, and total " +
    "mass is conserved up to floor losses") {
    val nodes = Seq("a", "b", "c").toDF("node")
    // a splits 3:1 between b and c; b and c return everything to a
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L)).toDF("src", "dst", "w")
    val out = Graph.pageRank(nodes, edges, iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.clear()
    assert(out("b") > out("c"))
    assert(out("a") > out("b"))
    val total = out.values.sum
    assert(total <= S && total >= S - 1000L)
  }

  test("rank is parallelism-invariant: 1-partition and 7-partition " +
    "edge layouts produce identical longs") {
    val nodes = (1 to 40).map(i => s"n$i").toDF("node")
    val edges = (1 to 40).flatMap { i =>
      Seq((s"n$i", s"n${i % 40 + 1}", 1L + i % 3),
        (s"n$i", s"n${(i * 7) % 40 + 1}", 1L))
    }.toDF("src", "dst", "w")
    val r1 = Graph.pageRank(nodes, edges.repartition(1), iters = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    val r7 = Graph.pageRank(nodes, edges.repartition(7), iters = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    assert(r1.sameElements(r7))
  }

  test("per-round plan: no cartesian; the only nested loop is the " +
    "single-row dangling broadcast (the PlanSweepSpec exclusion's pin)") {
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    val plan = Graph.pageRank(nodes, edges, iters = 1)
      .queryExecution.executedPlan.toString
    Caches.clear()
    assert(!plan.contains("CartesianProduct"))
    // the q73 posture: exactly ONE nested loop, and it is the
    // broadcast of the 1-row dangling aggregate — never a data×data
    // pairing (its build side plans directly under a HashAggregate)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1)
    // the rank-carrying joins are hash joins
    assert(plan.contains("BroadcastHashJoin")
      || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"))
  }

  test("labelProp one round: heaviest in-label wins, no-in-edge nodes " +
    "keep their own label") {
    val nodes = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("a", "c", 2L), ("b", "c", 3L)).toDF("src", "dst", "w")
    val out = Graph.labelProp(nodes, edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Caches.clear()
    assert(out == Map("a" -> "a", "b" -> "b", "c" -> "b"))
  }

  test("labelProp tie-break: equal weights resolve to the MIN label") {
    val nodes = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("a", "c", 2L), ("b", "c", 2L)).toDF("src", "dst", "w")
    val out = Graph.labelProp(nodes, edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Caches.clear()
    assert(out("c") == "a")
  }

  test("labelProp propagates transitively: a chain's head label reaches " +
    "the tail in path-length rounds") {
    val nodes = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "w")
    val out = Graph.labelProp(nodes, edges, iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Caches.clear()
    // r1: b <- a, c <- b; r2: c <- (b's r1 label) = a
    assert(out("a") == "a" && out("b") == "a" && out("c") == "a")
  }

  test("labelProp is parallelism-invariant") {
    val nodes = (1 to 40).map(i => s"n$i").toDF("node")
    val edges = (1 to 40).flatMap { i =>
      Seq((s"n$i", s"n${i % 40 + 1}", 1L + i % 3),
        (s"n$i", s"n${(i * 7) % 40 + 1}", 1L))
    }.toDF("src", "dst", "w")
    val r1 = Graph.labelProp(nodes, edges.repartition(1), iters = 5)
      .collect().map(r => (r.getString(0), r.getString(1)))
    Caches.clear()
    val r7 = Graph.labelProp(nodes, edges.repartition(7), iters = 5)
      .collect().map(r => (r.getString(0), r.getString(1)))
    Caches.clear()
    assert(r1.sameElements(r7))
  }

  test("labelProp per-round plan: no cartesian, no nested loop; the " +
    "top-1 rank is a bounded window (the PlanSweepSpec exclusion's pin)") {
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    val plan = Graph.labelProp(nodes, edges, iters = 1)
      .queryExecution.executedPlan.toString
    Caches.clear()
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // rn===1 must prune map-side, not rank everything then filter
    assert(plan.contains("WindowGroupLimit"))
  }

  test("broadcast-state and shuffle-state arms are bit-equal (the r21 " +
    "BcastMaxN gate: join strategy must never change integer ranks or " +
    "labels — the graph-ab probe's correctness pin)") {
    val nodes = (1 to 40).map(i => s"n$i").toDF("node")
    val edges = (1 to 40).flatMap { i =>
      Seq((s"n$i", s"n${i % 40 + 1}", 1L + i % 3),
        (s"n$i", s"n${(i * 7) % 40 + 1}", 1L))
    }.toDF("src", "dst", "w")
    val prB = Graph.pageRank(nodes, edges, iters = 5,
      bcastMaxN = Long.MaxValue).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    val prS = Graph.pageRank(nodes, edges, iters = 5, bcastMaxN = 0L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    assert(prB.sameElements(prS))
    val lpB = Graph.labelProp(nodes, edges, iters = 5,
      bcastMaxN = Long.MaxValue).collect()
      .map(r => (r.getString(0), r.getString(1)))
    Caches.clear()
    val lpS = Graph.labelProp(nodes, edges, iters = 5, bcastMaxN = 0L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    Caches.clear()
    assert(lpB.sameElements(lpS))
  }

  test("state squeeze width is bit-equal on both arms: default vs one " +
    "row per partition") {
    // the n/m-derived narrow coalesce of checkpoints and bcast-arm edge
    // scans only merges partitions
    val nodes = (1 to 40).map(i => s"n$i").toDF("node")
    val edges = (1 to 40).flatMap { i =>
      Seq((s"n$i", s"n${i % 40 + 1}", 1L + i % 3),
        (s"n$i", s"n${(i * 7) % 40 + 1}", 1L))
    }.toDF("src", "dst", "w")
    for (maxN <- bothArms) {
      val prDefault = Graph.pageRank(nodes, edges, iters = 5,
        bcastMaxN = maxN, stateRowsPerPart = Graph.StateRowsPerPart)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      Caches.clear()
      val prWide = Graph.pageRank(nodes, edges, iters = 5,
        bcastMaxN = maxN, stateRowsPerPart = 1L)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      Caches.clear()
      assert(prDefault.sameElements(prWide), s"pageRank maxN=$maxN")
      val lpDefault = Graph.labelProp(nodes, edges, iters = 5,
        bcastMaxN = maxN, stateRowsPerPart = Graph.StateRowsPerPart)
        .collect().map(r => (r.getString(0), r.getString(1)))
      Caches.clear()
      val lpWide = Graph.labelProp(nodes, edges, iters = 5,
        bcastMaxN = maxN, stateRowsPerPart = 1L)
        .collect().map(r => (r.getString(0), r.getString(1)))
      Caches.clear()
      assert(lpDefault.sameElements(lpWide), s"labelProp maxN=$maxN")
    }
  }

  test("broadcast-state per-round plan: under the gate the state joins " +
    "go broadcast-hash and the round plans strictly fewer Exchanges " +
    "(r21 graph-ab plan pin)") {
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    // auto-broadcast OFF for the pin: on a tiny fixture the planner
    // broadcasts everything from known stats and both arms look alike
    // — the gate's contract is that the state side goes broadcast even
    // when the planner CANNOT see it is small (a localCheckpoint on a
    // real corpus), which only the explicit hint guarantees
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    // one state row per partition for the pin: this test isolates the
    // BcastMaxN join-strategy contract, and at the default width the
    // state squeeze independently removes the shuffle arm's state-side
    // exchange on a fixture this small (coalesce(1) → SinglePartition
    // survives the checkpoint), which would equalize the raw exchange
    // counts; at two partitions the state keeps unknown partitioning
    def planOf(maxN: Long): SparkPlan = {
      val p = Graph.pageRank(nodes, edges, iters = 1, bcastMaxN = maxN,
          stateRowsPerPart = 1L)
        .queryExecution.executedPlan
      Caches.clear()
      p
    }
    val (planB, planS) =
      try {
        spark.conf.set(thresholdKey, "-1")
        (planOf(Long.MaxValue), planOf(0L))
      } finally spark.conf.set(thresholdKey, saved)
    // the round's own shuffle operators, walked through the adaptive
    // wrapper but not into cached relations: a persisted frame's plan
    // runs once at setup, and once materialized (the broadcast arm
    // counts its edge frame) its text prints both the initial and the
    // final adaptive plan, so a text count would weigh setup, not rounds
    def exchanges(p: SparkPlan): Int =
      collect(p) { case x: ShuffleExchangeLike => x }.size
    // the contribution join goes broadcast-hash (edge side streams,
    // no exchange, no sort); the in-carry join deliberately stays on
    // the shuffle path (broadcasting the aggregate output serializes
    // it through a driver collect — the graph-ab measurement)
    assert(planB.toString.contains("BroadcastHashJoin"))
    assert(exchanges(planB) < exchanges(planS),
      s"broadcast arm must shuffle strictly less:\n$planB\n----\n$planS")
  }

  test("q143 instantiation: full vertex set returned, mass bounded") {
    val out = Graph.q143PageRank(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    Caches.clear()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    val total = rows.map(_.getLong(1)).sum
    assert(total <= S && total > S / 2)
  }

  test("fixed point: warm-start from the previous generation's ranks " +
    "is bit-equal to the cold limit cycle, in fewer rounds") {
    val d = "/root/testdata/sf0.001"
    val (nodes, edges) = Graph.tradeGraph(spark, d)
    val (gen1, _) = Graph.pageRankFixedPoint(nodes,
      Graph.tradeGraphGen1(spark, d), scale = Graph.RefreshScale)
    val ranks1 = Caches.persistTracked(gen1)
    ranks1.count()
    val (coldDf, coldRounds) = Graph.pageRankFixedPoint(nodes, edges,
      scale = Graph.RefreshScale)
    val cold = coldDf.collect().map(r => (r.getString(0), r.getLong(1)))
    val (warmDf, warmRounds) = Graph.pageRankFixedPoint(nodes, edges,
      init = Some(ranks1), scale = Graph.RefreshScale)
    val warm = warmDf.collect().map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    // seed-independence of the canonical cycle — the refresh gate
    assert(warm.sameElements(cold))
    // the point of warm-starting: rounds ∝ log(initial error), and the
    // gen1→gen2 rank delta is far smaller than the uniform seed's
    assert(warmRounds < coldRounds,
      s"warm=$warmRounds should be < cold=$coldRounds")
  }

  test("labelPropFixedPoint: the symmetric two-node graph 2-cycles " +
    "(labels swap every round) and canonicalizes to the min label; " +
    "warm start from the previous generation converges in fewer rounds") {
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    // sync LPA oscillates here: a:=b, b:=a each round — the honest
    // bipartite worst case; the canonical least() collapses the cycle
    val (out, _) = Graph.labelPropFixedPoint(nodes, edges)
    val m = out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Caches.clear()
    assert(m == Map("a" -> "a", "b" -> "a"))
    // warm saving on the real trade graph
    val d = "/root/testdata/sf0.001"
    val (n2, e2) = Graph.tradeGraph(spark, d)
    val (g1, _) = Graph.labelPropFixedPoint(n2,
      Graph.tradeGraphGen1(spark, d))
    val lab1 = Caches.persistTracked(g1); lab1.count()
    val (_, cold) = Graph.labelPropFixedPoint(n2, e2)
    val (_, warm) = Graph.labelPropFixedPoint(n2, e2, init = Some(lab1))
    Caches.clear()
    assert(warm < cold, s"warm=$warm should be < cold=$cold")
  }

  test("canonical cycle output: a true fixed point passes through " +
    "(least of two equal states) — hand graph") {
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    // symmetric 2-node graph fixes exactly at scale/2 (first test);
    // the converging variant must land there too and report rounds
    val (out, rounds) = Graph.pageRankFixedPoint(nodes, edges)
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.clear()
    assert(m("a") == S / 2 && m("b") == S / 2)
    assert(rounds >= 2) // needs two levels before the two-step check
  }
}
