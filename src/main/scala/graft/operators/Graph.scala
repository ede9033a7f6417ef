package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph centrality — the crawl-curation signal a 100 TB corpus
  * build ranks domains/hosts by (CommonCrawl publishes exactly this as
  * its harmonic-centrality host ranking; quality-weighted sampling and
  * frontier prioritization both consume it). Implemented as weighted
  * PageRank in EXACT fixed-point integer arithmetic so every iteration
  * is bit-reproducible across engines and parallelism: ranks are
  * BIGINT micro-mass units summing to ~`scale`, every division is a
  * floor div, and all sums are integer — no float accumulation order
  * anywhere.
  *
  * Scale shape: the classic DataFrame power iteration (what GraphFrames
  * does under the hood) — the edge table is pre-joined with per-source
  * out-weights ONCE and persisted; each iteration is one hash join of
  * the rank frame on `src` plus one partial-aggregated sum shuffle on
  * `dst`. Dangling mass is a 1-row aggregate crossJoined back as an
  * explicit broadcast — a BroadcastNestedLoopJoin whose build side is
  * exactly one row (the q73 single-row-aggregate posture; GraphSpec
  * pins it). Nothing ever materializes on the driver; hub skew is
  * AQE's skew-join case. Each
  * round starts from an EAGER localCheckpoint of the previous ranks
  * (the pointer-jumping posture, TextOps.scala:448) — the rank plan
  * references its predecessor through TWO branches (in-sum + dangling),
  * so without lineage truncation the logical plan doubles per iteration
  * and is exponential by round 10. On a real cluster this is
  * `spark.checkpoint` to reliable storage; the truncation requirement
  * is identical.
  */
object Graph {

  /** Explicitly release a localCheckpoint's storage blocks — the
    * iterative loops' retention fix: a ~140-round convergence would
    * otherwise hold every round's full rank/label frame (registered
    * via Caches until the caller's clear()) when only the last two
    * states are ever referenced again. An eagerly-checkpointed
    * Dataset's plan is a LogicalRDD over the persisted RDD; freeing
    * that RDD as the state leaves the (prev2, rank) window caps loop
    * storage at O(|V|), not O(rounds × |V|). Safe: the next state is
    * itself an eager checkpoint, so no later plan references the
    * freed one. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Broadcast-state threshold for the iterative loops (r21, guide §3.1
    * "pick the join strategy deliberately"): the per-round state frame
    * (ranks/labels, one row per vertex) is TINY relative to the
    * persisted edge table, but it is a localCheckpoint — a LogicalRDD
    * with no size statistics — so the planner cannot see that and
    * plans a sort-merge join that EXCHANGES the edge table every round
    * (the union in [[tradeGraph]] erases the edge frame's partitioning,
    * and AQE's runtime SMJ→BHJ rescue still pays the edge side's
    * shuffle write). Below this vertex count the loops broadcast the
    * state side explicitly: the edge table is then never shuffled in
    * any round — the only per-round exchange left is the partial-
    * aggregated contribution sum (measured 1.64× on the graph-ab
    * probe, SCALING.md r21). Vertex count is already a bounded driver
    * scalar in both loops, so the gate is decided from data the loop
    * holds anyway; above the gate (a 10^8-vertex host graph at 100 TB,
    * where |V| rows would be a multi-GB broadcast rebuilt per round)
    * the shuffle plan stands unchanged. The gate is sized well under
    * the 8 GB/512M-row broadcast cap: 2M vertices ≈ 80 MB framed.
    */
  private[graft] val BcastMaxN: Long = 2000000L

  /** Apply the broadcast hint when the loop's vertex count clears the
    * gate — joins keyed on integer-exact aggregates are strategy-
    * independent, so results are bit-equal either way (GraphSpec). */
  private def maybeBcast(df: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(df) else df

  /** Rows per partition for the MATERIALIZED per-round state frames
    * (ranks/labels — one row per vertex, a few dozen bytes each). A
    * round's output inherits the partitioning of the round's final
    * join, not anything sized to the state itself: at sf0.1 the ~16k-
    * row rank frame landed on ~100 near-empty partitions, so every
    * localCheckpoint, per-round broadcast build and convergence scan
    * paid ~100 tasks of pure scheduler overhead (profiled r22: the
    * 99-task broadcast-build and 105-task checkpoint jobs dominated
    * each round's wall; rounds× that in the ~60-round fixed-point
    * lifecycles). The loops therefore coalesce the state to a count
    * derived from the vertex count n — the bounded driver scalar both
    * loops already hold — so the sizing is data-proportional and
    * never core-count-derived: 1 partition at sf0.1, ~400 at a 10^8-
    * vertex production graph (≈256k rows / a few MB per partition).
    * Narrow coalesce only merges partitions, so results are bit-equal
    * and at scale (parts ≥ splits) it is the identity. */
  private[graft] val StateRowsPerPart: Long = 262144L

  private def statePartsFor(n: Long, rowsPerPart: Long): Int =
    math.min(Int.MaxValue.toLong,
      math.max(1L, (n + rowsPerPart - 1L) / rowsPerPart)).toInt

  /** The partition layout [[PrLoop]] and [[LpLoop]] share, decided from
    * the loop's vertex count `n`: the per-round join strategy (see
    * [[BcastMaxN]]), the n-derived state width (see
    * [[StateRowsPerPart]]) and the persisted edge frame's layout. */
  private class LoopLayout(n: Long, bcastMaxN: Long,
                           stateRowsPerPart: Long) {
    require(stateRowsPerPart > 0,
      s"stateRowsPerPart must be positive, got $stateRowsPerPart")
    val bcast: Boolean = n <= bcastMaxN

    /** State frames materialize at n-derived width. */
    def squeeze(df: DataFrame): DataFrame =
      df.coalesce(statePartsFor(n, stateRowsPerPart))

    /** Persist the loop-invariant edge frame and return the frame every
      * round scans.
      *
      * ABOVE the broadcast gate the per-round state join is a sort-merge
      * join — persist the edge frame ALREADY hash-partitioned AND sorted
      * by `src` (r22): the cached partitioning/ordering satisfy the
      * join's requirement every round, so the SMJ's edge side pays its
      * exchange and sort ONCE at setup instead of once per round (the
      * state side, one row per vertex, still exchanges per round — it
      * changes every round by construction). The explicit partition
      * count pins a REPARTITION_BY_NUM shuffle AQE will not coalesce —
      * a coalesced cache partitioning would no longer match the state
      * side's and the per-round exchange would sneak back.
      *
      * BELOW the gate the state side broadcasts and the edge side
      * streams unsorted — the setup sort would be pure cost there. The
      * persisted edge frame then inherits ~3× the session's shuffle
      * width from the union+join that built it (~99 near-empty
      * partitions for ~480k rows at sf0.1), and EVERY round scans it —
      * both the contribution map stage and the AQE broadcast build pay
      * ~99 task launches per round for ~0.1 s of CPU. So the scan is
      * narrow-coalesced to an m-derived width (one bounded count at
      * setup, which just materializes the cache round 1 would have
      * materialized anyway). The shuffle arm never coalesces: a
      * CoalesceExec reports unknown partitioning and would erase the
      * hash partitioning the per-round SMJ relies on. */
    def edgeScan(edges: DataFrame): DataFrame =
      if (bcast) {
        val e = Caches.persistTracked(edges)
        e.coalesce(statePartsFor(e.count(), stateRowsPerPart))
      } else Caches.persistTracked(
        edges.repartition(col("src")).sortWithinPartitions("src"))
  }

  /** The loop-invariant frames + one power-iteration step, shared by
    * the fixed-round [[pageRank]] and the converging
    * [[pageRankFixedPoint]]: out-weights are persisted ONCE — referenced
    * from inside every iteration, they would otherwise recompute the
    * full edge derivation per round (the first formulation paid the
    * source joins 10×).
    *
    * The dangling flag rides IN the rank state. The dangling vertex set
    * is loop-invariant (it depends only on the edge table), so one
    * boolean `nd` column is attached to the seed (computed once from
    * `outw`) and carried through every round: the dangling mass is a
    * plain filter+sum over the state frame (1 partition at sf0.1 after
    * the squeeze — no join, no broadcast build), and the carry join
    * reads the state frame, which holds exactly the full vertex set
    * every round by construction. Re-deriving the set per round would
    * produce the same integer sums over the same sets, so the carried
    * flag is bit-equal by construction; GraphSpec pins hand-computed
    * ranks on a graph with dangling vertices on both join arms. */
  private class PrLoop(nodes: DataFrame, edges: DataFrame,
                       dampNum: Long, dampDen: Long, scale: Long,
                       bcastMaxN: Long = BcastMaxN,
                       stateRowsPerPart: Long = StateRowsPerPart) {
    // bounded driver scalar: the vertex COUNT (one long), needed to
    // fix the integer base share — same posture as langid's minLang
    val n: Long = nodes.count()
    require(n > 0, "pageRank needs a non-empty vertex set")
    val layout = new LoopLayout(n, bcastMaxN, stateRowsPerPart)
    private val base = ((scale * (dampDen - dampNum)) / dampDen) / n
    private val outw = Caches.persistTracked(
      edges.groupBy("src").agg(sum(col("w")).as("ow")))
    private val eScan = layout.edgeScan(edges.join(outw, Seq("src")))
    val nodesP: DataFrame = Caches.persistTracked(nodes)

    /** The loop's seed state (node, rank, nd): `None` = uniform share,
      * `Some` = warm-start from a previous generation's ranks (carried-
      * over nodes keep their rank, new nodes seed uniform). A node is
      * dangling (`nd`) iff it has no out-weight row. */
    def seedFrom(init: Option[DataFrame]): DataFrame = {
      val ranked = init match {
        case None => nodesP.withColumn("rank", lit(scale / n))
        case Some(prevRanks) =>
          nodesP.join(
              prevRanks.withColumnRenamed("rank", "prev_rank"),
              Seq("node"), "left")
            .select(col("node"),
              coalesce(col("prev_rank"), lit(scale / n)).as("rank"))
      }
      ranked.join(outw.select(col("src").as("node"), lit(1).as("__ho")),
          Seq("node"), "left")
        .select(col("node"), col("rank"), col("__ho").isNull.as("nd"))
    }

    /** Project the loop's state back to the (node, rank) contract. */
    def finish(rank: DataFrame): DataFrame = rank.select("node", "rank")

    def step(prev: DataFrame): DataFrame = {
      // state side broadcast under the [[BcastMaxN]] gate: the edge
      // table (the heavy side) is then never shuffled OR sorted in any
      // round; above the gate the original exchange plan stands
      val in = eScan.join(
          maybeBcast(prev.select(col("node").as("src"), col("rank")),
            layout.bcast),
          Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank * w) div ow").as("c"))
        .groupBy("node").agg(sum(col("c")).as("inr"))
      // dangling mass: rank parked on vertices with no out-edge — a
      // SINGLE-ROW aggregate crossJoined back under an explicit
      // broadcast (the q73 posture: the nested-loop's build side is
      // exactly one row, so the "loop" is a constant lookup)
      val dang = prev.filter(col("nd"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dang"))
        .select(expr(s"dang div $n").as("dshare"))
      // `in` stays on the shuffle path even under the gate: it is the
      // output of the contribution aggregate, and broadcasting it
      // would serialize that whole aggregate through a driver collect
      // before the carry join can start (measured: +0.9 s/10 rounds
      // at sf0.1 vs letting it stream — graph-ab probe, r21)
      val rank = (lit(base) + expr(
        s"($dampNum * (coalesce(inr, 0L) + dshare)) div $dampDen"))
        .as("rank")
      prev.select("node", "nd").join(in, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), rank, col("nd"))
    }
  }

  /** @param nodes one column `node` (string), the full vertex set
    * @param edges  columns `src`, `dst`, `w` (long weight > 0)
    * @return (node, rank) — rank in integer micro-mass units
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 10,
               dampNum: Long = 85, dampDen: Long = 100,
               scale: Long = 1000000000000L,
               bcastMaxN: Long = BcastMaxN,
               stateRowsPerPart: Long = StateRowsPerPart): DataFrame = {
    val loop = new PrLoop(nodes, edges, dampNum, dampDen, scale,
      bcastMaxN, stateRowsPerPart)
    var rank = loop.seedFrom(None)
    var last: DataFrame = null
    for (_ <- 1 to iters) {
      // eager: materializes off `last`; squeezed to n-derived width
      val prev = loop.layout.squeeze(rank).localCheckpoint()
      if (last != null) freeCheckpoint(last)
      last = prev
      rank = loop.step(prev)
    }
    // the returned plan references only the FINAL checkpoint — keep it
    // under the registry lifecycle, all earlier rounds already freed
    if (last != null) Caches.trackOnly(last)
    loop.finish(rank).orderBy("node")
  }

  /** Power iteration to the integer LIMIT CYCLE — the converging form
    * the incremental/warm-start path needs. The floor-div update map is
    * deterministic over a finite state space, so the trajectory always
    * enters a cycle; damping contracts the real-arithmetic dynamics
    * (all eigenvalues ≤ 0.85 in modulus), so the cycle lives within
    * floor-noise (tens of micro-units out of 10^12) of the real fixed
    * point. On a BIPARTITE graph (the trade graph is one: customers ↔
    * suppliers) the −0.85 eigenmode sustains a ±few-unit PERIOD-2
    * oscillation that never damps to an exact fixed point — probed
    * empirically: the full sf0.001 trade graph fixes at round 140, the
    * 6/7-edge variant 2-cycles at round 146 with 99 coordinates
    * oscillating by ≤ 17 units. Convergence is therefore declared on
    * the TWO-STEP map (frame equality of round t vs t−2 — catches both
    * period 1 and 2; one bounded count action per round, the
    * kmeans-collect posture) and the returned ranks are the elementwise
    * MIN over the final two states: deterministic, independent of which
    * cycle element the loop stops on, identity at a true fixed point.
    *
    * `init` warm-starts from a previous generation's converged ranks:
    * carried-over nodes keep their rank, new nodes seed at the uniform
    * share. The limit cycle does not depend on the seed (GraphSpec pins
    * warm ≡ cold bit-equal on a republished graph), only the ROUND
    * COUNT does — and since contraction is geometric, rounds scale with
    * log(initial error): a republished 100 TB link graph whose ranks
    * moved little re-converges from last generation's state in fewer
    * rounds instead of paying the full log(scale)/log(1/damp) ≈ 170
    * cold rounds from uniform.
    *
    * @return (canonical converged ranks, rounds actually run)
    */
  def pageRankFixedPoint(nodes: DataFrame, edges: DataFrame,
                         init: Option[DataFrame] = None,
                         maxIters: Int = 400, dampNum: Long = 85,
                         dampDen: Long = 100,
                         scale: Long = 1000000000000L)
      : (DataFrame, Int) = {
    val loop = new PrLoop(nodes, edges, dampNum, dampDen, scale)
    val seed = loop.seedFrom(init)
    var prev2: DataFrame = null
    var rank = loop.layout.squeeze(seed).localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val next = loop.layout.squeeze(loop.step(rank)).localCheckpoint()
      rounds += 1
      // two-step frame equality = period ≤ 2 limit cycle reached
      converged = prev2 != null && next
        .join(prev2.withColumnRenamed("rank", "prank"), Seq("node"))
        .filter(col("rank") =!= col("prank"))
        .limit(1).count() == 0L
      // the state leaving the 2-state window is never referenced again
      // (the check above used it; the canonical tail uses only the
      // final pair) — free its blocks NOW instead of retaining all
      // ~rounds checkpoints until the caller's Caches.clear()
      val old = prev2
      prev2 = rank
      rank = next
      if (old != null) freeCheckpoint(old)
    }
    if (!converged) {
      // failure path: the last two checkpoints are persisted but not
      // yet tracked (earlier rounds were eagerly freed) — release them
      // before throwing or they outlive the caller's Caches.clear()
      freeCheckpoint(rank)
      if (prev2 != null) freeCheckpoint(prev2)
      throw new IllegalArgumentException(
        s"requirement failed: pageRankFixedPoint did not converge " +
        s"within $maxIters rounds")
    }
    Caches.trackOnly(rank)
    Caches.trackOnly(prev2)
    // canonical cycle representative: elementwise min over the final
    // two states — the same frame whichever cycle element we stop on
    val canon = rank
      .join(prev2.withColumnRenamed("rank", "prank"), Seq("node"))
      .select(col("node"), least(col("rank"), col("prank")).as("rank"))
    (canon.orderBy("node"), rounds)
  }

  /** Synchronous LABEL PROPAGATION (Raghavan et al. 2007) — the
    * community-detection signal corpus curation uses to group hosts/
    * domains into site families (mirror farms, link rings, CMS
    * clusters) before per-community quality decisions. Every node
    * starts labeled with itself; each round it adopts the label
    * carrying the LARGEST total in-edge weight among its neighbors'
    * current labels, ties broken by MIN label — fully deterministic
    * (classic async LPA breaks ties randomly; this is the
    * reproducible variant), integer/string-exact, bit-stable at any
    * parallelism. Fixed `iters` rounds; synchronous LPA can oscillate
    * on bipartite structure, so the operator contracts a round COUNT,
    * not convergence (the fixed-point is detectable by frame equality
    * exactly as [[pageRank]]'s).
    *
    * Scale shape per round: one hash join of the label frame on `src`,
    * one partial-aggregated (dst, label) weight sum, one bounded rank
    * window (WindowGroupLimit prunes to top-1 per node map-side), one
    * left join back to carry isolated nodes' labels. The previous
    * round is referenced TWICE (contribution + carry), so each round
    * starts from an eager localCheckpoint — the [[pageRank]] lineage
    * posture, without which the plan doubles per round.
    */
  /** The label-propagation step, shared by the fixed-round
    * [[labelProp]] and the converging [[labelPropFixedPoint]] — the
    * PrLoop factoring for the community family. */
  private class LpLoop(nodes: DataFrame, edges: DataFrame,
                       bcastMaxN: Long = BcastMaxN,
                       stateRowsPerPart: Long = StateRowsPerPart) {
    import org.apache.spark.sql.expressions.Window
    val nodesP: DataFrame = Caches.persistTracked(nodes)
    // one bounded scalar, the PrLoop posture — decides the per-round
    // join strategy (see [[BcastMaxN]]); label frames are one row per
    // vertex like rank frames, so the same gate applies
    private val n: Long = nodesP.count()
    val layout = new LoopLayout(n, bcastMaxN, stateRowsPerPart)
    private val eScan = layout.edgeScan(edges)
    val selfLabels: DataFrame = nodesP.withColumn("label", col("node"))
    def step(prev: DataFrame): DataFrame = {
      val contrib = eScan
        .join(maybeBcast(prev.withColumnRenamed("node", "src"),
          layout.bcast),
          Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum(col("w")).as("cw"))
      val top = contrib
        .withColumn("rn", row_number().over(Window.partitionBy("node")
          .orderBy(col("cw").desc, col("label").asc)))
        .filter(col("rn") === 1)
        .select(col("node"), col("label").as("nlabel"))
      prev.join(top, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("nlabel"), col("label")).as("label"))
    }
  }

  def labelProp(nodes: DataFrame, edges: DataFrame,
                iters: Int = 5,
                bcastMaxN: Long = BcastMaxN,
                stateRowsPerPart: Long = StateRowsPerPart): DataFrame = {
    val loop = new LpLoop(nodes, edges, bcastMaxN, stateRowsPerPart)
    var lab = loop.selfLabels
    var last: DataFrame = null
    for (_ <- 1 to iters) {
      // eager: materializes off `last`; squeezed to n-derived width
      val prev = loop.layout.squeeze(lab).localCheckpoint()
      if (last != null) freeCheckpoint(last)
      last = prev
      lab = loop.step(prev)
    }
    if (last != null) Caches.trackOnly(last)
    lab.orderBy("node")
  }

  /** Synchronous LPA run to its LIMIT CYCLE — the converging form the
    * community-refresh path needs, under the [[pageRankFixedPoint]]
    * discipline: the update map is deterministic over a finite label
    * space, synchronous LPA famously 2-cycles on bipartite structure
    * (its own scaladoc's caveat — the trade graph IS bipartite), so
    * convergence is the TWO-STEP frame equality and the canonical
    * output is the elementwise least() over the final cycle pair
    * (string min — deterministic whichever element the loop stops on).
    *
    * Unlike PageRank's global contraction, LPA has MANY fixed points
    * (any labeling where every node carries its weighted neighborhood
    * majority), so a warm start converges to ITS OWN nearby fixed
    * point, not necessarily the cold one — that is the semantics a
    * community REFRESH wants (stable community identity across
    * republishes: labels don't spontaneously re-shuffle because the
    * seed changed) and the reason the q178 gate replays the exact
    * dynamics via the static over-unroll oracle rather than asserting
    * warm ≡ cold. `init` carries the previous generation's labels;
    * new nodes seed with themselves.
    *
    * @return (canonical converged labels, rounds actually run)
    */
  def labelPropFixedPoint(nodes: DataFrame, edges: DataFrame,
                          init: Option[DataFrame] = None,
                          maxIters: Int = 60): (DataFrame, Int) = {
    val loop = new LpLoop(nodes, edges)
    val seed = init match {
      case None => loop.selfLabels
      case Some(prevLabels) =>
        loop.nodesP.join(
            prevLabels.withColumnRenamed("label", "prev_label"),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("prev_label"), col("node")).as("label"))
    }
    var prev2: DataFrame = null
    var lab = loop.layout.squeeze(seed).localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val next = loop.layout.squeeze(loop.step(lab)).localCheckpoint()
      rounds += 1
      converged = prev2 != null && next
        .join(prev2.withColumnRenamed("label", "plabel"), Seq("node"))
        .filter(col("label") =!= col("plabel"))
        .limit(1).count() == 0L
      // free the state leaving the 2-state window — the pageRank
      // fixed-point retention argument, identically
      val old = prev2
      prev2 = lab
      lab = next
      if (old != null) freeCheckpoint(old)
    }
    if (!converged) {
      // same failure-path release as pageRankFixedPoint
      freeCheckpoint(lab)
      if (prev2 != null) freeCheckpoint(prev2)
      throw new IllegalArgumentException(
        s"requirement failed: labelPropFixedPoint did not converge " +
        s"within $maxIters rounds")
    }
    Caches.trackOnly(lab)
    Caches.trackOnly(prev2)
    val canon = lab
      .join(prev2.withColumnRenamed("label", "plabel"), Seq("node"))
      .select(col("node"), least(col("label"), col("plabel")).as("label"))
    (canon.orderBy("node"), rounds)
  }

  /** The shared registered instantiation: the customer↔supplier trade
    * graph from orders ⋈ lineitem (edge weight = lineitem count per
    * pair, both directions so the chain is ergodic; vertices prefixed
    * c/s to disambiguate the overlapping key ranges). Customers who
    * never ordered are dangling vertices — pageRank's redistribution
    * path and labelProp's isolated-carry path are genuinely exercised.
    */
  private[graft] def tradeGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val nodes = Tables.customer(s, d)
      .select(concat(lit("c"), col("c_custkey")).as("node"))
      .unionByName(Tables.supplier(s, d)
        .select(concat(lit("s"), col("s_suppkey")).as("node")))
    // persisted: the union below references `pairs` from BOTH branches,
    // and Spark has no cross-branch subplan reuse — unpersisted, the
    // orders ⋈ lineitem join + aggregate ran once per branch (r21,
    // guide §2.4 "remove shuffles outright"; the Caches scaladoc's
    // standing rationale)
    val pairs = Caches.persistTracked(Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .agg(count(lit(1)).as("w")))
    val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))
    (nodes, edges)
  }

  def q143PageRank(s: SparkSession, d: String): DataFrame = {
    val (nodes, edges) = tradeGraph(s, d)
    pageRank(nodes, edges)
  }

  /** The previous GENERATION of the trade graph: the same construction
    * minus the orders in one residue class — the republished-corpus
    * stand-in every incremental family diffs against (q153's posture
    * applied to edges). Same vertex set: a republish changes link
    * structure, not the entity universe. */
  private[graft] def tradeGraphGen1(s: SparkSession, d: String)
      : DataFrame = {
    // persisted for the same dual-branch-union reason as [[tradeGraph]]
    val pairs = Caches.persistTracked(Tables.orders(s, d)
      .filter(col("o_orderkey") % 7 =!= 3)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .agg(count(lit(1)).as("w")))
    pairs.unionByName(pairs.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))
  }

  /** q172's working scale: 10^8 micro-units. Rounds-to-converge grow
    * with log(scale) (geometric 0.85 contraction ⇒ ~14 rounds per
    * decade), so the registered refresh lifecycle runs ~60 gen1 + ~12
    * warm rounds here instead of ~130 + ~75 at 10^12 — same dynamics,
    * same gate, a third of the wall. */
  private[graft] val RefreshScale = 100000000L

  /** INCREMENTAL PAGERANK REFRESH — the full republish lifecycle: the
    * previous generation's graph is converged to its limit cycle, then
    * the republished (full) graph re-converges WARM-STARTED from those
    * ranks. Warm and cold reach the bit-identical canonical cycle (the
    * contraction's basin is global); only the round count differs —
    * measured on this data: 16 warm vs 141 cold at sf0.001/10^12,
    * 12 vs ~59 at sf0.01/10^8 (GraphSpec pins equality + the saving).
    * The driver-facing result is the refreshed canonical ranks. */
  def q172PageRankRefresh(s: SparkSession, d: String): DataFrame = {
    val (nodes, edges) = tradeGraph(s, d)
    val (gen1, _) = pageRankFixedPoint(nodes, tradeGraphGen1(s, d),
      scale = RefreshScale)
    val ranks1 = Caches.persistTracked(gen1)
    val (refreshed, _) = pageRankFixedPoint(nodes, edges,
      init = Some(ranks1), scale = RefreshScale)
    refreshed
  }

  def q148LabelProp(s: SparkSession, d: String): DataFrame = {
    val (nodes, edges) = tradeGraph(s, d)
    labelProp(nodes, edges)
  }

  /** INCREMENTAL COMMUNITY refresh — the q172 lifecycle for labels:
    * converge the previous generation's communities, then re-converge
    * the republished graph warm-started from them (2–3 rounds vs 6–7
    * cold, measured — and community identities stay stable across the
    * republish instead of re-deriving from scratch). */
  def q178LabelPropRefresh(s: SparkSession, d: String): DataFrame = {
    val (nodes, edges) = tradeGraph(s, d)
    val (gen1, _) = labelPropFixedPoint(nodes, tradeGraphGen1(s, d))
    val lab1 = Caches.persistTracked(gen1)
    val (refreshed, _) = labelPropFixedPoint(nodes, edges,
      init = Some(lab1))
    refreshed
  }

  /** Unrolled-iteration DuckDB oracle (the Bpe.scala generated-CTE
    * pattern): r0 → i1/d1/r1 → … — every arithmetic step mirrors
    * [[pageRank]] in the same integer floor-div form. Every CTE is
    * `AS MATERIALIZED`: each rank level is referenced twice (in-sum +
    * dangling), so plain CTE inlining would duplicate the chain
    * 2^iters times — the SQL-side analogue of the engine's
    * localCheckpoint-per-round requirement.
    */
  /** The trade graph's CTE head, shared by both graph oracles —
    * mirrors [[tradeGraph]]. */
  private val tradeGraphCtes =
    """WITH nodes AS MATERIALIZED (
      |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node FROM customer
      |  UNION ALL
      |  SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node FROM supplier),
      |pairs AS MATERIALIZED (
      |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |    's' || CAST(l_suppkey AS VARCHAR) AS dst, count(*) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (SELECT src, dst, w FROM pairs
      |  UNION ALL SELECT dst AS src, src AS dst, w FROM pairs)""".stripMargin

  def q143OracleSql(iters: Int = 10): String = {
    val head = tradeGraphCtes +
      """,
        |outw AS MATERIALIZED (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
        |e AS MATERIALIZED (SELECT edges.src, dst, w, ow FROM edges
        |  JOIN outw USING (src)),
        |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        |base AS MATERIALIZED (SELECT ((1000000000000 * 15) // 100) // n AS b FROM nn),
        |r0 AS MATERIALIZED (SELECT node, (SELECT 1000000000000 // n FROM nn) AS rank
        |  FROM nodes)""".stripMargin
    val its = (1 to iters).map { k =>
      val p = s"r${k - 1}"
      s"""i$k AS MATERIALIZED (
         |  SELECT dst AS node, sum((r.rank * e.w) // e.ow) AS inr
         |  FROM e JOIN $p r ON r.node = e.src GROUP BY dst),
         |d$k AS MATERIALIZED (
         |  SELECT coalesce(sum(rank), 0) //
         |    (SELECT n FROM nn) AS dshare
         |  FROM $p LEFT JOIN outw ON $p.node = outw.src
         |  WHERE outw.src IS NULL),
         |r$k AS MATERIALIZED (
         |  SELECT n0.node, (SELECT b FROM base) +
         |    (85 * (coalesce(i.inr, 0) + (SELECT dshare FROM d$k)))
         |      // 100 AS rank
         |  FROM nodes n0 LEFT JOIN i$k i ON n0.node = i.node)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$its\nSELECT node, CAST(rank AS BIGINT) AS rank " +
      s"FROM r$iters ORDER BY node"
  }

  /** One unrolled power-iteration chain for [[q172OracleSql]]:
    * `<p>0` is the seed level (provided by the caller), `<p>1..<p>iters`
    * mirror [[PrLoop.step]]'s integer arithmetic over edge table
    * `edgesCte`, via per-chain `outw_<p>`/`e_<p>` frames. Every level
    * `AS MATERIALIZED` — q143's dual-reference reason. */
  private def prChainSql(p: String, edgesCte: String, iters: Int,
                         scale: Long): String =
    s"""outw_$p AS MATERIALIZED (
       |  SELECT src, sum(w) AS ow FROM $edgesCte GROUP BY src),
       |e_$p AS MATERIALIZED (SELECT $edgesCte.src, dst, w, ow
       |  FROM $edgesCte JOIN outw_$p USING (src)),
       |base_$p AS MATERIALIZED (
       |  SELECT (($scale * 15) // 100) // n AS b FROM nn)""".stripMargin +
      ",\n" + (1 to iters).map { k =>
        val prev = s"$p${k - 1}"
        s"""i$p$k AS MATERIALIZED (
           |  SELECT dst AS node, sum((r.rank * e.w) // e.ow) AS inr
           |  FROM e_$p e JOIN $prev r ON r.node = e.src GROUP BY dst),
           |d$p$k AS MATERIALIZED (
           |  SELECT coalesce(sum(rank), 0) //
           |    (SELECT n FROM nn) AS dshare
           |  FROM $prev LEFT JOIN outw_$p ON $prev.node = outw_$p.src
           |  WHERE outw_$p.src IS NULL),
           |$p$k AS MATERIALIZED (
           |  SELECT n0.node, (SELECT b FROM base_$p) +
           |    (85 * (coalesce(i.inr, 0) + (SELECT dshare FROM d$p$k)))
           |      // 100 AS rank
           |  FROM nodes n0 LEFT JOIN i$p$k i ON n0.node = i.node)""".stripMargin
      }.mkString(",\n")

  /** q172's generated oracle — how a STATIC unroll gates a DYNAMICALLY
    * converging engine loop: once the trajectory enters its period ≤ 2
    * cycle {x, y}, every later pair of consecutive levels IS {x, y}, so
    * `least(r_T, r_{T-1})` is the same frame for EVERY T at-or-past
    * entry — including the engine's dynamic stop round and this
    * oracle's fixed over-unroll. `t1`/`t2` only need to be ≥ the entry
    * rounds at the verify scale (measured: 59 gen1 / 12 warm at sf0.01,
    * 10^8 scale; 70/25 leaves margin). Chain A converges the gen1
    * graph from uniform, `seed_w` canonicalizes it, chain B re-runs the
    * full graph warm-started from it — mirroring [[q172PageRankRefresh]]
    * step for step in the same integer floor-div arithmetic. */
  def q172OracleSql(t1: Int = 70, t2: Int = 25,
                    scale: Long = RefreshScale): String = {
    val head = tradeGraphCtes +
      s""",
         |pairs_g1 AS MATERIALIZED (
         |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |    's' || CAST(l_suppkey AS VARCHAR) AS dst, count(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderkey % 7 <> 3
         |  GROUP BY 1, 2),
         |edges_g1 AS MATERIALIZED (SELECT src, dst, w FROM pairs_g1
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM pairs_g1),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |g0 AS MATERIALIZED (
         |  SELECT node, (SELECT $scale // n FROM nn) AS rank FROM nodes)""".stripMargin
    val chainA = prChainSql("g", "edges_g1", t1, scale)
    val seed =
      s"""w0 AS MATERIALIZED (
         |  SELECT a.node, least(a.rank, b.rank) AS rank
         |  FROM g$t1 a JOIN g${t1 - 1} b USING (node))""".stripMargin
    val chainB = prChainSql("w", "edges", t2, scale)
    s"$head,\n$chainA,\n$seed,\n$chainB\n" +
      s"SELECT a.node, CAST(least(a.rank, b.rank) AS BIGINT) AS rank " +
      s"FROM w$t2 a JOIN w${t2 - 1} b USING (node) ORDER BY a.node"
  }

  /** One unrolled LPA chain for [[q178OracleSql]] — the [[prChainSql]]
    * pattern for labels: `<p>0` is the caller-provided seed level,
    * levels mirror [[LpLoop.step]]. */
  private def lpChainSql(p: String, edgesCte: String,
                         iters: Int): String =
    (1 to iters).map { k =>
      val prev = s"$p${k - 1}"
      s"""c$p$k AS MATERIALIZED (
         |  SELECT dst AS node, label, sum(w) AS cw
         |  FROM $edgesCte JOIN $prev ON $prev.node = $edgesCte.src
         |  GROUP BY 1, 2),
         |t$p$k AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cw DESC, label ASC) AS rn
         |    FROM c$p$k) WHERE rn = 1),
         |$p$k AS MATERIALIZED (
         |  SELECT $prev.node, coalesce(t$p$k.label, $prev.label) AS label
         |  FROM $prev LEFT JOIN t$p$k ON $prev.node = t$p$k.node)""".stripMargin
    }.mkString(",\n")

  /** q178's generated oracle — the [[q172OracleSql]] static-over-unroll
    * trick for the community family: chain A converges the gen1 graph
    * from self labels (T1 past the measured entry round — 6–7 at both
    * driver scales), `ls0` canonicalizes via least-of-last-two, chain B
    * re-runs the full graph warm-started from it. Valid at any unroll
    * depth past cycle entry: consecutive levels in the cycle are the
    * same {x, y} pair. */
  def q178OracleSql(t1: Int = 14, t2: Int = 10): String = {
    val head = tradeGraphCtes +
      s""",
         |pairs_g1 AS MATERIALIZED (
         |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |    's' || CAST(l_suppkey AS VARCHAR) AS dst, count(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderkey % 7 <> 3
         |  GROUP BY 1, 2),
         |edges_g1 AS MATERIALIZED (SELECT src, dst, w FROM pairs_g1
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM pairs_g1),
         |lg0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    val chainA = lpChainSql("lg", "edges_g1", t1)
    val seed =
      s"""ls0 AS MATERIALIZED (
         |  SELECT a.node, least(a.label, b.label) AS label
         |  FROM lg$t1 a JOIN lg${t1 - 1} b USING (node))""".stripMargin
    val chainB = lpChainSql("ls", "edges", t2)
    s"$head,\n$chainA,\n$seed,\n$chainB\n" +
      s"SELECT a.node, least(a.label, b.label) AS label " +
      s"FROM ls$t2 a JOIN ls${t2 - 1} b USING (node) ORDER BY a.node"
  }

  /** Unrolled-iteration DuckDB oracle for [[labelProp]] — every level
    * `AS MATERIALIZED` for the same dual-reference reason as q143's
    * (each label frame feeds both the next contribution join and the
    * isolated-node carry). */
  def q148OracleSql(iters: Int = 5): String = {
    val head = tradeGraphCtes +
      ",\nl0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"
    val its = (1 to iters).map { k =>
      val p = s"l${k - 1}"
      s"""c$k AS MATERIALIZED (
         |  SELECT dst AS node, label, sum(w) AS cw
         |  FROM edges JOIN $p ON $p.node = edges.src GROUP BY 1, 2),
         |t$k AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cw DESC, label ASC) AS rn
         |    FROM c$k) WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT $p.node, coalesce(t$k.label, $p.label) AS label
         |  FROM $p LEFT JOIN t$k ON $p.node = t$k.node)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$its\nSELECT node, label FROM l$iters ORDER BY node"
  }
}
