package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Caches, Graph}

/** STANDING RANK INDEX — the graph family joins the standing-index
  * discipline every other serving family already has (DedupIndex /
  * Bm25Index / VectorIndex): the converged PageRank of the current
  * corpus generation persisted as a servable table, refreshed on
  * republish by WARM-STARTING from the previous generation's ranks
  * ([[graft.Graph.pageRankFixedPoint]] — bit-equal to a cold run in a
  * fraction of the rounds) and committed atomically under the
  * [[Generations]] manifest.
  *
  * Unlike the log-structured indexes, ranks are a CONVERGED GLOBAL
  * STATE, not a mergeable aggregate — any edge change can move every
  * node's rank — so a refresh writes the ENTIRE next generation's rank
  * table rather than appending a delta batch. That is the right cost
  * shape regardless: the (node, rank) table is the small side of a link
  * graph (nodes ≪ edges ≪ corpus bytes), the expensive part is the
  * iteration, and warm-starting is what the previous generation buys.
  * Readers resolve the manifest once and keep reading the OLD
  * generation until the new one's single commit marker lands — a crash
  * mid-refresh leaves an orphan intent generation that is invisible,
  * GC'd by the next successful refresh (RankIndexSpec simulates both).
  */
object RankIndex {

  private val logicals = Seq("ranks")

  /** Converge `edges` cold and commit the result as generation 0.
    * @return rounds the cold convergence ran */
  def bootstrap(nodes: DataFrame, edges: DataFrame, prefix: String,
                scale: Long = Graph.RefreshScale): Int = {
    val rounds = Generations.bootstrap(nodes.sparkSession, prefix, None) {
      (g, _) =>
        val (r, n) = Graph.pageRankFixedPoint(nodes, edges, scale = scale)
        Sinks.saveTable(r, Generations.physical(prefix, "ranks", g))
        n
    }
    Caches.clear()
    rounds
  }

  /** Re-converge over the republished graph, warm-started from the
    * CURRENT committed generation's ranks, into a NEW generation;
    * readers flip atomically on the commit marker, then old generations
    * (and any crashed intents) are GC'd.
    * @return rounds the warm convergence ran */
  def refresh(nodes: DataFrame, newEdges: DataFrame, prefix: String,
              scale: Long = Graph.RefreshScale): Int = {
    val spark = nodes.sparkSession
    val rounds = Generations.rebuild(spark, prefix, logicals) { (st, ng) =>
      val prev = spark.table(Generations.physical(prefix, "ranks", st._1))
      val (r, n) = Graph.pageRankFixedPoint(nodes, newEdges,
        init = Some(prev), scale = scale)
      // the purge in saveTable also clears a crashed intent's leftover
      Sinks.saveTable(r, Generations.physical(prefix, "ranks", ng))
      n
    }
    Caches.clear()
    rounds
  }

  /** The serving read: the current committed generation's ranks —
    * one bounded manifest resolve, then a plain table scan. */
  def ranks(spark: SparkSession, prefix: String): DataFrame =
    spark.table(Generations.physicalFor(spark, prefix, "ranks"))
}
