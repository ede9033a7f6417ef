package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Generations, RankIndex}

/** The standing rank index's lifecycle pins: served ranks ≡ the inline
  * warm-refresh composition (q172), reader safety through an
  * interrupted refresh (the GenerationsSpec posture for the graph
  * family), and crashed-intent GC.
  */
class RankIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("lifecycle serves exactly the inline refresh's canonical ranks") {
    val (nodes, edges) = Graph.tradeGraph(spark, d)
    val inline = Graph.q172PageRankRefresh(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    RankIndex.bootstrap(nodes, Graph.tradeGraphGen1(spark, d), "rispec")
    val warmRounds = RankIndex.refresh(nodes, edges, "rispec")
    val served = RankIndex.ranks(spark, "rispec").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Caches.clear()
    assert(served.sameElements(inline))
    // the reason the index exists: the warm leg re-converges in far
    // fewer rounds than the ~59 a cold sf-scale run pays
    assert(warmRounds < 40, s"warm refresh took $warmRounds rounds")
  }

  test("readers keep the old generation through an interrupted refresh; " +
    "the next successful refresh GCs the crashed intent") {
    val (nodes, edges) = Graph.tradeGraph(spark, d)
    RankIndex.bootstrap(nodes, Graph.tradeGraphGen1(spark, d), "ricrash")
    val before = RankIndex.ranks(spark, "ricrash").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // a refresh that crashes AFTER writing its generation's table but
    // BEFORE the commit marker: the build writes a poisoned table under
    // the new generation's physical name, then throws
    var ng = -1L
    intercept[IllegalStateException](
      Generations.rebuild(spark, "ricrash", Seq("ranks")) { (_, g) =>
        ng = g
        nodes.withColumn("rank", lit(-1L)).write.mode("overwrite")
          .saveAsTable(Generations.physical("ricrash", "ranks", g))
        throw new IllegalStateException("crash before commit")
      })
    // readers still resolve the committed generation — bit-equal
    val during = RankIndex.ranks(spark, "ricrash").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(during.sameElements(before))
    // a later successful refresh allocates PAST the crashed intent,
    // commits, and GC drops the orphan generation's table
    RankIndex.refresh(nodes, edges, "ricrash")
    val after = RankIndex.ranks(spark, "ricrash")
      .agg(min(col("rank"))).head().getLong(0)
    assert(after >= 0L, "served ranks must never be the poisoned orphan's")
    assert(!spark.catalog.tableExists(
      Generations.physical("ricrash", "ranks", ng)),
      "crashed intent generation must be GC'd by the successful refresh")
    Caches.clear()
  }
}
