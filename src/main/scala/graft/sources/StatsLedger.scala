package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TextOps

/** Incrementally maintained CORPUS GOVERNANCE STATS — the
  * [[VectorIndex]] mergeable-partial-aggregate posture applied to the
  * data-card numbers every 100 TB corpus publishes (per-source doc /
  * token / char / stopword / short-doc counts, the SUM-mergeable core
  * of [[graft.CorpusOps.sourceProfile]]): each ingest batch appends
  * one signed |sources|-row partial, a takedown appends the same
  * partial with w = -1, and [[profile]] finishes the reduce over the
  * ledger — the corpus text is read once per batch at ingest and
  * NEVER again, so the data card is always current at zero recompute
  * cost. Cross-doc statistics that are not sum-mergeable (duplicate
  * ranks, flags over them) deliberately stay out: they belong to the
  * [[DedupIndex]] family, which maintains the hash-level detail.
  *
  * [[refreshFromDiff]] is the q159 discipline: a republished corpus
  * generation updates the ledger through its snapshot-diff manifest —
  * delete partials re-derived from the removed+changed docs' OLD
  * text, append partials from the added+changed docs' NEW text; the
  * unchanged mass contributes nothing. Post-refresh [[profile]] is
  * bit-equal to aggregating the new generation directly (integer sums
  * commute; the one ratio divides net integers — the q163 gate).
  */
object StatsLedger {

  private[graft] val Logicals = Seq("stats_ledger")

  private def ledger(prefix: String, gen: Long): String =
    Generations.physical(prefix, "stats_ledger", gen)

  /** One tokenization per batch feeds the partial; a takedown (w = -1)
    * re-derives rows matching its insert bit-for-bit. Rows carry the
    * manifest batch id `b`; callers run it inside a [[Generations]]
    * bracket. */
  private def writeAll(df: DataFrame, textCol: String, srcCol: String,
                       prefix: String, w: Int)(gen: Long, b: Long): Unit = {
    val partial = df
      .select(col(srcCol).as("source"),
        length(col(textCol)).cast("long").as("n_chars"),
        TextOps.words(col(textCol)).as("wds"))
      .select(col("source"), col("n_chars"),
        size(col("wds")).cast("long").as("n_tokens"),
        size(filter(col("wds"), x => x.isin("the", "a", "of", "and")))
          .cast("long").as("n_stop"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_stop")).as("n_stop"),
        sum(when(col("n_tokens") < 20, 1L).otherwise(0L)).as("n_short"))
      .withColumn("w", lit(w)).withColumn("b", lit(b))
    Sinks.saveTable(partial.coalesce(1), ledger(prefix, gen),
      Generations.modeOf(b))
  }

  def write(df: DataFrame, textCol: String, srcCol: String,
            prefix: String): Unit =
    Generations.bootstrap(df.sparkSession, prefix, None)(
      writeAll(df, textCol, srcCol, prefix, w = 1))

  def append(df: DataFrame, textCol: String, srcCol: String,
             prefix: String): Unit =
    Generations.batch(df.sparkSession, prefix)(
      writeAll(df, textCol, srcCol, prefix, w = 1))

  def delete(df: DataFrame, textCol: String, srcCol: String,
             prefix: String): Unit =
    Generations.batch(df.sparkSession, prefix)(
      writeAll(df, textCol, srcCol, prefix, w = -1))

  /** Update the ledger for a republished corpus generation through
    * its diff manifest — cost ∝ |delta|, never |corpus|. The diff
    * signature is (text, source) — the ledger's partials derive from
    * BOTH, so a doc whose source is re-attributed with unchanged text
    * must read 'changed' (delete under the old source, append under
    * the new) or the data card silently keeps the stale attribution;
    * to_json(struct(…)) keeps null text distinct from empty. */
  def refreshFromDiff(oldGen: DataFrame, newGen: DataFrame,
                      idCol: String, textCol: String, srcCol: String,
                      prefix: String): Unit =
    // both legs share ONE manifest batch id and ONE commit marker — the
    // refresh is all-or-nothing against readers and crashes
    Generations.batch(oldGen.sparkSession, prefix) { (g, b) =>
      TextOps.refreshViaDiff(oldGen, newGen, idCol,
        to_json(struct(col(textCol), col(srcCol))))(
        writeAll(_, textCol, srcCol, prefix, w = -1)(g, b),
        writeAll(_, textCol, srcCol, prefix, w = 1)(g, b))
    }

  /** Compact the ledger into the next generation: one netted row per
    * source, then the commit-marker flip + GC (the [[Bm25Index.compact]]
    * stats posture). */
  def compact(spark: SparkSession, prefix: String): Unit =
    Generations.rebuild(spark, prefix, Logicals) { (st, ng) =>
      val net = netBySource(spark, prefix, st)
        .filter(col("n_docs") =!= 0)
        .withColumn("w", lit(1)).withColumn("b", lit(0L))
      Sinks.saveTable(net.coalesce(1), ledger(prefix, ng))
    }

  /** The ledger's visible partials at committed state `st`, each count
    * summed with its sign `w` per source. */
  private def netBySource(spark: SparkSession, prefix: String,
                          st: (Long, Seq[Long])): DataFrame = {
    val sums = Seq("n_docs", "n_tokens", "n_chars", "n_stop", "n_short")
      .map(c => sum(col(c) * col("w")).as(c))
    spark.table(ledger(prefix, st._1))
      .filter(Generations.visibleIn(st._2))
      .groupBy("source")
      .agg(sums.head, sums.tail: _*)
  }

  /** Finish the reduce: the live per-source data card. One scan of a
    * |sources × batches|-row ledger — no corpus read. */
  def profile(spark: SparkSession, prefix: String): DataFrame =
    netBySource(spark, prefix, Generations.committedState(spark, prefix))
      .filter(col("n_docs") > 0)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round(col("n_stop") / col("n_tokens"), 6).as("stop_ratio"),
        col("n_short"))
      .orderBy("source")
}
