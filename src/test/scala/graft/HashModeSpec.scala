package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The xxhash64 PRODUCTION hash mode (the `xx` flag on the shingle /
  * simhash builders): kernel-vs-Column parity in xx mode, and the
  * equivalence claim behind the flag — on a collision-free corpus the
  * near-dup RESULTS are identical across hash modes, because Jaccard
  * over hashed shingle sets is hash-invariant wherever the sets stay
  * collision-free. Oracle-gated queries stay on md5 (DuckDB can
  * reproduce it); this suite is what makes "swap in xxhash64 at scale"
  * a tested property instead of a comment.
  */
class HashModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // deterministic corpus: 6 templates × 3 variants (copy / copy / one
  // appended word → jaccard 12/13 ≈ 0.92) + 6 unrelated singletons —
  // the same planted-dup shape the streaming equivalence spec uses
  private lazy val corpus: Seq[(Long, String)] = {
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa")
    def doc(t: Int, v: Int): String = {
      val base = (0 until 14).map(i => words((t * 5 + i) % 16))
      (if (v == 2) base :+ words((t * 5 + 7) % 16) else base)
        .mkString(" ")
    }
    val dups = for (t <- 0 until 6; v <- 0 until 3)
      yield ((t * 10 + v).toLong, doc(t, v))
    val singles = for (t <- 0 until 6)
      yield ((1000 + t).toLong, (0 until 14).map(i =>
        words((t * 3 + i * 2) % 16) + i.toString).mkString(" "))
    dups ++ singles
  }

  test("xx-mode kernel matches the Column-composed xxhash64 form bit-for-bit") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val both = df.select(
      TextOps.hashedShingleSet(col("text"), xx = true).as("kernel"),
      LegacyTextKernels.legacyHashedShingleSet(col("text"), xx = true).as("column"))
    assert(both.filter(not(col("kernel") === col("column"))).count() == 0)
    // and hash7Xx really is the low-28-bit fold of Spark's xxhash64
    val folds = df.select(TextOps.hash7Xx(col("text")).as("h")).as[Long].collect()
    assert(folds.forall(h => h >= 0 && h < (1L << 28)))
  }

  test("xx-mode simhash kernel matches the explode-aggregate form") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val k = TextOps.simhashWideDf(df, "doc_id", "text", Seq("", "#"), xx = true)
    val c = LegacyTextKernels.legacySimhashWideDf(df, "doc_id", "text", Seq("", "#"), xx = true)
    val joined = k.withColumnRenamed("simhash", "sk")
      .join(c.withColumnRenamed("simhash", "sc"), Seq("doc_id"))
    assert(joined.count() == corpus.size)
    assert(joined.filter(col("sk") =!= col("sc")).count() == 0)
    // and xx mode produces DIFFERENT fingerprints than md5 mode (the
    // flag is actually wired through, not ignored)
    val m = TextOps.simhashWideDf(df, "doc_id", "text", Seq("", "#"))
    val cross = k.withColumnRenamed("simhash", "sk")
      .join(m.withColumnRenamed("simhash", "sm"), Seq("doc_id"))
    assert(cross.filter(col("sk") =!= col("sm")).count() > 0)
  }

  test("md5 and xxhash64 modes yield identical near-dup results on a collision-free corpus") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    // collision-free precondition, checked not assumed: under BOTH
    // hashes every doc's hashed-set size equals its distinct string
    // shingle count
    val sizes = df.select(
      size(array_distinct(TextOps.shingles(col("text")))).as("n"),
      size(TextOps.hashedShingleSet(col("text"))).as("md5n"),
      size(TextOps.hashedShingleSet(col("text"), xx = true)).as("xxn"))
    assert(sizes.filter(col("n") =!= col("md5n") ||
      col("n") =!= col("xxn")).count() == 0)
    def verified(xx: Boolean): Set[(Long, Long, Double)] =
      TextOps.lshVerifiedPairs(df, "doc_id", "text", xx = xx)._2
        .filter(col("jaccard") >= 0.8)
        .as[(Long, Long, Double)].collect().toSet
    val md5Pairs = verified(xx = false)
    Caches.clear()
    val xxPairs = verified(xx = true)
    Caches.clear()
    // identical docs collide in every band under ANY hash, and Jaccard
    // values are set-structural — so the threshold-verified pair set is
    // hash-independent on this corpus (the ≥0.8 exact copies, each
    // template's v0/v1 pair plus the near-identical v2 partners)
    assert(md5Pairs == xxPairs,
      s"md5=${md5Pairs.toSeq.sorted} xx=${xxPairs.toSeq.sorted}")
    assert(md5Pairs.nonEmpty && md5Pairs.exists(_._3 == 1.0) &&
      md5Pairs.exists(_._3 < 1.0))
  }
}
