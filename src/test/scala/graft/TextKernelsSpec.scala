package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TextOps.{hash7, shingles, words}

/** Pins the native text kernels (`graft_hashed_shingles`,
  * `graft_simhash`) bit-equal to the Column-composed forms they replace
  * — the legacy forms ARE the executable specification (and the shape
  * the DuckDB oracle mirrors), so any divergence in trim/split/md5/bit
  * semantics fails here before it can reach the correctness gate.
  */
class TextKernelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Whitespace/unicode/empty edge cases the Spark split semantics make
    * treacherous: ASCII-space-only trim, trailing-empty tokens from
    * limit -1, multi-byte UTF-8 words.
    */
  private val corpus: Seq[Option[String]] = Seq(
    None,
    Some(""),
    Some(" "),
    Some("   "),
    Some("a"),
    Some("a b"),
    Some("a b c"),
    Some("a b c d e"),
    Some("  leading and trailing  "),
    Some("a\nb\tc d"),          // \n\t survive trim → extra split points
    Some("a b c\n"),            // trailing \n → trailing "" word
    Some("\ta b"),              // leading \t survives trim
    Some("a  b   c"),           // runs of spaces collapse
    Some("a b c a b c a b c"),  // duplicate shingles
    Some("héllo wörld ñandú çedilla über"),
    Some("emoji 🏠 test 🏠 emoji 🏠 test"),
    Some("the quick brown fox jumps over the lazy dog"),
    Some(Seq.tabulate(60)(i => s"w${i % 17}").mkString(" ")))

  private def df = corpus.toDF("text")
    .withColumn("doc_id", monotonically_increasing_id())

  test("graft_hashed_shingles == legacy Column form (n = 2, 3, 5)") {
    for (n <- Seq(2, 3, 5)) {
      val rows = df.select(
        TextOps.hashedShingleSet(col("text"), n).as("got"),
        LegacyTextKernels.legacyHashedShingleSet(col("text"), n).as("want"),
        col("text")).collect()
      for (r <- rows)
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n text=${r.get(2)}")
    }
  }

  test("graft_simhash == legacy explode/aggregate form (28- and 56-bit)") {
    for (salts <- Seq(Seq(""), Seq("", "#"))) {
      val got = TextOps.simhashWideDf(df, "doc_id", "text", salts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = LegacyTextKernels.legacySimhashWideDf(df, "doc_id", "text", salts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"salts=$salts")
    }
  }

  test("kernels == legacy on a randomized corpus (whitespace fuzz)") {
    val rnd = new scala.util.Random(20260812)
    val glyphs = Vector("a", "bb", "ccc", "Ж", "ñ", "🏠", "", " ", "\n",
      "\t", "  ", "x1", "42")
    val texts = (0 until 300).map { _ =>
      Some((0 until rnd.nextInt(30)).map(_ => glyphs(rnd.nextInt(glyphs.size)))
        .mkString(" "))
    } :+ None
    val fuzz = texts.toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val sh = fuzz.select(
      TextOps.hashedShingleSet(col("text")).as("got"),
      LegacyTextKernels.legacyHashedShingleSet(col("text")).as("want"), col("text"))
      .collect()
    for (r <- sh)
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"text=${r.get(2)}")
    val got = TextOps.simhashWideDf(fuzz, "doc_id", "text", Seq("", "#"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = LegacyTextKernels.legacySimhashWideDf(fuzz, "doc_id", "text", Seq("", "#"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("null semantics: empty array / zero, never null") {
    val r = Seq(Option.empty[String]).toDF("text")
      .select(TextOps.hashedShingleSet(col("text")).as("sh"),
        call_function("graft_simhash", col("text"), array(lit(""))).as("sim"))
      .collect().head
    assert(!r.isNullAt(0) && r.getSeq[Long](0).isEmpty)
    assert(!r.isNullAt(1) && r.getLong(1) == 0L)
  }

  test("simhash plan is row-local (no shuffle) and codegen compiles strictly") {
    val plan = TextOps.simhash56Df(
      spark.range(10).selectExpr("id", "cast(id as string) AS text"),
      "id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"simhash grew a shuffle:\n$plan")
    assert(plan.contains("graft_simhash"), plan)
    val strict = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = spark.range(100)
        .selectExpr("id", "concat('w', cast(id % 7 as string), ' x y z') AS text")
        .selectExpr("graft_hashed_shingles(text, 3) AS sh",
          "graft_simhash(text, array('', '#')) AS sim")
        .collect()
      assert(rows.forall(r => r.getSeq[Long](0).nonEmpty && r.getLong(1) != 0L))
    } finally strict match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("salt/width validation and arity errors name the function") {
    val e = intercept[Exception](
      spark.sql("SELECT graft_simhash('a b c', array('', '#', 'x'))").collect())
    assert(e.getMessage.contains("graft_simhash"), e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_hashed_shingles('a b c')").collect())
    assert(e2.getMessage.contains("graft_hashed_shingles"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql("SELECT graft_hashed_shingles('a b c', 0)").collect())
    assert(e3.getMessage.contains("graft_hashed_shingles"), e3.getMessage)
    // a trailing third argument is an arity error, not a hash mode
    val e4 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_hashed_shingles('a b c', 3, true)").collect())
    assert(e4.getMessage.contains("`graft_hashed_shingles`"), e4.getMessage)
    val e5 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_simhash('a b c', array(''), true)").collect())
    assert(e5.getMessage.contains("`graft_simhash`"), e5.getMessage)
  }
}

/** The Column-composed reference forms the native text kernels replaced,
  * kept as their executable specifications: TextKernelsSpec pins the
  * kernels bit-equal to these.
  */
object LegacyTextKernels {

  /** The Column-composed form [[TextOps.hashedShingleSet]] replaces (kept as the
    * kernel's executable specification + oracle-SQL mirror).
    */
  def legacyHashedShingleSet(text: Column, n: Int = 3): Column =
    array_sort(array_distinct(transform(
      array_distinct(shingles(text, n)), s => hash7(s))))

  /** The explode → bit-sum aggregate form [[TextOps.simhashWideDf]] replaces
    * (kept as the kernel's executable specification).
    */
  def legacySimhashWideDf(df: DataFrame, idCol: String,
                          textCol: String,
                          salts: Seq[String]): DataFrame = {
    require(salts.nonEmpty && 28 * salts.size <= 63,
      "width must fit a single long")
    val ex = salts.zipWithIndex.foldLeft(
      df.select(col(idCol).as("doc_id"),
        explode(array_distinct(words(col(textCol)))).as("w"))) {
      case (d, (s, k)) => d.withColumn(s"h$k",
        hash7(if (s.isEmpty) col("w") else concat(col("w"), lit(s))))
    }
    val aggs = for { k <- salts.indices; j <- 0 until 28 }
      yield sum((shiftright(col(s"h$k"), j).bitwiseAND(1)) * 2 - 1)
        .as(s"b${k}_$j")
    val bitSums = ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val sim = (for { k <- salts.indices; j <- 0 until 28 }
      yield when(col(s"b${k}_$j") > 0, lit(1L << (28 * k + j))).otherwise(0L))
      .reduce(_ + _)
    df.select(col(idCol).as("doc_id"))
      .join(bitSums, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(sim, lit(0L)).as("simhash"))
  }
}
