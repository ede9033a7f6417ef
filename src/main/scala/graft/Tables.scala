package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftHooks, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  * One parquet file per table under the scale-factor dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")._1

  /** (path, length, modification time) of each file, sorted by path. */
  private[graft] type Stamp = Seq[(String, Long, Long)]

  private[graft] def stamp(files: Seq[FileStatus]): Stamp =
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sortBy(_._1)

  /** The schema each input was last inferred with, and the stamp of the
    * files it was inferred from, keyed by path and by the session's
    * settings. Parquet inference (a one-task footer-reading job) reads
    * only settings, so two sessions share an entry exactly when every
    * setting agrees, and the memo holds no reference to a session. */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Stamp, StructType)]()

  /** A fresh DataFrame over the parquet input at `path`, plus the file
    * listing it was stamped with. The schema is inferred once per file
    * state: while no file under `path` changes name, length or mtime,
    * later reads pass the remembered schema and start no Spark job.
    * The listing precedes the inference, so a rewrite racing it leaves
    * an older stamp that the next read re-infers past. The listing is
    * of the files the reader reads ([[listFiles]]). */
  private def read(spark: SparkSession, path: String): (DataFrame, Seq[FileStatus]) = {
    val files = listFiles(spark, new Path(path))
    val now = stamp(files)
    val key = (path, spark.conf.getAll)
    val df = Option(schemas.get(key)) match {
      case Some((`now`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val inferred = spark.read.parquet(path)
        schemas.put(key, (now, inferred.schema))
        inferred
    }
    (df, files)
  }

  /** The files Spark's reader reads under `p`: every file below it
    * (recursively) whose name and whose directories' names Spark does
    * not hide (`_SUCCESS`, `.crc`, other `_`/`.` names), or `p` itself
    * when it is a file; empty when it does not exist, which leaves the
    * missing-path error to the parquet read. */
  private[graft] def listFiles(spark: SparkSession, p: Path): Seq[FileStatus] = {
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => GraftHooks.isHidden(c.getPath.getName))
        .sortBy(_.getPath.getName).flatMap(walk)
    try walk(fs.getFileStatus(p))
    catch { case _: FileNotFoundException => Nil }
  }

  /** A valid, collision-free warehouse-table prefix for a per-dataset
    * shared standing build (the q165/q169 staged-index discipline):
    * tag + the SANITIZED dataset path — injective up to
    * non-alphanumeric runs, so distinct dirs never alias (an earlier
    * hashCode-based prefix could collide, and abs(Int.MinValue) is
    * negative). */
  private[graft] def tablePrefix(tag: String, d: String): String =
    tag + "_" + d.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTsNaive(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTsNaive(load(s, d, "lineitem"), "l_shipdate")
  /** events.ts arrives in whichever parquet layout the generator used:
    * TIMESTAMP(NANOS) (surfaces as Long ns with
    * spark.sql.legacy.parquet.nanosAsLong=true), plain timestamp[us]
    * (surfaces as TIMESTAMP_NTZ in Spark 4), or UTC-adjusted
    * timestamp[us] (already TIMESTAMP). Normalize all three to
    * TimestampType so downstream unix_micros/timestamp_micros kernels
    * always see the same type and value.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"), "ts")

  /** Contract: after this call, `tsCol` is TimestampType with the same
    * µs-since-epoch value DuckDB reads from the file (session TZ is
    * pinned UTC, so the NTZ→TZ cast is value-preserving).
    */
  def normalizeTs(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        // Integer division, not floor(double): 2020s ns epochs (~1.7e18)
        // exceed double's 53-bit mantissa and would round across µs
        // boundaries; `div` matches DuckDB's exact integer truncation.
        df.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }
  /** [[normalizeTs]]'s NAIVE-side twin for date-like columns that
    * queries emit RAW (o_orderdate, l_shipdate): the driver's oracle
    * compare reads DuckDB's output of a `timestamp[us]` file as a
    * naive timestamp, so these columns must stay TIMESTAMP_NTZ — but a
    * generator flip to TIMESTAMP(NANOS) (Long under nanosAsLong) or to
    * UTC-adjusted µs must not change what downstream sees. All layouts
    * land on TimestampNTZType; UTC session makes every cast
    * value-preserving. (events.ts goes the OTHER way, to TimestampType,
    * because its µs-arithmetic kernels require TIMESTAMP — it is never
    * emitted raw.)
    */
  def normalizeTsNaive(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol,
          expr(s"timestamp_micros($tsCol div 1000)").cast(TimestampNTZType))
      case TimestampType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampNTZType))
      case _ => df
    }

  /** Fan a TOO-NARROW scan out to the session's parallelism — guide
    * §2.5's "input skew: one huge unsplittable file" case. The corpus
    * ships as ONE parquet file per scale factor, so every scan-side
    * stage of a text pass (winnowing, tokenization, gram hashing — the
    * CPU-heavy row-local kernels) runs as a SINGLE task no matter how
    * many cores the session has; measured: q174's decontaminate stage
    * spent 4.6 s in one task on a 32-core box. Gated on the estimated
    * split count of the input files vs the default parallelism, so at
    * production scale (splits ≫ cores) this is the identity — the
    * fan-out exchange exists exactly when the scan cannot feed the
    * box. The partition count is PINNED (repartition-by-number, not
    * by-column): AQE sizes partitions by bytes and would coalesce a
    * 600 KB corpus right back to one task — bytes are the wrong proxy
    * for per-row CPU here, which is the whole point of the gate.
    */
  private def fanOutSmall(s: SparkSession, df: DataFrame,
                          files: Seq[FileStatus], key: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val conf = s.sessionState.conf
    val maxB = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val splits = math.max(1L,
      (files.map(st => math.max(st.getLen, openCost)).sum + maxB - 1) / maxB)
    if (splits >= par) df else df.repartition(par, col(key))
  }

  def documents(s: SparkSession, d: String): DataFrame = {
    val (df, files) = read(s, s"$d/documents.parquet")
    fanOutSmall(s, df, files, "doc_id")
  }
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
