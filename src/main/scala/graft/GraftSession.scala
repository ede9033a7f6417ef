package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-aware defaults every entry point shares.
  *
  * The specs run `local[2]`, the benchmark `local[nproc]`, and the mains
  * `local[SPARK_GRAFT_CPUS]` (default 32), but every knob is chosen as if
  * the same plan ran on a 1000-executor cluster: AQE on (runtime coalesce +
  * skew-join splitting), shuffle partitions sized to the parallelism rather
  * than the 200 default, and UTC so date bucketing is deterministic.
  */
object GraftSession {
  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's generated-class cache holds 100 entries by default, but one
      // listing cycle compiles more than 100 distinct classes and one index
      // maintenance round about 230, so every call recompiled its plan.
      // The cache is JVM-global and sized once, from the conf of the first
      // query to generate code, so this is fixed here for every entry point.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // events.parquet has shipped as TIMESTAMP(NANOS), which vanilla
      // Spark rejects outright; this flag reads that layout as Long ns
      // so Tables.normalizeTs can convert it (exactly DuckDB's
      // truncate-to-micros). Harmless for the µs layouts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native expression library (graft_to_number_native, …)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // the async checksum writer deadlocks state-store checkpoint commits
      // in constrained single-JVM pools (task thread parks forever in
      // ChecksumCheckpointFileManager.awaitResult); local checkpoints are
      // ephemeral so integrity checksums buy nothing here
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** A positive-integer env knob: `default` when `name` is unset, and
    * anything else that is not a positive integer fails naming both the
    * variable and the value. */
  private[graft] def positiveIntEnv(name: String, default: Int,
      env: Map[String, String] = sys.env): Int =
    env.get(name).fold(default) { v =>
      scala.util.Try(v.trim.toInt).toOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }

  /** The local master's core count, `SPARK_GRAFT_CPUS` (default 32). */
  def cpus: String = positiveIntEnv("SPARK_GRAFT_CPUS", 32).toString

  def get(appName: String): SparkSession = {
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
