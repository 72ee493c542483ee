package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built, and the one read of
  * the three sizing variables:
  *
  *  - `SPARK_GRAFT_CPUS` (default 4): local cores. Single-shot timings
  *    at sf0.1 are dominated by per-plan fixed cost (codegen/JIT + task
  *    scheduling), so a small local parallelism wins there (measured:
  *    4 threads ≈ 51 s, 32 threads ≈ 65 s for the same 66 queries).
  *  - `SPARK_GRAFT_PARTS` (default = cpus): shuffle partitions. The
  *    ×1000 corpus needs them scaled past the core count so per-task
  *    hash state fits execution memory — the knob a cluster deployment
  *    scales with the data.
  *  - `SPARK_GRAFT_STREAM_PARTS` (default 2): state partitions of the
  *    streaming queries (see `TimeSeries.streamSession`). It is sized
  *    by per-batch row volume, not by cores, so an at-scale run must
  *    raise it; [[local]] logs the value it will use.
  */
object Session {
  private def env(name: String, default: Int): Int =
    sys.env.get(name).map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name=$v: expected a positive integer")))
      .getOrElse(default)

  val cpus: Int = env("SPARK_GRAFT_CPUS", 4)
  val parts: Int = env("SPARK_GRAFT_PARTS", cpus)
  val streamParts: Int = env("SPARK_GRAFT_STREAM_PARTS", 2)

  /** Session at the environment's sizing. */
  def local(): SparkSession = local(cpus, parts)

  /** `local[cpus]` session with `parts` shuffle partitions, AQE on,
    * UTC, no UI, ERROR logging, and parquet TIMESTAMP(NANOS) read as
    * long (normalized to micros by `Tables.events`). */
  def local(cpus: Int, parts: Int): SparkSession = {
    if (SparkSession.getDefaultSession.isEmpty)
      System.err.println(s"[session] local[$cpus] shuffle.partitions=$parts " +
        s"stream state partitions=$streamParts (SPARK_GRAFT_STREAM_PARTS)")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
