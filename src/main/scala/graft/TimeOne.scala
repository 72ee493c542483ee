package graft

import org.apache.spark.sql.SparkSession

/** Query timing under Bench conditions (same `Session`, same warmup),
  * for iterating on a few queries' plans without a full bench run:
  * `runMain graft.TimeOne <q1[,q2,...]> [reps] [sfDir]` prints every
  * rep and the median per query.
  *
  * The warmup is `Bench.warmup` — tables plus the same 8-query JIT
  * pass (r15: warming only tables left the ~3 s micro-batch-runtime
  * JIT inside the first rep of any streaming query, st9's "9.3 s first
  * run" in the r14 triage; with the warmup shared, rep1 is comparable
  * to a Bench measurement). Set SPARK_GRAFT_NOWARM=1 to skip the
  * query warmup for quick plan iteration where absolute floors don't
  * matter. */
object TimeOne {
  /** Runs `query` over `sfDir` `reps` times through the full physical
    * plan (`Exec.runCount`), printing each rep and the median; returns
    * the median seconds. `tag` labels the lines (e.g. a scale). */
  def time(spark: SparkSession, query: String, reps: Int, sfDir: String,
           tag: String = ""): Double = {
    val label = if (tag.isEmpty) query else s"$query $tag"
    val secs = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val n = graft.core.Exec.runCount(SparkEntry.queries(query)(spark, sfDir))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[timeone] $label rep$i: $s%.2f s ($n rows)")
      spark.catalog.clearCache(); System.gc()
      s
    }
    val median = secs.sorted.apply(reps / 2)
    println(f"[timeone] $label median: $median%.2f s")
    median
  }

  def main(args: Array[String]): Unit = {
    val queries = args(0).split(',').toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local()
    Bench.warmup(spark, sfDir,
      queries = !sys.env.get("SPARK_GRAFT_NOWARM").contains("1"))
    queries.foreach(time(spark, _, reps, sfDir))
    spark.stop()
  }
}
