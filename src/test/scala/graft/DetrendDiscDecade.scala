package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The disc-break detrend at corpus scale (r13 verdict #3), used by
  * ScaleSweepSpec (d): a corpus-PROPORTIONAL series (the ScaleFixture
  * events table: user-keyed, rows ∝ mult, ~26 s pairs every ~11 h, so
  * a 24 h gap keeps one region per user) detrended in GP mode with
  * discBreaks on or off. The on/off ratio should FALL toward the
  * marginal cost of the extra window as the corpus term swamps the
  * fixed cost; the GP Kalman/RTS kernel is O(n) per region, so it
  * cannot mask a super-linear scan. The 1×/10×/100× ladder the
  * standalone runner measured is in BASELINE.md §scale (the runner is
  * in git at 2f4e032).
  *
  * Values are scaled to flux-like ~1.0 (events `value`/200) so the
  * 1e6-quantized break statistics sit deep inside the int64 envelope
  * TsOps.withRegionDisc enforces.
  */
object DetrendDiscDecade {
  def series(spark: SparkSession, d: String): DataFrame =
    graft.core.Tables.events(spark, d).select(
      col("user_id").cast("string").as("part"),
      col("event_id").as("id"),
      unix_micros(col("ts")).as("t_us"),
      (col("value") / 200.0).as("value"),
      lit(0.01).as("err"))

  def run(spark: SparkSession, d: String, discBreaks: Boolean): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = graft.ops.Detrend.detrend(series(spark, d), Seq("part"),
      "t_us", "id", "value", "err", gapUs = 86400000000L,
      mode = "GaussianProcess", timescaleDays = 2.0,
      discBreaks = discBreaks).queryExecution.toRdd.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }
}
