package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Structural gate for the default-ON disc-break scan (r14 verdict
  * task #6): the at-scale defense is "extra window EXPRESSIONS, not extra plan
  * passes" — discBreaks=on may add at most ONE WindowExec over the
  * off plan and must share its exchanges and sorts exactly. A
  * regression back to the withColumn-per-stat chain (8 WindowExecs,
  * measured ~2× on/off at three decades before the r14 collapse)
  * would pass ScaleSweepSpec (d)'s RATIO gate at small corpora while
  * re-introducing the fixed cost; this spec pins the plan shape
  * itself, data-independent, no timing flake. Measured shape at r14:
  * on 3 / off 2 WindowExecs, 2 = 2 shuffles, 2 = 2 sorts.
  */
class DiscPlanSpec extends SparkSpec {

  private def counts(disc: Boolean): (Int, Int, Int) = {
    import spark.implicits._
    // tiny inline series with the production schema — plan shape is
    // data-independent, so no ScaleFixture build is needed here
    val series = (0L until 64L).map(i =>
        ("p0", i, i * 1800000000L, 1.0 + 0.001 * (i % 7), 0.01))
      .toDF("part", "id", "t_us", "value", "err")
    val df = graft.ops.Detrend.detrend(series, Seq("part"), "t_us", "id",
      "value", "err", gapUs = 86400000000L, mode = "GaussianProcess",
      timescaleDays = 2.0, discBreaks = disc)
    val plan = df.queryExecution.executedPlan
    (collectAll(plan) { case e: ShuffleExchangeExec => e }.size,
     collectAll(plan) { case w: WindowExec => w }.size,
     collectAll(plan) { case s: SortExec => s }.size)
  }

  test("disc-break scan adds <=1 WindowExec and ZERO exchanges/sorts") {
    // structural audit wants the raw plan, not an AQE wrapper whose
    // children materialize lazily — disable adaptive for this spec
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (exOn, winOn, sortOn) = counts(disc = true)
      val (exOff, winOff, sortOff) = counts(disc = false)
      info(s"disc=on  shuffles=$exOn windowExecs=$winOn sorts=$sortOn")
      info(s"disc=off shuffles=$exOff windowExecs=$winOff sorts=$sortOff")
      assert(winOn <= winOff + 1,
        s"disc-break scan regressed to a window CHAIN: $winOn vs $winOff+1 WindowExecs")
      assert(exOn === exOff, s"disc-break scan added a shuffle: $exOn vs $exOff")
      assert(sortOn === sortOff, s"disc-break scan added a sort: $sortOn vs $sortOff")
    }
  }
}
