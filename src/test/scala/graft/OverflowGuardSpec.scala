package graft

import org.apache.spark.sql.functions._
import graft.ops.TsOps

/** The withRegionDisc int64 overflow envelope (ops/TsOps.scala, r13
  * advice, ENFORCED in-plan r14, SPECCED r15 — the guard is
  * load-bearing: BASELINE.md §r14 records that RAW events `value`s
  * genuinely overflow Σ(Δvq²) at ~6 600 rows/user, so the raise path
  * is reachable in production shapes).
  *
  * Measured layering (this spec's own finding, r15): Spark 4 runs
  * ANSI mode by DEFAULT, so a GROSS overflow raises
  * ARITHMETIC_OVERFLOW from the window SUMS themselves before the
  * envelope projection ever evaluates — loud either way, never a
  * silent wrap. The envelope raise_error therefore owns two regimes:
  *  - the conservative-MARGIN region (bound max|Δvq|²·n or the 1.2e9
  *    frame bound tripped while the actual sums still fit int64),
  *    where it fires with a DIAGNOSTIC message naming the offending
  *    maxima — ANSI cannot see these, yet the 20σ threshold algebra
  *    is already at the precision cliff; and
  *  - deployments that opt out with spark.sql.ansi.enabled=false
  *    (legacy wrap semantics), where Σ ≤ max²·n makes the envelope a
  *    SOUND guard: every genuine overflow trips the bound, so the
  *    raise replaces the silent wrap entirely.
  * Production response at 100 TB: quantize so vq ≤ 1.2e9 (the /200
  * cents→micro scaling the declared events queries apply).
  */
class OverflowGuardSpec extends SparkSpec {

  private def series(n: Int, v: Long => Long) = {
    import spark.implicits._
    (0L until n.toLong).map(i => ("p0", i, i * 1800000000L, v(i)))
      .toDF("part", "id", "t_us", "vq")
  }

  /** Force the plan (the raise sits in a projection) and return the
    * deepest raise message, or None if the action succeeds. */
  private def raiseMsg(df: org.apache.spark.sql.DataFrame): Option[String] =
    try { df.agg(max(col("region"))).collect(); None }
    catch { case e: Throwable =>
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
      Some(msgs.find(_.contains("overflow envelope"))
        .orElse(msgs.find(_.contains("ARITHMETIC_OVERFLOW")))
        .getOrElse(msgs.mkString(" | ")))
    }

  private def disc(df: org.apache.spark.sql.DataFrame) =
    TsOps.withRegionDisc(df, Seq("part"), "t_us", "id", "vq", 3600000000L)

  test("frame-bound margin raises the DIAGNOSTIC envelope; /200 twin passes") {
    // 1.21e9: past the 1.2e9 frame bound, but the actual 6-row
    // Σ(vq²) = 6·1.4641e18 = 8.78e18 still fits int64 — ANSI stays
    // silent, so ONLY the envelope can catch the precision cliff here
    val raw = series(2000, i => 1210000000L + (i % 97) * 1000L)
    val msg = raiseMsg(disc(raw))
    assert(msg.isDefined, "expected the envelope raise in the frame-bound margin")
    assert(msg.get.contains("withRegionDisc int64 overflow envelope exceeded"),
      s"wanted the diagnostic envelope, got: ${msg.get}")
    assert(msg.get.contains("max|vq|="), s"diagnostic should name max|vq|: ${msg.get}")
    // the production response: quantize /200 → max|vq| ≈ 6e6, passes
    val scaled = series(2000, i => (1210000000L + (i % 97) * 1000L) / 200L)
    assert(raiseMsg(disc(scaled)).isEmpty, "the /200-scaled twin must pass")
  }

  test("delta-bound margin raises the DIAGNOSTIC envelope, values in-frame") {
    // flat 0 with a final jump to 1.1e9: max|vq| = 1.1e9 ≤ 1.2e9
    // (frame bound passes) and the actual Σ(Δvq²) = 1.21e18 fits, but
    // the bound max|Δvq|²·n = 1.21e18·9999 overflows — the envelope
    // must raise conservatively (the threshold σ algebra is only
    // proven exact under the bound, not under "happened to fit")
    val jump = series(10000, i => if (i == 9999) 1100000000L else 0L)
    val msg = raiseMsg(disc(jump))
    assert(msg.isDefined, "expected the envelope raise in the delta-bound margin")
    assert(msg.get.contains("withRegionDisc int64 overflow envelope exceeded"),
      s"wanted the diagnostic envelope, got: ${msg.get}")
    assert(msg.get.contains("max|dvq|="), s"diagnostic should name max|dvq|: ${msg.get}")
  }

  test("gross overflow is LOUD under default ANSI (never a silent wrap)") {
    // alternating ±1e9: Σ(Δvq²) ≈ 99·4e18 genuinely wraps int64 — the
    // window sums raise ARITHMETIC_OVERFLOW before the envelope
    // projection runs; either raise is acceptable, silence is not
    val alt = series(100, i => if (i % 2 == 0) 1000000000L else -1000000000L)
    val msg = raiseMsg(disc(alt))
    assert(msg.isDefined, "gross overflow must raise, not wrap")
    assert(msg.get.contains("ARITHMETIC_OVERFLOW") || msg.get.contains("overflow envelope"),
      s"expected a loud overflow raise, got: ${msg.get}")
  }

  test("under ansi=false the envelope is the sole guard: gross overflow still raises") {
    // legacy wrap semantics: the window sums silently wrap, so ONLY
    // the envelope stands between the 20σ threshold and garbage —
    // Σ ≤ max²·n guarantees the bound trips on every genuine wrap
    withConf("spark.sql.ansi.enabled" -> "false") {
      val alt = series(100, i => if (i % 2 == 0) 1000000000L else -1000000000L)
      val msg = raiseMsg(disc(alt))
      assert(msg.isDefined, "the envelope must raise where ANSI would have wrapped")
      assert(msg.get.contains("withRegionDisc int64 overflow envelope exceeded"),
        s"wanted the diagnostic envelope under legacy semantics, got: ${msg.get}")
    }
  }

  test("flux-like design point passes with the guard in the plan") {
    val flux = series(2000, i =>
      1000000L + ((i * i % 65536) * 1103515245L + i * 12345L) % 10000L - 5000L)
    val out = disc(flux)
    assert(raiseMsg(out).isEmpty)
    assert(out.agg(countDistinct(col("region"))).collect()(0).getLong(0) >= 1L)
  }
}
