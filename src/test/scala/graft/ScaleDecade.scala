package graft

/** Scale ladder for the heavy queries (NOT part of `sbt test` — run it
  * manually): builds the 1×/10×/100× ScaleFixture corpora (5 k → 500 k
  * docs, 100 k → 10 M events, 600 k → 60 M lineitem rows) and times
  * each heavy query on each through `TimeOne.time`, under one
  * `Session` config at every size so the ratios are internally
  * consistent. ScaleSweepSpec asserts the 1×→10× decade on every
  * `sbt test`; this runner extends the measurement one more decade
  * where a spec would cost too much suite time. Numbers are recorded
  * in BASELINE.md §scale, measured at SPARK_GRAFT_CPUS=32; the ×1000
  * column also scaled SPARK_GRAFT_PARTS (recorded per table there).
  *
  * Run: `SPARK_DRIVER_MEM=24g sbt "Test/runMain graft.ScaleDecade [mults] [queries]"`
  * (comma-separated; defaults 1,10,100 and the full heavy list).
  */
object ScaleDecade {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val mults = args.headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 10, 100))
    val dirs = mults.map(m => m -> ScaleFixture.dir(spark, m)).toMap
    val all = Seq("d2_ngram_jaccard", "d3_minhash_lsh",
      "d4b_simhash_pairs", "d15_components", "d25_substring_spans",
      "d27_bpe_encode", "d28_bigram_lm",
      // r6 late ops: sketch (bounded cells), bounded-degree graph,
      // histogram-narrowed quantiles — their scale claims get the
      // second measured decade here too
      "d30_hll_cardinality", "d31_knn_triangles", "p3_exact_quantiles",
      // r6 continuation ops: one-shuffle DSIR, bucketed global index,
      // span-scaled lag join, user-keyed cohorts, per-key streaming
      // state, bucketed-cumulative AUC
      "d36_dsir", "o9_global_index", "t17_xcorr", "a16_cohort_retention",
      "st14_stream_ewma", "d38_classifier_auc",
      // r7: the last heavy ops with only one measured decade — the
      // streaming joins/flare kernel, the companion loop (fixed-size
      // sim + a growing min-scan), the grid crossmatch (fixed this
      // round: density-adaptive cells), phash pairs, multi-kernel
      // matched filter
      "st7_stream_join", "st10_stream_flare", "t6b_bls_companions",
      "j11_zone_crossmatch", "m6_image_phash", "t8b_matched_multi",
      // r8: the ingest pipelines scale their FILE COUNTS with the
      // corpus via the _scale_mult marker (800 FITS / 800 HDF5 /
      // 3000-file multi-target dir at ×100); m7 gets its first 100×
      // row; the driver-fit queries (t13c/d/e) are O(1) in the corpus
      // by design — their row here PROVES the only corpus term is the
      // min(ts) anchor scan
      "s14_fits_scan", "s15_hdf5_scan", "px_lightcurve_pipeline",
      "px2_multi_target", "m7_scene_cut", "t13c_mcmc_gp",
      "t13d_mcmc_ld", "t13e_mcmc_ld2",
      // r9: the LD-coefficient and eccentric-RV fits — driver-fit
      // O(1) in the corpus like t13d/e (anchor scan only) — and the
      // exact-occultation eval (generated grid × nodes, anchor only)
      "t13f_mcmc_rv", "t13g_mcmc_ldfit", "t13h_mcmc_rvecc",
      "t12e_model_ldx",
      // r11: the GP-hyperparameter joint fit — driver-fit O(1) in the
      // corpus like the rest of the t13 family (anchor scan only; the
      // per-proposal Riccati/lag-weight rebuild is pure driver math)
      "t13l_mcmc_gphyper",
      // r12: the TTV fit — driver-fit O(1) in the corpus (anchor scan
      // only; 4 per-transit fits fan out as 4 tasks) — and d23, which
      // shares d15's checkpointed band-star graph (the ×1000 column
      // exercises the checkpointReset stats fix through both consumers)
      "t13m_mcmc_ttv", "d23_pagerank",
      // r12 tail: the families still missing a fourth-decade row —
      // streaming sketches (bounded register/cell/quantile state),
      // the in-plan IVF, the FastSS edit-distance join, SCD2
      "st11_stream_hll", "st12_stream_cms", "st13_stream_quantile",
      "e3_ivf_ann", "j10_fuzzy_ed1", "j9_salted_join", "u6_scd2",
      // r13: the disc-break segmentation (fixed-size sim + one anchor
      // scan — the decade rows PROVE corpus-O(1)) and the explicit-edge
      // rebin (events-proportional: one broadcast range join + agg)
      "w2b_disc_segment", "a1b_rebin_edges",
      // r15: the rolling-median detrend — events-proportional
      // (user-keyed ±5-row window, one exchange + sort); added when it
      // joined the ×1000 bit-verified subset so the family's timing
      // and bit evidence travel together
      "t3_detrend_median")
    // optional 2nd arg: comma-separated subset (re-measure selectively)
    val queries = args.lift(1).map(_.split(",").toSeq.filter(all.contains))
      .getOrElse(all)
    Bench.warmup(spark, dirs(mults.head))
    for (q <- queries; m <- mults) TimeOne.time(spark, q, 1, dirs(m), s"x$m")
    spark.stop()
  }
}
