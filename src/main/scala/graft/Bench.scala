package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main. Runs the headline queries on SPARK_GRAFT_SF_DIR and prints
 * ONE JSON line. Per-query time is the best of three runs (the first run
 * pays JIT/codegen warm-up; the reference's notebook timings are likewise
 * warm averages over n runs — BASELINE.md).
 */
object Bench {

  /** Headline set: the workloads with BASELINE.md counterparts plus the
    * scale-path operators. Everything else is correctness-only surface. */
  private val headline = Seq(
    "jac_self_part_ws_t05",     // ≈ profiles 10K/50K whitespace t=0.5 self-join
    "jac_self_part_q3_t05",     // ≈ profiles 10K QGrams t-sweep
    "jac_bf_self_part_ws_t05",  // brute-force ratio (reference wins ~50x at 5K+)
    "jac_rs_cust_supp_q3_t03",  // R×S with widow handling + side choice
    "jac_self_docs_ws_t09",     // near-dup join over documents
    // candidate-explosion regime (BASELINE.md's 45-142 s region at t<=0.4)
    "jac_self_part_ws_t03",
    "jac_self_docs_ws_t05",
    "jac_rs_cust_supp_q3_t02",
    "dedup_minhash_docs",       // MinHash+LSH cascade
    "dedup_minhash_rs_docs",    // incremental: new batch vs corpus, R×S LSH
    // durable-index daily join: the one-time index build + bucketed write is
    // paid by the FIRST of the n runs only (buildIndexOnce), so the reported
    // best-of-n min times the warm catalog read-back join
    "dedup_minhash_rs_indexed_docs",
    "dedup_exact_docs",
    "ann_topk_exact",           // brute-force cosine top-k baseline
    "ann_topk_lsh",             // bucketed scale path
    "ann_topk_ivf",             // inverted-file scale path
    "emb_neardup_lsh",          // bucketed embedding dedup
    "text_stats_docs",
    "winnow_overlap_docs",      // MOSS partial-overlap pairs
    "bm25_topk_docs",           // BM25 keyword retrieval
    "eval_counts_norm_part",    // E1 scale path (equi-join on normalized pair key)
    "dedup_cluster_docs",       // connected components over near-dup pairs
    "fuzzy_cust_names",         // edit-distance join, hot-band salted
    "pipeline_curate_docs",     // the 5-stage curation pipeline end-to-end
    "decontam_docs",            // 13-gram benchmark decontamination
    "shuffle_order_docs",       // deterministic global shuffle (two-pass rank)
    // training-telemetry shapes (round-8 advice #8): sessionization and
    // windowed aggregation are headline event-analytics workloads — bench
    // them so a regression in the window/lag plans surfaces per-round
    "evt_window_agg",
    "evt_json_props",
    "evt_sessionize",
    // round-9 additions — two new multi-shuffle curation signals
    "lm_bigram_docs",           // corpus-trained bigram LM quality score
    "substring_dup_docs",       // span-level exact-substring duplication
    // round-9 additions #2 — DSIR importance resampling (two bigram models +
    // scoring pass) and the durable-IVF warm probe (index build paid by the
    // first run only via buildTableOnce, same convention as the dedup
    // indexed entry above)
    "importance_sample_docs",
    "ann_topk_ivf_indexed",
    // the IVF ingestion shape: threshold near-match probe against the same
    // stored index (no ranking window — the append-mode streaming twin's
    // exact batch plan), warm for the same buildTableOnce reason
    "emb_neardup_ivf_indexed",
    // two-tower RRF fusion — benched so a regression in either tower's
    // ranking plan (BM25 tf shuffle, dense TakeOrdered) surfaces per-round
    "hybrid_topk_docs",
    // the production ANN admission operator (read-only form)
    "ann_ingest_keep_embs",
    // round-10 additions — real-codec image decode throughput (PNG render +
    // ImageIO decode per row) and BPE model-token counting (merge training
    // paid by the FIRST run via the per-dir memo; warm runs time encode)
    "mm_decode_docs",
    "bpe_token_counts_docs",
    // PQ ADC search over the 32x-compressed codes (codebooks + encode
    // recomputed in-plan — still sub-second at sf0.1)
    "ann_pq_topk",
    // round-11: the list-pruned IVF-PQ search against the durable
    // (id, cid, codes) index (build paid by the FIRST run via
    // buildTableOnce; warm runs time the probe) and the IVFADC+R refined
    // form (ADC shortlist re-ranked exact) — the production PQ paths
    "ann_pq_ivf_topk",
    "ann_pq_ivf_refined_topk",
    // round-12: trained-codebook IVF-PQ (index build paid by the FIRST run
    // via buildTableOnce — warm runs time the probe, same convention as the
    // sampled-codebook entry), the int8 dequantized-domain exact search
    // (the 4× bandwidth trade), and perceptual dHash throughput (PNG render
    // + decode + 9×8 resample per row)
    "ann_pq_ivf_trained_topk",
    "ann_topk_int8",
    "mm_dhash_docs",
    // round-13: the production PQ composition — trained codebooks +
    // IVFADC+R exact re-rank against the durable indexes (build paid by the
    // FIRST run via buildTableOnce; warm runs time the probe + refine)
    "ann_pq_ivf_trained_refined_topk",
    // round-14: the heaviest video-family op — per-frame hashes through the
    // generic Hamming banding (decode + banded join + 25M-pair output at
    // sf0.1) — so the new modality has a tracked per-round number
    "mm_y4m_seg_neardup_docs",
    // round-15: the compressed-codec path — real JPEG encode+decode per row
    // through the JDK codec into dHash; tracks the codec seam's throughput
    "mm_jpeg_dhash_docs",
  )

  /** CALIBRATION probe (round-9 verdict #4): pinned queries — one
    * shuffle-bound (exact dedup), one broadcast/compute-bound (exact ANN),
    * one scan/expression-bound (text stats), and since round 15 one
    * CANDIDATE-JOIN-shaped probe (a fixed 1/8-slice jaccard self-join, the
    * plan family that dominates the headline — r14 verdict #1: the old trio
    * demonstrably did not track what moved for the candidate joins) — timed
    * immediately BEFORE and AFTER every official attempt. Their total,
    * divided by the pinned reference below, is this window's slowdown
    * factor; the emitted JSON carries walls normalized by it, so
    * round-over-round comparison no longer waits on a healthy window this
    * host may never offer.
    *
    * RATIO SEMANTICS (stated once, unambiguously): ratio = probe/epoch.
    * ratio > 1 means THIS window ran the probes SLOWER than the epoch
    * window → raw walls are inflated → calibrated = raw/ratio DEFLATES
    * them. ratio < 1 means this window was FASTER than the epoch → raw
    * walls flatter the binary → calibrated walls sit ABOVE raw. A
    * cross-round claim is only valid on calibrated numbers (or on
    * bracketed floors measured the same day). */
  private val calibrationQueries =
    Seq("dedup_exact_docs", "ann_topk_exact", "text_stats_docs",
      "calib_jac_docs_slice")

  /** Reference calibration total (seconds) per sf profile: the EPOCH all
    * calibrated walls normalize to. Measured at sf0.1 during the round-10
    * local official run (pre 1.520 s / post 0.927 s, mean 1.224, in a
    * par_eff_mem 0.19–0.24 window — BENCH_NOTES round 10). A healthier
    * future window measures a SMALLER calibration total → ratio < 1 →
    * calibrated walls above raw ones (and vice versa), so rounds compare
    * on calibrated numbers regardless of the window each drew. Override
    * with SPARK_GRAFT_CALIB_REF_SEC when re-pinning the epoch.
    *
    * sf1: pinned from the round-11 MATCHED-WINDOW sf0.1↔sf1 pair
    * (BENCH_NOTES round 11): the sf1 trio measured 3.4725 s mid in the same
    * window where the sf0.1 trio ran at ratio 1.0253 vs its epoch, so the
    * counterfactual epoch-window sf1 trio is 3.4725 / 1.0253 = 3.387 —
    * cross-scale calibrated ratios are consistent with the sf0.1 epoch by
    * construction. The probes scale with data (they run over the 10×
    * tables), so each profile MUST carry its own epoch.
    *
    * ROUND-15 RE-PIN (the probe set grew from trio to quartet): the quartet
    * epoch is CHAINED to the same round-10 epoch window — measured quartet
    * total in a window, divided by that window's OLD-TRIO ratio (the
    * per-probe times in the artifact make both computable from one run) —
    * so calibrated walls remain comparable across the re-pin. Values below
    * are from the round-15 chaining run (BENCH_NOTES round 15). */
  private val calibrationRefSec: Map[String, Double] = Map(
    // r15 chaining runs (BENCH_NOTES round 15): sf0.1 = mean of three clean
    // draws 2.515/2.384/2.312 (a fourth, pre-spiked, excluded at 3.067);
    // sf1 = mean of 6.034/5.654/5.756. Probe protocol: best-of-3 per probe.
    "sf0.1" -> 2.404,
    "sf1" -> 5.815)

  /** Stress profile (SPARK_GRAFT_SF_DIR containing "stress", or
    * SPARK_GRAFT_PROFILE=stress): the 8× uniform-length documents corpus has
    * ONLY the documents table, so the headline narrows to the docs-side
    * scale proofs (SCALE.md "Measured"). Single-run by default — the t=0.9
    * self-join alone is ~100 s class; pair with
    * SPARK_GRAFT_SHUFFLE_PARTITIONS=256 (~128 MB per shuffle partition,
    * zero spill — the A/B in SCALE.md). */
  private val stressHeadline = Seq(
    "jac_self_docs_ws_t09",
    "dedup_minhash_docs",
    "dedup_minhash_rs_docs",
    "dedup_minhash_rs_indexed_docs",
    "dedup_cluster_docs",
    "decontam_docs",
    "shuffle_order_docs",
  )

  def main(args: Array[String]): Unit = {
    // All JSON below is built with f"..%.3f" interpolation, which follows the
    // JVM default locale: a comma-decimal locale would emit invalid JSON in
    // both the stdout line and BENCH_FULL.json. Pin ROOT before any format.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // default = core count (right for the small-SF bench data); override when
    // benching shuffle-heavy volumes — partitions must track DATA VOLUME
    // (~128 MB each): 32 partitions on the 8x stress corpus meant ~4 GB per
    // aggregation partition and 13.5 GB of spill; 256 erased the spill and
    // cut the join 1.8x (SCALE.md "Measured").
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.adaptive.coalescePartitions.enabled", true)
      .config("spark.sql.adaptive.skewJoin.enabled", true)
      // let AQE broadcast the VALUE-side tables of the join pipelines (the
      // deduped posArrays/vals frames: ~25 MB on the 8× stress corpus, just
      // over the 10 MB default) — without this the verify and expansion
      // joins fall back to SortMergeJoin and drag the 22-125M-row candidate
      // stream through full Exchange+Sort passes. Measured on the stress
      // t=0.9 self-join: 105.8 -> 36.7 s, stage-seconds 173 -> 53, identical
      // output. Safe at any scale: AQE checks RUNTIME sizes, so a value
      // table past the threshold keeps SMJ.
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // keep the 128-column MinHash aggregate inside whole-stage codegen
      .config("spark.sql.codegen.maxFields", 256)
      // the events table stores TIMESTAMP(NANOS) parquet - read as epoch-nano longs
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
      // a single-JVM local run has no real executor liveness to police, and
      // multi-minute host IO stalls (observed: 7-min freeze -> heartbeat
      // timeout killed the context mid-bench) must not abort the run
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Api.quietBoundedWindowLogs()

    // Full-plan action, NOT .count(): under count, Catalyst prunes every
    // unreferenced projection, so a projection-only query (text_stats_docs —
    // a pure select) would time a parquet row-count scan instead of its
    // expression work (round-7 verdict, "What's wrong" #1). Driving the
    // physical plan's own RDD executes every operator including the final
    // projection, while keeping rows on the executors (no driver collect).
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }

    val stress = sys.env.get("SPARK_GRAFT_PROFILE").contains("stress") ||
      sfDir.contains("stress")
    // dev loop for tuning the approximate paths: skip the timed queries and
    // emit only the recall sidecar
    val recallOnly = sys.env.get("SPARK_GRAFT_RECALL_ONLY").contains("1")
    // SPARK_GRAFT_QUERIES=name1,name2 narrows the run for per-query tuning
    // loops (e.g. warm-floor pinning one flagship) without touching the
    // code; any registered query is reachable, not just the headline set
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // fail fast on names that don't resolve: a typo in a hand-typed tuning
    // loop would otherwise yield a silently partial (or empty) artifact
    filter.foreach(_.filterNot(SparkEntry.queries.contains).foreach { bad =>
      System.err.println(s"[bench] WARNING: '$bad' is not a registered query - skipping")
    })
    val queries = filter.getOrElse(
      if (recallOnly) Seq.empty else if (stress) stressHeadline else headline)
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt)
      .getOrElse(if (stress) 1 else 3)
    // Bounded retry-until-HEALTHY (round-8 task #1): the r5-r7 official
    // artifacts all recorded windows the binary demonstrably beats because a
    // single gate pass (600 s default) is shorter than this host's multi-hour
    // degraded stretches. Each attempt re-gates (budget per attempt via
    // SPARK_GRAFT_PROBE_WAIT_SEC) and re-runs the WHOLE profile; retries stop
    // at the first HEALTHY-verdict attempt, and the emitted JSON is the BEST
    // attempt (verdict rank first, then total), with every attempt's window
    // summary kept in the host field so the artifact documents what it tried.
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS").map(_.toInt)
      .getOrElse(if (stress || recallOnly || filter.isDefined) 1 else 3)

    // calibration runs on the standard profiles only: the stress corpus
    // lacks the embeddings table, and a SPARK_GRAFT_QUERIES tuning loop
    // should not pay it per attempt. SPARK_GRAFT_CALIBRATE=0 opts out;
    // SPARK_GRAFT_CALIBRATE=1 forces it INTO a filtered tuning run — the
    // matched-window cross-scale measurements (sf0.1 vs sf1 pairs) need the
    // probe trio in-session around a narrowed query list.
    val calibrate = new java.io.File(s"$sfDir/embeddings.parquet").exists() &&
      (sys.env.get("SPARK_GRAFT_CALIBRATE").contains("1") ||
        (!stress && !recallOnly && filter.isEmpty &&
          !sys.env.get("SPARK_GRAFT_CALIBRATE").contains("0")))
    // the profile's pinned epoch, resolved once: the gate and the verdict both
    // need it (calibration-arbitrated health, below), not just the emitted JSON
    val profile = new java.io.File(sfDir).getName
    val calRef = sys.env.get("SPARK_GRAFT_CALIB_REF_SEC").map(_.toDouble)
      .orElse(calibrationRefSec.get(profile))
    // a window whose Spark probe quartet runs within this factor of the epoch
    // is HEALTHY regardless of what the synthetic probes read (round 16: on
    // the driver sandbox par_eff_mem reads 0.25-0.35 STRUCTURALLY — its
    // virtualized memory bandwidth never meets a threshold tuned on the old
    // builder host — while the actual Spark probes run at or faster than the
    // epoch; r15 shipped ratio 0.601 stamped DEGRADED. The measurement the
    // gate exists to protect is Spark wall time, and the quartet measures
    // exactly that, so it arbitrates.)
    val calHealthyMax = sys.env.get("SPARK_GRAFT_CALIB_HEALTHY_MAX")
      .map(_.toDouble).getOrElse(1.10)
    def calVerified(sec: Double): Boolean =
      sec >= 0 && calRef.exists(r => r > 0 && sec / r <= calHealthyMax)
    var calibrationWarmed = false
    // per-probe times are kept and emitted so (a) a probe-set change can be
    // CHAINED to the old epoch from one run (old-subset ratio is computable
    // from the artifact) and (b) a divergent probe is attributable
    def calibrationProbe(): (Double, Seq[(String, Double)]) = {
      // one untimed warm pass per JVM so attempt 1's pre-probe doesn't bill
      // parquet-footer/codegen warm-up that later probes skip
      if (!calibrationWarmed) {
        calibrationQueries.foreach(n => SparkEntry.queries.get(n).foreach(timeOnce))
        Api.clearCache()
        calibrationWarmed = true
      }
      // best-of-3 per probe (was 2): the candidate-join slice occasionally
      // draws a 3-4x spike on BOTH of two runs in a degraded stretch
      // (observed r15 chaining: 8.29 s vs a 1.6-2.7 s norm) — a third run
      // suppresses the bimodal tail without materially lengthening the probe
      val perProbe = calibrationQueries.flatMap(n => SparkEntry.queries.get(n).map { fn =>
        val t = Seq.fill(3)(timeOnce(fn)).min
        Api.clearCache()
        n -> t
      })
      val total = perProbe.map(_._2).sum
      System.err.println(f"[bench] calibration probe: $total%.3f s  " +
        perProbe.map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
      (total, perProbe)
    }

    case class Attempt(results: Seq[(String, Double)], pre: HostWindow,
                       post: HostWindow, waitedSec: Int, verdictRank: Int,
                       verdict: String, calPre: Double, calPost: Double,
                       calPreQ: Seq[(String, Double)] = Nil,
                       calPostQ: Seq[(String, Double)] = Nil,
                       runCounts: Map[String, Int] = Map.empty) {
      def total: Double = results.map(_._2).filter(_ >= 0).sum
      // crashed queries record -1 and are EXCLUDED from total, so an attempt
      // with a crash would otherwise look cheaper than a complete one at
      // equal verdict rank (round-8 advice) — rank completeness first
      def nFailed: Int = results.count(_._2 < 0)
    }
    def runAttempt(): Attempt = {
      // probe + gate BEFORE the timed section: r5/r6 both produced official
      // artifacts whose numbers describe a degraded host, not the binary.
      // Calibration-first short-circuit (round 16): when the synthetic window
      // reads degraded but the Spark probe quartet runs at epoch speed, the
      // window is verified by the actual workload — start immediately instead
      // of sleeping out the gate budget against a threshold this host's
      // virtualized memory bandwidth never meets. The verifying probe IS the
      // attempt's pre-probe (it brackets the timed section exactly).
      var calPre = -1d
      var calPreQ: Seq[(String, Double)] = Nil
      val quick = HostProbe.measure(samples = 2)
      val (preWindow, waitedSec) =
        if (quick.healthy(0.75, 0.55)) (quick, 0)
        else if (calibrate && calRef.isDefined) {
          val (c, q) = calibrationProbe()
          calPre = c; calPreQ = q
          if (calVerified(c)) {
            System.err.println(f"[bench] synthetic window degraded (cpu ${quick.cpu}%.2f/" +
              f"mem ${quick.mem}%.2f) but calibration quartet $c%.3f s is within " +
              f"$calHealthyMax%.2f of epoch ${calRef.get}%.3f s - proceeding")
            (quick, 0)
          } else {
            val g = gateOnHealthyWindow()
            val (c2, q2) = calibrationProbe() // re-probe: the wait moved the window
            calPre = c2; calPreQ = q2
            g
          }
        } else gateOnHealthyWindow()
      if (calibrate && calPre < 0) {
        val (c, q) = calibrationProbe(); calPre = c; calPreQ = q
      }
      // BRACKETED-FLOOR protocol (r14 verdict #2): single draws on this host
      // swing ±20% with the epoch, so ≥1 s queries extend best-of-3 to
      // best-of-FLOOR_RUNS (default 5) and the artifact records each query's
      // floor WITH its n — cross-round tables quote the floors, never a
      // single draw. Sub-second queries stay at nRuns (their scatter is
      // absolute-small and the extension would double the attempt wall).
      val floorRuns = sys.env.get("SPARK_GRAFT_FLOOR_RUNS").map(_.toInt)
        .getOrElse(if (stress) 1 else 5)
      val runCounts = scala.collection.mutable.Map[String, Int]()
      val results = queries.flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          System.err.println(s"[bench] running $name")
          // best of 3 (1 on the stress profile): the first run pays persist
          // materialization + codegen; the reference's BASELINE numbers are
          // likewise warm averages over n runs. Per-run times go to stderr so
          // warm-floor stability (run-to-run variance, not just the min) is
          // visible in the artifact's tail.
          val runs0 = try Seq.fill(nRuns)(timeOnce(fn)) catch { case _: Throwable => Seq(-1d) }
          val runs =
            if (runs0.min >= 1.0 && floorRuns > nRuns)
              runs0 ++ (try Seq.fill(floorRuns - nRuns)(timeOnce(fn))
                catch { case _: Throwable => Seq.empty[Double] })
            else runs0
          val t = runs.min
          runCounts(name) = runs.size
          Api.clearCache() // drop graft-persisted intermediates between queries
          System.err.println(f"[bench] $name%-26s $t%.3f s" +
            (if (runs.size > 1) runs.map(r => f"$r%.2f").mkString("  (runs: ", " ", ")") else ""))
          name -> t
        }
      }
      val (calPost, calPostQ) = if (calibrate) calibrationProbe() else (-1d, Nil)
      val postWindow = HostProbe.measure(samples = 2)
      // self-classification: does this attempt's artifact describe the
      // binary (HEALTHY) or the host (SHIFTED/DEGRADED)? The Spark probe
      // quartet arbitrates over the synthetic probes when both its brackets
      // ran at epoch speed (rationale at calHealthyMax above) — the verdict
      // and the emitted ratio can no longer contradict each other.
      def preOk = preWindow.healthy(0.75, 0.55) || calVerified(calPre)
      def postOk = postWindow.healthy(0.75, 0.55) || calVerified(calPost)
      val (rank, verdict) =
        if (preOk && postOk) (0, "HEALTHY")
        else if (preOk)
          (1, "SHIFTED (started healthy, degraded mid-run)")
        else (2, "DEGRADED (timings inflate; not comparable round-over-round)")
      System.err.println(f"[bench] window verdict: $verdict - pre cpu ${preWindow.cpu}%.2f" +
        f"/mem ${preWindow.mem}%.2f, post cpu ${postWindow.cpu}%.2f/mem ${postWindow.mem}%.2f")
      Attempt(results, preWindow, postWindow, waitedSec, rank, verdict,
        calPre, calPost, calPreQ, calPostQ, runCounts.toMap)
    }

    // Total-deadline guard: the driver enforces an overall wall-clock cap on
    // the bench process (BENCH_r05 rc=124 is what a kill looks like — a dead
    // artifact is strictly worse than a degraded one), so never START an
    // attempt that likely can't finish. Estimate the next attempt as the
    // previous one's wall PLUS the full gate budget: each retry re-runs
    // gateOnHealthyWindow(), which can block up to the probe-wait budget
    // before the profile starts, so excluding it (as pre-round-9 code did)
    // could admit a retry that the external cap then kills mid-run.
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC").map(_.toInt)
      .getOrElse(3300)
    val probeBudgetSec = sys.env.get("SPARK_GRAFT_PROBE_WAIT_SEC").map(_.toInt).getOrElse(600)
    val t0 = System.nanoTime()
    def elapsedSec = (System.nanoTime() - t0) / 1e9
    def timedAttempt(): (Attempt, Double) = {
      val a0 = elapsedSec
      val a = runAttempt()
      (a, elapsedSec - a0 - a.waitedSec)
    }
    var (first, lastRunSec) = timedAttempt()
    var attempts = Vector(first)
    while (attempts.size < maxAttempts && attempts.last.verdictRank != 0 &&
        elapsedSec + lastRunSec + probeBudgetSec + 60 < deadlineSec) {
      System.err.println(s"[bench] attempt ${attempts.size}/$maxAttempts was " +
        s"${attempts.last.verdict.takeWhile(_ != ' ')} - re-gating for another attempt")
      val (a, runSec) = timedAttempt()
      attempts :+= a
      lastRunSec = runSec
    }
    val best = attempts.minBy(a => (a.nFailed, a.verdictRank, a.total))
    if (attempts.size > 1)
      System.err.println(f"[bench] best of ${attempts.size} attempts: " +
        f"${best.verdict.takeWhile(_ != ' ')} total ${best.total}%.1f s")
    val qs = best.results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // calibration field: this window's slowdown vs the pinned reference
    // epoch, and the emitted attempt's walls normalized by it. The ratio
    // uses the MEAN of the pre/post probes (the window the timed section
    // actually spanned); both raw probes are kept so a mid-run shift is
    // visible. Absent when calibration didn't run or no epoch is pinned
    // for this profile.
    val ratioOpt =
      if (calibrate && best.calPre >= 0)
        calRef.filter(_ > 0).map(((best.calPre + best.calPost) / 2) / _)
      else None
    val calJson =
      if (!calibrate || best.calPre < 0) ""
      else {
        val mid = (best.calPre + best.calPost) / 2
        def probesJson(q: Seq[(String, Double)]) =
          q.map { case (n, t) => "\"" + n + "\":" + f"$t%.3f" }.mkString("{", ",", "}")
        // the semantics string rides in the artifact so a future reader (or
        // notes author) cannot invert the ratio's direction (r14 verdict #1)
        val core = f""""pre_sec":${best.calPre}%.3f,"post_sec":${best.calPost}%.3f""" +
          s""","pre_probes":${probesJson(best.calPreQ)},"post_probes":${probesJson(best.calPostQ)}""" +
          s""","semantics":"ratio = probe/epoch; ratio > 1 = this window SLOWER than epoch; calibrated = raw/ratio""""
        calRef match {
          case Some(ref) if ref > 0 =>
            val ratio = mid / ref
            // per-query calibrated walls (round-10 verdict missing #5): a
            // single mid-run ratio misattributes a window swing to whichever
            // queries ran inside it (the 55% pre/post swing run), so each
            // query normalizes by the ratio INTERPOLATED at its cumulative
            // elapsed-TIME midpoint (prefix sums of the raw walls) — NOT its
            // ordinal position, which misattributes drift toward short
            // queries registered next to long ones (r11 ADVICE). Pre/post
            // ratios are both recorded so the interpolation is
            // reconstructible from the artifact.
            val walls = best.results.map { case (_, v) => math.max(v, 0.0) }
            val totalWall = math.max(walls.sum, 1e-9)
            val starts = walls.scanLeft(0.0)(_ + _)
            val calQ = best.results.zipWithIndex.map { case ((name, v), i) =>
              val frac = (starts(i) + math.max(v, 0.0) / 2) / totalWall
              val ri = (best.calPre + (best.calPost - best.calPre) * frac) / ref
              val cv = if (v < 0 || ri <= 0) v else v / ri
              "\"" + name + "\":" + f"$cv%.3f"
            }.mkString("{", ",", "}")
            f""","calibration":{$core,"ref_sec":$ref%.3f,"ratio":$ratio%.3f,"ratio_pre":${best.calPre / ref}%.3f,"ratio_post":${best.calPost / ref}%.3f,"calibrated_total":${best.total / ratio}%.2f},"queries_calibrated":$calQ"""
          case _ => s""","calibration":{$core}"""
        }
      }
    // a SPARK_GRAFT_QUERIES run times only the named queries and skips the
    // recall sidecar; SPARK_GRAFT_RECALL_ONLY=1 still asks for it
    val recallJson =
      if (filter.isDefined && !recallOnly) "" else recallField(spark, sfDir)
    HostProbe.release()
    val attemptsJson = attempts.map(a =>
      f"""{"verdict":"${a.verdict.takeWhile(_ != ' ')}","total":${a.total}%.1f,"pre_mem":${a.pre.mem}%.2f,"post_mem":${a.post.mem}%.2f,"waited_sec":${a.waitedSec}}""")
      .mkString("[", ",", "]")
    val totalStr = f"${best.total}%.3f"
    val hostJson = hostField(best.pre, best.post, best.waitedSec, best.verdict,
      attempts.indexOf(best), attemptsJson)
    // ONE self-consistent artifact FILE: every block — the CHOSEN attempt's
    // raw and calibrated per-query walls, totals, calibration, recall, host
    // window, per-attempt summaries — in a single JSON document that can be
    // audited without stdout archaeology. The stdout line (what the driver
    // captures) is a COMPACT summary instead of the full document: the
    // r11/r12 official artifacts both recorded `parsed: null` because the
    // full line outgrew the driver's 2000-char tail capture, making
    // per-query regressions unauditable from the artifact alone.
    // the bracketed-floor block (r14 verdict #2): each query's floor with its
    // n — THE numbers cross-round tables quote (floor == queries min by
    // construction; the block makes the protocol and the n explicit)
    val floorsJson = best.results.map { case (k, v) =>
      "\"" + k + "\":" + f"""{"sec":$v%.3f,"n":${best.runCounts.getOrElse(k, 0)}}"""
    }.mkString("{", ",", "}")
    val fullDoc = s"""{"metric":"total","value":$totalStr,"unit":"sec","headline_count":${best.results.size},"queries":$qs,"queries_floor":$floorsJson$calJson$recallJson$hostJson,"sf":"$sfDir","generated_unix_ms":${System.currentTimeMillis()}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // a failed write must be VISIBLE in the stdout line (the only thing the
    // driver captures) — recall/host detail lives only in the file, so a
    // stdout line advertising a path that was never written would silently
    // lose the round's sidecar data
    val artifactField =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          fullDoc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] full artifact written to $outPath")
        outPath
      } catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"[bench] WARNING: could not write $outPath: $t")
          s"WRITE_FAILED:$outPath"
      }
    val calSummary = ratioOpt.map(r =>
      f""","calibration":{"ratio":$r%.3f,"calibrated_total":${best.total / r}%.2f}""")
      .getOrElse("")
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs$calSummary,"verdict":"${best.verdict.takeWhile(_ != ' ')}","artifact":"$artifactField","sf":"$sfDir"}""")
    spark.stop()
  }

  @volatile private var probeSink = 0L

  /** One host-window measurement: parallel efficiency of (a) a register-only
    * xor/multiply loop (`cpu` — pure CPU-slot availability) and (b) strided
    * sums over pre-allocated per-thread arrays (`mem` — aggregate memory
    * bandwidth, the resource Spark's token-explosion and join stages actually
    * contend on). 1.0 = perfect scaling of one single-threaded reference run
    * to one copy per probe thread. */
  private case class HostWindow(cpu: Double, mem: Double) {
    def healthy(minCpu: Double, minMem: Double): Boolean = cpu >= minCpu && mem >= minMem
  }

  /** Host parallel-efficiency probe. The host has repeatedly degraded
    * mid-round in ways invisible to load average/steal/single-thread checks
    * (BENCH_NOTES rounds 5–6); a 5× bench inflation was observed while the
    * CPU probe still read 0.87, so the MEM number is the primary gate.
    * tools/hosthealth.py is the standalone form.
    *
    * Probe shape (changed round 7 per ADVICE): the memory workload runs on
    * min(cores, 16) threads over per-thread 16 MB arrays that are allocated
    * ONCE here and reused for every sample — the timed loop measures only
    * traversal bandwidth, not allocation+GC, and the transient footprint is
    * bounded at 256 MB instead of cores×32 MB. Each number is the best of
    * `samples` runs (one-sample noise under-reads a healthy window; a
    * degraded window cannot over-read, so max is the faithful estimate). */
  private object HostProbe {
    private val cores = Runtime.getRuntime.availableProcessors()
    private val memThreads = math.min(cores, 16)
    private val memWords = (16 << 20) / 8
    // per-thread arrays, allocated once; index 0 doubles as the single-thread
    // reference array so the reference and parallel runs touch identical memory
    private var arrays: Array[Array[Long]] = null

    private def ensureArrays(): Unit =
      if (arrays == null) arrays = Array.fill(memThreads)(new Array[Long](memWords))

    /** Drop the probe buffers once no more probes will run. */
    def release(): Unit = { arrays = null }

    private def cpuWork(): Long = {
      var h = 1469598103934665603L
      var i = 0
      while (i < 200000000) { h = (h ^ i) * 1099511628211L; i += 1 }
      h
    }

    private def memWork(arr: Array[Long]): Long = {
      var pass = 0
      var h = 0L
      while (pass < 4) {
        var i = 0
        while (i < arr.length) { arr(i) = arr(i) + i; i += 8 } // one line per 64B
        var j = 0
        while (j < arr.length) { h += arr(j); j += 8 }
        pass += 1
      }
      h
    }

    private def eff(nThreads: Int, work: Int => Long): Double = {
      probeSink = work(0) // JIT warm-up
      val t0 = System.nanoTime(); probeSink = work(0); val single = System.nanoTime() - t0
      val threads = (0 until nThreads).map(t => new Thread(() => { probeSink = work(t) }))
      val t1 = System.nanoTime()
      threads.foreach(_.start()); threads.foreach(_.join())
      math.min(1.0, single.toDouble / (System.nanoTime() - t1))
    }

    def measure(samples: Int): HostWindow = {
      ensureArrays()
      val runs = Seq.fill(samples)(
        (eff(cores, _ => cpuWork()), eff(memThreads, t => memWork(arrays(t)))))
      HostWindow(runs.map(_._1).max, runs.map(_._2).max)
    }
  }

  /** Gate the timed section on a healthy host window (round-7 task: the
    * r5/r6 official artifacts both recorded degraded-window numbers the
    * binary demonstrably beats). Probes BEFORE timing; on a degraded window
    * sleeps and re-probes until the window clears or `SPARK_GRAFT_PROBE_WAIT_SEC`
    * (default 600 s; 0 disables the gate entirely) is exhausted, then
    * proceeds regardless — the artifact must exist even on a sick host, it
    * just self-documents the window it ran in. Thresholds via
    * SPARK_GRAFT_MIN_MEM_EFF (default 0.55) / SPARK_GRAFT_MIN_CPU_EFF (0.75). */
  private def gateOnHealthyWindow(): (HostWindow, Int) = {
    val minMem = sys.env.get("SPARK_GRAFT_MIN_MEM_EFF").map(_.toDouble).getOrElse(0.55)
    val minCpu = sys.env.get("SPARK_GRAFT_MIN_CPU_EFF").map(_.toDouble).getOrElse(0.75)
    val budgetSec = sys.env.get("SPARK_GRAFT_PROBE_WAIT_SEC").map(_.toInt).getOrElse(600)
    val pollSec = 45
    var w = HostProbe.measure(samples = 2)
    var waited = 0
    while (budgetSec > 0 && !w.healthy(minCpu, minMem) && waited < budgetSec) {
      System.err.println(
        f"[bench] host window degraded (par_eff_cpu ${w.cpu}%.2f, par_eff_mem ${w.mem}%.2f" +
          f" vs min $minCpu%.2f/$minMem%.2f) - waiting ${pollSec}s (${waited}s/${budgetSec}s used)")
      Thread.sleep(pollSec * 1000L)
      waited += pollSec
      w = HostProbe.measure(samples = 2)
    }
    if (!w.healthy(minCpu, minMem) && budgetSec > 0)
      System.err.println(f"[bench] wait budget exhausted; proceeding in degraded window" +
        f" (par_eff_cpu ${w.cpu}%.2f, par_eff_mem ${w.mem}%.2f)")
    (w, waited)
  }

  /** `"host"` JSON field. Top-level par_eff_* are the PRE-probe (the window
    * the EMITTED attempt's timed section started in — the number to compare
    * round-over-round); post_* record the window at its completion so mid-run
    * shifts are visible. `verdict` and `degraded` are the EMITTED attempt's
    * self-classification (pre AND post probes against the gate thresholds —
    * round-8 advice: the old pre-only `degraded` flag could read false on a
    * SHIFTED attempt and mislead tooling); `attempt_index` says which entry
    * of `attempts` was emitted; `waited_sec` is time spent in that attempt's
    * gate; `attempts` summarizes EVERY attempt of the retry loop
    * (verdict/total/pre+post mem/gate wait) so a multi-attempt artifact
    * documents what it tried before settling on the emitted numbers. */
  private def hostField(pre: HostWindow, post: HostWindow, waitedSec: Int,
                        verdict: String, attemptIndex: Int,
                        attemptsJson: String): String = {
    val n = Runtime.getRuntime.availableProcessors()
    val v = verdict.takeWhile(_ != ' ')
    val degraded = v != "HEALTHY"
    f""","host":{"cores":$n,"par_eff_cpu":${pre.cpu}%.2f,"par_eff_mem":${pre.mem}%.2f,"post_par_eff_cpu":${post.cpu}%.2f,"post_par_eff_mem":${post.mem}%.2f,"samples":2,"waited_sec":$waitedSec,"verdict":"$v","degraded":$degraded,"attempt_index":$attemptIndex,"attempts":$attemptsJson}"""
  }

  /** Deterministic clustered embedding fixture: `n` vectors in `nClusters`
    * well-separated clusters (center components and per-vector noise both
    * hash-derived from (cluster|id, dim index) — reproducible across runs
    * and machines, no RNG). Noise amplitude 0.15 of the center component
    * range keeps members far closer to their own center than to any other,
    * the geometry ANN workloads presuppose. */
  private[graft] def clusteredEmbeddings(spark: SparkSession, n: Int, nClusters: Int,
                                         dim: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    def unit(h: org.apache.spark.sql.Column) = // hash -> float in [-1, 1]
      ((pmod(h, lit(2001L)) - 1000L).cast("float") / 1000.0f)
    spark.range(n).select(col("id").cast("long").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (unit(xxhash64(col("id") % nClusters, j)) +
          unit(xxhash64(col("id"), j, lit(7))) * lit(0.15f)).cast("float"))
        .as("embedding"))
  }

  /** Content tag of a fixture file/dir: every file's (path, size, mtime)
    * folded through MD5. Cheap (no data read) and changes whenever the
    * driver regenerates the parquet — the invalidation key for persisted
    * recall baselines. */
  private def fixtureTag(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val sig = walk(new java.io.File(path))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }

  /** The recall sidecar's EXACT baselines are deterministic per (fixture,
    * params) but cost brute-force joins to rebuild — ~88 s per bench attempt
    * at sf0.1, dwarfing the 65 s headline total (r13 verdict #4). Persist
    * each baseline once under the warehouse, keyed by the fixture's content
    * tag, and re-read it until the driver regenerates the fixture. Stale
    * tags of the same baseline are deleted on rebuild. */
  private def cachedBaseline(spark: SparkSession, fixturePath: String, name: String)
                            (build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val base = new java.io.File(wh, "graft_recall_baselines")
    val dir = new java.io.File(base, s"$name-${fixtureTag(fixturePath)}")
    // a bare directory is NOT a valid baseline: a run killed mid-write leaves
    // a partial dir, and trusting it would silently corrupt every later
    // recall number — gate the cache hit on parquet's _SUCCESS commit marker
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      Option(base.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"$name-")).foreach(deleteRec)
      build.write.mode("overwrite").parquet(dir.getPath)
    }
    spark.read.parquet(dir.getPath)
  }

  /** Approximate-path recall vs the exact twins, emitted as a `"recall"` key
    * INSIDE the single JSON line (a second line would break the driver's
    * parse). Skipped when the profile's tables are missing (stress corpus
    * has no embeddings) or SPARK_GRAFT_RECALL=0, and on SPARK_GRAFT_QUERIES
    * runs unless SPARK_GRAFT_RECALL_ONLY=1; never fails the bench. */
  private def recallField(spark: SparkSession, sfDir: String): String = {
    import graft.operators.{Dedup, JaccardJoin, Similarity, WhitespaceTokenizer}
    import org.apache.spark.sql.functions.col
    if (sys.env.get("SPARK_GRAFT_RECALL").contains("0")) return ""
    if (!new java.io.File(s"$sfDir/embeddings.parquet").exists()) return ""
    try {
      def timed[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        System.err.println(f"[bench] recall/$label%-18s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      val ws = WhitespaceTokenizer()
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      // 100 query points (vs the 5 of the oracle-checked queries) for a
      // stable estimate; same k/planes/centroid params as the registered ops
      val q = e.where(col("vec_id") < 100)
      val exactTopK = Similarity.topKExact(e, q, "vec_id", "embedding", 10)
        .persist()
      val lsh = timed("ann_lsh")(Recall.topK(exactTopK,
        Similarity.topKLsh(e, q, "vec_id", "embedding", 10, 64, planes = 6, tables = 8)))
      val ivf = timed("ann_ivf")(Recall.topK(exactTopK,
        Similarity.topKIvf(e, q, "vec_id", "embedding", 10, 16, 4)))
      val ivfKm = timed("ann_ivf_kmeans")(Recall.topK(exactTopK,
        Similarity.topKIvfKmeans(e, q, "vec_id", "embedding", 10, 16, 4, 3)))
      // int8 quantization's recall cost vs full-precision exact cosine (the
      // 4× bandwidth trade priced — r11 verdict #4)
      val int8 = timed("ann_int8")(Recall.topK(exactTopK,
        Similarity.topKInt8(Similarity.quantizeInt8(e, "vec_id", "embedding"),
          q, "vec_id", "embedding", 10)))
      exactTopK.unpersist()
      // PQ recall vs the exact-L2 twin (ADC approximates L2, not cosine):
      // pq@10 isolates pure quantization loss (exhaustive ADC), ivfpq@10
      // adds the nProbe-list pruning of the production composition — a
      // codebook-quality or probe-count regression becomes a number here
      // (round-10 verdict missing #2)
      val exactL2 = Similarity.topKExactL2(e, q, "vec_id", "embedding", 10)
        .persist()
      val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", 64, 8, 16)
      val pq = timed("ann_pq")(Recall.topK(exactL2,
        Similarity.pqTopK(
          Similarity.pqEncode(e, "vec_id", "embedding", cbs, 64, 8),
          cbs, q, "vec_id", "embedding", 10)))
      val cents = Similarity.sampleCentroids(e, "vec_id", "embedding", 16)
      val rcbs = Similarity.pqResidualCodebooks(e, "vec_id", "embedding",
        cents, 64, 8, 64)
      val pqIdx = Similarity.pqIvfIndex(e, "vec_id", "embedding", cents, rcbs, 64, 8)
        .persist()
      val ivfPq = timed("ann_ivfpq")(Recall.topK(exactL2,
        Similarity.pqTopKIvfIndexed(pqIdx,
          cents, rcbs, q, "vec_id", "embedding", 10, 4)))
      val ivfPqRef = timed("ann_ivfpq_ref")(Recall.topK(exactL2,
        Similarity.pqTopKIvfRefined(pqIdx,
          Similarity.ivfIndex(e, "vec_id", "embedding", cents),
          cents, rcbs, q, "vec_id", "embedding", 10, 4, 100)))
      pqIdx.unpersist(); exactL2.unpersist()
      // IVF on a CLUSTERED fixture: the driver's embeddings are isotropic
      // random vectors, where IVF recall has a ~0.5 structural ceiling at
      // nProbe/nCentroids = 1/4 regardless of centroid quality (BENCH_NOTES
      // round 6/7) — a centroid-quality regression is invisible there. Real
      // embedding corpora are clustered, so measure ivf and kmeans-ivf on a
      // deterministic 16-cluster fixture too (hash-derived, no RNG): THESE
      // are the numbers that move when kmeansCentroids breaks.
      val ce = clusteredEmbeddings(spark, 2000, 16, 64)
        .persist()
      val cq = ce.where(col("vec_id") < 100)
      val cExact = Similarity.topKExact(ce, cq, "vec_id", "embedding", 10).persist()
      val cIvf = timed("ann_ivf_clus")(Recall.topK(cExact,
        Similarity.topKIvf(ce, cq, "vec_id", "embedding", 10, 16, 4)))
      val cIvfKm = timed("ann_ivf_km_clus")(Recall.topK(cExact,
        Similarity.topKIvfKmeans(ce, cq, "vec_id", "embedding", 10, 16, 4, 3)))
      // PQ on the same clustered fixture (vs exact L2 — ADC's metric): on
      // isotropic random vectors a 16-entry/block codebook has the same
      // structural recall ceiling raw IVF does, so like ivf_clustered these
      // are the lines that move when codebook quality breaks
      val cExactL2 = Similarity.topKExactL2(ce, cq, "vec_id", "embedding", 10)
        .persist()
      val cCbs = Similarity.pqCodebooks(ce, "vec_id", "embedding", 64, 8, 16)
      val cPq = timed("ann_pq_clus")(Recall.topK(cExactL2,
        Similarity.pqTopK(
          Similarity.pqEncode(ce, "vec_id", "embedding", cCbs, 64, 8),
          cCbs, cq, "vec_id", "embedding", 10)))
      val cCents = Similarity.sampleCentroids(ce, "vec_id", "embedding", 16)
      val cRCbs = Similarity.pqResidualCodebooks(ce, "vec_id", "embedding",
        cCents, 64, 8, 64)
      val cPqIdx = Similarity.pqIvfIndex(ce, "vec_id", "embedding", cCents, cRCbs, 64, 8)
        .persist()
      val cIvfPq = timed("ann_ivfpq_clus")(Recall.topK(cExactL2,
        Similarity.pqTopKIvfIndexed(cPqIdx,
          cCents, cRCbs, cq, "vec_id", "embedding", 10, 4)))
      val cIvfPqRef = timed("ann_ivfpq_ref_clus")(Recall.topK(cExactL2,
        Similarity.pqTopKIvfRefined(cPqIdx,
          Similarity.ivfIndex(ce, "vec_id", "embedding", cCents),
          cCents, cRCbs, cq, "vec_id", "embedding", 10, 4, 100)))
      // TRAINED codebooks (1 Lloyd round per block — the registered
      // ann_pq_ivf_trained_topk's construction): the gain over the sampled
      // k=64 codebooks is now a gated number (r11 verdict #3)
      val cTCbs = Similarity.pqTrainedCodebooks(ce, "vec_id", "embedding",
        cCents, 64, 8, 64, iters = 1)
      val cTIdx = Similarity.pqIvfIndex(ce, "vec_id", "embedding", cCents, cTCbs, 64, 8)
        .persist()
      val cIvfPqTr = timed("ann_ivfpq_trained_clus")(Recall.topK(cExactL2,
        Similarity.pqTopKIvfIndexed(cTIdx,
          cCents, cTCbs, cq, "vec_id", "embedding", 10, 4)))
      // the production composition's quality number (r12 verdict #3):
      // refined re-rank should dominate codebook choice — expect ≈ the
      // sampled-codebook refined 0.92, and a material gap IS a finding
      val cIvfPqTrRef = timed("ann_ivfpq_tr_ref_clus")(Recall.topK(cExactL2,
        Similarity.pqTopKIvfRefined(cTIdx,
          Similarity.ivfIndex(ce, "vec_id", "embedding", cCents),
          cCents, cTCbs, cq, "vec_id", "embedding", 10, 4, 100)))
      cTIdx.unpersist()
      cPqIdx.unpersist(); cExactL2.unpersist(); cExact.unpersist(); ce.unpersist()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val exactPairs = timed("exact_pairs")(cachedBaseline(spark,
        s"$sfDir/documents.parquet", "exact_pairs")(
        JaccardJoin.selfJoinDeduped(docs, "doc_id", "text", ws, 0.9)
          .select("l_doc_id", "r_doc_id")).persist())
      val mh = timed("minhash_pairs")(Recall.pairs(exactPairs, "l_doc_id", "r_doc_id",
        Dedup.minHashPairs(docs, "doc_id", "text", ws, 0.9), "lid", "rid"))
      val sh = timed("simhash_pairs")(Recall.pairs(exactPairs, "l_doc_id", "r_doc_id",
        Dedup.simHashPairs(docs, "doc_id", "text", ws, 3), "lid", "rid"))
      exactPairs.unpersist()
      // incremental path: same 90/10 split as the registered rs queries;
      // the exact baseline is the token-join brute force (no prefix-filter
      // recall edge), cheap at corpus×batch scale
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val incoming = docs.where(col("doc_id") % 10 === 0)
      val exactRs = timed("exact_rs_pairs")(cachedBaseline(spark,
        s"$sfDir/documents.parquet", "exact_rs_pairs")(
        JaccardJoin.bruteForceRs(corpus, "doc_id", "text", incoming, "doc_id", "text",
            ws, 0.9)
          .select("l_doc_id", "r_doc_id")).persist())
      val mhRs = timed("minhash_rs_pairs")(Recall.pairs(exactRs, "l_doc_id", "r_doc_id",
        Dedup.minHashPairsRs(corpus, incoming, "doc_id", "text", ws, 0.9), "lid", "rid"))
      exactRs.unpersist()
      Api.clearCache()
      f""","recall":{"ann_lsh_at10":$lsh%.4f,"ann_ivf_at10":$ivf%.4f,"ann_ivf_kmeans_at10":$ivfKm%.4f,"ann_int8_at10":$int8%.4f,"ann_pq_at10":$pq%.4f,"ann_ivfpq_at10":$ivfPq%.4f,"ann_ivfpq_refined_at10":$ivfPqRef%.4f,"ann_ivf_clustered_at10":$cIvf%.4f,"ann_ivf_kmeans_clustered_at10":$cIvfKm%.4f,"ann_pq_clustered_at10":$cPq%.4f,"ann_ivfpq_clustered_at10":$cIvfPq%.4f,"ann_ivfpq_trained_clustered_at10":$cIvfPqTr%.4f,"ann_ivfpq_trained_refined_clustered_at10":$cIvfPqTrRef%.4f,"ann_ivfpq_refined_clustered_at10":$cIvfPqRef%.4f,"minhash_pairs":$mh%.4f,"simhash_pairs":$sh%.4f,"minhash_rs_pairs":$mhRs%.4f}"""
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] recall sidecar failed: $t")
        ""
    }
  }
}
