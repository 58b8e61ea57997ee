package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/**
 * Benchmark main. Runs the headline queries on SPARK_GRAFT_SF_DIR in one
 * [[LocalSession]] and prints ONE JSON line (`metric`, `value`, `unit`,
 * `queries`, `failed`, `artifact`, `sf`); the full artifact (per-query floors
 * with their n, cold first run and every run time, the recall sidecar, the
 * session's CPU and shuffle-partition counts) goes to SPARK_GRAFT_BENCH_OUT
 * (default `BENCH_FULL.json`). Per-query time is the best of
 * SPARK_GRAFT_BENCH_RUNS runs (default 5, 1 on the stress corpus): the first
 * run pays persistence and JIT/codegen warm-up, and the reference's notebook
 * timings are likewise warm averages over n runs (BASELINE.md). Exits 1
 * when a query fails or a SPARK_GRAFT_QUERIES name is not registered.
 * Compare two builds with perfbench's interleaved legs, not with two Bench
 * artifacts.
 */
object Bench {

  /** Headline set: the workloads with BASELINE.md counterparts plus the
    * scale-path operators. Everything else is correctness-only surface. */
  private[graft] val headline = Seq(
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
    // round-10 addition — BPE model-token counting (merge training paid by
    // the FIRST run via the per-dir memo; warm runs time encode)
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
    // sampled-codebook entry) and the int8 dequantized-domain exact search
    // (the 4× bandwidth trade)
    "ann_pq_ivf_trained_topk",
    "ann_topk_int8",
    // round-13: the production PQ composition — trained codebooks +
    // IVFADC+R exact re-rank against the durable indexes (build paid by the
    // FIRST run via buildTableOnce; warm runs time the probe + refine)
    "ann_pq_ivf_trained_refined_topk",
  )

  /** Stress profile (SPARK_GRAFT_SF_DIR containing "stress"): the 8×
    * uniform-length documents corpus has ONLY the documents table, so the
    * headline narrows to the docs-side scale proofs (SCALE.md "Measured").
    * Single-run by default — the t=0.9 self-join alone is ~100 s class; pair
    * with SPARK_GRAFT_SHUFFLE_PARTITIONS=256 (~128 MB per shuffle partition,
    * zero spill — the A/B in SCALE.md). */
  private[graft] val stressHeadline = Seq(
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
    val stress = sfDir.contains("stress")
    // dev loop for tuning the approximate paths: skip the timed queries and
    // emit only the recall sidecar
    val recallOnly = sys.env.get("SPARK_GRAFT_RECALL_ONLY").contains("1")
    // SPARK_GRAFT_QUERIES=name1,name2 narrows the run to any registered
    // queries, not just the headline set
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // a typo in a hand-typed name list would otherwise yield a partial (or
    // empty) artifact: fail before a session is built
    val unknown = filter.toSeq.flatten.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] not registered queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val names = filter.getOrElse(
      if (recallOnly) Seq.empty else if (stress) stressHeadline else headline)
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt)
      .getOrElse(if (stress) 1 else 5)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val spark = LocalSession("bench")
    val (line, failed) =
      try run(spark, names.map(n => n -> SparkEntry.queries(n)), runs, sfDir, outPath,
        // a SPARK_GRAFT_QUERIES run times only the named queries and skips
        // the recall sidecar; SPARK_GRAFT_RECALL_ONLY=1 still asks for it
        recall = if (filter.isDefined && !recallOnly) "" else recallField(spark, sfDir))
      finally spark.stop()
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Times each query best-of-`runs` on `spark`, writes the full artifact to
    * `outPath`, and returns the one stdout JSON line with the names of the
    * queries that threw. Each `queries_floor` entry holds `sec` (the best
    * run), `n`, `first` (run 1, the cold number) and `runs` (every run time,
    * in order). A failed query is listed under `"failed"` and left out of
    * `queries` and of the total `value`. `recall` is evaluated after the
    * timed loop. Leaves `spark` running. */
  private[graft] def run(spark: SparkSession,
                         queries: Seq[(String, (SparkSession, String) => DataFrame)],
                         runs: Int, sfDir: String, outPath: String,
                         recall: => String = ""): (String, Seq[String]) = {
    require(runs >= 1, s"SPARK_GRAFT_BENCH_RUNS must be at least 1, got $runs")
    // Full-plan action, NOT .count(): under count, Catalyst prunes every
    // unreferenced projection, so a projection-only query (text_stats_docs —
    // a pure select) would time a parquet row-count scan instead of its
    // expression work. Driving the physical plan's own RDD executes every
    // operator including the final projection, while keeping rows on the
    // executors (no driver collect).
    def timeOnce(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    // best of n: the first run pays persist materialization + codegen; the
    // reference's BASELINE numbers are likewise warm averages over n runs
    val timed = queries.map { case (name, fn) =>
      System.err.println(s"[bench] running $name")
      val times =
        try {
          val ts = Seq.fill(runs)(timeOnce(fn))
          System.err.println(f"[bench] $name%-26s ${ts.min}%.3f s" +
            ts.map(r => f"$r%.2f").mkString("  (runs: ", " ", ")"))
          Some(ts)
        } catch {
          case NonFatal(t) =>
            System.err.println(s"[bench] $name failed: $t")
            None
        } finally Api.clearCache() // drop graft-persisted intermediates between queries
      name -> times
    }
    val ok = timed.collect { case (name, Some(ts)) => name -> ts }
    val failed = timed.collect { case (name, None) => name }
    val total = f"${ok.map(_._2.min).sum}%.3f"
    val qs = ok.map { case (k, ts) => "\"" + k + "\":" + f"${ts.min}%.3f" }.mkString("{", ",", "}")
    val floors = ok.map { case (k, ts) =>
      val all = ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      "\"" + k + "\":" + f"""{"sec":${ts.min}%.3f,"n":$runs,"first":${ts.head}%.3f,"runs":$all}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val session = s""""session":{"cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")}}"""
    val fullDoc = s"""{"metric":"total","value":$total,"unit":"sec","headline_count":${ok.size},"queries":$qs,"queries_floor":$floors,"failed":$failedJson$recall,$session,"sf":"$sfDir","generated_unix_ms":${System.currentTimeMillis()}}"""
    // a failed write must be VISIBLE in the stdout line: recall detail lives
    // only in the file, so a line advertising a path that was never written
    // would silently lose it
    val artifactField =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          fullDoc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] full artifact written to $outPath")
        outPath
      } catch {
        case NonFatal(t) =>
          System.err.println(s"[bench] WARNING: could not write $outPath: $t")
          s"WRITE_FAILED:$outPath"
      }
    (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"artifact":"$artifactField","sf":"$sfDir"}""",
      failed)
  }

  /** Deterministic clustered embedding fixture: `n` vectors in `nClusters`
    * well-separated clusters (center components and per-vector noise both
    * hash-derived from (cluster|id, dim index) — reproducible across runs
    * and machines, no RNG). Noise amplitude 0.15 of the center component
    * range keeps members far closer to their own center than to any other,
    * the geometry ANN workloads presuppose. */
  private def clusteredEmbeddings(spark: SparkSession, n: Int, nClusters: Int,
                                  dim: Int): DataFrame = {
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
    * params) but cost brute-force joins to rebuild — ~88 s per bench run
    * at sf0.1, dwarfing the 65 s headline total (r13 verdict #4). Persist
    * each baseline once under the warehouse, keyed by the fixture's content
    * tag, and re-read it until the driver regenerates the fixture. Stale
    * tags of the same baseline are deleted on rebuild. */
  private def cachedBaseline(spark: SparkSession, fixturePath: String, name: String)
                            (build: => DataFrame): DataFrame = {
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
    * of the full artifact. Skipped when the profile's tables are missing (stress corpus
    * has no embeddings), and on SPARK_GRAFT_QUERIES runs unless
    * SPARK_GRAFT_RECALL_ONLY=1; never fails the bench. */
  private def recallField(spark: SparkSession, sfDir: String): String = {
    import graft.operators.{Dedup, JaccardJoin, Similarity, WhitespaceTokenizer}
    import org.apache.spark.sql.functions.col
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
