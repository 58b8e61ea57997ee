package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/**
 * Benchmark main. Runs the headline queries on SPARK_GRAFT_SF_DIR in one
 * [[LocalSession]] and prints ONE JSON line (`metric`, `value`, `unit`,
 * `queries`, `failed`, `artifact`, `sf`); the full artifact (per-query floors
 * with their n, cold first run and every run time, the recall sidecar, the
 * session's CPU and shuffle-partition counts and its untimed warm-up time)
 * goes to SPARK_GRAFT_BENCH_OUT (default `BENCH_FULL.json`). Per-query time
 * is the best of SPARK_GRAFT_BENCH_RUNS runs (default 5, 1 on the stress
 * corpus): the first run pays persistence and JIT/codegen warm-up, and the
 * reference's notebook timings are likewise warm averages over n runs
 * (BASELINE.md). Exits 1 when a query fails or a SPARK_GRAFT_QUERIES name
 * is not registered. Compare two builds with perfbench's interleaved legs,
 * not with two Bench artifacts.
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
    // scoring pass)
    "importance_sample_docs",
    // round-10 addition — BPE model-token counting (merge training paid by
    // the FIRST run via the per-dir memo; warm runs time encode)
    "bpe_token_counts_docs",
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
    * `queries` and of the total `value`. Before the first query, [[warmup]]
    * runs once untimed; its wall time is `session.warmup_s` (null when it
    * throws). `recall` is evaluated after the timed loop. Leaves `spark`
    * running. */
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
    // the JVM's and the session's first job would otherwise land in the
    // first query's cold run
    val warmupS =
      try Some(timeOnce(warmup))
      catch {
        case NonFatal(t) =>
          System.err.println(s"[bench] warm-up failed: $t")
          None
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
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""warmup_s":${warmupS.fold("null")(w => f"$w%.3f")}}"""
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

  /** The fixed warm-up action: one scan of the documents table and one
    * shuffle (a grouped count). */
  private def warmup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, length}
    s.read.parquet(s"$dir/documents.parquet").groupBy(length(col("text")) % 16).count()
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
    * of the full artifact. Skipped when the profile has no documents table,
    * and on SPARK_GRAFT_QUERIES runs unless SPARK_GRAFT_RECALL_ONLY=1; never
    * fails the bench. */
  private def recallField(spark: SparkSession, sfDir: String): String = {
    import graft.operators.{Dedup, JaccardJoin, WhitespaceTokenizer}
    import org.apache.spark.sql.functions.col
    if (!new java.io.File(s"$sfDir/documents.parquet").exists()) return ""
    try {
      def timed[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        System.err.println(f"[bench] recall/$label%-18s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      val ws = WhitespaceTokenizer()
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
      f""","recall":{"minhash_pairs":$mh%.4f,"simhash_pairs":$sh%.4f,"minhash_rs_pairs":$mhRs%.4f}"""
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] recall sidecar failed: $t")
        ""
    }
  }
}
