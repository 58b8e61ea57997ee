package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Sources

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a named
  * query over the driver's parquet testdata, with matching DuckDB oracle SQL in
  * [[oracleSql]] (generated by [[DuckSql]] so both sides stay in lockstep).
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** SPARK_GRAFT_JOIN_PASSES, validated: unset → 1 (single-pass); a
    * malformed or non-positive value fails fast NAMING the variable instead
    * of surfacing as a bare NumberFormatException from map construction or a
    * later require deep inside the operator. */
  private def joinPassesFromEnv: Int =
    sys.env.get("SPARK_GRAFT_JOIN_PASSES").map(_.trim).filter(_.nonEmpty) match {
      case None => 1
      case Some(raw) =>
        val p = raw.toIntOption.getOrElse(sys.error(
          s"SPARK_GRAFT_JOIN_PASSES must be an integer >= 1, got '$raw'"))
        require(p >= 1, s"SPARK_GRAFT_JOIN_PASSES must be >= 1, got $p")
        p
    }

  /** Build-and-write a durable index table ONCE per (JVM, sfDir). In
    * production the corpus index is built once and then every daily batch
    * joins the stored form; re-writing it per action would make the bench's
    * warm runs time the build instead of the read-back join. The map records
    * the LAST-BUILT dir per physical table (all dirs share one table name),
    * so running dirs A then B then A in one JVM rebuilds on every dir switch
    * — a (table, dir)-keyed "built" set would leave A marked built while the
    * on-disk table held B's rows. A fresh JVM starts with an empty map and
    * always rebuilds, so it can't read a stale table either. */
  private val builtIndexes = scala.collection.mutable.Map.empty[String, String]
  private def buildIndexOnce(s: SparkSession, dir: String, table: String,
                             index: => DataFrame): Unit =
    builtIndexes.synchronized {
      if (!builtIndexes.get(table).contains(dir)) {
        graft.sources.Stages.writeBucketed(index, table, "bucket", 8)
        builtIndexes.update(table, dir)
      }
    }

  /** events.ts has appeared as two physical types across testdata
    * generations: TIMESTAMP(NANOS) — which the sessions read as epoch-nano
    * longs via spark.sql.legacy.parquet.nanosAsLong — and plain micros
    * TIMESTAMP (NTZ). The data is micro-granular in both, so normalizing to
    * a micros timestamp `tsv` is lossless and downstream logic is shared
    * (the session-gap test compares day-time intervals, exact integer micros
    * in either flavor). */
  private def eventsByTime(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("tsv", timestamp_micros(expr("ts div 1000")))
      case _ => ev.withColumn("tsv", col("ts"))
    }
  }

  /** Learned BPE merges memoized per sf dir — learning is deterministic
    * (exact distributed counts, lexicographic tie-breaks), so reuse across
    * the registered bpe_* queries is observationally pure and saves the
    * repeated training pass. */
  private val bpeMergesCache =
    scala.collection.mutable.Map.empty[String, Seq[(String, String)]]
  private def bpeMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesCache.synchronized {
      bpeMergesCache.getOrElseUpdate(dir,
        Bpe.learn(tbl(s, dir, "documents"), "text", numMerges = 200,
          maxVocab = 20000))
    }

  /** Byte-level (GPT-2-mode) merges, memoized per sf dir — same
    * observational-purity argument as [[bpeMergesFor]]. */
  private val bpeByteMergesCache =
    scala.collection.mutable.Map.empty[String, Seq[(String, String)]]
  private def bpeByteMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeByteMergesCache.synchronized {
      bpeByteMergesCache.getOrElseUpdate(dir,
        Bpe.learnBytes(tbl(s, dir, "documents"), "text", numMerges = 200,
          maxVocab = 20000))
    }

  private val ws = WhitespaceTokenizer()
  private val wsBag = WhitespaceTokenizer(returnSet = false)
  private val q3 = QGramsTokenizer(3)
  private val q3Bag = QGramsTokenizer(3, returnSet = false)
  private val q5 = QGramsTokenizer(5)
  private val dash = DelimiterTokenizer(Set('-'))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Uses the value-deduplicated pipeline (output-identical to the record-level
    * one, property-tested) — the form that runs at scale. */
  def entry(spark: SparkSession): DataFrame =
    JaccardJoin.selfJoinDeduped(tbl(spark, "/root/testdata/sf0.001", "part"),
      "p_partkey", "p_name", ws, 0.5)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T2-T4: tokenizers, set and bag modes
    "tok_qgrams3_part" -> ((s, dir) =>
      q3.tokenize(tbl(s, dir, "part"), "p_partkey", "p_name")),
    "tok_qgrams5_customer" -> ((s, dir) =>
      q5.tokenize(tbl(s, dir, "customer"), "c_custkey", "c_name")),
    "tok_qgrams3_bag_part" -> ((s, dir) =>
      q3Bag.tokenize(tbl(s, dir, "part"), "p_partkey", "p_name")),
    "tok_ws_documents" -> ((s, dir) =>
      ws.tokenize(tbl(s, dir, "documents"), "doc_id", "text")),
    "tok_ws_bag_documents" -> ((s, dir) =>
      wsBag.tokenize(tbl(s, dir, "documents"), "doc_id", "text")),
    "tok_delim_orders" -> ((s, dir) =>
      dash.tokenize(tbl(s, dir, "orders"), "o_orderkey", "o_orderpriority")),

    // J1/J3-J7/J10-J14: filtered self-join pipeline
    "jac_self_part_ws_t05" -> ((s, dir) =>
      JaccardJoin.selfJoinDeduped(tbl(s, dir, "part"), "p_partkey", "p_name", ws, 0.5)),
    "jac_self_part_q3_t05" -> ((s, dir) =>
      JaccardJoin.selfJoinDeduped(tbl(s, dir, "part"), "p_partkey", "p_name", q3, 0.5)),
    "jac_self_docs_ws_t09" -> ((s, dir) =>
      JaccardJoin.selfJoinDeduped(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.9)),
    // Candidate-explosion regime (BASELINE.md's hard region, t <= 0.5): the
    // prefix filter retains most of each record, so the candidate join fans
    // out — these two pin correctness there and carry the bench entries.
    "jac_self_part_ws_t03" -> ((s, dir) =>
      JaccardJoin.selfJoinDeduped(tbl(s, dir, "part"), "p_partkey", "p_name", ws, 0.3)),
    // SPARK_GRAFT_JOIN_PASSES > 1 engages the bounded-footprint mode (output
    // invariant — spec-pinned): the knob exists so the sf10 scratch-wall run
    // drives the REGISTERED query; unset (the driver's gate) is single-pass
    "jac_self_docs_ws_t05" -> ((s, dir) =>
      JaccardJoin.selfJoinDeduped(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.5,
        passes = joinPassesFromEnv)),
    // bag semantics through the WHOLE pipeline (reference supports the flag but
    // never exercises it in a join — SURVEY §7.4 risk 4); parity-checked vs
    // DuckDB running the same bag-token pipeline
    "jac_self_part_wsbag_t07" -> ((s, dir) =>
      JaccardJoin.selfJoinDeduped(tbl(s, dir, "part"), "p_partkey", "p_name", wsBag, 0.7)),

    // J2/J15: brute-force oracle joins
    "jac_bf_self_part_ws_t05" -> ((s, dir) =>
      JaccardJoin.bruteForceSelfDeduped(tbl(s, dir, "part"), "p_partkey", "p_name", ws, 0.5)),

    // J8/J9/J12-J14: R×S pipeline with widow handling + index-side choice
    "jac_rs_cust_supp_q3_t03" -> ((s, dir) =>
      JaccardJoin.rsJoin(
        tbl(s, dir, "customer"), "c_custkey", "c_name",
        tbl(s, dir, "supplier"), "s_suppkey", "s_name", q3, 0.3)),
    // swapped orientation: supplier as L — customer (more widow prefixes)
    // becomes the indexing side, exercising the lIsIndexing=false branch and
    // the output-prefix swap (reference jaccard_join.py:341-353, :391)
    "jac_rs_supp_cust_q3_t03" -> ((s, dir) =>
      JaccardJoin.rsJoin(
        tbl(s, dir, "supplier"), "s_suppkey", "s_name",
        tbl(s, dir, "customer"), "c_custkey", "c_name", q3, 0.3)),
    // exact-recall variant: widens the indexing prefix to the always-safe
    // probing bound so filtered == brute force (see rsJoin's recall-edge note)
    "jac_rs_exact_recall" -> ((s, dir) =>
      JaccardJoin.rsJoin(
        tbl(s, dir, "customer"), "c_custkey", "c_name",
        tbl(s, dir, "supplier"), "s_suppkey", "s_name", q3, 0.3,
        exactRecall = true)),
    "jac_bf_rs_cust_supp_q3_t03" -> ((s, dir) =>
      JaccardJoin.bruteForceRs(
        tbl(s, dir, "customer"), "c_custkey", "c_name",
        tbl(s, dir, "supplier"), "s_suppkey", "s_name", q3, 0.3)),
    // R×S in the candidate-explosion regime (t=0.2)
    "jac_rs_cust_supp_q3_t02" -> ((s, dir) =>
      JaccardJoin.rsJoin(
        tbl(s, dir, "customer"), "c_custkey", "c_name",
        tbl(s, dir, "supplier"), "s_suppkey", "s_name", q3, 0.2)),
    // bag semantics through the R×S shape (reference's return_set=False flag
    // applies to both join shapes, tokenizers/__init__.py:3-5; until r15 only
    // the SELF bag form was gated — this pins the widow/df-product path with
    // multiset suffix overlap, the untested combination of r14 verdict #5)
    "jac_rs_cust_supp_q3bag_t03" -> ((s, dir) =>
      JaccardJoin.rsJoin(
        tbl(s, dir, "customer"), "c_custkey", "c_name",
        tbl(s, dir, "supplier"), "s_suppkey", "s_name", q3Bag, 0.3)),

    // E1: confusion-matrix counts (gt = brute-force q3 join, sj = filtered ws join)
    "eval_counts_part" -> ((s, dir) => {
      val part = tbl(s, dir, "part")
      val gt = JaccardJoin.bruteForceSelfDeduped(part, "p_partkey", "p_name", q3, 0.5)
      val sj = JaccardJoin.selfJoinDeduped(part, "p_partkey", "p_name", ws, 0.5)
      Evaluate.counts(gt, sj,
        "l_p_partkey", "r_p_partkey", "l_p_partkey", "r_p_partkey")
    }),
    // E1 scale path: identical tp/fp/fn via the orientation-normalized pair key —
    // a hash-partitionable equi-join instead of the reference's nested-loop OR-join.
    // GT here is the FILTERED q3 join (differentially identical to brute force,
    // and the only form that exists at 100 TB); eval_counts_part above keeps the
    // reference's brute-force-GT idiom.
    "eval_counts_norm_part" -> ((s, dir) => {
      val part = tbl(s, dir, "part")
      val gt = JaccardJoin.selfJoinDeduped(part, "p_partkey", "p_name", q3, 0.5)
      val sj = JaccardJoin.selfJoinDeduped(part, "p_partkey", "p_name", ws, 0.5)
      Evaluate.countsNormalized(gt, sj,
        "l_p_partkey", "r_p_partkey", "l_p_partkey", "r_p_partkey")
    }),

    // Quality/threshold sweep (notebook cells 41-43, 56, 63, 74): fixed q3
    // GT, ws joins at descending thresholds, per-threshold confusion counts +
    // precision/recall/F1 with the reference's tp>0 guard
    // (similarity_join/__init__.py:46-62). The operator persists GT once and
    // tokenizes the sweep side once (Evaluate.thresholdSweep).
    "eval_sweep_part" -> ((s, dir) =>
      Evaluate.thresholdSweep(tbl(s, dir, "part"), "p_partkey", "p_name",
        q3, 0.5, ws, Seq(0.8, 0.6, 0.5, 0.4, 0.3))),

    // Text analysis over the documents table
    "text_stats_docs" -> ((s, dir) =>
      TextAnalysis.stats(tbl(s, dir, "documents"), "doc_id", "text")),
    "lang_id_docs" -> ((s, dir) =>
      TextAnalysis.languageId(tbl(s, dir, "documents"), "doc_id", "text")),
    "token_counts_docs" -> ((s, dir) =>
      TextAnalysis.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text")),
    "fingerprint_docs" -> ((s, dir) =>
      TextAnalysis.fingerprint(tbl(s, dir, "documents"), "doc_id", "text")),
    "winnowing_docs" -> ((s, dir) =>
      TextAnalysis.winnowingFingerprints(tbl(s, dir, "documents"), "doc_id", "text", 8, 4)),
    "winnow_overlap_docs" -> ((s, dir) =>
      TextAnalysis.winnowingOverlapPairs(tbl(s, dir, "documents"), "doc_id", "text",
        8, 4, minShared = 3, maxDocFreq = 100)),
    // rational idf (lnIdf=false) so the score is bit-exact on both engines;
    // the canonical ln-idf form is the API default, spec-tested
    "bm25_topk_docs" -> ((s, dir) =>
      TextAnalysis.bm25TopK(tbl(s, dir, "documents"), "doc_id", "text",
        "hash join scan stream", k = 25, lnIdf = false)),

    "quality_score_docs" -> ((s, dir) =>
      TextAnalysis.qualityScore(tbl(s, dir, "documents"), "doc_id", "text")),
    // hashed projection drops the ln-based ll_per_bigram column (ln is ~1-ulp
    // engine-dependent; sum_p is IEEE-exact by construction — bm25 rule)
    "lm_bigram_docs" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(tbl(s, dir, "documents"), "doc_id", "text")
        .select("id", "n_bigrams", "sum_p")),
    // DSIR-shape importance resampling: target bigram model trains on the
    // English slice, proxy on the whole pool; keep prob min(1, 0.6·w) via
    // the deterministic md5-uniform — sample membership itself is
    // hash-verified, not just the weights
    "importance_sample_docs" -> ((s, dir) =>
      Curation.importanceSample(tbl(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", scale = 0.6)),

    // Deduplication cascade over documents
    "dedup_exact_docs" -> ((s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")),
    "dedup_near_drop_docs" -> ((s, dir) =>
      Dedup.nearDuplicateDropIds(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.9)),
    "dedup_ngram_docs" -> ((s, dir) =>
      Dedup.nearDuplicateDropIds(tbl(s, dir, "documents"), "doc_id", "text", q5, 0.8)),
    "dedup_cascade_docs" -> ((s, dir) =>
      Dedup.cascadeKeepIds(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.9)),
    // connected components over the near-dup pair graph: one representative
    // per TRANSITIVE cluster (pairwise greatest-drop over-deletes on chains)
    "dedup_cluster_docs" -> ((s, dir) =>
      Dedup.clusterIds(
        JaccardJoin.selfJoinDeduped(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.9),
        "l_doc_id", "r_doc_id")),
    "dedup_cluster_keep_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.clusterKeepIds(docs, "doc_id",
        JaccardJoin.selfJoinDeduped(docs, "doc_id", "text", ws, 0.9),
        "l_doc_id", "r_doc_id")
    }),
    "dedup_minhash_docs" -> ((s, dir) =>
      Dedup.minHashPairs(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.9)),
    "dedup_simhash_docs" -> ((s, dir) =>
      Dedup.simHashPairs(tbl(s, dir, "documents"), "doc_id", "text", ws, 3)),
    // Oracle-able variants on the md5-derived 60-bit hash family: same
    // MinHash/SimHash algorithms, every step expressible in DuckDB SQL, so
    // these two are HASH-verified (the xxhash64 defaults above stay the fast
    // path and are spec-tested against exact Jaccard instead).
    "dedup_minhash_oracle_docs" -> ((s, dir) =>
      Dedup.minHashPairs(tbl(s, dir, "documents"), "doc_id", "text", ws, 0.9,
        bands = 8, rowsPerBand = 4, family = Dedup.Md5Family)),
    "dedup_simhash_oracle_docs" -> ((s, dir) =>
      Dedup.simHashPairs(tbl(s, dir, "documents"), "doc_id", "text", ws, 3,
        family = Dedup.Md5Family)
        .select(col("lid"), col("rid"), col("hamming").cast("long").as("hamming"))),
    // Incremental (R×S) dedup — the daily-ingest shape: a new batch checked
    // against the accumulated corpus, never re-self-joining the corpus. A
    // deterministic 90/10 doc_id split stands in for corpus/incoming so the
    // oracle can replicate it. Fast path (xxhash64) is rows-only like
    // dedup_minhash_docs; the md5-family twin is hash-verified.
    "dedup_minhash_rs_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.minHashPairsRs(docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 0.9)
    }),
    "dedup_minhash_rs_oracle_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.minHashPairsRs(docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 0.9,
        bands = 8, rowsPerBand = 4, family = Dedup.Md5Family)
    }),
    "dedup_incremental_keep_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.incrementalKeepIds(docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 0.9,
        bands = 8, rowsPerBand = 4, family = Dedup.Md5Family)
    }),
    // Durable bucketed MinHash index, end-to-end: build the corpus index,
    // persist it with the bucketed sink (Stages.writeBucketed — the
    // write-once shuffle), read it BACK from the catalog, and run the daily
    // incoming-batch join against the stored form. This drives the actual
    // production read-back path, not the in-memory index frame the specs
    // pin. Fast path (xxhash64 arrays) is rows-only like dedup_minhash_docs;
    // the md5-family twin below is hash-checked against the SAME oracle as
    // the direct R×S operator (indexed == direct, DedupSpec:284).
    "dedup_minhash_rs_indexed_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      buildIndexOnce(s, dir, "graft_q_mh_idx",
        Dedup.minHashIndex(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", ws, bands = 8, rowsPerBand = 4))
      Dedup.minHashPairsRsIndexed(s.table("graft_q_mh_idx"),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 0.9,
        bands = 8, rowsPerBand = 4)
    }),
    "dedup_minhash_rs_indexed_oracle_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      buildIndexOnce(s, dir, "graft_q_mh_idx_md5",
        Dedup.minHashIndex(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", ws, bands = 8, rowsPerBand = 4,
          family = Dedup.Md5Family))
      Dedup.minHashPairsRsIndexed(s.table("graft_q_mh_idx_md5"),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 0.9,
        bands = 8, rowsPerBand = 4, family = Dedup.Md5Family)
    }),
    // Incremental (R×S) SimHash — the Hamming-side daily-ingest form, same
    // 90/10 split. Fast path rows-only; md5-family twin hash-checked.
    "dedup_simhash_rs_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.simHashPairsRs(docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 3)
    }),
    "dedup_simhash_rs_oracle_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.simHashPairsRs(docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 3,
        family = Dedup.Md5Family)
        .select(col("lid"), col("rid"), col("hamming").cast("long").as("hamming"))
    }),
    // Durable bucketed SimHash index, end-to-end — the Hamming-side mirror
    // of dedup_minhash_rs_indexed_docs: build the corpus simHashIndex,
    // persist with the bucketed sink, read back from the catalog, join the
    // daily batch. Fast path rows-only; the md5 twin shares the DIRECT R×S
    // oracle (the lossless (band,bandval) bucket encoding makes indexed ==
    // direct an equality, not an approximation — DedupSpec pins it).
    "dedup_simhash_rs_indexed_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      buildIndexOnce(s, dir, "graft_q_sh_idx",
        Dedup.simHashIndex(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", ws))
      Dedup.simHashPairsRsIndexed(s.table("graft_q_sh_idx"),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 3)
    }),
    "dedup_simhash_rs_indexed_oracle_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      buildIndexOnce(s, dir, "graft_q_sh_idx_md5",
        Dedup.simHashIndex(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", ws, family = Dedup.Md5Family))
      Dedup.simHashPairsRsIndexed(s.table("graft_q_sh_idx_md5"),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 3,
        family = Dedup.Md5Family)
        .select(col("lid"), col("rid"), col("hamming").cast("long").as("hamming"))
    }),
    // The production daily-ingest keep-set, end-to-end against the durable
    // index (read back from the catalog; the SAME stored table the indexed
    // pair query joins). admitTo stays None here — a driver query must be
    // idempotent across runs, and appending the batch's survivors would make
    // run 2 drop them all as self-matches; the admission half is pinned by
    // StagesSpec (day-2 after append == from-scratch index of the union).
    // Shares dedup_incremental_keep_docs' oracle: indexed == direct.
    "dedup_incremental_keep_indexed_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      buildIndexOnce(s, dir, "graft_q_mh_idx_md5",
        Dedup.minHashIndex(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", ws, bands = 8, rowsPerBand = 4,
          family = Dedup.Md5Family))
      Dedup.incrementalKeepIdsIndexed(s.table("graft_q_mh_idx_md5"),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 0.9,
        bands = 8, rowsPerBand = 4, family = Dedup.Md5Family)
    }),
    // Hamming-side keep-set pair (round-8 advice stretch #7): the direct
    // composition and its durable-index mirror, both md5-family and both
    // hash-checked against the SAME end-to-end oracle — the lossless
    // bucket encoding makes indexed == direct an equality.
    "dedup_incremental_keep_simhash_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.incrementalKeepIdsSimHash(docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 3,
        family = Dedup.Md5Family)
    }),
    "dedup_incremental_keep_simhash_indexed_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      buildIndexOnce(s, dir, "graft_q_sh_idx_md5",
        Dedup.simHashIndex(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", ws, family = Dedup.Md5Family))
      Dedup.incrementalKeepIdsSimHashIndexed(s.table("graft_q_sh_idx_md5"),
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", ws, 3,
        family = Dedup.Md5Family)
    }),

    // the full curation pipeline as ONE composition: quality gate ->
    // language gate -> exact dedup -> near-dup cluster keep -> packing;
    // every stage keeps its standalone semantics, oracle-verified end-to-end
    "pipeline_curate_docs" -> ((s, dir) =>
      Pipeline.curateAndPack(tbl(s, dir, "documents"), "doc_id", "text",
        minQuality = 0.5, ws, nearDupThreshold = 0.9, binBudget = 512L)),
    // sequence packing: docs -> fixed token-budget bins via the distributed
    // two-pass prefix sum (the oracle runs the single-partition window form)
    "pack_docs_bins" -> ((s, dir) =>
      Packing.packBins(
        TextAnalysis.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text"),
        "id", col("n_ws_tokens"), 512L)),
    // context-window chunking: 48-token windows with 8 tokens of overlap —
    // the splitting step for docs LONGER than the context (packBins handles
    // the shorter ones); zero-shuffle column expressions
    "chunk_docs_windows" -> ((s, dir) =>
      Packing.chunkDocs(tbl(s, dir, "documents"), "doc_id", "text", 48, 8)),
    // BPE subword token budgets — what a trainer actually counts. The
    // learned-merges forms are rows-only (iterative greedy merging has no
    // SQL form); the 0-merges twin IS hash-checked (character-level
    // tokenization: n_tokens = non-whitespace char count), and BpeSpec pins
    // the golden merges + the encode/training-pass equivalence.
    "bpe_token_counts_docs" -> ((s, dir) =>
      Bpe.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text",
        bpeMergesFor(s, dir))),
    "bpe_token_counts0_docs" -> ((s, dir) =>
      Bpe.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text", Seq.empty)),
    // packBins priced in MODEL tokens (the wiring the whitespace counter
    // only approximated) and BPE context-window chunking with decode
    "bpe_pack_docs" -> ((s, dir) =>
      Packing.packBins(
        Bpe.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text",
          bpeMergesFor(s, dir)),
        "id", col("n_tokens"), 512L)),
    // zero-merges pack twin: char-level n_tokens is SQL-expressible, so the
    // whole BPE-budget packing composition (count -> two-pass prefix sum ->
    // bin assignment) hash-checks; only the learned-merge application in
    // bpe_pack_docs stays rows-only
    "bpe_pack0_docs" -> ((s, dir) =>
      Packing.packBins(
        Bpe.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text", Seq.empty),
        "id", col("n_tokens"), 512L)),
    "bpe_chunk_docs" -> ((s, dir) =>
      Bpe.chunkBpe(tbl(s, dir, "documents"), "doc_id", "text",
        bpeMergesFor(s, dir), 64, 8)),
    // zero-merges chunk twin: char-level symbols ARE SQL-expressible, so the
    // whole chunk machinery (tokenize -> window -> decode) hash-checks;
    // only the merge application itself stays rows-only
    "bpe_chunk0_docs" -> ((s, dir) =>
      Bpe.chunkBpe(tbl(s, dir, "documents"), "doc_id", "text",
        Seq.empty, 64, 8)),
    // BYTE-LEVEL BPE (GPT-2 family): pre-tokenization regex + bytes_to_unicode
    // alphabet, so budgets mean a real model family's tokens. Learned form
    // rows-only (same reason as above); the zero-merges twin is hash-checked
    // — the pattern partitions the text and every UTF-8 byte is one symbol,
    // so n_tokens == octet_length(text). BpeSpec pins a committed
    // GPT-2-format merges fixture end to end (loadMerges -> encode ==
    // hand-computed tokens).
    "bpe_byte_token_counts_docs" -> ((s, dir) =>
      Bpe.tokenCountsBytes(tbl(s, dir, "documents"), "doc_id", "text",
        bpeByteMergesFor(s, dir))),
    "bpe_byte_counts0_docs" -> ((s, dir) =>
      Bpe.tokenCountsBytes(tbl(s, dir, "documents"), "doc_id", "text", Seq.empty)),
    // byte-mode context-window chunking (hex payload — byte windows can
    // split a code point): learned form rows-only, zero-merges twin
    // hash-checked via hex-string slicing (r11 verdict stretch #7)
    "bpe_byte_chunk_docs" -> ((s, dir) =>
      Bpe.chunkBpeBytes(tbl(s, dir, "documents"), "doc_id", "text",
        bpeByteMergesFor(s, dir), 64, 8)),
    "bpe_byte_chunk0_docs" -> ((s, dir) =>
      Bpe.chunkBpeBytes(tbl(s, dir, "documents"), "doc_id", "text",
        Seq.empty, 64, 8)),
    // packed-sequence emitter: one row per bin, member docs concatenated in
    // key order behind the separator (seq_text hash-checked). Same ws token
    // count as pack_docs_bins, inline over the documents frame.
    "pack_seqs_docs" -> ((s, dir) =>
      Packing.packedSequences(tbl(s, dir, "documents"), "doc_id", "text",
        size(filter(split(col("text"), "[\t\n\r ]"),
          x => trim(x) =!= "")).cast("long"), 512L)),

    // Curation operators (benchmark decontamination, PII scrub, repetition
    // quality, source mixing, deterministic global shuffle) — the steps a
    // training-data pipeline runs between dedup and sequence packing
    "decontam_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Curation.decontaminate(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "doc_id", "text", n = 13, minShared = 1)
    }),
    // documents carry no PII, so the query grafts deterministic synthetic
    // PII onto a subset of rows (id-derived email / phone / IPv4) before
    // scrubbing — the oracle builds the identical input
    "pii_scrub_docs" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val withPii = docs.select(col("doc_id"), concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" call 555-123-4567"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" from 10.0.0."), pmod(col("doc_id"), lit(256)).cast("string")))
          .otherwise(lit(""))).as("text"))
      Curation.piiScrub(withPii, "doc_id", "text")
    }),
    "repetition_docs" -> ((s, dir) =>
      Curation.repetitionStats(tbl(s, dir, "documents"), "doc_id", "text")),
    "mix_sources_docs" -> ((s, dir) =>
      Curation.mixSources(tbl(s, dir, "documents"), "doc_id", "source",
        Seq("src0" -> 0.1, "src1" -> 0.25, "src2" -> 0.5),
        defaultWeight = 0.75, seed = "mix")),
    // one-pass ROLLUP composition report: leaf (source × lang) rows plus
    // per-source and grand-total super-aggregates, gid disambiguating levels
    "corpus_report_docs" -> ((s, dir) =>
      Curation.corpusReport(tbl(s, dir, "documents"), "source", "lang", "n_chars")),
    // absolute per-source cap (the Gopher/Dolma anti-swamping rule) — a
    // deterministic-uniform sample of at most 15 docs per source
    "cap_per_source_docs" -> ((s, dir) =>
      Curation.capPerSource(tbl(s, dir, "documents"), "doc_id", "source", 15)),
    // exact top-60% quality gate via the distributed two-pass rank (the
    // oracle runs the single-partition window form the rank must reproduce)
    "keep_top_quality_docs" -> ((s, dir) =>
      Curation.keepTopFraction(
        TextAnalysis.qualityScore(tbl(s, dir, "documents"), "doc_id", "text"),
        "id", "quality_score", 0.6)),
    // deterministic training-order permutation via the distributed two-pass
    // rank (the oracle runs the single-partition window form)
    "shuffle_order_docs" -> ((s, dir) =>
      Curation.shuffleOrder(tbl(s, dir, "documents"), "doc_id", seed = "42")),
    // cross-doc line dedup needs multi-line input; documents are single-line,
    // so the query manufactures it deterministically — each constructed doc
    // is this text + the next two (lead window), putting every original line
    // in up to 3 docs. The oracle builds the identical input; the operator's
    // map-side-combining groupBy must hash-equal the oracle's window form.
    "line_dedup_docs" -> ((s, dir) => {
      // single-partition lead() is test-input manufacturing, not a scale
      // path — Curation.lineDedup itself is the operator under test
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val input = tbl(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"),
          lead(col("text"), 1).over(w), lead(col("text"), 2).over(w)).as("text"))
      Curation.lineDedup(input, "doc_id", "text")
    }),
    // web-crawl FIRST passes: HTML stripping (synthetic markup wrapped
    // around every row so script/comment/tag/entity handling is exercised
    // on real data) and Unicode NFC normalization (fix-encoding before any
    // hashing/dedup — NFC vs NFD of the same text hashes differently)
    "strip_html_docs" -> ((s, dir) =>
      Curation.stripHtml(
        tbl(s, dir, "documents").select(col("doc_id"),
          concat(lit("<p class=x>"), col("text"),
            lit("</p> <script>drop();</script><!-- note --> A&amp;B&nbsp;<br/>"))
            .as("html")),
        "doc_id", "html")),
    "normalize_text_docs" -> ((s, dir) =>
      Curation.normalizeText(tbl(s, dir, "documents"), "doc_id", "text")),
    // span-level (Lee et al.) exact-substring duplication signal
    "substring_dup_docs" -> ((s, dir) =>
      Curation.substringDupStats(tbl(s, dir, "documents"), "doc_id", "text")),
    // ... and the REMOVAL half: duplicated 13-gram spans excised, global
    // first occurrence kept, docs rewritten (oracle = the window form)
    "substring_dedup_docs" -> ((s, dir) =>
      Curation.substringDedup(tbl(s, dir, "documents"), "doc_id", "text", 13)),

    // Notebook-surface relational ops (SURVEY §2.5)
    "n1_concat_customer" -> ((s, dir) =>
      tbl(s, dir, "customer").select(col("c_custkey"),
        concat_ws(" ", col("c_name"), col("c_mktsegment")).as("full_name"))),
    "n2_union_names" -> ((s, dir) =>
      tbl(s, dir, "customer").select(col("c_name").as("name"))
        .union(tbl(s, dir, "supplier").select(col("s_name")))
        .union(tbl(s, dir, "part").select(col("p_name")))
        .distinct()),
    "n3_sample_orders" -> ((s, dir) =>
      tbl(s, dir, "orders").sample(withReplacement = false, 0.1, 42)
        .select(col("o_orderkey"))),
    // deterministic 1/16 hash sample — reproducible across engines and runs,
    // the sampling you actually want in a 100 TB pipeline (engine-RNG `sample`
    // above stays for reference parity, rows-only checked)
    "n3b_sample_hash_orders" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .where(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
        .select(col("o_orderkey"))),
    // fixed-N sampling (the reference's `USING SAMPLE 5000 ROWS`, notebook
    // cell 37): deterministic top-N by md5 rank — Catalyst plans
    // TakeOrderedAndProject (per-partition top-N + driver merge), never a
    // global sort, and the sample is reproducible across engines/runs
    "n3c_sample_fixed_orders" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
        .limit(5000)
        .select(col("o_orderkey"))),
    // stratified sampling: deterministic top-N PER STRATUM by md5 rank —
    // per-class curation (balance a training mix across categories) with
    // the same reproducible-across-engines hash ordering as n3c. One
    // shuffle on the stratum key; row_number never globally sorts.
    "n3d_sample_strat_orders" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_orderpriority"))
            .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))))
        .where(col("rn") <= 100)
        .select(col("o_orderkey"), col("o_orderpriority"))),
    // fuzzy (edit-distance) self-join: typo-class entity resolution over
    // customer names — length-banded equi-join, thresholded levenshtein
    "fuzzy_cust_names" -> ((s, dir) =>
      FuzzyJoin.selfJoin(tbl(s, dir, "customer"), "c_custkey", "c_name", 1)),
    "n4_range_filter_orders" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .where(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000 &&
          col("o_totalprice") > 100000)
        .select(col("o_orderkey"), col("o_totalprice"))),
    "n5_three_way_join" -> ((s, dir) =>
      tbl(s, dir, "customer").alias("c")
        .join(tbl(s, dir, "orders").alias("o"), col("c.c_custkey") === col("o.o_custkey"))
        .join(tbl(s, dir, "lineitem").alias("l"), col("o.o_orderkey") === col("l.l_orderkey"))
        .where(col("o.o_orderkey") < 1000)
        .select(col("c.c_custkey"), col("o.o_orderkey"), col("l.l_linenumber"))),
    // N6: correlated scalar subqueries (legacy surface, test.ipynb cells 28-29)
    // — integer-cents arithmetic so both engines compare exactly
    "n6_corr_subquery" -> ((s, dir) => {
      tbl(s, dir, "customer").createOrReplaceTempView("customer_n6")
      s.sql("""SELECT c_nationkey, count(*) AS n_above FROM customer_n6 c
WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) *
      (SELECT count(*) FROM customer_n6 c2 WHERE c2.c_nationkey = c.c_nationkey)
    > (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
       FROM customer_n6 c2 WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c_nationkey""")
    }),

    // E2: the reference's primary oracle — filtered vs brute-force symmetric
    // diff MUST be empty (notebook.ipynb cell 5); reported as a count row.
    // Normalized-pair-key diff (equi-join) so the check itself scales — the
    // faithful OR-join form is exercised by eval_counts_part and the specs.
    "e2_differential" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val f = JaccardJoin.selfJoinDeduped(docs, "doc_id", "text", ws, 0.9)
      val bf = JaccardJoin.bruteForceSelfDeduped(docs, "doc_id", "text", ws, 0.9)
      Evaluate.symmetricDiffNormalized(f, bf,
          "l_doc_id", "r_doc_id", "l_doc_id", "r_doc_id")
        .agg(count(lit(1)).as("n_diff"))
    }),

    "n7_manual_jaccard_part" -> ((s, dir) => {
      val tokens = ws.tokenize(tbl(s, dir, "part"), "p_partkey", "p_name")
      tokens.alias("L").join(tokens.alias("R"),
          col("L.token") === col("R.token") && col("L.id") < col("R.id"))
        .select(col("L.id").as("lid"), col("L.len").as("llen"),
          col("R.id").as("rid"), col("R.len").as("rlen"))
        .groupBy("lid", "llen", "rid", "rlen")
        .agg(count(lit(1)).as("overlap"))
        .select(col("lid").as("l_id"), col("rid").as("r_id"), col("overlap"),
          ((col("overlap") * 100) / (col("llen") + col("rlen") - col("overlap")))
            .as("jac_pct"))
    }),

    // Event-stream analytics over the events table (windowed agg, JSON
    // extraction, sessionization — the batch counterparts of graft.streaming).
    "evt_window_agg" -> ((s, dir) =>
      eventsByTime(s, dir)
        .groupBy(window(col("tsv"), "1 hour").as("w"), col("event_type"))
        // integer cents: double->decimal rounding modes differ across engines,
        // round(x*100) is identical (half-away-from-zero in both)
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value_cents"))),
    "evt_json_props" -> ((s, dir) =>
      tbl(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),
    "evt_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("tsv", "event_id")
      eventsByTime(s, dir)
        .withColumn("prev_ts", lag("tsv", 1).over(byUser))
        // 30-min gap test as a day-time-interval comparison: integer micros
        // under the hood — exact, no float boundary cases
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (col("tsv") - col("prev_ts")) > expr("INTERVAL '30' MINUTE"), 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum("new_sess").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min("tsv").as("session_start"), max("tsv").as("session_end"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("session_start"), col("session_end"))
    }),

    // Sources (S1/S2) over committed fixtures
    "s1_csv_purchases" -> ((s, _) =>
      Sources.csv(s, "/root/repo/data/fixtures/purchases.csv")
        .select(col("id").cast("long").as("id"), col("name"), col("purchases"))),
    "s2_json_products" -> ((s, _) =>
      Sources.jsonLines(s, "/root/repo/data/fixtures/products.jsonl")
        .select(col("pid"), col("pname"), col("price"))),

    // S3: in-memory session data — literal rows created in the session itself
    // (the reference's duckdb.connect(':memory:') + VALUES surface)
    "s3_inmem_literal" -> ((s, _) => {
      import s.implicits._
      Seq((1L, "alpha", 10.5), (2L, "beta", 3.25), (3L, "gamma", 7.0))
        .toDF("k", "name", "score")
        .where(col("score") > 5.0)
        .select(col("k"), col("name"))
    }),

    // S4/S5: stage materialization (CTAS) + drop lifecycle
    "s4_stage_lifecycle" -> ((s, dir) => {
      import graft.sources.Stages
      val stage = Stages.materialize(s, "stage_hot_customers",
        tbl(s, dir, "customer").where(col("c_acctbal") > 5000)
          .select(col("c_custkey"), col("c_name")))
      val out = stage.alias("c")
        .join(tbl(s, dir, "orders").alias("o"), col("c.c_custkey") === col("o.o_custkey"))
        .groupBy(col("c.c_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Stages.drop(s, "stage_hot_customers") // lifecycle check; plan stays valid
      out
    }),

    // S6/S7/S8: temp views, catalog listing, schema inspect
    "s6_srcall_view" -> ((s, dir) => {
      tbl(s, dir, "customer").select(col("c_name").as("name"))
        .union(tbl(s, dir, "supplier").select(col("s_name")))
        .union(tbl(s, dir, "part").select(col("p_name")))
        .distinct()
        .createOrReplaceTempView("srcall")
      s.sql("SELECT name FROM srcall WHERE name LIKE 'Supplier%'")
    }),
    "s7_show_tables" -> ((s, dir) => {
      tbl(s, dir, "region").createOrReplaceTempView("region_view")
      s.sql("SHOW TABLES").select(col("tableName"), col("isTemporary"))
    }),
    "s8_describe" -> ((s, dir) => {
      tbl(s, dir, "region").createOrReplaceTempView("region_desc_view")
      s.sql("DESCRIBE TABLE region_desc_view")
    }),
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL (same parquet tables, registered by the driver under their
  // bare names). Generated by DuckSql so thresholds/operand order match the
  // Spark expressions bit-for-bit.
  // ---------------------------------------------------------------------------

  private val partQ3 = DuckSql.qgramsTokens("part", "p_partkey", "p_name", 3)
  private val partQ3Bag = DuckSql.qgramsTokens("part", "p_partkey", "p_name", 3, set = false)
  private val partWs = DuckSql.delimTokens("part", "p_partkey", "p_name", DuckSql.wsClass)
  private val custQ5 = DuckSql.qgramsTokens("customer", "c_custkey", "c_name", 5)
  private val custQ3 = DuckSql.qgramsTokens("customer", "c_custkey", "c_name", 3)
  private val suppQ3 = DuckSql.qgramsTokens("supplier", "s_suppkey", "s_name", 3)
  private val custQ3Bag = DuckSql.qgramsTokens("customer", "c_custkey", "c_name", 3, set = false)
  private val suppQ3Bag = DuckSql.qgramsTokens("supplier", "s_suppkey", "s_name", 3, set = false)
  private val partWsBag = DuckSql.delimTokens("part", "p_partkey", "p_name", DuckSql.wsClass, set = false)
  private val docsWs = DuckSql.delimTokens("documents", "doc_id", "text", DuckSql.wsClass)
  // the deterministic corpus/incoming split behind the incremental-dedup queries
  private val corpusSplit = "(SELECT * FROM documents WHERE doc_id % 10 != 0)"
  private val incomingSplit = "(SELECT * FROM documents WHERE doc_id % 10 = 0)"
  private val docsWsBag = DuckSql.delimTokens("documents", "doc_id", "text", DuckSql.wsClass, set = false)
  private val ordersDash = DuckSql.delimTokens("orders", "o_orderkey", "o_orderpriority", "[-]")

  def oracleSql: Map[String, String] = Map(
    "tok_qgrams3_part" -> partQ3,
    "tok_qgrams5_customer" -> custQ5,
    "tok_qgrams3_bag_part" -> partQ3Bag,
    "tok_ws_documents" -> docsWs,
    "tok_ws_bag_documents" -> docsWsBag,
    "tok_delim_orders" -> ordersDash,
    "jac_self_part_ws_t05" -> DuckSql.selfJoin(partWs, "p_partkey", 0.5),
    "jac_self_part_q3_t05" -> DuckSql.selfJoin(partQ3, "p_partkey", 0.5),
    "jac_self_docs_ws_t09" -> DuckSql.selfJoin(docsWs, "doc_id", 0.9),
    "jac_self_part_ws_t03" -> DuckSql.selfJoin(partWs, "p_partkey", 0.3),
    "jac_self_docs_ws_t05" -> DuckSql.selfJoin(docsWs, "doc_id", 0.5),
    "jac_self_part_wsbag_t07" -> DuckSql.selfJoin(partWsBag, "p_partkey", 0.7),
    "jac_bf_self_part_ws_t05" -> DuckSql.bruteSelf(partWs, "p_partkey", 0.5),
    // lIsIndexing pinned to the sf0.01 data: widow prefix counts at t=0.3 are
    // l=2813 vs r=110, so `l_widows > r_widows` holds and customer indexes.
    "jac_rs_cust_supp_q3_t03" -> DuckSql.rsJoin(
      custQ3, suppQ3,
      "SELECT count(*) FROM customer", "SELECT count(*) FROM supplier",
      "c_custkey", "s_suppkey", 0.3, lIsIndexing = true),
    // lIsIndexing=false: supplier probes, customer indexes (widows 110 vs 2813)
    "jac_rs_supp_cust_q3_t03" -> DuckSql.rsJoin(
      suppQ3, custQ3,
      "SELECT count(*) FROM supplier", "SELECT count(*) FROM customer",
      "s_suppkey", "c_custkey", 0.3, lIsIndexing = false),
    "jac_rs_exact_recall" -> DuckSql.rsJoin(
      custQ3, suppQ3,
      "SELECT count(*) FROM customer", "SELECT count(*) FROM supplier",
      "c_custkey", "s_suppkey", 0.3, lIsIndexing = true, exactRecall = true),
    "jac_bf_rs_cust_supp_q3_t03" -> DuckSql.bruteRs(
      custQ3, suppQ3, "c_custkey", "s_suppkey", 0.3),
    // t=0.2 widow counts on sf0.01: l=6309 vs r=310 -> customer indexes
    "jac_rs_cust_supp_q3_t02" -> DuckSql.rsJoin(
      custQ3, suppQ3,
      "SELECT count(*) FROM customer", "SELECT count(*) FROM supplier",
      "c_custkey", "s_suppkey", 0.2, lIsIndexing = true),
    // BAG-token widow prefix counts on sf0.01 at t=0.3: l=5912 vs r=411
    // -> customer indexes (same side as the set form — pinned, not assumed)
    "jac_rs_cust_supp_q3bag_t03" -> DuckSql.rsJoin(
      custQ3Bag, suppQ3Bag,
      "SELECT count(*) FROM customer", "SELECT count(*) FROM supplier",
      "c_custkey", "s_suppkey", 0.3, lIsIndexing = true),
    "eval_counts_part" -> DuckSql.evalCounts(
      s"SELECT l_p_partkey AS gk1, r_p_partkey AS gk2 FROM (${DuckSql.bruteSelf(partQ3, "p_partkey", 0.5)})",
      s"SELECT l_p_partkey AS sk1, r_p_partkey AS sk2 FROM (${DuckSql.selfJoin(partWs, "p_partkey", 0.5)})"),
    // countsNormalized must produce identical tp/fp/fn to the OR-join form;
    // GT = the filtered q3 pipeline (same pairs as brute force, scale path).
    "eval_counts_norm_part" -> DuckSql.evalCounts(
      s"SELECT l_p_partkey AS gk1, r_p_partkey AS gk2 FROM (${DuckSql.selfJoin(partQ3, "p_partkey", 0.5)})",
      s"SELECT l_p_partkey AS sk1, r_p_partkey AS sk2 FROM (${DuckSql.selfJoin(partWs, "p_partkey", 0.5)})"),
    "eval_sweep_part" -> Seq(0.8, 0.6, 0.5, 0.4, 0.3).map { t =>
      DuckSql.evalSweepRow(t,
        s"SELECT l_p_partkey AS gk1, r_p_partkey AS gk2 FROM (${DuckSql.selfJoin(partQ3, "p_partkey", 0.5)})",
        s"SELECT l_p_partkey AS sk1, r_p_partkey AS sk2 FROM (${DuckSql.selfJoin(partWs, "p_partkey", t)})")
    }.mkString("\nUNION ALL\n"),

    // Text analysis / dedup
    "text_stats_docs" -> DuckSql.textStats("documents", "doc_id", "text"),
    "lang_id_docs" -> DuckSql.langId("documents", "doc_id", "text"),
    "token_counts_docs" -> DuckSql.tokenCounts("documents", "doc_id", "text"),
    "fingerprint_docs" -> DuckSql.fingerprint("documents", "doc_id", "text"),
    "winnowing_docs" -> DuckSql.winnowing("documents", "doc_id", "text", 8, 4),
    "winnow_overlap_docs" -> DuckSql.winnowingOverlap("documents", "doc_id", "text", 8, 4, 3, 100),
    "bm25_topk_docs" -> DuckSql.bm25TopK("documents", "doc_id", "text",
      Seq("hash", "join", "scan", "stream"), 25, 1.2, 0.75),
    "quality_score_docs" -> DuckSql.qualityScore("documents", "doc_id", "text"),
    "lm_bigram_docs" -> DuckSql.bigramLm("documents", "doc_id", "text", 1.0),
    "importance_sample_docs" -> DuckSql.importanceSample("documents", "doc_id",
      "text", "lang = 'en'", 0.6, 1.0, "dsir"),
    "dedup_exact_docs" -> DuckSql.dedupExact("documents", "doc_id", "text"),
    "dedup_near_drop_docs" -> DuckSql.nearDropIds(
      DuckSql.selfJoin(docsWs, "doc_id", 0.9), "doc_id"),
    "dedup_ngram_docs" -> DuckSql.nearDropIds(
      DuckSql.selfJoin(DuckSql.qgramsTokens("documents", "doc_id", "text", 5), "doc_id", 0.8),
      "doc_id"),
    "dedup_cascade_docs" -> DuckSql.dedupCascade(
      "documents", "doc_id", "text", DuckSql.wsClass, 0.9),
    "dedup_cluster_docs" -> DuckSql.clusterIds(
      s"SELECT l_doc_id AS l, r_doc_id AS r FROM (${DuckSql.selfJoin(docsWs, "doc_id", 0.9)})"),
    "dedup_cluster_keep_docs" ->
      s"""SELECT doc_id FROM documents WHERE doc_id NOT IN (
SELECT id FROM (${DuckSql.clusterIds(
        s"SELECT l_doc_id AS l, r_doc_id AS r FROM (${DuckSql.selfJoin(docsWs, "doc_id", 0.9)})")})
WHERE cluster_id != id)""",
    // dedup_minhash_docs / dedup_simhash_docs: xxhash64-based, not expressible
    // in DuckDB -> rows-only check; verified in ScalaTest against exact Jaccard.
    // The md5-family variants ARE oracle-able:
    "dedup_minhash_oracle_docs" -> DuckSql.minHashMd5(docsWs, 0.9, 8, 4),
    "dedup_simhash_oracle_docs" -> DuckSql.simHashMd5(docsWs, 3),
    // dedup_minhash_rs_docs: xxhash64 fast path -> rows-only; the md5 twin:
    "dedup_minhash_rs_oracle_docs" -> DuckSql.minHashMd5Rs(
      DuckSql.delimTokens(corpusSplit, "doc_id", "text", DuckSql.wsClass),
      DuckSql.delimTokens(incomingSplit, "doc_id", "text", DuckSql.wsClass),
      0.9, 8, 4),
    "dedup_incremental_keep_docs" -> DuckSql.incrementalKeep(
      corpusSplit, incomingSplit, "doc_id", "text", DuckSql.wsClass, 0.9, 8, 4),
    // dedup_minhash_rs_indexed_docs / dedup_simhash_rs_docs: xxhash64 fast
    // paths -> rows-only; the md5 twins ARE oracle-able. The indexed twin
    // shares the direct operator's oracle — the index is a materialization
    // of the same banding, so results must be identical (DedupSpec:284).
    "dedup_minhash_rs_indexed_oracle_docs" -> DuckSql.minHashMd5Rs(
      DuckSql.delimTokens(corpusSplit, "doc_id", "text", DuckSql.wsClass),
      DuckSql.delimTokens(incomingSplit, "doc_id", "text", DuckSql.wsClass),
      0.9, 8, 4),
    "dedup_simhash_rs_oracle_docs" -> DuckSql.simHashMd5Rs(
      DuckSql.delimTokens(corpusSplit, "doc_id", "text", DuckSql.wsClass),
      DuckSql.delimTokens(incomingSplit, "doc_id", "text", DuckSql.wsClass), 3),
    // the simhash indexed twin shares the DIRECT R×S oracle: the index's
    // (band << bandBits) | bandval bucket key is a lossless encoding, so the
    // indexed join predicate IS the direct (band, bandval) equality
    "dedup_simhash_rs_indexed_oracle_docs" -> DuckSql.simHashMd5Rs(
      DuckSql.delimTokens(corpusSplit, "doc_id", "text", DuckSql.wsClass),
      DuckSql.delimTokens(incomingSplit, "doc_id", "text", DuckSql.wsClass), 3),
    // the indexed keep-set shares the direct operator's end-to-end oracle:
    // the corpus index materializes the same banding, and the stored-hash
    // sorted-merge overlap equals token-overlap counts on the set tokenizer
    "dedup_incremental_keep_indexed_docs" -> DuckSql.incrementalKeep(
      corpusSplit, incomingSplit, "doc_id", "text", DuckSql.wsClass, 0.9, 8, 4),
    // the Hamming-side keep-set pair shares ONE oracle: indexed == direct
    // (lossless bucket encoding), so both registrations point here
    "dedup_incremental_keep_simhash_docs" -> DuckSql.incrementalKeepSimHash(
      corpusSplit, incomingSplit, "doc_id", "text", DuckSql.wsClass, 3),
    "dedup_incremental_keep_simhash_indexed_docs" -> DuckSql.incrementalKeepSimHash(
      corpusSplit, incomingSplit, "doc_id", "text", DuckSql.wsClass, 3),
    "pack_docs_bins" -> DuckSql.packBins("documents", "doc_id", "text", 512L),
    "bpe_token_counts0_docs" -> DuckSql.bpeTokenCounts0("documents", "doc_id", "text"),
    "bpe_byte_counts0_docs" -> DuckSql.bpeByteCounts0("documents", "doc_id", "text"),
    "bpe_byte_chunk0_docs" -> DuckSql.bpeByteChunk0("documents", "doc_id", "text", 64, 8),
    "bpe_pack0_docs" -> DuckSql.bpePackBins0("documents", "doc_id", "text", 512L),
    "pack_seqs_docs" -> DuckSql.packedSequences("documents", "doc_id", "text",
      512L, "<|doc|>"),
    "bpe_chunk0_docs" -> DuckSql.bpeChunk0("documents", "doc_id", "text", 64, 8),
    "chunk_docs_windows" -> DuckSql.chunkDocs("documents", "doc_id", "text", 48, 8),
    "pipeline_curate_docs" -> {
      val kept2Ws = DuckSql.delimTokens("kept2", "doc_id", "text", DuckSql.wsClass)
      val clusterSql = DuckSql.clusterIds(
        s"SELECT l_doc_id AS l, r_doc_id AS r FROM (${DuckSql.selfJoin(kept2Ws, "doc_id", 0.9)})")
      s"""WITH pass_q AS (
  SELECT id FROM (${DuckSql.qualityScore("documents", "doc_id", "text")})
  WHERE quality_score >= CAST(0.5 AS DOUBLE)),
pass_l AS (
  SELECT id FROM (${DuckSql.langId("documents", "doc_id", "text")})
  WHERE lang_pred != 'und'),
kept1 AS (
  SELECT * FROM documents
  WHERE doc_id IN (SELECT id FROM pass_q) AND doc_id IN (SELECT id FROM pass_l)),
keep_exact AS (SELECT min(doc_id) AS id FROM kept1 GROUP BY md5(text)),
kept2 AS (SELECT * FROM kept1 WHERE doc_id IN (SELECT id FROM keep_exact)),
cluster_drop AS (
  SELECT id FROM ($clusterSql) WHERE cluster_id != id),
surv AS (SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT id FROM cluster_drop))
SELECT * FROM (${DuckSql.packBins("surv", "doc_id", "text", 512L)})"""
    },

    // Curation operators
    "decontam_docs" -> DuckSql.decontaminate("documents", "doc_id", "text",
      "source != 'src0'", "source = 'src0'", 13, 1),
    "pii_scrub_docs" -> DuckSql.piiScrub(
      """(SELECT doc_id, text ||
  (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) ||
  (CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END) ||
  (CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END) AS text
 FROM documents)""", "doc_id", "text"),
    "repetition_docs" -> DuckSql.repetitionStats("documents", "doc_id", "text"),
    "mix_sources_docs" -> DuckSql.mixSources("documents", "doc_id", "source",
      Seq("src0" -> 0.1, "src1" -> 0.25, "src2" -> 0.5), 0.75, "mix"),
    "corpus_report_docs" -> DuckSql.corpusReport("documents", "source", "lang", "n_chars"),
    "keep_top_quality_docs" -> DuckSql.keepTopFraction(
      DuckSql.qualityScore("documents", "doc_id", "text"), "id", "quality_score", 0.6),
    "cap_per_source_docs" -> DuckSql.capPerSource("documents", "doc_id", "source", 15, "cap"),
    "shuffle_order_docs" -> DuckSql.shuffleOrder("documents", "doc_id", "42"),
    "line_dedup_docs" -> DuckSql.lineDedup(
      """(SELECT doc_id, concat_ws(chr(10), text,
  lead(text, 1) OVER (ORDER BY doc_id),
  lead(text, 2) OVER (ORDER BY doc_id)) AS text FROM documents)""",
      "doc_id", "text"),
    "substring_dup_docs" -> DuckSql.substringDup("documents", "doc_id", "text", 13),
    "substring_dedup_docs" -> DuckSql.substringDedup("documents", "doc_id", "text", 13),
    "strip_html_docs" -> DuckSql.stripHtml("documents", "doc_id",
      "'<p class=x>' || text || '</p> <script>drop();</script><!-- note --> A&amp;B&nbsp;<br/>'"),
    "normalize_text_docs" -> DuckSql.normalizeText("documents", "doc_id", "text"),

    // Notebook-surface ops
    "n1_concat_customer" ->
      "SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS full_name FROM customer",
    "n2_union_names" ->
      """SELECT c_name AS name FROM customer
UNION SELECT s_name FROM supplier
UNION SELECT p_name FROM part""",
    // n3_sample_orders: engine-specific sampling -> rows-only check.
    "n3b_sample_hash_orders" ->
      "SELECT o_orderkey FROM orders WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'",
    "n3c_sample_fixed_orders" ->
      """SELECT o_orderkey FROM (
SELECT o_orderkey FROM orders
ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 5000)""",
    "n3d_sample_strat_orders" ->
      """SELECT o_orderkey, o_orderpriority FROM (
SELECT o_orderkey, o_orderpriority,
  row_number() OVER (PARTITION BY o_orderpriority
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
FROM orders) WHERE rn <= 100""",
    "fuzzy_cust_names" -> DuckSql.fuzzySelfJoin("customer", "c_custkey", "c_name", 1),
    "n4_range_filter_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderkey >= 1000 AND o_orderkey < 3000 AND o_totalprice > 100000""",
    "n5_three_way_join" ->
      """SELECT c.c_custkey, o.o_orderkey, l.l_linenumber
FROM customer c, orders o, lineitem l
WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey AND o.o_orderkey < 1000""",
    "n6_corr_subquery" ->
      """SELECT c_nationkey, count(*) AS n_above FROM customer c
WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) *
      (SELECT count(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    > (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
       FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c_nationkey""",
    "e2_differential" -> DuckSql.differentialCount(
      s"SELECT l_doc_id AS ak1, r_doc_id AS ak2 FROM (${DuckSql.selfJoin(docsWs, "doc_id", 0.9)})",
      s"SELECT l_doc_id AS bk1, r_doc_id AS bk2 FROM (${DuckSql.bruteSelf(docsWs, "doc_id", 0.9)})"),
    "n7_manual_jaccard_part" -> DuckSql.manualJaccard(partWs),

    // Event-stream analytics
    "evt_window_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
count(*) AS n_events,
CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1,2""",
    "evt_json_props" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    "evt_sessionize" ->
      """WITH g AS (
  SELECT user_id, ts, event_id,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
f AS (
  SELECT user_id, ts, event_id,
    CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000 THEN 1 ELSE 0 END AS new_sess
  FROM g),
ss AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM f)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end
FROM ss GROUP BY 1,2""",

    // Sources over committed fixtures
    "s1_csv_purchases" ->
      "SELECT id, name, purchases FROM read_csv_auto('/root/repo/data/fixtures/purchases.csv')",
    "s2_json_products" ->
      "SELECT pid, pname, price FROM read_json_auto('/root/repo/data/fixtures/products.jsonl')",
    "s3_inmem_literal" ->
      """SELECT CAST(k AS BIGINT) AS k, name
FROM (VALUES (1, 'alpha', 10.5), (2, 'beta', 3.25), (3, 'gamma', 7.0))
AS t(k, name, score) WHERE score > 5.0""",
    "s4_stage_lifecycle" ->
      """SELECT c.c_custkey AS c_custkey, count(*) AS n_orders
FROM customer c, orders o
WHERE c.c_acctbal > 5000 AND c.c_custkey = o.o_custkey
GROUP BY 1""",
    "s6_srcall_view" ->
      """SELECT name FROM (
SELECT c_name AS name FROM customer
UNION SELECT s_name FROM supplier
UNION SELECT p_name FROM part) WHERE name LIKE 'Supplier%'""",
    // s7_show_tables / s8_describe: engine catalog output -> rows-only check.
  )
}
