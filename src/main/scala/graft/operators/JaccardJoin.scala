package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.PersistTracker.TrackedPersist

/**
 * Set-similarity join under a Jaccard threshold, prefix-filtering family
 * (length filter + prefix filter + positional filter + exact verification).
 *
 * Semantics mirror the reference pipeline
 * (reference: py_duckdb/similarity_join/join/jaccard_join.py:9-469) re-expressed as
 * lazy Spark DataFrame stages so Catalyst plans the physical join/agg strategy:
 *
 *   tokenize -> document frequency -> rarest-first position -> prefix selection
 *            -> candidate generation (equi-join on the token's rank + theta filters)
 *            -> verification (suffix overlap count + exact threshold test)
 *
 * Tokens are strings only up to the document frequency: each distinct token
 * is then numbered once by its DENSE RANK in the global `(df, token)` order
 * ([[rankTokens]]), the AllPairs/PPJoin practice. A global order restricted
 * to one record is that record's rarest-first order, binary string tie-break
 * included, so positions, prefixes and every filter are exactly the
 * reference's; a record becomes its ascending rank array (position = index
 * + 1, prefix = leading slice), candidates join on a long, and verification
 * is a sorted merge of two long arrays.
 *
 * Where the reference materializes every stage as a DuckDB temp table, we keep the
 * plan declarative and persist only the intermediates a pipeline reads more than
 * once: the record-level [[selfJoin]] persists `tkdf` (read by both candidate
 * generation and verification — reference jaccard_join.py:154,176); the
 * value-deduplicated self-join materializes its threshold-free prep (`vals`,
 * `vtkdf`, `varr`) as cached plan leaves ([[prepareSelfDeduped]]); [[rsJoin]]
 * persists both token tables, the ranked df table and both `tkdf`s, lazily.
 * Everything else pipelines inside whole-stage codegen.
 *
 * Both join shapes end in ONE tail ([[prefixFilterJoin]]): salted candidate
 * generation over an indexing and a probing prefix, the per-pair prefix
 * aggregate and suffix verification, single-pass or in bounded-footprint
 * slices. The shapes differ only in what they hand it.
 *
 * Scale notes (target: 1000-executor cluster, ~100 TB):
 *   - The candidate join is an equi-join on `rank` with theta post-filters; Catalyst
 *     picks shuffled-hash/sort-merge on the equi key and evaluates the length/prefix/
 *     positional conditions as join residuals — no custom strategy needed.
 *   - Token skew (very frequent tokens) is the known hot spot; the rarest-first
 *     prefix ordering already removes the most frequent tokens from indexing
 *     prefixes, and AQE skew-join splitting handles the residue. Enable
 *     `spark.sql.adaptive.skewJoin.enabled` (on by default in Spark 4).
 *   - Document-frequency tables are `groupBy(token).count()` — map-side partial
 *     aggregation keeps the shuffle proportional to distinct tokens, not token rows.
 *   - The R×S variant's three driver-side actions — `lTable.count()` and
 *     `rTable.count()` for the widow placeholder, then one fused widow `collect` for
 *     the index-side choice — are the reference's manual adaptive planning
 *     (jaccard_join.py:238-245,341-353); the widow collect runs over the persisted
 *     token tables, so their data is scanned once.
 *   - Ranking sorts the VOCABULARY (distinct tokens), not the token rows, by a
 *     range-partitioned sort; no step gathers it into one partition.
 *
 * Float semantics: all threshold comparisons keep the reference's exact operand
 * order, e.g. `count(*) + pfxOverlap - 1 >= ((L.len + R.len) * t / (1+t))`
 * (reference jaccard_join.py:183 and the float-sensitivity note in test.ipynb
 * cell 23), so results hash-match a DuckDB oracle computing in DOUBLE.
 */
object JaccardJoin {

  /**
   * Dense token ranks: `dfreq` (one row per distinct token, with its `df`)
   * plus `rank`, the token's 0-based index in the global `(df, token)`
   * order, strings compared as bytes like the reference's per-record
   * `ORDER BY df, token`. (df, token) is unique per row, so every
   * recomputation, through any lineage, numbers the tokens alike.
   */
  private[graft] def rankTokens(dfreq: DataFrame): DataFrame =
    org.apache.spark.sql.GraftCheckpointBridge.withSortedIndex(
      dfreq, "rank", col("df"), col("token"))

  /**
   * Ranked token rows: `tokens` (id, len, token) joined to `ranks` and
   * carrying (id, len, rank, `cols` of the rank table…, pos), with `pos` the
   * token's 1-based place in its record's rarest-first order. Duplicate
   * token rows (the delimiter tokenizer's distinct-before-lowercase quirk,
   * bag mode) share a rank and take consecutive positions, as under the
   * reference's `ORDER BY df, token`.
   */
  private def rankPositions(tokens: DataFrame, ranks: DataFrame, cols: String*): DataFrame =
    tokens.join(ranks, "token")
      .select(Seq(col("id"), col("len"), col("rank")) ++ cols.map(col) :+
        row_number().over(Window.partitionBy("id").orderBy("rank")).cast("long").as("pos"): _*)

  /**
   * Per-record ascending rank arrays plus the record's token count: ranks
   * ascend in position order, so `arr[pos-1]` is the rank at `pos` and a
   * prefix is a leading slice.
   */
  private def posArrays(tkdf: DataFrame): DataFrame =
    tkdf.groupBy("id").agg(sort_array(collect_list(col("rank"))).as("arr"),
      first(col("len")).as("len"))

  /**
   * Suffix verification over rank arrays — semantically identical to the
   * reference's 3-way join + GROUP BY + HAVING (jaccard_join.py:168-188) but
   * O(|suffix|) per candidate with no row explosion (the relational form
   * streamed 162M joined rows for the sf0.1 documents self-join; this runs the
   * same verification in a few seconds):
   *
   *   - `cnt` = number of (L-row, R-row) token matches with `L.pos >= LmaxPos
   *     AND R.pos >= RmaxPos` = matches between the two sorted suffixes,
   *     counted by ONE merge of the two long arrays from those 1-based
   *     starts ([[graft.expressions.SortedOverlapKernels]]); equal runs
   *     multiply, so slices holding duplicate tokens (the delimiter
   *     tokenizer's distinct-before-lowercase quirk) keep the multiset
   *     count;
   *   - a pair only survives when `cnt >= 1` — in the reference the GROUP only
   *     exists if the verification join matched at least one row (LmaxPos and
   *     RmaxPos can come from different prefix tokens, so zero suffix matches
   *     is possible and must DROP the pair even when `pfxOverlap - 1` alone
   *     would clear the bound — reachable for t < sqrt(2)-1);
   *   - the HAVING bound keeps the reference's exact operand order.
   *
   * `cand` must carry (idxId, prbId, idxMaxPos, prbMaxPos, pfxOverlap);
   * returns the (idxId, prbId) pairs that survive.
   */
  private def verifySuffix(
      cand: DataFrame, idxArrs: DataFrame, prbArrs: DataFrame,
      threshold: Double): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)
    val joined = cand
      .join(idxArrs.select(col("id").as("idxId"), col("arr").as("larr"), col("len").as("llen")),
        "idxId")
      .join(prbArrs.select(col("id").as("prbId"), col("arr").as("rarr"), col("len").as("rlen")),
        "prbId")
    // one merge per candidate: O(n + m) long compares, no allocation
    val cnt = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SortedOverlapCount(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("larr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("rarr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("idxMaxPos").cast("int")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("prbMaxPos").cast("int"))))
    joined
      .withColumn("cnt", cnt)
      .where(col("cnt") >= 1 &&
        col("cnt") + col("pfxOverlap") - lit(1) >=
          ((col("llen") + col("rlen")) * t / onePlusT))
      .select(col("idxId"), col("prbId"))
  }

  /** J10: the indexing prefix, `len - pos + 1 >= len·2t/(1+t)` (reference
    * jaccard_join.py:147-166 inlines it in the self-join's candidate
    * generation; the R×S form is at :331,338). */
  private def indexingPrefix(tkdf: DataFrame, threshold: Double): DataFrame =
    tkdf.where(col("len") - col("pos") + lit(1) >=
      (col("len") * lit(2) * lit(threshold) / lit(1d + threshold)))

  /** J11: the probing prefix, `len - pos + 1 >= len·t` — wider than the
    * indexing prefix for every t < 1. */
  private def probingPrefix(tkdf: DataFrame, threshold: Double): DataFrame =
    tkdf.where(col("len") - col("pos") + lit(1) >= (col("len") * lit(threshold)))

  /**
   * J13/J14, shared by both join shapes: candidate generation over an
   * indexing and a probing prefix, the per-pair prefix aggregate, and suffix
   * verification. Returns the verified (idxId, prbId) pairs.
   *
   * The prefix frames carry (id, len, pos, rank) plus any extra equi `keys`
   * and the columns `saltWidth` and `residual` read. `idxArr`/`prbArr` are
   * the two sides' position arrays ([[posArrays]]). `residual` is the
   * shape's own candidate condition (its length filter and gates), written
   * over the aliases `idx` and `prb`; the positional filter is common and
   * added here, with the reference's operand order.
   *
   * ID-HASH SALT on the candidate equi key: a hot token leaves one partition
   * to compute its whole n_idx × n_prb product. The indexing side takes salt
   * `hash(id) % S` and the probing side is replicated to all S salts, so
   * every hot bucket splits S ways. Each (idx, prb) pair meets in EXACTLY
   * one partition (the one with the idx row's salt), so candidates and
   * per-pair prefix stats are unchanged; the cost is S × the probing
   * prefix's shuffle rows. `saltWidth` gives S per token, proportional to
   * the token's candidate fan-out and capped by the caller. Both sides
   * evaluate it over the SAME per-token df column through identical
   * deterministic math, so the widths agree per token and the
   * exactly-once-per-pair invariant holds. `saltBuckets == 1` turns salting
   * off.
   *
   * `passes = P > 1` is the BOUNDED-FOOTPRINT mode for the low-threshold
   * candidate-explosion regime (t ≤ 0.5), where the candidate join's shuffle
   * can exceed a node's scratch disk (measured: sf10 t=0.5 needs ~76 GB
   * shuffle vs 79 GB scratch — a resource wall, not a plan defect): the
   * probing prefix partitions by `pmod(xxhash64(id), P)` and the
   * candidate+verify pipeline runs once per slice, each pass's verified
   * pairs written to a parquet leaf ([[Checkpoints.cutToParquet]]) before
   * the next starts — so peak in-flight shuffle is ~1/P of the single-pass
   * join, traded for P re-reads of the indexed side. Output is INVARIANT in
   * P: every candidate pair's probing id lands in exactly one slice, the
   * per-pair prefix stats aggregate within that slice alone, and
   * verification is per-pair — spec-pinned (JaccardJoinSpec).
   * `prepShuffles` (evaluated only when P > 1) are the build shuffles of the
   * persisted frames the passes read; they are never removed, and their
   * files are released once every pass has run.
   */
  private def prefixFilterJoin(
      idxPfx: DataFrame, prbPfx: DataFrame, idxArr: DataFrame, prbArr: DataFrame,
      prepShuffles: => Set[Int], keys: Seq[String], residual: Column, saltWidth: Column,
      threshold: Double, saltBuckets: Int, maxSaltBuckets: Int, passes: Int): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1 (1 disables salting)")
    require(maxSaltBuckets >= saltBuckets, "maxSaltBuckets must be >= saltBuckets")
    require(passes >= 1, "passes must be >= 1 (1 = single-pass)")
    val nsalt = if (saltBuckets == 1) lit(1L) else saltWidth
    val equiKeys = "rank" +: keys :+ "salt"
    // Multi-pass slices pin the candidate join's parallelism with an
    // explicit NUMBERED repartition on the join's equi keys (the FuzzyJoin
    // rule): the sliced probe prefix is small in BYTES but huge in join
    // FAN-OUT, and AQE coalesces by input bytes — measured at sf10 it folded
    // each pass's join+partial-agg onto 34 tasks with a 36 GB sort spill PER
    // PASS, which is exactly the scratch the mode exists to avoid. A
    // user-numbered repartition forbids the coalesce, and hashing on exactly
    // the join keys is reused by the join (no second exchange).
    val nPart = idxPfx.sparkSession.sessionState.conf.numShufflePartitions
    def pinned(d: DataFrame): DataFrame =
      if (passes == 1) d else d.repartition(nPart, equiKeys.map(col): _*)
    val idx = pinned(idxPfx.withColumn("salt", pmod(xxhash64(col("id")), nsalt))).alias("idx")
    // one candidate+verify slice: `probeSlice` restricts the probing side to
    // a pass's share of the ids (None = everything, the single-pass plan)
    def vmOfSlice(probeSlice: Option[Column]): DataFrame = {
      val prb = pinned(probeSlice.fold(prbPfx)(prbPfx.where)
          .withColumn("salt", explode(sequence(lit(0L), nsalt - lit(1L)))))
        .alias("prb")
      val candCond =
        equiKeys.map(k => col(s"idx.$k") === col(s"prb.$k")).reduce(_ && _) &&
        residual &&
        least(col("idx.len") - col("idx.pos") + lit(1), col("prb.len") - col("prb.pos") + lit(1)) >=
          ((col("idx.len") + col("prb.len")) * lit(threshold) / lit(1d + threshold))
      val cand = idx.join(prb, candCond)
        .groupBy(col("idx.id").as("idxId"), col("prb.id").as("prbId"))
        .agg(max(col("idx.pos")).as("idxMaxPos"), max(col("prb.pos")).as("prbMaxPos"),
          count(lit(1)).as("pfxOverlap"))
      verifySuffix(cand, idxArr, prbArr, threshold)
    }
    if (passes == 1) vmOfSlice(None)
    else {
      val prep = prepShuffles
      val sc = idxPfx.sparkSession.sparkContext
      // per-invocation unique job-group tags: two concurrent multi-pass joins
      // on one session must never attribute each other's stages (a constant
      // per-pass tag would merge their listener sets); the tag also keeps a
      // repeated invocation from overwriting a predecessor's slice files
      val runTag = java.lang.Long.toHexString(System.nanoTime())
      val slices = (0 until passes).map { p =>
        // eager lineage cut, then DETERMINISTIC reclamation of exactly the
        // shuffles this pass's own stages wrote (GraftShuffleJanitor
        // job-group scoping — a concurrent job's shuffles are untouchable by
        // construction): the pass's only consumer — its own parquet write —
        // has completed, so the ~22 GB/pass candidate shuffle frees BEFORE
        // the next pass writes. GC-hint cleanup was measured too lazy at
        // sf10 (5-7 GB retained per pass → scratch death the mode exists to
        // prevent). Slices go to parquet, not executor blocks: at sf10 t=0.5
        // a localCheckpoint retained ~3.6 GB of blocks per pass, and the
        // parquet leaf holds the same rows in ~1/4 the bytes.
        val (slice, passShuffles) =
          org.apache.spark.GraftShuffleJanitor.runScoped(sc, s"graft-jac-$runTag-pass-$p") {
            Checkpoints.cutToParquet(vmOfSlice(Some(
              pmod(xxhash64(col("id")), lit(passes.toLong)) === lit(p.toLong))),
              s"jac_${runTag}_p$p")
          }
        // subtract the prep shuffles: a prep map stage RESUBMITTED during
        // this pass (FetchFailed after executor loss) runs under the pass's
        // job group and would otherwise land in the removal set — fully
        // unregistering a shuffle the persisted frames still recompute
        // through (releaseFiles below keeps those registered by design)
        org.apache.spark.GraftShuffleJanitor.remove(sc, passShuffles -- prep)
        slice
      }.reduce(_ union _)
      // every consumer from here on reads the PERSISTED frames, not their
      // build shuffles (~25 GB retained for the whole run at sf10) — release
      // the files, keeping the registrations so a cache-evicted recompute
      // resubmits the parent stages instead of crashing
      org.apache.spark.GraftShuffleJanitor.releaseFiles(sc, prep)
      slices
    }
  }

  // ---------------------------------------------------------------------------
  // Self-join (reference jaccard_join.py:111-209)
  // ---------------------------------------------------------------------------

  /**
   * Filtered self-join. Output: `(<lOutPrefix><keyAttr>, <rOutPrefix><keyAttr>)`,
   * pair orientation given by the canonical composite key `concat(len,'_',id)`
   * compared as a STRING (reference jaccard_join.py:135,155 — deliberately
   * lexicographic, replicated exactly so oracle output orientation matches).
   */
  def selfJoin(
      table: DataFrame, keyAttr: String, joinAttr: String,
      tokenizer: Tokenizer, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_"): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)

    val tokens = tokenizer.tokenize(table, keyAttr, joinAttr)

    // J4: document frequency (jaccard_join.py:126-130)
    val dfreq = tokens.groupBy("token").agg(count(lit(1)).as("df"))

    // J5-J7: rarest-first position + composite canonical key (jaccard_join.py:131-137)
    val w = Window.partitionBy("id").orderBy("df", "token")
    val tkdf = tokens.join(dfreq, "token")
      .select(
        col("id"), col("len"), col("token"),
        row_number().over(w).cast("long").as("pos"),
        concat(col("len").cast("string"), lit("_"), col("id").cast("string")).as("l_id"))
      .persistTracked

    val L = tkdf.alias("L")
    val R = tkdf.alias("R")

    // J10/J11/J13: candidate generation with inlined prefix selections
    // (jaccard_join.py:147-166)
    val candCond =
      col("L.l_id") < col("R.l_id") &&
      col("L.token") === col("R.token") &&
      // length filter (one-sided, as the reference)
      col("L.len") >= col("R.len") * t &&
      // indexing prefix on L
      (col("L.len") - col("L.pos") + lit(1)) >= (col("L.len") * lit(2) * t / onePlusT) &&
      // probing prefix on R
      (col("R.len") - col("R.pos") + lit(1)) >= (col("R.len") * t) &&
      // positional filter
      least(col("L.len") - col("L.pos") + lit(1), col("R.len") - col("R.pos") + lit(1)) >=
        ((col("L.len") + col("R.len")) * t / onePlusT)

    val cand = L.join(R, candCond)
      .groupBy(col("L.id").as("Lid"), col("R.id").as("Rid"))
      .agg(
        max(col("L.pos")).as("LmaxPos"),
        max(col("R.pos")).as("RmaxPos"),
        count(lit(1)).as("pfxOverlap"))

    // J14: verification — count suffix overlap from the last prefix match onward
    // (inclusive, hence the `- 1`; reference jaccard_join.py:168-188)
    val c = cand.alias("c")
    L.join(c, col("c.Lid") === col("L.id") && col("L.pos") >= col("c.LmaxPos"))
      .join(R,
        col("c.Rid") === col("R.id") &&
        col("L.token") === col("R.token") &&
        col("R.pos") >= col("c.RmaxPos"))
      .select(
        col("L.id").as("lid"), col("R.id").as("rid"),
        col("L.len").as("llen"), col("R.len").as("rlen"),
        col("c.pfxOverlap").as("pfxOverlap"))
      .groupBy("lid", "rid", "llen", "rlen", "pfxOverlap")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") + col("pfxOverlap") - lit(1) >=
        ((col("llen") + col("rlen")) * t / onePlusT))
      .select(
        col("lid").as(lOutPrefix + keyAttr),
        col("rid").as(rOutPrefix + keyAttr))
  }

  /** J15: brute-force self-join oracle (reference jaccard_join.py:190-201). */
  def bruteForceSelf(
      table: DataFrame, keyAttr: String, joinAttr: String,
      tokenizer: Tokenizer, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_"): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)
    val tokens = tokenizer.tokenize(table, keyAttr, joinAttr)
      .persistTracked
    val L = tokens.alias("L")
    val R = tokens.alias("R")
    L.join(R, col("L.token") === col("R.token") && col("L.id") < col("R.id"))
      .select(col("L.id").as("lid"), col("L.len").as("llen"),
        col("R.id").as("rid"), col("R.len").as("rlen"))
      .groupBy("lid", "llen", "rid", "rlen")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= ((col("llen") + col("rlen")) * t / onePlusT))
      .select(
        col("lid").as(lOutPrefix + keyAttr),
        col("rid").as(rOutPrefix + keyAttr))
  }

  // ---------------------------------------------------------------------------
  // Value-deduplicated variants — identical output, built for duplicated keys
  // ---------------------------------------------------------------------------

  /**
   * Self-join with VALUE DEDUPLICATION: runs the whole pipeline over the
   * DISTINCT join-attribute values, then expands value-level matches back to
   * record pairs. Output is IDENTICAL to [[selfJoin]]:
   *
   *   - document frequency is weighted by value multiplicity (`sum(w)`), so df
   *     and therefore per-record token order `(df, token)` match the
   *     record-level pipeline exactly;
   *   - every filter (length/prefix/positional) and the verification bound
   *     depend only on value-level quantities (len, pos, token), so a record
   *     pair qualifies iff its ORIENTED value pair qualifies;
   *   - the reference's canonical gate `L.l_id < R.l_id` (string compare of
   *     `concat(len,'_',id)`, jaccard_join.py:155) picks the orientation per
   *     RECORD pair, so value-level candidates/matches are computed in BOTH
   *     orientations (the one-sided prefix filters are asymmetric!) and the
   *     gate is applied at expansion time.
   *
   * Cost collapses from O(Σ_token df_rec²) to O(Σ_token df_val²): corpora with
   * heavy value duplication (the common case at 100 TB — urls, names, titles)
   * see orders-of-magnitude smaller candidate joins; the expansion is two
   * cheap value-equi joins.
   */
  def selfJoinDeduped(
      table: DataFrame, keyAttr: String, joinAttr: String,
      tokenizer: Tokenizer, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_",
      saltBuckets: Int = 8, hotTokenDf: Int = 10000,
      maxSaltBuckets: Int = 64, passes: Int = 1): DataFrame =
    selfJoinDedupedPrepared(prepareSelfDeduped(table, keyAttr, joinAttr, tokenizer),
      threshold, lOutPrefix, rOutPrefix, saltBuckets, hotTokenDf, maxSaltBuckets,
      passes)

  /**
   * The threshold-INDEPENDENT state of [[selfJoinDeduped]]'s pipeline:
   *   - `vals`: (value, w, vid) — distinct values, multiplicities, md5 surrogate;
   *   - `vtkdf`: (id, len, rank, df, vdf, pos) — one row per value-level token
   *     row, keyed by `id` = vid, the token replaced by its dense rank
   *     ([[rankTokens]]);
   *   - `varr`: (id, arr, len) — each value's ascending rank array.
   *
   * Document frequency and rarest-first
   * position depend only on (table, joinAttr, tokenizer) — never on the
   * threshold — so a threshold sweep (the reference's precision/recall sweep,
   * test.ipynb cells 41-74) can tokenize ONCE and run every threshold against
   * the same persisted frames via [[selfJoinDedupedPrepared]].
   *
   * The three frames are persist-tracked (`Api.clearCache()` releases them)
   * and `buildShuffles` holds the ids of every shuffle that built them, for
   * the bounded-footprint mode's janitor (see [[prefixFilterJoin]]).
   */
  final case class SelfJoinPrep private[operators] (
      table: DataFrame, keyAttr: String, joinAttr: String,
      vals: DataFrame, vtkdf: DataFrame, varr: DataFrame,
      buildShuffles: Set[Int])

  /** Build [[SelfJoinPrep]] — the tokenize/df/rank stages shared by every
    * threshold. See [[selfJoinDeduped]] for the stage semantics.
    *
    * Prep is EAGER: each frame is persisted, materialized here, and handed on
    * as a plan leaf over its cached blocks
    * ([[org.apache.spark.sql.GraftCheckpointBridge.cachedLeaf]]), carrying
    * its exact hash partitioning and its measured cache size. Read lazily
    * through the cache manager, the frames nest: `vtkdf` reads `vals` three
    * times and `varr` reads `vtkdf`, and every cached relation prints its
    * cached plan. Every per-threshold tail and evaluation query then
    * re-analysed and re-rendered that lineage on each AQE stage update: on
    * 6000 records the t = 0.3 tail's `queryExecution` string was 620k
    * characters (25k over the leaves), and a JFR profile of the sweep put 38%
    * of the driver thread's samples in `QueryExecution.explainString`.
    * `rsJoin` keeps its lazy frames; see there. */
  def prepareSelfDeduped(
      table: DataFrame, keyAttr: String, joinAttr: String,
      tokenizer: Tokenizer): SelfJoinPrep = {
    val shuffles = Set.newBuilder[Int]
    def leaf(df: DataFrame, keys: String*): DataFrame = {
      val (l, ids) = org.apache.spark.sql.GraftCheckpointBridge.cachedLeaf(df.persistTracked, keys)
      shuffles ++= ids
      l
    }
    // Compact 128-bit BINARY surrogate per distinct value: every downstream
    // shuffle row (tokens, prefixes, candidates, verification) keys on the
    // 16-byte digest instead of the raw value — on long-text corpora
    // (documents) the raw-value key made each token row carry the whole
    // document and a single sf0.1 run shuffled >40 GB to disk.
    // no partitioning claim: `dfreq` joins `vals` with itself (see cachedLeaf)
    val vals = leaf(table.select(col(joinAttr).as("value"))
      .groupBy("value").agg(count(lit(1)).as("w"))
      .withColumn("vid", unhex(md5(col("value")))))

    // value-level tokens keyed by the surrogate
    val vtokens = tokenizer.tokenize(vals.select(col("vid"), col("value")), "vid", "value")

    // multiplicity-weighted document frequency == record-level df (drives the
    // reference's rarest-first ordering); vdf = VALUE-level df, whose square
    // bounds the token's candidate fan-out — the hot-token salting signal
    // (weighted df would overstate fan-out by the duplication factor²)
    val dfreq = vtokens
      .join(vals.select(col("vid").as("id"), col("w")), "id")
      .groupBy("token").agg(sum("w").as("df"), count(lit(1)).as("vdf"))

    // the ranks are computed inside this frame's materialization, once
    val vtkdf = leaf(rankPositions(vtokens, rankTokens(dfreq), "df", "vdf"), "id")

    // position arrays persist too: verification scans this frame TWICE per
    // action (L and R side of the verify join) and it is the frame AQE
    // broadcasts — rebuilding the aggregation + broadcast from scratch every
    // action was the measured ~1.5-2.3 s warm floor on the sub-second
    // part/ws/t=0.3 flagship (BENCH_NOTES round 6)
    val varr = leaf(posArrays(vtkdf), "id")
    SelfJoinPrep(table, keyAttr, joinAttr, vals, vtkdf, varr, shuffles.result())
  }

  /** Threshold-dependent tail of [[selfJoinDeduped]] over a shared
    * [[SelfJoinPrep]]: prefix selection, banded/salted candidate generation
    * and verification ([[prefixFilterJoin]]), then record expansion. Output
    * is identical to [[selfJoinDeduped]] at the same threshold, for every
    * `passes` (the bounded-footprint mode, see [[prefixFilterJoin]]).
    *
    * Value pairs are generated ORIENTED, in both orientations, self pairs
    * included — the record gate at expansion decides which orientation
    * applies to each record pair. On top of the shared salt, the self-join
    * adds a LENGTH-BAND equi key: with lengths confined to a factor-(1/t)
    * window, band(len) = floor(ln(len)/ln(1/t)) lets the join hash on
    * (rank, band, salt) instead of (rank, salt). The probing side explodes
    * to every band its admissible partner lengths [floor(len*t), ceil(len/t)]
    * can occupy (floor/ceil make the FP boundaries conservative; the exact
    * filters stay as residuals). The indexing side has ONE band, so no pair
    * is emitted twice. On skewed corpora (tiny shared vocabularies — the
    * documents table) this splits each hot token's n_idx x n_prb blowup
    * across length bands: measured 31M -> 17M joined rows at sf0.1 t=0.9.
    * Banding degenerates on uniform-length corpora (every record in one band
    * — SCALE.md "Measured"); the salt covers that case. */
  def selfJoinDedupedPrepared(
      prep: SelfJoinPrep, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_",
      saltBuckets: Int = 8, hotTokenDf: Int = 10000,
      maxSaltBuckets: Int = 64, passes: Int = 1): DataFrame = {
    val t = lit(threshold)
    val lnInvT = math.log(1d / threshold)
    def bandOf(len: Column): Column =
      if (threshold >= 1d) len else floor(log(len.cast("double")) / lit(lnInvT)).cast("long")
    // `lenkey` is the len part of the reference's canonical record key
    // `concat(len,'_',id)` compared as a STRING: when two values' lenkeys
    // differ, the first differing character sits inside the len digits or at
    // the '_' separator, so EVERY record pair's orientation is already decided
    // — generating the (idx, prb) orientation with lenkey(idx) > lenkey(prb)
    // is pure waste (its expansion gate can never pass). Equal lenkeys (same
    // len) keep both orientations: record ids decide there.
    val lenkey = concat(col("len").cast("string"), lit("_"))
    val idxPfx = indexingPrefix(prep.vtkdf, threshold)
      .withColumn("band", bandOf(col("len")))
      .withColumn("lenkey", lenkey)
    val prbPfx = probingPrefix(prep.vtkdf, threshold)
      .withColumn("band",
        if (threshold >= 1d) col("len")
        else explode(sequence(
          bandOf(greatest(floor(col("len") * t), lit(1d))),
          bandOf(ceil(col("len") / t)))))
      .withColumn("lenkey", lenkey)
    // The length filter is one-sided, exactly as the reference
    // (`L.len >= R.len * t`, jaccard_join.py:158). No mirror condition: a pair
    // with R.len < L.len*t is already rejected by the positional filter —
    // R.len - R.pos + 1 <= R.len < (L.len+R.len)*t/(1+t) exactly in that
    // region — and any hand-written mirror would be a DIFFERENT float
    // expression that could diverge from the record-level pipeline and the
    // DuckDB oracle at representational boundaries.
    val residual =
      col("idx.lenkey") <= col("prb.lenkey") &&
      col("idx.len") >= col("prb.len") * t
    // hotTokenDf is a VALUE-level df calibration point: vdf = VALUE-level df,
    // whose square bounds the token's candidate fan-out (weighted df would
    // overstate it by the duplication factor²). A token at vdf = hotTokenDf
    // (fan-out hotTokenDf² = 1e8 at the defaults) is split saltBuckets ways,
    // and every token's salt width scales with its own fan-out from there —
    // ceil(saltBuckets·(vdf/hotTokenDf)²), capped at maxSaltBuckets —
    // bounding per-bucket candidate work at hotTokenDf²/saltBuckets rows
    // (1.25e7 ≈ seconds of join work at the defaults) no matter how
    // degenerate the token. Tune hotTokenDf DOWN on large clusters where
    // per-core fan-out budgets are smaller. The width formula itself decides
    // when to split: it is ≥ 2 exactly when the fan-out crosses the
    // per-bucket budget and 1 (unsalted) below it — there is deliberately NO
    // separate activation threshold: gating at vdf ≥ hotTokenDf left
    // vdf≈6-9k tokens unsalted with 4-8e7-row buckets, reproducing a 42 s
    // straggler task the salt exists to kill (measured, 8× stress corpus).
    val saltWidth = least(lit(maxSaltBuckets.toLong),
      ceil(lit(saltBuckets.toDouble)
        * pow(col("vdf").cast("double") / lit(hotTokenDf.toDouble), 2d)))
    val vm = prefixFilterJoin(idxPfx, prbPfx, prep.varr, prep.varr, prep.buildShuffles,
      Seq("band"), residual, saltWidth, threshold, saltBuckets, maxSaltBuckets, passes)
    expandSelf(prep.table, prep.keyAttr, prep.joinAttr, prep.varr, vm,
      lOutPrefix, rOutPrefix)
  }

  /** Brute-force self-join over deduplicated values; identical output to
    * [[bruteForceSelf]] (the brute conditions factor through values entirely). */
  def bruteForceSelfDeduped(
      table: DataFrame, keyAttr: String, joinAttr: String,
      tokenizer: Tokenizer, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_"): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)
    val vals = table.select(col(joinAttr).as("value")).distinct()
      .withColumn("vid", unhex(md5(col("value"))))
    val vtokens = tokenizer.tokenize(vals.select(col("vid"), col("value")), "vid", "value")
      .persistTracked
    val L = vtokens.alias("L")
    val R = vtokens.alias("R")
    // unordered value pairs incl. self pairs (record gate dedupes/orients below)
    val vm = L.join(R, col("L.token") === col("R.token") && col("L.id") <= col("R.id"))
      .select(col("L.id").as("lval"), col("L.len").as("llen"),
        col("R.id").as("rval"), col("R.len").as("rlen"))
      .groupBy("lval", "llen", "rval", "rlen")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= ((col("llen") + col("rlen")) * t / onePlusT))
      .select(col("lval"), col("rval"))
    // brute force orients by raw id: emit both value orientations, gate id<id
    val vmBoth = vm.union(
      vm.where(col("lval") =!= col("rval"))
        .select(col("rval").as("lval"), col("lval").as("rval")))
    // vid is deterministic in the value — recompute it per record instead of
    // joining back on the raw value (see expandSelf; same null semantics)
    val recs = table.select(col(keyAttr).as("rid"),
      unhex(md5(col(joinAttr))).as("vid"))
    vmBoth.join(recs.select(col("vid").as("lval"), col("rid").as("lid")), "lval")
      .join(recs.select(col("vid").as("rval"), col("rid").as("rid2")), "rval")
      .where(col("lid") < col("rid2"))
      .select(col("lid").as(lOutPrefix + keyAttr), col("rid2").as(rOutPrefix + keyAttr))
  }

  /** Expand oriented value-level matches (`idxId`, `prbId`, keyed by
    * surrogate `vid`) to record pairs under the reference's `l_id` string
    * gate.
    *
    * `vid = unhex(md5(value))` is DETERMINISTIC in the value, so each record's
    * surrogate is recomputed directly from the table instead of joined back
    * through the `vals` frame on the raw value — the old join broadcast the
    * whole table's join-attribute bytes (documents: the full corpus text) to
    * look up what a hash already determines, twice (once per vm side). The
    * per-value token count for the canonical `concat(len,'_',id)` gate comes
    * from the PERSISTED `varr` frame (one row per value by construction — no
    * `distinct` subtree, unlike the r15 form which re-aggregated it from the
    * token table). Null values drop identically in both forms (md5(null) is
    * null and a null join key never matches, exactly as the old inner join
    * on `value`); a value with zero tokens has no `varr` row and can never
    * appear in `vm` (no candidate rows), so the length join drops nothing
    * observable. Gate expression unchanged.
    *
    * The length join is a LEFT OUTER join from `varr`: every `varr` value is
    * one of the table's values, so it returns the inner join's rows (and a
    * row without a record has a null `lid_str`, which the gate drops), but
    * the planner may build only on the records' side. The expansion then
    * keeps `varr`'s `id` partitioning whatever the two sides' statistics
    * say: as an inner join, a `varr` smaller than the records' scan
    * estimate became the broadcast side, and each threshold paid two extra
    * record exchanges (measured on the benchmark's profiles once `varr`
    * held rank arrays instead of string arrays). Against the inner form on
    * the sf0.1 self-join anchors (4 cores, min of 5 warm runs, medians of
    * rotating legs) it read jac_self_part_ws_t03 5.63 vs 5.24 s over 11
    * rounds, inside the 1.3 s spread between quartiles, and
    * jac_self_docs_ws_t05/t09 22.9/4.1 vs 23.2/4.4 s over 5.
    *
    * ⚠ Round-16 note: a variant carrying `llen`/`rlen` out of [[verifySuffix]]
    * and computing the gate inline (no recs-side length at all) measured
    * jac_self_part_ws_t03 2.2–2.4× SLOWER across two interleaved
    * quartet-bracketed A/Bs — the narrower `vm` and the r15-shaped expansion
    * probe keep the candidate-explosion regime's plan fast — so the length
    * rides on `recs`, not on `vm`. */
  private def expandSelf(
      table: DataFrame, keyAttr: String, joinAttr: String, varr: DataFrame,
      vm: DataFrame, lOutPrefix: String, rOutPrefix: String): DataFrame = {
    val recs = varr.select(col("id").as("vid"), col("len"))
      .join(table.select(col(keyAttr).as("rid"), unhex(md5(col(joinAttr))).as("vid")),
        Seq("vid"), "left_outer")
      .select(col("rid"), col("vid"),
        concat(col("len").cast("string"), lit("_"), col("rid").cast("string")).as("lid_str"))
    vm.join(recs.select(col("vid").as("idxId"), col("rid").as("lid"),
        col("lid_str").as("l_lid")), "idxId")
      .join(recs.select(col("vid").as("prbId"), col("rid").as("rid2"),
        col("lid_str").as("r_lid")), "prbId")
      .where(col("l_lid") < col("r_lid"))
      .select(col("lid").as(lOutPrefix + keyAttr), col("rid2").as(rOutPrefix + keyAttr))
  }

  // ---------------------------------------------------------------------------
  // R×S (two-table) join (reference jaccard_join.py:235-433)
  // ---------------------------------------------------------------------------

  /**
   * Filtered R×S join. Mirrors the reference's two driver-side adaptive decisions:
   *
   *   1. widow placeholder = |L| * |R| + 1 — the max possible df product + 1
   *      when each record emits a token at most once, so tokens appearing on
   *      only one side sort last and never become prefix witnesses
   *      (jaccard_join.py:266-268,292-294; bag-mode products can exceed it,
   *      see [[rsRanks]]);
   *   2. index-side selection — the side with MORE widow prefix rows becomes the
   *      indexing side R with the tighter 2t/(1+t) prefix (jaccard_join.py:341-353).
   *
   * Output columns follow the reference exactly: `<R.outPrefix><lKeyAttr>,
   * <S.outPrefix><rKeyAttr>` (jaccard_join.py:391) — i.e. the *prefixes* swap with
   * the R/S choice while the key-attr names stay in l,r order.
   *
   * ⚠ Known recall edge in the reference algorithm (replicated by default for
   * oracle parity): the indexing side R uses the `2t/(1+t)` prefix
   * (jaccard_join.py:331,338) even when the indexed record is LONGER than its
   * partner. For |R| > |S| the required overlap `(|R|+|S|)·t/(1+t)` is smaller
   * than `2t/(1+t)·|R|`, so a qualifying pair's only witness tokens can sit
   * beyond R's indexing prefix and the pair is silently dropped (e.g. lens 6 vs 4
   * at t=0.4, common tokens ranked last). `exactRecall = true` widens the
   * indexing prefix to the always-safe probing bound `len·t` — with the two-sided
   * length filter, required overlap ≥ t·|R|, so a `len - ceil(t·len) + 1` prefix
   * always contains a witness and filtered == brute force.
   *
   * Unlike [[prepareSelfDeduped]], the persisted token frames stay lazy and
   * nested (each plan carries their cached plans). Turned into eager cached
   * leaves, the two sides' token frames materialize one after the other
   * instead of inside one job: measured on a q-gram(3) R×S op at t = 0.2, the
   * main job grew from 1.74 to 2.41 s and the op ran about 40% slower. A
   * single call also has no later thresholds to amortize the eager prep over.
   */
  def rsJoin(
      lTable: DataFrame, lKey: String, lJoin: String,
      rTable: DataFrame, rKey: String, rJoin: String,
      tokenizer: Tokenizer, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_",
      exactRecall: Boolean = false,
      saltBuckets: Int = 8, hotTokenDf: Long = 100000000L,
      maxSaltBuckets: Int = 64, passes: Int = 1): DataFrame = {
    val t = lit(threshold)

    // Driver-side counts sizing the widow placeholder (jaccard_join.py:238-245)
    val lCount = lTable.count()
    val rCount = rTable.count()
    val widowPlaceholder = lCount * rCount + 1

    val (lTokens, rTokens, ranks) = rsRanks(lTable, lKey, lJoin, rTable, rKey, rJoin,
      tokenizer, widowPlaceholder)
    val lTkdf = rankPositions(lTokens, ranks, "df").persistTracked
    val rTkdf = rankPositions(rTokens, ranks, "df").persistTracked

    // J12: widow-count side choice over both indexing prefixes, in one Spark
    // job (the reference issues two scalar queries, jaccard_join.py:341-353;
    // fusing them halves the driver round-trips and lets the two persisted
    // tkdf scans run concurrently)
    val widowRows = indexingPrefix(lTkdf, threshold).where(col("df") === widowPlaceholder)
      .select(lit("l").as("side"))
      .union(indexingPrefix(rTkdf, threshold).where(col("df") === widowPlaceholder)
        .select(lit("r").as("side")))
      .groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lWidows = widowRows.getOrElse("l", 0L)
    val rWidows = widowRows.getOrElse("r", 0L)

    // R = indexing side (more widows), S = probing side (jaccard_join.py:353)
    val lIsIndexing = lWidows > rWidows
    val (idxTkdf, idxPrefixName) = if (lIsIndexing) (lTkdf, lOutPrefix) else (rTkdf, rOutPrefix)
    val (prbTkdf, prbPrefixName) = if (lIsIndexing) (rTkdf, rOutPrefix) else (lTkdf, lOutPrefix)

    // J13: the two-sided length filter (jaccard_join.py:364-384)
    val residual =
      col("idx.len") >= col("prb.len") * t &&
      col("prb.len") >= col("idx.len") * t
    // df = l_df * r_df is EXACTLY the token's candidate fan-out before
    // filters, so hotTokenDf (1e8 by default, matching the self-join's
    // bound) is a direct row-count bound and the fan-out-proportional width
    // is df/hotTokenDf, no square; it is ≥ 2 exactly when df crosses the
    // per-bucket budget hotTokenDf/saltBuckets. Widow tokens (df =
    // placeholder) match nothing and are never replicated.
    val saltWidth =
      when(col("df") < lit(widowPlaceholder),
        least(lit(maxSaltBuckets.toLong),
          ceil(lit(saltBuckets.toDouble)
            * col("df").cast("double") / lit(hotTokenDf.toDouble))))
        .otherwise(lit(1L))
    // J13/J14: candidates and verification (jaccard_join.py:364-405)
    prefixFilterJoin(
        if (exactRecall) probingPrefix(idxTkdf, threshold) else indexingPrefix(idxTkdf, threshold),
        probingPrefix(prbTkdf, threshold), posArrays(idxTkdf), posArrays(prbTkdf),
        Seq(lTokens, rTokens, ranks, lTkdf, rTkdf)
          .flatMap(org.apache.spark.sql.GraftCheckpointBridge.buildShuffles).toSet,
        Nil, residual, saltWidth, threshold, saltBuckets, maxSaltBuckets, passes)
      .select(
        col("idxId").as(idxPrefixName + lKey),
        col("prbId").as(prbPrefixName + rKey))
  }

  /** R×S token tables and ranks: both sides' token rows (persisted) and the
    * ranked df table (persisted: both sides' `tkdf` builds read it). J8/J9:
    * the full-outer df merge with the widow placeholder
    * (jaccard_join.py:270-295) — a token on one side only takes the
    * placeholder. When each record emits a token at most once
    * (`emitsDistinctTokens`) every df product is at most |L|·|R|, so widow
    * tokens rank after every shared token. Bag mode and the delimiter
    * tokenizers' distinct-before-lowercase quirk count token rows, not
    * records, so a shared token's product can pass the placeholder and rank
    * after the widows; the ranks still follow (df, token), as the
    * reference's order does. */
  private[graft] def rsRanks(
      lTable: DataFrame, lKey: String, lJoin: String,
      rTable: DataFrame, rKey: String, rJoin: String,
      tokenizer: Tokenizer, widowPlaceholder: Long): (DataFrame, DataFrame, DataFrame) = {
    val lTokens = tokenizer.tokenize(lTable, lKey, lJoin).persistTracked
    val rTokens = tokenizer.tokenize(rTable, rKey, rJoin).persistTracked
    val lDf = lTokens.groupBy("token").agg(count(lit(1)).as("l_df"))
    val rDf = rTokens.groupBy("token").agg(count(lit(1)).as("r_df"))
    val ranks = rankTokens(lDf.join(rDf, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("l_df") * col("r_df"), lit(widowPlaceholder)).as("df")))
      .persistTracked
    (lTokens, rTokens, ranks)
  }

  /** J15 (R×S): brute-force oracle (reference jaccard_join.py:407-420). */
  def bruteForceRs(
      lTable: DataFrame, lKey: String, lJoin: String,
      rTable: DataFrame, rKey: String, rJoin: String,
      tokenizer: Tokenizer, threshold: Double,
      lOutPrefix: String = "l_", rOutPrefix: String = "r_"): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)
    val L = tokenizer.tokenize(lTable, lKey, lJoin).alias("L")
    val R = tokenizer.tokenize(rTable, rKey, rJoin).alias("R")
    L.join(R, col("L.token") === col("R.token"))
      .select(col("L.id").as("lid"), col("L.len").as("llen"),
        col("R.id").as("rid"), col("R.len").as("rlen"))
      .groupBy("lid", "llen", "rid", "rlen")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= ((col("llen") + col("rlen")) * t / onePlusT))
      .select(
        col("lid").as(lOutPrefix + lKey),
        col("rid").as(rOutPrefix + rKey))
  }
}
