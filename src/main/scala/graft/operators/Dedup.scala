package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.PersistTracker.TrackedPersist

/**
 * Deduplication operators for training-data pipelines, from cheap to expensive:
 *
 *   1. [[exact]] — hash-groupBy on content (one shuffle on the hash).
 *   2. [[nearDuplicateDropIds]] — exact n-gram/word Jaccard via the
 *      prefix-filtered [[JaccardJoin]] (never all-pairs).
 *   3. [[minHashPairs]] — MinHash signatures + LSH banding: candidates only
 *      form inside equal (band, chunk) buckets, then exact set-Jaccard
 *      verification. The scale path for corpora where even prefix-filtering
 *      fans out too wide. [[minHashPairsRs]] / [[incrementalKeepIds]] are the
 *      incremental shape: a new batch against an existing corpus, never
 *      re-self-joining the corpus.
 *   4. [[simHashPairs]] — 64-bit SimHash with pigeonhole band blocking for
 *      Hamming-distance near-dup detection.
 *
 * Scale notes: every candidate generator here is BUCKETED — work is
 * proportional to Σ bucket² within LSH buckets, never |corpus|². Signatures
 * are one groupBy over the token stream (map-side combined). Band buckets are
 * hash-partitionable; skewed buckets (boilerplate docs) are split by AQE skew
 * join. All hashes are Spark's codegen'd xxhash64 — no UDFs.
 */
object Dedup {

  /**
   * Per-token 64-bit hash family for MinHash/SimHash signatures.
   *
   * [[XxHash64Family]] is the fast path (codegen'd, 64 usable bits).
   * [[Md5Family]] derives a 60-bit hash from the first 15 hex chars of
   * `md5("<i>:" || token)` — slower, but every step is expressible in plain
   * SQL on other engines, so MinHash/SimHash results built on it can be
   * verified bit-for-bit against the DuckDB oracle (see
   * [[graft.DuckSql.minHashMd5]] / [[graft.DuckSql.simHashMd5]]).
   */
  sealed trait HashFamily extends Serializable {
    /** i-th hash of a token (i = 0 for single-hash uses). */
    def tokenHash(i: Int, token: Column): Column
    /** Fold one band's signature chunk (array<long>) into a join key. */
    def bandKey(band: Column, chunk: Column): Column
    /** Usable bits in tokenHash output (SimHash signature width). */
    def bits: Int
  }
  case object XxHash64Family extends HashFamily {
    def tokenHash(i: Int, token: Column): Column = xxhash64(lit(i), token)
    def bandKey(band: Column, chunk: Column): Column = xxhash64(band, chunk)
    def bits: Int = 64
  }
  case object Md5Family extends HashFamily {
    // 15 hex chars = 60 bits: always positive, exact in a signed long on
    // every engine (16 chars could overflow into the sign bit)
    def tokenHash(i: Int, token: Column): Column =
      conv(substring(md5(concat(lit(s"$i:"), token)), 1, 15), 16, 10).cast("long")
    def bandKey(band: Column, chunk: Column): Column =
      concat(band.cast("string"), lit("_"), array_join(chunk, "_"))
    def bits: Int = 60
  }

  /** Exact dedup: group by content hash, count copies, keep the min key.
    * `SELECT md5(content), count(*), min(key) GROUP BY 1` — one shuffle. */
  def exact(df: DataFrame, key: String, content: String): DataFrame =
    df.groupBy(md5(col(content)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(key)).as("keep_id"))

  /** Near-dup drop list via exact Jaccard: every id that appears as the
    * `greatest` member of a qualifying pair (keep-least policy). */
  def nearDuplicateDropIds(df: DataFrame, key: String, value: String,
                           tokenizer: Tokenizer, threshold: Double): DataFrame = {
    val pairs = JaccardJoin.selfJoinDeduped(df, key, value, tokenizer, threshold)
    val (l, r) = (col("l_" + key), col("r_" + key))
    pairs.select(greatest(l, r).as("drop_id")).distinct()
  }

  /** MinHash signature per record: sig[i] = min over tokens of hash_i(token).
    * One groupBy over (id, token) rows; numHashes columns fused by codegen. */
  def minHashSignatures(tokens: DataFrame, numHashes: Int,
                        family: HashFamily = XxHash64Family): DataFrame =
    tokens.groupBy("id").agg(
      array((0 until numHashes).map(i => min(family.tokenHash(i, col("token")))): _*).as("sig"))

  /**
   * MinHash + LSH near-duplicate pairs with exact verification.
   *
   * bands × rowsPerBand hashes; two records collide iff some band's signature
   * chunk is equal (P[collide] = 1-(1-s^r)^b for Jaccard s). Collisions are
   * then verified with EXACT set Jaccard from the token table, so the output
   * has no false positives — only LSH-missed recall (tunable via b, r).
   *
   * Output: (lid, rid, jaccard) with lid < rid.
   */
  def minHashPairs(df: DataFrame, key: String, value: String, tokenizer: Tokenizer,
                   threshold: Double, bands: Int = 16, rowsPerBand: Int = 8,
                   family: HashFamily = XxHash64Family): DataFrame = {
    val (tokens, side) = bandedSide(df, key, value, tokenizer, bands, rowsPerBand, family)
    // First-matching-band emission: a pair that collides in k of the bands
    // would reach the old `.distinct()` k times — on near-dup-heavy corpora
    // that distinct was the path's largest exchange (the 8× stress corpus
    // pushes ~200M pre-distinct candidate rows for 18.4M pairs; at 100 TB the
    // candidate-stream shuffle+aggregate IS the bottleneck). Instead, emit a
    // pair only from its lowest matching band: both sides carry their full
    // band-key arrays, and an unrolled, codegen'd OR-chain over the (fixed,
    // small) band count suppresses any row whose pair already matched in an
    // earlier band — exactly-once without deduplication. The explicit
    // same-band equi-term costs nothing (md5-family keys encode the band
    // exactly; xxhash64 cross-band key collisions, previously admitted as
    // false candidates for verification to discard, are 2^-64 noise).
    val cand = side.alias("a")
      .join(side.alias("b"), firstBandCond(bands) && col("a.id") < col("b.id"))
      .select(col("a.id").as("lid"), col("b.id").as("rid"))

    verifyJaccard(cand, tokens, threshold, tokenizer.emitsDistinctTokens,
      hashedVerify = family == XxHash64Family)
  }

  /**
   * Incremental (R×S) MinHash+LSH near-duplicate pairs: an INCOMING batch
   * checked against an existing CORPUS without ever self-joining the corpus.
   * This is the shape a production ingest runs daily — the corpus side is the
   * accumulated training set (at 100 TB the dominant side), the incoming side
   * is the new crawl slice. Candidates only form where a corpus band bucket
   * meets an incoming band bucket, so corpus-internal duplicates — already
   * resolved by a previous [[minHashPairs]] run — generate no candidates and
   * no verify work; cross-side cost scales with the INCOMING batch.
   *
   * Both sides are banded with the same hash family and band geometry, so
   * bucket keys are comparable, and first-matching-band emission (see
   * [[minHashPairs]]) applies unchanged: the suppression predicate only
   * compares the two rows' band-key arrays. Verification is exact
   * set/multiset Jaccard from the two token tables.
   *
   * Output: (lid, rid, jaccard) with lid from `corpus`, rid from `incoming`
   * — no id-order constraint, the two id spaces are independent.
   */
  def minHashPairsRs(corpus: DataFrame, incoming: DataFrame, key: String,
                     value: String, tokenizer: Tokenizer, threshold: Double,
                     bands: Int = 16, rowsPerBand: Int = 8,
                     family: HashFamily = XxHash64Family): DataFrame = {
    val (lTokens, lSide) = bandedSide(corpus, key, value, tokenizer, bands, rowsPerBand, family)
    val (rTokens, rSide) = bandedSide(incoming, key, value, tokenizer, bands, rowsPerBand, family)
    val cand = lSide.alias("a").join(rSide.alias("b"), firstBandCond(bands))
      .select(col("a.id").as("lid"), col("b.id").as("rid"))
    verifyJaccardRs(cand, lTokens, rTokens, threshold, tokenizer.emitsDistinctTokens,
      hashedVerify = family == XxHash64Family)
  }

  /**
   * End-to-end incremental dedup: which INCOMING records survive against an
   * existing corpus? Two stages, both LSH-bucketed:
   *
   *   1. cross-side — any incoming record that is a near-dup of a corpus
   *      record ([[minHashPairsRs]]) is dropped: the corpus copy already won;
   *   2. within-batch — the survivors are near-dup'd among themselves
   *      ([[minHashPairs]]) and collapsed to one representative per
   *      transitive cluster ([[clusterKeepIds]]).
   *
   * Returns the surviving incoming keys (one column, named `key`).
   * Deterministic given the hash family, so the md5-family composition is
   * DuckDB-oracle-checked end-to-end ([[graft.DuckSql.incrementalKeep]]).
   */
  def incrementalKeepIds(corpus: DataFrame, incoming: DataFrame, key: String,
                         value: String, tokenizer: Tokenizer, threshold: Double,
                         bands: Int = 16, rowsPerBand: Int = 8,
                         family: HashFamily = XxHash64Family): DataFrame = {
    // The incoming batch is banded ONCE and both stages share the persisted
    // tokens + signatures: tokenize + bands×rowsPerBand hashes per token is
    // the dominant per-doc compute of the whole path, and composing the two
    // stages naively (minHashPairsRs then minHashPairs(survivors)) re-pays
    // all of it for the surviving batch. Signatures and token arrays are
    // strictly per-doc, so filtering the banded/token frames down to the
    // survivors is exactly equal to re-banding the survivor subset — the
    // end-to-end md5-family oracle pins the composition unchanged.
    val (cTokens, cSide) = bandedSide(corpus, key, value, tokenizer, bands,
      rowsPerBand, family)
    val (inTokens, inSide) = bandedSide(incoming, key, value, tokenizer, bands,
      rowsPerBand, family)
    // stage 1: cross-side — corpus near-dups drop the incoming copy
    val crossCand = cSide.alias("a").join(inSide.alias("b"), firstBandCond(bands))
      .select(col("a.id").as("lid"), col("b.id").as("rid"))
    val vsCorpus = verifyJaccardRs(crossCand, cTokens, inTokens, threshold,
      tokenizer.emitsDistinctTokens, hashedVerify = family == XxHash64Family)
    val dropIds = vsCorpus.select(col("rid")).distinct().persistTracked
    val survivors = incoming.join(dropIds, incoming(key) === col("rid"), "left_anti")
      .persistTracked
    // stage 2: within-batch — over the surviving subset of the already-banded rows
    val survSide = inSide.join(dropIds, inSide("id") === dropIds("rid"), "left_anti")
    val survTokens = inTokens.join(dropIds, inTokens("id") === dropIds("rid"), "left_anti")
    val selfCand = survSide.alias("a")
      .join(survSide.alias("b"), firstBandCond(bands) && col("a.id") < col("b.id"))
      .select(col("a.id").as("lid"), col("b.id").as("rid"))
    val selfPairs = verifyJaccard(selfCand, survTokens, threshold,
      tokenizer.emitsDistinctTokens, hashedVerify = family == XxHash64Family)
    clusterKeepIds(survivors, key, selfPairs, "lid", "rid")
  }

  /**
   * Materializable LSH INDEX of a corpus for incremental dedup: one row per
   * (id, band) carrying the full band-key array (`keys`), this band's join
   * key (`bucket`), and the verification payload — the SORTED xxhash64
   * token-hash array (`harr`) and token count (`len`) — so later batches
   * join and verify against the index without ever touching corpus text
   * again. XxHash64 family only: the stored verification arrays are hashes.
   *
   * Persist durably with `Stages.writeBucketed(index, table, "bucket", n)`
   * and the daily [[minHashPairsRsIndexed]] join is EXCHANGE-FREE on the
   * corpus side — only the incoming batch shuffles (DedupSpec pins both the
   * plan and result parity with [[minHashPairsRs]]). The one-shuffle index
   * build is paid at write time, the corpus/batch asymmetry every day after.
   *
   * Family: the xxhash64 default stores SORTED 64-bit token-hash arrays
   * (the O(n+m) merge-kernel fast path). The md5 family stores the 60-bit
   * md5-derived hashes instead — same sorted-merge verification, and every
   * step expressible in DuckDB SQL, which is what makes the registered
   * indexed query hash-checkable against the same oracle as the direct
   * [[minHashPairsRs]] (overlap counts through an injective-in-practice
   * hash equal token-equality counts).
   */
  def minHashIndex(df: DataFrame, key: String, value: String,
                   tokenizer: Tokenizer, bands: Int = 16,
                   rowsPerBand: Int = 8,
                   family: HashFamily = XxHash64Family): DataFrame = {
    val (tokens, side) = bandedSide(df, key, value, tokenizer, bands, rowsPerBand,
      family)
    // xxhash64 keeps the historical 1-arg form (seed 42) so indexed == direct
    // stays bit-identical with verifyJaccardRs's hashed arrays
    val tokHash = family match {
      case XxHash64Family => xxhash64(col("token"))
      case f => f.tokenHash(0, col("token"))
    }
    val docArr = tokens.groupBy("id")
      .agg(sort_array(collect_list(tokHash)).as("harr"),
        first(col("len")).as("len"))
    side.join(docArr, "id")
      .select(col("id"), col("keys"), col("harr"), col("len"),
        col("band"), col("bucket"))
  }

  /**
   * [[minHashPairsRs]] against a prebuilt corpus [[minHashIndex]]: the
   * incoming batch is indexed on the fly with the SAME band geometry (pass
   * identical `bands`/`rowsPerBand` or candidates are meaningless) and
   * joined bucket-to-bucket; verification runs inside the join from the two
   * stored `harr` arrays — one sorted-merge kernel call per candidate.
   *
   * The equi key is `bucket` ALONE — deliberately. Spark only treats a
   * bucketed side as co-partitioned when its bucketing covers the FULL
   * equi-key set (`spark.sql.requireAllClusterKeysForCoPartition`), so
   * adding a `band` equality here would re-shuffle BOTH sides on
   * (bucket, band) and waste the index. The xxhash64 bucket key already
   * encodes the band (`xxhash64(band, chunk)`): a cross-band bucket
   * collision is 2⁻⁶⁴ noise, and verification discards any false candidate
   * it admits. First-matching-band suppression rides along as a join
   * predicate (its per-band equality terms sit inside OR clauses, so they
   * are not extracted as equi keys). Unlike [[minHashPairsRs]] —
   * which keeps candidates skinny and joins the verification arrays
   * afterwards — this path carries `harr` through the band join: the price
   * of corpus-side co-location, right when the corpus dwarfs the batch.
   *
   * Output: (lid, rid, jaccard), lid from the index.
   */
  def minHashPairsRsIndexed(corpusIndex: DataFrame, incoming: DataFrame,
                            key: String, value: String, tokenizer: Tokenizer,
                            threshold: Double, bands: Int = 16,
                            rowsPerBand: Int = 8,
                            family: HashFamily = XxHash64Family): DataFrame =
    indexFramePairs(corpusIndex,
      minHashIndex(incoming, key, value, tokenizer, bands, rowsPerBand, family),
      threshold, bands, selfDedup = false)

  /** The index-layout join both indexed operators run: two frames in the
    * [[minHashIndex]] column layout (id, keys, harr, len, band, bucket),
    * joined on `bucket` ALONE (the co-partition decision documented at
    * [[minHashPairsRsIndexed]]) with first-matching-band suppression, then
    * verified inside the join from the two stored `harr` arrays — one
    * sorted-merge kernel call per candidate. `selfDedup = true` adds the
    * `a.id < b.id` orientation for a frame joined with itself. Output
    * (lid, rid, jaccard), lid from the left frame. */
  private def indexFramePairs(lIdx: DataFrame, rIdx: DataFrame,
                              threshold: Double, bands: Int,
                              selfDedup: Boolean): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)
    val overlap = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SortedOverlapCount(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("a.harr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("b.harr"))))
    val base = col("a.bucket") === col("b.bucket") &&
      !earlierBandMatches(bands, col("a.keys"), col("a.band"), col("b.keys"))
    val cond = if (selfDedup) base && col("a.id") < col("b.id") else base
    lIdx.alias("a")
      .join(rIdx.alias("b"), cond)
      .withColumn("overlap", overlap)
      .where(col("overlap") >= ((col("a.len") + col("b.len")) * t / onePlusT))
      .select(col("a.id").as("lid"), col("b.id").as("rid"),
        (col("overlap").cast("double") /
          (col("a.len") + col("b.len") - col("overlap"))).as("jaccard"))
  }

  /**
   * The PRODUCTION daily-ingest operator, end to end: [[incrementalKeepIds]]
   * against a DURABLE corpus [[minHashIndex]] instead of raw corpus text.
   * Same two stages — (1) drop every incoming record near-dup'd by the
   * corpus, via the indexed join; (2) collapse the survivors' within-batch
   * clusters to their min-id representative — but the corpus side is the
   * prebuilt index: no corpus tokenize/hash/band work, ever, and on a
   * `bucket`-bucketed table ([[graft.sources.Stages.writeBucketed]]) stage 1
   * is exchange-free on the corpus side. The incoming batch is indexed ONCE
   * and both stages share the persisted frame (the same share-the-banding
   * argument as [[incrementalKeepIds]] — index rows are strictly per-doc, so
   * filtering them to the survivors equals re-indexing the survivor subset).
   *
   * `admitTo = Some(table)` closes the lifecycle: after the keep-set is
   * computed, the KEPT records' index rows (already built — a semi-join of
   * the batch frame) are appended to the durable table via
   * [[graft.sources.Stages.appendBucketed]], so tomorrow's batch sees
   * today's admissions with no rebuild. The append is an action; the
   * returned keep-set reads from the same persisted frames. Leave it None
   * for a read-only what-if run (and in the registered driver query, which
   * must be idempotent across runs).
   *
   * Verification parity with [[incrementalKeepIds]]: candidates are equal
   * (the index materializes the same banding; md5-family bucket strings
   * encode the band exactly, xxhash64 cross-band collisions are 2⁻⁶⁴ noise
   * discarded by verification), and the stored-`harr` sorted-merge overlap
   * equals the direct path's token-overlap count wherever per-doc tokens
   * are duplicate-free (set tokenizers — DedupSpec pins keep-set equality
   * on both families; the registered md5 query shares
   * [[graft.DuckSql.incrementalKeep]]'s oracle with the direct operator).
   *
   * Returns the surviving incoming keys (one column, named `key`).
   */
  def incrementalKeepIdsIndexed(corpusIndex: DataFrame, incoming: DataFrame,
                                key: String, value: String, tokenizer: Tokenizer,
                                threshold: Double, bands: Int = 16,
                                rowsPerBand: Int = 8,
                                family: HashFamily = XxHash64Family,
                                admitTo: Option[String] = None,
                                admitBuckets: Int = 8,
                                autoCompactAt: Int = 16): DataFrame = {
    val batchIdx = minHashIndex(incoming, key, value, tokenizer, bands,
      rowsPerBand, family).persistTracked
    // stage 1: cross-side — a corpus near-dup drops the incoming copy
    val vsCorpus = indexFramePairs(corpusIndex, batchIdx, threshold, bands,
      selfDedup = false)
    val dropIds = vsCorpus.select(col("rid")).distinct().persistTracked
    val survivors = incoming.join(dropIds, incoming(key) === col("rid"), "left_anti")
      .persistTracked
    // stage 2: within-batch — over the surviving subset of the batch frame
    val survIdx = batchIdx.join(dropIds, batchIdx("id") === dropIds("rid"), "left_anti")
    val selfPairs = indexFramePairs(survIdx, survIdx, threshold, bands,
      selfDedup = true)
    val kept = clusterKeepIds(survivors, key, selfPairs, "lid", "rid")
    admitTo match {
      case None => kept
      case Some(table) =>
        // The keep-set's lazy plan reads `corpusIndex` — when that is
        // `spark.table(t)` and we append to t, any post-append
        // re-execution would see the admitted rows, self-match every
        // survivor at jaccard 1.0, and return the empty set. Cut the
        // lineage to a materialized leaf BEFORE mutating the table; the
        // admitted index rows then come from the batch frame alone (built
        // from `incoming`, never from the table), so the append itself is
        // immune too.
        val stable = Checkpoints.cut(kept)
        val admittedIdx = batchIdx.join(stable.select(col(key).as("keep_id")),
          batchIdx("id") === col("keep_id"), "left_semi")
        graft.sources.Stages.appendBucketed(admittedIdx, table, "bucket",
          admitBuckets, autoCompactAt)
        stable
    }
  }

  /** Tokenize one input and build its LSH side: the persisted token table
    * plus one (id, keys, band, bucket) row per band. Each band's signature
    * chunk is folded into ONE join key via the family's bandKey
    * (xxhash64(band, chunk) on the fast path) so joins hash a compact key
    * instead of an 8-element array. Keys are persisted UNEXPLODED (bands
    * keys per id — the small form) so the signature aggregation runs once,
    * not once per join side; consumers re-explode from the cache. The
    * hash partial aggregate and the verify arrays both run map-side in the
    * scan stage — floor its parallelism on small-split inputs (no-op at
    * scale; see Parallelize). */
  private def bandedSide(df: DataFrame, key: String, value: String,
                         tokenizer: Tokenizer, bands: Int, rowsPerBand: Int,
                         family: HashFamily): (DataFrame, DataFrame) = {
    val tokens = tokenizer.tokenize(Parallelize.ensureMinParallelism(df), key, value)
      .persistTracked
    val sigs = minHashSignatures(tokens, bands * rowsPerBand, family)
    val keyed = sigs.select(col("id"), array((0 until bands).map(b =>
        family.bandKey(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
      .as("keys"))
      .persistTracked
    (tokens, keyed.select(col("id"), col("keys"),
      posexplode(col("keys")).as(Seq("band", "bucket"))))
  }

  /**
   * "Some band BEFORE this row's band also matched" — the unrolled,
   * codegen'd OR-chain behind first-matching-band emission (rationale at
   * [[minHashPairs]]). ONE definition for every MinHash call site — the
   * same predicate was previously rebuilt inline in four places
   * (self/R×S joins via [[firstBandCond]], the indexed join, and the two
   * streaming joins) with subtle "a"/"b" vs "s"/"c" alias coupling; a
   * band-geometry change now lands everywhere at once. `lKeys`/`rKeys` are
   * the two sides' full band-key arrays, `lBand` the joined row's band
   * index (either side's — they are equal on every same-band candidate,
   * and bucket-only joins discard the 2⁻⁶⁴ cross-band collision rows at
   * verification).
   */
  private[graft] def earlierBandMatches(bands: Int, lKeys: Column, lBand: Column,
                                        rKeys: Column): Column =
    (0 until bands).map(i =>
        lit(i) < lBand && lKeys.getItem(i) === rKeys.getItem(i))
      .reduce(_ || _)

  /** SimHash counterpart of [[earlierBandMatches]] over the 4-band
    * pigeonhole: band i of the pair matched iff XOR-window i is zero — one
    * shift+mask per earlier band over the xor both rows' signatures give.
    * Shared by the batch pair joins, the indexed join, and the streaming
    * joins. */
  private[graft] def earlierSimBandMatches(xor: Column, band: Column,
                                           bandBits: Int): Column = {
    val bandMask = (1L << bandBits) - 1L
    (0 until 3).map(i =>
        lit(i) < band &&
          shiftright(xor, i * bandBits).bitwiseAND(lit(bandMask)) === 0L)
      .reduce(_ || _)
  }

  /** First-matching-band join condition over two banded sides aliased
    * "a"/"b": equal bucket in the same band, and NOT already matched in an
    * earlier band. */
  private def firstBandCond(bands: Int): Column =
    col("a.bucket") === col("b.bucket") && col("a.band") === col("b.band") &&
      !earlierBandMatches(bands, col("a.keys"), col("a.band"), col("b.keys"))

  /** Exact set-Jaccard check of candidate (lid, rid) pairs against the token
    * table; emits (lid, rid, jaccard) for pairs meeting the threshold.
    *
    * The threshold test uses the join pipeline's exact operand order
    * `overlap >= ((llen + rlen) * t / (1+t))` rather than `jaccard >= t`: the
    * two differ on true-boundary pairs (e.g. J = 27/30 at t = 0.9, where the
    * reference form computes a bound of 27.000000000000004 and drops the
    * pair). Matching the reference keeps the dedup cascade consistent with
    * [[JaccardJoin]] results on the same data.
    *
    * Implementation: per-id token ARRAYS with a conservative length prefilter,
    * then ONE `graft_suffix_overlap` kernel call per pair (start positions 1 =
    * whole arrays) — the multiset product count, which equals set-intersection
    * size for duplicate-free arrays and the reference join-count otherwise,
    * with no row explosion. The relational form (cand x tokens x tokens +
    * groupBy) streamed ~150M joined rows for 5.5M LSH candidates at sf0.1 and
    * took 17 s; the array form took ~3.5 s with `array_intersect`, and the
    * native kernel removed the remaining per-pair SQLOpenHashSet churn that
    * dominated the 8× stress corpus verify (thread-sampled). */
  private[graft] def verifyJaccard(cand: DataFrame, tokens: DataFrame,
                                       threshold: Double,
                                       assumeDupFree: Boolean = false,
                                       hashedVerify: Boolean = false): DataFrame =
    verifyJaccardRs(cand, tokens, tokens, threshold, assumeDupFree, hashedVerify)

  /** Two-table form of [[verifyJaccard]] for R×S candidates: lid resolves in
    * `lTokens`, rid in `rTokens`. The self-join form passes the same token
    * table twice — the resulting plan is identical to the historical
    * single-table version (the doc-array aggregate appears once per join
    * side either way; the persisted token cache deduplicates the scans). */
  private[graft] def verifyJaccardRs(cand: DataFrame, lTokens: DataFrame,
                                     rTokens: DataFrame, threshold: Double,
                                     assumeDupFree: Boolean = false,
                                     hashedVerify: Boolean = false): DataFrame = {
    val t = lit(threshold)
    val onePlusT = lit(1d + threshold)
    // hashedVerify (the xxhash64 fast path): overlap-count SORTED arrays of
    // 64-bit token hashes instead of raw strings — equality through an
    // injective-in-practice hash preserves every multiset count up to 2⁻⁶⁴
    // collision noise, the sort happens ONCE per doc (not per pair), and the
    // per-pair kernel drops from O(n·m) string byte-equality to an O(n+m)
    // primitive merge ([[graft.expressions.SortedOverlapKernels]]). The
    // md5 family keeps the string path: its purpose is bit-for-bit DuckDB
    // oracle parity, and string verification is what the oracle SQL runs.
    def docArr(tokens: DataFrame) =
      if (hashedVerify)
        tokens.groupBy("id")
          .agg(sort_array(collect_list(xxhash64(col("token")))).as("arr"),
            first(col("len")).as("len"))
      else tokens.groupBy("id")
        .agg(collect_list(col("token")).as("arr"), first(col("len")).as("len"))
    val joined = cand
      .join(docArr(lTokens).select(col("id").as("lid"), col("arr").as("larr"), col("len").as("llen")), "lid")
      .join(docArr(rTokens).select(col("id").as("rid"), col("arr").as("rarr"), col("len").as("rlen")), "rid")
    // The symmetric length prefilter is a SUPERSET gate ONLY under set
    // semantics, where overlap <= min(llen, rlen) (eps guards FP boundaries;
    // the exact reference-operand-order threshold test below makes the final
    // call). Under multiset emission (bag tokenizers, or the delimiter
    // tokenizers' distinct-before-lowercase quirk) the pairwise product count
    // can exceed min(llen, rlen) — e.g. "The THE tHe the" (4 emitted 'the'
    // rows) vs "the" at t=0.9 has overlap 4 >= (4+1)*0.9/1.9 = 2.368 — so the
    // multiset path gates SOLELY on the threshold test.
    val eps = lit(1e-9)
    val paired =
      if (assumeDupFree)
        joined.where(col("llen") >= col("rlen") * t - eps && col("rlen") >= col("llen") * t - eps)
      else joined
    // One native kernel call per candidate (same hot instruction as the
    // filtered joins, start positions 1 = whole arrays): the multiset product
    // count equals set-intersection size when both arrays are duplicate-free,
    // and IS the reference's join-count when they are not — so a single
    // expression serves both tokenizer classes. Replaces per-pair
    // SQLOpenHashSet builds (array_intersect + two array_distinct dup probes
    // + an interpreted fold), which thread-sampling showed dominating the
    // 18.4M-candidate stress verify (UTF8String re-hashing + boxed null-check
    // lambdas, ~247 µs/pair of stage CPU).
    val overlapCol =
      if (hashedVerify)
        org.apache.spark.sql.GraftExpressionBridge.column(
          graft.expressions.SortedOverlapCount(
            org.apache.spark.sql.GraftExpressionBridge.expression(col("larr")),
            org.apache.spark.sql.GraftExpressionBridge.expression(col("rarr"))))
      else
        org.apache.spark.sql.GraftExpressionBridge.column(
          graft.expressions.SuffixOverlapCount(
            org.apache.spark.sql.GraftExpressionBridge.expression(col("larr")),
            org.apache.spark.sql.GraftExpressionBridge.expression(col("rarr")),
            org.apache.spark.sql.GraftExpressionBridge.expression(lit(1)),
            org.apache.spark.sql.GraftExpressionBridge.expression(lit(1))))
    paired.withColumn("overlap", overlapCol)
      .where(col("overlap") >= ((col("llen") + col("rlen")) * t / onePlusT))
      .select(col("lid"), col("rid"),
        (col("overlap").cast("double") /
          (col("llen") + col("rlen") - col("overlap"))).as("jaccard"))
  }

  /**
   * The full dedup CASCADE a training-data pipeline runs, cheap stage first:
   *
   *   1. exact: md5 over whitespace-normalized lowercased text (the
   *      [[TextAnalysis.fingerprint]] key); one survivor per fingerprint
   *      (min key);
   *   2. near-dup: prefix-filtered Jaccard join over the survivors
   *      ([[nearDuplicateDropIds]] — bucketed, never all-pairs), dropping the
   *      `greatest` member of each qualifying pair.
   *
   * Returns the surviving keys. Both stages are deterministic and
   * SQL-expressible, so the whole cascade is DuckDB-oracle-checked.
   */
  def cascadeKeepIds(df: DataFrame, key: String, value: String,
                     tokenizer: Tokenizer, threshold: Double): DataFrame = {
    val fp = df.select(col(key).as("id"), col(value).as("txt"))
      .withColumn("fp", md5(trim(regexp_replace(lower(col("txt")), "\\s+", " "))))
    val keepExact = fp.groupBy("fp").agg(min(col("id")).as("id"))
    val survivors = fp.join(keepExact, Seq("fp", "id")).select(col("id"), col("txt"))
      .persistTracked
    val drops = nearDuplicateDropIds(survivors, "id", "txt", tokenizer, threshold)
    survivors.join(drops, col("id") === col("drop_id"), "left_anti").select(col("id"))
  }

  /**
   * Connected components over a near-duplicate PAIR table: every id is
   * labeled with the MINIMUM id reachable through pair edges (undirected) —
   * i.e. its dedup-cluster representative. This is what production dedup
   * actually keeps: pairwise drops ("remove greatest of each pair") over-
   * delete on chains (a~b, b~c drops b AND c even when a!~c); clustering
   * keeps exactly one representative per transitive group.
   *
   * Implementation: min-label propagation WITH POINTER JUMPING — each round
   * takes `min(label, min(neighbors' labels))` and then follows
   * `label → label's own label` (path halving), so convergence needs
   * O(log diameter) rounds instead of O(diameter) (long near-dup CHAINS are
   * real: version sequences of a document pairwise-match only adjacently).
   * The fixpoint is unique, so results are deterministic and
   * SQL-oracle-checked against a recursive-CTE transitive closure.
   *
   * Each round's frame is CHECKPOINTED, not merely persisted: persist()
   * keeps the physical work linear but the LOGICAL plan still doubles per
   * round (`prop` feeds both sides of the jump join), so analyzer/optimizer
   * time goes exponential around iteration ~15 — the classic iterative-
   * DataFrame trap. On a real cluster set
   * `spark.graft.checkpoint.reliable=true` + `sc.setCheckpointDir` to cut
   * with reliable `.checkpoint()` instead (survives executor loss) — the
   * strategy switch lives in [[Checkpoints]].
   *
   * LOOP STATE IS CUT WITH PARTITIONING-PRESERVING CHECKPOINTS (optimization
   * round 15, [[Checkpoints.cutPartitioned]]): a plain localCheckpoint leaf
   * comes back UnknownPartitioning under AQE, so every round re-exchanged
   * the EDGE LIST and the label table — at 100 TB the per-round edge
   * re-shuffle is the dominant CC cost (guide §2.4: operations keyed the
   * same way should share one exchange). With `edges` cut hash-partitioned
   * (and sorted) on the neighbor key ONCE and each round's labels cut on
   * `id`, the propagation join plans with NO Exchange and NO Sort on either
   * side; the only per-round shuffles left are the neighbor-min aggregation
   * (map-side combined, ∝ nodes not edges), the pointer-jump lookup stream,
   * and the next checkpoint's layout repartition — all label-table-sized.
   * (An RDD pointer-jumping loop was tried first and REVERTED: co-partition
   * it does, but each round re-scans the full edge list through boxed
   * Iterator[Tuple2] cogroups — measured ~600 ms CPU per task per round on
   * 1.13 M edges at sf0.1 vs the codegen'd DataFrame join's ~tens of ms.
   * Whole-stage codegen over UnsafeRows is the per-row win the guide's §4
   * "prefer built-ins" rule predicts; the shuffle win had to come from
   * partitioning metadata, not from leaving the SQL engine.)
   *
   * Output: (id, cluster_id) for every id appearing in `pairs`, where
   * cluster_id = min id of the component = the kept representative.
   */
  def clusterIds(pairs: DataFrame, lCol: String, rCol: String,
                 maxIter: Int = 50): DataFrame = {
    // both orientations from ONE scan of `pairs`: a union of two selects
    // would execute the (expensive) pair-producing plan twice — measured as
    // the two dominant stages of the sf0.1 profile before this explode form.
    // persistTracked caches the rows for cross-run plan-cache reuse;
    // localCheckpoint then cuts the LINEAGE to an RDD leaf. The leaf matters
    // for a different resource than labels' checkpoint below: every action
    // in the loop posts a SQL-execution event whose plan STRING recursively
    // prints nested cached subtrees (the pair join's own caches, the caches
    // those embed, …) at every reference — measured at 900+ driver CPU
    // seconds of TreeNode.generateTreeString across a bench run before this
    // line. With edges a leaf, each round's plan prints in microseconds.
    // Cache + checkpoint IS double residency for the edge list (cache entry
    // plus checkpoint blocks): the cache pays for itself when the identical
    // pair-producing plan is rebuilt (bench best-of-n, repeated library
    // calls) by skipping the expensive candidate join; the edge list itself
    // is small (distinct long pairs), so the second copy is cheap. Callers
    // who disagree release it via Api.clearCache.
    // EDGE-SIZED partition count (round 16, guide §2: partitions track data
    // volume, not the session constant): the loop schedules 2 materialization
    // jobs per round × nPart tasks each, so a 32-core session at sf0.1 ran
    // ~3×32 near-empty tasks per round and 8 cores beat 32 (r15 scaling ratio
    // 0.72 — pure scheduling overhead). The edge list is already persisted,
    // so one count() prices the layout; partitions are capped by the
    // session's shuffle parallelism (the cluster-sized knob) and floored at
    // 1. `spark.graft.cc.edgesPerPartition` (default 250k directed edges ≈
    // a few MB and a few ms of join work per task per round) tunes the
    // trade; results are invariant in it.
    val spark = pairs.sparkSession
    val e0 = pairs
      .select(explode(array(
        struct(col(lCol).cast("long").as("a"), col(rCol).cast("long").as("b")),
        struct(col(rCol).cast("long").as("a"), col(lCol).cast("long").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persistTracked
    val edgeCount = e0.count()
    val perPart =
      try spark.conf.get("spark.graft.cc.edgesPerPartition", "250000").toLong
      catch { case scala.util.control.NonFatal(_) => 250000L }
    val nPart = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (edgeCount + perPart - 1) / perPart)).toInt
    // cut hash-partitioned + sorted on the NEIGHBOR key `b` — the side every
    // round's propagation joins on — so the edge list never re-exchanges and
    // never re-sorts inside the loop
    val edgesCut = Checkpoints.cutPartitionedSummed(e0, Seq("b"), nPart, None)
    val edges = edgesCut.df
    // labels only ever decrease, so the label-sum is a monotone convergence
    // witness: fixpoint reached exactly when the sum stops changing. FUSED
    // into each cut's forcing action (round 16) — the materialization pass
    // computes it, so a round is 2 jobs (prop cut, next cut+sum), not 3.
    // Seed with round 1's propagation folded in: label = min(id, min
    // neighbor) directly from the edge list — one aggregation replaces a
    // whole loop round.
    var labelsCut = Checkpoints.cutPartitionedSummed(edges.groupBy("a")
      .agg(least(col("a"), min(col("b"))).as("label"))
      .select(col("a").as("id"), col("label")), Seq("id"), nPart, Some("label"))
    var labels = labelsCut.df
    var prevSum = labelsCut.sum.get
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // labels arrives hash(id)-partitioned; the alias to `b` keeps the
      // partitioning attribution, so this join needs NO exchange and NO sort
      // on either side (edges is cut sorted on b, labels sorted on id)
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("nlabel")), "b")
        .groupBy(col("a").as("id")).agg(min("nlabel").as("nmin"))
      // CHECKPOINTED (round 15): `prop` feeds BOTH sides of the jump join,
      // and the duplicated subtree contains the heavy edge join — measured
      // (event log, sf0.1): AQE materialized the neighbor-min map stage TWICE
      // per round before this cut. The cut is a no-move layout repartition of
      // node-count rows (hash(id) in → hash(id) out); halving the edge-join
      // work dominates. neighborMin's aggregate output is hash(id)-clustered,
      // so this join is exchange-free.
      val propCut = Checkpoints.cutPartitionedSummed(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label")),
        Seq("id"), nPart, None)
      val prop = propCut.df
      // pointer jump: label <- min(label, label(label)). Every label value is
      // itself a node id, so the self-join always resolves (left for safety).
      // Both sides are the prop LEAF (node-count rows): the lookup side (y)
      // is keyed by prop's own id → exchange-free; only the tiny (label, id)
      // probe stream shuffles. The cut re-lays `next` out hash(id) for the
      // next round, and its forcing action computes the convergence sum.
      val nextCut = Checkpoints.cutPartitionedSummed(prop.alias("x")
        .join(prop.select(col("id").as("label"), col("label").as("ll")).alias("y"),
          Seq("label"), "left")
        .select(col("id"), least(col("label"), coalesce(col("ll"), col("label"))).as("label")),
        Seq("id"), nPart, Some("label"))
      // `next` is materialized: the round's prop leaf and the PREVIOUS
      // round's labels leaf have no remaining consumer — release their
      // blocks now instead of leaking 2 leaves per round for the life of
      // the loop (r15 ADVICE / verdict #4)
      propCut.release()
      labelsCut.release()
      val s = nextCut.sum.get
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labelsCut = nextCut
      labels = nextCut.df
      iter += 1
    }
    // the final labels leaf is all the caller's frame reads — the edge leaf
    // has no consumer past the loop. The final leaf itself is tracked so
    // Api.clearCache releases it with the persisted frames.
    edgesCut.release()
    PersistTracker.trackLeaf(labelsCut.leaf)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterIds stopped at maxIter=$maxIter without converging — labels " +
          "are an upper bound on the true component minima; raise maxIter " +
          "(pointer jumping needs ~log2(diameter) + a constant rounds)")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /**
   * Keep-set from clustering: every record whose id IS its cluster's
   * representative (the component minimum), plus every record in no cluster
   * at all — the end-to-end "dedup via transitive clusters" result a
   * pipeline actually consumes (cf. the over-deleting pairwise
   * [[nearDuplicateDropIds]], which this supersedes on chained corpora).
   */
  def clusterKeepIds(df: DataFrame, key: String, pairs: DataFrame,
                     lCol: String, rCol: String): DataFrame = {
    val drops = clusterIds(pairs, lCol, rCol)
      .where(col("cluster_id") =!= col("id"))
      .select(col("id").as("drop_id"))
    df.join(drops, col(key) === col("drop_id"), "left_anti").select(col(key))
  }

  /** SimHash per record over the family's full hash width: bit i of the
    * signature is the sign of Σ_tokens (bit i of hash(token) ? +1 : -1). */
  def simHash64(tokens: DataFrame, family: HashFamily = XxHash64Family): DataFrame = {
    val h = tokens.select(col("id"), family.tokenHash(0, col("token")).as("h"))
    val bitSums = (0 until family.bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i"))
    h.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until family.bits).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxHamming (< bits/4 of
   * the 4-band banding). Pigeonhole: distance ≤ 3 ⇒ at least one of the 4
   * bands is identical, so candidates only form on equal band values —
   * a plain equi-join, no all-pairs.
   */
  def simHashPairs(df: DataFrame, key: String, value: String, tokenizer: Tokenizer,
                   maxHamming: Int = 3,
                   family: HashFamily = XxHash64Family): DataFrame = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    // persist the (id, simhash) signatures: they feed BOTH sides of the band
    // self-join, and rebuilding them re-runs tokenize + the 64-column bit-sum
    // aggregation per side (the dominant per-doc compute of this path)
    val tokens = tokenizer.tokenize(Parallelize.ensureMinParallelism(df), key, value)
    val withBand = banded64(simHash64(tokens, family).persistTracked, family.bits)
    // First-matching-band emission (same pattern as minHashPairs): a pair
    // within hamming ≤ 3 of an identical doc agrees in MOST bands, so the
    // old post-join `.distinct()` absorbed up to 4 copies of every hot pair
    // — the dominant exchange on dup-heavy corpora. The simhash each side
    // already carries encodes every band value, so "some earlier band also
    // matched" is one XOR away: band i matches iff window i of a^b is zero
    // ([[earlierSimBandMatches]]). Emitting only from the lowest matching
    // band is exactly-once by construction — no dedup shuffle.
    val xor = col("a.simhash").bitwiseXOR(col("b.simhash"))
    withBand.alias("a")
      .join(withBand.alias("b"),
        col("a.band") === col("b.band") && col("a.bandval") === col("b.bandval") &&
        col("a.id") < col("b.id") &&
        !earlierSimBandMatches(xor, col("a.band"), family.bits / 4))
      .select(col("a.id").as("lid"), col("b.id").as("rid"),
        bit_count(xor).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Incremental (R×S) SimHash near-dup pairs: an INCOMING batch checked
   * against an existing CORPUS without self-joining either side — the
   * Hamming-side counterpart of [[minHashPairsRs]], completing the
   * daily-ingest story for both hash families. Same 4-band pigeonhole as
   * [[simHashPairs]]: Hamming ≤ 3 guarantees at least one identical
   * bandBits-wide signature window, so candidates form only on an equi-join
   * of (band, bandval) between the two sides — corpus-internal duplicates
   * generate no candidates, and cross-side cost scales with the incoming
   * batch. First-matching-band emission applies unchanged (the XOR windows
   * both sides carry decide "an earlier band also matched"), so each
   * (corpus doc, incoming doc) pair is emitted exactly once, no dedup
   * shuffle.
   *
   * Output: (lid, rid, hamming), lid from `corpus`, rid from `incoming` —
   * no id-order constraint, the two id spaces are independent.
   */
  def simHashPairsRs(corpus: DataFrame, incoming: DataFrame, key: String,
                     value: String, tokenizer: Tokenizer, maxHamming: Int = 3,
                     family: HashFamily = XxHash64Family): DataFrame = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    val xor = col("a.simhash").bitwiseXOR(col("b.simhash"))
    simHashBanded(corpus, key, value, tokenizer, family).alias("a")
      .join(simHashBanded(incoming, key, value, tokenizer, family).alias("b"),
        col("a.band") === col("b.band") && col("a.bandval") === col("b.bandval") &&
          !earlierSimBandMatches(xor, col("a.band"), family.bits / 4))
      .select(col("a.id").as("lid"), col("b.id").as("rid"),
        bit_count(xor).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Materializable SimHash INDEX of a corpus — the Hamming-side counterpart
   * of [[minHashIndex]], completing the durable-index story for both hash
   * families. One row per (id, band) carrying the full 64-bit signature
   * (`simhash` — both the verification payload, via XOR bit-count, and the
   * first-matching-band suppression input) and this band's single join key
   * `bucket`. Unlike MinHash's hashed band keys, the bucket here is an
   * EXACT encoding: `(band << bandBits) | bandval` — band and window value
   * are recovered losslessly, so a bucket equality IS a (band, bandval)
   * equality and the indexed join admits zero cross-band collision rows on
   * either family.
   *
   * Persist with `Stages.writeBucketed(index, table, "bucket", n)` and the
   * daily [[simHashPairsRsIndexed]] join is exchange-free on the corpus
   * side, same as the MinHash trio; append admitted batches' index rows
   * with `Stages.appendBucketed`. No token payload is stored at all —
   * verification needs only the two signatures — so the index is 4 rows of
   * 3 longs per doc, far smaller than the corpus text it replaces.
   */
  def simHashIndex(df: DataFrame, key: String, value: String,
                   tokenizer: Tokenizer,
                   family: HashFamily = XxHash64Family): DataFrame = {
    val bandBits = family.bits / 4
    simHashBanded(df, key, value, tokenizer, family)
      .withColumn("bucket",
        shiftleft(col("band").cast("long"), bandBits).bitwiseOR(col("bandval")))
  }

  /**
   * [[simHashPairsRs]] against a prebuilt corpus [[simHashIndex]]: the
   * incoming batch is indexed on the fly with the SAME family (pass the one
   * the index was built with, or bucket encodings disagree) and joined
   * bucket-to-bucket; verification is one XOR + bit_count from the two
   * stored signatures. Because the bucket encodes (band, bandval)
   * losslessly, the join predicate is EXACTLY the direct operator's
   * (band, bandval) equality — DedupSpec pins indexed == direct on both
   * families, multiplicity included. On a `bucket`-bucketed table the
   * corpus side joins with no exchange (StagesSpec).
   *
   * Output: (lid, rid, hamming), lid from the index.
   */
  def simHashPairsRsIndexed(corpusIndex: DataFrame, incoming: DataFrame,
                            key: String, value: String, tokenizer: Tokenizer,
                            maxHamming: Int = 3,
                            family: HashFamily = XxHash64Family): DataFrame = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    simIndexFramePairs(corpusIndex,
      simHashIndex(incoming, key, value, tokenizer, family),
      maxHamming, family.bits / 4, selfDedup = false)
  }

  /** The index-layout join of the SimHash family — the Hamming-side mirror
    * of [[indexFramePairs]]: two frames in the [[simHashIndex]] column
    * layout (id, simhash, band, bandval, bucket) joined on `bucket` (a
    * LOSSLESS (band, bandval) encoding, so this IS the direct operator's
    * equi key) with first-matching-band suppression, verified by one XOR +
    * bit_count from the two stored signatures. `selfDedup = true` adds the
    * `a.id < b.id` orientation for a frame joined with itself. Output
    * (lid, rid, hamming), lid from the left frame. */
  private def simIndexFramePairs(lIdx: DataFrame, rIdx: DataFrame,
                                 maxHamming: Int, bandBits: Int,
                                 selfDedup: Boolean): DataFrame = {
    val xor = col("a.simhash").bitwiseXOR(col("b.simhash"))
    val base = col("a.bucket") === col("b.bucket") &&
      !earlierSimBandMatches(xor, col("a.band"), bandBits)
    val cond = if (selfDedup) base && col("a.id") < col("b.id") else base
    lIdx.alias("a")
      .join(rIdx.alias("b"), cond)
      .select(col("a.id").as("lid"), col("b.id").as("rid"),
        bit_count(xor).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Incremental SimHash keep-set — the Hamming-side mirror of
   * [[incrementalKeepIds]], completing the daily-ingest keep-set story on
   * both hash families: (1) drop every incoming record within Hamming
   * `maxHamming` of a corpus record, (2) collapse the survivors'
   * within-batch Hamming clusters to their min-id representative
   * ([[clusterKeepIds]]). The corpus side is an in-memory [[simHashIndex]]
   * built here; use [[incrementalKeepIdsSimHashIndexed]] against a durable
   * stored index in production. Returns the surviving incoming keys (one
   * column, named `key`). Md5 family is DuckDB-oracle-checked end-to-end
   * ([[graft.DuckSql.incrementalKeepSimHash]]).
   */
  def incrementalKeepIdsSimHash(corpus: DataFrame, incoming: DataFrame,
                                key: String, value: String, tokenizer: Tokenizer,
                                maxHamming: Int = 3,
                                family: HashFamily = XxHash64Family): DataFrame =
    incrementalKeepIdsSimHashIndexed(
      simHashIndex(corpus, key, value, tokenizer, family),
      incoming, key, value, tokenizer, maxHamming, family)

  /**
   * The SimHash production daily-ingest operator — the Hamming-side mirror
   * of [[incrementalKeepIdsIndexed]]: [[incrementalKeepIdsSimHash]] against
   * a DURABLE corpus [[simHashIndex]]. Because the bucket encoding is
   * lossless, the indexed joins are EQUAL to the direct (band, bandval)
   * joins — indexed == direct is an equality on both families, so the
   * registered md5 query shares the direct operator's oracle. The incoming
   * batch is indexed ONCE and both stages share the persisted frame (index
   * rows are strictly per-doc, so filtering to the survivors equals
   * re-indexing the survivor subset — the same argument as the MinHash
   * mirror).
   *
   * `admitTo = Some(table)` appends the KEPT records' index rows via
   * [[graft.sources.Stages.appendBucketed]] so tomorrow's batch sees
   * today's admissions with no rebuild — with the same lineage cut as the
   * MinHash form: the keep-set is checkpointed BEFORE the table its plan
   * reads is mutated, or any post-append re-execution would self-match
   * every survivor at Hamming 0 and return the empty set.
   *
   * Returns the surviving incoming keys (one column, named `key`).
   */
  def incrementalKeepIdsSimHashIndexed(corpusIndex: DataFrame, incoming: DataFrame,
                                       key: String, value: String,
                                       tokenizer: Tokenizer, maxHamming: Int = 3,
                                       family: HashFamily = XxHash64Family,
                                       admitTo: Option[String] = None,
                                       admitBuckets: Int = 8,
                                       autoCompactAt: Int = 16): DataFrame = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    keepAgainstHammingIndex(corpusIndex,
      simHashIndex(incoming, key, value, tokenizer, family),
      incoming, key, maxHamming, family.bits / 4, admitTo, admitBuckets,
      autoCompactAt)
  }

  /** The shared admission skeleton of the index-layout keep-set operators
    * ([[incrementalKeepIdsSimHashIndexed]], the generic
    * [[incrementalKeepIdsHamming64Indexed]]): (1) cross-side drop against
    * the corpus index, (2) within-batch cluster collapse over the surviving
    * subset of the batch index, (3) optional admit-append with the
    * read-after-append lineage cut (the keep-set is materialized BEFORE the
    * table its plan reads is mutated — rationale at
    * [[incrementalKeepIdsIndexed]]). One body so a lifecycle fix can never
    * silently diverge between the families. */
  private def keepAgainstHammingIndex(corpusIndex: DataFrame, batchIdx0: DataFrame,
                                      incoming: DataFrame, key: String,
                                      maxHamming: Int, bandBits: Int,
                                      admitTo: Option[String], admitBuckets: Int,
                                      autoCompactAt: Int): DataFrame = {
    val batchIdx = batchIdx0.persistTracked
    // stage 1: cross-side — a corpus near-dup drops the incoming copy
    val vsCorpus = simIndexFramePairs(corpusIndex, batchIdx, maxHamming,
      bandBits, selfDedup = false)
    val dropIds = vsCorpus.select(col("rid")).distinct().persistTracked
    val survivors = incoming.join(dropIds, incoming(key) === col("rid"), "left_anti")
      .persistTracked
    // stage 2: within-batch — over the surviving subset of the batch frame
    val survIdx = batchIdx.join(dropIds, batchIdx("id") === dropIds("rid"), "left_anti")
    val selfPairs = simIndexFramePairs(survIdx, survIdx, maxHamming, bandBits,
      selfDedup = true)
    val kept = clusterKeepIds(survivors, key, selfPairs, "lid", "rid")
    admitTo match {
      case None => kept
      case Some(table) =>
        val stable = Checkpoints.cut(kept)
        val admittedIdx = batchIdx.join(stable.select(col(key).as("keep_id")),
          batchIdx("id") === col("keep_id"), "left_semi")
        graft.sources.Stages.appendBucketed(admittedIdx, table, "bucket",
          admitBuckets, autoCompactAt)
        stable
    }
  }

  /** One (id, simhash, band, bandval) row per signature window: the 4-band
    * pigeonhole blocking both [[simHashPairs]] and [[simHashPairsRs]] join
    * on (band index is a Scala literal, so the window shift is codegen'd
    * constant arithmetic). */
  private def simHashBanded(df: DataFrame, key: String, value: String,
                            tokenizer: Tokenizer, family: HashFamily): DataFrame = {
    val tokens = tokenizer.tokenize(Parallelize.ensureMinParallelism(df), key, value)
    banded64(simHash64(tokens, family), family.bits)
  }

  /** 4-band explosion of any (id, simhash) signature frame — the
    * signature-agnostic core of [[simHashBanded]], shared with
    * [[hammingIndex64]] so precomputed 64-bit fingerprints ride the same
    * Hamming-band machinery as text SimHash. One row per (id, band) with
    * that band's bits/4-wide window as `bandval`. */
  private[graft] def banded64(sigs: DataFrame, bits: Int): DataFrame = {
    val bandBits = bits / 4
    val bandMask = (1L << bandBits) - 1L
    sigs.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(
          lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(bandMask)).as("bandval"))): _*)).as("bd"))
      .select(col("id"), col("simhash"),
        col("bd.band").as("band"), col("bd.bandval").as("bandval"))
  }

  /**
   * Materializable Hamming INDEX over ANY precomputed 64-bit signatures —
   * [[simHashIndex]]'s layout (id, simhash, band, bandval, bucket) without
   * the tokenize+fold step, so fingerprint corpora get the same durable
   * daily-ingest index as text: persist with
   * `Stages.writeBucketed(index, table, "bucket", n)`, append admitted
   * batches with `appendBucketed`, and the bucket is the LOSSLESS
   * `(band << 16) | bandval` encoding — a bucket equality IS a
   * (band, bandval) equality, so indexed joins are EQUAL to the direct
   * operator's. 4 rows of 3 longs per item, no payload stored.
   */
  def hammingIndex64(sigs: DataFrame, key: String, sigCol: String): DataFrame =
    banded64(sigs.select(col(key).as("id"), col(sigCol).as("simhash")), 64)
      .withColumn("bucket",
        shiftleft(col("band").cast("long"), 16).bitwiseOR(col("bandval")))

  /**
   * Incremental (R×S) Hamming near-dup of incoming precomputed 64-bit
   * signatures against a prebuilt corpus [[hammingIndex64]]: the
   * incoming signatures are indexed on the fly and joined bucket-to-bucket;
   * on a `bucket`-bucketed table the corpus side joins with no exchange
   * (the [[simHashPairsRsIndexed]] argument, verbatim — the join layouts
   * are identical). Output (lid, rid, hamming), lid from the index.
   */
  def hammingPairsRs64Indexed(corpusIndex: DataFrame, incoming: DataFrame,
                              key: String, sigCol: String,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    simIndexFramePairs(corpusIndex, hammingIndex64(incoming, key, sigCol),
      maxHamming, 16, selfDedup = false)
  }

  /**
   * Incremental keep-set over ANY precomputed 64-bit signatures against a
   * DURABLE [[hammingIndex64]] table — the generic-signature production
   * daily-ingest operator, giving precomputed 64-bit fingerprints the exact
   * admission lifecycle the text families have: (1) drop every
   * incoming item within Hamming `maxHamming` of an indexed one, (2) collapse
   * the survivors' within-batch clusters to min-id representatives
   * ([[clusterKeepIds]]), (3) with `admitTo`, append the kept items' index
   * rows ([[graft.sources.Stages.appendBucketed]]) so the next batch sees
   * today's admissions with no rebuild. The keep-set is lineage-cut BEFORE
   * the table its plan reads is mutated (the read-after-append trap —
   * rationale at [[incrementalKeepIdsIndexed]]).
   *
   * `incoming` needs a unique `key` column and a long `sigCol`. Returns the
   * surviving incoming keys (one column, named `key`).
   */
  def incrementalKeepIdsHamming64Indexed(corpusIndex: DataFrame, incoming: DataFrame,
                                         key: String, sigCol: String,
                                         maxHamming: Int = 3,
                                         admitTo: Option[String] = None,
                                         admitBuckets: Int = 8,
                                         autoCompactAt: Int = 16): DataFrame = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    keepAgainstHammingIndex(corpusIndex, hammingIndex64(incoming, key, sigCol),
      incoming, key, maxHamming, 16, admitTo, admitBuckets, autoCompactAt)
  }
}
