package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/**
 * Structured Streaming variants of the training-data pipeline operators.
 *
 * The reference is pure batch (no streaming surface anywhere in
 * py_duckdb/similarity_join); these extend the same semantics to an ingestion
 * stream, reusing the batch operators' token/hash definitions so streaming and
 * batch results agree on the same data:
 *
 *   - [[exactDedup]]   — first-seen-fingerprint filter (state: seen hashes).
 *   - [[nearDupPairs]] — MinHash+LSH near-dup pair detection with
 *     `flatMapGroupsWithState` keyed by LSH bucket; per-bucket state holds the
 *     docs seen so far, new docs are exact-verified against them on arrival.
 *   - [[dedupAgainstCorpus]] — stateless stream-static LSH join: arriving
 *     docs checked against a static corpus (the ingestion-time counterpart
 *     of [[graft.operators.Dedup.minHashPairsRs]]).
 *   - [[ingestDedup]] / [[ingestDedupSimHash]] — the continuous ADMISSION
 *     loop: every micro-batch deduped against the durable corpus index and
 *     its survivors appended back, state living in the bucketed table
 *     instead of streaming state-store memory.
 *   - [[windowedStats]] — watermarked tumbling-window corpus quality
 *     aggregates for ingestion monitoring.
 *
 * The stateless operators in [[graft.operators.TextAnalysis]] (stats,
 * languageId, tokenCounts, fingerprint) are pure column transforms and work on
 * streaming DataFrames unchanged — no streaming wrapper needed.
 *
 * Scale notes: state is partitioned by group key (fingerprint / LSH bucket /
 * window), so it shards across executors like any shuffle. Near-dup bucket
 * state holds token sets for the bucket's docs — bound it with `stateTtl` in
 * production so cold buckets expire; LSH banding keeps buckets small (docs
 * only share a bucket when a signature band matches exactly).
 */
object Streaming {

  /** Per-doc MinHash signature as a pure column expression over a token-array
    * column: sig[i] = min over tokens of xxhash64(i, token). Unlike the batch
    * [[graft.operators.Dedup.minHashSignatures]] (a groupBy over token rows)
    * this needs no aggregation state, so it runs identically on batch and
    * streaming frames. Same hash family, so signatures agree with the batch op. */
  def minHashSigCol(tokens: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(tokens, tk => xxhash64(lit(i), tk)))): _*)

  /** Lowercased whitespace token SET of a text column (the batch
    * WhitespaceTokenizer's char class). */
  private def wsTokenSet(text: Column): Column =
    array_distinct(filter(split(lower(text), "[\t\n\r ]"), x => trim(x) =!= ""))

  /**
   * Streaming exact dedup: keep only the first-seen row per content
   * fingerprint (md5 over whitespace-normalized lowercased text — same
   * fingerprint as [[graft.operators.TextAnalysis.fingerprint]]).
   *
   * `dropDuplicates` on a stream keeps every seen key in the state store
   * forever; pass `withinWatermarkCol` (an event-time column that has a
   * watermark set upstream) to use `dropDuplicatesWithinWatermark` so state
   * expires — the production configuration for unbounded streams.
   */
  def exactDedup(stream: DataFrame, text: String,
                 withinWatermarkCol: Option[String] = None): DataFrame = {
    val fp = stream.withColumn("fingerprint",
      md5(trim(regexp_replace(lower(col(text)), "\\s+", " "))))
    withinWatermarkCol match {
      case Some(_) => fp.dropDuplicatesWithinWatermark("fingerprint")
      case None    => fp.dropDuplicates("fingerprint")
    }
  }

  /** One doc in one LSH bucket (the flatMapGroupsWithState row type). */
  final case class BucketDoc(bucket: String, id: String, tokens: Seq[String])
  /** Per-bucket state: docs seen so far. */
  final case class SeenDocs(docs: List[BucketDoc])
  /** Emitted near-dup pair, oriented l < r. */
  final case class DupPair(l_id: String, r_id: String, jaccard: Double)

  /**
   * Streaming near-duplicate detection: MinHash signatures (stateless column
   * expression) → LSH band buckets → `flatMapGroupsWithState` keyed by bucket,
   * where each arriving doc is exact-verified (set Jaccard, the join
   * pipeline's operand order `overlap >= (l+r)*t/(1+t)`) against the bucket's
   * previously-seen docs, then added to the bucket state.
   *
   * Output: `DupPair(l_id, r_id, jaccard)` with l < r, emitted in the
   * micro-batch where the LATER doc of the pair arrives. A pair colliding in
   * several buckets is emitted once per bucket — dedupe downstream with
   * `dropDuplicates` if exact-once pairs matter (kept out of this operator so
   * it stays append-mode composable).
   *
   * `stateTtl` (e.g. "30 minutes") expires buckets idle longer than the TTL —
   * docs arriving after their bucket expired simply can't pair with the
   * expired docs, the standard recall/state tradeoff for unbounded streams.
   */
  def nearDupPairs(stream: DataFrame, key: String, text: String,
                   threshold: Double, bands: Int = 8, rowsPerBand: Int = 4,
                   stateTtl: Option[String] = None): Dataset[DupPair] = {
    import stream.sparkSession.implicits._
    val numHashes = bands * rowsPerBand

    val banded = stream
      .select(col(key).cast("string").as("id"), wsTokenSet(col(text)).as("tokens"))
      .withColumn("sig", minHashSigCol(col("tokens"), numHashes))
      .select(col("id"), col("tokens"), explode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          concat_ws("_", b.cast("string"),
            hash(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))).cast("string"))))
        .as("bucket"))
      .as[(String, Seq[String], String)]
      .map { case (id, tokens, bucket) => BucketDoc(bucket, id, tokens) }

    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[SeenDocs, DupPair](OutputMode.Append, timeout) {
        (_, docs, state: GroupState[SeenDocs]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.map(_.docs).getOrElse(Nil)
            val out = List.newBuilder[DupPair]
            for (d <- docs) {
              val dSet = d.tokens.toSet
              for (s <- seen if s.id != d.id) {
                val sSet = s.tokens.toSet
                val overlap = dSet.count(sSet.contains)
                // reference operand order (jaccard_join.py:183) so the stream
                // agrees with batch JaccardJoin/Dedup on boundary pairs
                if (overlap >= (dSet.size + sSet.size) * threshold / (1d + threshold)) {
                  val (l, r) = if (d.id < s.id) (d.id, s.id) else (s.id, d.id)
                  out += DupPair(l, r,
                    overlap.toDouble / (dSet.size + sSet.size - overlap))
                }
              }
              seen = d :: seen
            }
            state.update(SeenDocs(seen))
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** One row per (id, band): the full band-key array plus this band's bucket
    * key (the same band construction [[nearDupPairs]] uses for its state
    * keys). Stateless column expressions only, so the same banding runs on
    * streaming and static frames alike — both sides of
    * [[dedupAgainstCorpus]] go through here. */
  private def bandedRows(df: DataFrame, key: String, text: String,
                         bands: Int, rowsPerBand: Int): DataFrame = {
    val toks = wsTokenSet(col(text))
    df.select(col(key).cast("string").as("id"), toks.as("tokens"))
      // a token-less (empty/whitespace-only) doc has no MinHash signature:
      // every sig slice hashes the all-null window to the SAME bucket on both
      // sides, the overlap gate degenerates to 0 >= 0 (true), and
      // jaccard = 0/0 deserializes as null into a non-nullable Double. Batch
      // minHashPairsRs drops such docs at token explosion, so filtering here
      // keeps the pinned stream == batch equivalence (and the join finite).
      .where(size(col("tokens")) > 0)
      .withColumn("harr", sort_array(transform(col("tokens"), tk => xxhash64(tk))))
      .withColumn("len", size(col("tokens")).cast("long"))
      .withColumn("sig", minHashSigCol(col("tokens"), bands * rowsPerBand))
      .withColumn("keys", transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws("_", b.cast("string"),
          hash(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))).cast("string"))))
      .select(col("id"), col("harr"), col("len"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "bucket")))
  }

  /** Emitted match of a streamed doc against the static corpus. */
  final case class CorpusMatch(id: String, corpus_id: String, jaccard: Double)

  /**
   * Streaming incremental dedup against a STATIC corpus: flag arriving
   * documents that are MinHash+LSH near-duplicates of any corpus document —
   * the ingestion-time counterpart of
   * [[graft.operators.Dedup.minHashPairsRs]], for the pipeline that admits
   * a crawl stream only if it adds novel content.
   *
   * Entirely STATELESS: both sides are banded by the same column expressions
   * ([[bandedRows]]), and each micro-batch runs a stream-static inner join
   * on the band bucket plus an exact-verification filter — one
   * `graft_sorted_overlap` kernel call per candidate over per-doc SORTED
   * token-hash arrays computed once per row, never per pair. No state store,
   * append-mode composable. First-matching-band suppression (the batch
   * operator's trick, a pure join predicate) makes emission exactly-once per
   * (doc, corpus doc) pair. Verification uses the reference threshold
   * operand order `overlap >= (l+r)*t/(1+t)` so stream and batch verdicts
   * agree on boundary pairs (pinned by StreamingSpec).
   *
   * Scale: the banded corpus is persisted — scanned once, then every
   * micro-batch joins against the cached form. Catalyst picks the join from
   * the static side's size: broadcast while the banded corpus fits the
   * threshold, shuffled hash join keyed by bucket beyond that (the stream
   * side shuffles only the arriving micro-batch, never the corpus).
   *
   * Output: `CorpusMatch(id, corpus_id, jaccard)` — one row per verified
   * (streamed doc, corpus doc) pair; `dropDuplicates("id")` downstream if
   * only the flag matters.
   */
  def dedupAgainstCorpus(stream: DataFrame, corpus: DataFrame, key: String,
                         text: String, threshold: Double, bands: Int = 8,
                         rowsPerBand: Int = 4): Dataset[CorpusMatch] = {
    import stream.sparkSession.implicits._
    import graft.operators.PersistTracker.TrackedPersist
    val corpusSide = bandedRows(corpus, key, text, bands, rowsPerBand).persistTracked
    val streamSide = bandedRows(stream, key, text, bands, rowsPerBand)
    val overlap = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SortedOverlapCount(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("s.harr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("c.harr"))))
    streamSide.alias("s")
      .join(corpusSide.alias("c"),
        col("s.bucket") === col("c.bucket") && col("s.band") === col("c.band") &&
          !graft.operators.Dedup.earlierBandMatches(bands,
            col("s.keys"), col("s.band"), col("c.keys")))
      .withColumn("overlap", overlap)
      .where(col("overlap") >=
        (col("s.len") + col("c.len")) * lit(threshold) / lit(1d + threshold))
      .select(col("s.id").as("id"), col("c.id").as("corpus_id"),
        (col("overlap").cast("double") /
          (col("s.len") + col("c.len") - col("overlap"))).as("jaccard"))
      .as[CorpusMatch]
  }

  /** Stream-side rows in the DURABLE-INDEX layout: the same columns
    * [[graft.operators.Dedup.minHashIndex]] stores (xxhash64 family —
    * sig hash `xxhash64(i, token)`, band key `xxhash64(band, chunk)`,
    * verification array `sort_array(xxhash64(token))`), built statelessly so
    * they compute per-row on a streaming frame. Bit-identical keys are what
    * let a micro-batch join the prebuilt corpus index directly. */
  private def indexLayoutRows(df: DataFrame, key: String, text: String,
                              bands: Int, rowsPerBand: Int): DataFrame = {
    val toks = wsTokenSet(col(text))
    df.select(col(key).cast("string").as("id"), toks.as("tokens"))
      .where(size(col("tokens")) > 0) // see bandedRows: batch emits no rows for token-less docs
      .withColumn("harr", sort_array(transform(col("tokens"), tk => xxhash64(tk))))
      .withColumn("len", size(col("tokens")).cast("long"))
      .withColumn("sig", minHashSigCol(col("tokens"), bands * rowsPerBand))
      .withColumn("keys", transform(sequence(lit(0), lit(bands - 1)), b =>
        graft.operators.Dedup.XxHash64Family.bandKey(b,
          slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand)))))
      .select(col("id"), col("harr"), col("len"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "bucket")))
  }

  /**
   * Streaming incremental dedup against a DURABLE corpus index: like
   * [[dedupAgainstCorpus]], but the static side is a prebuilt
   * [[graft.operators.Dedup.minHashIndex]] table (typically persisted with
   * `Stages.writeBucketed(index, table, "bucket", n)`) instead of raw corpus
   * text — the streaming counterpart of
   * [[graft.operators.Dedup.minHashPairsRsIndexed]].
   *
   * Why it matters at 100 TB: [[dedupAgainstCorpus]] re-tokenizes, re-hashes
   * and re-bands the whole corpus once per run before caching it; here the
   * corpus-side work was paid once at index-build time, and when the index is
   * read from a `bucket`-bucketed table each micro-batch's join is
   * EXCHANGE-FREE on the corpus side — the equi key is `bucket` ALONE for
   * exactly the co-partition reason documented at `minHashPairsRsIndexed`
   * (the xxhash64 bucket key already encodes the band; a `band` equality
   * term here would force both sides to re-shuffle on (bucket, band)).
   * Only the arriving micro-batch is hashed and shuffled. Stateless,
   * append-mode composable, exactly-once per pair via first-matching-band
   * suppression (a pure join predicate over the two band-key arrays).
   *
   * Pass the SAME `bands`/`rowsPerBand` the index was built with, or bucket
   * keys are meaningless. XxHash64 family only — the layout stores hashes.
   *
   * Output: [[CorpusMatch]] rows, `corpus_id` from the index.
   */
  def dedupAgainstIndex(stream: DataFrame, corpusIndex: DataFrame, key: String,
                        text: String, threshold: Double, bands: Int = 16,
                        rowsPerBand: Int = 8): Dataset[CorpusMatch] = {
    import stream.sparkSession.implicits._
    val streamSide = indexLayoutRows(stream, key, text, bands, rowsPerBand)
    val overlap = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SortedOverlapCount(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("s.harr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("c.harr"))))
    streamSide.alias("s")
      .join(corpusIndex.alias("c"),
        col("s.bucket") === col("c.bucket") &&
          !graft.operators.Dedup.earlierBandMatches(bands,
            col("s.keys"), col("s.band"), col("c.keys")))
      .withColumn("overlap", overlap)
      .where(col("overlap") >=
        (col("s.len") + col("c.len")) * lit(threshold) / lit(1d + threshold))
      .select(col("s.id").as("id"), col("c.id").cast("string").as("corpus_id"),
        (col("overlap").cast("double") /
          (col("s.len") + col("c.len") - col("overlap"))).as("jaccard"))
      .as[CorpusMatch]
  }

  /** Per-doc 64-bit SimHash as a pure column expression over a token-array
    * column — the stateless (streaming-capable) form of
    * [[graft.operators.Dedup.simHash64]]'s groupBy. Same hash
    * (xxhash64(0, token)), same sign rule (bit i set iff Σ ±1 > 0), so
    * signatures agree bit-for-bit with the batch operator on the same
    * tokens (pinned by StreamingSpec's stream == batch equivalence). */
  private def simHashCol(tokens: Column): Column = {
    val hs = transform(tokens, tk => xxhash64(lit(0), tk))
    (0 until 64).map { i =>
      val mask = lit(1L << i) // sign bit included: & MinValue != 0 tests bit 63
      val s = aggregate(hs, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0L, 1).otherwise(-1))
      when(s > 0, mask).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** One (id, simhash, band, bandval) row per 16-bit signature window — the
    * 4-band pigeonhole both sides of [[simHashAgainstCorpus]] join on.
    * Token-less docs are dropped for the same reason as [[bandedRows]]:
    * batch emits no signature for them, and an all-docs-match bucket is
    * semantically meaningless. */
  private def simBandedRows(df: DataFrame, key: String, text: String): DataFrame = {
    val bandMask = lit(0xFFFFL)
    df.select(col(key).cast("string").as("id"), wsTokenSet(col(text)).as("tokens"))
      .where(size(col("tokens")) > 0)
      .withColumn("simhash", simHashCol(col("tokens")))
      .select(col("id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(
          lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(bandMask).as("bandval"))): _*)).as("bd"))
      .select(col("id"), col("simhash"),
        col("bd.band").as("band"), col("bd.bandval").as("bandval"))
  }

  /** Emitted Hamming match of a streamed doc against the static corpus. */
  final case class CorpusSimMatch(id: String, corpus_id: String, hamming: Int)

  /**
   * Streaming incremental SimHash dedup against a STATIC corpus: flag
   * arriving documents within Hamming distance `maxHamming` (≤ 3) of any
   * corpus document — the ingestion-time counterpart of
   * [[graft.operators.Dedup.simHashPairsRs]], completing the stream-side
   * story for both hash families (MinHash has [[dedupAgainstCorpus]]).
   *
   * Entirely STATELESS, same shape as [[dedupAgainstCorpus]]: the corpus is
   * banded once and persisted; each micro-batch equi-joins on the
   * (band, bandval) pigeonhole key — Hamming ≤ 3 guarantees at least one of
   * the 4 windows matches, so the join provably loses nothing — and
   * first-matching-band suppression (one XOR over the two signatures both
   * rows already carry) keeps emission exactly-once per pair with no dedup
   * shuffle and no state store.
   *
   * Output: `CorpusSimMatch(id, corpus_id, hamming)`.
   */
  def simHashAgainstCorpus(stream: DataFrame, corpus: DataFrame, key: String,
                           text: String, maxHamming: Int = 3): Dataset[CorpusSimMatch] = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    import stream.sparkSession.implicits._
    import graft.operators.PersistTracker.TrackedPersist
    val corpusSide = simBandedRows(corpus, key, text).persistTracked
    val streamSide = simBandedRows(stream, key, text)
    val xor = col("s.simhash").bitwiseXOR(col("c.simhash"))
    streamSide.alias("s")
      .join(corpusSide.alias("c"),
        col("s.band") === col("c.band") && col("s.bandval") === col("c.bandval") &&
          !graft.operators.Dedup.earlierSimBandMatches(xor, col("s.band"), 16))
      .select(col("s.id").as("id"), col("c.id").as("corpus_id"),
        bit_count(xor).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .as[CorpusSimMatch]
  }

  /**
   * Streaming incremental SimHash dedup against a DURABLE corpus index: like
   * [[simHashAgainstCorpus]], but the static side is a prebuilt
   * [[graft.operators.Dedup.simHashIndex]] table — the streaming counterpart
   * of [[graft.operators.Dedup.simHashPairsRsIndexed]], mirroring what
   * [[dedupAgainstIndex]] is to [[dedupAgainstCorpus]] on the MinHash side.
   * Corpus-side tokenize/hash work was paid once at index-build time (not
   * once per stream restart), and on a `bucket`-bucketed table each
   * micro-batch's join is exchange-free on the corpus side. The stream side
   * builds the SAME exact bucket encoding (`(band << 16) | bandval` —
   * lossless, so bucket equality IS the direct operator's (band, bandval)
   * equality) statelessly per arriving row. XxHash64 family only, like
   * every streaming operator here.
   *
   * Output: [[CorpusSimMatch]] rows, `corpus_id` from the index.
   */
  def simHashAgainstIndex(stream: DataFrame, corpusIndex: DataFrame, key: String,
                          text: String, maxHamming: Int = 3): Dataset[CorpusSimMatch] = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    import stream.sparkSession.implicits._
    val streamSide = simBandedRows(stream, key, text)
      .withColumn("bucket",
        shiftleft(col("band").cast("long"), 16).bitwiseOR(col("bandval")))
    val xor = col("s.simhash").bitwiseXOR(col("c.simhash"))
    streamSide.alias("s")
      .join(corpusIndex.alias("c"),
        col("s.bucket") === col("c.bucket") &&
          !graft.operators.Dedup.earlierSimBandMatches(xor, col("s.band"), 16))
      .select(col("s.id").as("id"), col("c.id").cast("string").as("corpus_id"),
        bit_count(xor).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .as[CorpusSimMatch]
  }

  /**
   * Streaming GENERIC-SIGNATURE near-dup against a durable
   * [[graft.operators.Dedup.hammingIndex64]] table — the precomputed-
   * signature counterpart of [[simHashAgainstIndex]]: arriving 64-bit
   * fingerprints (computed upstream) band statelessly into the SAME lossless
   * bucket encoding and join the bucketed index exchange-free on the corpus
   * side. Match-reporting only (emit pairs, mutate nothing) — the admission
   * half is [[ingestHamming64]]. Semantics equal the batch
   * [[graft.operators.Dedup.hammingPairsRs64Indexed]] row-for-row
   * (StreamingSpec pins stream == batch, hamming values included).
   *
   * Output: [[CorpusSimMatch]] rows, `corpus_id` from the index.
   */
  def hamming64AgainstIndex(stream: DataFrame, corpusIndex: DataFrame, key: String,
                            sigCol: String, maxHamming: Int = 3): Dataset[CorpusSimMatch] = {
    require(maxHamming < 4, "4-band blocking only guarantees recall for hamming <= 3")
    import stream.sparkSession.implicits._
    // the SAME index constructor as the stored side — the lossless bucket
    // encoding is the invariant that makes indexed == direct, so it must
    // exist in exactly one place
    val streamSide = graft.operators.Dedup.hammingIndex64(
      stream.select(col(key).cast("string").as("sid"), col(sigCol)), "sid", sigCol)
    val xor = col("s.simhash").bitwiseXOR(col("c.simhash"))
    streamSide.alias("s")
      .join(corpusIndex.alias("c"),
        col("s.bucket") === col("c.bucket") &&
          !graft.operators.Dedup.earlierSimBandMatches(xor, col("s.band"), 16))
      .select(col("s.id").as("id"), col("c.id").cast("string").as("corpus_id"),
        bit_count(xor).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .as[CorpusSimMatch]
  }

  /** Emitted contamination hit: a streamed doc sharing grams with the
    * benchmark set. */
  final case class Contaminated(id: String, n_shared_grams: Long)

  /**
   * Streaming benchmark decontamination: flag arriving documents that share
   * at least `minShared` distinct word `n`-grams with a STATIC evaluation
   * set — the ingestion-time counterpart of
   * [[graft.operators.Curation.decontaminate]], same gram hashing
   * ([[graft.operators.Curation.gramHashArray]]) so stream and batch verdicts
   * agree doc-for-doc (pinned by StreamingSpec).
   *
   * The benchmark gram set is collected once at plan time and broadcast —
   * benchmarks are thousands of documents, so the set is megabytes even at
   * 100 TB corpus scale, and the per-doc check becomes a stateless map
   * (append-mode composable, no shuffle, no state store): the right shape
   * for a gate that every ingested document must pass.
   */
  def decontaminate(stream: DataFrame, evalSet: DataFrame, key: String,
                    text: String, n: Int = 13, minShared: Int = 1): Dataset[Contaminated] = {
    import stream.sparkSession.implicits._
    val evalGrams: Set[String] = evalSet
      .select(explode(graft.operators.Curation.gramHashArray(col(text), n)).as("gh"))
      .distinct().as[String].collect().toSet
    val bc = stream.sparkSession.sparkContext.broadcast(evalGrams)
    stream
      .select(col(key).cast("string").as("id"),
        graft.operators.Curation.gramHashArray(col(text), n).as("ghs"))
      .as[(String, Seq[String])]
      .map { case (id, ghs) => Contaminated(id, ghs.count(bc.value.contains).toLong) }
      .filter(_.n_shared_grams >= minShared)
  }

  /**
   * Continuous-ingest dedup loop — the streaming END of the production
   * daily-ingest story: wires an ingestion stream into
   * [[graft.operators.Dedup.incrementalKeepIdsIndexed]] (`admitTo` form) so
   * EVERY micro-batch is (1) dropped against the durable corpus index,
   * (2) collapsed within-batch, and (3) its survivors' index rows appended
   * to the same table — batch N+1 automatically sees batch N's admissions
   * with no rebuild, turning the "daily" ingest cadence into whatever
   * trigger interval the stream runs at.
   *
   * [[dedupAgainstIndex]] is the stateless MATCH-REPORTING half (emit pairs,
   * mutate nothing); this is the stateful ADMISSION half, and the state
   * lives in the bucketed table rather than in streaming state-store memory —
   * which is exactly where corpus-scale state must live at 100 TB (a
   * state store holding the corpus' token sets would need the whole corpus
   * in executor memory; the table is just parquet, joined exchange-free on
   * its bucket key each micro-batch).
   *
   * `onBatch(keptIds, batchId)` receives each micro-batch's keep-set (one
   * `key` column, already materialized by the operator's internal lineage
   * cut — see `incrementalKeepIdsIndexed`) — write it to a sink, drive
   * downstream curation, or just count it. Empty micro-batches are skipped
   * entirely (no empty append file-sets piling onto the table).
   *
   * Delivery note: `foreachBatch` replays a micro-batch after a failure, and
   * the bucketed append is not transactional, so admission is AT-LEAST-ONCE:
   * a replayed batch re-joins against its own earlier admissions, every doc
   * self-matches at jaccard 1.0, and the replay admits nothing new and
   * reports an empty keep-set (duplicate index rows from a crash BETWEEN
   * append and checkpoint-commit cost duplicate candidate pairs at read
   * time, never wrong keep semantics — verify is per-pair). Exactly-once
   * keep-set REPORTING therefore needs `onBatch` to be idempotent on
   * `batchId`, the standard foreachBatch contract.
   *
   * Returns the started [[StreamingQuery]]; the caller owns its lifecycle.
   * XxHash64 family only (the durable index layout stores hashes).
   */
  def ingestDedup(stream: DataFrame, indexTable: String, key: String,
                  text: String, tokenizer: graft.operators.Tokenizer,
                  threshold: Double, bands: Int = 16, rowsPerBand: Int = 8,
                  admitBuckets: Int = 8,
                  onBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val kept = graft.operators.Dedup.incrementalKeepIdsIndexed(
            batch.sparkSession.table(indexTable), batch, key, text, tokenizer,
            threshold, bands, rowsPerBand, admitTo = Some(indexTable),
            admitBuckets = admitBuckets)
          onBatch(kept, batchId)
        }
      }
      .start()

  /** The Hamming-side mirror of [[ingestDedup]]: continuous admission
    * against a durable [[graft.operators.Dedup.simHashIndex]] table via
    * [[graft.operators.Dedup.incrementalKeepIdsSimHashIndexed]]. Same
    * state-in-the-table design, same at-least-once admission semantics. */
  def ingestDedupSimHash(stream: DataFrame, indexTable: String, key: String,
                         text: String, tokenizer: graft.operators.Tokenizer,
                         maxHamming: Int = 3, admitBuckets: Int = 8,
                         onBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val kept = graft.operators.Dedup.incrementalKeepIdsSimHashIndexed(
            batch.sparkSession.table(indexTable), batch, key, text, tokenizer,
            maxHamming, admitTo = Some(indexTable), admitBuckets = admitBuckets)
          onBatch(kept, batchId)
        }
      }
      .start()

  /** The GENERIC-SIGNATURE mirror of [[ingestDedup]]: continuous admission
    * of precomputed 64-bit fingerprints (any externally computed signature)
    * against a durable [[graft.operators.Dedup.hammingIndex64]] table via
    * [[graft.operators.Dedup.incrementalKeepIdsHamming64Indexed]]. The
    * stream carries (key, sigCol) rows: compute signatures upstream. Same
    * state-in-the-table design and at-least-once admission semantics as the
    * text families. */
  def ingestHamming64(stream: DataFrame, indexTable: String, key: String,
                      sigCol: String, maxHamming: Int = 3, admitBuckets: Int = 8,
                      onBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val kept = graft.operators.Dedup.incrementalKeepIdsHamming64Indexed(
            batch.sparkSession.table(indexTable), batch, key, sigCol,
            maxHamming, admitTo = Some(indexTable), admitBuckets = admitBuckets)
          onBatch(kept, batchId)
        }
      }
      .start()

  /**
   * Watermarked tumbling-window corpus quality monitor: per (window, lang)
   * doc counts and average quality signals over an ingestion stream. Late
   * rows beyond the watermark are dropped; windows finalize (append mode)
   * once the watermark passes their end.
   */
  /**
   * Watermarked event-time SESSIONIZATION — the streaming twin of the
   * evt_sessionize batch query (same 30-minute-gap rule) and the one
   * stateful event-time surface class the engine didn't previously touch.
   * Built on Catalyst's native `session_window` (gap-merging session state
   * managed by the engine — declarative, no hand-rolled
   * mapGroupsWithState), so sessions MERGE across micro-batches: an event
   * arriving late but INSIDE the watermark extends/merges its session;
   * an event OLDER than the watermark is dropped (the allowed-lateness
   * contract — StreamingSpec pins both sides). In append mode a session
   * finalizes once the watermark passes its end.
   *
   * Output: (user_id, session_start, session_end, n_events). NOTE the
   * session_window convention: session_end = last event time + gap (the
   * half-open window the engine keeps state for), whereas the BATCH
   * evt_sessionize reports session_end = max(ts); equality is therefore
   * stream.end == batch.end + gap, which the spec asserts exactly.
   *
   * Scale shape: state is per (user, open session) — keyed state store
   * entries, not events; the watermark bounds retention, so state size is
   * active-users × open-sessions regardless of stream length.
   */
  def sessionize(stream: DataFrame, timeCol: String, userCol: String,
                 gap: String = "30 minutes",
                 watermarkDelay: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(col(userCol).as("user_id"),
        session_window(col(timeCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  def windowedStats(stream: DataFrame, timeCol: String, text: String,
                    windowDuration: String = "1 minute",
                    watermarkDelay: String = "2 minutes"): DataFrame = {
    val toks = wsTokenSet(col(text))
    stream
      .withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol), col(text),
        size(toks).cast("long").as("n_tokens"),
        length(col(text)).cast("long").as("n_chars"))
      .groupBy(window(col(timeCol), windowDuration))
      .agg(
        count(lit(1)).as("n_docs"),
        avg("n_tokens").as("avg_tokens"),
        avg("n_chars").as("avg_chars"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("avg_tokens"), col("avg_chars"))
  }
}
