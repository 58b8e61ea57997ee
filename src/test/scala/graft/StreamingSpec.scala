package graft

import java.sql.Timestamp

import graft.operators.{Dedup, WhitespaceTokenizer}
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming operators driven through MemoryStream: exact dedup
  * state across micro-batches, LSH-bucketed near-dup detection vs the batch
  * MinHash operator, and watermarked windowed aggregation. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runToTable[T](q: org.apache.spark.sql.Dataset[T], name: String)(
      feed: => Unit): Unit = {
    val query = q.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try { feed; query.processAllAvailable() } finally query.stop()
  }

  test("exactDedup keeps first-seen fingerprint across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(Streaming.exactDedup(stream, "text"), "ex_dedup") {
      in.addData(1L -> "the quick  Fox", 2L -> "other content")
      // batch 2: #3 normalizes to #1's fingerprint (case/space-insensitive)
      in.addData(3L -> "The quick fox", 4L -> "brand new")
    }
    val ids = spark.table("ex_dedup").select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 4L))
  }

  test("nearDupPairs emits cross-batch near-duplicates; agrees with batch MinHash") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta zeta",     // J(1,2) = 4/6
      3L -> "completely different words here",
      4L -> "alpha beta gamma delta epsilon",  // J(1,4) = 1
      5L -> "unrelated content again")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.nearDupPairs(stream, "id", "text", threshold = 0.6), "near_dup") {
      in.addData(docs.take(2): _*)
      in.addData(docs.drop(2): _*)   // pair (1,4) spans micro-batches
    }
    val streamPairs = spark.table("near_dup")
      .select("l_id", "r_id").distinct()
      .as[(String, String)].collect().map { case (l, r) => (l.toLong, r.toLong) }.toSet

    val batchPairs = Dedup.minHashPairs(
        docs.toDF("id", "text"), "id", "text", WhitespaceTokenizer(), 0.6,
        bands = 8, rowsPerBand = 4)
      .select("lid", "rid").as[(Long, Long)].collect().toSet

    // J(1,2)=4/6, J(1,4)=1, J(2,4)=4/6 — all ≥ 0.6
    assert(streamPairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(streamPairs === batchPairs)
  }

  test("batch-stream equivalence: nearDupPairs == minHashPairs on a random corpus") {
    // property form of the test above: an engineered near-dup corpus split
    // across three micro-batches must yield EXACTLY the batch operator's
    // pairs (same ws token sets, same hash family, same threshold operand
    // order), with matching jaccard values per pair.
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 120).map(i => s"w$i")
    val base = (0 until 30).map { i =>
      i.toLong -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val dups = (0 until 20).map { i =>
      val (_, text) = base(rnd.nextInt(30))
      val words = text.split(" ")
      words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
      (1000L + i) -> words.distinct.mkString(" ")
    }
    val docs = base ++ dups
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.nearDupPairs(stream, "id", "text", threshold = 0.8), "near_dup_prop") {
      docs.grouped(17).foreach(chunk => in.addData(chunk: _*))
    }
    // the stream orients pairs by STRING id, batch by the key's own type —
    // normalize both to (min, max) numeric orientation before comparing
    def norm(l: Long, r: Long): (Long, Long) = if (l <= r) (l, r) else (r, l)
    val streamPairs = spark.table("near_dup_prop")
      .select("l_id", "r_id", "jaccard").distinct()
      .as[(String, String, Double)].collect()
      .map { case (l, r, j) => (norm(l.toLong, r.toLong), j) }.toMap
    val batchPairs = Dedup.minHashPairs(
        docs.toDF("id", "text"), "id", "text", WhitespaceTokenizer(), 0.8,
        bands = 8, rowsPerBand = 4)
      .select("lid", "rid", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (l, r, j) => (norm(l, r), j) }.toMap
    assert(streamPairs.nonEmpty, "corpus must contain engineered near-dups")
    assert(streamPairs === batchPairs)
  }

  test("windowedStats: tumbling windows with watermark finalize in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val stream = in.toDF().toDF("ts", "text")
    val t0 = Timestamp.valueOf("2026-01-01 00:00:05")
    val t1 = Timestamp.valueOf("2026-01-01 00:00:30")
    val late = Timestamp.valueOf("2026-01-01 00:05:00") // advances watermark past w0
    runToTable(Streaming.windowedStats(stream, "ts", "text",
        windowDuration = "1 minute", watermarkDelay = "1 minute"), "win_stats") {
      in.addData(t0 -> "one two three", t1 -> "four five")
      in.addData(late -> "much later doc")
    }
    val rows = spark.table("win_stats")
      .select("window_start", "n_docs", "avg_tokens").collect()
    // only the first window is finalized (watermark = 00:05 - 1m = 00:04 > 00:01)
    assert(rows.length === 1)
    assert(rows(0).getLong(1) === 2L)
    assert(rows(0).getDouble(2) === 2.5d)
  }

  test("windowedStats: finalized windows equal the batch window aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val stream = in.toDF().toDF("ts", "text")
    // three 1-minute windows of uneven sizes, delivered across two
    // micro-batches, plus a far-future sentinel that advances the watermark
    // past all three so append mode finalizes them
    val docs = Seq(
      Timestamp.valueOf("2026-01-01 00:00:05") -> "one two three",
      Timestamp.valueOf("2026-01-01 00:00:40") -> "four",
      Timestamp.valueOf("2026-01-01 00:01:10") -> "five six seven eight",
      Timestamp.valueOf("2026-01-01 00:02:02") -> "nine ten",
      Timestamp.valueOf("2026-01-01 00:02:59") -> "eleven")
    val sentinel = Timestamp.valueOf("2026-01-01 00:30:00") -> "sentinel"
    runToTable(Streaming.windowedStats(stream, "ts", "text",
        windowDuration = "1 minute", watermarkDelay = "1 minute"), "win_batch_eq") {
      in.addData(docs.take(2): _*)
      in.addData(docs.drop(2): _*)
      in.addData(sentinel)
    }
    def asTuples(df: org.apache.spark.sql.DataFrame) = df
      .select("window_start", "window_end", "n_docs", "avg_tokens", "avg_chars")
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val streamed = asTuples(spark.table("win_batch_eq"))
    // batch twin: the same expressions as a plain groupBy(window) over the
    // SAME rows (sentinel excluded — its window never finalizes upstream)
    val batch = asTuples(docs.toDF("ts", "text")
      .select(col("ts"), col("text"),
        size(array_distinct(filter(split(lower(col("text")), "[\t\n\r ]"),
          x => trim(x) =!= ""))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n_docs"), avg("n_tokens").as("avg_tokens"),
        avg("n_chars").as("avg_chars"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("avg_tokens"), col("avg_chars")))
    assert(streamed.map(_._1).size === 3)
    assert(streamed === batch)
  }

  test("sessionize: late-inside-watermark merges, beyond-watermark drops, sessions finalize") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val stream = in.toDF().toDF("user_id", "ts")
    def t(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
    // each addData must be its OWN micro-batch so the watermark advances
    // between them (runToTable would coalesce the feed into one batch and
    // no row would ever be late) — step the query explicitly
    val query = Streaming.sessionize(stream, "ts", "user_id",
        gap = "30 minutes", watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      def step(data: (Long, Timestamp)*): Unit = {
        in.addData(data: _*); query.processAllAvailable()
      }
      step(1L -> t("00:00:00"), 1L -> t("00:05:00")) // wm -> 00:03
      // 00:10 is BEHIND the batch-1 max but INSIDE the watermark: must MERGE
      step(1L -> t("00:10:00"))                      // wm -> 00:08
      // advance the watermark far past user 1's session -> it finalizes
      step(2L -> t("02:00:00"))                      // wm -> 01:58
      // 00:20 is OLDER than the watermark: allowed-lateness exceeded -> DROP
      step(1L -> t("00:20:00"), 2L -> t("02:05:00")) // wm -> 02:03
      step(3L -> t("05:00:00"))                      // flush user 2
    } finally query.stop()
    val rows = spark.table("sess_late")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(rows === Set(
      // user 1: THREE events (00:00, 00:05, the merged 00:10 — NOT the
      // dropped 00:20); session_end = last event + gap
      (1L, t("00:00:00"), t("00:40:00"), 3L),
      (2L, t("02:00:00"), t("02:35:00"), 2L)))
  }

  test("sessionize: finalized sessions equal the batch 30-min-gap sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val stream = in.toDF().toDF("user_id", "ts")
    def t(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
    // three users, in-order event times, session gaps straddling 30 min
    val events = Seq(
      1L -> t("00:00:00"), 2L -> t("00:01:00"), 1L -> t("00:14:00"),
      3L -> t("00:20:00"), 1L -> t("00:50:00"), // >30m after 00:14 -> new session
      2L -> t("00:29:00"), 2L -> t("00:58:00"), // 28m/29m gaps -> SAME session
      3L -> t("01:10:00"))                      // 50m gap -> new session
    val query = Streaming.sessionize(stream, "ts", "user_id",
        gap = "30 minutes", watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode("append").start()
    try {
      in.addData(events.take(4): _*); query.processAllAvailable()
      in.addData(events.drop(4): _*); query.processAllAvailable()
      in.addData(9L -> t("09:00:00")) // sentinel: flush every real session
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("sess_eq")
      .where(col("user_id") =!= 9L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    // batch twin: the evt_sessionize lag/gap window form over the same rows,
    // with session_end mapped to the session_window convention (+ gap)
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val batch = events.toDF("user_id", "ts")
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (col("ts").cast("long") - col("prev_ts").cast("long")) > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("session_start"),
        (max("ts").cast("long") + 1800L).cast("timestamp").as("session_end"),
        count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4))).toSet
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("decontaminate flags streamed docs against the static eval set; agrees with batch") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      1L -> "a b c d e f g h",     // shares 5-grams with the eval doc
      2L -> "z y x w v u t s",     // disjoint
      3L -> "q b c d e f q q q")   // one shared 5-gram, shifted
    val evalSet = Seq(10L -> "b c d e f").toDF("id", "text")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.decontaminate(stream, evalSet, "id", "text", n = 5), "decontam") {
      in.addData(train.take(1): _*)
      in.addData(train.drop(1): _*)   // state-free: batches don't interact
    }
    val streamHits = spark.table("decontam")
      .as[(String, Long)].collect().map { case (i, c) => (i.toLong, c) }.toMap

    val batchHits = graft.operators.Curation.decontaminate(
        train.toDF("id", "text"), evalSet, "id", "text", n = 5, minShared = 1)
      .as[(Long, Long)].collect().toMap

    assert(streamHits === batchHits)
    assert(streamHits === Map(1L -> 1L, 3L -> 1L))
  }

  test("dedupAgainstCorpus: stream-static matches agree with batch minHashPairsRs") {
    // engineered corpus + an incoming stream that is half near-dups of it,
    // half fresh; stream verdicts (pairs AND jaccard values) must equal the
    // batch R×S operator's on the same docs
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 120).map(i => s"w$i")
    val corpusDocs = (0 until 30).map { i =>
      i.toLong -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val incoming = (0 until 16).map { i =>
      if (i % 2 == 0) {
        val (_, text) = corpusDocs(rnd.nextInt(30))
        val words = text.split(" ")
        words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
        (1000L + i) -> words.distinct.mkString(" ")
      } else
        (1000L + i) -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val corpusDf = corpusDocs.toDF("id", "text")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.dedupAgainstCorpus(stream, corpusDf, "id", "text", 0.8), "vs_corpus") {
      incoming.grouped(7).foreach(chunk => in.addData(chunk: _*))
    }
    val streamPairs = spark.table("vs_corpus")
      .as[(String, String, Double)].collect()
      .map { case (sid, cid, j) => ((cid.toLong, sid.toLong), j) }.toMap

    val batchPairs = Dedup.minHashPairsRs(
        corpusDf, incoming.toDF("id", "text"), "id", "text",
        WhitespaceTokenizer(), 0.8, bands = 8, rowsPerBand = 4)
      .select("lid", "rid", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (l, r, j) => ((l, r), j) }.toMap

    assert(streamPairs.nonEmpty, "incoming must contain engineered corpus near-dups")
    assert(streamPairs === batchPairs)

    // exactly-once: no duplicate (id, corpus_id) rows despite multi-band hits
    val dupes = spark.table("vs_corpus").groupBy("id", "corpus_id").count()
      .where($"count" > 1).collect()
    assert(dupes.isEmpty, s"duplicate emissions: ${dupes.take(3).mkString}")
  }

  test("dedupAgainstIndex: stream vs durable index agrees with batch minHashPairsRsIndexed") {
    // the corpus is banded ONCE into the minHashIndex layout; the stream
    // joins the prebuilt index per micro-batch. Verdicts (pairs AND jaccard)
    // must equal the batch indexed R×S operator's on the same docs.
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 120).map(i => s"w$i")
    val corpusDocs = (0 until 30).map { i =>
      i.toLong -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val incoming = (0 until 16).map { i =>
      if (i % 2 == 0) {
        val (_, text) = corpusDocs(rnd.nextInt(30))
        val words = text.split(" ")
        words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
        (1000L + i) -> words.distinct.mkString(" ")
      } else
        (1000L + i) -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val corpusDf = corpusDocs.toDF("id", "text")
    val index = Dedup.minHashIndex(corpusDf, "id", "text",
      WhitespaceTokenizer(), bands = 8, rowsPerBand = 4).persist()
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.dedupAgainstIndex(stream, index, "id", "text", 0.8,
        bands = 8, rowsPerBand = 4), "vs_index") {
      incoming.grouped(7).foreach(chunk => in.addData(chunk: _*))
    }
    val streamPairs = spark.table("vs_index")
      .as[(String, String, Double)].collect()
      .map { case (sid, cid, j) => ((cid.toLong, sid.toLong), j) }.toMap

    val batchPairs = Dedup.minHashPairsRsIndexed(
        index, incoming.toDF("id", "text"), "id", "text",
        WhitespaceTokenizer(), 0.8, bands = 8, rowsPerBand = 4)
      .select("lid", "rid", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (l, r, j) => ((l, r), j) }.toMap
    index.unpersist()

    assert(streamPairs.nonEmpty, "incoming must contain engineered corpus near-dups")
    assert(streamPairs === batchPairs)

    // exactly-once despite multi-band collisions
    val dupes = spark.table("vs_index").groupBy("id", "corpus_id").count()
      .where($"count" > 1).collect()
    assert(dupes.isEmpty, s"duplicate emissions: ${dupes.take(3).mkString}")
  }

  test("dedupAgainstCorpus: empty/whitespace-only docs emit nothing (stream == batch)") {
    // a token-less doc has an all-null MinHash signature whose band slices
    // hash identically on both sides; before the zero-token filter this
    // produced a 0>=0 overlap pass and a null jaccard that crashed the
    // Dataset[CorpusMatch] deserializer (and diverged from batch, which drops
    // such docs at token explosion)
    implicit val sqlCtx = spark.sqlContext
    val corpusDf = Seq(
      1L -> "alpha beta gamma delta",
      2L -> "",            // token-less corpus doc
      3L -> "   \t  ").toDF("id", "text") // whitespace-only corpus doc
    val incoming = Seq(
      100L -> "alpha beta gamma delta", // true near-dup of corpus doc 1
      101L -> "",
      102L -> "  ",
      103L -> "zeta eta theta iota")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.dedupAgainstCorpus(stream, corpusDf, "id", "text", 0.8), "vs_corpus_empty") {
      in.addData(incoming: _*)
    }
    val streamPairs = spark.table("vs_corpus_empty")
      .as[(String, String, Double)].collect()
      .map { case (sid, cid, j) => ((cid.toLong, sid.toLong), j) }.toMap
    val batchPairs = Dedup.minHashPairsRs(
        corpusDf, incoming.toDF("id", "text"), "id", "text",
        WhitespaceTokenizer(), 0.8, bands = 8, rowsPerBand = 4)
      .select("lid", "rid", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (l, r, j) => ((l, r), j) }.toMap
    assert(streamPairs === batchPairs)
    assert(streamPairs.keySet === Set((1L, 100L)), "only the real near-dup pair survives")
    assert(!streamPairs.keys.exists { case (l, r) =>
      Set(2L, 3L)(l) || Set(101L, 102L)(r) }, "token-less docs never pair")
  }

  test("simHashAgainstCorpus: stream-static Hamming matches == batch simHashPairsRs") {
    // identical and near-identical cross-side docs plus token-less docs on
    // both sides; stream verdicts (pairs AND hamming values) must equal the
    // batch R×S operator's, exactly-once despite all-band collisions
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 150).map(i => s"w$i")
    val corpusDocs = (0 until 25).map { i =>
      i.toLong -> Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    } ++ Seq(500L -> "", 501L -> "   ")
    val incoming = (0 until 12).map { i =>
      if (i % 3 == 0) {
        val (_, text) = corpusDocs(rnd.nextInt(25))
        (2000L + i) -> text // identical: hamming 0, collides in all 4 bands
      } else if (i % 3 == 1) {
        val (_, text) = corpusDocs(rnd.nextInt(25))
        val words = text.split(" ")
        words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
        (2000L + i) -> words.distinct.mkString(" ")
      } else
        (2000L + i) -> Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    } ++ Seq(2100L -> "", 2101L -> "\t ")
    val corpusDf = corpusDocs.toDF("id", "text")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.simHashAgainstCorpus(stream, corpusDf, "id", "text", 3), "sim_vs_corpus") {
      incoming.grouped(5).foreach(chunk => in.addData(chunk: _*))
    }
    val streamPairs = spark.table("sim_vs_corpus")
      .as[(String, String, Int)].collect()
      .map { case (sid, cid, h) => ((cid.toLong, sid.toLong), h) }.toMap
    val batchPairs = Dedup.simHashPairsRs(
        corpusDf, incoming.toDF("id", "text"), "id", "text",
        WhitespaceTokenizer(), 3)
      .select("lid", "rid", "hamming").as[(Long, Long, Int)].collect()
      .map { case (l, r, h) => ((l, r), h) }.toMap
    assert(streamPairs.nonEmpty, "incoming must contain engineered corpus near-dups")
    assert(streamPairs === batchPairs)
    assert(streamPairs.exists(_._2 == 0), "identical cross-side copies must appear")
    val dupes = spark.table("sim_vs_corpus").groupBy("id", "corpus_id").count()
      .where($"count" > 1).collect()
    assert(dupes.isEmpty, s"duplicate emissions: ${dupes.take(3).mkString}")
  }

  test("simHashAgainstIndex: stream vs durable simhash index == batch simHashPairsRsIndexed") {
    // the Hamming-side mirror of the dedupAgainstIndex pin: the corpus is
    // banded ONCE into the simHashIndex layout; stream verdicts (pairs AND
    // hamming values) must equal the batch indexed operator's on the same
    // docs, exactly-once despite identical docs colliding in all 4 bands
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(61)
    val vocab = (0 until 150).map(i => s"w$i")
    val corpusDocs = (0 until 25).map { i =>
      i.toLong -> Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }
    val incoming = (0 until 12).map { i =>
      if (i % 3 == 0) {
        val (_, text) = corpusDocs(rnd.nextInt(25))
        (3000L + i) -> text // identical: hamming 0, collides in all 4 bands
      } else if (i % 3 == 1) {
        val (_, text) = corpusDocs(rnd.nextInt(25))
        val words = text.split(" ")
        words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
        (3000L + i) -> words.distinct.mkString(" ")
      } else
        (3000L + i) -> Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    } ++ Seq(3100L -> "", 3101L -> "\t ")
    val corpusDf = corpusDocs.toDF("id", "text")
    val index = Dedup.simHashIndex(corpusDf, "id", "text", WhitespaceTokenizer())
      .persist()
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("id", "text")
    runToTable(
      Streaming.simHashAgainstIndex(stream, index, "id", "text", 3), "sim_vs_index") {
      incoming.grouped(5).foreach(chunk => in.addData(chunk: _*))
    }
    val streamPairs = spark.table("sim_vs_index")
      .as[(String, String, Int)].collect()
      .map { case (sid, cid, h) => ((cid.toLong, sid.toLong), h) }.toMap
    val batchPairs = Dedup.simHashPairsRsIndexed(
        index, incoming.toDF("id", "text"), "id", "text",
        WhitespaceTokenizer(), 3)
      .select("lid", "rid", "hamming").as[(Long, Long, Int)].collect()
      .map { case (l, r, h) => ((l, r), h) }.toMap
    index.unpersist()
    assert(streamPairs.nonEmpty, "incoming must contain engineered corpus near-dups")
    assert(streamPairs === batchPairs)
    assert(streamPairs.exists(_._2 == 0), "identical cross-side copies must appear")
    val dupes = spark.table("sim_vs_index").groupBy("id", "corpus_id").count()
      .where($"count" > 1).collect()
    assert(dupes.isEmpty, s"duplicate emissions: ${dupes.take(3).mkString}")
  }

  test("hamming64AgainstIndex: stream vs durable generic-sig index == batch hammingPairsRs64Indexed") {
    // the generic-signature mirror of the simHashAgainstIndex pin, over
    // precomputed 64-bit fingerprints with ENGINEERED Hamming relations
    implicit val sqlCtx = spark.sqlContext
    val corpusSigs = (0L until 25L).map(i => (i, sigMix(i)))
    val incoming = (0 until 12).map { i =>
      if (i % 3 == 0) (3000L + i) -> sigMix(i % 25L)                      // hamming 0
      else if (i % 3 == 1) (3000L + i) -> (sigMix(i % 25L) ^ (1L << (i % 64)) ^ (1L << ((i + 31) % 64))) // hamming 2
      else (3000L + i) -> sigMix(500L + i)                                // unrelated
    }
    val index = Dedup.hammingIndex64(corpusSigs.toDF("id", "whash"), "id", "whash")
      .persist()
    val in = MemoryStream[(Long, Long)]
    val stream = in.toDF().toDF("id", "whash")
    runToTable(
      Streaming.hamming64AgainstIndex(stream, index, "id", "whash", 3), "h64_vs_index") {
      incoming.grouped(5).foreach(chunk => in.addData(chunk: _*))
    }
    val streamPairs = spark.table("h64_vs_index")
      .as[(String, String, Int)].collect()
      .map { case (sid, cid, h) => ((cid.toLong, sid.toLong), h) }.toMap
    val batchPairs = Dedup.hammingPairsRs64Indexed(
        index, incoming.toDF("id", "whash"), "id", "whash", 3)
      .select("lid", "rid", "hamming").as[(Long, Long, Int)].collect()
      .map { case (l, r, h) => ((l, r), h) }.toMap
    index.unpersist()
    assert(streamPairs.nonEmpty, "incoming must contain engineered corpus near-dups")
    assert(streamPairs === batchPairs)
    assert(streamPairs.exists(_._2 == 0), "identical cross-side copies must appear")
    assert(streamPairs.exists(_._2 == 2), "hamming-2 near-misses must appear")
    val dupes = spark.table("h64_vs_index").groupBy("id", "corpus_id").count()
      .where($"count" > 1).collect()
    assert(dupes.isEmpty, s"duplicate emissions: ${dupes.take(3).mkString}")
  }

  // shared fixture for the ingest-loop tests — the StagesSpec multi-day
  // design: every probe is an IDENTICAL copy (jaccard 1.0 / hamming 0), so
  // expected keep-sets do not depend on LSH recall luck, and day d's
  // "prior-admission" probe proves micro-batch d sees micro-batch d-1's
  // admissions through the mutated table
  private def ingestCorpus0 =
    (0L until 30L).map(i => (i, s"a b c d w$i x$i y$i")).toDF("id", "text")
  private def ingestFreshDoc(d: Int) =
    s"fresh$d f$d g$d h$d i$d j$d k$d l$d m$d n$d"
  private def ingestDayBatch(d: Int): Seq[(Long, String)] = Seq(
    (1000L * d + 0) -> s"a b c d w$d x$d y$d",  // identical to corpus doc d
    (1000L * d + 1) -> ingestFreshDoc(d - 1),    // identical to day d-1 admission (fresh on day 1)
    (1000L * d + 2) -> s"batchdup$d n$d o$d p$d q$d r$d s$d t$d u$d", // family {2,3} -> keep 2
    (1000L * d + 3) -> s"batchdup$d n$d o$d p$d q$d r$d s$d t$d u$d",
    (1000L * d + 4) -> ingestFreshDoc(d))        // fresh -> admitted
  private def ingestExpectedKeep(d: Int): Set[Long] =
    Set(1000L * d + 2, 1000L * d + 4) ++ (if (d == 1) Set(1001L) else Set.empty[Long])

  test("ingestDedup: continuous admission loop — each micro-batch sees prior admissions") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Stages
    val ws = WhitespaceTokenizer()
    try {
      Stages.writeBucketed(
        Dedup.minHashIndex(ingestCorpus0, "id", "text", ws, bands = 8, rowsPerBand = 4),
        "graft_si_mh", "bucket", 8)
      val keeps = scala.collection.mutable.Map[Long, Set[Long]]()
      val in = MemoryStream[(Long, String)]
      val q = Streaming.ingestDedup(in.toDF().toDF("id", "text"), "graft_si_mh",
        "id", "text", ws, 0.7, bands = 8, rowsPerBand = 4,
        onBatch = (kept, bid) => keeps(bid) = kept.collect().map(_.getLong(0)).toSet)
      try {
        for (d <- 1 to 3) { in.addData(ingestDayBatch(d): _*); q.processAllAvailable() }
      } finally q.stop()
      assert(keeps.keySet === Set(0L, 1L, 2L), "one keep-set per micro-batch day")
      for (d <- 1 to 3)
        assert(keeps(d - 1L) === ingestExpectedKeep(d), s"day $d keep-set")
      // the table accumulated exactly corpus + admissions
      val ids = spark.table("graft_si_mh").select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      val expected = (0L until 30L).toSet ++ (1 to 3).flatMap(ingestExpectedKeep)
      assert(ids === expected, "index after 3 micro-batches = corpus + admissions")
    } finally spark.sql("DROP TABLE IF EXISTS graft_si_mh")
  }

  // 64-bit signature fixtures for the generic-Hamming admission loop:
  // splitmix-mixed longs are pairwise far apart (P[hamming<=3] per pair
  // ~ 4e4/2^64), so relatedness is ENGINEERED via explicit bit flips —
  // near-misses inside the <=3 radius, not just exact copies
  private def sigMix(i: Long): Long = {
    var z = i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def sigCorpus0 = (0L until 30L).map(i => (i, sigMix(i))).toDF("id", "whash")
  private def sigDayBatch(d: Int): Seq[(Long, Long)] = Seq(
    (1000L * d + 0) -> (sigMix(d) ^ 1L),          // hamming 1 from corpus sig d -> dropped
    (1000L * d + 1) -> sigMix(100L + (d - 1)),    // == day d-1 admission (fresh on day 1)
    (1000L * d + 2) -> sigMix(200L + d),          // family {2,3} at hamming 3 -> keep min id
    (1000L * d + 3) -> (sigMix(200L + d) ^ ((1L << 7) | (1L << 23) | (1L << 42))),
    (1000L * d + 4) -> sigMix(100L + d))          // fresh -> admitted
  private def sigExpectedKeep(d: Int): Set[Long] =
    Set(1000L * d + 2, 1000L * d + 4) ++ (if (d == 1) Set(1001L) else Set.empty[Long])

  test("ingestHamming64: generic-signature admission loop across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Stages
    try {
      Stages.writeBucketed(
        Dedup.hammingIndex64(sigCorpus0, "id", "whash"),
        "graft_si_h64", "bucket", 8)
      val keeps = scala.collection.mutable.Map[Long, Set[Long]]()
      val in = MemoryStream[(Long, Long)]
      val q = Streaming.ingestHamming64(in.toDF().toDF("id", "whash"), "graft_si_h64",
        "id", "whash", 3,
        onBatch = (kept, bid) => keeps(bid) = kept.collect().map(_.getLong(0)).toSet)
      try {
        for (d <- 1 to 3) { in.addData(sigDayBatch(d): _*); q.processAllAvailable() }
      } finally q.stop()
      assert(keeps.keySet === Set(0L, 1L, 2L), "one keep-set per micro-batch day")
      for (d <- 1 to 3)
        assert(keeps(d - 1L) === sigExpectedKeep(d), s"day $d keep-set")
      val ids = spark.table("graft_si_h64").select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      val expected = (0L until 30L).toSet ++ (1 to 3).flatMap(sigExpectedKeep)
      assert(ids === expected, "index after 3 micro-batches = corpus + admissions")
    } finally spark.sql("DROP TABLE IF EXISTS graft_si_h64")
  }

  test("ingestDedupSimHash: Hamming-side admission loop across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Stages
    val ws = WhitespaceTokenizer()
    try {
      Stages.writeBucketed(
        Dedup.simHashIndex(ingestCorpus0, "id", "text", ws),
        "graft_si_sh", "bucket", 8)
      val keeps = scala.collection.mutable.Map[Long, Set[Long]]()
      val in = MemoryStream[(Long, String)]
      val q = Streaming.ingestDedupSimHash(in.toDF().toDF("id", "text"), "graft_si_sh",
        "id", "text", ws, 3,
        onBatch = (kept, bid) => keeps(bid) = kept.collect().map(_.getLong(0)).toSet)
      try {
        for (d <- 1 to 3) { in.addData(ingestDayBatch(d): _*); q.processAllAvailable() }
      } finally q.stop()
      assert(keeps.keySet === Set(0L, 1L, 2L), "one keep-set per micro-batch day")
      for (d <- 1 to 3)
        assert(keeps(d - 1L) === ingestExpectedKeep(d), s"day $d keep-set")
      val ids = spark.table("graft_si_sh").select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      val expected = (0L until 30L).toSet ++ (1 to 3).flatMap(ingestExpectedKeep)
      assert(ids === expected, "index after 3 micro-batches = corpus + admissions")
    } finally spark.sql("DROP TABLE IF EXISTS graft_si_sh")
  }
}
