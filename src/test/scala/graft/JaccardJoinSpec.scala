package graft

import graft.operators._
import scala.util.Random

/** Golden + differential tests for the join pipelines.
  *
  * The purchases golden replays the reference's eyeballable case
  * (reference exam.ipynb cells 11-12: filtered {(3,5),(6,2)}, brute {(2,6),(3,5)}
  * — same unordered pairs, different orientation because the filtered self-join
  * canonicalizes by the string key concat(len,'_',id)).
  */
class JaccardJoinSpec extends SparkSpec {
  import spark.implicits._

  private val ws = WhitespaceTokenizer()

  private lazy val purchases = spark.read
    .option("header", true).option("inferSchema", true)
    .csv("data/fixtures/purchases.csv")

  test("purchases golden: filtered self-join t=0.5 -> {(3,5),(6,2)} oriented") {
    val out = JaccardJoin.selfJoin(purchases, "id", "purchases", ws, 0.5)
    assert(pairSet(out) === Set((3L, 5L), (6L, 2L)))
  }

  test("purchases golden: brute-force self-join t=0.5 -> {(2,6),(3,5)} oriented") {
    val out = JaccardJoin.bruteForceSelf(purchases, "id", "purchases", ws, 0.5)
    assert(pairSet(out) === Set((2L, 6L), (3L, 5L)))
  }

  private def randomTable(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen",
      "ibis", "jay", "kite", "lark", "mole", "newt", "owl", "pig")
    (1L to n.toLong).map { i =>
      val k = 2 + rnd.nextInt(6)
      i -> Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  for (seed <- Seq(7, 13); t <- Seq(0.3, 0.5, 0.8)) {
    test(s"differential self-join: filtered == brute force (seed=$seed t=$t)") {
      val df = randomTable(seed, 40).toDF("id", "val")
      val filtered = JaccardJoin.selfJoin(df, "id", "val", ws, t)
      val brute = JaccardJoin.bruteForceSelf(df, "id", "val", ws, t)
      assert(unorderedPairSet(filtered) === unorderedPairSet(brute))
      val diff = Evaluate.symmetricDiff(filtered, brute,
        "l_id", "r_id", "l_id", "r_id")
      assert(diff.count() === 0L)
    }
  }

  test("variable-width salting is output-invariant (self + R×S)") {
    // hotTokenDf = 1 marks EVERY token hot; the 16-word vocabulary gives the
    // tokens a spread of vdf values, so the fan-out-proportional widths
    // genuinely differ per token (1×..cap) instead of all hitting the cap
    val df = randomTable(21, 40).toDF("id", "val")
    val plain = JaccardJoin.selfJoinDeduped(df, "id", "val", ws, 0.4,
      saltBuckets = 1)
    val salted = JaccardJoin.selfJoinDeduped(df, "id", "val", ws, 0.4,
      saltBuckets = 2, hotTokenDf = 1, maxSaltBuckets = 16)
    assert(unorderedPairSet(salted) === unorderedPairSet(plain))
    assert(unorderedPairSet(plain).nonEmpty)

    val right = randomTable(22, 30).toDF("id", "val")
    val rsPlain = JaccardJoin.rsJoin(df, "id", "val", right, "id", "val",
      ws, 0.4, saltBuckets = 1)
    val rsSalted = JaccardJoin.rsJoin(df, "id", "val", right, "id", "val",
      ws, 0.4, saltBuckets = 2, hotTokenDf = 1L, maxSaltBuckets = 16)
    assert(unorderedPairSet(rsSalted) === unorderedPairSet(rsPlain))
    assert(unorderedPairSet(rsPlain).nonEmpty)
  }

  test("bounded-footprint passes are output-invariant (self + R×S), multiplicity included") {
    // passes=P partitions the PROBING side by pmod(xxhash64(id), P): every
    // candidate pair's probe id lands in exactly one slice, so the union of
    // the per-pass verified pairs is the single-pass result exactly — the
    // low-threshold regime (t=0.3) is the one the mode exists for
    val df = randomTable(33, 40).toDF("id", "val")
    val single = JaccardJoin.selfJoinDeduped(df, "id", "val", ws, 0.3)
    val multi = JaccardJoin.selfJoinDeduped(df, "id", "val", ws, 0.3, passes = 3)
    assert(multi.count() === single.count(), "pass slices overlapped or dropped pairs")
    assert(unorderedPairSet(multi) === unorderedPairSet(single))
    assert(unorderedPairSet(single).nonEmpty)

    val right = randomTable(34, 30).toDF("id", "val")
    val rsSingle = JaccardJoin.rsJoin(df, "id", "val", right, "id", "val", ws, 0.3)
    val rsMulti = JaccardJoin.rsJoin(df, "id", "val", right, "id", "val", ws, 0.3,
      passes = 4)
    assert(rsMulti.count() === rsSingle.count())
    assert(unorderedPairSet(rsMulti) === unorderedPairSet(rsSingle))
    assert(unorderedPairSet(rsSingle).nonEmpty)
  }

  test("R×S passes > 1: released prep shuffle files rebuild when the cached frames are lost") {
    // once every pass has run, the multi-pass join releases the files of
    // the shuffles that built its persisted token frames; the result must
    // not depend on them, and after the cached blocks are dropped the next
    // join over the same frames must rebuild them through those shuffles
    val sc = spark.sparkContext
    val l = randomTable(35, 40).toDF("id", "val")
    val r = randomTable(36, 30).toDF("id", "val")
    val before = sc.getPersistentRDDs.keySet
    val single = pairSet(JaccardJoin.rsJoin(l, "id", "val", r, "id", "val", ws, 0.3))
    val multi = JaccardJoin.rsJoin(l, "id", "val", r, "id", "val", ws, 0.3, passes = 4)
    assert(pairSet(multi) === single)
    val cached = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.values
    assert(cached.nonEmpty)
    try {
      cached.foreach(_.unpersist(blocking = true))
      assert(pairSet(JaccardJoin.rsJoin(l, "id", "val", r, "id", "val", ws, 0.3)) === single)
      assert(pairSet(multi) === single)
      assert(single.nonEmpty)
    } finally Api.clearCache()
  }

  for (t <- Seq(0.3, 0.5); q <- Seq(2, 3)) {
    test(s"differential self-join qgrams($q) t=$t") {
      val df = randomTable(91, 30).toDF("id", "val")
      val tok = QGramsTokenizer(q)
      assert(unorderedPairSet(JaccardJoin.selfJoin(df, "id", "val", tok, t)) ===
        unorderedPairSet(JaccardJoin.bruteForceSelf(df, "id", "val", tok, t)))
    }
  }

  for (seed <- Seq(3, 17); t <- Seq(0.4, 0.6)) {
    test(s"differential R×S: exactRecall filtered == brute force (seed=$seed t=$t)") {
      val l = randomTable(seed, 30).toDF("lid", "lval")
      val r = randomTable(seed + 100, 20).toDF("rid", "rval")
      val filtered = JaccardJoin.rsJoin(l, "lid", "lval", r, "rid", "rval", ws, t,
        exactRecall = true)
      val brute = JaccardJoin.bruteForceRs(l, "lid", "lval", r, "rid", "rval", ws, t)
      // Index-side selection may swap sides; the reference names the output
      // `{R.outPrefix}{lKeyAttr}, {S.outPrefix}{rKeyAttr}` (jaccard_join.py:391),
      // so the PREFIX tracks which table the ids come from, not the suffix.
      val fCols = filtered.columns.toSet
      assert(fCols === Set("l_lid", "r_rid") || fCols === Set("r_lid", "l_rid"))
      val fPairs = filtered
        .select(filtered.columns.find(_.startsWith("l_")).get,
          filtered.columns.find(_.startsWith("r_")).get)
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      assert(fPairs === pairSet(brute))
    }
  }

  test("R×S parity mode replicates the reference's indexing-prefix recall edge") {
    // Verified against DuckDB running the reference pipeline on this exact data:
    // both drop pair (l=28 len=4, r=2 len=6) at t=0.4 (J=3/7≈0.43 ≥ 0.4) because
    // the witness tokens fall outside the longer side's 2t/(1+t) indexing prefix.
    val l = randomTable(3, 30).toDF("lid", "lval")
    val r = randomTable(103, 20).toDF("rid", "rval")
    val parity = JaccardJoin.rsJoin(l, "lid", "lval", r, "rid", "rval", ws, 0.4)
    val exact = JaccardJoin.rsJoin(l, "lid", "lval", r, "rid", "rval", ws, 0.4,
      exactRecall = true)
    def pairsByPrefix(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select(df.columns.find(_.startsWith("l_")).get, df.columns.find(_.startsWith("r_")).get)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val p = pairsByPrefix(parity)
    val e = pairsByPrefix(exact)
    assert(p.subsetOf(e), "parity mode must never add pairs (verification is exact)")
    assert((e -- p) === Set((28L, 2L)))
  }

  // Value-deduped variants must be output-identical to the record-level pipeline,
  // including orientation, on tables where many records share a join-attr value
  // (ties exercise the string gate `concat(len,'_',id)` across same-value records).
  private def dupHeavyTable(seed: Int, n: Int): Seq[(Long, String)] = {
    val base = randomTable(seed, 12).map(_._2)
    val rnd = new Random(seed * 31)
    (1L to n.toLong).map(i => i -> base(rnd.nextInt(base.size)))
  }

  for (t <- Seq(0.3, 0.5, 0.8)) {
    test(s"selfJoinDeduped == selfJoin on duplicate-heavy data (t=$t)") {
      val df = dupHeavyTable(5, 60).toDF("id", "val")
      val a = JaccardJoin.selfJoin(df, "id", "val", ws, t)
      val b = JaccardJoin.selfJoinDeduped(df, "id", "val", ws, t)
      assert(pairSet(a) === pairSet(b)) // oriented equality, not just unordered
    }
  }

  test("shared SelfJoinPrep across a threshold sweep == per-threshold pipelines") {
    // one tokenize/df/rank pass feeding three thresholds (the eval_sweep
    // path) must match a fresh record-level selfJoin at each threshold
    val df = dupHeavyTable(5, 60).toDF("id", "val")
    val prep = JaccardJoin.prepareSelfDeduped(df, "id", "val", ws)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      assert(pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, t)) ===
        pairSet(JaccardJoin.selfJoin(df, "id", "val", ws, t)), s"t=$t")
    }
  }

  test("bruteForceSelfDeduped == bruteForceSelf on duplicate-heavy data") {
    val df = dupHeavyTable(9, 60).toDF("id", "val")
    for (t <- Seq(0.4, 0.7)) {
      val a = JaccardJoin.bruteForceSelf(df, "id", "val", ws, t)
      val b = JaccardJoin.bruteForceSelfDeduped(df, "id", "val", ws, t)
      assert(pairSet(a) === pairSet(b))
    }
  }

  test("selfJoinDeduped == selfJoin with qgrams on all-unique values") {
    val df = randomTable(21, 40).toDF("id", "val")
    val tok = QGramsTokenizer(3)
    assert(pairSet(JaccardJoin.selfJoin(df, "id", "val", tok, 0.5)) ===
      pairSet(JaccardJoin.selfJoinDeduped(df, "id", "val", tok, 0.5)))
  }

  test("bag semantics: multiset overlap counts duplicate tokens") {
    // sets: {a,b} vs {a,b} J=1; bags: [a,a,b] vs [a,b,b] overlap(count-min)=...
    // reference counts equal (token) row pairs: tokens L x R on token gives
    // 2*1(a)+1*2(b)=4 'overlap' rows for bags -> count>= (3+3)*t/(1+t)
    val df = Seq(1L -> "a a b", 2L -> "a b b").toDF("id", "val")
    val set = JaccardJoin.bruteForceSelf(df, "id", "val", WhitespaceTokenizer(), 0.9)
    assert(pairSet(set) === Set((1L, 2L))) // sets identical -> J=1
    val bag = JaccardJoin.bruteForceSelf(df, "id", "val", WhitespaceTokenizer(returnSet = false), 0.9)
    // bag: cross-match count = 2+2 = 4 >= (3+3)*0.9/1.9 = 2.84 -> still a pair
    assert(pairSet(bag) === Set((1L, 2L)))
    val bagStrict = JaccardJoin.bruteForceSelf(df, "id", "val", WhitespaceTokenizer(returnSet = false), 1.5)
    // (3+3)*1.5/2.5 = 3.6 <= 4 -> pair survives; 2.0 -> (3+3)*2.0/3.0 = 4.0 <= 4 edge
    assert(pairSet(bagStrict) === Set((1L, 2L)))
  }

  test("selfJoinDeduped == selfJoin in BAG mode (multiset pipeline end-to-end)") {
    val df = dupHeavyTable(13, 50).toDF("id", "val")
    val bag = WhitespaceTokenizer(returnSet = false)
    for (t <- Seq(0.5, 0.8)) {
      assert(pairSet(JaccardJoin.selfJoin(df, "id", "val", bag, t)) ===
        pairSet(JaccardJoin.selfJoinDeduped(df, "id", "val", bag, t)))
    }
  }

  test("empty input produces empty output, not a failure") {
    val df = Seq.empty[(Long, String)].toDF("id", "val")
    assert(JaccardJoin.selfJoin(df, "id", "val", ws, 0.5).count() === 0L)
    assert(JaccardJoin.bruteForceSelf(df, "id", "val", ws, 0.5).count() === 0L)
  }
}
