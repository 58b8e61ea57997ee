package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Plan-shape pins for the scale-critical properties the Scaladocs promise:
 * what must broadcast, what must never shuffle, what must reach the scan.
 * These fail loudly if a refactor silently reintroduces an exchange or a
 * nested loop that only shows up at cluster scale.
 */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: DataFrame): String = {
    df.collect() // finalize AQE so the string shows executed stages
    df.queryExecution.executedPlan.toString
  }

  private def embeddings(n: Int): DataFrame =
    (0 until n).map(i =>
      (i.toLong, Array(i.toFloat, (i % 3).toFloat, (i % 5).toFloat, 1f)))
      .toDF("vec_id", "embedding")

  test("IVF: corpus assignment runs with zero corpus-side shuffle") {
    val e = embeddings(40)
    val plan = finalPlan(
      Similarity.topKIvf(e, e.where(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, nCentroids = 4, nProbe = 2))
    // the nearest-centroid argmax is a broadcast fold: partitioning the corpus
    // by centroid id (or record id) before the probe join would be the r3
    // regression — 16x the corpus through an exchange at 100 TB
    assert(!plan.contains("hashpartitioning(cid"), plan)
    assert(!plan.contains("hashpartitioning(id"), plan)
  }

  test("topKIvfIndexed: stored inverted lists scanned in place, probes broadcast") {
    val e = embeddings(60)
    val cents = Similarity.sampleCentroids(e, "vec_id", "embedding", 4)
    graft.sources.Stages.writeBucketed(
      Similarity.ivfIndex(e, "vec_id", "embedding", cents), "graft_ivf_plan_t", "cid", 4)
    graft.sources.Stages.writeBucketed(cents, "graft_ivf_plan_c", "cid", 1)
    val plan = finalPlan(Similarity.topKIvfIndexed(
      spark.table("graft_ivf_plan_t"), spark.table("graft_ivf_plan_c"),
      e.where(col("vec_id") < 3), "vec_id", "embedding", 5, 2))
    // small query batch → probe side broadcasts onto the bucketed lists; the
    // stored index is never re-exchanged to meet the join (the whole point
    // of paying the bucketed write once at build time)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("hashpartitioning(cid"), plan)
    spark.sql("DROP TABLE IF EXISTS graft_ivf_plan_t")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_plan_c")
  }

  test("ANN ranking: bounded top-k aggregate, never a per-query window over the distance stream") {
    // the round-10 scale-killer: row_number() OVER (PARTITION BY query_id)
    // funnels a query's ENTIRE distance stream into one task. All ANN
    // rankings must plan as the DistTopK partial/final aggregate pair
    // (map-side k-capped heaps; the exchange ships only the heaps).
    val e = embeddings(60)
    val q = e.where(col("vec_id") < 3)
    val cents = Similarity.sampleCentroids(e, "vec_id", "embedding", 4)
    val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", 4, 2, 4)
    val plans = Map(
      "topKExact" -> finalPlan(Similarity.topKExact(e, q, "vec_id", "embedding", 5)),
      "topKExactL2" -> finalPlan(Similarity.topKExactL2(e, q, "vec_id", "embedding", 5)),
      "pqTopK" -> finalPlan(Similarity.pqTopK(
        Similarity.pqEncode(e, "vec_id", "embedding", cbs, 4, 2),
        cbs, q, "vec_id", "embedding", 5)),
      "pqTopKIvfIndexed" -> {
        val rcbs = Similarity.pqResidualCodebooks(e, "vec_id", "embedding", cents, 4, 2, 4)
        finalPlan(Similarity.pqTopKIvfIndexed(
          Similarity.pqIvfIndex(e, "vec_id", "embedding", cents, rcbs, 4, 2),
          cents, rcbs, q, "vec_id", "embedding", 5, 2))
      },
      // STRING-keyed corpus: round 11's non-integral keys fell back to the
      // per-query window (the verdict's last scale-killer path); the heap now
      // carries the key as an opaque payload, so this must plan windowless too
      "topKExact(string keys)" -> {
        val se = e.select(concat(lit("doc-"), col("vec_id").cast("string")).as("vec_id"),
          col("embedding"))
        finalPlan(Similarity.topKExact(se, se.limit(3), "vec_id", "embedding", 5))
      })
    plans.foreach { case (name, plan) =>
      // no window PARTITIONED BY query_id anywhere (pqCodebooks keeps a
      // legitimate window over its k sampled rows — bounded index metadata)
      assert(!plan.contains("windowspecdefinition(query_id"),
        s"$name ranks via a per-query window:\n$plan")
      assert(plan.contains("graft_dist_topk"), s"$name missing the top-k aggregate:\n$plan")
      // partial + final: the aggregate must split, or the map side ships raw rows
      assert(plan.contains("partial_graft_dist_topk"),
        s"$name top-k aggregate did not partial-aggregate:\n$plan")
    }
  }

  test("decontaminate: the eval-gram side joins as a broadcast, not a shuffle") {
    val train = (0L until 50L).map(i => (i, s"w$i x$i a b c d e")).toDF("id", "txt")
    val evalSet = Seq(100L -> "a b c d e").toDF("id", "txt")
    val plan = finalPlan(
      Curation.decontaminate(train, evalSet, "id", "txt", n = 3, minShared = 1))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("filtered self-join plans no cartesian or nested-loop join") {
    val df = Seq(1L -> "alpha beta gamma", 2L -> "alpha beta delta",
      3L -> "epsilon zeta eta").toDF("id", "txt")
    val plan = finalPlan(
      JaccardJoin.selfJoinDeduped(df, "id", "txt", WhitespaceTokenizer(), 0.5))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bag-token R×S join plans no cartesian or nested-loop join") {
    // the r15 combination: multiset tokens through the widow/df-product
    // R×S path — the candidate join must stay an equi-join on (rank, salt)
    // exactly as the set form does; bag duplicates change row counts, not
    // the join shape
    val l = Seq(1L -> "alpha beta alpha gamma", 2L -> "alpha beta delta").toDF("id", "txt")
    val r = Seq(10L -> "alpha alpha beta", 11L -> "zeta eta eta").toDF("id", "txt")
    val plan = finalPlan(JaccardJoin.rsJoin(
      l, "id", "txt", r, "id", "txt", WhitespaceTokenizer(returnSet = false), 0.3))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("incremental R×S minhash join: equi-join on buckets, no cartesian") {
    val corpus = (0L until 40L).map(i => (i, s"w$i x$i y$i z$i a b")).toDF("id", "txt")
    val incoming = (100L until 110L).map(i => (i, s"w$i x$i y$i z$i a b")).toDF("id", "txt")
    val plan = finalPlan(Dedup.minHashPairsRs(
      corpus, incoming, "id", "txt", WhitespaceTokenizer(), 0.8))
    // the candidate join must key on the band bucket — an expression that
    // degraded to a non-equi condition would nested-loop the full corpus
    // against every incoming batch
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("lineDedup: first-occurrence selection partial-aggregates before the exchange") {
    // the scale promise in the Scaladoc: a hot boilerplate line collapses
    // map-side (partial_min per input partition) instead of shipping every
    // copy through the shuffle the way a row_number window would
    val docs = (0L until 50L).map(i => (i, s"common boilerplate\nunique $i"))
      .toDF("id", "txt")
    val plan = finalPlan(Curation.lineDedup(docs, "id", "txt"))
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bigramLmScore: model counts partial-aggregate; no cartesian beyond the 1-row vocab") {
    val docs = (0L until 40L).map(i => (i, s"the cat sat on mat $i")).toDF("id", "txt")
    val plan = finalPlan(TextAnalysis.bigramLmScore(docs, "id", "txt"))
    // hot bigrams must collapse map-side before the model shuffle
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop join allowed is the broadcast of the one-row
    // vocabulary scalar — a second one would mean a real join degenerated
    // (AQE's toString repeats the plan under "== Initial Plan ==", so count
    // only the executed section)
    val executed = plan.split("== Initial Plan ==")(0)
    assert(executed.split("BroadcastNestedLoopJoin").length - 1 <= 1, plan)
  }

  test("importanceSample: both models partial-aggregate; only the two 1-row vocab scalars nest-loop") {
    val docs = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) s"the cat sat on mat $i" else s"ze vogel zat op tak $i"))
      .toDF("id", "txt")
    val plan = finalPlan(Curation.importanceSample(docs, "id", "txt",
      col("id") % 2 === 0, 1e9))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // allowed nested loops: exactly the two one-row vocabulary broadcasts
    // (target + proxy); a third would mean a model join degenerated
    val executed = plan.split("== Initial Plan ==")(0)
    assert(executed.split("BroadcastNestedLoopJoin").length - 1 <= 2, plan)
  }

  test("substringDupStats: gram stream is computed once (persisted), df agg partial-aggregates") {
    val docs = (0L until 40L).map(i => (i, s"shared span of words here $i end"))
      .toDF("id", "txt")
    try {
      val plan = finalPlan(Curation.substringDupStats(docs, "id", "txt", n = 3))
      assert(plan.contains("partial_count"), plan)
      // both consumers of the gram stream must read the SAME InMemoryRelation
      // — two separate md5 window-join subtrees would double the dominant cost
      assert(plan.split("InMemoryTableScan").length - 1 >= 2, plan)
      assert(!plan.contains("CartesianProduct"), plan)
    } finally Api.clearCache()
  }

  test("substringDedup: min-struct partial-aggregates, no window, no cartesian, base computed once") {
    // the scale promise: first-occurrence selection is min(struct)+count with
    // map-side partial aggregation (the window row_number form is ONLY the
    // oracle), the token/gram base persists once, and nothing plans a
    // cartesian or a global window
    val docs = (0L until 40L).map(i => (i, s"shared span here $i tail words"))
      .toDF("id", "txt")
    try {
      val plan = finalPlan(Curation.substringDedup(docs, "id", "txt", n = 3))
      assert(plan.contains("partial_min"), plan)
      assert(plan.contains("partial_count"), plan)
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      // grams AND the token rebuild both read the persisted base
      assert(plan.split("InMemoryTableScan").length - 1 >= 2, plan)
    } finally Api.clearCache()
  }

  test("nearMatchesIvfIndexed: stored lists scanned in place, no window, probes broadcast") {
    val e = embeddings(60)
    val cents = Similarity.sampleCentroids(e, "vec_id", "embedding", 4)
    graft.sources.Stages.writeBucketed(
      Similarity.ivfIndex(e, "vec_id", "embedding", cents), "graft_ivfnm_plan_t", "cid", 4)
    val plan = finalPlan(Similarity.nearMatchesIvfIndexed(
      spark.table("graft_ivfnm_plan_t"), cents,
      e.where(col("vec_id") < 3), "vec_id", "embedding", 0.1, 2))
    // the ingestion probe's whole selling point vs topKIvfIndexed: list
    // selection is an array-sort EXPRESSION, not a ranking window (windows
    // would both break append-mode streaming and add a per-query exchange),
    // and the bucketed index never re-exchanges to meet the equi-join
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("hashpartitioning(cid"), plan)
    spark.sql("DROP TABLE IF EXISTS graft_ivfnm_plan_t")
  }

  test("hybridTopK: fusion stays off the corpus — no cartesian, windows only over the bounded pools") {
    val docs = (0L until 60L).map(i => (i, s"alpha w$i x y z pad")).toDF("doc_id", "text")
    val plan = finalPlan(Retrieval.hybridTopK(docs, embeddings(60),
      "doc_id", "text", "vec_id", "embedding", "alpha", 3L, k = 5, poolSize = 10))
    // both towers end in driver-merged top-k heaps; the only acceptable
    // all-to-one structures are those k-bounded sorts and the <= 2*poolSize
    // row fusion — a corpus-wide cartesian or corpus-wide window would be
    // the 100 TB killer
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("range filter reaches the parquet scan as a pushed filter") {
    val dir = java.nio.file.Files.createTempDirectory("planshape").toString + "/t"
    (0L until 1000L).map(i => (i, i * 2.5)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).where(col("k") >= 100 && col("v") > 500.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(k,100)"), plan)
    assert(plan.contains("GreaterThan(v,500.0)"), plan)
  }
}
