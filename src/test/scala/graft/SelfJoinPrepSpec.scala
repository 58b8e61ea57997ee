package graft

import graft.operators._
import org.apache.spark.GraftShuffleJanitor
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import scala.util.Random

/** The self-join's threshold-free prep frames are materialized eagerly and
  * handed to every threshold as cached plan leaves
  * ([[JaccardJoin.prepareSelfDeduped]]). Pins the plan shape, the outputs,
  * the cache lifecycle and the bounded-footprint janitor around them. */
class SelfJoinPrepSpec extends SparkSpec {
  import spark.implicits._

  private val tokenizers = Seq(
    "ws" -> WhitespaceTokenizer(),
    "q2" -> QGramsTokenizer(2),
    "q3" -> QGramsTokenizer(3),
    "delim" -> DelimiterTokenizer(Set(' ', '-')))

  /** Short values over a small vocabulary, a third of them duplicated, some
    * with repeated or differently-cased words. */
  private lazy val table = {
    val rnd = new Random(41)
    val vocab = Vector("ant", "Bee", "cat", "dog", "elk", "fox-gnu", "hen", "ibis", "jay")
    val vals = (1 to 30).map(_ => Seq.fill(2 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" "))
    (1L to 45L).map(i => i -> vals(rnd.nextInt(vals.size))).toDF("id", "val")
  }

  /** Every node of a logical or physical plan, cached plans and AQE stages
    * included. */
  private def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = {
    val inner: Seq[QueryPlan[_]] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    val children: Seq[QueryPlan[_]] = p.children.map(_.asInstanceOf[QueryPlan[_]])
    p +: (children ++ p.innerChildren ++ inner).flatMap(nodes)
  }

  private def cachedRelations(p: QueryPlan[_]): Seq[InMemoryRelation] =
    nodes(p).collect { case r: InMemoryRelation => r }

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("prep frames are leaves carrying their hash partitioning and cache statistics") {
    val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", WhitespaceTokenizer())
    val n = spark.sessionState.conf.numShufflePartitions
    for ((name, frame, key) <- Seq(("vals", prep.vals, None), ("vtkdf", prep.vtkdf, Some("id")),
        ("varr", prep.varr, Some("id")))) {
      val leaf = frame.queryExecution.analyzed match {
        case l: LogicalRDD => l
        case other => fail(s"$name is not a leaf: ${other.nodeName}")
      }
      (leaf.outputPartitioning, key) match {
        case (h: HashPartitioning, Some(k)) =>
          assert(h.numPartitions === n, name)
          assert(h.references.map(_.name).toSeq === Seq(k), name)
          assert(leaf.rdd.getNumPartitions === n, name)
        case (_: HashPartitioning, None) => fail(s"$name claims a partitioning")
        case (other, Some(_)) => fail(s"$name claims $other")
        case _ =>
      }
      assert(leaf.stats.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes, name)
      assert(leaf.stats.rowCount.contains(BigInt(frame.count())), name)
    }
  }

  test("tail and evaluation plans nest no cached prep plan") {
    val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", WhitespaceTokenizer())
    val tail = JaccardJoin.selfJoinDedupedPrepared(prep, 0.3)
    assert(cachedRelations(tail.queryExecution.withCachedData).isEmpty)
    tail.collect()
    assert(cachedRelations(tail.queryExecution.executedPlan).isEmpty)

    // the evaluation reads the persisted pairs: their cached plan is the only
    // one in its plan, and it reads the prep through leaves
    val sj = tail.persist()
    try {
      val truth = Seq((1L, 2L), (3L, 4L)).toDF("l_id", "r_id")
      val eval = Evaluate.countsNormalized(truth, sj)
      eval.collect()
      val rels = cachedRelations(eval.queryExecution.executedPlan)
      assert(rels.nonEmpty)
      assert(rels.map(_.cacheBuilder).distinct.size === 1)
    } finally sj.unpersist(blocking = true)
  }

  for ((name, tok) <- tokenizers; t <- Seq(0.3, 0.8)) {
    test(s"a shared prep's tail == bruteForceSelfDeduped ($name t=$t)") {
      val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", tok)
      val brute = JaccardJoin.bruteForceSelfDeduped(table, "id", "val", tok, t)
      val pairs = unorderedPairSet(JaccardJoin.selfJoinDedupedPrepared(prep, t))
      assert(pairs === unorderedPairSet(brute))
      if (t < 0.5) assert(pairs.nonEmpty)
    }
  }

  test("Api.clearCache releases every cache the prep made") {
    Api.clearCache() // no frame of an earlier prep on this table stays cached
    val before = persistentIds
    val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", WhitespaceTokenizer())
    JaccardJoin.selfJoinDedupedPrepared(prep, 0.3).collect()
    assert((persistentIds -- before).size === 3)
    // an identical prep reuses all three caches
    JaccardJoin.prepareSelfDeduped(table, "id", "val", WhitespaceTokenizer())
    assert((persistentIds -- before).size === 3)
    Api.clearCache()
    assert((persistentIds -- before).isEmpty)
  }

  test("a prep reused after Api.clearCache recomputes the same pairs, uncached") {
    // the leaves keep the released caches' RDDs: they recompute through
    // their lineage on every use and are never cached again
    val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", QGramsTokenizer(3))
    val first = pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.4))
    Api.clearCache()
    val before = persistentIds
    assert(pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.4)) === first)
    assert(pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.4)) === first)
    assert(persistentIds === before)
    assert(first.nonEmpty)
  }

  test("passes > 1 leave the prep's build shuffles registered") {
    val sc = spark.sparkContext
    val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", WhitespaceTokenizer())
    assert(prep.buildShuffles.nonEmpty)
    assert(prep.buildShuffles.subsetOf(GraftShuffleJanitor.shuffleIds(sc)))
    val single = pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.3))
    val multiPass = JaccardJoin.selfJoinDedupedPrepared(prep, 0.3, passes = 3)
    // the passes ran inside the call, and no pass removed a prep shuffle:
    // their files are released, their registrations kept, before any later
    // job could register them again
    assert(prep.buildShuffles.subsetOf(GraftShuffleJanitor.shuffleIds(sc)))
    assert(pairSet(multiPass) === single)
    // so the prep stays usable
    assert(prep.buildShuffles.subsetOf(GraftShuffleJanitor.shuffleIds(sc)))
    assert(pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.3)) === single)
    assert(single.nonEmpty)
  }
}
