package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeMap, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.storage.StorageLevel

/**
 * Partitioning-PRESERVING checkpoint (optimization rounds 15/16).
 *
 * `Dataset.localCheckpoint` rebuilds the frame as a `LogicalRDD` whose
 * partitioning is extracted from the physical plan — but under AQE the
 * physical plan is an `AdaptiveSparkPlanExec` whose `outputPartitioning` is
 * not final at extraction time, so the leaf comes back `UnknownPartitioning`
 * and every later join/aggregation on the checkpointed frame RE-SHUFFLES it
 * (measured: the [[graft.operators.Dedup.clusterIds]] loop re-exchanged the
 * edge list every round; guide §2.4 — two operations keyed the same way
 * should share one exchange).
 *
 * This bridge checkpoints an explicitly hash-repartitioned, within-partition
 * SORTED copy of the frame and constructs the `LogicalRDD` with the TRUE
 * `HashPartitioning` + `SortOrder` metadata:
 *
 *   - `repartition(n, keys)` plans as `REPARTITION_BY_NUM`, which AQE is
 *     forbidden to coalesce, so the materialized RDD has exactly `n`
 *     partitions laid out by `HashPartitioning(keys, n).partitionIdExpression`
 *     — the claimed partitioning is physically exact, never an assertion;
 *   - `sortWithinPartitions(keys)` makes the claimed ascending `SortOrder`
 *     exact the same way (keys are the caller's join/group keys);
 *   - downstream equi-joins/aggregations on `keys` with the session's shuffle
 *     partition count then plan with NO Exchange and NO Sort on this side.
 *
 * Round-16 changes:
 *   - `reliable = true` cuts with `rdd.checkpoint()` against the
 *     SparkContext checkpoint directory instead of `rdd.localCheckpoint()`.
 *     A reliable checkpoint writes one file per partition and reads them
 *     back partition-for-partition, so the repartitioned layout — and
 *     therefore the HashPartitioning/SortOrder claim — survives the cut
 *     EXACTLY as in local mode. Before this, the reliable strategy fell back
 *     to a stock `checkpoint(true)` whose leaf lost its partitioning, so the
 *     flagship CC-loop optimization evaporated at exactly the scale
 *     (1000-executor, checkpoint.reliable=true) it targets.
 *   - the materialized leaf RDD is returned so callers can RELEASE superseded
 *     loop state (`rdd.unpersist`) instead of leaking one localCheckpoint
 *     block set per round per frame (r15 ADVICE).
 *   - `sumLongCol` fuses a Σ(long column) into the forcing action: iterative
 *     convergence witnesses (clusterIds' label sum) then cost ZERO extra jobs
 *     — the materialization pass itself computes the sum (exact BigInteger
 *     accumulation, overflow-free at any scale).
 *   - keys resolve with the session's analyzer resolver (case-insensitive by
 *     default), validated BEFORE the expensive materialization (r15 ADVICE:
 *     the old exact-name find failed after the work was already done).
 *
 * [[cachedLeaf]] builds the same kind of leaf over a persisted frame's
 * cached blocks instead of a checkpoint, through the same builder and
 * exactness guard ([[leafOf]]).
 */
object GraftCheckpointBridge {

  /** A materialized partitioning-preserving cut: the frame to keep using,
    * the leaf RDD (unpersist it when the frame is superseded), and the fused
    * column sum when one was requested. */
  final case class PartitionedCut(df: DataFrame, leaf: RDD[InternalRow],
                                  sum: Option[java.math.BigInteger]) {
    /** Drop the leaf's storage (blocks for a local cut; cached blocks of a
      * reliable cut — its files stay, managed by the checkpoint dir). Safe
      * to call more than once; the frame must not be used afterwards. */
    def release(): Unit = { leaf.unpersist(blocking = false): Unit }
  }

  /** Back-compat entry (round 15 signature): local-mode cut, no fused sum. */
  def localCheckpointHashPartitioned(df: DataFrame, keys: Seq[String],
                                     numPartitions: Int): DataFrame =
    checkpointHashPartitioned(df, keys, numPartitions, reliable = false,
      sumLongCol = None).df

  def checkpointHashPartitioned(df: DataFrame, keys: Seq[String],
                                numPartitions: Int, reliable: Boolean,
                                sumLongCol: Option[String]): PartitionedCut = {
    require(keys.nonEmpty, "need at least one partitioning key")
    val laid = df
      .repartition(numPartitions, keys.map(df.col): _*)
      .sortWithinPartitions(keys.map(df.col): _*)
      .asInstanceOf[classic.Dataset[Row]]
    val qe = laid.queryExecution
    val attrs = qe.analyzed.output
    // resolve with the session's resolver (case-insensitive under the default
    // spark.sql.caseSensitive=false — the same rule df.col() used above), and
    // BEFORE materializing, so a bad key fails fast, not after the work ran
    val resolver = laid.sparkSession.sessionState.analyzer.resolver
    def resolve(name: String) = attrs.find(a => resolver(a.name, name)).getOrElse(
      sys.error(s"checkpointHashPartitioned: no column '$name' in ${attrs.map(_.name)}"))
    val keyAttrs = keys.map(resolve)
    val sumOrdinal = sumLongCol.map { c =>
      val a = resolve(c)
      require(a.dataType == org.apache.spark.sql.types.LongType,
        s"checkpointHashPartitioned: sum column '$c' must be LONG, is ${a.dataType}")
      attrs.indexOf(a)
    }
    // same materialization as Dataset.localCheckpoint(eager = true): copy the
    // reused UnsafeRows, mark for checkpointing, then force with one action.
    // With a sum ordinal the forcing action IS the convergence-witness
    // aggregation (runJob checkpoints marked parents on job completion).
    val rdd = qe.toRdd.map(_.copy())
    if (reliable) rdd.checkpoint() else { rdd.localCheckpoint(): Unit }
    val sum = sumOrdinal match {
      case None =>
        rdd.count(): Unit
        None
      case Some(ord) =>
        val parts = rdd.mapPartitions { it =>
          var acc = java.math.BigInteger.ZERO
          var run = 0L // batch long-range partial sums; spill to BigInteger near overflow
          val half = Long.MaxValue >> 1
          it.foreach { row =>
            if (!row.isNullAt(ord)) {
              val v = row.getLong(ord)
              // run += v is overflow-safe only when both sit in half range
              if (run > half || run < -half || v > half || v < -half) {
                acc = acc.add(java.math.BigInteger.valueOf(run))
                run = v
              } else run += v
            }
          }
          Iterator.single(acc.add(java.math.BigInteger.valueOf(run)))
        }.collect()
        Some(parts.foldLeft(java.math.BigInteger.ZERO)(_.add(_)))
    }
    PartitionedCut(classic.Dataset.ofRows(laid.sparkSession,
      leafOf(laid.sparkSession, attrs, rdd, HashPartitioning(keyAttrs, numPartitions),
        keyAttrs.map(a => SortOrder(a, Ascending)), stats = None)),
      rdd, sum)
  }

  /** A persisted frame, materialized, as a plan LEAF over its cached blocks,
    * plus the ids of the shuffles that built it.
    *
    * A frame read through the cache manager keeps its whole lineage in every
    * plan that uses it: each `InMemoryRelation` carries its cached AQE plan,
    * and a frame built from other cached frames nests theirs. Every query on
    * top re-analyses that lineage, looks it up in the cache manager again and
    * re-renders it into the plan strings AQE rebuilds on each stage update.
    * The leaf reads the same cached blocks and carries only:
    *   - the hash partitioning of the cached plan's final stage when it is
    *     on exactly `keys`, claimed through the same exactness guard as a
    *     checkpoint cut, so a join or aggregation on `keys` adds no exchange.
    *     Pass no keys for a frame that is joined with itself: Spark does not
    *     normalize a leaf's partitioning attributes, so the fresh copy a
    *     self-join makes would never match an earlier cache entry again;
    *   - the cache's measured size and row count as its statistics, so the
    *     planner makes the same broadcast choices as over the cached frame.
    *
    * One cache yields one leaf: asking again for the same cache and keys
    * returns the same plan node, so frames built on it match their own
    * earlier cache entries. The cache stays registered with the cache
    * manager, so `unpersist` on `df` still releases the blocks. A leaf used
    * after that recomputes through the cached RDD's lineage on every use (its
    * shuffles stay registered while the leaf is reachable); it is never
    * re-cached. */
  def cachedLeaf(df: DataFrame, keys: Seq[String]): (DataFrame, Set[Int]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val (rel, physical) = materialized(ds)
    val builder = rel.cacheBuilder
    val buffers = builder.cachedColumnBuffers
    val leaf = leaves.synchronized {
      leaves.filterInPlace { case (_, (b, _)) =>
        !b.sparkContext.isStopped && b.getStorageLevel != StorageLevel.NONE }
      leaves.get((buffers.id, keys)).collect { case (b, l) if b eq buffers => l }.getOrElse {
        val toOut = AttributeMap(rel.cachedPlan.output.zip(rel.output))
        val partitioning = physical.outputPartitioning match {
          case h: HashPartitioning if h.expressions.map {
              case a: Attribute => toOut.get(a).map(_.name)
              case _ => None
            } == keys.map(Some(_)) =>
            h.transform { case a: Attribute => toOut(a) }.asInstanceOf[HashPartitioning]
          case _ => UnknownPartitioning(0)
        }
        val rows = builder.serializer.convertCachedBatchToInternalRow(
          buffers, rel.output, rel.output, ds.sparkSession.sessionState.conf)
        val l = leafOf(ds.sparkSession, rel.output, rows, partitioning, Nil,
          Some(rel.computeStats()))
        leaves((buffers.id, keys)) = (buffers, l)
        l
      }
    }
    (classic.Dataset.ofRows(ds.sparkSession, leaf), shuffleIds(physical))
  }

  /** Ids of the shuffles that built a persisted frame's cache, materializing
    * it first when it is not yet. */
  def buildShuffles(df: DataFrame): Set[Int] =
    shuffleIds(materialized(df.asInstanceOf[classic.Dataset[Row]])._2)

  /** A persisted frame's cached relation, its cache filled, and the cached
    * plan as it executed. */
  private def materialized(ds: classic.Dataset[Row]): (InMemoryRelation, SparkPlan) = {
    val rel = ds.queryExecution.withCachedData match {
      case r: InMemoryRelation => r
      case other => throw new IllegalArgumentException(
        s"frame is not persisted (plan root ${other.nodeName})")
    }
    // one job over the cached RDD, run as a SQL execution like any Dataset
    // action: its tasks see the session's SQL confs, not the defaults
    if (!rel.cacheBuilder.isCachedColumnBuffersLoaded)
      SQLExecution.withNewExecutionId(ds.queryExecution, Some("cachedLeaf")) {
        rel.cacheBuilder.cachedColumnBuffers.count()
      }: Unit
    val physical = rel.cachedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (rel, physical)
  }

  /** The leaf handed out per (cached RDD id, keys); entries of released
    * caches are dropped on the next call. */
  private val leaves = scala.collection.mutable.Map.empty[(Int, Seq[String]), (RDD[_], LogicalRDD)]

  /** Ids of every shuffle an executed plan wrote, broadcast builds included. */
  private def shuffleIds(plan: SparkPlan): Set[Int] =
    (new AdaptiveSparkPlanHelper {}).collectWithSubqueries(plan) {
      case s: ShuffleQueryStageExec => s.shuffle.shuffleId
      case s: ShuffleExchangeLike => s.shuffleId
    }.toSet

  /** The one `LogicalRDD` builder of this bridge. The claimed partitioning
    * must be PHYSICALLY exact: AQE can collapse an empty input to a
    * 0-partition leaf despite REPARTITION_BY_NUM (observed: an empty pair
    * table in the admission loop), and a LogicalRDD claiming n partitions
    * over an RDD with a different count makes a later co-partitioned join
    * zip unequal partition lists and crash. Claim the layout (and ordering)
    * only when the RDD really has its partition count; otherwise fall back
    * to the stock unknown-partitioning leaf (re-shuffling downstream costs
    * a shuffle, never a wrong result). */
  private def leafOf(session: classic.SparkSession, attrs: Seq[Attribute],
                     rdd: RDD[InternalRow], partitioning: Partitioning,
                     ordering: Seq[SortOrder], stats: Option[Statistics]): LogicalRDD = {
    val exact = partitioning.isInstanceOf[HashPartitioning] &&
      rdd.getNumPartitions == partitioning.numPartitions
    LogicalRDD(
      attrs, rdd,
      if (exact) partitioning else UnknownPartitioning(rdd.getNumPartitions),
      if (exact) ordering else Nil,
      isStreaming = false)(session, stats)
  }
}
