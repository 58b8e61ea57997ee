package graft

import graft.operators.{Checkpoints, Dedup}
import java.nio.file.Files

/**
 * Reliable-checkpoint strategy tests: the iterative loops must produce the
 * SAME labels whether lineage is cut with `localCheckpoint` (local default)
 * or cluster-durable `.checkpoint()` (`spark.graft.checkpoint.reliable`).
 */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with reliable checkpointing against a temp checkpoint dir,
    * restoring conf + checkpoint dir afterwards (the session is shared). */
  private def withReliable[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try body
    finally {
      spark.conf.unset(Checkpoints.ReliableKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  // two chains (1-2-3-4) (10-11) and a singleton edge (20-20)
  private def pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L)).toDF("l", "r")

  private val expected =
    Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))

  private def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clusterIds: identical labels under local and reliable checkpointing") {
    val local = labels(Dedup.clusterIds(pairs, "l", "r"))
    assert(local === expected)
    val reliable = withReliable(labels(Dedup.clusterIds(pairs, "l", "r")))
    assert(reliable === expected)
  }

  test("clusterIds after Api.clearCache: a local cut cannot be re-collected, a reliable one can") {
    // the final labels leaf is tracked, so clearCache drops its blocks; a
    // localCheckpoint leaf has no lineage to recompute from
    val local = Dedup.clusterIds(pairs, "l", "r")
    assert(labels(local) === expected)
    Api.clearCache()
    val e = intercept[org.apache.spark.SparkException](local.collect())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
    // a reliable cut reads its checkpoint files back
    val reliable = withReliable {
      val r = Dedup.clusterIds(pairs, "l", "r")
      assert(labels(r) === expected)
      Api.clearCache()
      labels(r)
    }
    assert(reliable === expected)
  }

  test("reliable mode writes checkpoint files to the configured dir") {
    withReliable {
      val cut = Checkpoints.cut(Seq(1, 2, 3).toDF("x"))
      assert(cut.count() === 3)
      // a reliable checkpoint is a ReliableCheckpointRDD backed by files
      // under the checkpoint dir; localCheckpoint would leave isCheckpointed
      // false on the underlying RDD's reliable flag
      assert(cut.rdd.toDebugString.contains("ReliableCheckpointRDD")
        || cut.queryExecution.toRdd.toDebugString.contains("ReliableCheckpointRDD"))
    }
  }

  test("releaseFiles: evicting a prep frame after release still recomputes correctly") {
    // the janitor's recovery story for the passes mode's PREP shuffles:
    // releaseFiles drops the files but KEEPS the registration, so a
    // cache-evicted consumer that reaches the shuffle finds it
    // registered-but-empty and the scheduler resubmits the parent map stage
    // (r14 advice: the fallback path had no direct test)
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    val (prep, ids) = org.apache.spark.GraftShuffleJanitor.runScoped(
      sc, "janitor-evict-test") {
      val f = spark.range(0, 10000).toDF("id")
        .groupBy((col("id") % 100).as("k")).agg(sum("id").as("s"))
        .persist()
      f.count() // materialize cache + the build shuffle
      f
    }
    assert(ids.nonEmpty, "the scoped groupBy registered no shuffle")
    val expected = prep.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    org.apache.spark.GraftShuffleJanitor.releaseFiles(sc, ids)
    // cached consumption never touches the released files
    assert(prep.count() === 100)
    // evict: the next action must rebuild through the released shuffle
    prep.unpersist(blocking = true)
    val recomputed = prep.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recomputed === expected, "post-eviction recompute diverged")
  }

  test("cutPartitionedSummed: fused sum is exact (nulls skipped, no long overflow)") {
    import org.apache.spark.sql.functions._
    // values that would overflow a running long without the BigInteger spill
    val big = Long.MaxValue - 7L
    val df = Seq[java.lang.Long](1L, 2L, big, big, null, -5L)
      .toDF("label").select(col("label").cast("long").as("label"))
    val cut = Checkpoints.cutPartitionedSummed(df, Seq("label"), 3, Some("label"))
    val expected = java.math.BigInteger.valueOf(big)
      .multiply(java.math.BigInteger.valueOf(2))
      .add(java.math.BigInteger.valueOf(1L + 2L - 5L))
    assert(cut.sum.contains(expected))
    // the cut frame still carries every row (incl. the null)
    assert(cut.df.count() === 6)
    // release drops the leaf's storage
    cut.release()
    assert(cut.leaf.getStorageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("cutPartitioned under RELIABLE mode keeps partitioning AND durability") {
    import org.apache.spark.sql.functions._
    withReliable {
      val df = spark.range(0, 1000).select((col("id") % 97).as("k"), col("id").as("v"))
      val cut = Checkpoints.cutPartitioned(df, Seq("k"), 4)
      // durable: the leaf is backed by checkpoint FILES, not executor blocks
      assert(cut.queryExecution.toRdd.toDebugString.contains("ReliableCheckpointRDD"),
        cut.queryExecution.toRdd.toDebugString)
      // partitioning-preserving: an aggregation on the cut key plans with NO
      // exchange above the leaf (the r15 gap: reliable mode lost the
      // metadata, so the CC loop re-shuffled every round exactly at the
      // scale the reliable strategy targets)
      val agg = cut.groupBy("k").agg(sum("v").as("s"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      // and the labels are right
      assert(agg.count() === 97)
    }
  }

  test("reliable mode without a checkpoint dir fails fast with guidance") {
    // fresh context state: cannot unset a checkpoint dir on a live context,
    // so only assert the guard when none is set yet — otherwise assert the
    // happy path above covered it. The guard matters for first-call UX.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Checkpoints.ReliableKey, "true")
      try {
        val e = intercept[IllegalArgumentException] {
          Checkpoints.cut(Seq(1).toDF("x"))
        }
        assert(e.getMessage.contains("setCheckpointDir"))
      } finally spark.conf.unset(Checkpoints.ReliableKey)
    }
  }
}
