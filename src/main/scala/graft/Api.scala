package graft

import org.apache.spark.sql.SparkSession
import graft.operators._

/**
 * Name-based API mirroring the reference's entry points one-for-one, so a
 * user of `py_duckdb.similarity_join` can switch by replacing the DuckDB
 * connection with a SparkSession:
 *
 *   reference (py_duckdb/similarity_join/join/jaccard_join.py:9-22):
 *     jaccard_join(con, l_table, r_table, l_key_attr, r_key_attr,
 *                  l_join_attr, r_join_attr, tokenizer, threshold,
 *                  out_table, l_out_prefix, r_out_prefix) -> con
 *
 * Tables are resolved by NAME in the session catalog (temp views or catalog
 * tables), the result materializes as a temp view named `outTable`, and the
 * session is returned — the reference's connection-in/connection-out shape.
 * Self-join dispatch matches the reference: `rTable` empty or equal to
 * `lTable` (jaccard_join.py:25).
 */
object Api {

  /** `jaccard_join` — filtered prefix-filter pipeline. */
  def jaccardJoin(spark: SparkSession,
                  lTable: String, rTable: String,
                  lKeyAttr: String, rKeyAttr: String,
                  lJoinAttr: String, rJoinAttr: String,
                  tokenizer: Tokenizer, threshold: Double,
                  outTable: String = "matches",
                  lOutPrefix: String = "l_", rOutPrefix: String = "r_"): SparkSession = {
    val out =
      if (rTable.isEmpty || rTable == lTable)
        JaccardJoin.selfJoinDeduped(spark.table(lTable), lKeyAttr, lJoinAttr,
          tokenizer, threshold, lOutPrefix, rOutPrefix)
      else
        JaccardJoin.rsJoin(spark.table(lTable), lKeyAttr, lJoinAttr,
          spark.table(rTable), rKeyAttr, rJoinAttr,
          tokenizer, threshold, lOutPrefix, rOutPrefix)
    out.createOrReplaceTempView(outTable)
    spark
  }

  /** `jaccard_join_brute_force` — the all-pairs oracle join. */
  def jaccardJoinBruteForce(spark: SparkSession,
                            lTable: String, rTable: String,
                            lKeyAttr: String, rKeyAttr: String,
                            lJoinAttr: String, rJoinAttr: String,
                            tokenizer: Tokenizer, threshold: Double,
                            outTable: String = "matches",
                            lOutPrefix: String = "l_", rOutPrefix: String = "r_"): SparkSession = {
    val out =
      if (rTable.isEmpty || rTable == lTable)
        JaccardJoin.bruteForceSelfDeduped(spark.table(lTable), lKeyAttr, lJoinAttr,
          tokenizer, threshold, lOutPrefix, rOutPrefix)
      else
        JaccardJoin.bruteForceRs(spark.table(lTable), lKeyAttr, lJoinAttr,
          spark.table(rTable), rKeyAttr, rJoinAttr,
          tokenizer, threshold, lOutPrefix, rOutPrefix)
    out.createOrReplaceTempView(outTable)
    spark
  }

  /** `evaluate` — confusion matrix + precision/recall/F-measure of a join
    * result view against a ground-truth pair view
    * (reference similarity_join/__init__.py:6-62). */
  def evaluate(spark: SparkSession,
               gtTable: String, sjTable: String,
               gtLKey: String, gtRKey: String,
               sjLKey: String, sjRKey: String): EvalMetrics =
    Evaluate.evaluate(spark.table(gtTable), spark.table(sjTable),
      gtLKey, gtRKey, sjLKey, sjRKey)

  /** S5: drop result/intermediate views — the reference's `clear()` /
    * `DROP TABLE IF EXISTS` lifecycle. */
  def clear(spark: SparkSession, tables: String*): Unit =
    tables.foreach(spark.catalog.dropTempView(_))

  /** Register graft's native SQL functions on an existing session, so
    * `spark.sql` can call the codegen'd [[graft.expressions.CosineSim]]
    * (`graft_cosine(array<float|double>, array<float|double>) -> double`),
    * [[graft.expressions.LevenshteinBounded]] and
    * [[graft.expressions.SuffixOverlapCount]] by name. */
  def registerSqlFunctions(spark: SparkSession): Unit = {
    org.apache.spark.sql.GraftExpressionBridge.registerFunction(
      spark, "graft_cosine", { children =>
        require(children.length == 2, "graft_cosine(a, b) takes exactly two arguments")
        graft.expressions.CosineSim(children.head, children(1))
      })
    // graft_levenshtein(l, r, bound): exact distance if <= bound, else -1
    // (bound must be an integer literal — it shapes the banded DP)
    org.apache.spark.sql.GraftExpressionBridge.registerFunction(
      spark, "graft_levenshtein", { children =>
        require(children.length == 3,
          "graft_levenshtein(l, r, bound) takes exactly three arguments")
        val bound = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(
            s"graft_levenshtein bound must be an integer literal, got $other")
        }
        graft.expressions.LevenshteinBounded(children.head, children(1), bound)
      })
    // graft_suffix_overlap(larr, rarr, lStart, rStart): multiset overlap of
    // two string-array suffixes from 1-based starts (the Jaccard verification
    // count over raw tokens)
    org.apache.spark.sql.GraftExpressionBridge.registerFunction(
      spark, "graft_suffix_overlap", { children =>
        require(children.length == 4,
          "graft_suffix_overlap(larr, rarr, lStart, rStart) takes exactly four arguments")
        graft.expressions.SuffixOverlapCount(
          children.head, children(1), children(2), children(3))
      })
  }

  /** Release every intermediate the graft operators persisted (tkdf, LSH band
    * buckets, cascade survivors, …). The join results are LAZY, so operators
    * cannot unpersist before the caller materializes; long-lived sessions
    * making repeated library calls should invoke this after consuming each
    * result — it only touches graft-internal caches, unlike
    * `spark.catalog.clearCache()`. Returns the number of caches released.
    *
    * INVALIDATION, not just un-caching, for passes-mode results: a
    * multi-pass join reads its slices from scratch parquet dirs
    * ([[graft.operators.Checkpoints.cutToParquet]]) that this call DELETES.
    * Unlike an unpersisted cache, a deleted file leaf cannot recompute —
    * re-collecting such a result after clearCache() throws
    * FileNotFoundException (or, if `spark.sql.files.ignoreMissingFiles` is
    * enabled session-wide, silently returns empty slices). Consume
    * passes-mode results fully before calling this.
    *
    * The same holds for results that read a tracked lineage-cut leaf: the
    * final labels of [[graft.operators.Dedup.clusterIds]], and so every
    * operator built on it ([[graft.operators.Dedup.clusterKeepIds]], the
    * incremental keep-sets, the curation pipeline). In the default local
    * mode the leaf is a `localCheckpoint`; this call drops its blocks, and
    * the truncated lineage has nothing to recompute from, so re-collecting
    * such a result throws a SparkException ("Checkpoint block ... not
    * found"; CheckpointsSpec pins it). Under
    * `spark.graft.checkpoint.reliable=true` the leaf reads its checkpoint
    * files back and the result stays valid. */
  def clearCache(): Int = PersistTracker.unpersistAll()

  /** Raise WindowExec's logger to ERROR. Its "No Partition Defined" warning
    * fires for EVERY execution of a deliberately unpartitioned window (the
    * `line_dedup_docs` registry entry manufactures its input with one),
    * flooding bench/test logs by the hundreds and burying real signals
    * (r13 verdict "what's wrong" #4). A `partitionBy(lit(0))` decoy does
    * not help: the optimizer strips foldable partition keys before
    * physical planning (verified on the executed plan), so the logger is
    * the honest lever. Scale-relevant windows in this library are always
    * keyed; a genuinely unpartitioned corpus-sized window would be a plan
    * bug caught by PlanShapeSpec, not by this warning. */
  def quietBoundedWindowLogs(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
