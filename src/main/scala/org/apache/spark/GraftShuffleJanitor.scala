package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

/**
 * Deterministic shuffle-file reclamation for multi-pass operators
 * ([[graft.operators.JaccardJoin]]'s bounded-footprint `passes` mode).
 *
 * Spark normally deletes a shuffle's files when its ShuffleDependency is
 * garbage-collected (ContextCleaner's weak-reference queue). That contract is
 * correct but NON-DETERMINISTIC: between the passes of a bounded-footprint
 * join, a System.gc() hint may or may not actually surface the dead
 * dependencies before the next pass starts writing — measured at sf10, each
 * pass's ~22 GB candidate shuffle lingered (~5-7 GB retained growth per
 * pass) and the join died on scratch disk that the mode exists to bound.
 *
 * This janitor makes the reclamation explicit AND scoped: [[runScoped]] runs
 * a pass's planning+action under a dedicated job group and records, through a
 * SparkListener, the shuffle ids its OWN submitted stages wrote. Removing
 * exactly that set — blocking, once the pass's results are materialized to a
 * lineage-cut leaf — frees the disk BEFORE the next pass plans, and touches
 * nothing a CONCURRENT job on the shared session registered in the same
 * window (the round-12 form diffed the tracker's global id set around the
 * pass, which would have force-removed a concurrent streaming micro-batch's
 * in-flight shuffle — FetchFailed churn at best). Stage-submitted events
 * also exclude SKIPPED stages by construction, so a shuffle REUSED from the
 * callers' persisted frames can never enter a removal set.
 *
 * Safety argument for the removed set itself: a pass's shuffles have exactly
 * one consumer — the pass's own eager checkpoint, which has completed and
 * whose leaf never re-reads them; later passes' re-executions instantiate
 * fresh exchanges (new shuffle ids), so a removed id is never requested
 * again. The availability caveat is the checkpoint's, not the janitor's: the
 * default lineage cut is `localCheckpoint`, whose truncated lineage cannot
 * recompute — on a real cluster, losing an executor holding a pass's
 * checkpoint blocks after its shuffles are removed FAILS THE JOB (there is
 * no FetchFailed fallback through a truncated lineage). Single-JVM local
 * mode has no partial executor loss, so the trade is free there; on a
 * multi-executor cluster set `spark.graft.checkpoint.reliable=true` (see
 * [[graft.operators.Checkpoints]]) whenever `passes > 1`, making each pass
 * leaf durable before its shuffles are reclaimed.
 *
 * Lives in `org.apache.spark` because MapOutputTrackerMaster, the
 * shuffle-driver components, and `listenerBus` are `private[spark]` — the
 * same adapter technique as [[org.apache.spark.sql.GraftExpressionBridge]].
 */
object GraftShuffleJanitor {

  /** The currently registered shuffle ids (driver side). */
  def shuffleIds(sc: SparkContext): Set[Int] = sc.env.mapOutputTracker match {
    case m: MapOutputTrackerMaster => m.shuffleStatuses.keySet.toSet
    case _ => Set.empty // executor-side tracker: not a driver, nothing to do
  }

  /**
   * Run `body` (a pass's plan construction + materializing action) under the
   * dedicated job group `tag`, returning its result together with the ids of
   * every shuffle the pass's own submitted stages wrote.
   *
   * Scoping mechanics: stage-submitted events carry the submitting job's
   * local properties, so filtering on the job-group id attributes each stage
   * to the pass that ran it even when AQE materializes stages from its
   * thread pool (`SQLExecution.withThreadLocalCaptured` propagates the
   * properties). The listener bus is drained (`waitUntilEmpty`) before the
   * set is read, so an event still in flight when the action returns cannot
   * leak a pass shuffle out of its own removal set. Any enclosing job
   * group/description is restored on exit.
   */
  def runScoped[T](sc: SparkContext, tag: String)(body: => T): (T, Set[Int]) = {
    val ids = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
        val group = Option(ev.properties)
          .map(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID)).orNull
        if (group == tag) ev.stageInfo.shuffleDepId.foreach(ids.add)
      }
    }
    val prevGroup = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
    val prevDesc = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    val prevCancel = sc.getLocalProperty(SparkContext.SPARK_JOB_INTERRUPT_ON_CANCEL)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, s"graft bounded-footprint pass [$tag]",
        interruptOnCancel = false)
      val result = body
      // listener events are posted asynchronously; drain before snapshotting.
      // A bus that cannot drain (backlogged event-log listener on slow
      // storage) must DEGRADE to a leak — returning only the ids seen so
      // far under-removes — never to failing a join whose data already
      // materialized successfully.
      try sc.listenerBus.waitUntilEmpty(60000L)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[janitor] listener bus did not drain in 60s for" +
            s" [$tag] — reclaiming only the ${ids.size} stage(s) seen so far")
      }
      (result, ids.asScala.toSet)
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, prevGroup)
      sc.setLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION, prevDesc)
      sc.setLocalProperty(SparkContext.SPARK_JOB_INTERRUPT_ON_CANCEL, prevCancel)
    }
  }

  /** Drop the FILES of still-referenced shuffles while KEEPING their
    * registration — for consumed build shuffles of PERSISTED frames, whose
    * data lives on as cached blocks (the bounded-footprint joins' prep
    * shuffles: ~25 GB retained for the whole sf10 run while every pass and
    * the expansion read only the cached frames). Unlike [[remove]], the
    * tracker entry survives with no map outputs (re-registered empty when
    * the block manager's removal unregistered it), so a cache-evicted
    * recompute that reaches the shuffle
    * finds it registered-but-empty and the scheduler resubmits the parent
    * map stage, regenerating the files — the standard missing-output path,
    * not a crash. The trade is scratch now for a possible re-build later —
    * exactly the passes mode's charter. */
  def releaseFiles(sc: SparkContext, ids: Set[Int]): Unit = {
    val tracker = sc.env.mapOutputTracker match {
      case m: MapOutputTrackerMaster => m
      case _ => return
    }
    val present = ids intersect tracker.shuffleStatuses.keySet.toSet
    present.foreach { id =>
      val status = tracker.shuffleStatuses(id)
      val (maps, reduces) = (status.mapStatuses.length, status.mergeStatuses.length)
      tracker.unregisterAllMapAndMergeOutput(id)
      sc.env.shuffleManager.unregisterShuffle(id)
      sc.env.blockManager.master.removeShuffle(id, blocking = true)
      // `removeShuffle` also reaches the driver's own storage endpoint, which
      // unregisters the shuffle from this tracker: register it again, empty
      if (!tracker.containsShuffle(id)) tracker.registerShuffle(id, maps, reduces)
    }
    System.err.println(s"[janitor] released files of ${present.size} retained shuffles")
  }

  /** Blocking removal of the given shuffles' map outputs and files. Ids not
    * (or no longer) registered are skipped — removal is idempotent. */
  def remove(sc: SparkContext, ids: Set[Int]): Unit = {
    val tracker = sc.env.mapOutputTracker match {
      case m: MapOutputTrackerMaster => m
      case _ => return
    }
    val present = ids intersect tracker.shuffleStatuses.keySet.toSet
    present.foreach { id =>
      // order matters: unregister the map outputs first so no new reads
      // resolve to the files, then drop the files through the block manager
      tracker.unregisterShuffle(id)
      sc.env.shuffleManager.unregisterShuffle(id)
      sc.env.blockManager.master.removeShuffle(id, blocking = true)
    }
    // one trace line per pass: a scoping bug (listener missing the pass's
    // stages) would otherwise only show up as silent disk growth an hour in
    System.err.println(s"[janitor] removed ${present.size} shuffles" +
      (if (ids.size != present.size) s" (${ids.size - present.size} already gone)" else ""))
  }
}
