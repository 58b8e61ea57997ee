package graft

import org.apache.spark.sql.SparkSession

/**
 * The one local session the mains build (`Bench`, `Profile`, `PlanDump`,
 * `Verify`), so a profiled, dumped or verified plan is the benched plan.
 *
 * `SPARK_GRAFT_CPUS` sets the worker threads (default: the host's core
 * count). `SPARK_GRAFT_SHUFFLE_PARTITIONS` sets the shuffle partitions
 * (default: the thread count, right for the small-SF data; partitions must
 * track data volume, about 128 MB each: 32 partitions on the 8× stress
 * corpus meant ~4 GB per aggregation partition and 13.5 GB of spill, and 256
 * erased the spill and cut the join 1.8×, SCALE.md "Measured").
 */
private[graft] object LocalSession {

  def apply(app: String, extraConf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      // let AQE broadcast the VALUE-side tables of the join pipelines (the
      // deduped posArrays/vals frames: ~25 MB on the 8× stress corpus, just
      // over the 10 MB default) — without this the verify and expansion
      // joins fall back to SortMergeJoin and drag the 22-125M-row candidate
      // stream through full Exchange+Sort passes. Measured on the stress
      // t=0.9 self-join: 105.8 -> 36.7 s, stage-seconds 173 -> 53, identical
      // output. Safe at any scale: AQE checks RUNTIME sizes, so a value
      // table past the threshold keeps SMJ.
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // keep the 128-column MinHash aggregate inside whole-stage codegen
      .config("spark.sql.codegen.maxFields", 256)
      // the events table stores TIMESTAMP(NANOS) parquet - read as epoch-nano longs
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
      // a single-JVM local run has no real executor liveness to police, and
      // multi-minute host IO stalls (observed: 7-min freeze -> heartbeat
      // timeout killed the context mid-bench) must not abort the run
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Api.quietBoundedWindowLogs()
    spark
  }
}
