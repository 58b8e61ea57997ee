package graft

/**
 * Plan/profiling harness: `runMain graft.Profile <queryName> [sfDir]`.
 *
 * Prints the formatted physical plan of a registered query, executes it, and
 * leaves a Spark event log under /tmp/spark-events for stage-level analysis
 * (durations, shuffle bytes, spills) — the local stand-in for a cluster UI.
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Profile <queryName> [sfDir]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    new java.io.File("/tmp/spark-events").mkdirs()
    // extra session configs for experiments: SPARK_GRAFT_CONF="k=v;k=v"
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';')
      .filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      }
    val spark = LocalSession(s"profile-$name",
      Seq("spark.eventLog.enabled" -> "true", "spark.eventLog.dir" -> "/tmp/spark-events") ++
        extraConf: _*)

    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    // defensive parse: malformed / non-positive values fall back to 1 run
    // instead of throwing or silently skipping the timing loop
    val runs = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "1").trim.toInt)
      .toOption.filter(_ >= 1).getOrElse(1)
    fn(spark, sfDir).explain("formatted")
    // BENCH PARITY (optimization rounds): each run re-invokes the registered
    // query and drives the full physical plan via toRdd.foreach — exactly
    // Bench.timeOnce — so warm runs re-execute every internal action of the
    // composition (iterative loops, two-pass ranks, index probes) and the
    // event log's job/stage timeline is the benched workload, not a cached
    // tail. (The old df.count() over a once-constructed frame timed only the
    // final aggregate of operators whose work happens at construction.)
    for (i <- 1 to runs) {
      spark.sparkContext.setJobDescription(s"profile:$name run=$i")
      val t0 = System.nanoTime()
      val qe = fn(spark, sfDir).queryExecution
      qe.toRdd.foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name run=$i time=$secs%.3f s appId=${spark.sparkContext.applicationId}")
      // SPARK_GRAFT_EXPLAIN_EXECUTED=1: print the POST-execution plan — with
      // AQE this is the final re-optimized plan (join strategies, coalesced
      // reads), which the pre-execution explain cannot show
      if (i == runs && sys.env.get("SPARK_GRAFT_EXPLAIN_EXECUTED").contains("1"))
        println(qe.executedPlan.toString())
    }
    spark.stop()
  }
}
