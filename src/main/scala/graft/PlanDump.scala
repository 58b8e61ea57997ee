package graft

/**
 * Plan-dump harness for the optimization rounds:
 * `runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]`
 *
 * Writes each query's `.explain("formatted")` output to
 * `<outDir>/<query>_<suffix>.txt` (e.g. plans/r15/jac_self_docs_ws_t05_before.txt)
 * WITHOUT executing the query — the optimizer-final (pre-AQE) physical plan,
 * which is what Exchange counts / join strategies / PushedFilters are read
 * from. It runs in the same [[LocalSession]] as graft.Bench, so dumped plans
 * are the benched plans.
 * With no query list argument, dumps EVERY registered query.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: PlanDump <outDir> <suffix> [q1,q2,...]"))
    val suffix = if (args.length > 1) args(1) else "before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("plan-dump")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name - skipping")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.err.println(s"[plandump] wrote $name ($suffix)")
          } catch {
            case scala.util.control.NonFatal(t) =>
              System.err.println(s"[plandump] $name failed: $t")
          } finally Api.clearCache()
      }
    }
    spark.stop()
  }
}
