package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Api, DuckSql}
import graft.operators.{Evaluate, JaccardJoin, QGramsTokenizer, Tokenizer, WhitespaceTokenizer}

/** Running sums of the task metrics Spark records for every finished task. */
final class TaskSums {
  var jobs, tasks, runMs, cpuNs, maxTaskMs, shuffleBytes, spillBytes, gcMs = 0L

  def add(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    maxTaskMs = math.max(maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }

  def fields: Map[String, Long] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "max_task_ms" -> maxTaskMs, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "gc_ms" -> gcMs)
}

/** Task-metric sums for the whole application and per job group. Job groups
  * are only set by traced ops, so untraced runs only touch `total`. */
final class TaskListener(sc: SparkContext) extends SparkListener {
  private val total = new TaskSums
  private val groups = mutable.HashMap.empty[String, TaskSums]
  private val stageGroup = mutable.HashMap.empty[Int, TaskSums]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    for (p <- Option(e.properties); g <- Option(p.getProperty("spark.jobGroup.id"))) {
      val s = groups.getOrElseUpdate(g, new TaskSums)
      s.jobs += 1
      e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    total.add(e)
    stageGroup.get(e.stageId).foreach(_.add(e))
  }

  def totals(): Map[String, Long] = { PerfbenchBus.drain(sc); synchronized(total.fields) }

  def group(g: String): Map[String, Long] = {
    PerfbenchBus.drain(sc)
    synchronized(groups.getOrElse(g, new TaskSums).fields)
  }
}

/** Sums the planning-tracker phases (parsing, analysis, optimization,
  * planning) of every query Spark runs. Registered by traced runs only. */
final class PlanListener(sc: SparkContext) extends QueryExecutionListener {
  private var ms = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { ms += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def planMs(): Long = { PerfbenchBus.drain(sc); synchronized(ms) }
}

/** A traced call: its layer, an optional sub-key (a threshold), the span it
  * ran in (-1 for none) and the job group its Spark jobs ran under. */
final case class Span(id: Int, op: Int, layer: String, key: String, parent: Int,
                      startNs: Long, endNs: Long, rows: Long, group: String)

/** One op: its outputs for the oracle and what it cost. */
final class Op(val id: Int, val traced: Boolean, spark: SparkSession,
               spans: mutable.ArrayBuffer[Span]) {
  val outputs = mutable.LinkedHashMap.empty[String, Seq[Long]]
  val extras = mutable.LinkedHashMap.empty[String, Double]
  var cacheBytes = 0L
  var coldOk = false
  var error = ""
  private var rows = 0L
  private var current = -1

  /** Runs `body` as one layer call. Traced ops tag its jobs with their own
    * job group and record a span; untraced ops just run it. */
  def layer[T](name: String, key: String = "")(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val id = Op.nextSpanId()
      val parent = current
      val group = Seq(s"pb${this.id}", name, key).filter(_.nonEmpty).mkString("-")
      sc.setJobGroup(group, group)
      rows = 0L
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, this.id, name, key, parent, t0, t1, rows, group)
        current = parent
        sc.clearJobGroup()
      }
    }

  /** A root span with no job group, around the whole op. */
  def root[T](body: => T): T =
    if (!traced) body
    else {
      val id = Op.nextSpanId()
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, this.id, "op", "", -1, t0, System.nanoTime(), 0L, "")
        current = -1
      }
    }

  def rowsOut(n: Long): Unit = rows = n

  /** Bytes held by persisted RDDs (memory + disk); an op keeps the max. */
  def noteCache(): Long = {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    cacheBytes = math.max(cacheBytes, b)
    b
  }
}

object Op {
  private var lastSpanId = 0
  def nextSpanId(): Int = { lastSpanId += 1; lastSpanId }
}

/** One oracle step for DuckDB: `pairs` materializes `sql` as table `name`
  * and digests it; `row` returns its single row; `rs` first runs `widows`
  * and picks `sql` (L side indexes) or `alt` (R side indexes), the same
  * driver-side choice the reference and `JaccardJoin.rsJoin` make. */
final case class Step(name: String, kind: String, sql: String,
                      alt: String = "", widows: String = "")

sealed trait Workload {
  def tables: Seq[String]
  def oracle: Seq[Step]
  def tokenizer: Tokenizer
  /** The tables and columns the standalone tokenize layer reads. */
  def tokenizeInputs: Seq[(String, String)]
  /** One op after the caches were cleared; records outputs into `c`. */
  def op(spark: SparkSession, c: Op): Unit
}

object Workload {
  /** Order-independent digest of a (l_id, r_id) pair table: Spark and
    * DuckDB evaluate these same expressions in 64-bit integer arithmetic. */
  val DigestExprs = Seq(
    "count(*)",
    "coalesce(sum(((l_id * 1000003 + r_id) % 2147483647) * 48271 % 2147483647), 0)",
    "coalesce(sum(((r_id * 999983 + l_id) % 2147483629) * 69621 % 2147483629), 0)")

  def digest(df: DataFrame): Seq[Long] = {
    val r = df.selectExpr(DigestExprs: _*).head()
    DigestExprs.indices.map(r.getLong)
  }

  def key(t: Double): String = f"t${math.round(t * 10)}%02d"

  /** The self-join's threshold-free frames, materialized inside the prep span
    * of a traced op so their cost does not land in the first tail. */
  def prep(spark: SparkSession, c: Op, table: String, column: String,
           tok: Tokenizer): JaccardJoin.SelfJoinPrep =
    c.layer("prep") {
      val p = JaccardJoin.prepareSelfDeduped(spark.table(table), "id", column, tok)
      val values = p.vals.count()
      c.extras("prep.values") = values.toDouble
      c.extras("prep.token_rows") = p.vtkdf.count().toDouble
      p.varr.count()
      c.extras("prep.cache_bytes") = c.noteCache().toDouble
      c.rowsOut(values)
      p
    }

  val all: Map[String, Workload] =
    Map("profiles_sweep" -> ProfilesSweep, "names_rs" -> NamesRs, "docs_dedup" -> DocsDedup)
}

import Workload._

/** Threshold sweep over person profiles: one prep, four tails, each scored
  * against the generator's ground truth. */
object ProfilesSweep extends Workload {
  val thresholds = Seq(0.8, 0.6, 0.4, 0.3)
  val tokenizer: Tokenizer = WhitespaceTokenizer()
  val tables = Seq("profiles", "truth")
  val tokenizeInputs = Seq("profiles" -> "profile")

  def oracle: Seq[Step] = {
    val tokens = DuckSql.delimTokens("profiles", "id", "profile", DuckSql.wsClass)
    thresholds.flatMap { t =>
      val k = key(t)
      Seq(Step(k, "pairs", DuckSql.selfJoin(tokens, "id", t)),
        Step(s"$k.eval", "row", DuckSql.evalCountsNorm(
          "SELECT l_id AS gk1, r_id AS gk2 FROM truth", s"SELECT l_id AS sk1, r_id AS sk2 FROM $k")))
    }
  }

  def op(spark: SparkSession, c: Op): Unit = {
    val p =
      if (c.traced) prep(spark, c, "profiles", "profile", tokenizer)
      else JaccardJoin.prepareSelfDeduped(spark.table("profiles"), "id", "profile", tokenizer)
    for (t <- thresholds) {
      val k = key(t)
      // the pairs are read twice (digest, then evaluation): cache them so the
      // tail runs once, and drop them before the next threshold
      val sj = c.layer("tail", k) {
        val sj = JaccardJoin.selfJoinDedupedPrepared(p, t).persist()
        c.outputs(k) = digest(sj)
        c.rowsOut(c.outputs(k).head)
        sj
      }
      c.noteCache()
      c.layer("eval", k) {
        val r = Evaluate.countsNormalized(spark.table("truth"), sj).head()
        c.outputs(s"$k.eval") = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
        c.rowsOut(r.getLong(0) + r.getLong(2))
      }
      sj.unpersist(blocking = true)
    }
  }
}

/** Short names, q-gram(3) R x S join at t = 0.2. */
object NamesRs extends Workload {
  val t = 0.2
  val tokenizer: Tokenizer = QGramsTokenizer(3)
  val tables = Seq("names_l", "names_r")
  val tokenizeInputs = Seq("names_l" -> "name", "names_r" -> "name")

  def oracle: Seq[Step] = {
    val l = DuckSql.qgramsTokens("names_l", "id", "name", 3)
    val r = DuckSql.qgramsTokens("names_r", "id", "name", 3)
    val (lc, rc) = ("SELECT count(*) FROM names_l", "SELECT count(*) FROM names_r")
    def join(lIdx: Boolean) = DuckSql.rsJoin(l, r, lc, rc, "id", "id", t, lIdx)
    Seq(Step("pairs", "rs", join(true), join(false), widows(l, r, lc, rc)))
  }

  /** Indexing-prefix rows whose token occurs on one side only, per side
    * (reference jaccard_join.py:341-353; JaccardJoin.rsJoin's side choice). */
  private def widows(l: String, r: String, lc: String, rc: String): String = {
    val (tt, t1) = (s"CAST($t AS DOUBLE)", s"CAST(${1 + t} AS DOUBLE)")
    val ph = s"(($lc) * ($rc) + 1)"
    def tkdf(side: String) =
      s"""${side}_tkdf AS (
  SELECT id, len, df, row_number() OVER (PARTITION BY id ORDER BY df, ${side}_tokens.token) AS pos
  FROM ${side}_tokens, dfreq WHERE ${side}_tokens.token = dfreq.token)"""
    def count(side: String) =
      s"(SELECT count(*) FROM ${side}_tkdf WHERE df = $ph AND len - pos + 1 >= (len * 2 * $tt / $t1))"
    s"""WITH l_tokens AS ($l),
r_tokens AS ($r),
l_dfreq AS (SELECT token, count(*) AS df FROM l_tokens GROUP BY token),
r_dfreq AS (SELECT token, count(*) AS df FROM r_tokens GROUP BY token),
dfreq AS (
  SELECT coalesce(l_dfreq.token, r_dfreq.token) AS token,
         coalesce(l_dfreq.df * r_dfreq.df, $ph) AS df
  FROM l_dfreq FULL OUTER JOIN r_dfreq ON l_dfreq.token = r_dfreq.token),
${tkdf("l")},
${tkdf("r")}
SELECT ${count("l")} AS l_widows, ${count("r")} AS r_widows"""
  }

  def op(spark: SparkSession, c: Op): Unit = {
    c.layer("rs") {
      val out =
        if (c.traced) JaccardJoin.rsJoin(spark.table("names_l"), "id", "name",
          spark.table("names_r"), "id", "name", tokenizer, t)
        else {
          Api.jaccardJoin(spark, "names_l", "names_r", "id", "id", "name", "name", tokenizer, t,
            "pb_pairs")
          spark.table("pb_pairs")
        }
      c.outputs("pairs") = digest(out)
      c.rowsOut(c.outputs("pairs").head)
      // rsJoin names its first column after the side it indexed
      c.outputs("l_indexing") = Seq(if (out.columns.head == "l_id") 1L else 0L)
      c.extras("rs.cache_bytes") = c.noteCache().toDouble
    }
  }
}

/** Long documents, whitespace self-join at t = 0.9: near-duplicate
  * detection, where exact duplicates collapse in the value dedupe. */
object DocsDedup extends Workload {
  val t = 0.9
  val tokenizer: Tokenizer = WhitespaceTokenizer()
  val tables = Seq("docs")
  val tokenizeInputs = Seq("docs" -> "doc")

  def oracle: Seq[Step] =
    Seq(Step("pairs", "pairs",
      DuckSql.selfJoin(DuckSql.delimTokens("docs", "id", "doc", DuckSql.wsClass), "id", t)))

  def op(spark: SparkSession, c: Op): Unit = {
    def pairs(out: => DataFrame): Unit = c.layer("tail", key(t)) {
      c.outputs("pairs") = digest(out)
      c.rowsOut(c.outputs("pairs").head)
    }
    if (c.traced) {
      val p = prep(spark, c, "docs", "doc", tokenizer)
      pairs(JaccardJoin.selfJoinDedupedPrepared(p, t))
    } else pairs {
      Api.jaccardJoin(spark, "docs", "", "id", "id", "doc", "doc", tokenizer, t, "pb_pairs")
      spark.table("pb_pairs")
    }
    c.noteCache()
  }
}

object PerfBench {
  private def epochMicros(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
        case ch => ch.toString
      }.mkString("\"", "", "\"")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toMap)
  }

  /** The session a library user on this host would build: every core, one
    * shuffle partition per core. The generated-code cache holds more than
    * one op's classes: at Spark's default of 100 entries a warm op still
    * recompiled 20-100 of its 95-122 classes, a different number every op
    * (README, "JIT and heap settings"). */
  def session(nproc: Int, localDir: String, warehouse: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.codegen.cache.maxEntries", 1000L)
      // the value-side broadcast threshold graft.Bench and graft.Verify use
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()

  /** Usage: `PerfBench --mode setup|run --workload W --data DIR --out FILE
    * --nproc N --trace 0|1 --warmup W --seconds S --min-timed K --local-dir
    * DIR --warehouse DIR`. Both modes time the session set-up in this fresh
    * JVM; `run` then runs W warm-up ops and times ops until `--seconds` have
    * passed and at least K ran. */
  def main(args: Array[String]): Unit = {
    val mainUs = epochMicros()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val w = Workload.all(opt("workload"))
    val nproc = opt("nproc").toInt
    val trace = opt("trace") == "1"
    val spark = session(nproc, opt("local-dir"), opt("warehouse"))
    val sessionUs = epochMicros()
    val sc = spark.sparkContext
    val listener = new TaskListener(sc)
    sc.addSparkListener(listener)
    w.tables.foreach(t => spark.read.parquet(s"${opt("data")}/$t.parquet").createOrReplaceTempView(t))
    val readyUs = epochMicros()
    val result = mutable.LinkedHashMap[String, Any](
      "main_us" -> mainUs,
      "session_us" -> sessionUs,
      "ready_us" -> readyUs,
      "setup_tasks" -> listener.totals(),
      "spark_version" -> spark.version,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || Set("spark.master", "spark.local.dir", "spark.app.name")(k)
      })
    if (opt("mode") == "setup") {
      // a set-up sample only: no op runs, so nothing needs a clean stop
      Files.write(Paths.get(opt("out")), json(result).getBytes(StandardCharsets.UTF_8))
      Runtime.getRuntime.halt(0)
    }
    sc.setLogLevel("WARN")
    Api.quietBoundedWindowLogs()
    val plans = if (trace) {
      val p = new PlanListener(sc)
      spark.listenerManager.register(p)
      Some(p)
    } else None
    val spans = mutable.ArrayBuffer.empty[Span]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME

    def runOp(id: Int, timed: Boolean, traced: Boolean): Unit = {
      // a full collection first, so no op inherits the previous op's garbage
      System.gc()
      val c = new Op(id, traced, spark, spans)
      if (traced) {
        c.layer("tokenize") {
          val rows = w.tokenizeInputs.map { case (t, v) =>
            w.tokenizer.tokenize(spark.table(t), "id", v).agg(count(lit(1))).head().getLong(0)
          }.sum
          c.rowsOut(rows)
        }
      }
      val before = listener.totals()
      val planBefore = plans.map(_.planMs()).getOrElse(0L)
      val compilesBefore = codegen.getCount
      val t0 = System.nanoTime()
      try c.root {
        c.layer("cache") {
          c.extras("cache.released") = Api.clearCache().toDouble
          spark.catalog.clearCache()
          c.coldOk = sc.getPersistentRDDs.isEmpty
        }
        w.op(spark, c)
      } catch { case NonFatal(e) => c.error = e.toString }
      val t1 = System.nanoTime()
      ops += Map("id" -> id, "timed" -> timed, "traced" -> traced, "wall_s" -> (t1 - t0) / 1e9,
        "before" -> before, "after" -> listener.totals(), "cache_bytes" -> c.cacheBytes,
        "plan_ms" -> (plans.map(_.planMs()).getOrElse(0L) - planBefore),
        "codegen_compiles" -> (codegen.getCount - compilesBefore),
        "heap_used_bytes" -> (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory),
        "cold_ok" -> c.coldOk, "error" -> c.error, "outputs" -> c.outputs, "extras" -> c.extras)
    }

    val warmup = opt("warmup").toInt
    (1 to warmup).foreach(id => runOp(id, timed = false, traced = false))
    val start = System.nanoTime()
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val minTimed = opt("min-timed").toInt
    var n = 0
    while (n < minTimed || System.nanoTime() - start < budgetNs) {
      // traced runs order the timed ops untraced, traced, traced, untraced,
      // so any drift over the run favours neither side of the tracing
      // overhead (traced minus untraced wall)
      runOp(warmup + n + 1, timed = true, traced = trace && (n % 4 == 1 || n % 4 == 2))
      n += 1
    }
    result("ops") = ops
    result("spans") = spans.map(s => Map("id" -> s.id, "op" -> s.op, "layer" -> s.layer,
      "key" -> s.key, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "rows" -> s.rows,
      "metrics" -> (if (s.group.isEmpty) Map.empty else listener.group(s.group))))
    result("oracle") = w.oracle
    result("digest_exprs") = Workload.DigestExprs
    Files.write(Paths.get(opt("out")), json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
