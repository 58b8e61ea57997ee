package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** [[Bench.run]]'s timing loop on the shared test session: each query is
  * timed best-of-n with its first (cold) run and every run time kept, and a
  * query that throws is named under `"failed"` and kept out of the total
  * instead of disappearing. */
class BenchSpec extends SparkSpec {
  import spark.implicits._

  test("Bench.run: best-of-n per query; a failing query is listed in failed, not in value") {
    val out = java.nio.file.Files.createTempFile("bench", ".json")
    try {
      val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "five" -> ((s, _) => s.range(5).toDF()),
        "boom" -> ((_, _) => sys.error("boom")))
      val runs = 3
      val (line, failed) = Bench.run(spark, queries, runs, "in-memory", out.toString)
      assert(failed == Seq("boom"))

      val l = spark.read.json(Seq(line).toDS())
      assert(l.select("failed").as[Seq[String]].head() == Seq("boom"))
      assert(l.select("queries.*").columns.toSeq == Seq("five"))
      val (value, five) = l.select("value", "queries.five").as[(Double, Double)].head()
      assert(five >= 0 && value == five)
      assert(l.select("artifact").as[String].head() == out.toString)

      val doc = spark.read.json(out.toString)
      assert(doc.select("failed").as[Seq[String]].head() == Seq("boom"))
      val floors = doc.select("queries_floor.*")
      assert(floors.columns.toSeq == Seq("five"))
      assert(floors.columns.forall(q => doc.select(col(s"queries_floor.$q.n")).as[Long].head() == runs))
      // the cold number and every run time sit next to the best-of-n floor
      val (sec, first, all) = doc.select("queries_floor.five.sec", "queries_floor.five.first",
        "queries_floor.five.runs").as[(Double, Double, Seq[Double])].head()
      assert(all.length == runs)
      assert(sec == all.min)
      assert(first == all.head)
      assert(five == sec)
      assert(doc.select("session.cpus").as[Long].head() == spark.sparkContext.defaultParallelism)
    } finally java.nio.file.Files.deleteIfExists(out): Unit
  }
}
