package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** [[Bench.run]]'s timing loop on the shared test session: each query is
  * timed best-of-n with its first (cold) run and every run time kept, a
  * query that throws is named under `"failed"` and kept out of the total
  * instead of disappearing, and the untimed warm-up's wall time is kept
  * under `session.warmup_s`. */
class BenchSpec extends SparkSpec {
  import spark.implicits._

  test("Bench.run: best-of-n per query; a failing query is listed in failed, not in value") {
    val out = java.nio.file.Files.createTempFile("bench", ".json")
    val sfDir = java.nio.file.Files.createTempDirectory("bench-sf")
    try {
      // the warm-up reads the profile's documents table
      Seq((1L, "a b"), (2L, "b c d")).toDF("doc_id", "text")
        .write.parquet(s"$sfDir/documents.parquet")
      val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "five" -> ((s, _) => s.range(5).toDF()),
        "boom" -> ((_, _) => sys.error("boom")))
      val runs = 3
      val (line, failed) = Bench.run(spark, queries, runs, sfDir.toString, out.toString)
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
      assert(doc.select("session.warmup_s").as[Option[Double]].head().exists(_ >= 0))
    } finally {
      java.nio.file.Files.deleteIfExists(out)
      org.apache.commons.io.FileUtils.deleteQuietly(sfDir.toFile)
    }
  }
}
