package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's name lists stay in step: every benched name, every
  * oracle entry and every name the bench scripts hard-code names a
  * registered query. A family cut that drops registry entries but leaves a
  * name behind fails here, with no Spark job. */
class RegistrySpec extends AnyFunSuite {

  test("every Bench headline and stress-headline name is a registered query") {
    val stale = (Bench.headline ++ Bench.stressHeadline).filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"not registered: ${stale.mkString(", ")}")
  }

  test("every oracle SQL entry names a registered query") {
    val orphans = SparkEntry.oracleSql.keys.filterNot(SparkEntry.queries.contains)
    assert(orphans.isEmpty, s"oracle entries without a query: ${orphans.mkString(", ")}")
  }

  test("every query name hard-coded in tools/sf1_gate.sh and tools/duck_bench.py is registered") {
    def read(path: String): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val gate = """SPARK_GRAFT_QUERIES=([A-Za-z0-9_,]+)""".r
      .findAllMatchIn(read("tools/sf1_gate.sh")).flatMap(_.group(1).split(",")).toSeq
    val duckList = """(?s)DEFAULT_QUERIES = \[(.*?)\]""".r
      .findFirstMatchIn(read("tools/duck_bench.py")).map(_.group(1)).getOrElse("")
    val duck = "\"([^\"]+)\"".r.findAllMatchIn(duckList).map(_.group(1)).toSeq
    assert(gate.nonEmpty && duck.nonEmpty, "no names found: has a list's format changed?")
    val stale = (gate ++ duck).distinct.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"not registered: ${stale.mkString(", ")}")
  }
}
