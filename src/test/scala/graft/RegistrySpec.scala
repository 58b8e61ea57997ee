package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's name lists stay in step: every benched name and
  * every oracle entry names a registered query. A family cut that drops
  * registry entries but leaves a headline name or an oracle entry behind
  * fails here, with no Spark job. */
class RegistrySpec extends AnyFunSuite {

  test("every Bench headline and stress-headline name is a registered query") {
    val stale = (Bench.headline ++ Bench.stressHeadline).filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"not registered: ${stale.mkString(", ")}")
  }

  test("every oracle SQL entry names a registered query") {
    val orphans = SparkEntry.oracleSql.keys.filterNot(SparkEntry.queries.contains)
    assert(orphans.isEmpty, s"oracle entries without a query: ${orphans.mkString(", ")}")
  }
}
