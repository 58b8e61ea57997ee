package graft

import graft.operators._

/** The reference-shaped, name-based API: tables in the catalog, results as
  * temp views, connection-in/connection-out (reference jaccard_join.py:9-33,
  * exam.ipynb cells 11-12 golden outputs). */
class ApiSpec extends SparkSpec {

  private val ws = WhitespaceTokenizer()

  private def loadPurchases(): Unit =
    spark.read.option("header", true).option("inferSchema", true)
      .csv("data/fixtures/purchases.csv")
      .createOrReplaceTempView("purchases")

  test("jaccardJoin: name in, temp view out, reference golden orientation") {
    loadPurchases()
    val s = Api.jaccardJoin(spark, "purchases", "", "id", "id",
      "purchases", "purchases", ws, 0.5, outTable = "matches_api")
    assert(s eq spark)
    assert(pairSet(spark.table("matches_api")) === Set((3L, 5L), (6L, 2L)))
    Api.clear(spark, "matches_api")
    assert(!spark.catalog.tableExists("matches_api"))
  }

  test("jaccardJoinBruteForce golden + evaluate over views") {
    loadPurchases()
    Api.jaccardJoinBruteForce(spark, "purchases", "purchases", "id", "id",
      "purchases", "purchases", ws, 0.5, outTable = "bf_api")
    assert(pairSet(spark.table("bf_api")) === Set((2L, 6L), (3L, 5L)))
    Api.jaccardJoin(spark, "purchases", "", "id", "id",
      "purchases", "purchases", ws, 0.5, outTable = "sj_api")
    val m = Api.evaluate(spark, "bf_api", "sj_api", "l_id", "r_id", "l_id", "r_id")
    // same unordered pairs: tp = |sj|, no false positives/negatives
    assert(m === EvalMetrics(2, 0, 0, 1.0, 1.0, 1.0))
    Api.clear(spark, "bf_api", "sj_api", "purchases")
  }

  test("jaccardJoin dispatches to R x S when tables differ") {
    loadPurchases()
    spark.table("purchases").selectExpr("id + 100 AS rid", "purchases AS rtext")
      .createOrReplaceTempView("purchases_r")
    Api.jaccardJoin(spark, "purchases", "purchases_r", "id", "rid",
      "purchases", "rtext", ws, 0.9, outTable = "rs_api")
    val out = spark.table("rs_api")
    // every row pairs with its own shifted copy (J = 1.0)
    val cols = out.columns.toSet
    assert(cols.exists(_.endsWith("id")) && cols.exists(_.endsWith("rid")))
    assert(out.count() === 6L)
    Api.clear(spark, "rs_api", "purchases_r", "purchases")
  }

  test("registerSqlFunctions: SQL-named native functions == their column forms") {
    import spark.implicits._
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    import org.apache.spark.sql.functions.col
    Api.registerSqlFunctions(spark)
    val t = Seq(
      ("kitten", "sitting", Seq("a", "b", "b", "c"), Seq("b", "b", "c"), 2, 1),
      ("flaw", "lawn", Seq("x", "y"), Seq("y", "x"), 1, 1),
      ("same", "same", Seq("p", "q"), Seq("q"), 3, 1),
      ("", "abc", Seq.empty[String], Seq("z"), 1, 1))
      .toDF("l", "r", "la", "ra", "ls", "rs")
    t.createOrReplaceTempView("api_sql_fns")
    val bySql = spark.sql(
      """SELECT l, graft_levenshtein(l, r, 2) AS lev,
                graft_suffix_overlap(la, ra, ls, rs) AS ov
         FROM api_sql_fns""")
    val byColumn = t.select(col("l"),
      FuzzyJoin.boundedLev(col("l"), col("r"), 2).as("lev"),
      column(graft.expressions.SuffixOverlapCount(expression(col("la")),
        expression(col("ra")), expression(col("ls")), expression(col("rs")))).as("ov"))
    val rows = bySql.collect().toSet
    assert(rows === byColumn.collect().toSet)
    // kitten -> sitting is 3 edits, past the bound; flaw -> lawn is 2.
    // Overlap counts the multiset product of the two suffixes.
    assert(rows.map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap ===
      Map("kitten" -> (-1, 5L), "flaw" -> (2, 2L), "same" -> (0, 0L), "" -> (-1, 0L)))
    // the bound shapes the banded DP, so it must be a literal
    val err = intercept[Exception] {
      spark.sql("SELECT graft_levenshtein(l, r, ls) FROM api_sql_fns").collect()
    }
    assert(err.getMessage.contains("must be an integer literal"), err.getMessage)
    Api.clear(spark, "api_sql_fns")
  }
}
