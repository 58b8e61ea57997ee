package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import scala.util.Random

/** Dense token ranks ([[JaccardJoin.rankTokens]]) replace the per-record
  * `row_number` over `(df, token)`: they must induce the same order in every
  * record, keep R×S widow tokens last (set mode; in bag mode they follow the
  * df products), and be a deterministic function of
  * the data, so frames recomputed through separate lineages agree. */
class TokenRankSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with AQE partition coalescing off, so the vocabulary sort
    * spreads over every shuffle partition. */
  private def uncoalesced[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Sorted rows; a binary column (the md5 value ids) compares as hex. */
  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(c => if (df.schema(c).dataType == BinaryType) hex(col(c)) else col(c)): _*)
      .collect().map(_.toSeq).toSeq
      .sortBy(_.map(String.valueOf).mkString("\u0000"))

  test("per-record rank order == row_number over (df, token), binary tie-break") {
    // equal-df ties, case variants ('T' < 't') and a two-byte é after z
    val recs = Seq(
      1L -> Seq("The", "the", "z", "é", "a"),
      2L -> Seq("the", "z", "é", "b"),
      3L -> Seq("The", "é", "a", "b", "c"),
      4L -> Seq("zz", "z", "é", "éa", "The"))
    val tokens = recs.flatMap { case (id, ts) => ts.map(t => (id, t)) }.toDF("id", "token")
    val dfreq = tokens.groupBy("token").agg(count(lit(1)).as("df"))
    val old = tokens.join(dfreq, "token").withColumn("pos",
      row_number().over(Window.partitionBy("id").orderBy("df", "token")))
    for (partitions <- Seq(false, true)) {
      val ranks = if (partitions) uncoalesced(JaccardJoin.rankTokens(dfreq).collect())
        else JaccardJoin.rankTokens(dfreq).collect()
      // dense, and in (df, unsigned-byte token) order
      val byRank = ranks.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq === byRank.indices.map(_.toLong))
      val expected = ranks.sortWith { (a, b) =>
        val (da, db) = (a.getAs[Long]("df"), b.getAs[Long]("df"))
        da < db || (da == db && java.util.Arrays.compareUnsigned(
          a.getAs[String]("token").getBytes("UTF-8"), b.getAs[String]("token").getBytes("UTF-8")) < 0)
      }
      assert(byRank.map(_.getAs[String]("token")).toSeq === expected.map(_.getAs[String]("token")).toSeq)
      val rankDf = ranks.map(r => (r.getAs[String]("token"), r.getAs[Long]("rank"))).toSeq
        .toDF("token", "rank")
      val fresh = tokens.join(rankDf, "token").withColumn("pos",
        row_number().over(Window.partitionBy("id").orderBy("rank")))
      assert(rows(fresh, "id", "token", "pos") === rows(old, "id", "token", "pos"))
    }
  }

  test("rsJoin's ranks put every widow token after every shared token") {
    val l = Seq(1L -> "alpha beta gamma", 2L -> "beta delta", 3L -> "lone words here")
      .toDF("id", "val")
    val r = Seq(10L -> "alpha beta", 11L -> "gamma delta only", 12L -> "beta")
      .toDF("id", "val")
    val placeholder = l.count() * r.count() + 1
    val (_, _, ranks) = JaccardJoin.rsRanks(l, "id", "val", r, "id", "val",
      WhitespaceTokenizer(), placeholder)
    val (widows, shared) = ranks.collect().partition(_.getAs[Long]("df") == placeholder)
    assert(widows.map(_.getAs[String]("token")).toSet ===
      Set("lone", "words", "here", "only"))
    assert(shared.map(_.getAs[String]("token")).toSet === Set("alpha", "beta", "gamma", "delta"))
    assert(shared.map(_.getAs[Long]("rank")).max < widows.map(_.getAs[Long]("rank")).min)
    Api.clearCache()
  }

  test("in bag mode a shared token's df product can pass the widow placeholder") {
    // df counts token rows: 'a' is 3 rows on each side, df 9 > placeholder 2
    val l = Seq(1L -> "a a a lone").toDF("id", "val")
    val r = Seq(10L -> "a a a").toDF("id", "val")
    val placeholder = l.count() * r.count() + 1
    val (_, _, ranks) = JaccardJoin.rsRanks(l, "id", "val", r, "id", "val",
      WhitespaceTokenizer(returnSet = false), placeholder)
    val byToken = ranks.collect().map(r =>
      r.getAs[String]("token") -> (r.getAs[Long]("df"), r.getAs[Long]("rank"))).toMap
    assert(byToken === Map("lone" -> (placeholder, 0L), "a" -> (9L, 1L)))
    Api.clearCache()
  }

  test("ranks and pairs are identical when a prep recomputes after Api.clearCache") {
    val rnd = new Random(7)
    val words = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen", "ibis", "jay")
    val table = (1L to 60L).map(i =>
      i -> Seq.fill(2 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" "))
      .toDF("id", "val")
    def arrs(p: JaccardJoin.SelfJoinPrep) =
      rows(p.varr.select(col("id"), concat_ws(",", col("arr").cast("array<string>")).as("arr")),
        "id", "arr")
    uncoalesced {
      Api.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val prep = JaccardJoin.prepareSelfDeduped(table, "id", "val", QGramsTokenizer(3))
      // the rank step leaves no cache of its own
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).size === 3)
      val tk = rows(prep.vtkdf, "id", "rank", "pos")
      val arr = arrs(prep)
      val pairs = pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.4))
      val rs = pairSet(JaccardJoin.rsJoin(table, "id", "val", table, "id", "val",
        QGramsTokenizer(3), 0.4))
      assert(pairs.nonEmpty)
      Api.clearCache()
      // vtkdf and varr recompute through their own lineages, each ranking anew
      assert(rows(prep.vtkdf, "id", "rank", "pos") === tk)
      assert(arrs(prep) === arr)
      assert(pairSet(JaccardJoin.selfJoinDedupedPrepared(prep, 0.4)) === pairs)
      // and a fresh prep over the same data ranks alike
      val again = JaccardJoin.prepareSelfDeduped(table, "id", "val", QGramsTokenizer(3))
      assert(rows(again.vtkdf, "id", "rank", "pos") === tk)
      assert(pairSet(JaccardJoin.rsJoin(table, "id", "val", table, "id", "val",
        QGramsTokenizer(3), 0.4)) === rs)
      Api.clearCache()
    }
  }
}
