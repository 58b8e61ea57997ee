package graft

import org.apache.spark.sql.functions._

/** The native suffix-overlap kernel must reproduce the previous Column
  * formulation exactly: set path (slice + array_intersect) when both
  * suffixes are duplicate-free, multiset join-count otherwise. */
class SuffixOverlapSpec extends SparkSpec {
  import spark.implicits._

  test("kernel == previous slice/intersect/fold formulation on random bags") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("a", "b", "c", "dd", "ee", "fff") // small -> many dups
    val rows = Seq.fill(400) {
      val l = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
      val r = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
      // starts range past the array ends to hit the empty-suffix edges
      (l, r, 1 + rnd.nextInt(13), 1 + rnd.nextInt(13))
    }
    val df = rows.toDF("larr", "rarr", "ls", "rs")
    val lsuf = slice(col("larr"), col("ls"), size(col("larr")))
    val rsuf = slice(col("rarr"), col("rs"), size(col("rarr")))
    val dupFree = (size(array_distinct(lsuf)) === size(lsuf)) &&
      (size(array_distinct(rsuf)) === size(rsuf))
    val oldCnt = when(dupFree, size(array_intersect(lsuf, rsuf)).cast("long"))
      .otherwise(aggregate(lsuf, lit(0L),
        (acc, x) => acc + size(filter(rsuf, y => y === x)).cast("long")))
    val newCnt = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SuffixOverlapCount(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("larr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("rarr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("ls")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("rs"))))
    val diff = df.select(oldCnt.as("o"), newCnt.as("n"), col("larr"), col("rarr"), col("ls"), col("rs"))
      .where(col("o") =!= col("n"))
      .collect()
    assert(diff.isEmpty, s"first divergence: ${diff.headOption}")
  }

  test("sorted-long kernel == HOF product count on random sorted bags") {
    val rnd = new scala.util.Random(43)
    // tiny value domain -> heavy duplicate runs, the regime the run-jumping
    // merge must count as a*b products
    val rows = Seq.fill(400) {
      val l = Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong).sorted
      val r = Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong).sorted
      (l, r)
    }
    val df = rows.toDF("larr", "rarr")
    val hofCnt = aggregate(col("larr"), lit(0L),
      (acc, x) => acc + size(filter(col("rarr"), y => y === x)).cast("long"))
    val newCnt = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SortedOverlapCount(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("larr")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("rarr"))))
    val diff = df.select(hofCnt.as("o"), newCnt.as("n"), col("larr"), col("rarr"))
      .where(col("o") =!= col("n")).collect()
    assert(diff.isEmpty, s"first divergence: ${diff.headOption}")
  }

  test("sorted-long kernel directly: runs, empties, no overlap") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = new GenericArrayData(xs.toArray[Any])
    val k = graft.expressions.SortedOverlapKernels
    assert(k.overlap(arr(1L, 2L, 2L, 3L), arr(2L, 2L, 4L)) === 4L) // 2x2 run
    assert(k.overlap(arr(), arr(1L)) === 0L)
    assert(k.overlap(arr(1L), arr()) === 0L)
    assert(k.overlap(arr(1L, 3L), arr(2L, 4L)) === 0L)
    assert(k.overlap(arr(5L, 5L, 5L), arr(5L, 5L)) === 6L) // 3x2
  }

  test("sorted-suffix kernel == string kernel on random sorted bags and starts") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String.fromString
    val rnd = new scala.util.Random(47)
    // empty arrays, starts past the end, and starts inside duplicate runs
    val rows = Seq.fill(600) {
      val l = Seq.fill(rnd.nextInt(12))(rnd.nextInt(5).toLong).sorted
      val r = Seq.fill(rnd.nextInt(12))(rnd.nextInt(5).toLong).sorted
      (l, r, 1 + rnd.nextInt(l.size + 2), 1 + rnd.nextInt(r.size + 2))
    } ++ Seq(
      (Seq(1L, 2L, 2L, 2L, 3L), Seq(2L, 2L), 3, 1), // start cuts a run: 2 x 2
      (Seq(2L, 2L, 2L), Seq(2L, 2L, 2L), 2, 3), // 2 x 1
      (Seq.empty[Long], Seq(1L), 1, 1),
      (Seq(1L), Seq(1L), 2, 1)) // past the end
    def longs(xs: Seq[Long]) = new GenericArrayData(xs.toArray[Any])
    def strs(xs: Seq[Long]) = new GenericArrayData(xs.map(x => fromString(x.toString)).toArray[Any])
    for ((l, r, ls, rs) <- rows)
      assert(graft.expressions.SortedOverlapKernels.overlap(longs(l), longs(r), ls, rs) ===
        graft.expressions.SuffixOverlapKernels.overlap(strs(l), strs(r), ls, rs), (l, r, ls, rs))
    assert(graft.expressions.SortedOverlapKernels.overlap(
      longs(Seq(1L, 2L, 2L, 2L, 3L)), longs(Seq(2L, 2L)), 3, 1) === 4L)

    // the same through both expressions, codegen'd over unsafe arrays
    def expr(c: String) = org.apache.spark.sql.GraftExpressionBridge.expression(col(c))
    val df = rows.toDF("larr", "rarr", "ls", "rs")
      .withColumn("lstr", col("larr").cast("array<string>"))
      .withColumn("rstr", col("rarr").cast("array<string>"))
    val sorted = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SortedOverlapCount(expr("larr"), expr("rarr"), expr("ls"), expr("rs")))
    val string = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SuffixOverlapCount(expr("lstr"), expr("rstr"), expr("ls"), expr("rs")))
    val diff = df.select(sorted.as("n"), string.as("o"), col("larr"), col("rarr"), col("ls"), col("rs"))
      .where(col("n") =!= col("o")).collect()
    assert(diff.isEmpty, s"first divergence: ${diff.headOption}")
  }

  test("graft_suffix_overlap registers as a SQL function") {
    graft.Api.registerSqlFunctions(spark)
    val out = spark.sql(
      "SELECT graft_suffix_overlap(array('p','x','x','y'), array('x','x'), 2, 1) AS c")
      .head().getLong(0)
    assert(out === 4L)
  }

  test("kernel directly: multiset product on duplicate suffixes") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String.fromString
    def arr(xs: String*) = new GenericArrayData(xs.map(fromString).toArray[Any])
    val k = graft.expressions.SuffixOverlapKernels
    // suffixes: [x, x, y] vs [x, x] -> 2*2 = 4 matches
    assert(k.overlap(arr("p", "x", "x", "y"), arr("x", "x"), 2, 1) === 4L)
    // empty suffixes
    assert(k.overlap(arr("a"), arr("a"), 2, 1) === 0L)
    assert(k.overlap(arr("a"), arr("a"), 1, 5) === 0L)
    // long right side exercises the hash-map branch (> 8 elements)
    val long = arr(Seq.fill(20)("z") ++ Seq("q"): _*)
    assert(k.overlap(arr("z", "q"), long, 1, 1) === 21L)
  }
}
