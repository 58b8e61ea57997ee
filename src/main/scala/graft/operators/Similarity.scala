package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.PersistTracker.TrackedPersist

/**
 * Similarity search over embedding columns (`Array[Float]`).
 *
 * [[topKExact]] is the brute-force baseline: broadcast the (small) query set
 * against the corpus, cosine in double precision via the native codegen'd
 * [[graft.expressions.CosineSim]] (a sequential ascending fold, so results
 * are bit-reproducible and match a SQL oracle computing the same fold).
 *
 * [[topKLsh]] is the scale path: random-hyperplane LSH buckets the corpus so
 * candidates only form inside a query's bucket (plus optional multi-probe
 * neighbors at Hamming distance 1). At 100 TB the bucketed variant turns an
 * O(|Q|·|C|) cross product into |buckets| independent partitions; buckets are
 * hash-partitioned and skew-split by AQE. Recall is tunable via number of
 * planes / probes; the exact variant stays the correctness oracle.
 *
 * Embedding dedup ([[nearDuplicates]]) reuses the same LSH bucketing with a
 * high cosine threshold.
 *
 * This is the exact-vector core only: no registry query reads embeddings,
 * and there is no IVF, PQ or stored-index path. The operators are library
 * API over caller-supplied vector columns.
 */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in DOUBLE with a
    * sequential ascending fold (deterministic, oracle-matchable). Backed by
    * the native codegen'd [[graft.expressions.CosineSim]] — bit-identical to
    * [[cosineHof]] (CosineSimSpec proves it) but compiled into whole-stage
    * codegen instead of interpreted per element. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.CosineSim(
        org.apache.spark.sql.GraftExpressionBridge.expression(a),
        org.apache.spark.sql.GraftExpressionBridge.expression(b)))

  /** The higher-order-function form of [[cosine]] — kept as the reference
    * implementation for the bit-equality property test (HOFs are interpreted,
    * so the native expression above is the hot-path form). */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    def fold(arr: Column): Column = aggregate(arr, lit(0.0d), (acc, x) => acc + x)
    val dot = fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = fold(transform(a, x => x.cast("double") * x.cast("double")))
    val nb = fold(transform(b, x => x.cast("double") * x.cast("double")))
    dot / (sqrt(na) * sqrt(nb))
  }

  /**
   * Distributed grouped top-k ranking — the ANN family's shared final stage.
   * Input: a scored frame with (query_id, neighbor_id, dist) where smaller
   * dist ranks first (descending metrics negate — IEEE negation is exact, so
   * `sim DESC, id` == `-sim ASC, id`). Output: (query_id, neighbor_id, rank)
   * with rank 1..k by (dist, neighbor_id).
   *
   * This replaces the former `row_number() OVER (PARTITION BY query_id)`
   * windows, which funneled a group's ENTIRE distance stream into the one
   * task ranking that group — at 1e9 corpus rows, one straggler task per
   * query scanning the full corpus. The [[graft.expressions.DistTopK]] aggregate ranks in two
   * bounded steps instead: partial k-capped heaps map-side (state ≤ k pairs
   * per group per partition), an exchange that ships only those heaps, and a
   * final merge — shuffle volume O(k · partitions · |Q|), independent of
   * corpus size. Result-identical to the window form (total order, unique
   * top-k set).
   *
   * Callers must pre-dedup when one neighbor can be scored twice for a query
   * (the multi-table LSH union) — the heap has no set semantics.
   *
   * The aggregate carries the neighbor key as an opaque payload of its own
   * type, compared with Spark's interpreted (ORDER BY) ordering — so long,
   * string/UUID, date, binary… keys ALL rank through the bounded heap. No
   * key type ever plans `Window.partitionBy(query_id)` here.
   */
  private[graft] def rankTopKAsc(scored: DataFrame, k: Int): DataFrame = {
    val agg = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.DistTopK(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("dist")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("neighbor_id")),
        k).toAggregateExpression())
    scored.groupBy("query_id")
      .agg(agg.as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        (col("p") + 1).cast("long").as("rank"))
  }

  /**
   * Exact top-k cosine neighbors for each query vector.
   * Output: (query_id, neighbor_id, rank), rank 1..k by similarity desc with
   * id tie-break. The query side should be small — it is broadcast; the
   * corpus is scanned once and ranked via the bounded [[rankTopKAsc]]
   * aggregate (no per-query window straggler).
   */
  def topKExact(corpus: DataFrame, queries: DataFrame, key: String, vec: String,
                k: Int): DataFrame = {
    val q = broadcast(queries.select(col(key).as("query_id"), col(vec).as("qv")))
    val c = corpus.select(col(key).as("neighbor_id"), col(vec).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        negate(cosine(col("qv"), col("cv"))).as("dist"))
    rankTopKAsc(scored, k)
  }

  /**
   * Exact top-k squared-L2 neighbors — the distance twin of
   * [[topKExact]].
   * Output: (query_id, neighbor_id, rank), rank 1..k by distance asc, ties
   * by id.
   */
  def topKExactL2(corpus: DataFrame, queries: DataFrame, key: String,
                  vec: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(key).as("query_id"), col(vec).as("qv")))
    val c = corpus.select(col(key).as("neighbor_id"), col(vec).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2sq(col("qv"), col("cv")).as("dist"))
    rankTopKAsc(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane i derives
    * from a splitmix64-style mix of (i, j), mapped to [-1, 1]. No RNG state —
    * the same planes materialize on every executor and every run. */
  private[graft] def planeComponent(i: Int, j: Int): Double = {
    var z = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Random-hyperplane signature: bit i = sign(v · plane_i), as a long.
    * Backed by the native codegen'd [[graft.expressions.HyperplaneSig]] —
    * bit-identical buckets to [[lshBucketHof]] (spec-proven), compiled
    * instead of one interpreted fold per plane.
    *
    * `planeOffset` selects an independent plane family (table t of a
    * multi-table index uses offset t·planes, giving planes the single-table
    * form never draws — [[planeComponent]] is defined for all i). */
  def lshBucket(vec: Column, dim: Int, planes: Int, planeOffset: Int = 0): Column = {
    require(planes <= 63, "bucket fits in a long")
    val mat = Array.tabulate(planes, dim)((i, j) => planeComponent(planeOffset + i, j))
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.HyperplaneSig(
        org.apache.spark.sql.GraftExpressionBridge.expression(vec), mat))
  }

  /** Higher-order-function form of [[lshBucket]], kept as the reference
    * implementation for the bit-equality spec. */
  private[graft] def lshBucketHof(vec: Column, dim: Int, planes: Int): Column = {
    require(planes <= 63, "bucket fits in a long")
    val bits = (0 until planes).map { i =>
      val plane = array((0 until dim).map(j => lit(planeComponent(i, j))): _*)
      val dot = aggregate(zip_with(vec, plane, (x, p) => x.cast("double") * p),
        lit(0.0d), (acc, x) => acc + x)
      when(dot > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /**
   * LSH-bucketed approximate top-k over `tables` independent hyperplane
   * tables: table t hashes with plane family t·planes, and a candidate is any
   * corpus vector sharing the query's bucket in ANY table, or any bucket at
   * Hamming distance 1 of it (multi-probe). The union is exactly re-ranked
   * by cosine. Recall measured against [[topKExact]] in SimilaritySpec.
   *
   * The two knobs are the classic LSH trade: `planes` sets bucket
   * selectivity (size ~ n/2^planes — grow it with log₂(corpus) to keep
   * buckets bounded) and `tables` buys recall at linear candidate cost
   * (P[candidate] = 1-(1-p^planes)^tables per probe for bit-agreement
   * probability p). Measured on a 2000×64 clustered embedding table: one 12-plane table leaves ~6 candidates per query — recall@10
   * 0.03; 4×8 planes 0.43; 8×8 0.68; 8×6 0.92; 16×5 0.999. On a corpus this
   * small, high recall necessarily probes a large corpus fraction — the
   * index earns its keep once n/2^planes bounds bucket size at millions of
   * rows, which is exactly why `planes` must scale with the data.
   *
   * Scale shape: bucket ids are (table, signature)-folded longs, so the
   * candidate join hashes 8-byte keys; per-query fan-out is bounded by
   * tables × (planes+1) probe buckets regardless of corpus size.
   */
  def topKLsh(corpus: DataFrame, queries: DataFrame, key: String, vec: String,
              k: Int, dim: Int, planes: Int = 12, tables: Int = 1): DataFrame = {
    require(tables >= 1 && planes < 60, "table id must fit above the signature bits")
    // (table, sig) folded into one long: table id above the signature bits
    def buckets(v: Column): Seq[Column] = (0 until tables).map(t =>
      lshBucket(v, dim, planes, t * planes)
        .bitwiseOR(lit(t.toLong).multiply(lit(1L << planes))))
    val c = corpus.select(col(key).as("neighbor_id"), col(vec).as("cv"),
      explode(array(buckets(col(vec)): _*)).as("bucket"))
      .persistTracked
    // multi-probe: query probes its own bucket and every 1-bit flip of its
    // signature bits, in every table
    val q = queries.select(col(key).as("query_id"), col(vec).as("qv"),
        explode(array(buckets(col(vec)).flatMap(b =>
          b +: (0 until planes).map(i => b.bitwiseXOR(shiftleft(lit(1L), i)))): _*))
          .as("bucket"))
    // distinct BEFORE ranking: a candidate found via several tables/probes
    // would otherwise occupy several heap slots (rankTopKAsc's contract)
    val scored = q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        negate(cosine(col("qv"), col("cv"))).as("dist"))
      .distinct()
    rankTopKAsc(scored, k)
  }

  /** Squared-L2 distance of two float-array columns in DOUBLE with the
    * sequential ascending fold (the cosine rule: deterministic and
    * oracle-matchable against the same list_sum fold in SQL). Backed by the
    * native codegen'd [[graft.expressions.L2Sq]] — bit-identical to
    * [[l2sqHof]] (CosineSimSpec proves it) but compiled into whole-stage
    * codegen. */
  private[graft] def l2sq(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.L2Sq(
        org.apache.spark.sql.GraftExpressionBridge.expression(a),
        org.apache.spark.sql.GraftExpressionBridge.expression(b)))

  /** Higher-order-function form of [[l2sq]] — kept as the reference
    * implementation for the bit-equality spec. */
  private[graft] def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0d), (acc, x) => acc + x)

  /**
   * Symmetric per-vector int8 quantization — the storage/bandwidth prep step
   * of a large-scale embedding pipeline (4× smaller vectors to ship):
   *
   *   scale = max_j |v_j| / 127;   q_j = round(v_j / scale)  (0 when scale=0)
   *
   * Output: (id, scale, qvec array<int>, max_abs_err) where max_abs_err is
   * the per-vector dequantization error `max_j |v_j − q_j·scale|`. Pure
   * per-row expressions, zero shuffles; deterministic and SQL-expressible
   * (round is half-away-from-zero in Spark and DuckDB).
   *
   * The `explode(array(...))` wrapper is a materialization barrier: without
   * it CollapseProject inlines the scale aggregate into the downstream
   * per-element lambdas and the max runs once PER ELEMENT (the winnowing
   * O(n²) interpreted-eval trap — see TextAnalysis.winnowingFingerprints).
   */
  def quantizeInt8(corpus: DataFrame, key: String, vec: String): DataFrame = {
    val xd = (x: Column) => x.cast("double")
    val scaled = corpus.select(col(key).as("id"), col(vec).as("v"))
      .select(col("id"), col("v"),
        explode(array(array_max(transform(col("v"), x => abs(xd(x)))) / lit(127.0d)))
          .as("scale"))
    val qElem = (x: Column) =>
      when(col("scale") === 0d, lit(0)).otherwise(round(xd(x) / col("scale")).cast("int"))
    scaled.select(col("id"), col("scale"),
      transform(col("v"), x => qElem(x)).as("qvec"),
      array_max(transform(col("v"), x =>
        abs(xd(x) - qElem(x).cast("double") * col("scale")))).as("max_abs_err"))
  }

  /** Exact embedding near-duplicate pairs: all-pairs cosine ≥ the threshold;
    * (lid, rid, sim) with lid < rid. O(n²) BY DESIGN — the oracle/baseline for
    * [[nearDuplicates]]; use the LSH variant at scale.
    *
    * Guarded: refuses to plan the cartesian when the corpus exceeds `maxRows`
    * (the count is one cheap driver action over a columnar scan — nothing next
    * to the n² join it prevents). Raise the cap only for deliberate oracle
    * runs. */
  def nearDuplicatesExact(corpus: DataFrame, key: String, vec: String,
                          minCosine: Double, maxRows: Long = 100000L): DataFrame = {
    val n = corpus.count()
    require(n <= maxRows,
      s"nearDuplicatesExact is an all-pairs cartesian: corpus has $n rows > maxRows=$maxRows; " +
      "use nearDuplicates (LSH-bucketed) at scale, or raise maxRows for a deliberate oracle run")
    val c = corpus.select(col(key).as("id"), col(vec).as("v"))
    c.alias("a").join(c.alias("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("lid"), col("b.id").as("rid"),
        cosine(col("a.v"), col("b.v")).as("sim"))
      .where(col("sim") >= minCosine)
  }

  /** Embedding near-duplicate pairs: same-bucket candidates with cosine ≥ the
    * threshold; (lid, rid, sim) with lid < rid. */
  def nearDuplicates(corpus: DataFrame, key: String, vec: String,
                     minCosine: Double, dim: Int, planes: Int = 8): DataFrame = {
    val c = corpus.select(col(key).as("id"), col(vec).as("v"),
      lshBucket(col(vec), dim, planes).as("bucket"))
    c.alias("a").join(c.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("lid"), col("b.id").as("rid"),
        cosine(col("a.v"), col("b.v")).as("sim"))
      .where(col("sim") >= minCosine)
  }
}
