package graft.expressions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/**
 * Bounded distributed TOP-K aggregate: the `k` smallest `(dist, id)` pairs of
 * a group, emitted ascending — the scale-correct form of
 * `row_number() OVER (PARTITION BY group ORDER BY dist, id) <= k`.
 *
 * The window form is a straggler factory at corpus scale: the exchange it
 * plans funnels EVERY scored row of a group into the single task that ranks
 * that group, so a 10-query ANN search over 1e9 corpus rows becomes 10 tasks
 * of 1e9 rows each. As a TypedImperativeAggregate this ranks in two bounded steps
 * instead: the PARTIAL aggregate keeps a k-capped heap per group per input
 * partition (state ≤ k pairs, updated in O(log k) per row map-side), the
 * exchange ships only those partial heaps (≤ k rows per group per partition
 * — independent of corpus size), and the FINAL merge folds them back to the
 * global top k. Same TakeOrdered idea that `ORDER BY … LIMIT k` plans get,
 * made per-group.
 *
 * The id rides the heap as an OPAQUE payload of its own Catalyst type,
 * compared with Spark's interpreted ordering for that type — so longs,
 * strings, UUIDs, dates, binary… all take this bounded path, with no
 * per-query window fallback for non-integral keys. Interpreted ordering is the SAME total order SQL
 * `ORDER BY` uses (strings compare byte-wise over UTF-8, matching DuckDB's
 * binary collation), so the top-k set — unique under a total order
 * regardless of partitioning or merge order — stays hash-stable and
 * oracle-checkable against the window form. Descending rankings (cosine
 * similarity) negate the score: `sim DESC, id` == `-sim ASC, id` (IEEE
 * negation is exact).
 *
 * Heap entries serialize through an UnsafeProjection over (double, idType) —
 * one fixed-schema row per entry — so shuffle bytes stay ≤ k rows per group
 * per partition for any key type.
 *
 * Null `dist`/`id` rows are skipped (the callers' join keys are non-null;
 * a null cosine from a null embedding element must simply not rank).
 */
case class DistTopK(dist: Expression, id: Expression, k: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Any)]] {

  require(k > 0, s"top-k needs k > 0, got $k")

  private def idType: DataType = id.dataType

  /** Ascending total order; the max-heap surfaces the WORST retained pair.
    * The key half is Spark's interpreted ordering for the id's type — the
    * ORDER BY order, shared with the SQL oracle. */
  @transient private lazy val ord: Ordering[(Double, Any)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering,
      TypeUtils.getInterpretedOrdering(idType))

  /** One fixed-schema unsafe row per heap entry for (de)serialization. */
  @transient private lazy val entryProj: UnsafeProjection =
    UnsafeProjection.create(Array[DataType](DoubleType, idType))

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Any)] =
    mutable.PriorityQueue.empty[(Double, Any)](ord)

  private def offer(buf: mutable.PriorityQueue[(Double, Any)],
                    e: (Double, Any)): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (ord.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
  }

  override def update(buf: mutable.PriorityQueue[(Double, Any)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Any)] = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null)
      // copy: eval may return a pointer into a reused row buffer (UTF8String
      // over an UnsafeRow), and the heap outlives the current input row
      offer(buf, (d.asInstanceOf[Double], InternalRow.copyValue(i)))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Any)],
                     other: mutable.PriorityQueue[(Double, Any)]): mutable.PriorityQueue[(Double, Any)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Any)]): Any =
    new GenericArrayData(buf.toArray.sorted(ord)
      .map { case (d, i) => InternalRow(d, i) })

  override def serialize(buf: mutable.PriorityQueue[(Double, Any)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 + 32 * buf.size)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (d, i) =>
      // getBytes copies out of the projection's reused buffer
      val bytes = entryProj(InternalRow(d, i)).getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Any)] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      val row = new UnsafeRow(2)
      row.pointTo(arr, len)
      // the value may point into `arr`; each entry owns its own array, so no
      // copy is needed — nothing reuses it
      buf.enqueue((row.getDouble(0), row.get(1, idType)))
      i += 1
    }
    buf
  }

  /** Fail at ANALYSIS for key types with no total order (MapType, …): the
    * interpreted ordering is otherwise first requested lazily inside a task,
    * surfacing as an opaque executor-side error instead of a plan-time one. */
  override def checkInputDataTypes(): TypeCheckResult =
    if (dist.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a DOUBLE dist, got ${dist.dataType.catalogString}")
    else if (!RowOrdering.isOrderable(idType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName ranks (dist, id) under a total order; id type " +
          s"${idType.catalogString} is not orderable")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("dist", DoubleType, nullable = false),
      StructField("id", idType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(dist, id)
  override def prettyName: String = "graft_dist_topk"

  override def withNewMutableAggBufferOffset(newOffset: Int): DistTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DistTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), id = newChildren(1))
}
