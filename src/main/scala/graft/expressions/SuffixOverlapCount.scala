package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Kernel for [[SuffixOverlapCount]]: the MULTISET overlap of two string-array
 * suffixes — `|{ (i, j) : larr[i] == rarr[j], i >= lStart-1, j >= rStart-1 }|`
 * (starts are 1-based, mirroring `slice`). This is exactly the reference
 * verification's join-count: for duplicate-free suffixes it equals
 * `size(array_intersect(lsuf, rsuf))`, and with duplicates it is the
 * cross-product count the relational GROUP BY produces.
 *
 * Serves `graft_suffix_overlap` and the md5-family verification of
 * [[graft.operators.Dedup]]; the filtered Jaccard joins verify over dense
 * integer ranks with [[SortedOverlapKernels]] instead.
 *
 * Hybrid strategy: a nested byte-equality loop when the PRODUCT of the two
 * suffix lengths is small (one string handle per element, none per
 * comparison), else one count-map build + probe. Either way it replaces, per
 * candidate pair: two `slice` array copies, an `array_intersect` hash set,
 * and (bag path) two `array_distinct` probes plus an INTERPRETED
 * higher-order fold.
 *
 * The crossover is product-based, not length-based: the nested loop's inner
 * step is one UTF8String byte-equality (~ns for q-gram-sized tokens, no
 * allocation), while the map path pays a HashMap allocation, per-token
 * murmur hashes and Integer boxing — ~two orders of magnitude per op. A
 * length-8 cutoff sent every q-gram join pair (suffixes ~16 tokens) down
 * the map path; on a 15M-candidate R×S join that was ~40 μs/pair of pure
 * HashMap churn — the entire query's CPU (measured via thread sampling).
 * With the product bound, 16×16 suffixes run the 256-comparison loop in
 * ~1 μs and only genuinely long suffix pairs (documents) pay for a map.
 *
 * Null elements never match (mirrors `y === x` three-valued logic and the
 * pipelines never emit null tokens).
 */
object SuffixOverlapKernels {

  private final val NestedLoopMaxProduct = 4096L

  def overlap(larr: ArrayData, rarr: ArrayData, lStart: Int, rStart: Int): Long = {
    val ln = larr.numElements()
    val rn = rarr.numElements()
    val li0 = math.max(0, lStart - 1)
    val ri0 = math.max(0, rStart - 1)
    if (li0 >= ln || ri0 >= rn) return 0L
    var cnt = 0L
    if ((ln - li0).toLong * (rn - ri0).toLong <= NestedLoopMaxProduct) {
      // read the right suffix's strings once: `getUTF8String` allocates a
      // handle per call, which must not happen per comparison
      val rsuf = new Array[UTF8String](rn - ri0)
      var j = ri0
      while (j < rn) {
        rsuf(j - ri0) = rarr.getUTF8String(j)
        j += 1
      }
      var i = li0
      while (i < ln) {
        val v = larr.getUTF8String(i)
        if (v != null) {
          var k = 0
          while (k < rsuf.length) {
            val w = rsuf(k)
            if (w != null && v.equals(w)) cnt += 1
            k += 1
          }
        }
        i += 1
      }
    } else {
      val counts = new java.util.HashMap[UTF8String, Integer](math.max(8, (rn - ri0) * 2))
      var j = ri0
      while (j < rn) {
        val w = rarr.getUTF8String(j)
        if (w != null) {
          val c = counts.get(w)
          counts.put(w, if (c == null) 1 else c + 1)
        }
        j += 1
      }
      var i = li0
      while (i < ln) {
        val v = larr.getUTF8String(i)
        if (v != null) {
          val c = counts.get(v)
          if (c != null) cnt += c.intValue()
        }
        i += 1
      }
    }
    cnt
  }
}

/**
 * Native Catalyst expression: multiset suffix-overlap count of two string
 * arrays from 1-based start positions. See [[SuffixOverlapKernels.overlap]].
 * Participates in whole-stage codegen via a static kernel call — this is the
 * per-candidate hot instruction of every filtered Jaccard join.
 */
case class SuffixOverlapCount(first: Expression, second: Expression,
                              third: Expression, fourth: Expression)
    extends QuaternaryExpression with QuaternaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isStrArr(e: Expression): Boolean = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (isStrArr(first) && isStrArr(second) &&
        third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>, int, int), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_suffix_overlap"

  override protected def nullSafeEval(a: Any, b: Any, ls: Any, rs: Any): Any =
    SuffixOverlapKernels.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      ls.asInstanceOf[Int], rs.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, ls, rs) =>
      s"${ev.value} = graft.expressions.SuffixOverlapKernels.overlap($a, $b, $ls, $rs);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
