package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Kernel for [[SortedOverlapCount]]: the MULTISET product-overlap of two
 * SORTED long-array suffixes — `|{ (i, j) : larr[i] == rarr[j], i >= lStart-1,
 * j >= rStart-1 }|` (starts are 1-based, mirroring `slice`), the same
 * join-count semantics as [[SuffixOverlapKernels.overlap]], specialized for
 * pre-sorted primitive input.
 *
 * A two-pointer merge over runs: equal runs of lengths a and b contribute
 * a·b matches and both pointers jump the run, so the whole count is
 * O(n + m) primitive comparisons with zero allocation — vs the generic
 * kernel's O(n·m) string-equality loop (or its HashMap path's boxing +
 * murmur churn). A start that cuts a run counts only the run's part from
 * the start on, exactly as the generic kernel does.
 *
 * Callers: the filtered Jaccard joins' suffix verification over dense token
 * ranks (each record's ascending rank array, so position = index + 1), and
 * the hashed MinHash verification over whole arrays (starts 1). On the 8×
 * stress corpus's MinHash verification (18.4M pairs × ~40-token docs) the
 * generic kernel's 1600-comparison string loop was the whole stage's CPU.
 *
 * Sortedness is the caller's contract (produced via `sort_array`); unsorted
 * input silently undercounts. Nulls never match, mirroring the generic
 * kernel; no caller produces them.
 */
object SortedOverlapKernels {

  def overlap(larr: ArrayData, rarr: ArrayData): Long = overlap(larr, rarr, 1, 1)

  def overlap(larr: ArrayData, rarr: ArrayData, lStart: Int, rStart: Int): Long = {
    val ln = larr.numElements()
    val rn = rarr.numElements()
    var i = math.max(0, lStart - 1)
    var j = math.max(0, rStart - 1)
    var cnt = 0L
    while (i < ln && j < rn) {
      if (larr.isNullAt(i)) i += 1
      else if (rarr.isNullAt(j)) j += 1
      else {
        val a = larr.getLong(i)
        val b = rarr.getLong(j)
        if (a < b) i += 1
        else if (b < a) j += 1
        else {
          var ri = i + 1
          while (ri < ln && !larr.isNullAt(ri) && larr.getLong(ri) == a) ri += 1
          var rj = j + 1
          while (rj < rn && !rarr.isNullAt(rj) && rarr.getLong(rj) == a) rj += 1
          cnt += (ri - i).toLong * (rj - j).toLong
          i = ri
          j = rj
        }
      }
    }
    cnt
  }
}

/**
 * Native Catalyst expression: multiset overlap count of two SORTED long
 * arrays from 1-based start positions. See [[SortedOverlapKernels.overlap]].
 * Participates in whole-stage codegen via a static kernel call — the
 * per-candidate hot instruction of every filtered Jaccard join and of the
 * hashed (xxhash64-family) MinHash verification path.
 */
case class SortedOverlapCount(first: Expression, second: Expression,
                              third: Expression, fourth: Expression)
    extends QuaternaryExpression with QuaternaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArr(e: Expression): Boolean = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (isLongArr(first) && isLongArr(second) &&
        third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>, int, int), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_overlap"

  override protected def nullSafeEval(a: Any, b: Any, ls: Any, rs: Any): Any =
    SortedOverlapKernels.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      ls.asInstanceOf[Int], rs.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, ls, rs) =>
      s"${ev.value} = graft.expressions.SortedOverlapKernels.overlap($a, $b, $ls, $rs);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object SortedOverlapCount {
  /** Whole-array overlap (both starts 1). */
  def apply(left: Expression, right: Expression): SortedOverlapCount =
    SortedOverlapCount(left, right, Literal(1), Literal(1))
}
