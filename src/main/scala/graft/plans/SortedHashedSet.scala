package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** The sorted distinct xxhash64 set of a word array's n-grams —
  * `sort_array(array_distinct(transform(grams, g => xxhash64(g))))`,
  * with `grams` the space-joined windows of `n` consecutive words
  * ([[graft.operators.TextOps.wordNgrams]]), fused into one pass per
  * row: join each window into a reused byte buffer, hash it (Spark's
  * default-seed-42 XXH64, the identical public arithmetic the built-in
  * expression calls), sort the primitive longs, deduplicate in place,
  * emit an UnsafeArrayData. No intermediate n-gram string or array is
  * materialized.
  *
  * `n = 1` is the hashed word set: the per-document prep of every
  * sorted-merge-walk verify kernel ([[SortedIntersectCount]] in the
  * LSH-verified Jaccard, dense Jaccard, and prefix-containment
  * pipelines). `n = 3` is the decontamination shingle set
  * ([[graft.operators.DedupOps.decontaminate]]) — previously two
  * CodegenFallback `transform` lambdas (`concat_ws(slice(…))`, then
  * `xxhash64`), each allocating per n-gram.
  *
  * Set equality with the composed form is exact: same bytes hashed per
  * gram, same distinct set, same ascending order (a sorted set has one
  * representation). Edge semantics:
  *  - a row with fewer than `n` words yields an empty array (the
  *    composed form needs a `size >= n` guard, because `sequence`
  *    descends on a negative bound);
  *  - a null word inside a window is skipped when joining, as
  *    `concat_ws` skips it (`[a, null, b]` hashes as `"a b"`);
  *  - a window whose words are ALL null contributes no hash. For
  *    `n = 1` that is the composed form's null element, which
  *    sort_array would keep first; for `n > 1` the composed form would
  *    hash `""`. Every caller feeds `split(text, " ")`, which never
  *    yields null elements — the deviations-only-off-invariant
  *    contract as [[VecDotBase]].
  *
  * `n` is a foldable INT, default 1 (`sorted_hashed_set(ws)` in SQL);
  * a non-literal `n` or `n < 1` fails analysis.
  */
case class SortedHashedSet(child: Expression, nExpr: Expression) extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_hashed_set"

  private lazy val n: Int = nExpr.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (!nExpr.foldable || nExpr.dataType != IntegerType || nExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal INT n-gram width, got ${nExpr.sql}")
    else if (n < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an n-gram width n >= 1, got $n")
    else child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an ARRAY<STRING> input, got ${t.catalogString}")
    }

  /** One fused pass; public so the generated code can call it. */
  def compute(words: ArrayData): ArrayData = {
    val len = words.numElements()
    val hashes = new Array[Long](math.max(0, len - n + 1))
    var m = 0
    var buf = SortedHashedSet.scratch.get()
    var j = 0
    while (j < hashes.length) {
      // join window j..j+n-1 as concat_ws(" ", …) does: nulls skipped,
      // one separator between consecutive non-null words (even empty)
      var pos = 0
      var joined = false
      var k = j
      while (k < j + n) {
        if (!words.isNullAt(k)) {
          val w = words.getUTF8String(k)
          val need = pos + 1 + w.numBytes
          if (need > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(need, 2 * buf.length))
            SortedHashedSet.scratch.set(buf)
          }
          if (joined) { buf(pos) = ' '; pos += 1 }
          w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += w.numBytes
          joined = true
        }
        k += 1
      }
      if (joined) {
        hashes(m) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, pos, 42L)
        m += 1
      }
      j += 1
    }
    java.util.Arrays.sort(hashes, 0, m)
    // in-place dedup over the sorted prefix
    var out = 0
    var i = 0
    while (i < m) {
      if (out == 0 || hashes(i) != hashes(out - 1)) {
        hashes(out) = hashes(i)
        out += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hashes, out))
  }

  protected override def nullSafeEval(a: Any, unusedN: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val ref = ctx.addReferenceObj("sortedHashedSet", this,
        classOf[SortedHashedSet].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, nExpr = newRight)
}

object SortedHashedSet {
  /** Per-thread n-gram join buffer, grown on demand and kept: one
    * allocation per task thread, not one per n-gram.
    */
  private val scratch = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](256))

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("sorted_hashed_set"),
      new ExpressionInfo(classOf[SortedHashedSet].getName, "sorted_hashed_set"),
      (children: Seq[Expression]) => SortedHashedSet(children(0),
        children.lift(1).getOrElse(Literal(1))))

  /** Column-API entry; registers idempotently like [[VecDot]]. */
  def sortedHashedSet(words: Column, n: Int = 1): Column = {
    val spark = SparkSession.active
    spark.sessionState.functionRegistry.registerFunction(
      descriptor._1, descriptor._2, descriptor._3)
    org.apache.spark.sql.functions.call_function("sorted_hashed_set", words,
      org.apache.spark.sql.functions.lit(n))
  }
}
