package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Karp–Rabin polynomial rolling hash of a
  * string (`h = Σ byte_i · 31^(n-1-i) mod 1e9+7`) — the document
  * fingerprint primitive for shingle/near-dup pipelines (SURVEY §2 K).
  *
  * Why a custom `Expression` (SURVEY §4.2 decision ladder): built-ins
  * can express this only by exploding characters into rows and running a
  * windowed fold — a shuffle per document. As an expression it is one
  * codegen'd loop per row: no shuffle, vectorization-friendly, usable in
  * any projection/filter. `doGenCode` keeps it inside whole-stage
  * codegen (interpreted `nullSafeEval` is the fallback path only).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  protected override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xFF)) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Mod = 1000000007L

  /** Reference implementation (shared by interpreted eval and tests). */
  def hash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xFF)) % Mod
      i += 1
    }
    h
  }
}

/** Registration shims: as a session extension (cluster deploy:
  * `spark.sql.extensions=graft.plans.GraftExtensions`) or imperatively
  * at runtime (the driver builds its own session).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.rollingHashDescriptor)
    ext.injectFunction(VecDot.longDescriptor)
    ext.injectFunction(VecDot.floatDescriptor)
    ext.injectFunction(VecDot.intersectDescriptor)
  }
}

object GraftFunctions {
  val rollingHashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head))

  /** Idempotent runtime registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    val (id, info, builder) = rollingHashDescriptor
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}
