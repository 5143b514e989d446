package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the 32-bit SimHash sketch — one pass
  * over the token array with primitive counters, replacing the
  * 32-aggregate expression tree of the declarative formulation (32 array
  * traversals per row). Bit-compatible with
  * [[graft.operators.TextDedup.simhash32Declarative]] and with the
  * DuckDB SQL oracle: token hash = first 8 hex digits of md5(token),
  * each bit contributes ±1, sketch bit j set iff the sum is positive.
  *
  * `CodegenFallback` keeps surrounding operators inside whole-stage
  * codegen; the expression itself is a tight JVM loop (MessageDigest is
  * allocated per-eval — cheap relative to hashing; a doGenCode variant
  * could hoist it, not needed at current profile).
  */
case class SimHash32Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash32 needs array<string>, got ${other.simpleString(100)}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](32)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val token = arr.getUTF8String(i)
        md.reset()
        val digest = md.digest(token.getBytes)
        // first 8 hex digits of the md5 == first 4 bytes, big-endian
        val h = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
          ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        var j = 0
        while (j < 32) {
          counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

object SimHash32Expr {
  /** Column API. */
  def simhash32(tokens: Column): Column =
    ColumnBridge.column(SimHash32Expr(ColumnBridge.expression(tokens)))

  /** SQL registration: `SELECT simhash32(tokens) FROM …`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash32", exprs => SimHash32Expr(exprs.head), "scala_udf")
}
