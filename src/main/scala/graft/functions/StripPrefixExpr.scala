package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's `stripPrefix`
  * (/root/reference/neo4j.go:130-138) — the one scalar function on the
  * write hot path (every prop key and ref URI of every entity passes
  * through it, A7). Stays inside whole-stage codegen via a static
  * helper call, with byte-level UTF8String scanning (no String
  * allocation): '#' and '/' are ASCII, so scanning raw bytes is
  * correct in UTF-8.
  */
case class StripPrefix(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "strip_prefix"

  override protected def nullSafeEval(v: Any): Any =
    StripPrefix.strip(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.StripPrefix$$.MODULE$$.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): StripPrefix =
    copy(child = newChild)
}

object StripPrefix {

  /** last segment after '#', else after '/', else identity — exact
    * Go semantics, scanning UTF-8 bytes right-to-left ('#' and '/'
    * are ASCII, so byte scanning is UTF-8-safe).
    */
  def strip(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var hash = -1
    var slash = -1
    var i = n - 1
    while (i >= 0 && hash < 0) {
      val b = s.getByte(i)
      if (b == '#') hash = i
      else if (b == '/' && slash < 0) slash = i
      i -= 1
    }
    val cut = if (hash >= 0) hash else slash
    if (cut < 0) s
    else {
      // UTF8String.substring takes CHARACTER indices: count the chars
      // (non-continuation bytes) before the separator's byte offset.
      var chars = 0
      var j = 0
      while (j <= cut) {
        if ((s.getByte(j) & 0xC0) != 0x80) chars += 1
        j += 1
      }
      s.substring(chars, chars + s.numChars())
    }
  }

  def apply(c: Column): Column =
    GraftColumnBridge.column(StripPrefix(GraftColumnBridge.expression(c)))

  /** register `strip_prefix` for SQL use on an existing session */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "strip_prefix", exprs => StripPrefix(exprs.head), "built-in")
}
