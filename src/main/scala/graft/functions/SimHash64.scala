package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(text)` — 64-bit SimHash of a string's alnum token multiset,
  * as a native Catalyst expression (SURVEY.md §4.3's escalation path: a
  * scalar function the built-ins can't express, implemented as an
  * `Expression` with real `doGenCode` so it stays inside whole-stage
  * codegen — no UDF serialization, no interpreted fallback, and no typed
  * Dataset boundary: the text column is read straight off the internal
  * row as UTF8String).
  *
  * Semantics are identical to `graft.operators.Dedup.simhash` over the
  * tokens of `TokenGrams.ofUtf8(s, 1)` (asserted in OperatorsSpec):
  * lowercase [a-z0-9]+ runs, Charikar majority-vote over xxhash64(token)
  * bits, weighted by token count.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.ofUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.ofUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** Called from generated code — must stay a static-shaped, total fn. */
  def ofUtf8(s: UTF8String): Long = {
    // the tokens come from the shared TokenGrams tokenizer, so this and
    // every shingle path cannot drift
    val toks = TokenGrams.ofUtf8(s, 1)
    graft.operators.Dedup.simhash(Seq.tabulate(toks.numElements)(toks.getUTF8String(_).toString))
  }

  val info = new ExpressionInfo(classOf[SimHash64].getName, null, "simhash64")

  /** Register into an existing session (tests / REPL). For spark-submit,
    * set `spark.sql.extensions=graft.functions.GraftExtensions` instead.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash64"), info, (children: Seq[Expression]) => SimHash64(children.head))
}

/** Session extension installing the engine's native functions
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("simhash64"), SimHash64.info,
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((FunctionIdentifier("token_grams"), TokenGrams.info,
      (children: Seq[Expression]) => TokenGrams(children(0), children(1))))
  }
}
