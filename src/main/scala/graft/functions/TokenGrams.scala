package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** `token_grams(text, n)` — space-joined n-gram windows over the
  * lowercase-alnum token stream of `text`, as a native Catalyst
  * expression (the SimHash64 escalation path: real `doGenCode`, stays in
  * whole-stage codegen, no UDF serialization).
  *
  * Semantics are EXACTLY
  * `gramsExpr(regexp_extract_all(lower(text), '[a-z0-9]+', 0), n)`
  * — i.e. `TrainingSet.gramsExpr` over `Dedup.tokensCol` — asserted
  * against the expression form in TokenGramsSpec:
  *   - lowercase via `UTF8String.toLowerCase` (identical to `lower()`),
  *   - tokens are maximal runs of [a-z0-9] (bytewise scan is exact on
  *     UTF-8: these code points never occur inside a multi-byte
  *     sequence),
  *   - windows i = 0 .. numToks-n joined with a single space,
  *   - fewer than n tokens → empty array (NOT null),
  *   - null text → null (the fixture corpora carry no null text; the
  *     regexp form is also null-in/null-out there).
  *
  * `n = 1` is the plain token array (`Dedup.tokensCol` twin).
  *
  * `TokenGrams.ofUtf8` is also the one tokenizer of the signature kernels:
  * `Dedup`'s MinHash bands take its 3-grams and `SimHash64` its tokens.
  *
  * Why it exists (guide §1.2 step 2, "per-task work"): the tokenize +
  * per-window `slice`+`concat_ws` expression chain dominates the CPU of
  * every gram-shaped operator (substring dedup, decontamination, bigram
  * repetition, LM scoring). One fused pass builds each output gram with a
  * single byte copy — no regex engine, no per-window array slicing.
  */
case class TokenGrams(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"token_grams requires a string text argument, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("token_grams requires a literal int n")
    else right.eval() match {
      // rejected here: in executors n < 1 sizes a gram buffer negative
      case n: Int if n < 1 =>
        TypeCheckResult.TypeCheckFailure(s"token_grams requires n >= 1, got $n")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_grams"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    TokenGrams.ofUtf8(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.functions.TokenGrams.ofUtf8($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenGrams =
    copy(left = newLeft, right = newRight)
}

object TokenGrams {

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Called from generated code — static-shaped, total. */
  def ofUtf8(text: UTF8String, n: Int): ArrayData = {
    // identical lowercase semantics to the `lower()` expression
    val b = text.toLowerCase.getBytes
    val len = b.length
    // token spans as (start, end) offsets into b. [a-z0-9] are ASCII and
    // never appear as UTF-8 continuation bytes, so a bytewise scan finds
    // exactly the runs the regex form finds on the lowercased string.
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val s0 = i
        i += 1
        while (i < len && {
          val d = b(i); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s0
        ends(nTok) = i
        nTok += 1
      } else i += 1
    }
    if (nTok < n) return Empty
    val m = nTok - n + 1
    val out = new Array[Any](m)
    var w = 0
    while (w < m) {
      var glen = n - 1 // spaces
      var k = w
      val end = w + n
      while (k < end) { glen += ends(k) - starts(k); k += 1 }
      val g = new Array[Byte](glen)
      var pos = 0
      k = w
      while (k < end) {
        val tl = ends(k) - starts(k)
        System.arraycopy(b, starts(k), g, pos, tl)
        pos += tl
        if (k + 1 < end) { g(pos) = ' '; pos += 1 }
        k += 1
      }
      out(w) = UTF8String.fromBytes(g)
      w += 1
    }
    new GenericArrayData(out)
  }

  val info = new ExpressionInfo(classOf[TokenGrams].getName, null, "token_grams")

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("token_grams"), info,
      (children: Seq[Expression]) => TokenGrams(children(0), children(1)))

  /** Column-API helper: registers on the thread's active session lazily is
    * NOT possible from a pure Column, so operators call `expr(...)` after
    * `register`; this wrapper centralizes both.
    */
  def tokenGrams(s: SparkSession, text: Column, n: Int): Column = {
    register(s)
    org.apache.spark.sql.functions.call_function(
      "token_grams", text, org.apache.spark.sql.functions.lit(n))
  }
}
