package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TokenGrams
import graft.operators.{Dedup, TrainingSet}

/** The optimization contract of the native `token_grams` expression: for
  * every n used by an operator (1 = tokens, 2 = bigrams, 3 = shingles,
  * 13 = decontamination grams, 16 = dedup windows) its output must equal
  * the round-5 expression form `gramsExpr(regexp_extract_all(lower(text),
  * '[a-z0-9]+'), n)` byte-for-byte — the queries it feeds are
  * oracle-hashed, so any divergence is a correctness regression, not a
  * perf detail.
  */
class TokenGramsSpec extends AnyFunSuite {

  private val s = TestSpark.spark
  import s.implicits._

  /** Adversarial inputs: case folding (incl. Unicode İ→i̇ whose lowercase
    * CONTAINS an ASCII letter, ß, Σ/ς), digits, punctuation runs, CJK,
    * empty/whitespace-only, single token, exactly-n tokens, long text.
    */
  private val texts = Seq(
    "",
    "   \t\n  ",
    "one",
    "Hello World FOO9 bar",
    "a b c d e f g h i j k l m n o p",
    "İstanbul STRASSE straße ΣΊΣΥΦΟΣ ς",
    "mixed123CASE456runs789",
    "!!!***(((",
    "中文 text with 汉字 and ascii42",
    "ends with separator ",
    " starts with separator",
    "tabs\tand\nnewlines\r\nand  double  spaces",
    Seq.fill(300)("Tok9").mkString(" "),
    "ÀÉÎÕÜ àéîõü",
    "a1b2c3 D4E5F6"
  )

  private def bothForms(n: Int): Unit = {
    val df = texts.toDF("text")
    val rows = df.select(
      TokenGrams.tokenGrams(s, col("text"), n).as("fast"),
      TrainingSet.gramsExpr(Dedup.tokensCol(col("text")), n).as("slow"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"n=$n diverged on input ${t.take(40)}: fast=${r.getSeq[String](0).take(5)} " +
          s"slow=${r.getSeq[String](1).take(5)}")
    }
  }

  test("token_grams(text, n) == gramsExpr(tokensCol(text), n) for every operator n") {
    Seq(1, 2, 3, 13, 16).foreach(bothForms)
  }

  test("token_grams(text, 1) == tokensCol(text) (plain token array)") {
    val df = texts.toDF("text")
    df.select(TokenGrams.tokenGrams(s, col("text"), 1).as("fast"),
        Dedup.tokensCol(col("text")).as("slow"))
      .collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("distinct 3-gram shingles match the shinglesExpr form on real docs") {
    val docs = graft.operators.Relational.table(s, TestSpark.sf0001, "documents")
    val n = docs.select(
        array_distinct(TokenGrams.tokenGrams(s, col("text"), 3)).as("fast"),
        col("text"))
      .select(col("fast"),
        Dedup.tokensCol(col("text")).as("toks"))
      .select(col("fast"), Dedup.shinglesExpr.as("slow"))
      .filter(not(col("fast") === col("slow")))
      .count()
    assert(n == 0L)
  }

  test("token_grams matches on the full smoke documents table for n=16") {
    val docs = graft.operators.Relational.table(s, TestSpark.sf0001, "documents")
    val n = docs.select(
        TokenGrams.tokenGrams(s, col("text"), 16).as("fast"),
        TrainingSet.gramsExpr(Dedup.tokensCol(col("text")), 16).as("slow"))
      .filter(not(col("fast") === col("slow")))
      .count()
    assert(n == 0L)
  }

  test("token_grams with n < 1 fails at analysis, not in executors") {
    for (n <- Seq(0, -3)) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        texts.toDF("text").select(TokenGrams.tokenGrams(s, col("text"), n)).collect()
      }
      assert(e.getMessage.contains(s"token_grams requires n >= 1, got $n"), e.getMessage)
    }
  }

  test("interpreted eval (no codegen) agrees with codegen path") {
    // nullSafeEval is exercised through a filter that defeats codegen:
    // build the expression directly and eval it
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = graft.functions.TokenGrams(
      Literal(UTF8String.fromString("Alpha beta GAMMA delta"),
        org.apache.spark.sql.types.StringType),
      Literal(2, org.apache.spark.sql.types.IntegerType))
    val out = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == 3)
    assert(out.getUTF8String(0).toString == "alpha beta")
    assert(out.getUTF8String(2).toString == "gamma delta")
  }
}
