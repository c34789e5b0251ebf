package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Space-joined word n-gram shingles of a string array, optionally
  * first-occurrence-distinct.
  *
  * Semantically identical to
  * `array_distinct(transform(sequence(1, size-n+1), i ->
  * array_join(slice(toks, i, n), " ")))`, but that declarative form
  * costs one interpreted lambda + slice allocation + join per gram
  * (~1 ms per 150-token document — it dominated the dedup queries).
  * This expression builds all grams in one pass over the ArrayData
  * with UTF8String.concatWs (no boxing, no per-gram closures);
  * distinctness uses a single hash set over UTF8String keys.
  *
  * doGenCode calls `compute`, so its operator stays in whole-stage
  * codegen (a CodegenFallback expression would take the whole
  * operator out — the per-row signature kernel over these grams too).
  */
case class WordNGrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with Serializable {

  require(n >= 1, "n-gram size must be >= 1")

  private val SPACE = UTF8String.fromString(" ")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val ref = ctx.addReferenceObj("wordNGrams", this, classOf[WordNGrams].getName)
      s"${ev.value} = $ref.compute($toks);"
    })

  /** Exposed for generated code. */
  def compute(toks: ArrayData): ArrayData = {
    val sz = toks.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) { words(i) = toks.getUTF8String(i); i += 1 }
    if (!distinct) {
      val out = new Array[Any](m)
      var g = 0
      while (g < m) {
        out(g) = UTF8String.concatWs(SPACE, java.util.Arrays.copyOfRange(words, g, g + n): _*)
        g += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var g = 0
      while (g < m) {
        seen.add(UTF8String.concatWs(SPACE, java.util.Arrays.copyOfRange(words, g, g + n): _*))
        g += 1
      }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

object NGramExpr {
  def wordNGrams(toks: Column, n: Int, distinct: Boolean): Column =
    Shim.column(WordNGrams(Shim.expression(toks), n, distinct))
}
