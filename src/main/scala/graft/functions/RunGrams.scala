package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused n-gram → sort → run-length folds over a token array, as single
  * codegen expressions — the repetition/Gopher signals of qL47/qL54 (and
  * qL59's map-side quality gate) without the interpreted-HOF tax.
  *
  * The declarative spelling — `runArgmax(array_sort(shingles(w, n)))` /
  * `dupRunChars(array_sort(shingles(w, n)))` — is value-identical
  * (spec-pinned in RunGramsSpec against the HOF formulation on random
  * input) but every piece of it is CodegenFallback: `shingles` is an
  * interpreted `transform` materializing one boxed string per gram,
  * `array_sort`'s comparator is an interpreted lambda invocation per
  * comparison, and the `aggregate` folds allocate a struct per element.
  * Per document that is thousands of interpreted expression evaluations —
  * measured as the dominant cost of the q_l54 feature table. Here the
  * whole chain is one O(grams · log grams) loop of UTF8String compares
  * inside whole-stage codegen, and the surrounding Project stays codegen
  * too, so the shared `split(lower(text))` subexpression is eliminated
  * across features instead of re-evaluated per interpreted island.
  *
  * Gram semantics match [[graft.operators.LLMOps.shingles]] exactly:
  * consecutive space-joined n-grams; a doc shorter than n tokens yields
  * ONE gram — the whole token array space-joined. n = 1 folds over the
  * tokens themselves (the max-token-frequency signal). Sort order is
  * UTF8String binary order — exactly `array_sort`'s StringType ordering.
  * Null elements are skipped: the grams are those of the non-null tokens.
  */
private[functions] object RunGrams {

  /** The non-null tokens of `arr`, in order. */
  def tokensOf(arr: ArrayData): Array[UTF8String] = {
    val out = Array.newBuilder[UTF8String]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) out += arr.getUTF8String(i)
      i += 1
    }
    out.result()
  }

  /** The sorted gram array for (tokens, n) — shared kernel. */
  def sortedGrams(arr: ArrayData, n: Int): Array[UTF8String] = {
    val toks = tokensOf(arr)
    val m = toks.length
    val grams =
      if (n <= 1) toks
      else if (m < n) {
        // short doc: one gram = all tokens space-joined (array_join)
        Array(UTF8String.concatWs(UTF8String.fromString(" "), toks: _*))
      } else {
        val out = new Array[UTF8String](m - n + 1)
        val window = new Array[UTF8String](n)
        var i = 0
        while (i < out.length) {
          System.arraycopy(toks, i, window, 0, n)
          out(i) = UTF8String.concatWs(UTF8String.fromString(" "), window: _*)
          i += 1
        }
        out
      }
    java.util.Arrays.sort(grams, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    grams
  }

  /** Most frequent gram as (cnt, gram); count ties keep the FIRST (=
    * smallest) gram — the strict-> promotion of the declarative fold.
    * Empty input folds to (0, "").
    */
  def topRun(arr: ArrayData, n: Int): GenericInternalRow = {
    val grams = sortedGrams(arr, n)
    var bestCnt = 0L
    var bestGram = UTF8String.EMPTY_UTF8
    var run = 0L
    var i = 0
    while (i < grams.length) {
      if (i > 0 && !grams(i).equals(grams(i - 1))) {
        if (run > bestCnt) { bestCnt = run; bestGram = grams(i - 1) }
        run = 0L
      }
      run += 1L
      i += 1
    }
    if (grams.nonEmpty && run > bestCnt) {
      bestCnt = run; bestGram = grams(grams.length - 1)
    }
    new GenericInternalRow(Array[Any](bestCnt, bestGram))
  }

  /** Duplicated-gram chars: Σ over runs of length ≥ 2 of run · numChars —
    * the dup5_frac numerator.
    */
  def dupChars(arr: ArrayData, n: Int): Long = {
    val grams = sortedGrams(arr, n)
    var chars = 0L
    var run = 0L
    var i = 0
    while (i < grams.length) {
      if (i > 0 && !grams(i).equals(grams(i - 1))) {
        if (run >= 2L) chars += run * grams(i - 1).numChars()
        run = 0L
      }
      run += 1L
      i += 1
    }
    if (run >= 2L) chars += run * grams(grams.length - 1).numChars()
    chars
  }

  def checkTokens(dt: DataType, name: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = dt match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$name requires array<string>, got ${other.catalogString}")
  }
}

/** struct(cnt, gram) of the most frequent n-gram — see [[RunGrams]]. */
case class TopRunGram(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"top_run_gram: n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    RunGrams.checkTokens(child.dataType, prettyName)

  override def dataType: DataType = StructType(Seq(
    StructField("cnt", LongType, nullable = true),
    StructField("gram", StringType, nullable = true)))
  override def prettyName: String = "top_run_gram"

  override protected def nullSafeEval(input: Any): Any =
    RunGrams.topRun(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RunGrams.topRun($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TopRunGram =
    copy(child = newChild)
}

object TopRunGram {
  def apply(tokens: Column, n: Int): Column =
    ColumnBridge.column(TopRunGram(ColumnBridge.expression(tokens), n))
}

/** Duplicated-n-gram character total — see [[RunGrams]]. */
case class DupRunGramChars(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"dup_run_gram_chars: n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    RunGrams.checkTokens(child.dataType, prettyName)

  override def dataType: DataType = LongType
  override def prettyName: String = "dup_run_gram_chars"

  override protected def nullSafeEval(input: Any): Any =
    RunGrams.dupChars(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RunGrams.dupChars($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): DupRunGramChars =
    copy(child = newChild)
}

object DupRunGramChars {
  def apply(tokens: Column, n: Int): Column =
    ColumnBridge.column(DupRunGramChars(ColumnBridge.expression(tokens), n))
}

/** Count of array elements that belong to a small literal string set —
  * value-identical to `size(filter(arr, t => t.isin(set: _*)))` (the
  * stopword-ratio numerator of the quality gates), minus that spelling's
  * interpreted per-element lambda dispatch.
  */
case class CountIn(child: Expression, values: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    RunGrams.checkTokens(child.dataType, prettyName)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](values.size * 2)
    values.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countInExpr", this, classOf[CountIn].getName)
    defineCodeGen(ctx, ev, c => s"$ref.countIn($c)")
  }

  /** Entry point for generated code (and a plain-named twin of eval). */
  def countIn(arr: ArrayData): Int =
    nullSafeEval(arr).asInstanceOf[Int]

  override protected def withNewChildInternal(newChild: Expression): CountIn =
    copy(child = newChild)
}

object CountIn {
  def apply(tokens: Column, values: Seq[String]): Column =
    ColumnBridge.column(CountIn(ColumnBridge.expression(tokens), values))
}
