package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, concat_ws, lit}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash band keys of one document's shingle-hash set, as one codegen
  * expression over `array<bigint>` returning `array<string>`: 16 affine
  * hashes `(a_k·h + b_k) mod P` (a_k = 31 + 17k, b_k = 7 + 11k,
  * P = [[PolyHash.Mod]]), each minimized over the set, grouped into 4
  * bands of 4 and rendered `b:m0:m1:m2:m3` — position b holds band b's
  * key, the [[graft.operators.Banded]] input shape.
  *
  * The band-key formula has two spellings, both built from this object:
  * the kernel, evaluated row-locally on per-doc sets
  * ([[graft.operators.LLMOps.minhashBandKeys]] — the candidates, the
  * persisted snapshot and the delta — which never explodes postings),
  * and [[bandArray]] over 16 `min` aggregates of [[hash]] for the
  * callers that start from (doc_id, h) postings
  * ([[graft.operators.LLMOps.minhashBandArray]]) — those mins combine
  * map-side, where collecting each doc's postings would ship every one.
  * The DuckDB oracle spells the same math with `list_min`. Null
  * elements are skipped (as `min` skips them); a set with no hashes has
  * no band keys. The `transform`/`aggregate` lambda formulation of the
  * same math is interpreted per element and measured about twice the
  * task time.
  */
case class MinhashBands(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_bands requires array<bigint>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinhashBands.keys(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashBands.keys($c)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashBands {
  final val Hashes = 16
  private final val Rows = 4

  private def a(k: Int): Long = 31L + 17L * k
  private def b(k: Int): Long = 7L + 11L * k

  /** Hash k of shingle hash `h`, as a column. */
  def hash(k: Int, h: Column): Column = (lit(a(k)) * h + lit(b(k))) % PolyHash.Mod

  /** The band-key array from the 16 per-doc minima of [[hash]], in k
    * order.
    */
  def bandArray(mins: Seq[Column]): Column =
    array((0 until Hashes / Rows).map { band =>
      concat_ws(":", (lit(band) +: mins.slice(band * Rows, band * Rows + Rows))
        .map(_.cast("string")): _*)
    }: _*)

  /** Called from both interpreted eval and generated code. */
  def keys(hs: ArrayData): ArrayData = {
    val mins = Array.fill(Hashes)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < hs.numElements()) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        seen = true
        var k = 0
        while (k < Hashes) {
          val v = (a(k) * h + b(k)) % PolyHash.Mod
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!seen) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](Hashes / Rows)
    val sb = new java.lang.StringBuilder
    var band = 0
    while (band < out.length) {
      sb.setLength(0)
      sb.append(band)
      var j = 0
      while (j < Rows) {
        sb.append(':').append(mins(band * Rows + j))
        j += 1
      }
      out(band) = UTF8String.fromString(sb.toString)
      band += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column): Column =
    ColumnBridge.column(MinhashBands(ColumnBridge.expression(c)))
}
