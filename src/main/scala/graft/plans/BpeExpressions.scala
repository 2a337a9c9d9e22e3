package graft.plans

import graft.functions.Bpe
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Token count of a text under a TRAINED byte-level BPE merge table
  * (Sennrich ACL'16 / GPT-2 byte-level BPE) — the in-row kernel that
  * turns every downstream token budget (packing, mix weights, pipeline
  * caps) from whitespace-split approximations into tokenizer-exact
  * counts. One fused pass per row inside whole-stage codegen: the
  * pre-tokenize + merge loop runs in [[graft.functions.Bpe]] statics
  * over the prebuilt [[Bpe.Table]], a [[FrozenTable]] with one entry
  * per merge ([[graft.Fixtures.bpeMerges]] builds it once per session
  * from the committed `fixtures/bpe_merges.parquet`, trained by
  * [[graft.tools.TrainBpe]]; tasks fetch the built table, never the
  * pair arrays it is built from).
  */
case class BpeTokenCount(child: Expression, table: FrozenTable[Bpe.Table])
    extends UnaryExpression with FrozenTableKernel[Bpe.Table] {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(text: Any): Any =
    Bpe.countTokens(text.asInstanceOf[UTF8String].toString, table.value)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val merges = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.Bpe.countTokens(" +
        s"$text.toString(), $merges);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeTokenCount = copy(child = newChild)
}

/** Static bridge for [[BpeEncodeIds]]: encode + wrap in the UNSAFE
  * primitive array format in one call (no boxed Integer array
  * materializes per row).
  */
object BpeEncode {
  def ids(text: UTF8String, t: Bpe.Table): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Bpe.tokenIds(text.toString, t))
}

/** Full token-ID SEQUENCE of a text under the trained merge table —
  * [[BpeTokenCount]]'s emitting sibling, for the pipeline-final step
  * where the output must be the trainable artifact itself (token ids
  * per document, q175) rather than a budget denomination. Same fused
  * per-row merge loop over the same [[FrozenTable]]; returns a
  * non-null int array (empty for token-free text).
  */
case class BpeEncodeIds(child: Expression, table: FrozenTable[Bpe.Table])
    extends UnaryExpression with FrozenTableKernel[Bpe.Table] {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(text: Any): Any =
    BpeEncode.ids(text.asInstanceOf[UTF8String], table.value)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val merges = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.plans.BpeEncode.ids($text, $merges);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeIds = copy(child = newChild)
}
