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
  * pre-tokenize + merge loop runs in [[graft.functions.Bpe]] statics;
  * the trained table rides the references array as a prebuilt
  * [[Bpe.Table]] (the BloomContains constant-table discipline — tasks
  * carry a handle, rows never touch boxed ArrayData).
  *
  * `left`/`right` are the merge pairs in rank order, exactly as the
  * committed `fixtures/bpe_merges.parquet` stores them (trained by
  * [[graft.tools.TrainBpe]]). Content-based equality (not array
  * identity) keeps canonicalized-plan equality and the persist cache
  * working across separately loaded fixture copies.
  */
case class BpeTokenCount(child: Expression, left: Array[Int],
    right: Array[Int]) extends UnaryExpression {
  require(left.length == right.length,
    s"rank-order merge arrays must align: ${left.length} vs ${right.length}")

  override def dataType: DataType = IntegerType

  @transient private lazy val table = new Bpe.Table(left, right)

  override protected def nullSafeEval(text: Any): Any =
    Bpe.countTokens(text.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[Bpe.Table].getName)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.Bpe.countTokens(" +
        s"$text.toString(), $tableRef);")
  }

  override def equals(other: Any): Boolean = other match {
    case b: BpeTokenCount =>
      child == b.child && java.util.Arrays.equals(left, b.left) &&
        java.util.Arrays.equals(right, b.right)
    case _ => false
  }

  override def hashCode(): Int =
    31 * (31 * child.hashCode() + java.util.Arrays.hashCode(left)) +
      java.util.Arrays.hashCode(right)

  override protected def withNewChildInternal(
      newChild: Expression): BpeTokenCount = copy(child = newChild)
}

/** Static bridge for [[BpeEncodeIds]] codegen: encode + wrap in the
  * UNSAFE primitive array format in one call (no boxed Integer array
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
  * per-row merge loop, same constant-table discipline (the trained
  * [[Bpe.Table]] rides the references array; content-based equality
  * keeps canonicalized-plan equality across fixture copies); returns
  * a non-null int array (empty for token-free text).
  */
case class BpeEncodeIds(child: Expression, left: Array[Int],
    right: Array[Int]) extends UnaryExpression {
  require(left.length == right.length,
    s"rank-order merge arrays must align: ${left.length} vs ${right.length}")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  @transient private lazy val table = new Bpe.Table(left, right)

  override protected def nullSafeEval(text: Any): Any =
    BpeEncode.ids(text.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[Bpe.Table].getName)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.plans.BpeEncode.ids($text, $tableRef);")
  }

  override def equals(other: Any): Boolean = other match {
    case b: BpeEncodeIds =>
      child == b.child && java.util.Arrays.equals(left, b.left) &&
        java.util.Arrays.equals(right, b.right)
    case _ => false
  }

  override def hashCode(): Int =
    31 * (31 * child.hashCode() + java.util.Arrays.hashCode(left)) +
      java.util.Arrays.hashCode(right)

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeIds = copy(child = newChild)
}
