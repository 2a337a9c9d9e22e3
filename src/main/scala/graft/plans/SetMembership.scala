package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** EXACT membership probe of a string key against a BROADCAST sorted
  * key table — every "is this token/domain/id in the frozen list"
  * membership the curation tier runs ([[graft.functions.Membership]]
  * builds it at every list size).
  *
  * Why not only the Bloom front ([[BloomContains]]): a Bloom filter's
  * false positives are fine when a downstream EXACT verify re-checks
  * candidates (the q138/q147 decontamination shape), but a membership
  * used directly in a rewrite or a retention predicate (q179/q182
  * blocklists, q186 kept-vocab) has no downstream verify — its answer
  * IS the result, so the probe must be exact. A sorted-array
  * binary search over the broadcast table gives O(log V) per row with
  * zero false positives and no per-task copy of the list (the handle
  * rides the block manager, fetched once per executor; a 1M-domain
  * blocklist ≈ 20 MB — broadcast-join-build-sized, far past the
  * task-binary budget a plan literal would pay).
  *
  * Evaluation: codegen'd (one static probe call on the table fetched
  * once into mutable state — [[FrozenTableKernel]]) when the probe
  * sits on a plain column — e.g. a `Membership.contains` gate
  * outside a lambda; inside higher-order lambda bodies
  * (`exists`/`transform`) Spark evaluates the lambda interpreted and
  * takes the `nullSafeEval` path. Both are the same one-binary-search
  * probe. The table is a [[FrozenTable]] with one entry per key: its
  * content equality compares the key COUNT beside the 64-bit
  * fingerprint, because this is an EXACT gate with no downstream
  * verify.
  */
case class SetContainsBcast(child: Expression,
    table: FrozenTable[Array[UTF8String]])
    extends UnaryExpression with FrozenTableKernel[Array[UTF8String]] {

  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(key: Any): Any =
    SetContainsBcast.probe(table.value, key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val keys = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, key =>
      s"${ev.value} = graft.plans.SetContainsBcast.probe($keys, $key);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SetContainsBcast = copy(child = newChild)
}

object SetContainsBcast {

  /** Binary search over the sorted (UTF8String natural order) table. */
  def probe(sorted: Array[UTF8String], key: UTF8String): Boolean =
    java.util.Arrays.binarySearch(
      sorted.asInstanceOf[Array[AnyRef]], key) >= 0
}
