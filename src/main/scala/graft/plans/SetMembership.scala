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
  * task-binary budget a `typedLit` literal would pay).
  *
  * Evaluation: codegen'd (`doGenCode` emits one static probe call
  * with the broadcast fetched once into mutable state) when the probe
  * sits on a plain column — e.g. a `Membership.contains` gate
  * outside a lambda; inside higher-order lambda bodies
  * (`exists`/`transform`) Spark evaluates the lambda interpreted and
  * takes the `nullSafeEval` path. Both are the same one-binary-search
  * probe. Equality/canonicalization uses the
  * driver-computed content `fingerprint` (the [[BloomContains]] /
  * [[CentroidMuAssignBcast]] discipline — two plans built from
  * separate broadcasts of the same list must still semanticEquals).
  */
case class SetContainsBcast(child: Expression,
    keys: org.apache.spark.broadcast.Broadcast[Array[UTF8String]],
    fingerprint: Long) extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(key: Any): Any =
    SetContainsBcast.probe(keys.value, key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("setKeysBc", keys,
      "org.apache.spark.broadcast.Broadcast")
    val arr = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String[]", "setKeysArr",
      v => s"$v = (org.apache.spark.unsafe.types.UTF8String[]) " +
        s"$bcRef.value();")
    nullSafeCodeGen(ctx, ev, key =>
      s"${ev.value} = graft.plans.SetContainsBcast.probe($arr, $key);")
  }

  // the content fingerprint is 64-bit FNV-1a (craftable collisions,
  // and blocklists carry externally sourced strings) while this is an
  // EXACT gate with no downstream verify — so equality also compares
  // the key COUNT, a driver-local O(1) check that already breaks any
  // same-hash-different-cardinality forgery and shrinks the practical
  // collision surface to same-length same-hash pairs (r19 ADVICE)
  override def equals(other: Any): Boolean = other match {
    case o: SetContainsBcast =>
      child == o.child && fingerprint == o.fingerprint &&
        keys.value.length == o.keys.value.length
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Long.valueOf(fingerprint))

  override protected def withNewChildInternal(
      newChild: Expression): SetContainsBcast = copy(child = newChild)
}

object SetContainsBcast {

  /** Binary search over the sorted (UTF8String natural order) table. */
  def probe(sorted: Array[UTF8String], key: UTF8String): Boolean =
    java.util.Arrays.binarySearch(
      sorted.asInstanceOf[Array[AnyRef]], key) >= 0
}
