package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import scala.reflect.{ClassTag, classTag}

/** A table built once on the driver and read by a row kernel — a
  * codebook, a plane set, a key list, a Bloom bitset, a weight vector,
  * a merge table — and the one way such a table reaches the kernel.
  *
  * The payload rides as a BROADCAST handle: tasks carry the handle, not
  * the payload, and each executor fetches the payload once and shares
  * it across its tasks. A plan literal or a raw array in the codegen
  * references array would instead serialize into every task binary.
  *
  * Equality is by content: the driver-computed [[Fnv1a]] `fingerprint`
  * plus the `entries` count, never the handle (whose identity differs
  * between two broadcasts of the same table). A kernel holding a
  * FrozenTable therefore needs no equals/hashCode of its own: its
  * case-class equality and TreeNode's product hash compare the table
  * through these, so two plans built from separate broadcasts of the
  * same table still match the persist cache and `semanticEquals`. The
  * entry count is an O(1) guard beside the 64-bit hash, which can be
  * forced to collide by crafted input (blocklists carry externally
  * sourced strings).
  */
final class FrozenTable[T] private (val handle: Broadcast[T],
    val fingerprint: Long, val entries: Int, val javaType: String)
    extends Serializable {
  /** Fetched once per deserialized copy: the interpreted path reads it
    * per row, and `Broadcast.value` takes a lock on every call.
    */
  @transient lazy val value: T = handle.value

  /** Drops the executor copies; a plan still holding the handle
    * re-fetches from the driver.
    */
  def unpersist(): Unit = handle.unpersist(blocking = false)

  override def equals(other: Any): Boolean = other match {
    case o: FrozenTable[_] =>
      fingerprint == o.fingerprint && entries == o.entries
    case _ => false
  }
  override def hashCode(): Int =
    31 * java.lang.Long.hashCode(fingerprint) + entries
  override def toString: String =
    f"FrozenTable($entries entries, fnv $fingerprint%016x)"
}

object FrozenTable {
  /** Broadcasts `value`. */
  def apply[T: ClassTag](s: SparkSession, value: T, fingerprint: Long,
      entries: Int): FrozenTable[T] =
    new FrozenTable(s.sparkContext.broadcast(value), fingerprint, entries,
      javaName(classTag[T].runtimeClass))

  def ofDoubles(s: SparkSession, xs: Array[Double],
      entries: Int): FrozenTable[Array[Double]] =
    apply(s, xs, Fnv1a.ofDoubles(xs), entries)

  def ofLongs(s: SparkSession, xs: Array[Long],
      entries: Int): FrozenTable[Array[Long]] =
    apply(s, xs, Fnv1a.ofLongs(xs), entries)

  /** The Java source name generated code casts the value to. */
  private def javaName(c: Class[_]): String =
    if (c.isArray) javaName(c.getComponentType) + "[]" else c.getName
}

/** A row kernel over one [[FrozenTable]]. Its `compute` takes the
  * table's value; the interpreted path passes `table.value`, and
  * generated code passes [[tableValue]].
  */
trait FrozenTableKernel[T] { self: Expression =>
  def table: FrozenTable[T]

  /** The table's value in generated code: the handle goes into the
    * references array, and its value is fetched ONCE per
    * generated-class instance into mutable state, so the per-row path
    * reads a field — never the handle, never a boxed ArrayData.
    */
  protected def tableValue(ctx: CodegenContext): String = {
    val ref = ctx.addReferenceObj("frozenTable", table.handle,
      "org.apache.spark.broadcast.Broadcast")
    ctx.addMutableState(table.javaType, "frozenTable",
      v => s"$v = (${table.javaType}) $ref.value();")
  }
}
