package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Membership probe of a 64-bit key against a FROZEN Bloom bitset
  * (Bloom, CACM 1970) — the map-side pruning half of the Bloom-join /
  * runtime-filter pattern (Mullin, IEEE TSE 1990; Spark's own
  * InSubqueryExec runtime bloom pruning is the same idea).
  *
  * The bitset is a [[FrozenTable]] of longs (one entry per 64-bit
  * word): one static call per row inside whole-stage codegen on the
  * fetched primitive long[], no boxing, no per-row ArrayData walk.
  * Double hashing g_i = h1 + i·h2 (Kirsch–Mitzenmacher, ESA'06:
  * two mixes simulate k independent hashes with no asymptotic fpp
  * loss); both mixes are splitmix64 finalizers (Steele et al.,
  * OOPSLA'14 — public domain), so build and probe agree by
  * construction because [[BloomContains.set]] and
  * [[BloomContains.probe]] share the same code.
  *
  * The word count must be a power of two: index = hash & (64·len − 1)
  * — a mask, not a mod, on the per-row path.
  */
case class BloomContains(child: Expression, table: FrozenTable[Array[Long]],
    numHashes: Int)
    extends UnaryExpression with FrozenTableKernel[Array[Long]] {
  require(table.entries > 0 && (table.entries & (table.entries - 1)) == 0,
    s"Bloom bitset word count must be a power of two, got ${table.entries}")

  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(key: Any): Any =
    BloomContains.probe(table.value, numHashes, key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bits = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, key =>
      s"${ev.value} = graft.plans.BloomContains.probe($bits, " +
        s"$numHashes, $key);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomContains = copy(child = newChild)
}

object BloomContains {

  /** splitmix64 finalizer — the avalanche mix behind SplittableRandom. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Set the k bit positions of `key` in `bits` (build side). */
  def set(bits: Array[Long], numHashes: Int, key: Long): Unit = {
    val mask = (bits.length.toLong << 6) - 1
    val h1 = mix(key)
    val h2 = mix(h1) | 1L // odd: full cycle over the power-of-two range
    var i = 0
    while (i < numHashes) {
      val pos = (h1 + i * h2) & mask
      bits((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
  }

  /** Probe the k bit positions of `key` (map-side filter). */
  def probe(bits: Array[Long], numHashes: Int, key: Long): Boolean = {
    val mask = (bits.length.toLong << 6) - 1
    val h1 = mix(key)
    val h2 = mix(h1) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = (h1 + i * h2) & mask
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L)
        return false
      i += 1
    }
    true
  }
}
