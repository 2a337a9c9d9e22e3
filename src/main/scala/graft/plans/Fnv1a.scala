package graft.plans

/** 64-bit FNV-1a — the content fingerprint every broadcast-table
  * expression carries in place of its handle. Equality and
  * canonicalization cannot use a `Broadcast` (reference identity: two
  * plans built from separate broadcasts of the same table must still
  * match the persist cache), so they compare this driver-computed hash
  * of the payload instead.
  */
object Fnv1a {
  val Offset: Long = 0xcbf29ce484222325L
  val Prime: Long = 0x100000001b3L

  /** Folds one 64-bit word into `h`. */
  def mix(h: Long, x: Long): Long = (h ^ x) * Prime

  /** FNV-1a over the doubles' bit patterns, in order. */
  def ofDoubles(xs: Array[Double]): Long = {
    var h = Offset
    var i = 0
    while (i < xs.length) {
      h = mix(h, java.lang.Double.doubleToLongBits(xs(i)))
      i += 1
    }
    h
  }
}
