package graft.plans

/** 64-bit FNV-1a — the content fingerprint every [[FrozenTable]]
  * carries in place of its handle. Equality and canonicalization cannot
  * use a `Broadcast` (reference identity: two plans built from separate
  * broadcasts of the same table must still match the persist cache), so
  * they compare this driver-computed hash of the payload instead.
  */
object Fnv1a {
  val Offset: Long = 0xcbf29ce484222325L
  val Prime: Long = 0x100000001b3L

  /** Folds one 64-bit word into `h`. */
  def mix(h: Long, x: Long): Long = (h ^ x) * Prime

  /** Folds the bytes into `h` in order, each as an unsigned octet —
    * plain FNV-1a of a byte string.
    */
  def mixBytes(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var j = 0
    while (j < bytes.length) { h = mix(h, bytes(j) & 0xffL); j += 1 }
    h
  }

  /** Folds one string of a sequence: a fixed-width 32-bit length
    * PREFIX, then its bytes. Not an in-band separator: a separator that
    * can itself occur inside a string lets two different string lists
    * hash the same byte stream (["ab"] vs ["a","b"]), and plan equality
    * trusts this fingerprint.
    */
  def mixString(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var s = 0
    while (s < 32) { h = mix(h, (bytes.length >>> s) & 0xff); s += 8 }
    mixBytes(h, bytes)
  }

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

  /** FNV-1a over the longs, in order. */
  def ofLongs(xs: Array[Long]): Long = {
    var h = Offset
    var i = 0
    while (i < xs.length) { h = mix(h, xs(i)); i += 1 }
    h
  }
}
