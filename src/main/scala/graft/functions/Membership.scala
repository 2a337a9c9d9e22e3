package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Membership of a string column in a FROZEN list — the one spelling
  * every blocklist / kept-vocab / frontier gate shares (q179 domain
  * blocklist, q182 streaming frontier, q186 kept-vocabulary rewrite).
  * The sorted, deduplicated list rides the block manager ONCE per
  * executor and each probe is an exact O(log V) binary search
  * ([[graft.plans.SetContainsBcast]]), so a 10⁵–10⁷-entry production
  * blocklist or vocabulary never serializes into task binaries and
  * never costs a per-token linear scan. MembershipSpec pins both
  * entries against Scala `Set` membership.
  *
  * A Bloom front ([[BloomSketchAggregator]]) remains the right tool
  * when a downstream EXACT verify exists (the q138 decontamination
  * shape); these direct-consumer membership gates have none, so the
  * probe must be exact — see the [[graft.plans.SetContainsBcast]]
  * scaladoc.
  */
object Membership {

  /** The sorted, duplicate-free key table: dedupes adjacent keys after
    * the sort — one linear pass, so a duplicate-heavy list broadcasts
    * only its distinct keys.
    */
  private def sortedKeys(keys: Seq[String]): Array[UTF8String] = {
    val arr = keys.map(UTF8String.fromString).toArray
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    var n = 0
    var i = 0
    while (i < arr.length) {
      if (n == 0 || arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  /** One broadcast of `keys` and its probe builder: every probe of a
    * call site shares the handle (building it per probe would
    * re-broadcast per element).
    */
  private def probe(keys: Seq[String]): Column => Column = {
    val arr = sortedKeys(keys)
    val table = graft.plans.FrozenTable(SparkSession.active, arr,
      arr.foldLeft(graft.plans.Fnv1a.Offset)((h, k) =>
        graft.plans.Fnv1a.mixString(h, k.getBytes)), arr.length)
    import org.apache.spark.sql.GraftShims
    x => GraftShims.column(graft.plans.SetContainsBcast(
      GraftShims.expression(x), table))
  }

  /** `c` (string) is a member of `keys`. */
  def contains(c: Column, keys: Seq[String]): Column = probe(keys)(c)

  /** ANY element of the string-array column `arrCol` is in `keys` —
    * one probe per element inside an `exists` lambda (higher-order
    * functions evaluate per-element in-row; no explode, no join).
    */
  def overlaps(arrCol: Column, keys: Seq[String]): Column =
    exists(arrCol, probe(keys))
}
