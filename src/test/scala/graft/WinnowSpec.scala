package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Unit + property coverage for [[graft.plans.Winnow]] (the q129
  * fingerprint primitive): cross-check against an independent
  * brute-force reimplementation, the SIGMOD'03 winnowing guarantee
  * (docs sharing a ≥ w+k−1 substring share a fingerprint), short-doc
  * and surrogate-pair handling, and the expression path through the
  * registered `graft_winnow` function.
  */
class WinnowSpec extends AnyFunSuite {

  private val Mod = 1000000007L

  /** Independent oracle: gram hashes via straightforward per-gram
    * folds (no rolling update), selected values via per-window min
    * (value-equivalent to rightmost-min selection), distinct + sorted.
    */
  private def brute(text: String, k: Int, w: Int): Seq[Long] = {
    val cps = text.codePoints().toArray
    if (cps.length < k + w - 1) return Seq.empty
    val grams = cps.sliding(k).map(g =>
      g.foldLeft(0L)((h, c) => (h * 31 + c) % Mod)).toArray
    grams.sliding(w).map(_.min).toSeq.distinct.sorted
  }

  private def winnow(text: String, k: Int, w: Int): Seq[Long] = {
    val out = graft.plans.Winnow
      .compute(UTF8String.fromString(text), k, w)
      .asInstanceOf[ArrayData]
    out.toLongArray().toSeq
  }

  test("matches the brute-force oracle on hand cases") {
    for ((t, k, w) <- Seq(
        ("the quick brown fox jumps over the lazy dog", 4, 5),
        ("aaaaaaaaaaaaaaaa", 3, 4),      // all grams equal — one hash
        ("abcabcabcabcabc", 3, 4),        // periodic text
        ("ab", 3, 4),                     // shorter than k
        ("abcdef", 3, 4),                 // n = k+w-1 exactly → 1 window
        ("", 3, 4)))
      assert(winnow(t, k, w) == brute(t, k, w), s"text=<$t> k=$k w=$w")
  }

  test("property: equals brute force on 500 random strings") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
    for (_ <- 1 to 500) {
      val n = rnd.nextInt(121)
      val s = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val k = 2 + rnd.nextInt(5)
      val w = 2 + rnd.nextInt(8)
      assert(winnow(s, k, w) == brute(s, k, w), s"text=<$s> k=$k w=$w")
    }
  }

  test("winnowing guarantee: shared substring of w+k-1 codepoints " +
      "implies a shared fingerprint") {
    val k = 5; val w = 8
    val shared = "zqxvjwkpyhzmlrtb" // 16 >= w+k-1 = 12
    val d1 = s"left context before $shared and a tail here"
    val d2 = s"completely different prefix $shared other suffix text"
    val f1 = winnow(d1, k, w).toSet
    val f2 = winnow(d2, k, w).toSet
    assert((f1 & f2).nonEmpty)
  }

  test("supplementary codepoints count as single positions") {
    // U+1F600 is one codepoint (two UTF-16 chars); with k=2, w=2 a
    // 3-codepoint doc has 2 grams and 1 window
    val t = "a😀b"
    assert(winnow(t, 2, 2).size == 1)
    assert(winnow(t, 2, 2) == brute(t, 2, 2))
  }

  test("registered graft_winnow function evaluates in a plan") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
      .select(col("id"),
        graft.functions.VectorOps.winnow(col("text"), 4, 5).as("fp"))
    val got = df.collect().head.getSeq[Long](1)
    assert(got == brute("the quick brown fox jumps over the lazy dog", 4, 5))
  }
}
