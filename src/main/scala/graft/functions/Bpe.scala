package graft.functions

/** Byte-level byte-pair encoding — the real tokenizer behind
  * token-exact corpus budgeting (Sennrich et al., ACL'16 "Neural
  * Machine Translation of Rare Words with Subword Units"; byte-level
  * variant per GPT-2, Radford et al. 2019). One object carries BOTH
  * halves of the train-offline / apply-in-plan contract (the
  * TrainCentroids / TrainWhitener pattern):
  *
  *  - [[train]] runs the greedy merge-learning loop over a pre-token
  *    frequency table (driver-side, in [[graft.tools.TrainBpe]],
  *    committed as `fixtures/bpe_merges.parquet`);
  *  - [[countTokens]] / [[tokenIds]] apply a trained merge table to
  *    one text — the static kernels the codegen'd
  *    [[graft.plans.BpeTokenCount]] expression calls per row.
  *
  * Base alphabet is the 256 byte values (ids 0–255); merge rank r
  * creates id 256 + r. Pre-tokenization is the GPT-2-shaped regex the
  * repo already uses for q47's run accounting, extended with the
  * contraction alternative and a trailing whitespace-run class so the
  * pre-tokens PARTITION the text's bytes exactly (BpeSpec pins
  * Σ token byte-lengths = text byte length). The pattern stays inside
  * the regex subset Java and RE2 interpret identically.
  *
  * Applying merges lowest-rank-first (the encode loop) equals applying
  * them in rank order (the training-time definition): a merge's output
  * id did not exist when any earlier-ranked pair was learned, so no
  * merge can create an adjacency of LOWER rank — the invariant that
  * makes the per-word loop order-independent.
  */
object Bpe {

  /** GPT-2-shaped pre-tokenizer (contractions, optional-space letter /
    * digit / punctuation runs, whitespace runs). Java∩RE2-safe.
    */
  val PreTokenPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  private val pat = java.util.regex.Pattern.compile(PreTokenPattern)

  /** Pre-token strings of `text`, in order. */
  def preTokens(text: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    val m = pat.matcher(text)
    while (m.find()) out.add(m.group())
    out
  }

  /** Pair key: ids fit well under 2^21 (256 + maxMerges). */
  @inline def pairKey(a: Int, b: Int): Long = (a.toLong << 21) | b.toLong

  /** A trained merge table in apply form. `left`/`right` are in rank
    * order (rank r merges (left(r), right(r)) → 256 + r);
    * `sortedKeys`/`rankOf` are the binary-search index for the encode
    * loop's pair→rank probe. Built once on the driver from the
    * rank-order arrays the fixture stores, and read by the row kernels
    * as a [[frozen]] table.
    */
  final class Table(val left: Array[Int], val right: Array[Int])
      extends Serializable {
    require(left.length == right.length,
      s"rank-order merge arrays must align: ${left.length} vs ${right.length}")
    val sortedKeys: Array[Long] = {
      val ks = new Array[Long](left.length)
      var r = 0
      while (r < left.length) { ks(r) = pairKey(left(r), right(r)); r += 1 }
      val idx = ks.zipWithIndex.sortBy(_._1)
      idx.map(_._1)
    }
    val rankAtSorted: Array[Int] = {
      val ks = new Array[Long](left.length)
      var r = 0
      while (r < left.length) { ks(r) = pairKey(left(r), right(r)); r += 1 }
      ks.zipWithIndex.sortBy(_._1).map(_._2)
    }

    @inline def rankOf(a: Int, b: Int): Int = {
      val i = java.util.Arrays.binarySearch(sortedKeys, pairKey(a, b))
      if (i < 0) Int.MaxValue else rankAtSorted(i)
    }
  }

  /** `t` broadcast for [[graft.plans.BpeTokenCount]] /
    * [[graft.plans.BpeEncodeIds]], one entry per merge.
    */
  def frozen(s: org.apache.spark.sql.SparkSession,
      t: Table): graft.plans.FrozenTable[Table] =
    graft.plans.FrozenTable(s, t,
      graft.plans.Fnv1a.ofLongs((t.left ++ t.right).map(_.toLong)),
      t.left.length)

  /** Encode one pre-token's UTF-8 bytes: repeatedly merge the
    * lowest-rank adjacent pair (all its occurrences, left to right)
    * until none remains. Returns the token ids.
    */
  def encodeWord(bytes: Array[Byte], t: Table): Array[Int] = {
    var ids = new Array[Int](bytes.length)
    var i = 0
    while (i < bytes.length) { ids(i) = bytes(i) & 0xff; i += 1 }
    var n = ids.length
    var done = n < 2
    while (!done) {
      var best = Int.MaxValue
      i = 0
      while (i < n - 1) {
        val r = t.rankOf(ids(i), ids(i + 1))
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val a = t.left(best); val b = t.right(best)
        val merged = 256 + best
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && ids(i) == a && ids(i + 1) == b) {
            ids(w) = merged; i += 2
          } else { ids(w) = ids(i); i += 1 }
          w += 1
        }
        n = w
        if (n < 2) done = true
      }
    }
    java.util.Arrays.copyOf(ids, n)
  }

  /** Token count of `text` under the trained table — the per-row
    * kernel behind [[graft.plans.BpeTokenCount]].
    */
  def countTokens(text: String, t: Table): Int = {
    var total = 0
    val m = pat.matcher(text)
    while (m.find()) {
      total += encodeWord(
        m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8), t)
        .length
    }
    total
  }

  /** Full token-id sequence of `text` (spec/debug surface). */
  def tokenIds(text: String, t: Table): Array[Int] = {
    val buf = scala.collection.mutable.ArrayBuilder.make[Int]
    val m = pat.matcher(text)
    while (m.find()) {
      buf.addAll(encodeWord(
        m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8), t))
    }
    buf.result()
  }

  /** UTF-8 bytes a token id decodes to (id < 256 → that byte; merged
    * id → concat of its parts) — the decode side, used by the spec's
    * partition invariant and the fixture's human-readable token column.
    */
  def tokenBytes(id: Int, left: Array[Int], right: Array[Int]): Array[Byte] =
    if (id < 256) Array(id.toByte)
    else tokenBytes(left(id - 256), left, right) ++
      tokenBytes(right(id - 256), left, right)

  /** Greedy merge learning over a pre-token frequency table: at each
    * rank take the most frequent adjacent pair (ties → smallest
    * (left, right) — deterministic, no RNG), stop when the best pair
    * occurs fewer than `minCount` times or `maxMerges` is reached.
    * Returns (left, right) in rank order.
    */
  def train(wordFreq: scala.collection.Map[String, Long], maxMerges: Int,
      minCount: Long = 2L): (Array[Int], Array[Int]) = {
    // words as mutable id sequences + parallel freqs (pair and pack
    // once; per-round results are iteration-order independent because
    // every round scans ALL words and ties break on the smallest key)
    val entries = wordFreq.toArray
    val words: Array[Array[Int]] = entries.map { case (w, _) =>
      val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ids = new Array[Int](b.length)
      var i = 0
      while (i < b.length) { ids(i) = b(i) & 0xff; i += 1 }
      ids
    }
    val freqs: Array[Long] = entries.map(_._2)
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    var rank = 0
    var stop = false
    while (rank < maxMerges && !stop) {
      val counts = new java.util.HashMap[java.lang.Long, Long]()
      var wi = 0
      while (wi < words.length) {
        val w = words(wi); val f = freqs(wi)
        var i = 0
        while (i < w.length - 1) {
          counts.merge(pairKey(w(i), w(i + 1)), f, _ + _)
          i += 1
        }
        wi += 1
      }
      var bestKey = -1L
      var bestCount = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey.longValue(); val c = e.getValue
        if (c > bestCount || (c == bestCount && (bestKey < 0 || k < bestKey))) {
          bestKey = k; bestCount = c
        }
      }
      if (bestKey < 0 || bestCount < minCount) stop = true
      else {
        val a = (bestKey >>> 21).toInt
        val b = (bestKey & ((1L << 21) - 1)).toInt
        left += a; right += b
        val merged = 256 + rank
        wi = 0
        while (wi < words.length) {
          val w = words(wi)
          var has = false
          var i = 0
          while (i < w.length - 1 && !has) {
            has = w(i) == a && w(i + 1) == b; i += 1
          }
          if (has) {
            var n = w.length
            var wpos = 0
            i = 0
            while (i < n) {
              if (i < n - 1 && w(i) == a && w(i + 1) == b) {
                w(wpos) = merged; i += 2
              } else { w(wpos) = w(i); i += 1 }
              wpos += 1
            }
            words(wi) = java.util.Arrays.copyOf(w, wpos)
          }
          wi += 1
        }
        rank += 1
      }
    }
    (left.toArray, right.toArray)
  }
}
