package graft

import graft.functions.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the trained byte-level BPE tokenizer (Sennrich
  * ACL'16): the codegen'd kernel is checked against an INDEPENDENT
  * reference implementation (merges applied in rank order with a
  * fixpoint pass per rank — the training-time definition, a different
  * algorithm from the kernel's lowest-rank-first loop) on the full 500
  * documents of two fixture scales, plus the byte-partition invariant,
  * training determinism, and fixture/corpus consistency.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val merges = Fixtures.bpeMerges(spark)
  private lazy val table = merges.value
  private lazy val (mLeft, mRight) = (table.left, table.right)

  /** Reference encoder: apply every merge in RANK ORDER, each to a
    * left-to-right fixpoint. Equivalent to the kernel's
    * lowest-rank-first loop because a merge's output id is newer than
    * every id in any earlier-ranked pair — but algorithmically
    * independent of it.
    */
  private def referenceIds(text: String): List[Int] = {
    def encodeWord(w: String): List[Int] = {
      var ids = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(_ & 0xff).toList
      var r = 0
      while (r < mLeft.length) {
        val a = mLeft(r); val b = mRight(r); val m = 256 + r
        def pass(l: List[Int]): List[Int] = l match {
          case x :: y :: rest if x == a && y == b => m :: pass(rest)
          case x :: rest => x :: pass(rest)
          case Nil => Nil
        }
        var prev: List[Int] = Nil
        var cur = ids
        while (prev != cur) { prev = cur; cur = pass(cur) }
        ids = cur
        r += 1
      }
      ids
    }
    val toks = Bpe.preTokens(text)
    val out = scala.collection.mutable.ListBuffer.empty[Int]
    val it = toks.iterator()
    while (it.hasNext) out ++= encodeWord(it.next())
    out.toList
  }

  test("kernel token ids match the independent rank-order reference " +
      "on 1000 corpus documents (two fixture scales)") {
    var checked = 0
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val texts = Tables.load(spark, dir, "documents")
        .select("text").collect().map(_.getString(0))
      texts.foreach { t =>
        assert(Bpe.tokenIds(t, table).toList == referenceIds(t),
          s"id sequence diverged on: ${t.take(80)}")
        checked += 1
      }
    }
    assert(checked >= 1000, s"only $checked docs checked")
  }

  test("tokens partition the text's bytes exactly (decode concat " +
      "round-trips)") {
    val texts = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select("text").collect().map(_.getString(0))
    texts.foreach { t =>
      val bytes = Bpe.tokenIds(t, table)
        .flatMap(Bpe.tokenBytes(_, mLeft, mRight))
      assert(java.util.Arrays.equals(bytes,
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        s"decode concat diverged on: ${t.take(80)}")
    }
    // and on adversarial shapes the corpus lacks
    Seq("", " ", "   ", "a", "it's we'll I've don't",
      "naïve café 模型 emoji 😀", "tab\tand\nnewline  x",
      "123abc!!?").foreach { t =>
      val bytes = Bpe.tokenIds(t, table)
        .flatMap(Bpe.tokenBytes(_, mLeft, mRight))
      assert(java.util.Arrays.equals(bytes,
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        s"decode concat diverged on: $t")
    }
  }

  test("engine expression reproduces the kernel count for every sf0.01 " +
      "document inside whole-stage codegen") {
    val rows = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.VectorOps.bpeCount(col("text"), merges)
          .as("n"))
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Int]("n") ==
        Bpe.countTokens(r.getAs[String]("text"), table))
    }
  }

  test("training is deterministic and reproduces the committed merge " +
      "fixture from the sf0.1 corpus") {
    val texts = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("text").collect().map(_.getString(0))
    val freq = new scala.collection.mutable.HashMap[String, Long]()
    texts.foreach { t =>
      val it = Bpe.preTokens(t).iterator()
      while (it.hasNext) {
        val w = it.next(); freq.update(w, freq.getOrElse(w, 0L) + 1L)
      }
    }
    val (l1, r1) = Bpe.train(freq, graft.tools.TrainBpe.MaxMerges)
    val (l2, r2) = Bpe.train(freq, graft.tools.TrainBpe.MaxMerges)
    assert(l1.toSeq == l2.toSeq && r1.toSeq == r2.toSeq,
      "training is not deterministic")
    assert(l1.toSeq == mLeft.toSeq && r1.toSeq == mRight.toSeq,
      "committed merge fixture does not match a retrain on its corpus")
  }

  test("committed corpus reference counts match the kernel under the " +
      "committed merges, and differ from whitespace counts (the " +
      "tokenizer is not word splitting)") {
    val rows = Fixtures.read(spark, Fixtures.bpeCorpusPath)
      .select("text", "n_bpe").collect()
    assert(rows.length == 5000)
    var allEqWs = true
    rows.foreach { r =>
      val t = r.getAs[String]("text")
      assert(r.getAs[Int]("n_bpe") == Bpe.countTokens(t, table))
      if (Bpe.countTokens(t, table) != t.split(" ", -1).length)
        allEqWs = false
    }
    assert(!allEqWs, "every corpus count equals the whitespace count — " +
      "the merge budget saturated and the oracle can no longer " +
      "distinguish BPE from word splitting")
  }
}
