package graft

import graft.functions.Bpe
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for q175's token-id shard manifest: the in-plan encoder
  * reproduces the committed reference id sequence for EVERY document
  * (the artifact contract — count equality can hide two cancelling
  * merge errors, sequence equality cannot), ids round-trip to the
  * exact source bytes (lossless tokenization), the digest is
  * order-sensitive under the epoch seed while shard populations and
  * token totals stay put, and the plan is q157's one shard-keyed
  * exchange + rank window with no join.
  */
class TokenShardsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("in-plan BpeEncodeIds equals the committed reference sequence " +
      "for every document") {
    val merges = Fixtures.bpeMerges(spark)
    val mismatch = Fixtures.read(spark, Fixtures.bpeCorpusPath)
      .select(col("doc_id"),
        graft.functions.VectorOps.bpeIds(col("text"), merges)
          .as("live"),
        col("bpe_ids").as("ref"))
      .filter(col("live") =!= col("ref"))
      .count()
    assert(mismatch == 0L,
      s"$mismatch documents where the in-plan encoder diverges from " +
        "the trainer's committed ids")
  }

  test("ids decode losslessly back to the document's UTF-8 token " +
      "bytes (no id maps to the wrong merge)") {
    val table = Fixtures.bpeMerges(spark).value
    val (ml, mr) = (table.left, table.right)
    val rows = Fixtures.read(spark, Fixtures.bpeCorpusPath)
      .select("text", "bpe_ids").limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val text = r.getAs[String]("text")
      val ids = r.getSeq[Int](1)
      val decoded = ids.toArray.flatMap(Bpe.tokenBytes(_, ml, mr))
      // the pre-tokenizer's concatenated match bytes ARE the decode
      // target (it may drop inter-token bytes only if the pattern
      // does; equality proves id->bytes fidelity)
      val expected = {
        val buf = scala.collection.mutable.ArrayBuilder.make[Byte]
        val it = Bpe.preTokens(text).iterator()
        while (it.hasNext) buf.addAll(
          it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
        buf.result()
      }
      assert(java.util.Arrays.equals(decoded, expected),
        s"lossy decode for doc with ${ids.length} ids")
      // and re-encoding through the JVM-side encoder agrees too
      assert(Bpe.tokenIds(text, table).toSeq == ids,
        "JVM encoder disagrees with committed ids")
    }
  }

  test("epoch reshuffle keeps shard populations and token totals, " +
      "changes every digest") {
    def manifest(seed: String): Map[Long, (Long, Long, Long)] =
      TextAnalysis.tokenShardManifest(spark, seed).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
    val e0 = manifest("epoch0")
    val e1 = manifest("epoch1")
    assert(e0.keySet === e1.keySet)
    assert(e0.keySet === (0L until 8L).toSet)
    for (sh <- e0.keySet) {
      val ((d0, t0, g0), (d1, t1, g1)) = (e0(sh), e1(sh))
      assert(d0 === d1, s"shard $sh docs moved across epochs")
      assert(t0 === t1, s"shard $sh tokens moved across epochs")
      assert(g0 !== g1, s"shard $sh ids digest not order-sensitive")
    }
  }

  test("plan: one shard-keyed hash exchange + rank window, no join") {
    val p = SparkEntry.queries("q175_token_shards")(
      spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      p.take(800))
    assert(!p.contains("Join"), p.take(800))
  }
}
