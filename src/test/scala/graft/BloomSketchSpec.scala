package graft

import graft.plans.BloomContains
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-join decontamination (q138): the hashing kernel's
  * no-false-negative guarantee and fpp bound, the distributed
  * OR-merge build, result equality with the exact q65 operator, and
  * the point of the exercise — the train side is pruned in-row before
  * it ever reaches the semi-join exchange.
  */
class BloomSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("kernel: every inserted key probes true (no false negatives)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 20) {
      val bits = new Array[Long]((1 << 14) >>> 6)
      val keys = Array.fill(500)(rnd.nextLong())
      keys.foreach(BloomContains.set(bits, 7, _))
      assert(keys.forall(BloomContains.probe(bits, 7, _)))
    }
  }

  test("kernel: fpp stays near the design bound") {
    val rnd = new scala.util.Random(7)
    val bits = new Array[Long]((1 << 20) >>> 6)
    val members = Array.fill(50000)(rnd.nextLong())
    members.foreach(BloomContains.set(bits, 7, _))
    val memberSet = members.toSet
    val probes = Iterator.continually(rnd.nextLong())
      .filterNot(memberSet).take(100000).toArray
    val fp = probes.count(BloomContains.probe(bits, 7, _))
    // design fpp at m=2^20, n=50k, k=7 is ~2e-4; allow 10x slack
    assert(fp <= 200, s"false-positive count $fp out of 100k probes")
  }

  test("aggregator merge ORs partial bitsets (order-independent)") {
    import spark.implicits._
    val agg = new functions.BloomSketchAggregator(1 << 14, 7)
    val keys = (1L to 2000L).map(_ * 0x9e3779b97f4a7c15L)
    val distributed = spark.createDataset(keys).repartition(8)
      .select(agg.toColumn).head()
    val local = keys.foldLeft(agg.zero)(agg.reduce)
    assert(distributed.sameElements(local))
  }

  test("q138 equals the exact q65 decontamination row for row") {
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir)
        .collect().map(_.mkString("|")).toSeq
    assert(rows("q138_decontam_bloom") == rows("q65_decontamination"))
  }

  test("bloom prunes >90% of the train side before the semi join") {
    val sh = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        functions.VectorOps.shingleHashes(lower(col("text")), 5).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), explode(col("gs")).as("g"))
    import spark.implicits._
    val agg = new functions.BloomSketchAggregator(1 << 20, 7)
    val bits = sh.filter(col("doc_id") % 100 >= 90)
      .select(col("g")).as[Long].select(agg.toColumn).head()
    val train = sh.filter(col("doc_id") % 100 < 80).select(col("g"))
    val total = train.count()
    val kept = train.filter(
      functions.VectorOps.bloomContains(col("g"),
        graft.plans.FrozenTable.ofLongs(spark, bits, bits.length), 7))
      .count()
    assert(kept < total / 10,
      s"bloom kept $kept of $total train grams — filter not selective")
  }
}
