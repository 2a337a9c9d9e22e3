package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PCA trainer behind the committed q145 fixture: deterministic,
  * orthonormal components, and — the gate that makes the fixture
  * meaningful — the projected variance on the TRAINING corpus matches
  * each component's eigenvalue.
  */
class TrainWhitenerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val trainDir = "/root/testdata/sf0.1"

  private def trainVecs = Tables.load(spark, trainDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("training is deterministic and components are orthonormal") {
    val dim = tools.GenFixtures.Dim
    val t1 = tools.TrainWhitener.train(trainVecs, dim, 4)
    val t2 = tools.TrainWhitener.train(trainVecs, dim, 4)
    t1.comps.zip(t2.comps).foreach { case ((p1, w1, l1, m1),
        (p2, w2, l2, m2)) =>
      assert(p1 == p2 && l1 == l2 && m1 == m2 && w1.sameElements(w2),
        s"rerun diverged at component $p1")
    }
    for (a <- t1.comps; b <- t1.comps) {
      val d = a._2.zip(b._2).map { case (x, y) => x * y }.sum
      val expect = if (a._1 == b._1) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-6,
        s"components ${a._1},${b._1} not orthonormal: $d")
    }
    assert(t1.comps.map(_._3) == t1.comps.map(_._3).sorted.reverse,
      "eigenvalues must descend")
  }

  test("committed fixture: projected variance on the training corpus " +
      "matches each component's eigenvalue within 2%") {
    val comps = Fixtures.pcaComponents(spark).collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray,
        r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(comps.length == 8, "fixture must hold 8 components")
    val vecs = trainVecs.select(col("v"))
      .collect().map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    comps.foreach { case (pcid, w, lambda, wmu) =>
      val t = vecs.map(v =>
        v.zip(w).map { case (a, b) => a * b }.sum - wmu)
      val n = t.length
      val mean = t.sum / n
      val v = t.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      assert(math.abs(v - lambda) / lambda < 0.02,
        s"component $pcid: projected var $v vs lambda $lambda")
      assert(math.abs(mean) < 1e-9,
        s"component $pcid: projection not centered, mean $mean")
    }
  }
}
