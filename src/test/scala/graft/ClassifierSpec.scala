package graft

import graft.tools.TrainQualityClassifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distilled quality classifier (q166): the committed fixture is
  * reproducible from the trainer, the in-row codegen'd scorer equals
  * an independent explode+join recomputation, the trained model
  * genuinely learns the teacher (agreement well above the majority
  * class), and applying it is map-only (one exchange total — the
  * report agg).
  */
class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  test("trainer reproduces the committed fixture byte-for-byte") {
    val (w, bias, thr) = TrainQualityClassifier.train(spark, dir)
    // packed in fixture bucket numbering: [thr, bias, w…]
    val packed = Fixtures.qualityClassifier(spark).value
    val (cThr, cBias, cw) = (packed(0), packed(1), packed.drop(2))
    assert(cw.length == TrainQualityClassifier.Dim)
    assert(java.util.Arrays.equals(w, cw),
      "retrained weights differ from fixtures/quality_classifier.parquet" +
        " — regenerate with runMain graft.tools.TrainQualityClassifier")
    assert(bias == cBias && thr == cThr, s"($bias,$thr) vs ($cBias,$cThr)")
  }

  test("in-row HashedLogit equals the explode+join recomputation") {
    val model = Fixtures.qualityClassifier(spark)
    val bias = model.value(1)
    val gd = operators.TextAnalysis.gopherDoc(spark, dir)
      .select(col("doc_id"),
        operators.Classifier.featureText.as("ftext"))
    val inRow = gd
      .select(col("doc_id"),
        functions.VectorOps.hashedLogit(col("ftext"), model)
          .as("logit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent path: SQL md5-prefix bucketing + a weights join —
    // the oracle's formulation, inside Spark
    val wdf = Fixtures.read(spark, Fixtures.qualityClassifierPath)
      .filter(col("bucket") >= 0)
    val joined = gd
      .select(col("doc_id"), explode(split(col("ftext"), " ")).as("tk"))
      .select(col("doc_id"),
        (expr("CAST(conv(substring(md5(CAST(tk AS BINARY)), 1, 8), " +
          "16, 10) AS BIGINT)") % TrainQualityClassifier.Dim)
          .as("bucket"))
      .join(wdf, "bucket")
      .groupBy("doc_id")
      .agg((sum(col("w_mu")) + bias).as("logit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inRow.size == joined.size)
    assert(inRow == joined, {
      val bad = inRow.collect {
        case (d, l) if joined.get(d) != Some(l) => (d, l, joined.get(d))
      }
      s"${bad.size} docs disagree, e.g. ${bad.take(3).toSeq}"
    })
  }

  test("distillation learned the teacher: agreement beats the " +
      "majority class by a wide margin") {
    val rows = SparkEntry.queries("q166_quality_classifier")(spark, dir)
      .agg(sum("docs"), sum("teacher_pass"), sum("false_pos"),
        sum("false_neg"))
      .collect()(0)
    val docs = rows.getLong(0).toDouble
    val tp = rows.getLong(1).toDouble
    val agree = (docs - rows.getLong(2) - rows.getLong(3)) / docs
    val majority = math.max(tp, docs - tp) / docs
    assert(agree >= majority + 0.15,
      f"agreement $agree%.3f vs majority $majority%.3f — the " +
        "classifier is not better than a constant predictor")
    assert(agree >= 0.9, f"agreement $agree%.3f below 0.9")
  }

  test("streaming gate (q172) equals the batch report rolled up by " +
      "lang — stateless scoring + associative counters make batch " +
      "boundaries irrelevant") {
    val stream = SparkEntry.queries("q172_stream_quality_gate")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val batch = SparkEntry.queries("q166_quality_classifier")(spark, dir)
      .groupBy("lang")
      .agg(sum("docs").as("docs"), sum("kept").as("kept"),
        sum("teacher_pass").as("tp"), sum("false_pos").as("fp"),
        sum("false_neg").as("fn"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(stream == batch)
  }

  test("applying the classifier is map-only: one hash exchange (the " +
      "report agg) in the executed plan, no explode, no join") {
    val p = SparkEntry.queries("q166_quality_classifier")(spark, dir)
      .queryExecution.executedPlan.toString
    // the rangepartitioning exchange under the final output Sort runs
    // over |lang × source| rows — the hashpartitioning one is the only
    // corpus-sized exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      p.take(800))
    assert(!p.contains("Generate"), "classifier scoring must not explode")
    assert(!p.contains("Join"), "classifier scoring must not join")
  }
}
