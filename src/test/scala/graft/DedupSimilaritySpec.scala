package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-algorithm consistency: the MinHash-LSH and SimHash near-dup
  * operators must recover exactly the pairs the exact shingle-Jaccard
  * operator finds (their shared DuckDB oracle asserts the same), and the
  * LSH ANN must return full top-k rows with sane recall vs brute force.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.mkString("|")).sorted.toSeq

  test("minhash-LSH recovers the exact jaccard pair set") {
    assert(rows("q23_dedup_minhash") == rows("q22_dedup_jaccard"))
  }

  test("simhash recovers the exact jaccard pair set") {
    assert(rows("q24_dedup_simhash") == rows("q22_dedup_jaccard"))
  }

  test("prefix filtering recovers the exact jaccard pair set (lossless " +
      "by the prefix theorem, unlike the df-capped variant)") {
    assert(rows("q91_dedup_jaccard_prefix") == rows("q22_dedup_jaccard"))
  }

  test("simhash candidates come from a banded equi-join, not all-pairs") {
    val plan = SparkEntry.queries("q24_dedup_simhash")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "simhash plan fell back to a nested-loop join")
    assert(!plan.contains("CartesianProduct"),
      "simhash plan contains a cartesian product")
  }

  test("approx distinct within 5% of exact") {
    val approx = SparkEntry.queries("q44_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q41_stream_dedup")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05,
        s"$k: approx $ap vs exact $ex")
    }
  }

  test("lsh ann returns full top-k and decent recall vs brute force") {
    val exact = SparkEntry.queries("q26_ann_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SparkEntry.queries("q27_ann_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lsh.size == exact.size)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall $recall collapsed")
  }

  test("lsh near-dup pairs are a subset of exact pairs with sane recall") {
    val exact = SparkEntry.queries("q25_embed_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q58_embed_neardup_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified LSH pair outside the exact set")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH near-dup recall $recall collapsed")
  }

  test("multi-probe lsh ann: candidate superset of single-probe q27, " +
      "recall >= q27's vs brute force") {
    val exact = SparkEntry.queries("q26_ann_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = SparkEntry.queries("q27_ann_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val multi = SparkEntry.queries("q136_ann_multiprobe")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(multi.size == exact.size)
    val rs = single.intersect(exact).size.toDouble / exact.size
    val rm = multi.intersect(exact).size.toDouble / exact.size
    assert(rm >= rs,
      s"multi-probe recall $rm fell below single-probe $rs — the " +
        "Hamming-1 probes lost candidates")
    assert(rm > 0.4, s"multi-probe recall $rm collapsed")
  }

  test("ivf ann returns rows with nonzero recall vs brute force") {
    val exact = SparkEntry.queries("q26_ann_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SparkEntry.queries("q45_ann_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.05, s"IVF recall $recall collapsed")
  }

  test("incremental near-dup (q74) equals the cross-split subset of " +
      "the exact pair set, re-keyed (base_id, delta_id)") {
    val expect = SparkEntry.queries("q22_dedup_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 100 >= 90) != (b % 100 >= 90) }
      .map { case (a, b, j) =>
        if (a % 100 >= 90) (b, a, j) else (a, b, j) }
      .toSet
    val got = SparkEntry.queries("q74_incremental_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == expect,
      s"q74 mismatch: missing=${expect -- got} extra=${got -- expect}")
  }

  test("ivf-pq results stay inside the ivf candidate universe and " +
      "track plain ivf (same probed lists + exact re-rank)") {
    val ivf = SparkEntry.queries("q45_ann_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = SparkEntry.queries("q72_ann_ivfpq")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivfpq.nonEmpty)
    // both draw candidates from the same probed lists; PQ only changes
    // WHICH candidates survive to the exact re-rank, so agreement
    // collapsing to near-zero means the ADC shortlist is broken
    val agree = ivfpq.intersect(ivf).size.toDouble / ivf.size
    assert(agree >= 0.5, s"IVF-PQ agreement with IVF fell to $agree")
  }

  test("q135 adaptive rho-bound near-dup: subset of exact pairs, " +
      "recall >= 0.9 (vs the fixed geometry's ~0.75 design point)") {
    val exact = SparkEntry.queries("q25_embed_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adaptive = SparkEntry.queries("q135_adaptive_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive.subsetOf(exact),
      "verified adaptive pair outside the exact set")
    val recall = adaptive.size.toDouble / exact.size
    assert(recall >= 0.9, s"adaptive near-dup recall $recall below the " +
      "1 - e^-4 = 0.98 design point's test floor")
    val fixed = SparkEntry.queries("q58_embed_neardup_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive.size >= fixed.size,
      s"adaptive geometry (${adaptive.size}) found fewer pairs than " +
        s"the fixed 8x4 fallback (${fixed.size})")
  }

  test("oneShotNeardup dispatcher: small corpora take the fixed-" +
      "geometry arm (== q58), large-N callers get the adaptive arm") {
    val smallArm = operators.Similarity.oneShotNeardup(spark, dir, 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q58 = SparkEntry.queries("q58_embed_neardup_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(smallArm == q58,
      "small-corpus arm diverged from the q58 fixed-geometry spelling")

    // force the adaptive arm by declaring a large corpus cardinality:
    // planes re-derive from adaptiveGeometry(n), so the result must
    // stay inside the exact pair set with the design recall
    val exact = SparkEntry.queries("q25_embed_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val largeArm = operators.Similarity
      .oneShotNeardup(spark, dir, 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(largeArm.subsetOf(exact),
      "adaptive-arm pair outside the exact set")
    assert(largeArm.size.toDouble / exact.size >= 0.9,
      s"adaptive-arm recall ${largeArm.size.toDouble / exact.size} " +
        "collapsed")
  }

  test("q134 containment finds a short doc duplicated inside a long " +
      "one that symmetric Jaccard misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // short = 10 distinct-ish tokens; long = short + 90 more tokens.
    // 3-shingle containment of short in long = 1.0; Jaccard ~ 8/98.
    val short = (1 to 12).map(i => s"tok$i").mkString(" ")
    val long = short + " " + (13 to 100).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "unrelated words only"))
      .toDF("doc_id", "text")

    // run the operator's expressions inline on the local corpus
    // (shingle sets come from the registered function)
    val sets = docs.select(col("doc_id"),
        graft.functions.VectorOps
          .shingleHashes(lower(col("text")), 3).as("gs"))
      .filter(size(col("gs")) > 0)
      .withColumn("n", size(col("gs")))
    val sh = sets.select(col("doc_id"), col("n"),
      explode(col("gs")).as("g"))
    val a = sh.select(col("doc_id").as("d1"), col("n").as("n1"), col("g"))
    val b = sh.select(col("doc_id").as("d2"), col("n").as("n2"), col("g"))
    val pairs = a.join(b, Seq("g")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("c"), min(col("n1")).as("n1"),
        min(col("n2")).as("n2"))
      .withColumn("jac", col("c").cast("double") /
        (col("n1") + col("n2") - col("c")))
      .withColumn("cont", col("c").cast("double") /
        least(col("n1"), col("n2")))
      .collect()
    val p = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(p.getAs[Double]("cont") >= 0.99,
      s"short doc should be fully contained: $p")
    assert(p.getAs[Double]("jac") < 0.2,
      s"symmetric Jaccard should MISS this pair at 0.8: $p")
  }

  test("q139 semantic dedup: ledger partitions the corpus; victims are " +
      "a subset of the exact near-dup victims") {
    val total = SparkEntry.queries("q25_embed_neardup")(spark, dir)
      .sparkSession.read.parquet(s"$dir/embeddings.parquet").count()
    val exactVictims = SparkEntry.queries("q25_embed_neardup")(spark, dir)
      .select("v2").distinct().count()
    val ledger = SparkEntry.queries("q139_semantic_dedup")(spark, dir)
      .collect()
    // every vector lands in exactly one cluster row, kept + dropped
    // reconcile per cluster, and cluster-restricted victims can never
    // exceed the unrestricted exact pair victims
    assert(ledger.map(_.getAs[Long]("cluster_size")).sum == total)
    assert(ledger.forall(r => r.getAs[Long]("kept") +
      r.getAs[Long]("dropped") == r.getAs[Long]("cluster_size")))
    val dropped = ledger.map(_.getAs[Long]("dropped")).sum
    assert(dropped <= exactVictims && dropped > 0,
      s"dropped=$dropped, exact victims=$exactVictims")
  }

  test("q158 SQ8: quantized ranking is near-lossless (mean recall " +
      "high, cosine error tiny) and codes stay inside int8 range") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q158_ann_sq8_recall")(spark, dir)
      .collect()
    assert(r.nonEmpty)
    val meanRecall = r.map(_.getAs[Double]("recall")).sum / r.length
    assert(meanRecall >= 0.9, s"SQ8 mean recall $meanRecall")
    assert(r.forall(_.getAs[Double]("qerr") <= 0.01),
      "SQ8 cosine error above 1e-2 — quantizer broken")
    // the codes themselves: |q8| ≤ 127 for every component
    val over = Tables.load(spark, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("mx") > 0d)
      .withColumn("bad", expr(
        "exists(v, x -> abs(CAST(floor(x * 127D / mx + 0.5D) " +
          "AS BIGINT)) > 127L)"))
      .filter(col("bad")).count()
    assert(over == 0L, s"$over vectors quantize outside int8 range")
  }

  test("q159 graded overlap is consistent with q65's boolean: per " +
      "lang, docs with nonzero overlap = q65's contaminated count") {
    import org.apache.spark.sql.functions._
    val graded = SparkEntry.queries("q159_contam_overlap")(spark, dir)
      .groupBy(col("lang"))
      .agg(sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("nz"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bool = SparkEntry.queries("q65_decontamination")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("contaminated")).toMap
    assert(graded.keySet === bool.keySet)
    for ((lang, nz) <- graded)
      assert(nz === bool(lang),
        s"$lang: graded nonzero $nz != boolean ${bool(lang)}")
  }

  test("embeddings fixtures carry NO null vectors — the precondition " +
      "under which the in-row code kernel (drops a null row) and the " +
      "relational spelling (codes it 0) cannot diverge (r20 ADVICE #3; " +
      "normed()'s scaladoc states the contract)") {
    import org.apache.spark.sql.functions.col
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nulls = Tables.load(spark, d, "embeddings")
        .filter(col("embedding").isNull).count()
      assert(nulls == 0L, s"$d: $nulls null embeddings")
    }
    val fixNulls = spark.read
      .parquet(graft.Fixtures.neardupEmbeddingsPath)
      .filter(col("embedding").isNull).count()
    assert(fixNulls == 0L, "committed near-dup fixture has null vectors")
  }
}
