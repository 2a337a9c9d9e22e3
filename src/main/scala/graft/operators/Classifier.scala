package graft.operators

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the distilled-classifier gate a
  * production curation pipeline runs where the rule gate (q117) is
  * only the teacher (GPT-3's WebText quality filter, Brown et al.
  * NeurIPS'20 §A; FineWeb-Edu's classifier gate). Training is offline
  * ([[graft.tools.TrainQualityClassifier]] — NB log-odds over hashed
  * unigrams, distilled from the q117 Gopher conjunction); applying is
  * ONE in-row codegen'd expression per document
  * ([[graft.plans.HashedLogit]]) over the weight table broadcast as a
  * [[graft.plans.FrozenTable]] — zero shuffles before the report agg,
  * the same map-only cost class as the rule gate it replaces at 100 TB.
  */
object Classifier {

  /** The classifier's FEATURE TEXT: the lowercased document plus four
    * synthetic stat tokens (`#len<bin> #awl<bin> #st<bin> #rep<bin>`)
    * — the feature engineering that lets a LINEAR model express the
    * teacher's non-monotone windows (a pure bag-of-words scorer
    * cannot represent "20 ≤ nt ≤ 80", so distillation degenerates to
    * the majority class without these; fastText's n-gram buckets are
    * the same move, Joulin et al. EACL'17). Every bin is INTEGER
    * arithmetic stated identically in both engines (`div` / `//`):
    * floor(awl) = n_chars div nt, the repetition decile is
    * (10·(nt−2−uniq)) div (nt−2) — no float touches a bin boundary.
    * Expects [[TextAnalysis.gopherDoc]]'s columns; the '#' prefix
    * cannot collide with corpus words (lowercase letters only).
    */
  private[graft] def featureText: org.apache.spark.sql.Column =
    concat(col("ltext"),
      lit(" #len"), least(expr("nt div 10"), lit(15)).cast("string"),
      lit(" #awl"),
      least(expr("n_chars div nt"), lit(15)).cast("string"),
      lit(" #st"), least(col("stops"), lit(3)).cast("string"),
      lit(" #rep"), when(col("nt") > 2,
        expr("(10 * (nt - 2 - uniq)) div (nt - 2)"))
        .otherwise(lit(-1L)).cast("string"))

  /** [[featureText]]'s oracle half: a CTE `ft(doc_id, ftext)` over
    * `gd` (the [[TextAnalysis.GopherDocSql]] tail) joined back to
    * `documents` for the raw text. Interpolate after GopherDocSql.
    */
  private[graft] val FeatureTextSql: String =
    """ft AS (
      |  SELECT gd.doc_id, lower(d.text) ||
      |    ' #len' || CAST(LEAST(gd.nt // 10, 15) AS VARCHAR) ||
      |    ' #awl' || CAST(LEAST(gd.n_chars // gd.nt, 15) AS VARCHAR) ||
      |    ' #st' || CAST(LEAST(gd.stops, 3) AS VARCHAR) ||
      |    ' #rep' || CAST(CASE WHEN gd.nt > 2
      |      THEN (10 * (gd.nt - 2 - gd.uniq)) // (gd.nt - 2)
      |      ELSE -1 END AS VARCHAR) AS ftext
      |  FROM gd JOIN documents d ON gd.doc_id = d.doc_id)""".stripMargin

  /** Shared oracle CTE chain for the hashed-logit score: weights/bias
    * from the committed fixture + md5-bucket features over `ft` +
    * the per-doc µunit score — ONE spelling for q166 and q195 (the
    * FeatureTextSql/dressedSql hoisting precedent). Yields `sc(doc_id,
    * s)` and `b(bias)`; interpolate after GopherDocSql + FeatureTextSql.
    */
  private val ScoreSql: String =
    s"""w AS (SELECT bucket, w_mu
       |      FROM read_parquet('${graft.Fixtures.qualityClassifierPath}')
       |      WHERE bucket >= 0),
       |b AS (SELECT w_mu AS bias
       |      FROM read_parquet('${graft.Fixtures.qualityClassifierPath}')
       |      WHERE bucket = -1),
       |tk AS (SELECT doc_id, unnest(string_split(ftext, ' ')) AS tk
       |       FROM ft),
       |f AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) %
       |          ${graft.tools.TrainQualityClassifier.Dim} AS bucket
       |      FROM tk),
       |sc AS (SELECT f.doc_id, SUM(w.w_mu) AS s
       |       FROM f JOIN w USING (bucket) GROUP BY 1)""".stripMargin

  // Distilled quality-classifier gate + teacher-agreement report: per
  // (lang, source), how many documents the trained classifier keeps
  // (µunit logit above the trained operating-point threshold —
  // INTEGER weights/bias/threshold from the committed fixture, so the
  // keep decision is engine-exact with no float anywhere at query
  // time), how many the teacher gate passes, and
  // the confusion split (false_pos / false_neg vs the teacher) — the
  // accounting a mix owner uses to decide whether the cheap model can
  // replace the expensive gate on the next crawl. Teacher columns
  // come from the SAME gopherDoc helper/CTE as q117 (no drift);
  // classifier scoring is in-row; one keyed agg.
  val q166QualityClassifier: QueryDef = QueryDef(
    "q166_quality_classifier",
    (s, dir) => {
      val model = graft.Fixtures.qualityClassifier(s)
      def cnt(c: org.apache.spark.sql.Column, name: String) =
        sum(when(c, 1L).otherwise(0L)).as(name)
      TextAnalysis.gopherDoc(s, dir)
        .withColumn("kept",
          graft.functions.VectorOps.hashedLogit(featureText, model)
            > graft.plans.HashedLogit.threshold(model.value))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          cnt(col("kept"), "kept"),
          cnt(col("pass"), "teacher_pass"),
          cnt(col("kept") && !col("pass"), "false_pos"),
          cnt(!col("kept") && col("pass"), "false_neg"))
        .orderBy("lang", "source")
    },
    Some(s"""WITH ${TextAnalysis.GopherDocSql},
           |$FeatureTextSql,
           |$ScoreSql,
           |th AS (SELECT w_mu AS thr
           |       FROM read_parquet('${graft.Fixtures.qualityClassifierPath}')
           |       WHERE bucket = -2),
           |lg AS (SELECT gd.lang, gd.source, gd.pass,
           |         (COALESCE(sc.s, 0) + (SELECT bias FROM b)) >
           |           (SELECT thr FROM th) AS kept
           |       FROM gd LEFT JOIN sc ON gd.doc_id = sc.doc_id)
           |SELECT lang, source, COUNT(*) AS docs,
           |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           |    AS kept,
           |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           |    AS teacher_pass,
           |  CAST(SUM(CASE WHEN kept AND NOT pass THEN 1 ELSE 0 END)
           |       AS BIGINT) AS false_pos,
           |  CAST(SUM(CASE WHEN NOT kept AND pass THEN 1 ELSE 0 END)
           |       AS BIGINT) AS false_neg
           |FROM lg GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin),
    bench = true, lowLatency = true)

  // Isotonic score calibration + reliability report: apply the
  // committed PAV step function (TrainCalibrator — Zadrozny & Elkan
  // KDD'02) to every document's µunit logit and report, per step,
  // how many documents land there and the teacher's empirical pass
  // rate — the reliability table a mix owner reads before trusting
  // "keep above p% quality-probability" cuts. Assignment is "largest
  // lo_mu ≤ score": a ≤-join against the bounded block table (a model
  // artifact — dozens of rows regardless of corpus size, broadcast
  // class) + max_by, all BIGINT, no float anywhere. Empirical rates
  // quantize as exact integer ratios (⌊10⁶·pos/docs⌋), so both
  // engines agree bit-for-bit.
  val q195ScoreCalibration: QueryDef = QueryDef(
    "q195_score_calibration",
    (s, dir) => {
      val model = graft.Fixtures.qualityClassifier(s)
      val bp = broadcast(
        graft.Fixtures.read(s, graft.Fixtures.scoreCalibratorPath)
          .select("lo_mu", "cal_mu"))
      val scored = TextAnalysis.gopherDoc(s, dir)
        .select(col("doc_id"), col("pass"),
          graft.functions.VectorOps.hashedLogit(featureText, model)
            .as("s_mu"))
      scored.join(bp, col("s_mu") >= col("lo_mu"))
        .groupBy(col("doc_id"), col("pass"))
        .agg(max(col("lo_mu")).as("lo_mu"),
          expr("max_by(cal_mu, lo_mu)").as("cal_mu"))
        .groupBy(col("lo_mu"), col("cal_mu"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("teacher_pos"))
        .withColumn("emp_mu", expr("(teacher_pos * 1000000) div docs"))
        .orderBy("lo_mu")
    },
    Some(s"""WITH ${TextAnalysis.GopherDocSql},
           |$FeatureTextSql,
           |$ScoreSql,
           |sm AS (SELECT gd.doc_id, gd.pass,
           |         COALESCE(sc.s, 0) + (SELECT bias FROM b) AS s_mu
           |       FROM gd LEFT JOIN sc ON gd.doc_id = sc.doc_id),
           |bp AS (SELECT lo_mu, cal_mu
           |       FROM read_parquet('${graft.Fixtures.scoreCalibratorPath}')),
           |asg AS (SELECT sm.doc_id, sm.pass,
           |          MAX(bp.lo_mu) AS lo_mu,
           |          arg_max(bp.cal_mu, bp.lo_mu) AS cal_mu
           |        FROM sm JOIN bp ON sm.s_mu >= bp.lo_mu
           |        GROUP BY sm.doc_id, sm.pass)
           |SELECT lo_mu, cal_mu, COUNT(*) AS docs,
           |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           |    AS teacher_pos,
           |  (CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000) // COUNT(*) AS emp_mu
           |FROM asg GROUP BY lo_mu, cal_mu ORDER BY lo_mu""".stripMargin))

  val all: Seq[QueryDef] = Seq(q166QualityClassifier, q195ScoreCalibration)
}
