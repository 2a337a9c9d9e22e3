package graft.operators

import graft.{QueryDef, Round4, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked retrieval over the documents corpus — the serving-side twin of
  * the curation tier: BM25 keyword retrieval, hybrid keyword+vector
  * fusion (RRF), and per-source corpus caps. These are the operations a
  * training-data pipeline runs to assemble retrieval eval sets and to
  * bound any one source's share of the mix (reference: the corpus-mix
  * and quality tiers this complements are q57/q75/q115; the reference
  * engine itself stops at relational scans — this tier is part of the
  * beyond-reference LLM-pipeline surface SURVEY.md §2.11 claims).
  *
  * Scale posture, by design rather than by tuning:
  *
  *  - BM25 for a FIXED query-term list needs no inverted index and no
  *    per-token explode: tf per query term is computed IN-ROW over the
  *    token array (`size(filter(w, _ == term))`), so the corpus never
  *    shuffles at all. The only aggregates are one 1-row pass for
  *    (N, Σdl, df per term) — broadcast back — and the final top-k is
  *    TakeOrderedAndProject (per-partition heap + driver merge of k
  *    rows). At 100 TB: one scan, zero wide exchanges.
  *  - Score arithmetic is emitted from ONE shared SQL text
  *    ([[bm25ScoreSql]]) evaluated by both engines, all operands cast
  *    to DOUBLE and all constants written in exponent form (`0.5e0`) —
  *    decimal-literal typing rules differ between Spark and DuckDB
  *    (both parse `0.5` as DECIMAL but with different
  *    division-scale rules), doubles are IEEE-identical. Term
  *    contributions sum in fixed left-to-right order so the two
  *    engines round identically at the 4-dp gate.
  *  - RRF fusion joins two rank lists each already truncated to
  *    [[FusionDepth]] rows — constant-size relations at any corpus
  *    scale; ranks are assigned by a window over the truncated list,
  *    never over the corpus.
  *  - The source cap runs as two-phase salted top-C: salt-local
  *    row_number bounds every window partition at the shuffle, then a
  *    global per-source pass ranks the ≤ C·salts survivors. A hot
  *    source (half the crawl from one domain) never concentrates in
  *    one task — the same pigeonhole trick as Skew.scala's salted agg.
  */
object Retrieval {

  /** Fixed retrieval query: mixed document frequencies on the synthetic
    * vocabulary (df 25..402 of 500 at sf0.01) so idf actually orders
    * results. A production run parameterizes these; the oracle needs
    * them pinned.
    */
  val QueryTerms: Seq[String] = Seq("dup", "key", "vector", "batch")

  val TopN = 10
  val FusionDepth = 50
  val RrfK = 60
  val SourceCap = 15
  private val CapSalts = 32

  /** Okapi BM25 (k1=1.2, b=0.75) contribution of term i, as SQL text
    * shared verbatim by the Spark plan (`expr`) and the DuckDB oracle.
    * Expects columns tf<i>, df<i> (integers) and n, sumdl, dl in scope.
    * Zero-tf terms contribute exactly 0.0, so summing over the fixed
    * term list needs no per-term presence filter.
    */
  /** The ONE Okapi BM25 per-term formula text (k1 = 1.2, b = 0.75 —
    * the k1+1 = 2.2 numerator keeps scores in the familiar range),
    * parameterized over the tf/df column names so q124/q125 (indexed
    * columns) and q137 (long-form rows) cannot drift: a constant tuned
    * here reaches every consumer.
    */
  private def bm25TermSql(tfCol: String, dfCol: String): String = {
    val tf = s"CAST($tfCol AS DOUBLE)"
    val df = s"CAST($dfCol AS DOUBLE)"
    s"""(ln(1e0 + (CAST(n AS DOUBLE) - $df + 0.5e0) / ($df + 0.5e0))
       | * ($tf * 2.2e0)
       | / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * CAST(dl AS DOUBLE)
       |     / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))""".stripMargin
      .replaceAll("\\s+", " ").trim
  }

  private def termScoreSql(i: Int): String = bm25TermSql(s"tf$i", s"df$i")

  /** Full BM25 score: fixed left-to-right sum of the per-term texts. */
  private def bm25ScoreSql: String =
    QueryTerms.indices.map(i => termScoreSql(i + 1)).mkString(" + ")

  /** Per-document (dl, tf1..tfN) — all in-row, no explode. ONE select
    * builds every tf column (a per-term `withColumn` fold re-analyzes
    * the growing plan once per term — measured ~40 ms of pure
    * driver-side analysis on the unprepared-warm column).
    */
  private def tfRelation(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), t => t =!= "").as("w"))
    val tfCols = QueryTerms.zipWithIndex.map { case (term, i) =>
      size(filter(col("w"), t => t === lit(term))).as(s"tf${i + 1}")
    }
    toks.select(col("doc_id") +: size(col("w")).as("dl") +: tfCols: _*)
  }

  /** tf relation + broadcast 1-row corpus stats (n, sumdl, df1..dfN),
    * scored; only docs matching ≥1 query term survive.
    */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val t = tfRelation(s, dir)
    val statCols = Seq(
      count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
      QueryTerms.indices.map(i =>
        sum(when(col(s"tf${i + 1}") > 0, 1L).otherwise(0L))
          .as(s"df${i + 1}"))
    val stats = t.agg(statCols.head, statCols.tail: _*)
    val anyTf = QueryTerms.indices
      .map(i => col(s"tf${i + 1}"))
      .reduce(_ + _)
    t.join(broadcast(stats))
      .filter(anyTf > 0)
      .withColumn("score", expr(bm25ScoreSql))
  }

  /** Oracle CTE prefix computing the same tf/stats relations in DuckDB
    * (list_filter counts are exact integers, so the engines only have
    * to agree on the double arithmetic of the shared score text).
    */
  private def oracleTfCtes: String = {
    val tfCols = QueryTerms.zipWithIndex.map { case (term, i) =>
      s"len(list_filter(w, t -> t = '$term')) AS tf${i + 1}"
    }.mkString(",\n|    ")
    val dfCols = QueryTerms.indices.map(i =>
      s"SUM(CASE WHEN tf${i + 1} > 0 THEN 1 ELSE 0 END) AS df${i + 1}")
      .mkString(",\n|    ")
    s"""tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, len(w) AS dl,
       |    $tfCols
       |  FROM tok),
       |st AS (
       |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
       |    $dfCols
       |  FROM t)""".stripMargin
  }

  private def anyTfSql: String =
    QueryTerms.indices.map(i => s"tf${i + 1}").mkString(" + ") + " > 0"

  // BM25 top-k keyword retrieval for the fixed query. One corpus scan,
  // in-row tf, broadcast stats, TakeOrderedAndProject — no wide
  // exchange anywhere (asserted by RetrievalSpec's plan test).
  val q124Bm25Topk: QueryDef = QueryDef(
    "q124_bm25_topk",
    (s, dir) =>
      scored(s, dir)
        .select(col("doc_id"), Round4(col("score")).as("s4"))
        .orderBy(col("s4").desc, col("doc_id"))
        .limit(TopN),
    Some(s"""WITH ${oracleTfCtes}
            |SELECT doc_id,
            |  ${Round4.sql(bm25ScoreSql)} AS s4
            |FROM t CROSS JOIN st
            |WHERE ${anyTfSql}
            |ORDER BY s4 DESC, doc_id LIMIT $TopN""".stripMargin),
    bench = true, lowLatency = true)

  // Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR'09)
  // of the BM25 list with a vector-similarity list for one query
  // vector (vec_id 0, joined to documents by doc_id = vec_id). Both
  // lists truncate to FusionDepth BEFORE ranks are assigned, so the
  // fusion join touches 2·depth rows at any corpus size; ranks order
  // by the 4-dp-rounded score with doc_id tie-break, making the
  // truncation boundary engine-stable.
  val q125HybridRrf: QueryDef = QueryDef(
    "q125_hybrid_rrf",
    (s, dir) => {
      val text = scored(s, dir)
        .select(col("doc_id"), Round4(col("score")).as("s4"))
        .orderBy(col("s4").desc, col("doc_id"))
        .limit(FusionDepth)
        .withColumn("rb", row_number().over(
          Window.orderBy(col("s4").desc, col("doc_id"))))
        .select(col("doc_id"), col("rb"))
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v")))
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn")))
      val vec = e.filter(col("vec_id") =!= 0)
        .join(q)
        .withColumn("sim", Round4(graft.functions.VectorOps.cosine(
          col("qv"), col("v"), col("qn"), col("nrm"))))
        .select(col("vec_id").as("vid"), col("sim"))
        .orderBy(col("sim").desc, col("vid"))
        .limit(FusionDepth)
        .withColumn("rv", row_number().over(
          Window.orderBy(col("sim").desc, col("vid"))))
        .select(col("vid"), col("rv"))
      text.join(vec, col("doc_id") === col("vid"), "full_outer")
        .select(coalesce(col("doc_id"), col("vid")).as("doc_id"),
          col("rb"), col("rv"))
        .withColumn("s4", Round4(
          expr(s"coalesce(1e0 / ($RrfK + rb), 0e0)" +
            s" + coalesce(1e0 / ($RrfK + rv), 0e0)")))
        .orderBy(col("s4").desc, col("doc_id"))
        .limit(TopN)
    },
    Some(s"""WITH ${oracleTfCtes},
            |sc AS (
            |  SELECT doc_id, ${Round4.sql(bm25ScoreSql)} AS s4
            |  FROM t CROSS JOIN st WHERE ${anyTfSql}),
            |tr AS (
            |  SELECT doc_id,
            |    ROW_NUMBER() OVER (ORDER BY s4 DESC, doc_id) AS rb
            |  FROM (SELECT * FROM sc ORDER BY s4 DESC, doc_id
            |        LIMIT $FusionDepth)),
            |vs AS (
            |  SELECT c.vec_id AS vid,
            |    ${Round4.sql(
             "list_cosine_similarity(CAST(q.embedding AS DOUBLE[])," +
               " CAST(c.embedding AS DOUBLE[]))")} AS sim
            |  FROM embeddings q JOIN embeddings c
            |    ON q.vec_id = 0 AND c.vec_id <> 0),
            |vr AS (
            |  SELECT vid,
            |    ROW_NUMBER() OVER (ORDER BY sim DESC, vid) AS rv
            |  FROM (SELECT * FROM vs ORDER BY sim DESC, vid
            |        LIMIT $FusionDepth))
            |SELECT COALESCE(tr.doc_id, vr.vid) AS doc_id, rb, rv,
            |  floor((coalesce(1e0 / ($RrfK + rb), 0e0)
            |         + coalesce(1e0 / ($RrfK + rv), 0e0))
            |        * 10000 + 0.5) / 10000 AS s4
            |FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.vid
            |ORDER BY s4 DESC, doc_id LIMIT $TopN""".stripMargin),
    bench = true, lowLatency = true)

  // Per-source corpus cap: keep at most SourceCap docs per source,
  // selected content-addressed (md5 of the text, doc_id tie-break) so
  // the retained set is reproducible across engines, reruns, and
  // shard layouts — the same determinism contract as q60's hash
  // sampling. Two-phase salted selection keeps every window partition
  // bounded: phase 1 ranks within (source, salt) — salt is a hash of
  // doc_id, so ≤ cap·salts rows per source survive regardless of how
  // hot the source is; phase 2 ranks the survivors per source. Losing
  // a global top-C member in phase 1 is impossible (pigeonhole: the
  // global top-C of a source contains ≤ C rows of any salt bucket).
  val q126SourceCap: QueryDef = QueryDef(
    "q126_source_cap",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("h"))
      val local = Window
        .partitionBy(col("source"), pmod(col("doc_id"), lit(CapSalts)))
        .orderBy(col("h"), col("doc_id"))
      val global = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      docs
        .withColumn("lrk", row_number().over(local))
        .filter(col("lrk") <= SourceCap)
        .withColumn("rk", row_number().over(global))
        .filter(col("rk") <= SourceCap)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy("source", "rk")
    },
    Some(s"""SELECT source, rk, doc_id FROM (
            |  SELECT source, doc_id,
            |    ROW_NUMBER() OVER (PARTITION BY source
            |      ORDER BY md5(text), doc_id) AS rk
            |  FROM documents) r
            |WHERE rk <= $SourceCap ORDER BY source, rk""".stripMargin))

  private val EvalEvery = 29 // eval-query slice: doc_id % 29 == 0
  private val EvalTerms = 3  // query = the doc's top-3 tf terms

  /** Single-term Okapi BM25 contribution over the long-form column
    * names (tf, df, n, sumdl, dl) — the SAME [[bm25TermSql]] text
    * q124/q125 score with (one source of truth, no second
    * hand-maintained copy); quantized to integer micro-units BEFORE
    * the per-(query, doc) sum so the aggregate is order-insensitive
    * (exact) in both engines — the q64 trick.
    */
  private def termScoreUnitsSql: String =
    s"CAST(floor(${bm25TermSql("tf", "df")} * 1000000e0 + 0.5e0) " +
      "AS BIGINT)"

  /** Oracle twin of [[evalTextMatched]] — the CTE chain ending at
    * `m (qdoc_id, doc_id, su)`, shared verbatim by the q137 and q150
    * oracles so the two evals score from one text-channel definition.
    */
  private def oracleEvalTextCtes: String =
    s"""tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '')
       |      AS w
       |  FROM documents),
       |qtf AS (
       |  SELECT qdoc_id, t, COUNT(*) AS qtf FROM (
       |    SELECT doc_id AS qdoc_id, unnest(w) AS t FROM tok
       |    WHERE doc_id % $EvalEvery = 0) u GROUP BY 1, 2),
       |qterms AS (
       |  SELECT qdoc_id, t FROM (
       |    SELECT qdoc_id, t, ROW_NUMBER() OVER (
       |      PARTITION BY qdoc_id ORDER BY qtf DESC, t) AS trnk
       |    FROM qtf) r WHERE trnk <= $EvalTerms),
       |terms AS (SELECT DISTINCT t FROM qterms),
       |st AS (SELECT COUNT(*) AS n, SUM(len(w)) AS sumdl FROM tok),
       |dfr AS (
       |  SELECT t, COUNT(*) AS df
       |  FROM tok CROSS JOIN terms
       |  WHERE list_contains(w, t) GROUP BY t),
       |contrib AS (
       |  SELECT qt.qdoc_id, d.doc_id,
       |    len(list_filter(d.w, x -> x = qt.t)) AS tf,
       |    len(d.w) AS dl, dfr.df
       |  FROM tok d CROSS JOIN qterms qt
       |  JOIN dfr ON dfr.t = qt.t),
       |m AS (
       |  SELECT qdoc_id, doc_id,
       |    CAST(SUM($termScoreUnitsSql) AS BIGINT) AS su
       |  FROM contrib CROSS JOIN st WHERE tf > 0 GROUP BY 1, 2)"""
      .stripMargin

  // Retrieval EVAL: known-item MRR — the index sanity check an eval
  // pipeline runs before trusting a retrieval stack: for each eval doc
  // (a deterministic corpus slice), form a query from its own top-3
  // tf terms and measure at what rank BM25 re-finds the source doc.
  // Output: per-query (n_matched, src_rank, rr4); the spec aggregates
  // MRR. Scale posture:
  //  - the corpus NEVER shuffles: the eval-query relation (≤ N/29 × 3
  //    term rows) broadcasts; per-(doc, query-term) tf is in-row over
  //    the token array; df for the ≤ |terms| distinct eval terms comes
  //    from a corpus × broadcast-terms pass that aggregates map-side
  //    to |terms| rows (no vocabulary-wide exchange);
  //  - the known-item rank needs NO per-query sort: rank = 1 + count
  //    of docs strictly better than the source (score desc, doc_id
  //    tie) — a keyed aggregation over the matched set, bounded per
  //    query by the union df of its terms;
  //  - per-term contributions quantize to integer µunits before the
  //    (query, doc) sum, so double addition order cannot split the
  //    engines.
  /** Per-(eval query, matched doc) BM25 score in integer µunits — the
    * text channel shared by q137 (BM25-only MRR) and q150 (hybrid RRF
    * MRR): eval queries are the doc_id % [[EvalEvery]] corpus slice,
    * each query = its doc's top-[[EvalTerms]] tf terms. Returns
    * (qdoc_id, doc_id, su).
    */
  private def evalTextMatched(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), t => t =!= "").as("w"))
      .transform(graft.Caches.persist) // stats + df + scoring consumers
    // top-3 terms per eval doc, relationally (tiny slice)
    val qtf = toks.filter(col("doc_id") % EvalEvery === 0)
      .select(col("doc_id").as("qdoc_id"), explode(col("w")).as("t"))
      .groupBy("qdoc_id", "t").agg(count(lit(1)).as("qtf"))
    val wq = Window.partitionBy(col("qdoc_id"))
      .orderBy(col("qtf").desc, col("t"))
    val qterms = qtf
      .withColumn("trnk", row_number().over(wq))
      .filter(col("trnk") <= EvalTerms)
      .select(col("qdoc_id"), col("t"))
    val terms = qterms.select(col("t")).distinct()
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("w"))).as("sumdl"))
    // df per eval term: corpus × broadcast terms, map-side agg to
    // |terms| rows — in-row containment, no token explode
    val dfRel = toks.crossJoin(broadcast(terms))
      .filter(array_contains(col("w"), col("t")))
      .groupBy("t").agg(count(lit(1)).as("df"))
    // matched (query, doc) scores in integer µunits
    val contrib = toks.crossJoin(broadcast(qterms))
      .withColumn("tf", size(filter(col("w"),
        x => x === col("t"))))
      .filter(col("tf") > 0)
      .withColumn("dl", size(col("w")))
      .join(broadcast(dfRel), "t")
      .join(broadcast(stats))
      .withColumn("u", expr(termScoreUnitsSql))
    contrib.groupBy(col("qdoc_id"), col("doc_id"))
      .agg(sum(col("u")).as("su"))
  }

  val q137RetrievalEval: QueryDef = QueryDef(
    "q137_retrieval_eval",
    (s, dir) => {
      val matched = evalTextMatched(s, dir)
      val src = matched.filter(col("doc_id") === col("qdoc_id"))
        .select(col("qdoc_id"), col("su").as("srcu"))
      matched.join(broadcast(src), "qdoc_id")
        .groupBy(col("qdoc_id"))
        .agg(count(lit(1)).as("n_matched"),
          (sum(when(col("su") > col("srcu") ||
              (col("su") === col("srcu") &&
                col("doc_id") < col("qdoc_id")), 1L)
            .otherwise(0L)) + 1L).as("src_rank"))
        .withColumn("rr4", Round4(lit(1.0) / col("src_rank")))
        .orderBy("qdoc_id")
    },
    Some(s"""WITH ${oracleEvalTextCtes},
            |src AS (
            |  SELECT qdoc_id, su AS srcu FROM m WHERE doc_id = qdoc_id),
            |ranked AS (
            |  SELECT m.qdoc_id, COUNT(*) AS n_matched,
            |    CAST(SUM(CASE WHEN m.su > src.srcu
            |          OR (m.su = src.srcu AND m.doc_id < m.qdoc_id)
            |        THEN 1 ELSE 0 END) + 1 AS BIGINT) AS src_rank
            |  FROM m JOIN src ON m.qdoc_id = src.qdoc_id
            |  GROUP BY m.qdoc_id)
            |SELECT qdoc_id, n_matched, src_rank,
            |  floor((1e0 / src_rank) * 10000 + 0.5) / 10000 AS rr4
            |FROM ranked ORDER BY qdoc_id""".stripMargin))

  // Hybrid-stack retrieval eval: known-item MRR through the FULL q125
  // RRF pipeline, so retrieval-quality regression coverage spans both
  // rankers (q137 covers BM25 alone). Eval queries are the
  // doc_id % EvalEvery slice that has an embedding: the text query is
  // the doc's own top-3 tf terms (q137's channel, verbatim — shared
  // code), the vector query is the doc's own embedding (self-retrieval:
  // the vector channel should rank the source ~1; the eval measures
  // whether FUSION keeps the known item on top when the text channel
  // ranks it deep — a doc strong in both lists can legitimately
  // outrank a source weak in one). Both channels truncate to
  // FusionDepth before ranks, exactly like q125; the fused src rank is
  // q137's count-better-than aggregation over the fused candidate set
  // (no corpus-wide sort on the rank side). Per-channel ranks use
  // per-query windows over score-sorted candidates: the text side is
  // df-bounded; the vector side is the brute-force eval baseline — a
  // production eval swaps the q136 ANN stack in as the candidate
  // stage, shrinking the window input from the corpus to k·probes
  // rows, without touching the fusion or rank logic here.
  /** The normed embeddings relation + its eval-query slice — shared by
    * q150/q155's vector channels.
    */
  private def evalEmbeddings(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v")))
      .transform(graft.Caches.persist) // query + corpus sides
    val q = e.filter(col("vec_id") % EvalEvery === 0)
      .select(col("vec_id").as("qdoc_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    (e, q)
  }

  /** Hybrid known-item eval core, parameterized over the VECTOR
    * channel's scored relation (qdoc_id, vec_id, sim — 4-dp rounded):
    * q150 feeds it brute-force cosine over the whole corpus (the eval
    * baseline), q155 feeds it only the q136 multi-probe LSH
    * candidates' exact scores (the production candidate stage). The
    * text channel, depth truncation, RRF fusion, and count-better-than
    * rank logic are IDENTICAL by construction.
    */
  private def hybridEvalCore(s: SparkSession, dir: String,
      q: DataFrame, vecScored: DataFrame): DataFrame = {
      val matched = evalTextMatched(s, dir)
      val wText = Window.partitionBy(col("qdoc_id"))
        .orderBy(col("su").desc, col("doc_id"))
      val rb = matched
        .withColumn("rb", row_number().over(wText))
        .filter(col("rb") <= FusionDepth)
        .select(col("qdoc_id"), col("doc_id"), col("rb"))
      val wVec = Window.partitionBy(col("qdoc_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val rv = vecScored
        .withColumn("rv", row_number().over(wVec))
        .filter(col("rv") <= FusionDepth)
        .select(col("qdoc_id"), col("vec_id"), col("rv"))
      val fused = rb.join(rv,
          rb("qdoc_id") === rv("qdoc_id") && rb("doc_id") === rv("vec_id"),
          "full_outer")
        .select(coalesce(rb("qdoc_id"), rv("qdoc_id")).as("qdoc_id"),
          coalesce(rb("doc_id"), rv("vec_id")).as("doc_id"),
          col("rb"), col("rv"))
        .withColumn("s4", Round4(
          expr(s"coalesce(1e0 / ($RrfK + rb), 0e0)" +
            s" + coalesce(1e0 / ($RrfK + rv), 0e0)")))
      // a source that fell out of BOTH depth-50 lists fuses at 0
      val src = fused.filter(col("doc_id") === col("qdoc_id"))
        .select(col("qdoc_id"), col("rb").as("rb_src"),
          col("rv").as("rv_src"), col("s4").as("srcs4"))
      val srcFull = q.select(col("qdoc_id")).join(src, Seq("qdoc_id"), "left")
        .select(col("qdoc_id"), col("rb_src"), col("rv_src"),
          coalesce(col("srcs4"), lit(0.0)).as("srcs4"))
      fused.join(broadcast(srcFull), Seq("qdoc_id"))
        .groupBy(col("qdoc_id"))
        .agg(count(lit(1)).as("n_cand"),
          max(col("rb_src")).as("rb_src"),
          max(col("rv_src")).as("rv_src"),
          (sum(when(col("s4") > col("srcs4") ||
              (col("s4") === col("srcs4") &&
                col("doc_id") < col("qdoc_id")), 1L)
            .otherwise(0L)) + 1L).as("src_rank"))
        .withColumn("rr4", Round4(lit(1.0) / col("src_rank")))
        .orderBy("qdoc_id")
  }

  /** Hybrid-eval oracle SQL, parameterized over the CTEs producing
    * `vs (qdoc_id, vec_id, sim)` — the SQL twin of [[hybridEvalCore]]'s
    * vecScored parameter. Everything from the per-channel ranks down
    * is ONE shared text for q150 and q155.
    */
  private def hybridEvalOracle(vsCtes: String): String =
    s"""WITH ${oracleEvalTextCtes},
       |rbr AS (
       |  SELECT qdoc_id, doc_id, rb FROM (
       |    SELECT qdoc_id, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY qdoc_id ORDER BY su DESC, doc_id) AS rb
       |    FROM m) r WHERE rb <= $FusionDepth),
       |$vsCtes,
       |rvr AS (
       |  SELECT qdoc_id, vec_id, rv FROM (
       |    SELECT qdoc_id, vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY qdoc_id ORDER BY sim DESC, vec_id) AS rv
       |    FROM vs) r WHERE rv <= $FusionDepth),
       |fused AS (
       |  SELECT COALESCE(rbr.qdoc_id, rvr.qdoc_id) AS qdoc_id,
       |    COALESCE(rbr.doc_id, rvr.vec_id) AS doc_id, rb, rv,
       |    floor((coalesce(1e0 / ($RrfK + rb), 0e0)
       |           + coalesce(1e0 / ($RrfK + rv), 0e0))
       |          * 10000 + 0.5) / 10000 AS s4
       |  FROM rbr FULL OUTER JOIN rvr
       |    ON rbr.qdoc_id = rvr.qdoc_id AND rbr.doc_id = rvr.vec_id),
       |srcf AS (
       |  SELECT qv.qdoc_id, f.rb AS rb_src, f.rv AS rv_src,
       |    COALESCE(f.s4, 0e0) AS srcs4
       |  FROM qv LEFT JOIN fused f
       |    ON f.qdoc_id = qv.qdoc_id AND f.doc_id = qv.qdoc_id),
       |ranked AS (
       |  SELECT f.qdoc_id, COUNT(*) AS n_cand,
       |    MAX(srcf.rb_src) AS rb_src, MAX(srcf.rv_src) AS rv_src,
       |    CAST(SUM(CASE WHEN f.s4 > srcf.srcs4
       |          OR (f.s4 = srcf.srcs4 AND f.doc_id < f.qdoc_id)
       |        THEN 1 ELSE 0 END) + 1 AS BIGINT) AS src_rank
       |  FROM fused f JOIN srcf ON f.qdoc_id = srcf.qdoc_id
       |  GROUP BY f.qdoc_id)
       |SELECT qdoc_id, n_cand, rb_src, rv_src, src_rank,
       |  floor((1e0 / src_rank) * 10000 + 0.5) / 10000 AS rr4
       |FROM ranked ORDER BY qdoc_id""".stripMargin

  val q150HybridEval: QueryDef = QueryDef(
    "q150_hybrid_eval",
    (s, dir) => {
      val (e, q) = evalEmbeddings(s, dir)
      val vecScored = e.join(broadcast(q))
        .withColumn("sim", Round4(graft.functions.VectorOps.cosine(
          col("qv"), col("v"), col("qn"), col("nrm"))))
        .select(col("qdoc_id"), col("vec_id"), col("sim"))
      hybridEvalCore(s, dir, q, vecScored)
    },
    Some(hybridEvalOracle(
      s"""e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |qv AS (
         |  SELECT vec_id AS qdoc_id, v AS qvec FROM e
         |  WHERE vec_id % $EvalEvery = 0),
         |vs AS (
         |  SELECT qv.qdoc_id, e.vec_id,
         |    floor(list_cosine_similarity(qv.qvec, e.v) * 10000 + 0.5)
         |      / 10000 AS sim
         |  FROM e CROSS JOIN qv)""".stripMargin)))

  // The PRODUCTION arm of the hybrid eval — the documented q150 swap,
  // executable: the vector channel's candidates come from the q136
  // multi-probe sign-LSH stack (Lv et al. VLDB'07 Hamming-1 probes;
  // exact cosine computed ONLY on candidates) instead of brute-force
  // corpus × queries. The text channel, fusion, and rank logic are the
  // SAME code and the SAME oracle text as q150 (hybridEvalCore /
  // hybridEvalOracle) — only the vs relation differs, so comparing
  // q155's MRR against q150's measures exactly the recall the ANN
  // candidate stage costs the fused ranking, nothing else. The source
  // doc is always its own candidate (its code collides with itself in
  // every table), so self-retrieval stays intact; what the ANN arm can
  // lose is OTHER docs that would have outranked or tied the source.
  val q155HybridEvalAnn: QueryDef = QueryDef(
    "q155_hybrid_eval_ann",
    (s, dir) => {
      val (e, q) = evalEmbeddings(s, dir)
      val codes = Similarity.signCodes(e)
      val masks = lit(0L) +: (0 until graft.tools.GenFixtures.LshBits)
        .map(b => lit(1L << b))
      val probes = codes.filter(col("vec_id") % EvalEvery === 0)
        .select(col("vec_id").as("qdoc_id"), col("tbl"),
          explode(array(masks.map(m =>
            col("code").bitwiseXOR(m)): _*)).as("code"))
      val cand = probes.join(codes, Seq("tbl", "code"))
        .select(col("qdoc_id"), col("vec_id")).distinct()
      val vecScored = cand.join(broadcast(q), Seq("qdoc_id"))
        .join(e, Seq("vec_id"))
        .withColumn("sim", Round4(graft.functions.VectorOps.cosine(
          col("qv"), col("v"), col("qn"), col("nrm"))))
        .select(col("qdoc_id"), col("vec_id"), col("sim"))
      hybridEvalCore(s, dir, q, vecScored)
    },
    Some(hybridEvalOracle(
      s"""${Similarity.codesCte},
         |qv AS (
         |  SELECT vec_id AS qdoc_id, v AS qvec FROM e
         |  WHERE vec_id % $EvalEvery = 0),
         |probes AS (
         |  SELECT vec_id AS qdoc_id, tbl,
         |    xor(code, CAST(m AS BIGINT)) AS code
         |  FROM codes, (VALUES ${
            (0L +: (0 until graft.tools.GenFixtures.LshBits)
              .map(1L << _)).map(m => s"($m)").mkString(", ")
          }) AS masks(m)
         |  WHERE vec_id % $EvalEvery = 0),
         |cand AS (
         |  SELECT DISTINCT p.qdoc_id, c.vec_id
         |  FROM probes p JOIN codes c
         |    ON p.tbl = c.tbl AND p.code = c.code),
         |vs AS (
         |  SELECT cand.qdoc_id, cand.vec_id,
         |    floor(list_cosine_similarity(qv.qvec, ce.v) * 10000 + 0.5)
         |      / 10000 AS sim
         |  FROM cand
         |  JOIN qv ON qv.qdoc_id = cand.qdoc_id
         |  JOIN e ce ON ce.vec_id = cand.vec_id)""".stripMargin)))

  // Positional-index phrase search — exact-adjacency "fast merge" as
  // the standard positional-posting-list AND (Manning/Raghavan/Schütze
  // IIR §2.4): posting rows (doc, pos) for each query term, adjacency
  // = equi-join on (doc_id, pos) with the second term's positions
  // shifted by one. The term filter sits BEFORE the exchange, fused
  // into the scan, so only df(t1) + df(t2) posting rows ever shuffle —
  // the index-lookup cost model, not the full-text rescan a
  // LIKE-'%...%' plan pays (and substring LIKE is also WRONG at token
  // semantics: it matches across token boundaries). At 100 TB with a
  // PERSISTED positional index the scan stage disappears entirely and
  // only the posting join remains; for a one-shot phrase over raw text
  // the in-row spelling (count adjacent pairs inside the token array,
  // zero shuffles) is the alternative — the posting join is the shape
  // that amortizes across a query workload. The oracle spells the
  // identical token-adjacency semantics relationally.
  val q143PhraseSearch: QueryDef = QueryDef(
    "q143_phrase_search",
    (s, dir) => {
      // both phrase terms' posting lists come out of ONE tokenize pass
      // — persisted, or each join side re-runs the corpus scan +
      // posexplode (the repo's standard multi-consumer discipline)
      val post = graft.Caches.persist(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
        .filter(col("tok") === "fast" || col("tok") === "merge"))
      val t1 = post.filter(col("tok") === "fast")
        .select(col("doc_id"), col("lang"), col("pos"))
      val t2 = post.filter(col("tok") === "merge")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      t1.join(t2, Seq("doc_id", "pos"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("occurrences"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w
           |  FROM documents),
           |hits AS (
           |  SELECT doc_id, lang
           |  FROM (SELECT doc_id, lang, w,
           |        unnest(range(1, len(w))) AS i FROM tok) u
           |  WHERE w[i] = 'fast' AND w[i+1] = 'merge')
           |SELECT doc_id, lang, COUNT(*) AS occurrences
           |FROM hits GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin))

  // nDCG@10 — the graded-relevance eval the reciprocal-rank family
  // (q137/q150/q155) cannot express: MRR only knows WHERE the one
  // known item landed; nDCG grades the whole ranked page
  // (Järvelin & Kekäläinen TOIS'02). Relevance is derived, not
  // annotated (the standard proxy move): the query doc itself is the
  // grade-3 known item, every other SAME-SOURCE doc is grade 1 —
  // whether the ranker surfaces the query's cluster, not just the
  // query. Float discipline: every DCG weight 1/log2(r+1) and every
  // IDCG prefix sum is emitted as ONE scale-9 DECIMAL literal
  // interpolated into BOTH engines' expressions (computed once in
  // Scala below), so the per-query sums are exact decimal arithmetic
  // end to end — no transcendental, no float summation order, no
  // cast-rounding divergence anywhere before the final Round4.
  private val NdcgK = 10
  private val dcgW: IndexedSeq[BigDecimal] = (1 to NdcgK).map { r =>
    BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
  }
  private val dcgCase: String =
    "CASE rb " + (1 to NdcgK)
      .map(r => s"WHEN $r THEN ${dcgW(r - 1).underlying.toPlainString}")
      .mkString(" ") + " END"
  // S(k) = Σ_{i=2..k} w_i — the grade-1 part of the ideal DCG when
  // k−1 grade-1 docs follow the grade-3 known item at rank 1 (whose
  // w_1 = 1 contributes the 3.000000000 literal both engines add)
  // (toPlainString: BigDecimal 0 at scale 9 would otherwise print
  // "0E-9", which neither SQL parser accepts as a decimal literal)
  private val idcgCase: String =
    "CASE k " + (1 to NdcgK).map { k =>
      val s = (2 to k).map(i => dcgW(i - 1))
        .foldLeft(BigDecimal(0).setScale(9))(_ + _)
      s"WHEN $k THEN ${s.underlying.toPlainString}"
    }.mkString(" ") + " END"

  val q160NdcgEval: QueryDef = QueryDef(
    "q160_ndcg_eval",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val srcCnt = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("scnt"))
      val qs = docs.filter(col("doc_id") % EvalEvery === 0)
        .join(srcCnt, "source")
        .select(col("doc_id").as("qdoc_id"),
          col("source").as("qsource"), (col("scnt") - 1L).as("n_rel"))
      val w = Window.partitionBy(col("qdoc_id"))
        .orderBy(col("su").desc, col("doc_id"))
      val top = evalTextMatched(s, dir)
        .withColumn("rb", row_number().over(w))
        .filter(col("rb") <= NdcgK)
      val graded = top.join(broadcast(qs), Seq("qdoc_id"))
        .join(docs.select(col("doc_id"), col("source").as("dsource")),
          Seq("doc_id"))
        .withColumn("g",
          when(col("doc_id") === col("qdoc_id"), 3L)
            .when(col("dsource") === col("qsource"), 1L)
            .otherwise(0L))
        .withColumn("contrib", expr(s"g * ($dcgCase)"))
      val dcg = graded.groupBy(col("qdoc_id"))
        .agg(sum(col("contrib")).as("dcg"))
      qs.join(dcg, Seq("qdoc_id"), "left")
        .withColumn("k", least(col("n_rel") + 1L, lit(NdcgK.toLong)))
        .withColumn("idcg",
          expr(s"CAST(3.000000000 AS DECIMAL(10, 9)) + ($idcgCase)"))
        .select(col("qdoc_id"), col("n_rel"),
          graft.Round4(coalesce(col("dcg"), lit(0)).cast("double"))
            .as("dcg4"),
          graft.Round4(coalesce(col("dcg"), lit(0)).cast("double") /
            col("idcg").cast("double")).as("ndcg4"))
        .orderBy("qdoc_id")
    },
    Some(s"""WITH ${oracleEvalTextCtes},
            |top AS (
            |  SELECT qdoc_id, doc_id, rb FROM (
            |    SELECT qdoc_id, doc_id, ROW_NUMBER() OVER (
            |      PARTITION BY qdoc_id ORDER BY su DESC, doc_id) AS rb
            |    FROM m) r WHERE rb <= $NdcgK),
            |sc AS (SELECT source, COUNT(*) AS scnt FROM documents
            |       GROUP BY source),
            |qs AS (
            |  SELECT d.doc_id AS qdoc_id, d.source AS qsource,
            |    sc.scnt - 1 AS n_rel,
            |    LEAST(sc.scnt, $NdcgK) AS k
            |  FROM documents d JOIN sc ON d.source = sc.source
            |  WHERE d.doc_id % $EvalEvery = 0),
            |gr AS (
            |  SELECT t.qdoc_id,
            |    (CASE WHEN t.doc_id = t.qdoc_id THEN 3
            |          WHEN dd.source = qs.qsource THEN 1
            |          ELSE 0 END) * ($dcgCase) AS contrib
            |  FROM top t
            |  JOIN qs ON t.qdoc_id = qs.qdoc_id
            |  JOIN documents dd ON t.doc_id = dd.doc_id),
            |dc AS (SELECT qdoc_id, SUM(contrib) AS dcg FROM gr
            |       GROUP BY qdoc_id)
            |SELECT qs.qdoc_id, CAST(qs.n_rel AS BIGINT) AS n_rel,
            |  ${graft.Round4.sql("CAST(COALESCE(dc.dcg, 0) AS DOUBLE)")}
            |    AS dcg4,
            |  ${graft.Round4.sql(
              "CAST(COALESCE(dc.dcg, 0) AS DOUBLE) / " +
                "CAST(CAST(3.000000000 AS DECIMAL(10, 9)) + " +
                s"($idcgCase) AS DOUBLE)")} AS ndcg4
            |FROM qs LEFT JOIN dc ON qs.qdoc_id = dc.qdoc_id
            |ORDER BY qs.qdoc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q124Bm25Topk, q125HybridRrf, q126SourceCap,
    q137RetrievalEval, q143PhraseSearch, q150HybridEval,
    q155HybridEvalAnn, q160NdcgEval)
}
