package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` fixture
  * (`Array[Float]`, dim 64) — SURVEY.md §7.1 step 8.
  *
  * Cosine is computed in double precision with a sequential
  * `aggregate`-fold (deterministic order), matching DuckDB's
  * `list_cosine_similarity(CAST(... AS DOUBLE[]))` to ~1 ulp; outputs are
  * rounded to 4 dp so both engines serialize identically.
  *
  * Scale posture: the brute-force paths broadcast the (tiny) query side
  * or block candidate generation; the LSH path buckets by
  * random-hyperplane sign codes so candidate generation is an equi-join —
  * the only shape that survives a 10⁹-vector corpus.
  */
object Similarity {
  private val NearDupThreshold = 0.4
  private val TopK = 5
  private val NumQueryVecs = 20
  // LSH geometry (8 tables × 4 sign bits) lives in the fixture — see
  // graft.tools.GenFixtures. For a pair at cosine ≈ 0.4 (θ ≈ 1.16 rad)
  // the per-table collision probability is (1 − θ/π)^B ≈ 0.16 at B = 4;
  // eight tables lift recall to ~0.75 with per-table buckets ~N/16.

  /** vec_id, v (double[]), nrm (L2 norm) — native codegen'd expressions
    * (graft.plans.L2Norm), not interpreted higher-order-function lambdas.
    */
  /** Normalized corpus (vec, L2 norm) — persisted: every ANN pipeline
    * consumes it several times in one plan (q72: coarse assignment, PQ
    * encode, query LUT, exact re-rank — measured 5 corpus
    * re-evaluations unpersisted), and a production vector store
    * materializes exactly this relation once as the index input.
    * Disk-backed at 10⁹-vector scale; the cache key is the canonical
    * plan, so all ANN queries in a session share one copy.
    *
    * PRECONDITION (r20 ADVICE #3): `embedding` is non-null — the
    * fixture schema stores it required, and every oracle assumes it.
    * The in-row code kernel's nullSafeEval would DROP a null vector
    * from candidate generation while the relational spelling would
    * code it as 0 in every table; with non-null embeddings the two
    * spellings cannot diverge (DedupSimilaritySpec pins the fixture
    * invariant rather than paying a per-row assert on the hot path).
    */
  private[graft] def normed(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v")))
      .transform(graft.Caches.persist)
  }

  private def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    graft.functions.VectorOps.cosine(va, vb, na, nb)

  // All-pairs near-duplicate detection above a cosine threshold.
  // Self-join on vec_id< with broadcast of one side (embeddings tables
  // are the small side of the fixture; at real scale this operator is
  // the one you replace with the LSH variant below).
  val q25EmbedNeardup: QueryDef = QueryDef(
    "q25_embed_neardup",
    (s, dir) => {
      val e = normed(s, dir)
      val a = e.select(col("vec_id").as("v1"), col("v").as("va"),
        col("nrm").as("na"))
      val b = e.select(col("vec_id").as("v2"), col("v").as("vb"),
        col("nrm").as("nb"))
      a.join(b, col("v1") < col("v2"))
        .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("sim") > NearDupThreshold)
        .select(col("v1"), col("v2"), graft.Round4(col("sim")).as("sim"))
        .orderBy("v1", "v2")
    },
    Some(s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
            |  floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            |        CAST(b.embedding AS DOUBLE[])) * 10000 + 0.5) / 10000 AS sim
            |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            |      CAST(b.embedding AS DOUBLE[])) > $NearDupThreshold
            |ORDER BY v1, v2""".stripMargin))

  // Brute-force cosine top-k: the exact ANN baseline. The query side
  // (vec_id < 20) broadcasts; ranking is a per-query BOUNDED TOP-K
  // AGGREGATE ([[graft.functions.TopKAggregator]]), not a window —
  // the window spelling shuffled every (query, candidate) sim row to
  // its qid partition before ranking (O(q·N) wire volume: the whole
  // brute-force product), while the mergeable aggregate keeps a
  // ≤k-entry buffer per (task, qid) map-side so the one exchange
  // carries O(tasks·q·k) entries at ANY corpus size. Same total order
  // (sim desc, vec_id asc), bit-identical output (r16; TopKAggSpec
  // property-proves the equivalence).
  val q26AnnTopk: QueryDef = QueryDef(
    "q26_ann_topk",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      val e = normed(s, dir)
      val q = broadcast(e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")))
      val cands = e.filter(col("vec_id") >= NumQueryVecs)
      val topk = new graft.functions.TopKAggregator(TopK)
      q.join(cands)
        .withColumn("sim", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .select(col("qid"), col("sim"), col("vec_id"))
        .as[(Long, Double, Long)](
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
            Encoders.scalaLong))
        .groupByKey(_._1)(Encoders.scalaLong)
        .mapValues(r => (r._2, r._3))(
          Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
        .agg(topk.toColumn)
        .toDF("qid", "top")
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), (col("pos") + 1).cast("int").as("rnk"),
          col("col._2").as("neighbor"),
          graft.Round4(col("col._1")).as("sim"))
        .orderBy("qid", "rnk")
    },
    Some(s"""SELECT qid, rnk, neighbor,
            |  floor(sim * 10000 + 0.5) / 10000 AS sim FROM (
            |  SELECT q.vec_id AS qid, c.vec_id AS neighbor,
            |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            |        CAST(c.embedding AS DOUBLE[])) AS sim,
            |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
            |  FROM embeddings q JOIN embeddings c
            |    ON q.vec_id < $NumQueryVecs AND c.vec_id >= $NumQueryVecs
            |  ) sub
            |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin),
    bench = true, lowLatency = true)

  /** Per-(vector, table) sign-bucket codes from the hyperplane fixture —
    * the stage q27 (ANN) and q58 (near-dup) share. r20-opt: codes are
    * computed IN-ROW by the packed [[graft.plans.SignBandCodesBcast]]
    * kernel (the q135 discipline — all 8 table codes per vector in one
    * narrow map, exploded straight into the bucket-key repartition),
    * replacing the corpus × 32-plane `crossJoin(broadcast)` + per-
    * (vec_id, tbl) hash aggregation: that spelling materialized N·L·B
    * projection rows and paid a corpus-sized aggregation to assemble
    * bits the kernel folds per row (guide §2.4 — the aggregation's
    * exchange was elided by the map-side combine, but the agg itself
    * was the hottest stage of every cold/unprepared build). The dot is
    * DotProduct's sequential accumulation over the SAME packed fixture
    * doubles, so every sign — and therefore every code — is
    * bit-identical to the relational spelling (q58/q27's oracle CTEs
    * recompute the codes in SQL and still hash-match).
    */
  private[graft] def signCodes(e: DataFrame): DataFrame = {
    val planes = graft.Fixtures.planesBroadcast(e.sparkSession,
      graft.Fixtures.lshPlanesPath)
    e.select(col("vec_id"),
        posexplode(graft.functions.VectorOps.signBandCodesBcast(
          col("v"), planes)).as(Seq("tbl", "code")))
      // hash-distribute on the bucket key once and PERSIST: the
      // candidate joins read this relation from two consumers (q58's
      // self-join sides; q118's base/delta split), and exchange reuse
      // never fires across re-derived subtrees (r8 executed-plan
      // audit) — an uncached plan re-ran the scan + 32 dot products
      // once per consumer. ~8 rows per vector, cached co-partitioned
      // on the bucket key.
      .repartition(col("tbl"), col("code"))
      .transform(graft.Caches.persist)
  }

  /** The DuckDB mirror of [[signCodes]], shared by both oracles. */
  private[operators] val codesCte: String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |pl AS (SELECT tbl, bit, plane
       |       FROM read_parquet('${graft.Fixtures.lshPlanesPath}')),
       |codes AS (
       |  SELECT vec_id, tbl,
       |    CAST(SUM(CASE WHEN list_inner_product(v, plane) > 0
       |             THEN 1 << bit ELSE 0 END) AS BIGINT) AS code
       |  FROM e CROSS JOIN pl GROUP BY vec_id, tbl)""".stripMargin

  // Sign-random-projection LSH ANN: L tables of B sign bits; candidates
  // from bucket equality in any table; exact cosine re-rank. The
  // hyperplanes are a parquet FIXTURE both engines read
  // (fixtures/lsh_planes.parquet, see graft.tools.GenFixtures) — with
  // the randomness materialized, candidate generation and re-rank are
  // pure relational algebra and DuckDB reproduces the result exactly.
  val q27AnnLsh: QueryDef = QueryDef(
    "q27_ann_lsh",
    (s, dir) => {
      val e = normed(s, dir)
      val codes = signCodes(e)
      val q = codes.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("tbl"), col("code"))
      val c = codes.filter(col("vec_id") >= NumQueryVecs)
      val cand = q.join(c, Seq("tbl", "code"))
        .select(col("qid"), col("vec_id")).distinct()
      val qv = broadcast(e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      cand.join(qv, "qid").join(e, "vec_id")
        .withColumn("sim", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("sim")).as("sim"))
        .orderBy("qid", "rnk")
    },
    Some(s"""WITH $codesCte,
            |cand AS (
            |  SELECT DISTINCT q.vec_id AS qid, c.vec_id
            |  FROM codes q JOIN codes c ON q.tbl = c.tbl AND q.code = c.code
            |  WHERE q.vec_id < $NumQueryVecs AND c.vec_id >= $NumQueryVecs),
            |ranked AS (
            |  SELECT cand.qid, cand.vec_id AS neighbor,
            |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
            |        CAST(ce.embedding AS DOUBLE[])) AS sim,
            |    ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
            |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
            |          CAST(ce.embedding AS DOUBLE[])) DESC,
            |      cand.vec_id) AS rnk
            |  FROM cand
            |  JOIN embeddings qe ON qe.vec_id = cand.qid
            |  JOIN embeddings ce ON ce.vec_id = cand.vec_id)
            |SELECT qid, rnk, neighbor,
            |  floor(sim * 10000 + 0.5) / 10000 AS sim
            |FROM ranked WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin))

  // Multi-probe sign-LSH ANN (Lv et al., "Multi-Probe LSH: Efficient
  // Indexing for High-Dimensional Similarity Search", VLDB 2007): each
  // query probes its own bucket PLUS every Hamming-1 neighbor (the B
  // single-bit flips of its code) in every table — the standard trade
  // that buys recall with query-side probes instead of more tables
  // (index size and corpus-side cost unchanged; probe count is
  // (B+1)·L per query, borne by the bounded query workload). A flipped
  // bit admits exactly the candidates whose one disagreeing hyperplane
  // is the likeliest miss. Candidates still come from the SAME keyed
  // equi-join against the corpus code relation as q27 — only the probe
  // side widens — so the 100 TB shape is identical. With the plane
  // fixture materialized, probing is pure relational algebra (XOR on
  // the code key): full DuckDB hash-match. DedupSimilaritySpec asserts
  // recall(multi-probe) ≥ recall(single-probe q27) against the exact
  // brute-force top-k.
  val q136AnnMultiprobe: QueryDef = QueryDef(
    "q136_ann_multiprobe",
    (s, dir) => {
      val e = normed(s, dir)
      val codes = signCodes(e)
      // derived from the fixture geometry, never hardcoded: a LshBits
      // bump with a regenerated fixture must widen the probe set or
      // the "every Hamming-1 neighbor" contract silently narrows
      val masks = lit(0L) +: (0 until graft.tools.GenFixtures.LshBits)
        .map(b => lit(1L << b))
      val probes = codes.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("tbl"),
          explode(array(masks.map(m =>
            col("code").bitwiseXOR(m)): _*)).as("code"))
      val c = codes.filter(col("vec_id") >= NumQueryVecs)
      val cand = probes.join(c, Seq("tbl", "code"))
        .select(col("qid"), col("vec_id")).distinct()
      val qv = broadcast(e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      cand.join(qv, "qid").join(e, "vec_id")
        .withColumn("sim", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("sim")).as("sim"))
        .orderBy("qid", "rnk")
    },
    Some(multiprobeOracleSql))

  /** ONE oracle text for q136 (build-and-query) AND q177 (serve from
    * the persisted postings + vector artifacts) — sharing it IS the
    * serve ≡ build equivalence claim, the [[ivfTopkOracleSql]]
    * pattern.
    */
  private lazy val multiprobeOracleSql: String =
    s"""WITH $codesCte,
       |probes AS (
       |  SELECT vec_id AS qid, tbl, xor(code, CAST(m AS BIGINT))
       |      AS code
       |  FROM codes, (VALUES ${
          (0L +: (0 until graft.tools.GenFixtures.LshBits)
            .map(1L << _)).map(m => s"($m)").mkString(", ")
        }) AS masks(m)
       |  WHERE vec_id < $NumQueryVecs),
       |cand AS (
       |  SELECT DISTINCT p.qid, c.vec_id
       |  FROM probes p JOIN codes c
       |    ON p.tbl = c.tbl AND p.code = c.code
       |  WHERE c.vec_id >= $NumQueryVecs),
       |ranked AS (
       |  SELECT cand.qid, cand.vec_id AS neighbor,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |        CAST(ce.embedding AS DOUBLE[])) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
       |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |          CAST(ce.embedding AS DOUBLE[])) DESC,
       |      cand.vec_id) AS rnk
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.qid
       |  JOIN embeddings ce ON ce.vec_id = cand.vec_id)
       |SELECT qid, rnk, neighbor,
       |  floor(sim * 10000 + 0.5) / 10000 AS sim
       |FROM ranked WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin

  /** Persisted sign-LSH POSTINGS artifact: (vec_id, code) per corpus
    * vector per table, hive-partitioned by `tbl` and code-clustered
    * within files — the second half of the production two-artifact
    * layout (postings here, exact vectors ONCE in [[annIndexLayout]];
    * a vector store never writes the vector once per table).
    * Partitioning by tbl alone is deliberate: every multi-probe query
    * probes ALL tables, so directory pruning on tbl buys nothing —
    * the skipping that matters is row-group min/max on the SORTED
    * code column inside each table directory (a probe set touches
    * B+1 of the 2^B code ranges). Cache identity: embeddings stamp +
    * plane-fixture footer hash (corpus regen or new hyperplanes
    * rebuild; same content re-serves across sessions).
    */
  private[graft] def signIndexLayout(s: SparkSession, dir: String): String = {
    val eStamp = Tables.fileStamp(
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val pStamp = Tables.fileStamp(
      java.nio.file.Paths.get(graft.Fixtures.lshPlanesPath))
    // plane-fixture dependency folds into the stamp (see
    // annIndexLayout: superseded-geometry artifacts must sweep)
    val stamp = (eStamp._1, eStamp._2, eStamp._3 ^ pStamp._3)
    val srcKey = f"signv1_${scala.util.hashing.MurmurHash3
      .stringHash(dir)}%08x"
    graft.sources.ArtifactCache.artifact(srcKey, stamp, tmp =>
      graft.sources.LakehouseSink.writePartitioned(
        signCodes(normed(s, dir).filter(col("vec_id") >= NumQueryVecs))
          .select(col("vec_id"), col("code"), col("tbl")),
        tmp, partitionCols = Seq("tbl"),
        clusterCols = Seq("code", "vec_id")))
  }

  // Multi-probe ANN served from PERSISTED artifacts — the q174
  // contract applied to the sign-LSH stack (closes "q155/q136
  // recompute corpus codes per session"): candidates come from the
  // postings artifact (signIndexLayout), exact vectors from the
  // SHARED vector store (annIndexLayout — one artifact serves both
  // index families), and the only per-query work is the bounded
  // query-side code computation + probe explosion. No corpus dot
  // products, no corpus re-scan: the serve plan's exchanges are the
  // broadcast probe join on (tbl, code) against the postings scan and
  // the vec_id candidate lookup into the vector store — keyed, linear
  // in candidates, at any corpus size. Shares q136's oracle verbatim;
  // AnnIndexSpec pins serve ≡ build and the no-corpus-codes plan.
  val q177MultiprobeServed: QueryDef = QueryDef(
    "q177_multiprobe_served",
    (s, dir) => {
      val codesIdx = s.read.parquet(signIndexLayout(s, dir))
      val vecIdx = s.read.parquet(annIndexLayout(s, dir))
        .select(col("vec_id"), col("v"), col("nrm"))
      val e = normed(s, dir)
      val masks = lit(0L) +: (0 until graft.tools.GenFixtures.LshBits)
        .map(b => lit(1L << b))
      val probes = signCodes(e.filter(col("vec_id") < NumQueryVecs))
        .select(col("vec_id").as("qid"), col("tbl"),
          explode(array(masks.map(m =>
            col("code").bitwiseXOR(m)): _*)).as("code"))
      val cand = broadcast(probes).join(codesIdx, Seq("tbl", "code"))
        .select(col("qid"), col("vec_id")).distinct()
      val qv = broadcast(e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      cand.join(qv, "qid").join(vecIdx, "vec_id")
        .withColumn("sim",
          cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("sim")).as("sim"))
        .orderBy("qid", "rnk")
    },
    // not headline, matching q136: at fixture scale the wall is pure
    // multi-job scheduler floor (probe build + 2 artifact scans);
    // q174 carries the served-index bench story (0.82× DuckDB)
    Some(multiprobeOracleSql))

  // IVF-style ANN: coarse-quantize every vector to its nearest centroid
  // (inverted lists), probe the query's 2 nearest lists, exact re-rank.
  // Centroids are a parquet FIXTURE both engines read
  // (fixtures/ivf_centroids.parquet) — TRAINED with distributed
  // k-means over the sf0.1 corpus (graft.tools.TrainCentroids, 10
  // Lloyd's iterations from the deterministic GenFixtures init;
  // mean best-centroid cosine 0.2213 → 0.2799). The query plan is
  // independent of how the centroid table was produced. No driver-side
  // count(), no density assumption on vec_id: the centroid table is
  // explicit input.
  val q45AnnIvf: QueryDef = QueryDef(
    "q45_ann_ivf",
    (s, dir) => {
      val e = normed(s, dir)
      // in-row coarse assignment (same kernel as q72): CentroidTopK
      // evaluates the 16 cosines and the (csim DESC, cid ASC) top-k
      // inside one narrow codegen'd map against the packed frozen
      // centroid table — no corpus × K join, no vec_id-keyed window
      // sort, no centroid broadcast build job. The earlier relational
      // spelling (cents crossJoin + row_number window) shuffled every
      // (vector, centroid) pair on vec_id — two exchanges and a sort
      // that grow with the corpus for a per-row-computable value.
      val centsPacked = graft.Fixtures.ivfCentroidsPacked(s)
      def nearest(df: DataFrame, keep: Int): DataFrame =
        df.select(col("vec_id"),
          explode(graft.functions.VectorOps.centroidTopK(col("v"),
            col("nrm"), centsPacked, keep)).as("cid"))
      val lists = nearest(e.filter(col("vec_id") >= NumQueryVecs), 1)
      // the probes broadcast CARRIES the query vectors: one query-side
      // scan builds one broadcast with (qid, cid, qv, qn), so the
      // candidate join needs no second qid-keyed vector lookup (the
      // earlier spelling scanned embeddings twice and ran two broadcast
      // build jobs for the same 20 query rows)
      val probes = e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"),
          explode(graft.functions.VectorOps.centroidTopK(col("v"),
            col("nrm"), centsPacked, 2)).as("cid"))
      // no distinct needed: each corpus vector sits in exactly ONE
      // inverted list (rank-1 assignment) and a query's probe cids are
      // distinct by construction, so (qid, vec_id) cannot repeat —
      // the oracle's DISTINCT is a no-op on the same grounds.
      // probes is the query set × 2 lists — bounded by the (small,
      // fixed) query workload at ANY corpus scale, so broadcasting it
      // is the honest 100 TB shape too: the corpus-sized `lists` side
      // never shuffles by cid (AQE reaches the same plan from runtime
      // stats; the hint keeps the static/interactive profile identical).
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      broadcast(probes).join(lists, "cid")
        .join(e, "vec_id")
        .withColumn("sim", cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("sim")).as("sim"))
        .orderBy("qid", "rnk")
    },
    Some(ivfTopkOracleSql),
    bench = true, lowLatency = true)

  /** ONE oracle text for q45 (build-and-query) AND q174 (serve from
    * the persisted index): the served result is DEFINED as identical
    * to querying a freshly built index, so the two entries sharing one
    * oracle is the equivalence claim itself.
    */
  private lazy val ivfTopkOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |ce AS (SELECT cid, cv
       |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
       |asn AS (
       |  SELECT e.vec_id, ce.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
       |  FROM e CROSS JOIN ce),
       |lists AS (SELECT vec_id, cid FROM asn
       |          WHERE crnk = 1 AND vec_id >= $NumQueryVecs),
       |probes AS (SELECT vec_id AS qid, cid FROM asn
       |           WHERE crnk <= 2 AND vec_id < $NumQueryVecs),
       |cand AS (
       |  SELECT DISTINCT probes.qid, lists.vec_id
       |  FROM probes JOIN lists USING (cid)),
       |ranked AS (
       |  SELECT cand.qid, cand.vec_id AS neighbor,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |        CAST(ne.embedding AS DOUBLE[])) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
       |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |          CAST(ne.embedding AS DOUBLE[])) DESC,
       |      cand.vec_id) AS rnk
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.qid
       |  JOIN embeddings ne ON ne.vec_id = cand.vec_id)
       |SELECT qid, rnk, neighbor,
       |  floor(sim * 10000 + 0.5) / 10000 AS sim
       |FROM ranked WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin

  /** Persisted IVF index artifact for the corpus at `dir` — the
    * "build the index ONCE, serve every query from it" contract a
    * production vector store runs (FAISS-style IVF build step;
    * Johnson et al., IEEE Big Data'19): per corpus vector its rank-1
    * inverted-list assignment plus the exact vector and norm, written
    * hive-partitioned BY `cid` (one directory per inverted list,
    * vec_id-clustered files) through [[graft.sources.LakehouseSink]].
    * Cache identity via [[graft.sources.ArtifactCache]]: keyed on the
    * embeddings parquet's content stamp AND the centroid fixture's
    * footer hash, so a regenerated corpus or a retrained codebook
    * rebuilds; a same-content re-serve reuses the artifact across
    * sessions (q155's recompute-codes-per-session cost gone).
    */
  private[graft] def annIndexLayout(s: SparkSession, dir: String): String = {
    val eStamp = Tables.fileStamp(
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val cStamp = Tables.fileStamp(
      java.nio.file.Paths.get(graft.Fixtures.ivfCentroidsPath))
    // the codebook dependency folds into the STAMP, not the srcKey:
    // the sweep collects superseded stamps of one srcKey, so a
    // retrained codebook's old artifacts age out instead of lingering
    // forever under a key prefix nothing matches anymore
    val stamp = (eStamp._1, eStamp._2, eStamp._3 ^ cStamp._3)
    val srcKey = f"annv1_${scala.util.hashing.MurmurHash3
      .stringHash(dir)}%08x"
    graft.sources.ArtifactCache.artifact(srcKey, stamp, tmp => {
      val e = normed(s, dir).filter(col("vec_id") >= NumQueryVecs)
      val centsPacked = graft.Fixtures.ivfCentroidsPacked(s)
      graft.sources.LakehouseSink.writePartitioned(
        e.select(col("vec_id"), col("v"), col("nrm"),
          explode(graft.functions.VectorOps.centroidTopK(col("v"),
            col("nrm"), centsPacked, 1)).as("cid")),
        tmp, partitionCols = Seq("cid"), clusterCols = Seq("vec_id"))
    })
  }

  // ANN served from the PERSISTED index — the production read path
  // (q45 is the build-and-query form; this is what every query after
  // the first pays): candidates come from the index artifact alone,
  // never a corpus re-scan or a re-assignment pass. The query side
  // computes its 2 probe lists in-row against the packed centroid
  // table and broadcasts (qid, cid, qv, qn); the index side is a
  // parquet scan of the cid-partitioned layout, so Catalyst's dynamic
  // partition pruning (from the broadcast probes) reads ONLY the
  // probed inverted-list directories — at 10⁹ vectors the per-query
  // I/O is probes/K of the index, the IVF contract. Exact re-rank
  // runs on the index's own stored vectors (doubles round-trip
  // parquet bit-exactly, so serve ≡ build-and-query — they share one
  // oracle). AnnIndexSpec pins the no-corpus-candidate plan shape +
  // the partition-pruned scan.
  val q174AnnServed: QueryDef = QueryDef(
    "q174_ann_served",
    (s, dir) => {
      val idx = s.read.parquet(annIndexLayout(s, dir))
      val centsPacked = graft.Fixtures.ivfCentroidsPacked(s)
      val probes = normed(s, dir).filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"),
          explode(graft.functions.VectorOps.centroidTopK(col("v"),
            col("nrm"), centsPacked, 2)).as("cid"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      broadcast(probes).join(idx, "cid")
        .withColumn("sim",
          cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("sim")).as("sim"))
        .orderBy("qid", "rnk")
    },
    Some(ivfTopkOracleSql),
    bench = true, lowLatency = true)

  // LSH-bucketed embedding near-dup with the FIXED 8-table × 4-bit
  // fixture geometry — since r11 the size-guarded SMALL-corpus fallback
  // (candidate volume ~8·N²/2⁴, measured exponent ≈ 2 in
  // ScaleGrowthSpec): the default one-shot τ=0.4 path is q135's
  // ρ-bound adaptive geometry (~N^1.66 — see oneShotNeardup, which
  // dispatches between the two on corpus size). Candidate pairs come
  // from sign-code bucket equality in any table (an equi-join), then
  // exact cosine verification above the threshold. Recall < 1 by
  // construction (a far-apart pair can miss every bucket), but with
  // the hyperplane fixture materialized the result is exactly
  // reproducible in DuckDB — a full hash-match oracle, not a rows-only
  // check. The recall floor vs the exact all-pairs operator is
  // asserted in DedupSimilaritySpec.
  /** The fixed-arm near-dup oracle (q58's relational spelling),
    * SHARED with q207: the dispatcher resolves to this arm at every
    * driver corpus size (N ≤ 2000 < [[SmallCorpusBound]]), so both
    * entries hash against the same SQL. lazy — q207's QueryDef val
    * interpolates it and object vals init top-down (the r15
    * q185/GopherDocSql "null"-embedding gotcha).
    */
  private lazy val fixedNeardupOracle: String =
    s"""WITH $codesCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |  FROM codes a JOIN codes b
       |    ON a.tbl = b.tbl AND a.code = b.code
       |       AND a.vec_id < b.vec_id)
       |SELECT v1, v2,
       |  floor(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
       |        CAST(e2.embedding AS DOUBLE[])) * 10000 + 0.5) / 10000
       |    AS sim
       |FROM cand
       |JOIN embeddings e1 ON e1.vec_id = cand.v1
       |JOIN embeddings e2 ON e2.vec_id = cand.v2
       |WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
       |      CAST(e2.embedding AS DOUBLE[])) > $NearDupThreshold
       |ORDER BY v1, v2""".stripMargin

  val q58EmbedNeardupLsh: QueryDef = QueryDef(
    "q58_embed_neardup_lsh",
    (s, dir) => {
      val e = normed(s, dir)
      val codes = signCodes(e)
      val cand = codes.select(col("vec_id").as("v1"), col("tbl"),
          col("code"))
        .join(codes.select(col("vec_id").as("v2"), col("tbl"),
          col("code")), Seq("tbl", "code"))
        .filter(col("v1") < col("v2"))
        .select(col("v1"), col("v2")).distinct()
      val a = e.select(col("vec_id").as("v1"), col("v").as("va"),
        col("nrm").as("na"))
      val b = e.select(col("vec_id").as("v2"), col("v").as("vb"),
        col("nrm").as("nb"))
      cand.join(a, "v1").join(b, "v2")
        .withColumn("sim", cosine(col("va"), col("vb"), col("na"),
          col("nb")))
        .filter(col("sim") > NearDupThreshold)
        .select(col("v1"), col("v2"), graft.Round4(col("sim")).as("sim"))
        .orderBy("v1", "v2")
    },
    Some(fixedNeardupOracle),
    // retired from the headline bench (r16): the headline near-dup
    // entries are q135 (the adaptive production arm) and q207 (the
    // oneShotNeardup dispatcher — what the API actually returns);
    // this fixed-geometry spelling stays in the catalog as the
    // correctness-checked fallback gate (DedupSimilaritySpec proves
    // arm equality, ScaleGrowthSpec pins its ~N² exponent)
    bench = false)

  // One-sided banded embedding near-dup — the 100 TB ingest shape and
  // the HEADLINE near-dup-at-scale path (PLANS.md "embedding near-dup at
  // scale"; q58's all-pairs self-join is the small/mid-corpus fallback,
  // measured ~N^2 in ScaleGrowthSpec). An incoming batch ("delta" — here
  // a deterministic 10% id-slice so a static fixture exercises the
  // shape; in production the day's ingest) broadcasts its bucket codes
  // against the corpus-sized base side, so per-batch cost is
  // O(|base| + |delta|·bucket) — linear in the corpus, never corpus².
  // ScaleGrowthSpec measures the fixed-delta growth exponent ≈ 1 and
  // the wide-band ρ-bound variant for high-threshold corpora.
  // Candidates verify with exact cosine ≥ the 0.4 fixture threshold;
  // with the hyperplane fixture materialized the whole query is exact
  // relational algebra — full DuckDB hash-match.
  /** One-sided base×delta banded candidates + exact verify — the body
    * of q118 with the delta predicate injectable so ScaleGrowthSpec can
    * measure the PRODUCTION shape (fixed-size delta batch over a
    * growing base → exponent ≈ 1) rather than the fixture-exercising
    * 10%-slice the static catalog entry uses.
    */
  def oneSidedBanded(s: SparkSession, dir: String, isDelta: Column)
      : DataFrame = {
    val e = normed(s, dir)
    val codes = signCodes(e)
    val baseC = codes.filter(!isDelta)
      .hint("shuffle_hash") // never broadcast the corpus side
    val deltaC = codes.filter(isDelta)
    val cand = baseC.as("b")
      .join(broadcast(deltaC).as("d"),
        col("b.tbl") === col("d.tbl") && col("b.code") === col("d.code"))
      .select(col("b.vec_id").as("v1"), col("d.vec_id").as("v2"))
      .distinct()
    val a = e.select(col("vec_id").as("v1"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("vb"),
      col("nrm").as("nb"))
    cand.join(a, "v1").join(b, "v2")
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"),
        col("nb")))
      .filter(col("sim") > NearDupThreshold)
      .select(col("v1").as("base_id"), col("v2").as("delta_id"),
        graft.Round4(col("sim")).as("sim"))
      .orderBy("base_id", "delta_id")
  }

  /** Stateless per-row sign codes from the plane fixture: the same
    * in-row [[graft.plans.SignBandCodesBcast]] kernel over the same
    * packed plane table as [[signCodes]] (identical dot + `> 0`
    * threshold arithmetic), exploded to (vec_id, tbl, code) with
    * optional carried columns — but no repartition and no persist: the
    * streaming-safe twin, a pure per-row map an append-mode ingest
    * pipeline can run.
    */
  private def inRowCodes(e: DataFrame, keep: Seq[String] = Nil)
      : DataFrame = {
    val planes = graft.Fixtures.planesBroadcast(e.sparkSession,
      graft.Fixtures.lshPlanesPath)
    e.select(col("vec_id") +: keep.map(col) :+
        posexplode(graft.functions.VectorOps.signBandCodesBcast(
          col("v"), planes)).as(Seq("tbl", "code")): _*)
  }

  /** The STREAMING plan of q131 against an arbitrary delta vector
    * stream (columns vec_id, embedding) — q118's one-sided ingest
    * shape run per micro-batch, the embedding twin of
    * [[graft.operators.Dedup.streamIncrementalNeardup]]:
    *
    *  - base side: the persisted, co-partitioned [[signCodes]]
    *    relation and vector relation (static — computed once);
    *  - delta side: STATELESS in-row codes ([[inRowCodes]]) carrying
    *    the delta's vector + norm through the explode, so candidate
    *    generation is a stream-static equi-join and exact verification
    *    one further stream-static join — no stream-stream join, no
    *    watermark coupling;
    *  - multi-band candidate repeats collapse in streaming
    *    dropDuplicates state, bounded by emitted pairs (production
    *    bounds it further with dropDuplicatesWithinWatermark on ingest
    *    time, the q112 pattern).
    *
    * Output and oracle are q118's verbatim — the hash match proves
    * stream ingest equals the batch one-sided answer.
    */
  def streamOneSidedBanded(s: SparkSession, dir: String,
      isDelta: Column, deltaStream: DataFrame,
      pairDedupState: Boolean = true): DataFrame = {
    // pairDedupState = false: StreamEmbedNeardupSpec's negative
    // control only — drops the cross-batch dropDuplicates state so a
    // redelivered vector re-emits pairs, proving the spec's raw-count
    // guard detects a broken state store
    val e = normed(s, dir)
    val baseC = signCodes(e).filter(!isDelta)
      .hint("shuffle_hash") // never broadcast the corpus side
    val baseVecs = e.select(col("vec_id").as("v1"), col("v").as("va"),
      col("nrm").as("na"))
    val deltaC = inRowCodes(
      deltaStream
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v"))),
      keep = Seq("v", "nrm"))
    val candRaw = deltaC.as("d")
      .join(baseC.as("b"),
        col("b.tbl") === col("d.tbl") && col("b.code") === col("d.code"))
      .select(col("b.vec_id").as("v1"), col("d.vec_id").as("v2"),
        col("d.v").as("vb"), col("d.nrm").as("nb"))
    val cand =
      if (pairDedupState) candRaw.dropDuplicates("v1", "v2") else candRaw
    cand.join(baseVecs, "v1")
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"),
        col("nb")))
      .filter(col("sim") > NearDupThreshold)
      .select(col("v1").as("base_id"), col("v2").as("delta_id"),
        graft.Round4(col("sim")).as("sim"))
  }

  val q118EmbedNeardupBanded: QueryDef = QueryDef(
    "q118_embed_neardup_banded",
    (s, dir) => oneSidedBanded(s, dir, col("vec_id") % 10 === 1),
    Some(s"""WITH $codesCte,
            |cand AS (
            |  SELECT DISTINCT b.vec_id AS base_id, d.vec_id AS delta_id
            |  FROM codes b JOIN codes d
            |    ON b.tbl = d.tbl AND b.code = d.code
            |  WHERE b.vec_id % 10 <> 1 AND d.vec_id % 10 = 1)
            |SELECT base_id, delta_id,
            |  floor(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
            |        CAST(e2.embedding AS DOUBLE[])) * 10000 + 0.5) / 10000
            |    AS sim
            |FROM cand
            |JOIN embeddings e1 ON e1.vec_id = cand.base_id
            |JOIN embeddings e2 ON e2.vec_id = cand.delta_id
            |WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
            |      CAST(e2.embedding AS DOUBLE[])) > $NearDupThreshold
            |ORDER BY base_id, delta_id""".stripMargin),
    bench = true)

  // q118's continuous-ingest form as REAL Structured Streaming: the
  // delta slice arrives as a file stream and each micro-batch runs the
  // one-sided banded join against the persisted base — the embedding
  // twin of q127 (text near-dup ingest). Oracle = q118's verbatim.
  val q131StreamEmbedNeardup: QueryDef = QueryDef(
    "q131_stream_embed_neardup",
    (s, dir) => {
      val isDelta = col("vec_id") % 10 === 1
      val verified = streamOneSidedBanded(s, dir, isDelta,
        graft.streaming.EventsStream.readEmbeddings(s, dir)
          .filter(isDelta))
      graft.streaming.EventsStream
        .runToCompletion(s, verified, mode = "append")
        .orderBy("base_id", "delta_id")
    },
    q118EmbedNeardupBanded.oracle)

  /** Wide-band sign-LSH self-join near-dup over CALLER-SUPPLIED
    * hyperplanes — the adaptive-banding formulation for corpora whose
    * near-dup threshold is high (≥ ~0.9), where B can scale with
    * log(N) and L with N^ρ (ρ = ln(1/p₁)/ln(1/p₂)) so candidate volume
    * stays ~N^(1+ρ) instead of N² (the q58 fixture geometry's fate at
    * τ = 0.4 — see ScaleGrowthSpec, which measures BOTH exponents).
    * Catalog entry: q128 runs it at τ=0.9 over the committed planted
    * corpus (the DRIVER fixtures contain no ≥0.9 pairs, so the corpus
    * and ρ-bound plane geometry live in
    * fixtures/neardup_embeddings.parquet + wideband_planes.parquet —
    * [[graft.tools.GenWideBandFixture]]) with a full DuckDB hash-match
    * oracle; ScaleGrowthSpec measures the growth exponent over scaled
    * synthetic corpora of the same construction.
    */
  def wideBandNeardup(e: DataFrame, planes: DataFrame, tau: Double)
      : DataFrame = {
    val codes = e.crossJoin(broadcast(planes))
      .withColumn("proj",
        graft.functions.VectorOps.dot(col("v"), col("plane")))
      // 1L << bit, NOT the 32-bit `shiftleft(1, bit)` (r21, r20 ADVICE
      // #2): adaptiveGeometry yields bBits = ⌈log₂ n⌉, so an n ≥ 2³¹
      // corpus reaching this arm has bit indices ≥ 31 — an int shift
      // silently wraps, collapsing the high code bits (recall degrades
      // with no error; precision was never at risk — the exact verify
      // catches false candidates). The long shift keeps codes
      // bit-identical to the in-row kernel's `1L << b` on every
      // geometry, preserving the cross-arm bit-identity contract.
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(when(col("proj") > 0, expr("shiftleft(1L, bit)"))
        .otherwise(0L)).cast("long").as("code"))
    bandedSelfJoinVerify(e, codes, tau)
  }

  /** Banded candidate self-join + exact-cosine verify over any
    * (vec_id, tbl, code) relation — the back half of
    * [[wideBandNeardup]], shared with q135's in-row code path.
    */
  private def bandedSelfJoinVerify(e: DataFrame, rawCodes: DataFrame,
      tau: Double): DataFrame = {
    val codes = rawCodes
      .repartition(col("tbl"), col("code"))
      .transform(graft.Caches.persist)
      .hint("shuffle_hash")
    val cand = codes.as("a")
      .join(codes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.code") === col("b.code")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    val a = e.select(col("vec_id").as("v1"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("vb"),
      col("nrm").as("nb"))
    cand.join(a, "v1").join(b, "v2")
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"),
        col("nb")))
      .filter(col("sim") > tau)
      .select(col("v1"), col("v2"), col("sim"))
  }

  /** The ρ-bound (B, L) sign-LSH geometry for a one-shot self-join
    * near-dup at threshold `tau` over an N-vector corpus
    * (Indyk–Motwani '98 / Gionis et al. VLDB '99, with the sign-LSH
    * collision probability of Charikar STOC '02):
    *
    *  - per-bit collision for a pair AT the threshold:
    *    p₁ = 1 − arccos(τ)/π; for a random pair: p₂ = 1/2;
    *  - B = ⌈log₂N⌉ bits keeps per-table bucket occupancy ~O(1) as the
    *    corpus grows (random-pair collisions per table ≈ N²·2⁻ᴮ ≈ N);
    *  - L = ⌈c·N^ρ⌉ tables with ρ = ln(1/p₁)/ln(1/p₂) lifts recall for
    *    at-threshold pairs to 1 − e⁻ᶜ (0.98 at c = 4; pairs ABOVE the
    *    threshold collide more per table, so their recall is higher) —
    *    total candidate volume ~c·N^(1+ρ).
    *
    * At τ = 0.4, ρ ≈ 0.664: candidates grow as N^1.66 — the theory
    * floor for this threshold and the exponent ScaleGrowthSpec
    * measures — versus the fixed 8-table × 4-bit fixture geometry's
    * ~8·N²/2⁴ (measured ≈ N²). At τ = 0.9, ρ ≈ 0.22 (q128's regime).
    */
  def adaptiveGeometry(n: Long, tau: Double, c: Double = 4.0)
      : (Int, Int) = {
    val p1 = 1.0 - math.acos(tau) / math.Pi
    val rho = math.log(1.0 / p1) / math.log(2.0)
    val bBits = math.max(1,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt)
    // codes are packed into one long in BOTH spellings (1L << bit), so
    // ≥ 63 bits per table would overflow the code word itself — loud,
    // not a silent recall cliff (unreachable for any physical corpus:
    // bBits = 63 needs n > 2⁶²)
    require(bBits < 63, s"adaptiveGeometry: bBits=$bBits overflows the " +
      "64-bit packed code word")
    val lTables = math.max(1,
      math.ceil(c * math.pow(n.toDouble, rho)).toInt)
    (bBits, lTables)
  }

  /** Deterministic (tbl, bit, plane double[dim]) hyperplane relation
    * for [[adaptiveGeometry]] — MurmurHash3 of fixed tuples, so the
    * same (n, tau, dim) always yields the same planes byte-for-byte.
    * [[graft.tools.GenAdaptiveBandFixture]] materializes exactly this
    * relation as the committed τ=0.4 fixture; ScaleGrowthSpec calls it
    * directly on synthetic corpora.
    */
  def adaptivePlanes(s: SparkSession, n: Long, tau: Double, dim: Int)
      : DataFrame = {
    import s.implicits._
    val (bBits, lTables) = adaptiveGeometry(n, tau)
    // generated DISTRIBUTED (spark.range → per-row tabulate): at
    // N=10⁹, L=4·N^0.664 makes the plane relation tens of GB — a
    // driver-side for-comprehension would materialize all of it in
    // driver heap. Each row is a pure function of (t, b, d), so the
    // relation is byte-identical regardless of partitioning, and
    // identical to the committed τ=0.4 fixture the generator wrote.
    s.range(lTables.toLong * bBits).map { id =>
      val t = (id / bBits).toInt
      val b = (id % bBits).toInt
      val plane = Array.tabulate(dim)(d =>
        graft.Fixtures.adaptivePlaneComponent(t, b, d))
      (t, b, plane)
    }.toDF("tbl", "bit", "plane")
  }

  /** Corpus-size bound below which the fixed 8×4 fixture geometry is
    * the better one-shot near-dup plan. The real cost model is
    * per-vector CODING, not candidate counts: at small N the candidate
    * join is cheap either way (a few 10⁵ pairs at N=4k under both
    * geometries), while the adaptive arm pays B·L ≈ ⌈log₂N⌉·⌈4·N^0.664⌉
    * plane dots per vector (~7 000 at N=4k, growing) against the fixed
    * arm's constant 32 — so the fixed arm wins until the quadratic
    * candidate term (~8·N²/2⁴ pairs) overtakes the coding saving,
    * which lands in the low thousands; 4096 is that empirical
    * crossover rounded to a power of two, not a closed-form constant.
    * CALLERS MUST KNOW the bound also steps the RECALL class: the
    * fixed arm's 8-table OR at τ=0.4 has ~0.75 per-pair recall at
    * threshold (all thresholds verified exactly afterward — precision
    * is 1 either side), the adaptive arm ~1−e⁻⁴ ≈ 0.98; below the
    * bound, callers needing the higher recall call wideBandNeardup
    * with adaptive geometry directly. Above the bound the quadratic
    * loses permanently on BOTH axes.
    */
  val SmallCorpusBound = 4096L

  /** One-shot embedding near-dup DISPATCHER — the API-level default
    * (q58's fixed-geometry spelling stays in the catalog as the
    * measured small/mid-corpus fallback; q135 is the adaptive path's
    * oracle-checked entry). `n` is the caller's corpus cardinality (a
    * catalog/ingest-manifest fact at production scale — same class as
    * the chunk-bounds metadata, not a data-path count):
    * below [[SmallCorpusBound]] the fixed 8×4 fixture planes win;
    * above it, ρ-bound [[adaptivePlanes]] keep candidates at N^1.66
    * instead of N². DedupSimilaritySpec proves both arms against the
    * exact all-pairs answer.
    */
  /** Packed-in-row plane budget for [[oneShotNeardup]]'s arms, in
    * PLANES (tables × bits): up to 2¹⁸ planes codes are computed by
    * the in-row broadcast kernel, one narrow map per vector with no
    * corpus × planes join and no aggregation (q135's production shape,
    * made the dispatcher's too in r20-opt). Past the bound the
    * relational [[wideBandNeardup]] spelling streams the plane
    * relation instead. The bound is set by the DRIVER-side allocation,
    * not broadcast capacity (the r20 VERDICT finding #4):
    * [[graft.Fixtures.adaptivePlanesBroadcast]] tabulates the packed
    * double[] in driver heap before broadcasting, so the bound IS the
    * max driver-side array — 2¹⁸ planes × dim 64 × 8 B = 128 MB, well
    * inside both the driver heap and broadcast class (the previous
    * 2²⁰ bound allowed a ~512 MB driver array, the nearer cliff). At
    * τ=0.4 the hand-off lands near N ≈ 2·10⁵ (B·L =
    * ⌈log₂N⌉·⌈4·N^0.664⌉); both arms are pinned bit-identical
    * (DedupSimilaritySpec), so the hand-off changes plan shape only,
    * never results.
    */
  val PackedPlaneBound = 1L << 18

  def oneShotNeardup(s: SparkSession, dir: String, n: Long,
      tau: Double = NearDupThreshold): DataFrame = {
    val e = normed(s, dir)
    val res =
      if (n <= SmallCorpusBound)
        // the fixed 8×4 fixture, packed + broadcast (bit-identical
        // codes to q58's relational spelling — same dot order over the
        // same fixture doubles, so the shared oracle still hash-matches)
        bandedSelfJoinVerify(e, inRowBandCodes(e,
          graft.Fixtures.planesBroadcast(s,
            graft.Fixtures.lshPlanesPath)), tau)
      else {
        val (bBits, lTables) = adaptiveGeometry(n, tau)
        if (bBits.toLong * lTables <= PackedPlaneBound)
          bandedSelfJoinVerify(e, inRowBandCodes(e,
            graft.Fixtures.adaptivePlanesBroadcast(s, bBits, lTables,
              graft.tools.GenFixtures.Dim)), tau)
        else
          wideBandNeardup(e,
            adaptivePlanes(s, n, tau, graft.tools.GenFixtures.Dim), tau)
      }
    res
      .select(col("v1"), col("v2"), graft.Round4(col("sim")).as("sim"))
      .orderBy("v1", "v2")
  }

  /** (vec_id, tbl, code) from the packed in-row kernel — the q135
    * code path, shared by both [[oneShotNeardup]] arms inside the
    * packed-plane budget.
    */
  private def inRowBandCodes(e: DataFrame,
      planes: graft.plans.FrozenTable[Array[Double]]): DataFrame =
    e.select(col("vec_id"),
      posexplode(graft.functions.VectorOps.signBandCodesBcast(
        col("v"), planes)).as(Seq("tbl", "code")))

  /** Catalog entry for the DISPATCHER itself (q207) — the plan a
    * caller of the one-shot near-dup API actually gets. `n` is the
    * corpus cardinality from the manifest (here the parquet row
    * count — a zero-column scan answered from row-group metadata;
    * at production scale, an ingest-manifest fact). Every driver
    * corpus (N ≤ 2000) sits below [[SmallCorpusBound]], so the
    * dispatcher resolves to the fixed-plane arm at ALL driver scales
    * and the oracle is that arm's relational spelling verbatim
    * ([[fixedNeardupOracle]], shared with q58);
    * DedupSimilaritySpec proves the adaptive arm against exact
    * all-pairs on the other side of the bound. Headline-benched IN
    * PLACE of q58 (r16): the bench measures the API's dispatch, not
    * the fallback spelling directly.
    */
  val q207OneShotNeardup: QueryDef = QueryDef(
    "q207_oneshot_neardup",
    (s, dir) => {
      val n = Tables.load(s, dir, "embeddings").count()
      oneShotNeardup(s, dir, n)
    },
    Some(fixedNeardupOracle),
    bench = true)

  // One-shot near-dup at the q58 threshold with the ρ-bound ADAPTIVE
  // geometry — the catalog's default τ=0.4 formulation, demoting q58's
  // fixed 8×4 geometry (measured exponent ≈ 2 in ScaleGrowthSpec) to a
  // size-guarded fallback (see oneShotNeardup). The plane fixture
  // carries adaptiveGeometry(2000, 0.4) = 11 bits × 623 tables — sized
  // for the LARGEST driver corpus (sf0.1), so bucket occupancy stays
  // ~O(1) at every SF the driver runs; recall for at-threshold pairs is
  // 1 − e⁻⁴ ≈ 0.98 and higher above it. With the planes materialized
  // the whole query is exact relational algebra — full DuckDB
  // hash-match, like q128 at τ=0.9.
  val q135AdaptiveNeardup: QueryDef = QueryDef(
    "q135_adaptive_neardup",
    (s, dir) => {
      val e = normed(s, dir)
      // codes IN-ROW (codegen'd SignBandCodesBcast over the packed plane
      // fixture): all 624 table codes per vector in one narrow map,
      // exploded straight into the bucket-key repartition — no
      // corpus × planes crossJoin, no (vec_id, tbl) hash agg over
      // N·L·B rows. The kernel's dot is DotProduct's sequential
      // accumulation, so codes are bit-identical to the relational
      // spelling (the oracle recomputes them with list_inner_product).
      // In-row is the right call exactly while the plane table packs
      // into one driver-side array (~7k planes here); wideBandNeardup
      // keeps the streaming-plane relational spelling for geometries
      // past that (see SignBandCodesBcast's domain note).
      // the ~3.5 MB packed table rides as a BROADCAST handle (one
      // torrent fetch per executor), not a plan constant serialized
      // into every task binary — see SignBandCodesBcast
      val planesBc = graft.Fixtures.planesBroadcast(s,
        graft.Fixtures.adaptivePlanesTau04Path)
      val codes = e.select(col("vec_id"),
        posexplode(graft.functions.VectorOps.signBandCodesBcast(
          col("v"), planesBc)).as(Seq("tbl", "code")))
      bandedSelfJoinVerify(e, codes, NearDupThreshold)
        .select(col("v1"), col("v2"), graft.Round4(col("sim")).as("sim"))
        .orderBy("v1", "v2")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |pl AS (SELECT tbl, bit, plane
            |  FROM read_parquet('${graft.Fixtures.adaptivePlanesTau04Path}')),
            |codes AS (
            |  SELECT vec_id, tbl,
            |    CAST(SUM(CASE WHEN list_inner_product(v, plane) > 0
            |             THEN 1 << bit ELSE 0 END) AS BIGINT) AS code
            |  FROM e CROSS JOIN pl GROUP BY vec_id, tbl),
            |cand AS (
            |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
            |  FROM codes a JOIN codes b
            |    ON a.tbl = b.tbl AND a.code = b.code
            |      AND a.vec_id < b.vec_id)
            |SELECT v1, v2,
            |  floor(list_cosine_similarity(e1.v, e2.v) * 10000 + 0.5)
            |    / 10000 AS sim
            |FROM cand
            |JOIN e e1 ON e1.vec_id = cand.v1
            |JOIN e e2 ON e2.vec_id = cand.v2
            |WHERE list_cosine_similarity(e1.v, e2.v) > $NearDupThreshold
            |ORDER BY v1, v2""".stripMargin),
    bench = true)

  private val PqSubDim = 8 // 64 dims → 8 subspaces × 8 dims
  private val PqNumCentroids = 16 // = tools.TrainPqCodebook.K

  // PQ/ADC ANN — the memory-bound scale path (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011): the corpus
  // encodes to 8 sub-codes (≈1 byte each — ~64× smaller than raw
  // floats, which is what makes a 10⁹-vector index fit in memory),
  // queries build a per-subspace distance lookup table against the
  // broadcast codebook, and approximate distances are 8 integer table
  // lookups summed — no vector arithmetic in any corpus-sized stage
  // after the one-pass encode. The codebook is a TRAINED parquet
  // fixture (tools.TrainPqCodebook: driver-side L2 k-means over a
  // bounded sample, the industry shape) both engines read, so the whole
  // query is exact relational algebra — full DuckDB hash-match.
  // Lookup-table distances quantize to integer micro-units BEFORE the
  // 8-way sum, so the aggregate is order-insensitive (exact) in both
  // engines; ranking ties break on vec_id.
  val q64AnnPq: QueryDef = QueryDef(
    "q64_ann_pq",
    (s, dir) => {
      val e = normed(s, dir)
      // one-pass IN-ROW encode + LUT (see q72 for the kernel contract:
      // same dot-form and accumulation order as the crossJoin+min_by
      // relational spelling, ties to the lower cid, so the oracle's
      // row_number formulation hash-matches); the ADC scan is then one
      // row per (query, corpus vector) from a bounded broadcast of the
      // 20 query LUTs — no (m, cid) join, no 8× row blowup, no re-agg
      val book = graft.Fixtures
        .pqCodebookFlat(s, PqNumCentroids, PqSubDim)
      val codeArr = e.filter(col("vec_id") >= NumQueryVecs)
        .select(col("vec_id"),
          graft.functions.VectorOps.pqCodes(col("v"), book,
            PqNumCentroids, PqSubDim).as("code"))
      val lutArr = e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"),
          graft.functions.VectorOps.pqLut(col("v"), book,
            PqNumCentroids, PqSubDim).as("lut"))
      val approx = codeArr.crossJoin(broadcast(lutArr))
        .withColumn("du", graft.functions.VectorOps
          .pqAdcSum(col("code"), col("lut"), PqNumCentroids))
        .select(col("qid"), col("vec_id"), col("du"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("du"), col("vec_id"))
      approx.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("du").cast("double") / 1000000.0)
            .as("adc_dist"))
        .orderBy("qid", "rnk")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |bk AS (SELECT m, cid, cv
            |       FROM read_parquet('${graft.Fixtures.pqCodebookPath}')),
            |sub AS (
            |  SELECT e.vec_id, bk.m, bk.cid,
            |    list_inner_product(list_slice(v, bk.m*8+1, bk.m*8+8),
            |                       list_slice(v, bk.m*8+1, bk.m*8+8))
            |    - 2*list_inner_product(list_slice(v, bk.m*8+1, bk.m*8+8),
            |                           cv)
            |    + list_inner_product(cv, cv) AS d2
            |  FROM e CROSS JOIN bk),
            |codes AS (
            |  SELECT vec_id, m, cid FROM (
            |    SELECT vec_id, m, cid,
            |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
            |                         ORDER BY d2, cid) AS r
            |    FROM sub WHERE vec_id >= $NumQueryVecs) s WHERE r = 1),
            |lut AS (
            |  SELECT vec_id AS qid, m, cid,
            |    CAST(floor(d2*1000000 + 0.5) AS BIGINT) AS d2u
            |  FROM sub WHERE vec_id < $NumQueryVecs),
            |approx AS (
            |  SELECT qid, vec_id, CAST(SUM(d2u) AS BIGINT) AS du
            |  FROM codes JOIN lut USING (m, cid) GROUP BY 1, 2)
            |SELECT qid, rnk, neighbor, adc_dist FROM (
            |  SELECT qid, vec_id AS neighbor,
            |    ROW_NUMBER() OVER (PARTITION BY qid
            |                       ORDER BY du, vec_id) AS rnk,
            |    floor((CAST(du AS DOUBLE)/1000000.0) * 10000 + 0.5)/10000
            |      AS adc_dist
            |  FROM approx) r
            |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin))

  // IVF index-health diagnostic: inverted-list sizes and shares for the
  // current centroid fixture — the balance metric that decides when to
  // retrain (tools.TrainCentroids tightens exactly this distribution).
  // One corpus pass: broadcast centroids, rank-1 assignment, count per
  // list. An operations query a user of the ANN tier runs routinely.
  val q62IvfListStats: QueryDef = QueryDef(
    "q62_ivf_list_stats",
    (s, dir) => {
      val e = normed(s, dir)
      val cents = broadcast(graft.Fixtures.ivfCentroids(s)
        .withColumn("cn", graft.functions.VectorOps.l2norm(col("cv"))))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cid"))
      val assigned = e.join(cents)
        .withColumn("csim",
          cosine(col("v"), col("cv"), col("nrm"), col("cn")))
        .withColumn("crnk", row_number().over(w))
        .filter(col("crnk") === 1)
      val lists = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"))
      // corpus total as a broadcast 1-row join, not a partition-less
      // window: same result on the 16 post-aggregation rows, but this
      // idiom stays parallel if copied onto a pre-aggregation relation
      // (an empty Window.partitionBy() would funnel it through one task)
      val total = lists.agg(sum(col("n_vecs")).as("tot"))
      lists.join(broadcast(total))
        .withColumn("share",
          graft.Round4(col("n_vecs").cast("double") / col("tot")))
        .select(col("cid"), col("n_vecs"), col("share"))
        .orderBy("cid")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |ce AS (SELECT cid, cv
            |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
            |asn AS (
            |  SELECT e.vec_id, ce.cid,
            |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
            |  FROM e CROSS JOIN ce),
            |lists AS (
            |  SELECT cid, COUNT(*) AS n_vecs FROM asn
            |  WHERE crnk = 1 GROUP BY cid)
            |SELECT cid, n_vecs,
            |  floor((CAST(n_vecs AS DOUBLE) / SUM(n_vecs) OVER ())
            |        * 10000 + 0.5) / 10000 AS share
            |FROM lists ORDER BY cid""".stripMargin))

  // IVF-PQ with exact re-rank — the composition production ANN indexes
  // actually ship (the FAISS IVFPQ shape): the coarse quantizer
  // restricts each query to its 2 probed inverted lists, approximate
  // ADC distances rank ONLY those candidates from the 8-byte PQ codes,
  // and the true vectors are touched for just the ADC top-R before the
  // exact top-k. Each stage is the already-oracle-proven q45/q64
  // machinery; the value is the composed memory story: the corpus-sized
  // state is codes (≈64× smaller than floats) + list assignments, full
  // vectors stream only through the encode pass and the per-query R-row
  // re-rank. Both fixtures are trained parquet both engines read, so
  // the whole pipeline stays exact relational algebra end to end.
  val q72AnnIvfPq: QueryDef = QueryDef(
    "q72_ann_ivfpq",
    (s, dir) => {
      val Rerank = 3 * TopK
      val e = normed(s, dir)
      // in-row coarse assignment: CentroidTopK evaluates the 16
      // cosines and the (csim DESC, cid ASC) top-k inside one narrow
      // codegen'd map against the packed frozen centroid table —
      // no corpus × K crossJoin, no vec_id-keyed window sort
      val centsPacked = graft.Fixtures.ivfCentroidsPacked(s)
      def nearest(df: DataFrame, keep: Int): DataFrame =
        df.select(col("vec_id"),
          explode(graft.functions.VectorOps.centroidTopK(col("v"),
            col("nrm"), centsPacked, keep)).as("cid"))
      val corpus = e.filter(col("vec_id") >= NumQueryVecs)
      val queries = e.filter(col("vec_id") < NumQueryVecs)
      val lists = nearest(corpus, 1)
      val probes = nearest(queries, 2).withColumnRenamed("vec_id", "qid")
      // no distinct needed: each corpus vector sits in exactly ONE
      // inverted list (rank-1 assignment) and a query's probe cids are
      // distinct by construction, so (qid, vec_id) cannot repeat —
      // the oracle's DISTINCT is a no-op on the same grounds.
      // probes is the query set × 2 lists — bounded by the (small,
      // fixed) query workload at ANY corpus scale, so broadcasting it
      // is the honest 100 TB shape too: the corpus-sized `lists` side
      // never shuffles by cid (AQE reaches the same plan from runtime
      // stats; the hint keeps the static/interactive profile identical).
      val cand = broadcast(probes).join(lists, "cid")
        .select(col("qid"), col("vec_id"))
      // in-row encode + LUT (the FAISS shape): the codebook is an ~8 KB
      // frozen table, so PqCodes/PqLut compute each vector's 8 codes / each
      // query's 8×16 quantized LUT inside one narrow codegen'd map —
      // no corpus × (M·K) crossJoin, no min_by re-aggregation, no
      // (qid, m, cid) LUT join. Distances use the same dot-form and
      // accumulation order as the relational spelling, so ties and
      // quantized values are bit-identical (the oracle asserts it).
      val book = graft.Fixtures
        .pqCodebookFlat(s, PqNumCentroids, PqSubDim)
      val codeArr = corpus.select(col("vec_id"),
        graft.functions.VectorOps.pqCodes(col("v"), book,
          PqNumCentroids, PqSubDim).as("code"))
      val lutArr = queries.select(col("vec_id").as("qid"),
        graft.functions.VectorOps.pqLut(col("v"), book,
          PqNumCentroids, PqSubDim).as("lut"))
      // ADC over candidates only, ONE ROW PER CANDIDATE: the per-query
      // LUT rides a broadcast array join and the codegen'd PqAdcSum
      // does the 8 table indexes in-row
      val adc = cand.join(codeArr, "vec_id")
        .join(broadcast(lutArr), "qid")
        .withColumn("du", graft.functions.VectorOps
          .pqAdcSum(col("code"), col("lut"), PqNumCentroids))
        .select(col("qid"), col("vec_id"), col("du"))
      val wa = Window.partitionBy(col("qid"))
        .orderBy(col("du"), col("vec_id"))
      val shortlist = adc.withColumn("ar", row_number().over(wa))
        .filter(col("ar") <= Rerank)
        .select(col("qid"), col("vec_id"))
      val qv = broadcast(queries.select(col("vec_id").as("qid"),
        col("v").as("qv"), col("nrm").as("qn")))
      val we = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      shortlist.join(qv, "qid").join(e, "vec_id")
        .withColumn("sim",
          cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(we))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
          graft.Round4(col("sim")).as("sim"))
        .orderBy("qid", "rnk")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |ce AS (SELECT cid, cv
            |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
            |asn AS (
            |  SELECT e.vec_id, ce.cid,
            |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
            |  FROM e CROSS JOIN ce),
            |lists AS (SELECT vec_id, cid FROM asn
            |          WHERE crnk = 1 AND vec_id >= $NumQueryVecs),
            |probes AS (SELECT vec_id AS qid, cid FROM asn
            |           WHERE crnk <= 2 AND vec_id < $NumQueryVecs),
            |cand AS (
            |  SELECT DISTINCT probes.qid, lists.vec_id
            |  FROM probes JOIN lists USING (cid)),
            |bk AS (SELECT m, cid, cv
            |       FROM read_parquet('${graft.Fixtures.pqCodebookPath}')),
            |sub AS (
            |  SELECT e.vec_id, bk.m, bk.cid,
            |    list_inner_product(list_slice(v, bk.m*8+1, bk.m*8+8),
            |                       list_slice(v, bk.m*8+1, bk.m*8+8))
            |    - 2*list_inner_product(list_slice(v, bk.m*8+1, bk.m*8+8),
            |                           cv)
            |    + list_inner_product(cv, cv) AS d2
            |  FROM e CROSS JOIN bk),
            |codes AS (
            |  SELECT vec_id, m, cid FROM (
            |    SELECT vec_id, m, cid,
            |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
            |                         ORDER BY d2, cid) AS r
            |    FROM sub WHERE vec_id >= $NumQueryVecs) s WHERE r = 1),
            |lut AS (
            |  SELECT vec_id AS qid, m, cid,
            |    CAST(floor(d2*1000000 + 0.5) AS BIGINT) AS d2u
            |  FROM sub WHERE vec_id < $NumQueryVecs),
            |adc AS (
            |  SELECT cand.qid, cand.vec_id, CAST(SUM(d2u) AS BIGINT) AS du
            |  FROM cand
            |  JOIN codes ON cand.vec_id = codes.vec_id
            |  JOIN lut ON lut.qid = cand.qid AND lut.m = codes.m
            |          AND lut.cid = codes.cid
            |  GROUP BY 1, 2),
            |shortlist AS (
            |  SELECT qid, vec_id FROM (
            |    SELECT qid, vec_id,
            |      ROW_NUMBER() OVER (PARTITION BY qid
            |                         ORDER BY du, vec_id) AS ar
            |    FROM adc) a WHERE ar <= ${3 * TopK})
            |SELECT qid, rnk, neighbor, sim FROM (
            |  SELECT s.qid, s.vec_id AS neighbor,
            |    ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY
            |      list_cosine_similarity(qe.v, ne.v) DESC,
            |      s.vec_id) AS rnk,
            |    floor(list_cosine_similarity(qe.v, ne.v) * 10000 + 0.5)
            |      / 10000 AS sim
            |  FROM shortlist s
            |  JOIN e qe ON qe.vec_id = s.qid
            |  JOIN e ne ON ne.vec_id = s.vec_id) r
            |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin),
    // interactive tier (r16): the encode→LUT→ADC→re-rank chain is
    // all sub-second keyed joins on bounded shortlists — AQE's
    // per-query-stage job barriers cost 18 jobs / 0.28 s; static
    // planning runs the same plan at 12 stages / 10 jobs / 0.11 s
    bench = true, lowLatency = true)

  private val NumNegatives = 4

  /** Deterministic negative sampling for contrastive training — pair
    * each query vector with K pseudo-random corpus vectors and score
    * them, the relation a hard-negative miner filters. The "random"
    * index is pure integer arithmetic (Knuth multiplicative hash of
    * (qid, j) mod corpus size), NOT an engine hash or rand(): both
    * engines compute the identical pairing, the same property that
    * makes q57/q60's splits reproducible. Plan: the tiny (query × K)
    * pair relation joins the corpus keyed on vec_id — one fact-side
    * shuffle; queries broadcast. At 10⁹ vectors the same pairing is
    * how you avoid the cross join no negative sampler can afford.
    */
  val q100NegativeSampling: QueryDef = QueryDef(
    "q100_negative_sampling",
    (s, dir) => {
      val e = normed(s, dir)
      val n = e.agg(max(col("vec_id")).as("maxid"))
      val q = e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      val pairs = q.join(broadcast(n))
        .withColumn("j", explode(sequence(lit(1), lit(NumNegatives))))
        .withColumn("neg_id",
          lit(NumQueryVecs) +
            (col("qid") * 2654435761L + col("j") * 40503L) %
              (col("maxid") - NumQueryVecs + 1))
      pairs.join(e, pairs("neg_id") === e("vec_id"))
        .withColumn("sim", cosine(col("qv"), col("v"), col("qn"),
          col("nrm")))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          graft.Round4(avg(col("sim"))).as("avg_sim"),
          graft.Round4(max(col("sim"))).as("hardest_sim"))
        .orderBy("qid")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |n AS (SELECT MAX(vec_id) AS maxid FROM e),
            |q AS (SELECT vec_id AS qid, v AS qv FROM e
            |      WHERE vec_id < $NumQueryVecs),
            |pairs AS (
            |  SELECT q.qid, q.qv, j,
            |    $NumQueryVecs + (q.qid * 2654435761 + j * 40503) %
            |      (n.maxid - $NumQueryVecs + 1) AS neg_id
            |  FROM q CROSS JOIN n
            |    CROSS JOIN (SELECT unnest(range(1, ${NumNegatives + 1}))
            |                AS j))
            |SELECT p.qid, COUNT(*) AS k,
            |  ${graft.Round4.sql(
              "AVG(list_cosine_similarity(p.qv, e.v))")} AS avg_sim,
            |  ${graft.Round4.sql(
              "MAX(list_cosine_similarity(p.qv, e.v))")} AS hardest_sim
            |FROM pairs p JOIN e ON p.neg_id = e.vec_id
            |GROUP BY p.qid ORDER BY p.qid""".stripMargin))

  // ANN quality gate — recall@k of the IVF index (q45) against the
  // exact brute-force top-k (q26), per query: the evaluation every ANN
  // deployment runs before trusting an index (and after retraining
  // centroids). Composes the two production queries' own builders and
  // oracle SQL verbatim, so the gate can never drift from what the
  // index actually serves. Cost is the two underlying queries plus a
  // TopK-bounded join — at any corpus scale the recall join touches
  // query_count × k rows, nothing corpus-sized.
  val q123AnnRecall: QueryDef = QueryDef(
    "q123_ann_recall",
    (s, dir) => {
      val exact = q26AnnTopk.build(s, dir)
        .select(col("qid"), col("neighbor"))
      val approx = q45AnnIvf.build(s, dir)
        .select(col("qid").as("aqid"), col("neighbor").as("aneighbor"))
      exact.join(approx,
          col("qid") === col("aqid") &&
            col("neighbor") === col("aneighbor"), "left")
        .groupBy(col("qid"))
        .agg(count(col("aneighbor")).as("hits"))
        .select(col("qid"), col("hits"),
          graft.Round4(col("hits") / lit(TopK)).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH exact AS (${q26AnnTopk.oracle.get}),
            |approx AS (${q45AnnIvf.oracle.get})
            |SELECT e.qid, COUNT(a.neighbor) AS hits,
            |  floor(COUNT(a.neighbor) / ${TopK}.0 * 10000 + 0.5)
            |    / 10000 AS recall
            |FROM exact e LEFT JOIN approx a
            |  ON e.qid = a.qid AND e.neighbor = a.neighbor
            |GROUP BY e.qid ORDER BY e.qid""".stripMargin))

  /** τ=0.9 wide-band near-dup over the committed planted corpus — the
    * high-threshold production formulation (B = ⌈log₂N⌉ = 9 bits,
    * L = ⌈4·N^ρ⌉ = 11 tables) as a full catalog entry: the oracle
    * recomputes the sign codes, the banded candidate join AND the
    * exact-cosine verify relationally, so the hash match proves the
    * whole pipeline bit-for-bit.
    */
  val q128WideBandNeardup: QueryDef = QueryDef(
    "q128_wideband_neardup",
    (s, dir) => {
      val e = graft.Fixtures.read(s, graft.Fixtures.neardupEmbeddingsPath)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v")))
      // in-row codes like q135 (r11): the 99-plane τ=0.9 fixture packs
      // trivially, and the unprepared-warm column was paying the
      // crossJoin + agg re-materialization (~2 jobs) per run on a
      // sub-100 ms query. The relational spelling stays exercised by
      // ScaleGrowthSpec's wideBandNeardup measurements at both τ.
      val planes = graft.Fixtures.planesBroadcast(s,
        graft.Fixtures.widebandPlanesPath)
      val codes = e.select(col("vec_id"),
        posexplode(graft.functions.VectorOps.signBandCodesBcast(col("v"),
          planes)).as(Seq("tbl", "code")))
      bandedSelfJoinVerify(e, codes, 0.9)
        .select(col("v1"), col("v2"), graft.Round4(col("sim")).as("sim"))
        .orderBy("v1", "v2")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM read_parquet('${graft.Fixtures.neardupEmbeddingsPath}')),
            |pl AS (SELECT tbl, bit, plane
            |  FROM read_parquet('${graft.Fixtures.widebandPlanesPath}')),
            |codes AS (
            |  SELECT vec_id, tbl,
            |    CAST(SUM(CASE WHEN list_inner_product(v, plane) > 0
            |             THEN 1 << bit ELSE 0 END) AS BIGINT) AS code
            |  FROM e CROSS JOIN pl GROUP BY vec_id, tbl),
            |cand AS (
            |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
            |  FROM codes a JOIN codes b
            |    ON a.tbl = b.tbl AND a.code = b.code
            |      AND a.vec_id < b.vec_id)
            |SELECT v1, v2,
            |  floor(list_cosine_similarity(e1.v, e2.v) * 10000 + 0.5)
            |    / 10000 AS sim
            |FROM cand
            |JOIN e e1 ON e1.vec_id = cand.v1
            |JOIN e e2 ON e2.vec_id = cand.v2
            |WHERE list_cosine_similarity(e1.v, e2.v) > 0.9
            |ORDER BY v1, v2""".stripMargin),
    bench = true, lowLatency = true)

  // SemDeDup — semantic dedup by cluster-then-verify (Abbas et al.,
  // "SemDeDup: Data-efficient learning at web-scale through semantic
  // deduplication", arXiv:2303.09540): coarse k-means assignment
  // restricts near-dup candidates to WITHIN-cluster pairs, turning the
  // all-pairs O(N²) verify into Σ_c n_c² work that the operator's
  // cluster count controls. At the SemDeDup operating point k grows
  // with the corpus (the paper runs k=110 000 on LAION) so per-cluster
  // size — and with it both the quadratic term and the cid hot-key
  // width — stays bounded; the fixture's 16 trained centroids keep the
  // oracle's cross-join assignment tractable. Contrast with the LSH
  // family (q58/q135): clustering buys recall ONLY for pairs the
  // quantizer co-locates (no ρ-bound guarantee), but gives the dropped
  // set a semantic structure — duplicates are pruned where embeddings
  // agree the content is interchangeable — and reuses an index the ANN
  // tier already maintains (the q45/q62 centroid fixture).
  //
  // Shape: in-row rank-1 assignment (CentroidTopK — no corpus × K
  // join), candidates as SLIM id pairs from the cid-keyed self-join
  // (vectors do not ride the candidate exchange), exact cosine verify
  // via two vec_id-keyed lookups into the persisted normed relation
  // (q58's candidate-then-verify discipline), deterministic keep rule
  // = lowest vec_id in any verified pair survives (the engine-stable
  // variant of the paper's keep-one-per-group; pair-greedy like q61's
  // drop-list). Output is the per-cluster dedup ledger.
  /** SemDeDup core over an arbitrary packed centroid table — q139 runs
    * it with the trained 16-centroid fixture; ScaleGrowthSpec runs it
    * at the paper's operating point (k ∝ N, per-cluster size constant)
    * to MEASURE the candidate-volume exponent instead of arguing it.
    */
  private[graft] def semanticDedupLedger(e: DataFrame,
      packed: graft.plans.FrozenTable[Array[Double]],
      tau: Double): DataFrame = {
    // 3 consumers (two candidate sides + the accounting base):
    // persist, or each re-runs the scan + K-cosine assignment
    val asn = e.select(col("vec_id"),
      explode(graft.functions.VectorOps.centroidTopK(col("v"),
        col("nrm"), packed, 1)).as("cid"))
      .transform(graft.Caches.persist)
    val cand = asn.select(col("cid"), col("vec_id").as("v1"))
      .join(asn.select(col("cid"), col("vec_id").as("v2")), "cid")
      .filter(col("v1") < col("v2"))
    val a = e.select(col("vec_id").as("v1"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("vb"),
      col("nrm").as("nb"))
    val dropped = cand.join(a, "v1").join(b, "v2")
      .filter(cosine(col("va"), col("vb"), col("na"), col("nb")) > tau)
      .select(col("cid"), col("v2").as("vec_id")).distinct()
      .withColumn("d", lit(1L))
    asn.join(dropped, Seq("cid", "vec_id"), "left_outer")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(coalesce(col("d"), lit(0L))).as("dropped"),
        (count(lit(1)) - sum(coalesce(col("d"), lit(0L))))
          .as("kept"))
      .orderBy("cid")
  }

  val q139SemanticDedup: QueryDef = QueryDef(
    "q139_semantic_dedup",
    (s, dir) => semanticDedupLedger(normed(s, dir),
      graft.Fixtures.ivfCentroidsPacked(s), NearDupThreshold),
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |ce AS (SELECT cid, cv
            |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
            |asn AS (
            |  SELECT e.vec_id, ce.cid,
            |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
            |  FROM e CROSS JOIN ce),
            |a AS (SELECT vec_id, cid FROM asn WHERE crnk = 1),
            |drp AS (
            |  SELECT DISTINCT x.cid, y.vec_id
            |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
            |  JOIN e e1 ON e1.vec_id = x.vec_id
            |  JOIN e e2 ON e2.vec_id = y.vec_id
            |  WHERE list_cosine_similarity(e1.v, e2.v)
            |        > $NearDupThreshold)
            |SELECT a.cid, COUNT(*) AS cluster_size,
            |  CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            |       AS BIGINT) AS dropped,
            |  CAST(COUNT(*) -
            |       SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            |       AS BIGINT) AS kept
            |FROM a LEFT JOIN drp d
            |  ON a.cid = d.cid AND a.vec_id = d.vec_id
            |GROUP BY a.cid ORDER BY a.cid""".stripMargin),
    bench = true)

  // Distributed covariance of the embedding corpus — the one-pass
  // moment-matrix aggregation behind whitening / ZCA / PCA (SemDeDup
  // whitens before clustering; linear probes need the same XᵀX shape).
  // MomentMatrixAggregator folds each partition into a single flat
  // [n, Σv, upper Σvvᵀ] buffer (~17 KB at d=64) and merges by
  // element-wise addition — the exchange carries ONE buffer per task
  // regardless of corpus size, where the relational spelling (explode
  // dims twice, GROUP BY (i, j)) shuffles d²/2 rows PER VECTOR — at
  // 100 TB that is the difference between kilobytes and a corpus-dwarfing
  // exchange. Both engines evaluate the same textbook one-pass algebra
  // ((Σxy − ΣxΣy/n)/(n−1)); outputs quantize to integer µunits
  // (floor(cov·10⁶ + 0.5), the q137 discipline) so the hash gate is
  // exact. The (i, j) ↔ triangle-index map is a 2080-row constant
  // dimension relation, broadcast. MomentMatrixSpec adds merge-order
  // invariance and a power-iteration PCA gate on the result.
  /** One-row `[n, mean, cov upper triangle]` relation → (i, j, cov_u)
    * rows: posexplode over the triangle slice joined to the constant
    * (i, j) ↔ index map. Shared by q144 (batch) and q146 (streaming).
    */
  private def covarianceRows(m: DataFrame, dim: Int): DataFrame = {
    val s = m.sparkSession
    import s.implicits._
    val pairs = (for { i <- 0 until dim; j <- i until dim } yield
      (i, j, i * dim - i * (i - 1) / 2 + (j - i))).toDF("i", "j", "k")
    m.select(posexplode(slice(col("m"), 2 + dim, dim * (dim + 1) / 2))
        .as(Seq("k", "cov")))
      .join(broadcast(pairs), "k")
      .select(col("i"), col("j"),
        floor(col("cov") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("cov_u"))
      .orderBy("i", "j")
  }

  val q144EmbedCovariance: QueryDef = QueryDef(
    "q144_embed_covariance",
    (s, dir) => {
      import s.implicits._
      val dim = graft.tools.GenFixtures.Dim
      val agg = new graft.functions.MomentMatrixAggregator(dim)
      val m = Tables.load(s, dir, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
        .as[Seq[Double]].select(agg.toColumn).toDF("m")
      covarianceRows(m, dim)
    },
    Some("""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |x AS (
           |  SELECT vec_id, i - 1 AS i, v[i] AS xi
           |  FROM (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i
           |        FROM e) u)
           |SELECT a.i, b.i AS j,
           |  CAST(floor(((SUM(a.xi * b.xi)
           |               - SUM(a.xi) * SUM(b.xi) / COUNT(*))
           |              / (COUNT(*) - 1)) * 1000000 + 0.5) AS BIGINT)
           |    AS cov_u
           |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
           |GROUP BY a.i, b.i ORDER BY a.i, j""".stripMargin))

  // q144's moment pass as REAL Structured Streaming aggregation state —
  // the continuous corpus-statistics monitor for the embedding tier
  // (covariance drift is the retraining trigger for the q145 components
  // and the q45 centroids alike). The MomentMatrixAggregator buffer is
  // mergeable (element-wise add), so it lives in complete-mode
  // streaming aggregation state exactly as q133 runs the Misra-Gries
  // summary: vectors arrive as a stream, each micro-batch folds into
  // the ~17 KB state, and the final snapshot IS the batch moment
  // matrix up to fp summation order — absorbed by the µunit
  // quantization, so q144's oracle applies verbatim (the hash match
  // proves the streaming state composes to the batch covariance).
  val q146StreamCovariance: QueryDef = QueryDef(
    "q146_stream_covariance",
    (s, dir) => {
      import s.implicits._
      val dim = graft.tools.GenFixtures.Dim
      val agg = new graft.functions.MomentMatrixAggregator(dim)
      val sketch = graft.streaming.EventsStream.readEmbeddings(s, dir)
        .select(col("embedding").cast("array<double>").as("v"))
        .as[Seq[Double]]
        .select(agg.toColumn)
        .toDF("m")
      covarianceRows(
        graft.streaming.EventsStream.runToCompletion(s, sketch), dim)
    },
    q144EmbedCovariance.oracle)

  // PCA projection against the TRAINED component fixture — the apply
  // half of the q144 story, under the same train-offline / apply-in-plan
  // contract as the ANN tier (q45 centroids, q64 PQ codebooks): the
  // expensive decomposition ran once (tools.TrainWhitener — distributed
  // moment pass + driver-side 64×64 deflated power iteration), the
  // committed fixture is 8 rows, and the at-scale query is ONE corpus
  // pass of in-row dot products against the broadcast component table
  // (centered projection = dot(v, w) − w·µ, the per-component scalar
  // carried in the fixture so the mean vector never ships). Output is
  // the per-component projection profile (mean ≈ 0 by construction,
  // variance ≈ the component's eigenvalue on the training corpus —
  // TrainWhitenerSpec gates that); at 100 TB this is the
  // dimensionality-reduction / whitening pass embeddings take before
  // clustering (SemDeDup whitens exactly this way) or cheap ANN.
  val q145PcaProject: QueryDef = QueryDef(
    "q145_pca_project",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val comps = broadcast(graft.Fixtures.pcaComponents(s)
        .select(col("pcid"), col("w"), col("wmu")))
      e.crossJoin(comps)
        .select(col("pcid"),
          (graft.functions.VectorOps.dot(col("v"), col("w"))
            - col("wmu")).as("t"))
        .groupBy(col("pcid"))
        .agg(sum(col("t")).as("st"),
          sum(col("t") * col("t")).as("stt"),
          count(lit(1)).as("n"))
        .select(col("pcid"),
          floor((col("st") / col("n")) * lit(1000000.0) + lit(0.5))
            .cast("long").as("mean_u"),
          floor(((col("stt") - col("st") * col("st") / col("n"))
            / (col("n") - 1)) * lit(1000000.0) + lit(0.5))
            .cast("long").as("var_u"))
        .orderBy("pcid")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |c AS (SELECT pcid, w, wmu
            |      FROM read_parquet('${graft.Fixtures.pcaComponentsPath}')),
            |p AS (
            |  SELECT c.pcid,
            |    list_inner_product(e.v, c.w) - c.wmu AS t
            |  FROM e CROSS JOIN c)
            |SELECT pcid,
            |  CAST(floor(SUM(t) / COUNT(*) * 1000000 + 0.5) AS BIGINT)
            |    AS mean_u,
            |  CAST(floor(((SUM(t*t) - SUM(t)*SUM(t)/COUNT(*))
            |              / (COUNT(*)-1)) * 1000000 + 0.5) AS BIGINT)
            |    AS var_u
            |FROM p GROUP BY pcid ORDER BY pcid""".stripMargin))

  // Int8 scalar quantization (SQ8) recall eval — the storage format
  // between full-precision brute force (q26) and product quantization
  // (q64/q72): per-vector symmetric scale mx/127, codes in [-127,127],
  // 8× smaller than the float64 corpus resident in memory (cf. the SQ8
  // quantizer family surveyed in Jégou et al. TPAMI'11 — SQ is PQ's
  // one-subvector, 256-centroid-uniform degenerate case). Cosine of the
  // QUANTIZED vectors is scale-free (the per-vector scales cancel in
  // dot/|a||b|), so ranking needs only the integer dot and integer
  // norms — the Spark side folds them in exact BIGINT arithmetic
  // (zip_with/aggregate), the oracle's double fold is exact too (all
  // magnitudes ≤ 127²·64 ≈ 2²⁰ ≪ 2⁵³). The eval emits per-query
  // recall@k of the quantized ranking against the exact one plus the
  // mean |cosine error| over the quantized top-k — the two numbers
  // that decide whether a corpus can ship as SQ8 (with exact re-rank
  // of the short list, the production discipline) or needs fp32. ONE
  // persisted scored relation serves both rank windows; everything
  // else is the q26 broadcast-query join shape.
  val q158AnnSq8Recall: QueryDef = QueryDef(
    "q158_ann_sq8_recall",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = normed(s, dir)
      val coded = e
        .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("q8", expr(
          "CASE WHEN mx = 0D THEN transform(v, x -> 0L) ELSE " +
            "transform(v, x -> CAST(floor(x * 127D / mx + 0.5D) " +
            "AS BIGINT)) END"))
        .withColumn("qn2",
          expr("aggregate(q8, 0L, (a, x) -> a + x * x)"))
      val qs = broadcast(coded.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"), col("q8").as("qq8"),
          col("qn2").as("qqn2")))
      val cs = coded.filter(col("vec_id") >= NumQueryVecs)
      val scored = qs.join(cs)
        .withColumn("sim",
          cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("qdot", expr(
          "aggregate(zip_with(qq8, q8, (x, y) -> x * y), 0L, " +
            "(a, x) -> a + x)"))
        .withColumn("simq",
          when(col("qqn2") === 0L || col("qn2") === 0L, lit(0d))
            .otherwise(col("qdot").cast("double") /
              sqrt((col("qqn2") * col("qn2")).cast("double"))))
        .select(col("qid"), col("vec_id"), col("sim"), col("simq"))
        .transform(graft.Caches.persist) // exact + quantized windows
      val wEx = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      val wSq = Window.partitionBy(col("qid"))
        .orderBy(col("simq").desc, col("vec_id"))
      val ex = scored.withColumn("re", row_number().over(wEx))
        .filter(col("re") <= TopK).select(col("qid"), col("vec_id"))
      val sq = scored.withColumn("rs", row_number().over(wSq))
        .filter(col("rs") <= TopK)
        .select(col("qid"), col("vec_id"), col("sim"), col("simq"))
      val hits = ex
        .join(sq.select(col("qid"), col("vec_id"), lit(1).as("m")),
          Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("m"), lit(0))).cast("long").as("hits"))
      val err = sq.groupBy(col("qid"))
        .agg(avg(abs(col("sim") - col("simq"))).as("qe"))
      hits.join(err, Seq("qid"))
        .select(col("qid"), col("hits"),
          graft.Round4(col("hits").cast("double") / TopK).as("recall"),
          graft.Round4(col("qe")).as("qerr"))
        .orderBy("qid")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |  FROM embeddings),
            |m AS (
            |  SELECT vec_id, v,
            |    list_aggregate(list_transform(v, x -> abs(x)), 'max')
            |      AS mx
            |  FROM e),
            |c AS (
            |  SELECT vec_id, v,
            |    CASE WHEN mx = 0 THEN
            |        list_transform(v, x -> CAST(0 AS BIGINT))
            |      ELSE list_transform(v, x ->
            |        CAST(floor(x * 127 / mx + 0.5) AS BIGINT)) END
            |      AS q8
            |  FROM m),
            |c2 AS (
            |  SELECT vec_id, v, q8,
            |    CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT)
            |      AS qn2
            |  FROM c),
            |j AS (
            |  SELECT q.vec_id AS qid, t.vec_id AS vid,
            |    list_cosine_similarity(q.v, t.v) AS sim,
            |    CASE WHEN q.qn2 = 0 OR t.qn2 = 0 THEN 0e0
            |      ELSE CAST(list_dot_product(q.q8, t.q8) AS DOUBLE)
            |        / sqrt(CAST(q.qn2 * t.qn2 AS DOUBLE)) END AS simq
            |  FROM c2 q JOIN c2 t
            |    ON q.vec_id < $NumQueryVecs AND t.vec_id >= $NumQueryVecs),
            |ex AS (
            |  SELECT qid, vid FROM (
            |    SELECT qid, vid, ROW_NUMBER() OVER (
            |      PARTITION BY qid ORDER BY sim DESC, vid) AS re
            |    FROM j) z WHERE re <= $TopK),
            |sq AS (
            |  SELECT qid, vid, sim, simq FROM (
            |    SELECT qid, vid, sim, simq, ROW_NUMBER() OVER (
            |      PARTITION BY qid ORDER BY simq DESC, vid) AS rs
            |    FROM j) z WHERE rs <= $TopK),
            |h AS (
            |  SELECT ex.qid,
            |    CAST(SUM(CASE WHEN sq.vid IS NULL THEN 0 ELSE 1 END)
            |      AS BIGINT) AS hits
            |  FROM ex LEFT JOIN sq
            |    ON ex.qid = sq.qid AND ex.vid = sq.vid
            |  GROUP BY ex.qid),
            |er AS (SELECT qid, AVG(ABS(sim - simq)) AS qe
            |       FROM sq GROUP BY qid)
            |SELECT h.qid, h.hits,
            |  ${graft.Round4.sql(s"CAST(h.hits AS DOUBLE) / $TopK")}
            |    AS recall,
            |  ${graft.Round4.sql("er.qe")} AS qerr
            |FROM h JOIN er ON h.qid = er.qid ORDER BY h.qid""".stripMargin))

  // Embedding-space decontamination — the SEMANTIC arm of the eval-
  // leakage family (q65/q138/q159 are the n-gram arm): an eval item
  // is contaminated if ANY train document sits above a cosine
  // threshold, which catches paraphrased/reformatted leakage n-gram
  // overlap misses (the embedding-similarity decontamination run for
  // phi/Platypus-class model cards). Split = the q57 rule on vec_id
  // (eval = last decile). Shape is q26's one-sided brute-force scan —
  // the CORRECT at-scale shape for this op, because eval suites are
  // bounded (thousands) while train is the 100 TB side: eval
  // broadcasts, train scans ONCE with all per-row work in-row, and
  // the per-eval rank window runs over |eval|-keyed groups. The q118
  // banded-LSH candidate stage composes in front unchanged when even
  // one scan is too expensive. Per-eval output (nearest train doc +
  // sim + verdict) is what a decontam audit files, not just a count.
  val q171SemanticDecontam: QueryDef = QueryDef(
    "q171_semantic_decontam",
    (s, dir) => {
      val e = normed(s, dir)
      val eval0 = broadcast(e.filter(col("vec_id") % 100 >= 90)
        .select(col("vec_id").as("eval_id"), col("v").as("qv"),
          col("nrm").as("qn")))
      val train = e.filter(col("vec_id") % 100 < 90)
      val w = Window.partitionBy(col("eval_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      eval0.join(train)
        .withColumn("sim",
          cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("eval_id"), col("vec_id").as("nn_train_id"),
          graft.Round4(col("sim")).as("max_sim"),
          when(col("sim") >= NearDupThreshold, 1).otherwise(0)
            .as("contaminated"))
        .orderBy("eval_id")
    },
    Some(s"""SELECT eval_id, nn_train_id,
            |  floor(sim * 10000 + 0.5) / 10000 AS max_sim,
            |  CASE WHEN sim >= $NearDupThreshold THEN 1 ELSE 0 END
            |    AS contaminated
            |FROM (
            |  SELECT q.vec_id AS eval_id, t.vec_id AS nn_train_id,
            |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            |        CAST(t.embedding AS DOUBLE[])) AS sim,
            |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            |          CAST(t.embedding AS DOUBLE[])) DESC, t.vec_id)
            |      AS rnk
            |  FROM embeddings q JOIN embeddings t
            |    ON q.vec_id % 100 >= 90 AND t.vec_id % 100 < 90) sub
            |WHERE rnk = 1 ORDER BY eval_id""".stripMargin),
    bench = true, lowLatency = true)

  // q236: the f32 PACKED VECTOR TIER measured and oracle-checked
  // (VERDICT r18 "What's missing" #4): embeddings ride
  // array<double> end to end, 2× the scan/wire/cache bytes of f32
  // for no precision the µcos-quantized comparisons use — a µ
  // component is an integer |v| ≤ ~10⁶ and f32 is exact to 2²⁴, so
  // the pack is lossless BY CONSTRUCTION (and enforced: PackF32
  // throws on non-integral input rather than rounding). The query
  // packs the quantized corpus in-plan, ranks brute-force top-k with
  // the fused packed kernel (one pass, no unpack allocation), and
  // hash-matches the SAME quantized chain the array tier folds —
  // bit-identity is the oracle check, not an assertion.
  // PackedVectorSpec adds the roundtrip property, the loud-misuse
  // guard, and the measured storage ratio (BENCH_NOTES).
  val q236PackedF32Topk: QueryDef = QueryDef(
    "q236_packed_f32_topk",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      val e = Bitext.qrel(normed(s, dir))
        .select(col("vec_id"),
          graft.functions.VectorOps.packF32(col("qv")).as("pb"))
      val q = broadcast(e.filter(col("vec_id") < NumQueryVecs)
        .select(col("vec_id").as("qid"), col("pb").as("qb")))
      val cands = e.filter(col("vec_id") >= NumQueryVecs)
      val topk = new graft.functions.TopKAggregator(TopK)
      q.join(cands)
        .withColumn("ucos", graft.functions.VectorOps
          .ucosPackedF32(col("qb"), col("pb")))
        .select(col("qid"), col("ucos").cast("double").as("sim"),
          col("vec_id"))
        .as[(Long, Double, Long)](
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
            Encoders.scalaLong))
        .groupByKey(_._1)(Encoders.scalaLong)
        .mapValues(r => (r._2, r._3))(
          Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
        .agg(topk.toColumn)
        .toDF("qid", "top")
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), (col("pos") + 1).cast("int").as("rnk"),
          col("col._2").as("neighbor"),
          col("col._1").cast("long").as("ucos"))
        .orderBy("qid", "rnk")
    },
    Some(s"""${Bitext.oracleQuantCte},
            |p AS (
            |  ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
              s"n x JOIN n y ON x.vec_id < $NumQueryVecs " +
                s"AND y.vec_id >= $NumQueryVecs")})
            |SELECT sx AS qid, CAST(rnk AS INTEGER) AS rnk,
            |  ty AS neighbor, ucos
            |FROM (
            |  SELECT sx, ty, ucos, ROW_NUMBER() OVER (
            |    PARTITION BY sx ORDER BY ucos DESC, ty) AS rnk
            |  FROM p) t
            |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin))

  val all: Seq[QueryDef] = Seq(q171SemanticDecontam,
    q25EmbedNeardup, q26AnnTopk, q27AnnLsh,
    q45AnnIvf, q58EmbedNeardupLsh, q62IvfListStats, q64AnnPq, q72AnnIvfPq,
    q100NegativeSampling, q118EmbedNeardupBanded, q123AnnRecall,
    q128WideBandNeardup, q131StreamEmbedNeardup, q135AdaptiveNeardup,
    q136AnnMultiprobe, q139SemanticDedup, q144EmbedCovariance,
    q145PcaProject, q146StreamCovariance, q158AnnSq8Recall,
    q174AnnServed, q177MultiprobeServed, q207OneShotNeardup,
    q236PackedF32Topk)
}
