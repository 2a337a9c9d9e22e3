package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Margin-based bitext mining — the parallel-corpus mining stage of
  * multilingual training-data pipelines (Artetxe & Schwenk, ACL'19
  * "Margin-based Parallel Corpus Mining"; the method behind CCMatrix /
  * NLLB's mined bitext). Plain nearest-neighbor cosine over-retrieves
  * for "hub" vectors whose neighborhood is globally dense; the ratio
  * margin normalizes each candidate pair's cosine by the mean cosine
  * of both endpoints' k-NN neighborhoods, and a pair is mined only
  * when it is its source vector's best margin AND the reverse
  * direction agrees (mutual-best — the intersection strategy of the
  * paper, which dominated forward-only mining on BUCC).
  *
  * The reference engine has no cross-lingual tier (its curation stops
  * at per-document scoring, `/root/reference` has no embedding joins
  * at all), so this is part of the pipeline tier the survey adds on
  * top; it reuses the embeddings fixture by splitting it into two
  * deterministic pools (even vec_id = source side, odd = target side
  * — a stand-in for two monolingual embedding spaces).
  *
  * Determinism contract (the repo-wide µunit discipline, hardened in
  * r16): components are µ-quantized FIRST —
  * `q_i = floor(x_i·10⁶ + 0.5)`, [[graft.plans.QuantizeMicro]] — so
  * the dot and norm² folds run over integer-valued doubles whose
  * products and partial sums all sit far below 2⁵³. IEEE doubles are
  * exact there, which makes the folds independent of summation order,
  * FMA contraction, and vectorization — the r15 driver red row came
  * from exactly that gap: a raw float fold (`list_inner_product` in a
  * different DuckDB build vs Spark's generated Java loop) crossing
  * the engine boundary. After quantization the only float ops left
  * are two sqrts, one multiply, one divide, one multiply and one add
  * — each a single correctly-rounded scalar op on identical inputs,
  * bit-identical in any IEEE-754 environment. µcos is floored to
  * integer µunits ONCE and every downstream value (top-k neighborhood
  * sums, the margin ratio, rankings, the mutual-best check) is exact
  * BIGINT arithmetic: margin_µ = (2k·µcos·10⁶) div (Σtop-k fwd +
  * Σtop-k bwd), integer division on positives (truncation ≡ floor in
  * both engines; the µcos>0 guard keeps the numerator positive).
  *
  * Scale posture: the all-pairs µcos relation is the small-corpus arm
  * (both fixture pools ≤ [[Similarity.SmallCorpusBound]]; one
  * broadcast of the target pool, every later exchange keyed on sx or
  * ty and linear in the pair count). At production scale the pair
  * generation swaps to IVF multi-probe candidate retrieval run in
  * both directions (the q136/q177 machinery: probe nprobe nearest
  * centroid lists per query, cosine only within probed lists) and the
  * margin denominators become candidate-restricted top-k — exactly
  * how CCMatrix runs the same formula under FAISS. Everything from
  * the µcos relation down (window top-k, keyed joins, mutual check)
  * is shape-identical under either candidate generator; q188b
  * oracle-checks the probed arm end-to-end by spelling the same
  * candidate set relationally in SQL (the q45/q136 pattern).
  */
object Bitext {

  /** Neighborhood size for the margin denominator (k of the ratio
    * margin; the paper uses 4 on BUCC).
    */
  val MarginK = 4

  /** Probes per query vector in the IVF-multiprobe candidate arm. */
  val NProbe = 2

  /** Adds the quantized columns the determinism contract folds over:
    * qv = µ-quantized component array (integer-valued doubles),
    * qn = L2 norm of qv (sqrt of an exact integer — correctly
    * rounded, hence engine-independent). Input needs (v); (nrm) is
    * kept if present for the candidate-generation arm.
    */
  private[graft] def qrel(df: DataFrame): DataFrame =
    df.withColumn("qv", graft.functions.VectorOps.quantizeMicro(col("v")))
      .withColumn("qn", graft.functions.VectorOps.l2norm(col("qv")))

  /** µcos over ALL cross-pool pairs — the exact small-corpus arm
    * (pools ≤ [[Similarity.SmallCorpusBound]]): one broadcast of the
    * target pool, one exact-integer fold + float→integer floor per
    * pair.
    */
  private def allPairsUcos(x: DataFrame, y: DataFrame): DataFrame =
    x.select(col("id").as("sx"), col("qv").as("xq"), col("qn").as("xn"))
      .crossJoin(broadcast(y.select(col("id").as("ty"),
        col("qv").as("yq"), col("qn").as("yn"))))
      .withColumn("ucos", ucosCol)
      .select("sx", "ty", "ucos")

  /** floor(qdot/(qnx·qny)·10⁶ + 0.5): the association must stay
    * dot/(na*nb) — the oracle spells the identical tree, so every op
    * is one correctly-rounded scalar on identical inputs.
    */
  private[graft] def ucosCol =
    floor(graft.functions.VectorOps.cosine(col("xq"), col("yq"),
      col("xn"), col("yn")) * lit(1000000.0) + lit(0.5)).cast("long")

  /** µcos over IVF-MULTIPROBE candidates — the production arm, run in
    * BOTH directions the way CCMatrix runs the same formula under
    * FAISS: each pool assigns rank-1 to an inverted list (in-row
    * codegen'd [[graft.plans.CentroidTopK]], the q45/q139 kernel) and
    * each vector probes its [[NProbe]] nearest lists in the OPPOSITE
    * pool; a pair is a candidate when either endpoint probes the
    * other's list. Every exchange is keyed on the centroid id and
    * linear in Σ|list|·|probers-per-list| — never pool². Margin
    * denominators downstream become candidate-restricted top-k, the
    * standard approximation (near-identical pairs share a rank-1
    * centroid, so translation candidates are recalled structurally;
    * BitextSpec pins planted recovery). Candidate GENERATION ranks on
    * the raw vectors (scale-invariant cosine vs the centroid fixture,
    * like q45); the µcos VALUES fold over the quantized columns.
    */
  private[graft] def probedUcos(s: SparkSession, x: DataFrame,
      y: DataFrame, nprobe: Int = NProbe,
      packed: graft.plans.FrozenTable[Array[Double]] = null): DataFrame = {
    // centroid count is the caller's k ∝ N operating point at scale
    // (the q139 contract); the committed fixture is the default
    val cents = Option(packed)
      .getOrElse(graft.Fixtures.ivfCentroidsPacked(s))
    def cids(df: DataFrame, k: Int): DataFrame =
      df.select(col("id"), col("qv"), col("qn"),
        explode(graft.functions.VectorOps.centroidTopK(
          col("v"), col("nrm"), cents, k)).as("cid"))
    def xSide(df: DataFrame) = df.select(col("id").as("sx"),
      col("qv").as("xq"), col("qn").as("xn"), col("cid"))
    def ySide(df: DataFrame) = df.select(col("id").as("ty"),
      col("qv").as("yq"), col("qn").as("yn"), col("cid"))
    val fwd = xSide(cids(x, nprobe)).join(ySide(cids(y, 1)), "cid")
    val bwd = xSide(cids(x, 1)).join(ySide(cids(y, nprobe)), "cid")
    fwd.unionByName(bwd)
      .select(col("sx"), col("ty"), col("xq"), col("xn"),
        col("yq"), col("yn"))
      .dropDuplicates("sx", "ty")
      .withColumn("ucos", ucosCol)
      .select("sx", "ty", "ucos")
  }

  /** Core miner over two pools of (id, v, nrm, qv, qn) rows ([[qrel]]
    * output). Returns one row per source vector that has a
    * positive-cosine candidate: (src_id, tgt_id, margin_u, mutual).
    * Exposed for specs.
    */
  private[graft] def mineMargin(x: DataFrame, y: DataFrame,
      k: Int = MarginK): DataFrame =
    marginFromPairs(allPairsUcos(x, y), k)

  /** The miner over multiprobe candidates — the large-arm spelling. */
  private[graft] def mineMarginProbed(s: SparkSession, x: DataFrame,
      y: DataFrame, k: Int = MarginK, nprobe: Int = NProbe,
      packed: graft.plans.FrozenTable[Array[Double]] = null): DataFrame =
    marginFromPairs(probedUcos(s, x, y, nprobe, packed), k)

  /** API-level dispatcher (the [[Similarity.oneShotNeardup]]
    * contract): `n` is the caller's pool cardinality — a catalog/
    * manifest fact at production scale. Below
    * [[Similarity.SmallCorpusBound]] the exact all-pairs arm wins
    * (and is what the q188 oracle pins at every driver scale); above
    * it the multiprobe arm keeps candidates off the pool² path.
    */
  def mine(s: SparkSession, x: DataFrame, y: DataFrame, n: Long,
      k: Int = MarginK): DataFrame =
    if (n <= Similarity.SmallCorpusBound) mineMargin(x, y, k)
    else mineMarginProbed(s, x, y, k)

  private def marginFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    val p = pairs.transform(graft.Caches.persist)
    val wf = Window.partitionBy("sx").orderBy(col("ucos").desc, col("ty"))
    val wb = Window.partitionBy("ty").orderBy(col("ucos").desc, col("sx"))
    val kx = p.withColumn("r", row_number().over(wf))
      .filter(col("r") <= k).groupBy("sx").agg(sum("ucos").as("sfwd"))
    val ky = p.withColumn("r", row_number().over(wb))
      .filter(col("r") <= k).groupBy("ty").agg(sum("ucos").as("sbwd"))
    // margin in µunits: cos / ((avg fwd k-NN cos)/2 + (avg bwd)/2)
    //                 = 2k·µcos / (Σfwd + Σbwd), scaled by 10⁶.
    // numerator ≤ 2k·10⁶·10⁶ = 8·10¹² — no BIGINT overflow risk.
    val m = p.filter(col("ucos") > 0)
      .join(kx, "sx").join(ky, "ty")
      .filter(col("sfwd") + col("sbwd") > 0)
      .withColumn("margin_u",
        expr(s"(${2 * k} * ucos * 1000000) div (sfwd + sbwd)"))
      .select("sx", "ty", "margin_u")
      .transform(graft.Caches.persist)
    val fw = Window.partitionBy("sx").orderBy(col("margin_u").desc, col("ty"))
    val bw = Window.partitionBy("ty").orderBy(col("margin_u").desc, col("sx"))
    val fwd = m.withColumn("r", row_number().over(fw))
      .filter(col("r") === 1).select("sx", "ty", "margin_u")
    val bwd = m.withColumn("r", row_number().over(bw))
      .filter(col("r") === 1)
      .select(col("sx").as("bsx"), col("ty").as("bty"))
    fwd.join(bwd,
        fwd("sx") === bwd("bsx") && fwd("ty") === bwd("bty"), "left")
      .select(col("sx").as("src_id"), col("ty").as("tgt_id"),
        col("margin_u"),
        when(col("bsx").isNotNull, lit(1)).otherwise(lit(0)).as("mutual"))
  }

  /** The two fixture pools as [[qrel]] relations, split from the
    * shared normed corpus (even vec_id = source, odd = target).
    */
  private def pools(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = qrel(Similarity.normed(s, dir))
    (e.filter(col("vec_id") % 2 === 0)
       .select(col("vec_id").as("id"), col("v"), col("nrm"),
         col("qv"), col("qn")),
     e.filter(col("vec_id") % 2 === 1)
       .select(col("vec_id").as("id"), col("v"), col("nrm"),
         col("qv"), col("qn")))
  }

  /** Shared oracle prefix: quantized pools and the exact µcos
    * expression. `list_inner_product` over integer-valued doubles is
    * exact however the engine folds it; the scalar tail mirrors the
    * Spark tree op-for-op (dot / (xn*yn) * 1e6 + 0.5, floor).
    */
  /** The exact integer-µcos pair SELECT — THE determinism-contract
    * expression, defined once so a future contract change cannot
    * silently miss one of its oracle spellings (q188/q188b/q210/
    * q210b/q211 all fold this exact tree). `sx`/`ty` name the id
    * expressions, `from` supplies pair generation; the endpoint
    * quantized relations must be aliased `x` and `y`.
    */
  private[graft] def oracleUcosSelect(sx: String, ty: String,
      from: String): String =
    s"""SELECT $sx AS sx, $ty AS ty,
       |    CAST(floor(list_inner_product(x.qv, y.qv)
       |        / (x.qn * y.qn)
       |      * 1000000.0 + 0.5) AS BIGINT) AS ucos
       |  FROM $from""".stripMargin

  private[graft] def oracleQuantCte: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id, v,
       |    list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv
       |  FROM e),
       |n AS (SELECT vec_id, v, qv,
       |    sqrt(list_inner_product(qv, qv)) AS qn FROM q)""".stripMargin

  private def oracleMarginTail(k: Int): String =
    s"""kx AS (SELECT sx, SUM(ucos) AS sfwd FROM (
       |    SELECT sx, ucos, ROW_NUMBER() OVER (PARTITION BY sx
       |      ORDER BY ucos DESC, ty) AS r FROM p) t
       |  WHERE r <= $k GROUP BY sx),
       |ky AS (SELECT ty, SUM(ucos) AS sbwd FROM (
       |    SELECT ty, ucos, ROW_NUMBER() OVER (PARTITION BY ty
       |      ORDER BY ucos DESC, sx) AS r FROM p) t
       |  WHERE r <= $k GROUP BY ty),
       |m AS (
       |  SELECT p.sx, p.ty,
       |    -- CAST: sfwd/sbwd are SUM-derived HUGEINT, so the division
       |    -- inherits decimal128 via Arrow; the engine emits int64
       |    -- (the Relational.scala:469 rule — r16's five red rows)
       |    CAST((${2 * k} * p.ucos * 1000000) // (kx.sfwd + ky.sbwd)
       |      AS BIGINT) AS margin_u
       |  FROM p JOIN kx USING (sx) JOIN ky USING (ty)
       |  WHERE p.ucos > 0 AND kx.sfwd + ky.sbwd > 0),
       |fwd AS (SELECT sx, ty, margin_u FROM (
       |    SELECT sx, ty, margin_u, ROW_NUMBER() OVER (
       |      PARTITION BY sx ORDER BY margin_u DESC, ty) AS r
       |    FROM m) t WHERE r = 1),
       |bwd AS (SELECT sx, ty FROM (
       |    SELECT sx, ty, ROW_NUMBER() OVER (
       |      PARTITION BY ty ORDER BY margin_u DESC, sx) AS r
       |    FROM m) t WHERE r = 1)
       |SELECT f.sx AS src_id, f.ty AS tgt_id, f.margin_u,
       |  CASE WHEN b.sx IS NOT NULL THEN 1 ELSE 0 END AS mutual
       |FROM fwd f LEFT JOIN bwd b ON f.sx = b.sx AND f.ty = b.ty
       |ORDER BY src_id""".stripMargin

  val q188BitextMargin: QueryDef = QueryDef(
    "q188_bitext_margin",
    (s, dir) => {
      val (x, y) = pools(s, dir)
      mineMargin(x, y).orderBy("src_id")
    },
    Some(s"""$oracleQuantCte,
            |p AS (
            |  ${oracleUcosSelect("x.vec_id", "y.vec_id",
               "n x JOIN n y ON x.vec_id % 2 = 0 AND y.vec_id % 2 = 1")}),
            |${oracleMarginTail(MarginK)}""".stripMargin),
    bench = true)

  /** q188b: the PRODUCTION arm oracle-checked end-to-end. The probed
    * candidate set is spelled relationally in SQL exactly as the
    * engine computes it (rank-1 list assignment + nprobe probes per
    * vector vs the committed centroid fixture, both directions — the
    * q45/q136 pattern), so the candidate-restricted margin
    * denominators are pinned, not just recall-gated.
    */
  val q188bBitextMarginProbed: QueryDef = QueryDef(
    "q188b_bitext_margin_probed",
    (s, dir) => {
      val (x, y) = pools(s, dir)
      mineMarginProbed(s, x, y).orderBy("src_id")
    },
    Some(s"""$oracleQuantCte,
            |ce AS (SELECT cid, cv
            |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
            |asn AS (
            |  SELECT n.vec_id, ce.cid,
            |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
            |  FROM n CROSS JOIN ce),
            |cand AS (
            |  SELECT DISTINCT sx, ty FROM (
            |    SELECT a.vec_id AS sx, b.vec_id AS ty
            |    FROM asn a JOIN asn b ON a.cid = b.cid
            |      AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
            |      AND a.crnk <= $NProbe AND b.crnk = 1
            |    UNION ALL
            |    SELECT a.vec_id AS sx, b.vec_id AS ty
            |    FROM asn a JOIN asn b ON a.cid = b.cid
            |      AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
            |      AND a.crnk = 1 AND b.crnk <= $NProbe) u),
            |p AS (
            |  ${oracleUcosSelect("c.sx", "c.ty",
               "cand c JOIN n x ON x.vec_id = c.sx " +
                 "JOIN n y ON y.vec_id = c.ty")}),
            |${oracleMarginTail(MarginK)}""".stripMargin))

  val all: Seq[QueryDef] = Seq(q188BitextMargin, q188bBitextMarginProbed)
}
