package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mutual k-nearest-neighbor graph over the embedding corpus — the
  * substrate every semantic-structure pass sits on: SemDeDup-style
  * cluster discovery, graph-based label propagation, and the
  * NN-descent family (Dong, Moses & Li WWW'11) all consume exactly
  * this relation. The catalog's ANN tier answers QUERY→corpus top-k
  * (q26/q45/q136); this is the corpus→corpus ALL-nodes variant, whose
  * naive spelling is the N² trap — so candidates come from the same
  * IVF geometry the query tier uses (multiprobe list assignment vs
  * the committed centroid fixture), keeping every exchange keyed on
  * the centroid id: candidate volume is Σ over lists of
  * occupancy² ≈ (nprobe·N)²/L — O(N) under the k ∝ N centroid
  * operating contract (q139), the same class as the LSH band joins.
  *
  * Shape: every vector explodes to its [[NProbe]] nearest lists and
  * candidates are the CO-PROBE pairs — both endpoints assigned, a
  * pair survives when their probe sets intersect (one self-equi-join
  * on `cid`, symmetric by construction; this is the LSH band-join
  * move applied to IVF geometry). The asymmetric query-tier shape
  * (probe side vs rank-1 index side) measured 0.20 mutual recall
  * one-directional and 0.69 symmetrized on the fixture — a kNN GRAPH
  * needs both endpoints of a boundary-straddling pair to reach the
  * shared adjacent list, which co-probing gives (measured 0.92). An
  * exact integer-µcos re-rank scores the deduped pairs
  * (the q188 determinism contract: µ-quantized components, exact
  * integer dot, ONE float→integer floor per pair), a per-node window
  * keeps top-[[GraphK]] (bounded by probe-list volume, never N²), and
  * a self-semi-join on the (N·k)-row kNN relation keeps the MUTUAL
  * edges — the symmetrization that turns directed kNN into the graph
  * clustering consumes. At 10⁹ vectors every stage scales with list
  * occupancy (k ∝ N centroids, the q139 operating contract); nothing
  * here ever materializes more than candidates.
  */
/** Executor/driver-shared exact Gonzalez greedy over µ-quantized rows
  * — the kernel both stages of [[KnnGraph.kcenterSelectComposable]]
  * run (stage 1 ships it inside a flatMapGroups closure, hence
  * Serializable).
  *
  * µcos here is BIT-IDENTICAL to the engine spelling
  * ([[Bitext.ucosCol]] / the oracle's list_inner_product form): the
  * quantized components are integer-valued doubles whose pairwise
  * products sum far below 2^53, so the dot is an EXACT integer in any
  * summation order; qn is a correctly-rounded sqrt of an exact
  * integer; the remaining divide·scale·floor is one deterministic
  * IEEE chain on identical inputs — the same argument the catalog's
  * engine-equality contract rests on everywhere.
  */
private[graft] object KcGreedy extends Serializable {
  final case class KcRow(vid: Long, qv: Array[Double], qn: Double)

  def ucos(a: KcRow, b: KcRow): Long = {
    var d = 0.0; var i = 0
    while (i < a.qv.length) { d += a.qv(i) * b.qv(i); i += 1 }
    math.floor(d / (a.qn * b.qn) * 1000000.0 + 0.5).toLong
  }

  /** Exact farthest-first (Gonzalez 1985) over `rows` in memory,
    * seeded at the minimum vid, argmin ties (maxu asc, vid asc) — the
    * exact arm's per-round semantics ([[KnnGraph.kcenterRounds]] runs
    * the same rounds distributed). Returns min(k, n) picks
    * as (sel, row, farthest_u); the seed reports farthest_u = 10⁶.
    */
  def gonzalez(rows: Array[KcRow], k: Int): Vector[(Int, KcRow, Long)] = {
    if (rows.isEmpty) return Vector.empty
    val n = rows.length
    val seed = rows.indices.minBy(rows(_).vid)
    val maxu = new Array[Long](n)
    val taken = new Array[Boolean](n)
    var i = 0
    while (i < n) { maxu(i) = ucos(rows(i), rows(seed)); i += 1 }
    taken(seed) = true
    var out = Vector((0, rows(seed), 1000000L))
    var r = 1
    while (r < math.min(k, n)) {
      var best = -1
      var j = 0
      while (j < n) {
        if (!taken(j) && (best < 0 || maxu(j) < maxu(best) ||
            (maxu(j) == maxu(best) && rows(j).vid < rows(best).vid)))
          best = j
        j += 1
      }
      taken(best) = true
      out :+= ((r, rows(best), maxu(best)))
      j = 0
      while (j < n) {
        if (!taken(j)) {
          val u = ucos(rows(j), rows(best))
          if (u > maxu(j)) maxu(j) = u
        }
        j += 1
      }
      r += 1
    }
    out
  }
}

object KnnGraph {

  /** Neighbors kept per node before symmetrization. */
  val GraphK = 3

  /** Lists probed per vector (both sides) in candidate generation. */
  val NProbe = 2

  /** Directed top-k per node over a scored candidate relation
    * `(sx, ty, ucos)` — the kNN relation both the mutualization
    * below and the q213 NN-descent rounds consume.
    */
  private[graft] def directedTopK(scored: DataFrame,
      k: Int = GraphK): DataFrame =
    scored
      .withColumn("r", row_number().over(Window.partitionBy("sx")
        .orderBy(col("ucos").desc, col("ty"))))
      .filter(col("r") <= k)
      .select(col("sx"), col("ty"), col("ucos"))

  /** Keep the mutual pairs of a directed kNN relation, canonical
    * a < b.
    */
  private[graft] def mutualize(knn: DataFrame): DataFrame = {
    val rev = knn.select(col("ty").as("sx"), col("sx").as("ty"))
    knn.join(rev, Seq("sx", "ty"), "left_semi")
      .filter(col("sx") < col("ty"))
      .select(col("sx").as("a"), col("ty").as("b"), col("ucos"))
  }

  /** Top-[[GraphK]] per node, then keep the mutual pairs, canonical
    * a < b. Unordered: the catalog entries ORDER BY (a, b) for their
    * output contract; substrate consumers (q211's adjacency) would
    * only throw that sort away.
    */
  private[graft] def mutualTopK(scored: DataFrame): DataFrame =
    mutualize(directedTopK(scored))

  /** Exact integer-µcos score for a candidate pair relation, joined
    * back to the quantized corpus on both endpoints.
    */
  private def score(cand: DataFrame, e: DataFrame): DataFrame =
    cand
      .join(e.select(col("vec_id").as("sx"), col("qv").as("xq"),
        col("qn").as("xn")), "sx")
      .join(e.select(col("vec_id").as("ty"), col("qv").as("yq"),
        col("qn").as("yn")), "ty")
      .withColumn("ucos", Bitext.ucosCol)

  /** Co-probe candidate pairs from the IVF geometry. The centroid
    * table defaults to the committed fixture; callers operating the
    * k ∝ N contract (the q139 scale posture) pass their own packed
    * table — [[graft.ScaleGrowthSpec]] measures the resulting
    * candidate-volume exponent at ~1 under that contract.
    */
  private[graft] def probedScores(s: SparkSession, e: DataFrame,
      packed: graft.plans.FrozenTable[Array[Double]] = null): DataFrame = {
    val cents = Option(packed)
      .getOrElse(graft.Fixtures.ivfCentroidsPacked(s))
    val probed = graft.Caches.persist(
      e.select(col("vec_id"),
        explode(graft.functions.VectorOps.centroidTopK(
          col("v"), col("nrm"), cents, NProbe)).as("cid")))
    val cand = probed.select(col("vec_id").as("sx"), col("cid"))
      .join(probed.select(col("vec_id").as("ty"), col("cid")), "cid")
      .filter(col("sx") =!= col("ty"))
      .dropDuplicates("sx", "ty")
    score(cand, e)
  }

  /** The exact small-corpus arm: one broadcast all-pairs pass (the
    * q188/q26 class — ground truth below
    * [[Similarity.SmallCorpusBound]]; above it, [[probedScores]] is
    * the arm a dispatcher hands out, the q207 pattern).
    */
  private[graft] def exactScores(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("sx"), col("qv").as("xq"),
        col("qn").as("xn"))
      .join(broadcast(e.select(col("vec_id").as("ty"),
        col("qv").as("yq"), col("qn").as("yn"))),
        col("sx") =!= col("ty"))
      .withColumn("ucos", Bitext.ucosCol)

  /** Shared oracle prefix ending in a `mutual(a, b, ucos)` CTE — the
    * exact-arm mutual-kNN edge relation (q210's result before its
    * final ORDER BY; q211's propagation substrate).
    */
  private[graft] def oracleMutualCte: String =
    s"""${Bitext.oracleQuantCte},
       |p AS (
       |  ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
          "n x JOIN n y ON x.vec_id <> y.vec_id")}),
       |knn AS (
       |  SELECT sx, ty, ucos FROM (
       |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
       |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
       |    FROM p) t WHERE r <= $GraphK),
       |mutual AS (
       |  SELECT k1.sx AS a, k1.ty AS b, k1.ucos
       |  FROM knn k1 JOIN knn k2 ON k1.sx = k2.ty AND k1.ty = k2.sx
       |  WHERE k1.sx < k1.ty)""".stripMargin

  val q210KnnGraph: QueryDef = QueryDef(
    "q210_knn_graph",
    (s, dir) => mutualTopK(exactScores(
      Bitext.qrel(Similarity.normed(s, dir)))).orderBy("a", "b"),
    Some(s"""$oracleMutualCte
            |SELECT a, b, ucos FROM mutual
            |ORDER BY a, b""".stripMargin))

  /** q210b: the probed production arm oracle-checked end-to-end —
    * the co-probe candidate set is spelled relationally (the q188b
    * pattern), so candidate membership AND the restricted top-k are
    * pinned, not just recall-gated. On geometrically concentrated
    * corpora the probed graph approaches the exact one (planted-twin
    * recall is pinned at 1.0 in [[graft.KnnGraphSpec]]); on this
    * fixture's near-uniform tail it is a DIFFERENT, sparser graph —
    * measured mutual recall 0.52 vs exact, the honest cost of probing
    * 2/16 lists on data whose neighbors aren't concentrated.
    */
  val q210bKnnGraphProbed: QueryDef = QueryDef(
    "q210b_knn_graph_probed",
    (s, dir) => mutualTopK(probedScores(s,
      Bitext.qrel(Similarity.normed(s, dir)))).orderBy("a", "b"),
    Some(s"""${Bitext.oracleQuantCte},
            |ce AS (SELECT cid, cv
            |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
            |asn AS (
            |  SELECT n.vec_id, ce.cid,
            |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
            |  FROM n CROSS JOIN ce),
            |cand AS (
            |  SELECT DISTINCT a.vec_id AS sx, b.vec_id AS ty
            |  FROM asn a JOIN asn b ON a.cid = b.cid
            |    AND a.crnk <= $NProbe AND b.crnk <= $NProbe
            |    AND a.vec_id <> b.vec_id),
            |p AS (
            |  ${Bitext.oracleUcosSelect("c.sx", "c.ty",
               "cand c JOIN n x ON x.vec_id = c.sx " +
                 "JOIN n y ON y.vec_id = c.ty")}),
            |knn AS (
            |  SELECT sx, ty, ucos FROM (
            |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
            |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
            |    FROM p) t WHERE r <= $GraphK)
            |SELECT k1.sx AS a, k1.ty AS b, k1.ucos
            |FROM knn k1 JOIN knn k2 ON k1.sx = k2.ty AND k1.ty = k2.sx
            |WHERE k1.sx < k1.ty
            |ORDER BY a, b""".stripMargin))

  /** NN-descent refinement rounds (oracle unrolls the same number). */
  val DescentRounds = 3

  /** Internal search width during descent. The paper's K trades
    * per-round candidate volume (O(N·K²)) for exploration reach; a
    * frontier as narrow as the output k barely moves on corpora
    * without local cluster structure. Measured on the fixture's
    * near-uniform tail (mutual recall vs the exact q210 graph,
    * probed start = 0.52): K=3 × 2 rounds → 0.56; K=8 × 2 → 0.75;
    * K=12 × 3 → 0.92. Descent runs at [[SearchK]] and truncates to
    * [[GraphK]] at the end — the standard search-k vs output-k
    * split.
    */
  val SearchK = 12

  /** One NN-descent round (Dong, Moses & Li WWW'11, "Efficient
    * k-nearest neighbor graph construction for generic similarity
    * measures"): the paper's observation is that a neighbor of my
    * neighbor is likely my neighbor — so each round proposes, for
    * every node, the OTHER neighbors of each of its current
    * (undirected) neighbors, exact-scores the proposals, and keeps
    * the best k of old ∪ new. Deterministic spelling of the paper's
    * local-join: the undirected adjacency `und = knn ∪ reverse(knn)`,
    * candidates = pairs meeting at a shared endpoint (one self-join
    * of `und` keyed on the hub), scores via the exact integer-µcos
    * contract, top-k by the usual (ucos DESC, ty) window. No sampling
    * (ρ = 1 in the paper's terms) and a FIXED round count so the
    * result is a pure function of the data — both engines unroll
    * identically. Cost per round: Σ_hub deg(hub)² with deg ≤ 2k —
    * O(N·k²) candidate rows, every exchange keyed (hub, then sx) —
    * the paper's empirical O(N^1.14) without the termination
    * heuristics that would break oracle purity.
    */
  private def descentRound(knn: DataFrame, e: DataFrame): DataFrame = {
    val und = knn.select(col("sx").as("u"), col("ty").as("v"))
      .unionByName(knn.select(col("ty").as("u"), col("sx").as("v")))
      .dropDuplicates("u", "v")
    val cand = und.select(col("u"), col("v").as("sx"))
      .join(und.select(col("u"), col("v").as("ty")), "u")
      .filter(col("sx") =!= col("ty"))
      .dropDuplicates("sx", "ty")
      .select(col("sx"), col("ty"))
    // every duplicate (sx, ty) row carries the identical pure-function
    // ucos, so the dedup is value-deterministic
    directedTopK(
      score(cand, e).select(col("sx"), col("ty"), col("ucos"))
        .unionByName(knn)
        .dropDuplicates("sx", "ty"),
      SearchK)
  }

  /** Probed kNN start refined by [[DescentRounds]] NN-descent rounds.
    * `packed` threads a caller-built centroid table through to
    * [[probedScores]] (the k ∝ N operating contract in
    * [[graft.ScaleGrowthSpec]]); null = the committed fixture.
    */
  private[graft] def nnDescent(s: SparkSession, e: DataFrame,
      rounds: Int = DescentRounds,
      packed: graft.plans.FrozenTable[Array[Double]] = null): DataFrame = {
    // localCheckpoint per round (the q66/ranksToConvergence loop
    // discipline): plan depth stays constant however many rounds run
    // — 3 unrolled rounds of window+join+window otherwise compound
    // into a tree the optimizer re-copies per round — and superseded
    // round checkpoints are released as soon as the next round is
    // materialized (each is only N·SearchK rows, but a long-lived
    // session shouldn't accumulate them)
    var knn = directedTopK(probedScores(s, e, packed), SearchK)
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val next = descentRound(knn, e).localCheckpoint()
      graft.Caches.releaseLocalCheckpoint(knn)
      knn = next
    }
    directedTopK(knn, GraphK)
  }

  /** q213: NN-descent over the q210b co-probe start — the standard
    * upgrade path when the corpus is NOT geometrically concentrated
    * and probing 2/16 lists leaves graph recall on the table (q210b's
    * honest 0.52 on this fixture's near-uniform tail). Three
    * SearchK-wide descent rounds recover 0.92 of the exact graph
    * (recall pinned in [[graft.KnnGraphSpec]]) while every stage
    * stays keyed — no N² anywhere. The oracle unrolls every round
    * relationally, so candidate membership of each round is pinned,
    * not recall-gated. Its CTEs are MATERIALIZED because round i+1
    * reads k{i} three times: inlined, DuckDB re-evaluates the whole
    * prior chain per reference (about 38 s at sf0.01, out of memory at
    * sf0.1).
    */
  val q213NnDescent: QueryDef = QueryDef(
    "q213_nn_descent",
    (s, dir) => mutualize(nnDescent(s,
      Bitext.qrel(Similarity.normed(s, dir)))).orderBy("a", "b"),
    Some {
      val rounds = (1 to DescentRounds).map { i =>
        s"""u$i AS MATERIALIZED (
           |  SELECT sx AS u, ty AS v FROM k${i - 1}
           |  UNION SELECT ty AS u, sx AS v FROM k${i - 1}),
           |c$i AS MATERIALIZED (
           |  SELECT DISTINCT a.v AS sx, b.v AS ty
           |  FROM u$i a JOIN u$i b ON a.u = b.u AND a.v <> b.v),
           |p$i AS MATERIALIZED (
           |  ${Bitext.oracleUcosSelect("c.sx", "c.ty",
              s"c$i c JOIN n x ON x.vec_id = c.sx " +
                "JOIN n y ON y.vec_id = c.ty")}),
           |k$i AS MATERIALIZED (
           |  SELECT sx, ty, ucos FROM (
           |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
           |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
           |    FROM (SELECT sx, ty, ucos FROM p$i
           |          UNION SELECT sx, ty, ucos FROM k${i - 1}) q
           |  ) t WHERE r <= $SearchK)""".stripMargin
      }.mkString(",\n")
      s"""${Bitext.oracleQuantCte},
         |ce AS (SELECT cid, cv
         |       FROM read_parquet('${graft.Fixtures.ivfCentroidsPath}')),
         |asn AS MATERIALIZED (
         |  SELECT n.vec_id, ce.cid,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |      list_cosine_similarity(v, cv) DESC, ce.cid) AS crnk
         |  FROM n CROSS JOIN ce),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.vec_id AS sx, b.vec_id AS ty
         |  FROM asn a JOIN asn b ON a.cid = b.cid
         |    AND a.crnk <= $NProbe AND b.crnk <= $NProbe
         |    AND a.vec_id <> b.vec_id),
         |p0 AS MATERIALIZED (
         |  ${Bitext.oracleUcosSelect("c.sx", "c.ty",
            "cand c JOIN n x ON x.vec_id = c.sx " +
              "JOIN n y ON y.vec_id = c.ty")}),
         |k0 AS MATERIALIZED (
         |  SELECT sx, ty, ucos FROM (
         |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
         |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
         |    FROM p0) t WHERE r <= $SearchK),
         |$rounds,
         |kf AS MATERIALIZED (
         |  SELECT sx, ty, ucos FROM (
         |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
         |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
         |    FROM k$DescentRounds) t WHERE r <= $GraphK)
         |SELECT k1.sx AS a, k1.ty AS b, k1.ucos
         |FROM kf k1 JOIN kf k2
         |  ON k1.sx = k2.ty AND k1.ty = k2.sx
         |WHERE k1.sx < k1.ty
         |ORDER BY a, b""".stripMargin
    },
    bench = true, lowLatency = true)

  /** q214: the similarity→dedup bridge SemDeDup (Abbas et al. 2023)
    * describes — semantic duplicate GROUPS from the mutual-kNN graph,
    * not just pairs: q66's pointer-jumping connected components keyed
    * by the q210 edge relation, every embedding labeled with its
    * component (singletons stand alone), one canonical keeper per
    * cluster. This closes the loop the catalog left open: q210 finds
    * semantic PAIRS, q66 groups LEXICAL pairs; a dedup pass that
    * keeps one doc per SEMANTIC cluster needs both composed. At scale
    * the component loop runs on the (N·k)-row edge list — tiny vs
    * the corpus — in O(log d) rounds (the q66 cost model).
    */
  val q214SemanticClusters: QueryDef = QueryDef(
    "q214_semantic_clusters",
    (s, dir) => {
      val edges = mutualTopK(exactScores(
        Bitext.qrel(Similarity.normed(s, dir))))
      val comp = Dedup.connectedComponents(
        edges.select(col("a").as("d1"), col("b").as("d2")))
      Tables.load(s, dir, "embeddings").select(col("vec_id"))
        .join(comp.select(col("v").as("vec_id"), col("lbl")),
          Seq("vec_id"), "left")
        .withColumn("cluster", coalesce(col("lbl"), col("vec_id")))
        .withColumn("members",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .select(col("vec_id"), col("cluster"), col("members"),
          when(col("vec_id") === col("cluster"), 1).otherwise(0)
            .as("keep"))
        .orderBy("vec_id")
    },
    Some(s"""${oracleMutualCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
            |und AS (SELECT a AS v, b AS u FROM mutual
            |        UNION SELECT b, a FROM mutual),
            |reach(v, u) AS (
            |  SELECT v, u FROM und
            |  UNION
            |  SELECT r.v, e2.u FROM reach r JOIN und e2 ON r.u = e2.v),
            |lab AS (SELECT v, least(v, MIN(u)) AS cluster
            |        FROM reach GROUP BY v)
            |SELECT em.vec_id,
            |  COALESCE(lab.cluster, em.vec_id) AS cluster,
            |  COUNT(*) OVER (
            |    PARTITION BY COALESCE(lab.cluster, em.vec_id))
            |    AS members,
            |  CASE WHEN em.vec_id = COALESCE(lab.cluster, em.vec_id)
            |    THEN 1 ELSE 0 END AS keep
            |FROM embeddings em LEFT JOIN lab ON em.vec_id = lab.v
            |ORDER BY vec_id""".stripMargin))

  /** Outlier cutoff: flagged when 10·knn_u < 9·mean(knn_u) — i.e.
    * the node's mean top-k cosine sits below 0.9 of the corpus mean.
    * Measured on the sf0.01 fixture: flags 53/500 (~10%); 0.8 would
    * flag 3. Exact integers on both sides, no percentile/global rank.
    */
  val OutlierNum = 9
  val OutlierDen = 10

  /** q215: kNN-distance outlier scores (Ramaswamy, Rastogi & Shim
    * SIGMOD'00 — "distance to the k-th/mean-of-k nearest neighbors"
    * as the outlier measure; the embedding-space curation filter that
    * drops OOD/noise vectors before training, and the
    * prototypicality signal the D4 pipeline family ranks by). Score:
    * `knn_u = (Σ top-k µcos) div k` per vector — already computed by
    * the kNN substrate — flagged against a mean-relative integer
    * cutoff ([[OutlierNum]]/[[OutlierDen]]) rather than a global
    * rank: the flag is one broadcast scalar + a map-side comparison,
    * so NOTHING here funnels the corpus through a single task (the
    * q209 lesson — a percentile spelling would be a global sort).
    */
  val q215KnnOutliers: QueryDef = QueryDef(
    "q215_knn_outliers",
    (s, dir) => {
      val e = Bitext.qrel(Similarity.normed(s, dir))
      val sc = directedTopK(exactScores(e), GraphK)
        .groupBy(col("sx").as("vec_id"))
        .agg(sum(col("ucos")).as("su"))
        .select(col("vec_id"), expr(s"su div $GraphK").as("knn_u"))
      val mu = broadcast(sc.agg(
        expr("sum(knn_u) div count(1)").as("mu")))
      sc.crossJoin(mu)
        .select(col("vec_id"), col("knn_u"),
          expr(s"CAST($OutlierDen * knn_u < $OutlierNum * mu AS INT)")
            .as("is_outlier"))
        .orderBy("vec_id")
    },
    Some(s"""${Bitext.oracleQuantCte},
            |p AS (
            |  ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
               "n x JOIN n y ON x.vec_id <> y.vec_id")}),
            |knn AS (
            |  SELECT sx, ty, ucos FROM (
            |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
            |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
            |    FROM p) t WHERE r <= $GraphK),
            |sc AS (
            |  SELECT sx AS vec_id,
            |    CAST(SUM(ucos) // $GraphK AS BIGINT) AS knn_u
            |  FROM knn GROUP BY sx),
            |m AS (SELECT SUM(knn_u) // COUNT(*) AS mu FROM sc)
            |SELECT vec_id, knn_u,
            |  CAST($OutlierDen * knn_u < $OutlierNum * mu AS INT)
            |    AS is_outlier
            |FROM sc CROSS JOIN m
            |ORDER BY vec_id""".stripMargin))

  /** Beam width and hop count for the graph-ANN serving walk. */
  val BeamWidth = 8
  val BeamHops = 4

  /** Entry-point stride: corpus nodes with
    * `(vec_id - BeamQueryVecs) % EntryStride = 0` seed every query's
    * beam. A SINGLE fixed entry measured 0.22 recall@3 on the
    * near-uniform fixture — a greedy walk over an unstructured kNN
    * graph stalls in local optima (the reason HNSW grows a hierarchy
    * and DiskANN/Vamana use medoid+spread entries); ~N/64 spread
    * entries restore the multi-restart guarantee deterministically.
    */
  val EntryStride = 32

  /** Query pool: the ANN-family convention (vec_id below this are
    * queries, the rest the indexed corpus — q26/q45/q174's split).
    */
  val BeamQueryVecs = 20

  /** q216: graph-based ANN serving — greedy beam search over the
    * corpus kNN graph (the HNSW layer-0 walk, Malkov & Yashunin
    * TPAMI'18; NSG/Vamana are the same loop with different build
    * rules), completing the ANN index family: the catalog serves
    * IVF (q45), PQ (q64/q72), LSH (q27) and brute force (q26); graph
    * search is the remaining — and at serving time usually winning —
    * geometry. Deterministic spelling: the offline graph is the q210
    * directed top-k over the corpus pool; every query's beam seeds
    * from the fixed [[EntryStride]]-spread entry set (~N/64 nodes, a
    * broadcast — the deterministic multi-restart that keeps a greedy
    * walk out of local optima) and runs
    * [[BeamHops]] fixed hops; each hop expands the beam's undirected
    * neighbors (one keyed join to the persisted adjacency), re-ranks
    * old ∪ new by exact integer µcos to the query, keeps
    * [[BeamWidth]] (ties by node id), and the final beam yields
    * top-[[GraphK]]. Fixed hops instead of the usual
    * stop-when-no-improvement so both engines unroll identically.
    * Per-hop cost: O(Q · BeamWidth · GraphK) candidate rows — keyed
    * joins only, independent of corpus size once the graph is built
    * (the reason serving stacks pick graphs at 10⁹ vectors).
    */
  /** The full beam pipeline over a quantized relation `e` (columns
    * vec_id/qv/qn; ids below [[BeamQueryVecs]] are queries, the rest
    * the corpus): offline graph build + entry seeding + [[BeamHops]]
    * hops + final top-[[GraphK]]. Shared by the q216 catalog entry
    * and the clustered-corpus recall spec.
    *
    * `graph` injects a pre-built directed kNN relation
    * `(sx, ty, ucos)` over the corpus pool — the PRODUCTION
    * composition: build the graph once with [[nnDescent]] (O(N·k²),
    * no N² stage) and serve every query batch through it; null builds
    * the exact graph in place (the small-corpus arm the oracle pins).
    */
  private[graft] def beamSearch(e: DataFrame,
      graph: DataFrame = null): DataFrame = {
    val corpus = graft.Caches.persist(
      e.filter(col("vec_id") >= BeamQueryVecs)
        .select(col("vec_id"), col("qv"), col("qn")))
    val queries = broadcast(e.filter(col("vec_id") < BeamQueryVecs)
      .select(col("vec_id").as("qid"), col("qv").as("xq"),
        col("qn").as("xn")))
    val knn = Option(graph)
      .getOrElse(directedTopK(exactScores(corpus), GraphK))
    val und = graft.Caches.persist(
      knn.select(col("sx").as("u"), col("ty").as("v"))
        .unionByName(knn.select(col("ty").as("u"),
          col("sx").as("v")))
        .dropDuplicates("u", "v"))
    def scoreQ(cand: DataFrame): DataFrame =
      cand.join(queries, "qid")
        .join(corpus.select(col("vec_id").as("node"),
          col("qv").as("yq"), col("qn").as("yn")), "node")
        .select(col("qid"), col("node"), Bitext.ucosCol.as("ucos"))
    def topB(scored: DataFrame, b: Int): DataFrame =
      scored.withColumn("r", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("ucos").desc, col("node"))))
        .filter(col("r") <= b)
        .select(col("qid"), col("node"), col("ucos"))
    val entries = broadcast(corpus
      .filter(expr(s"(vec_id - $BeamQueryVecs) % $EntryStride = 0"))
      .select(col("vec_id").as("node")))
    var beam = topB(
      scoreQ(queries.select(col("qid")).crossJoin(entries)), BeamWidth)
      .localCheckpoint()
    for (_ <- 1 to BeamHops) {
      val expanded = beam.select(col("qid"), col("node").as("u"))
        .join(und, "u")
        .select(col("qid"), col("v").as("node"))
        .dropDuplicates("qid", "node")
      val next = topB(scoreQ(expanded).unionByName(beam)
        .dropDuplicates("qid", "node"), BeamWidth)
        .localCheckpoint()
      graft.Caches.releaseLocalCheckpoint(beam)
      beam = next
    }
    beam
      .withColumn("rnk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("ucos").desc, col("node"))))
      .filter(col("rnk") <= GraphK)
      .select(col("qid"), col("rnk"), col("node").as("neighbor"),
        col("ucos"))
      .orderBy("qid", "rnk")
  }

  val q216GraphAnnBeam: QueryDef = QueryDef(
    "q216_graph_ann_beam",
    (s, dir) => beamSearch(Bitext.qrel(Similarity.normed(s, dir))),
    Some {
      val hops = (1 to BeamHops).map { i =>
        s"""ex$i AS (
           |  SELECT DISTINCT b.qid, und.v AS node
           |  FROM b${i - 1} b JOIN und ON b.node = und.u),
           |sc$i AS (
           |  SELECT sx AS qid, ty AS node, ucos FROM (
           |    ${Bitext.oracleUcosSelect("e.qid", "e.node",
              s"ex$i e JOIN n x ON x.vec_id = e.qid " +
                "JOIN n y ON y.vec_id = e.node")}) t),
           |b$i AS (
           |  SELECT qid, node, ucos FROM (
           |    SELECT qid, node, ucos, ROW_NUMBER() OVER (
           |      PARTITION BY qid ORDER BY ucos DESC, node) AS r
           |    FROM (SELECT qid, node, ucos FROM sc$i
           |          UNION SELECT qid, node, ucos FROM b${i - 1}) q
           |  ) t WHERE r <= $BeamWidth)""".stripMargin
      }.mkString(",\n")
      s"""${Bitext.oracleQuantCte},
         |p AS (
         |  ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
            s"n x JOIN n y ON x.vec_id >= $BeamQueryVecs " +
              s"AND y.vec_id >= $BeamQueryVecs " +
              "AND x.vec_id <> y.vec_id")}),
         |cg AS (
         |  SELECT sx, ty, ucos FROM (
         |    SELECT sx, ty, ucos, ROW_NUMBER() OVER (
         |      PARTITION BY sx ORDER BY ucos DESC, ty) AS r
         |    FROM p) t WHERE r <= $GraphK),
         |und AS (SELECT sx AS u, ty AS v FROM cg
         |        UNION SELECT ty, sx FROM cg),
         |s0 AS (
         |  SELECT sx AS qid, ty AS node, ucos FROM (
         |    ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
            s"n x JOIN n y ON y.vec_id >= $BeamQueryVecs " +
              s"AND (y.vec_id - $BeamQueryVecs) % $EntryStride = 0 " +
              s"WHERE x.vec_id < $BeamQueryVecs")}) t),
         |b0 AS (
         |  SELECT qid, node, ucos FROM (
         |    SELECT qid, node, ucos, ROW_NUMBER() OVER (
         |      PARTITION BY qid ORDER BY ucos DESC, node) AS r
         |    FROM s0) t WHERE r <= $BeamWidth),
         |$hops
         |SELECT qid, rnk, node AS neighbor, ucos FROM (
         |  SELECT qid, node, ucos, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY ucos DESC, node) AS rnk
         |  FROM b$BeamHops) t
         |WHERE rnk <= $GraphK
         |ORDER BY qid, rnk""".stripMargin
    })

  /** Coreset size for the k-center selection. */
  val CoresetK = 8

  /** Largest K the dispatcher gives an exact arm: past this the
    * distributed rounds' count — K−1 serial driver jobs at a ~40 ms
    * scheduling floor each — dominates any data cost (at the D4-style
    * production coreset sizes of 10⁴–10⁶ centers that is DAYS of pure
    * scheduling), so the dispatcher swaps to the bounded-round
    * composable arm. Both arms are spec-pinned at the boundary
    * (exact equality is impossible across arms — composable is a
    * bounded-approximation by construction — so the pin is the
    * covering-radius bound, KnnGraphSpec).
    */
  val KcenterSerialMaxK = 32

  /** Residue classes of the composable arm's local stage at fixture
    * scale (production passes the executor partition count).
    */
  val KcenterParts = 2

  /** Residue classes the DISPATCHER's composable arm uses — a pinned
    * constant, NOT defaultParallelism, so the selected coreset is a
    * pure function of the data rather than of session/machine
    * parallelism (r19 ADVICE: the previous
    * `max(2, defaultParallelism)` made the K>32 selection vary by
    * box). 64 classes bound a residue class at N/64 rows — the
    * scale knob a caller with a larger corpus raises by calling
    * [[kcenterSelectComposable]] with explicit `parts` (each class
    * must fit one executor's memory, the coreset-pass contract).
    */
  val KcenterDispatchParts = 64

  /** Largest relation (rows) the driver materializes for an in-memory
    * Gonzalez greedy: the exact arm's whole corpus, and the composable
    * arm's stage-2 union. Past `2K·parts` over this, the composable
    * arm's ESCALATION runs one more local-oversample round over the
    * union relation itself before collecting (the recursive
    * MapReduce-clustering step). 2²⁰ rows × 64 dims × 8 B = 512 MiB
    * of decoded doubles; collected as UnsafeRows (a 64-dim
    * (long, array<double>, double) row is 560 B) the results are
    * 560 MiB before compression, under `spark.driver.maxResultSize`'s
    * 1 GiB default. Wider vectors reach that limit sooner: at 128
    * dims the same row count is 1,072 MiB of rows.
    */
  val KcenterDriverMaxUnion: Long = 1L << 20

  private[graft] sealed trait KcenterArm
  private[graft] case object KcSerialArm extends KcenterArm
  private[graft] case object KcComposableArm extends KcenterArm

  /** The pure dispatch rule (unit-tested at the boundary): an exact
    * greedy while K stays at or under [[KcenterSerialMaxK]], the
    * two-round composable oversample past it.
    */
  private[graft] def kcenterArm(k: Int): KcenterArm =
    if (k <= KcenterSerialMaxK) KcSerialArm else KcComposableArm

  /** Gonzalez greedy over a quantized relation (vec_id/qv/qn): K
    * rows (sel, vec_id, farthest_u), seeded at the minimum id.
    * Shared by q217 (whole corpus) and q218 (curation survivors).
    * Three arms:
    *  - K ≤ [[KcenterSerialMaxK]] and at most [[KcenterDriverMaxUnion]]
    *    rows: the exact greedy on the driver over one bounded collect
    *    ([[kcenterSerial]]);
    *  - K ≤ [[KcenterSerialMaxK]] past the driver budget: the exact
    *    greedy as K−1 distributed rounds ([[kcenterRounds]]);
    *  - K past [[KcenterSerialMaxK]]: the O(1)-round composable
    *    oversample ([[kcenterSelectComposable]]).
    * The first two return the same rows bit for bit (KnnGraphSpec).
    */
  private[graft] def kcenterSelect(s: SparkSession, e0: DataFrame,
      k: Int = CoresetK): DataFrame = kcenterArm(k) match {
    case KcSerialArm => kcenterSerial(s, e0, k)
    case KcComposableArm => kcenterSelectComposable(s, e0, k,
      KcenterDispatchParts)
  }

  /** The exact greedy, dispatched on the row count it observes: one
    * collect bounded at `driverMax` + 1 rows; when the relation fits,
    * [[KcGreedy.gonzalez]] runs on the driver (one scan job, where the
    * rounds run 40 at K = 8 on the fixture), otherwise the distributed
    * rounds run; the collect they discard costs about one round's
    * scan. `driverMax` is a test seam for forcing the rounds arm.
    * Both arms return min(K, n) picks.
    */
  private[graft] def kcenterSerial(s: SparkSession, e0: DataFrame,
      k: Int = CoresetK,
      driverMax: Long = KcenterDriverMaxUnion): DataFrame = {
    val cap = math.min(driverMax, Int.MaxValue - 1L).toInt
    val rows = kcRows(e0).limit(cap + 1).collect()
    if (rows.length > cap) kcenterRounds(s, e0, k)
    else driverGreedy(s, rows, k)
  }

  /** A quantized relation decoded straight to driver/executor rows
    * (primitive `Array[Double]` vectors, no boxed Seq).
    */
  private def kcRows(e: DataFrame): Dataset[KcGreedy.KcRow] = {
    val s = e.sparkSession
    import s.implicits._
    e.select(col("vec_id").cast("long").as("vid"), col("qv"),
        col("qn").cast("double")).as[KcGreedy.KcRow]
  }

  /** [[KcGreedy.gonzalez]] on the driver, as the arms' relation. */
  private def driverGreedy(s: SparkSession, rows: Array[KcGreedy.KcRow],
      k: Int): DataFrame =
    picksDf(s, KcGreedy.gonzalez(rows, k)
      .map { case (i, r, u) => (i, r.vid, u) })

  private def picksDf(s: SparkSession,
      picks: Seq[(Int, Long, Long)]): DataFrame = {
    import s.implicits._
    picks.toDF("sel", "vec_id", "farthest_u").orderBy("sel")
  }

  /** The exact greedy above the driver budget: K−1 distributed
    * rounds, each one broadcast-center scan of N rows plus a 1-row
    * argmin (the per-round driver probe every iterative engine
    * performs), with the per-vector `maxu` state localCheckpointed
    * and superseded rounds released — O(N·K) total, nothing
    * quadratic. All integer: µcos scores, GREATEST folds, (maxu,
    * vec_id) tie-breaks, exactly [[KcGreedy.gonzalez]]'s rounds. Stops
    * early when every row is picked, so fewer than K rows give n
    * picks, as on the driver.
    */
  private[graft] def kcenterRounds(s: SparkSession, e0: DataFrame,
      k: Int): DataFrame = {
    val e = graft.Caches.persist(
      e0.select(col("vec_id"), col("qv"), col("qn")))
    def ucosTo(cid: Long): DataFrame =
      e.select(col("vec_id").as("vid"), col("qv").as("xq"),
          col("qn").as("xn"))
        .crossJoin(broadcast(e.filter(col("vec_id") === cid)
          .select(col("qv").as("yq"), col("qn").as("yn"))))
        .select(col("vid"), Bitext.ucosCol.as("u"))
    val c0 = e.agg(min(col("vec_id"))).head
    if (c0.isNullAt(0)) return picksDf(s, Nil)
    var sel = Vector((0, c0.getLong(0), 1000000L))
    var state = ucosTo(sel.head._2).withColumnRenamed("u", "maxu")
      .localCheckpoint()
    var exhausted = false
    while (!exhausted && sel.length < k) {
      val selIds = sel.map(_._2)
      val nxt = state.filter(!col("vid").isin(selIds: _*))
        .orderBy(col("maxu").asc, col("vid").asc).take(1)
      if (nxt.isEmpty) exhausted = true
      else {
        val (cid, du) = (nxt(0).getLong(0), nxt(0).getLong(1))
        sel = sel :+ ((sel.length, cid, du))
        val ns = state.join(ucosTo(cid), "vid")
          .select(col("vid"),
            greatest(col("maxu"), col("u")).as("maxu"))
          .localCheckpoint()
        graft.Caches.releaseLocalCheckpoint(state)
        state = ns
      }
    }
    graft.Caches.releaseLocalCheckpoint(state)
    picksDf(s, sel)
  }

  /** q232 / the production-K arm of [[kcenterSelect]]: COMPOSABLE
    * k-center in two rounds TOTAL, independent of K (the Ene,
    * Im & Moseley KDD'11 MapReduce-clustering shape; scalable
    * k-means‖'s oversample-then-reduce is the same move):
    *
    *  1. LOCAL: each of `parts` residue classes of vec_id runs the
    *     exact Gonzalez greedy over ITS rows only, picking an
    *     oversample of min(2K, |class|) local centers — one
    *     `flatMapGroups` pass, executor-local, no driver round-trips
    *     (residue classes rather than physical partitions so the
    *     result is a pure function of the data, not of Spark's task
    *     placement — the determinism contract every oracle needs);
    *  2. GLOBAL: the ≤ 2K·parts union — codebook-sized, the same
    *     driver-materialization class as a broadcast join's build
    *     side or [[Kmeans.lloydBook]]'s per-round collect — is
    *     reduced by one exact Gonzalez greedy to the final K.
    *
    * ONE Spark job regardless of K (StageClock-receipted in
    * KnnGraphSpec) vs the distributed rounds' 2(K−1); the
    * covering-radius cost of composing is bounded (local picks
    * 2K ≥ K+1 centers, so every final center's class-local covering
    * radius is ≤ its class's (K+1)-center Gonzalez radius; the
    * standard analysis bounds the composed radius within a constant
    * factor of the serial greedy's 2-approximation — spec-pinned at
    * ≤ 2× the exact arm's measured radius on the fixtures). Memory
    * model: a residue class must fit
    * one executor (|class| ≈ N/parts rows — `parts` IS the scale
    * knob, exactly a coreset pass's contract), and the stage-2 union
    * (≤ 2K·parts rows) plus its O(|union|·K) driver greedy must fit
    * the driver's budget [[KcenterDriverMaxUnion]] — at extreme K
    * (2K·parts past that budget) the same two-round recipe COMPOSES
    * RECURSIVELY: one more [[localOversample]] round runs over the
    * union relation itself with just enough residue classes that ITS
    * union fits the budget — the standard MapReduce-clustering
    * escalation, now a coded dispatch (r19 VERDICT ask #4),
    * spec-pinned end-to-end in KnnGraphSpec with the covering-radius
    * bound held. Each escalation level oversamples 2K ≥ K+1 centers
    * per class exactly like the first, so the composed-radius
    * analysis applies per level with a bounded constant; one level
    * always reaches the budget (or parts = 1), so the job count
    * stays O(1): at K=10⁵, parts=10³ the old single collect was
    * 2·10⁸ driver rows — the escalated route reduces it
    * executor-side to ≤ [[KcenterDriverMaxUnion]] first.
    *
    * Output contract matches the exact arms — (sel, vec_id,
    * farthest_u) seeded at the minimum vec_id — with farthest_u
    * measured within the final-stage union (the relation the final
    * greedy actually sees), not the corpus.
    */
  private[graft] def kcenterSelectComposable(s: SparkSession,
      e0: DataFrame, k: Int = CoresetK,
      parts: Int = KcenterParts,
      driverMaxUnion: Long = KcenterDriverMaxUnion): DataFrame = {
    val over = 2 * k
    var rel = localOversample(e0, over, parts)
    var p = parts
    // extreme-K escalation: shrink the union executor-side until the
    // driver materialization fits the budget; p strictly decreases,
    // so the loop terminates at the budget or at p = 1 (past which
    // only the final ≤2K-row collect remains — irreducible, the
    // selection itself is K rows)
    while (over.toLong * p > driverMaxUnion && p > 1) {
      p = math.max(1L, math.min(p - 1L, driverMaxUnion / over)).toInt
      rel = localOversample(rel, over, p)
    }
    driverGreedy(s, kcRows(rel).collect(), k)
  }

  /** ONE local-oversample round: each of `parts` residue classes of
    * vec_id runs the exact Gonzalez greedy over its rows alone and
    * emits min(over, |class|) local centers — a single flatMapGroups
    * pass, executor-local, no driver round-trips. Factored so the
    * composable arm applies it to the CORPUS and, when escalating,
    * to its own output relation — the recursion is literally the
    * same function.
    */
  private def localOversample(e: DataFrame, over: Int,
      parts: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    kcRows(e).groupByKey(_.vid % parts)
      .flatMapGroups { (_, it) =>
        KcGreedy.gonzalez(it.toArray, over).iterator.map(_._2)
      }
      .toDF("vec_id", "qv", "qn")
  }

  /** The k-center rounds as oracle CTE text over quantized relation
    * `rel` (must expose vec_id/qv/qn). Ends with CTEs c0..c{k-1};
    * [[kcenterOracleOut]] is the matching final SELECT.
    */
  private[graft] def kcenterOracleCtes(rel: String,
      k: Int = CoresetK, p: String = ""): String = {
    // MATERIALIZED is load-bearing, not a tuning hint: m{i}/c{i}/cs{i}
    // are each referenced 2-3 times by round i+1 and the final UNION,
    // so un-materialized CTEs inline into a 2^k-expanded plan — DuckDB
    // re-evaluates the whole prior chain per reference and spills the
    // duplicated hash tables (observed: q217 alone exhausted 80 GB of
    // temp at sf0.1; with hints the same query runs in seconds).
    val rounds = (1 until k).map { i =>
      s"""${p}c$i AS MATERIALIZED (
         |  SELECT vid AS id, maxu FROM ${p}m${i - 1}
         |  WHERE vid NOT IN (SELECT id FROM ${p}cs${i - 1})
         |  ORDER BY maxu ASC, vid LIMIT 1),
         |${p}cs$i AS MATERIALIZED (SELECT id FROM ${p}cs${i - 1}
         |         UNION ALL SELECT id FROM ${p}c$i),
         |${p}m$i AS MATERIALIZED (
         |  SELECT m.vid, GREATEST(m.maxu, u.ucos) AS maxu
         |  FROM ${p}m${i - 1} m JOIN (
         |    ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
            s"$rel x CROSS JOIN ${p}c$i JOIN $rel y " +
              s"ON y.vec_id = ${p}c$i.id")}) u
         |  ON u.sx = m.vid)""".stripMargin
    }.mkString(",\n")
    s"""${p}c0 AS MATERIALIZED (SELECT MIN(vec_id) AS id FROM $rel),
       |${p}cs0 AS MATERIALIZED (SELECT id FROM ${p}c0),
       |${p}m0 AS MATERIALIZED (
       |  SELECT sx AS vid, ucos AS maxu FROM (
       |    ${Bitext.oracleUcosSelect("x.vec_id", "y.vec_id",
          s"$rel x CROSS JOIN ${p}c0 JOIN $rel y " +
            s"ON y.vec_id = ${p}c0.id")}) t),
       |$rounds""".stripMargin
  }

  private[graft] def kcenterOracleOut(k: Int = CoresetK,
      p: String = ""): String = {
    val out = (1 until k).map(i =>
      s"SELECT $i AS sel, id AS vec_id, maxu AS farthest_u FROM ${p}c$i")
      .mkString("\nUNION ALL ")
    s"""SELECT sel, vec_id, farthest_u FROM (
       |  SELECT 0 AS sel, id AS vec_id,
       |    CAST(1000000 AS BIGINT) AS farthest_u FROM ${p}c0
       |  UNION ALL $out) t
       |ORDER BY sel""".stripMargin
  }

  /** q217: farthest-point / k-center coreset selection (Gonzalez
    * 1985, the 2-approximation greedy; the coreset construction of
    * Sener & Savarese ICLR'18 and the DIVERSIFICATION half of the D4
    * pipeline after SemDeDup prunes duplicates): iteratively pick
    * the vector FARTHEST from everything selected so far — i.e. with
    * the MINIMUM max-µcos to the current centers — so K rows span the
    * embedding space instead of oversampling its dense core. The
    * selection is inherently sequential (each pick depends on all
    * prior picks); [[kcenterSelect]] runs it on the driver when the
    * corpus fits [[KcenterDriverMaxUnion]] and as distributed rounds
    * past it. All integer: µcos scores, GREATEST folds, (maxu,
    * vec_id) tie-breaks; the oracle unrolls all [[CoresetK]] rounds.
    */
  val q217KcenterCoreset: QueryDef = QueryDef(
    "q217_kcenter_coreset",
    (s, dir) => kcenterSelect(s,
      Bitext.qrel(Similarity.normed(s, dir))),
    Some(s"""${Bitext.oracleQuantCte},
            |${kcenterOracleCtes("n")}
            |${kcenterOracleOut()}""".stripMargin),
    bench = true, lowLatency = true)

  /** q218: the semantic-curation CAPSTONE — the D4 recipe end to end
    * as ONE composed plan (Tirumala et al. 2023: SemDeDup-style
    * dedup, then diversify; plus the kNN-outlier drop a production
    * pass inserts between them): (1) semantic duplicate groups from
    * the mutual-kNN components keep ONE representative per cluster
    * (q214); (2) kNN-distance outliers drop (q215's mean-relative
    * integer cutoff over the full corpus); (3) k-center greedy picks
    * the [[CoresetK]] most diverse survivors (q217). The all-pairs
    * µcos relation is computed ONCE and persisted — the kNN edges for
    * dedup and the top-k scores for the outlier gate both read the
    * same cached scores, the q147/q165 capstone discipline. The
    * oracle composes the same CTE chain (recursive closure + scores +
    * survivor-restricted k-center rounds), so every stage boundary is
    * hash-pinned, not just the final coreset.
    */
  val q218SemanticCuration: QueryDef = QueryDef(
    "q218_semantic_curation",
    (s, dir) => {
      val eAll = graft.Caches.persist(
        Bitext.qrel(Similarity.normed(s, dir)))
      val scored = graft.Caches.persist(
        exactScores(eAll).select(col("sx"), col("ty"), col("ucos")))
      val comp = Dedup.connectedComponents(
        mutualize(directedTopK(scored))
          .select(col("a").as("d1"), col("b").as("d2")))
      val keepers = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"))
        .join(comp.select(col("v").as("vec_id"), col("lbl")),
          Seq("vec_id"), "left")
        .filter(col("lbl").isNull || col("lbl") === col("vec_id"))
        .select(col("vec_id"))
      val sc = directedTopK(scored, GraphK)
        .groupBy(col("sx").as("vec_id"))
        .agg(sum(col("ucos")).as("su"))
        .select(col("vec_id"), expr(s"su div $GraphK").as("knn_u"))
      val mu = broadcast(sc.agg(
        expr("sum(knn_u) div count(1)").as("mu")))
      val inliers = sc.crossJoin(mu)
        .filter(expr(s"$OutlierDen * knn_u >= $OutlierNum * mu"))
        .select(col("vec_id"))
      val surv = keepers.join(inliers, "vec_id")
      kcenterSelect(s, eAll.join(surv, "vec_id"))
    },
    Some {
      val base =
        s"""${oracleMutualCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |und AS (SELECT a AS v, b AS u FROM mutual
           |        UNION SELECT b, a FROM mutual),
           |reach(v, u) AS (
           |  SELECT v, u FROM und
           |  UNION
           |  SELECT r.v, e2.u FROM reach r JOIN und e2 ON r.u = e2.v),
           |lab AS (SELECT v, least(v, MIN(u)) AS cluster
           |        FROM reach GROUP BY v),
           |keepers AS (
           |  SELECT em.vec_id FROM embeddings em
           |  LEFT JOIN lab ON em.vec_id = lab.v
           |  WHERE lab.v IS NULL OR lab.cluster = em.vec_id),
           |sc AS (
           |  SELECT sx AS vec_id,
           |    CAST(SUM(ucos) // $GraphK AS BIGINT) AS knn_u
           |  FROM knn GROUP BY sx),
           |mm AS (SELECT SUM(knn_u) // COUNT(*) AS mu FROM sc),
           |inl AS (SELECT sc.vec_id FROM sc CROSS JOIN mm
           |        WHERE $OutlierDen * knn_u >= $OutlierNum * mu),
           |surv AS (SELECT k.vec_id FROM keepers k
           |         JOIN inl ON k.vec_id = inl.vec_id),
           |ns AS (SELECT n.vec_id, n.qv, n.qn FROM n
           |       JOIN surv ON n.vec_id = surv.vec_id),
           |${kcenterOracleCtes("ns")}
           |${kcenterOracleOut()}""".stripMargin
      // MATERIALIZED hints (execution-only, DuckDB re-inlines CTEs by
      // default): the k-center rounds reference `ns` 16 times and the
      // score CTEs fan out similarly — inlined, every reference
      // re-opens the parquet scan, which both blows the fd limit and
      // recomputes the N² pair relation per round
      base.replace("q AS (SELECT", "q AS MATERIALIZED (SELECT")
        .replace("n AS (SELECT vec_id, v, qv,",
          "n AS MATERIALIZED (SELECT vec_id, v, qv,")
        .replace("ns AS (SELECT n.vec_id, n.qv, n.qn",
          "ns AS MATERIALIZED (SELECT n.vec_id, n.qv, n.qn")
        .replace("knn AS (", "knn AS MATERIALIZED (")
        .replace("p AS (", "p AS MATERIALIZED (")
    })

  /** q232: the COMPOSABLE k-center arm exercised end-to-end at
    * fixture scale (the dispatcher routes production K here — q217
    * pins the exact arm, this pins the bounded-round one, the same
    * both-arms-at-the-boundary discipline as the Kmeans dispatch).
    * The oracle unrolls all three greedy chains — one 2K-round
    * Gonzalez per residue class, then the K-round reduction over the
    * union of local picks — so every local pick AND the final
    * selection are hash-pinned, not just the output rows.
    */
  val q232KcenterComposable: QueryDef = QueryDef(
    "q232_kcenter_composable",
    (s, dir) => kcenterSelectComposable(s,
      Bitext.qrel(Similarity.normed(s, dir)), CoresetK, KcenterParts),
    Some {
      val over = 2 * CoresetK
      val groups = (0 until KcenterParts).map { g =>
        s"""g$g AS MATERIALIZED (SELECT vec_id, qv, qn FROM n
           |  WHERE vec_id % $KcenterParts = $g)""".stripMargin
      }.mkString(",\n")
      val locals = (0 until KcenterParts).map(g =>
        kcenterOracleCtes(s"g$g", over, s"p${g}_")).mkString(",\n")
      val unionIds = (0 until KcenterParts).map(g =>
        s"SELECT id FROM p${g}_cs${over - 1}").mkString("\n  UNION ALL ")
      s"""${Bitext.oracleQuantCte},
         |$groups,
         |$locals,
         |un AS MATERIALIZED (
         |  SELECT n.vec_id, n.qv, n.qn FROM n
         |  JOIN ($unionIds) s ON n.vec_id = s.id),
         |${kcenterOracleCtes("un", CoresetK, "f")}
         |${kcenterOracleOut(CoresetK, "f")}""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(q210KnnGraph, q210bKnnGraphProbed,
    q213NnDescent, q214SemanticClusters, q215KnnOutliers,
    q216GraphAnnBeam, q217KcenterCoreset, q218SemanticCuration,
    q232KcenterComposable)
}
