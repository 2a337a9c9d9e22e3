package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-plan k-means training (Lloyd 1982) over the embeddings table —
  * the TRAIN half of the IVF/PQ story the catalog until now sourced
  * from offline fixture tools ([[graft.tools.TrainCentroids]]): the
  * coarse quantizer q45/q72/q139 serve from has to come from
  * somewhere, and at 100 TB that training run is itself a distributed
  * job. This is the Spark-iterative-ML shape (MLlib's KMeans does
  * exactly this): per round, ONE in-row assignment pass against the
  * broadcast K-centroid codebook (no corpus×K join — the q139
  * discipline) and ONE keyed aggregation whose partial-combined
  * output is K·dim rows collected to the driver, which folds them
  * into the next round's codebook. Per-round cost O(N·K·dim) map-side
  * work + a K·dim-row exchange; the corpus never shuffles.
  *
  * Engine-exact integer spelling (the q210/q211 µcos contract —
  * ADVICE r16 on raw-float centroid ranking): vectors are µ-quantized
  * once; assignment maximizes µcos = floor(dot/(‖q‖·‖c‖)·10⁶ + 0.5)
  * with ties to the smaller centroid id (every fold is an exact
  * integer sum, both sqrt/division trees identical on both engines);
  * the centroid update is floor(Σqvᵢ / count) per component — exact
  * integer sums, one correctly-rounded division, one floor — so
  * round-r centroids are integer-valued and IDENTICAL in Spark and
  * the oracle's unrolled CTE chain, and the final ledger
  * (members / µcos mass / centroid checksum per cluster) hash-matches.
  *
  * Init is deterministic with no ordered pass: seed b = the minimum
  * vec_id in residue class vec_id mod K (a keyed agg, not a global
  * rank — the GlobalWindowAuditSpec class). Empty clusters drop out
  * of the update agg on both engines identically (k-means--).
  */
object Kmeans {

  /** Cluster count (the fixture quantizers use 16 on 500 vectors;
    * 8 keeps every cluster organically populated at sf0.001).
    */
  val K = 8

  /** Assignment rounds; updates happen between them (3 assignments,
    * 2 centroid updates — enough for measurable movement while the
    * oracle's unrolled CTE chain stays readable).
    */
  val Rounds = 3

  /** Embedding dimensionality (all testdata SFs emit 64). */
  val Dim = 64

  private[graft] case class Cent(cid: Long, cv: Array[Double], cn: Double)

  /** µ-quantized relation: vec_id, qv (integer-valued doubles), qn. */
  private[graft] def qrel(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorOps.quantizeMicro(
          col("embedding").cast("array<double>")).as("qv"))
      .withColumn("qn", graft.functions.VectorOps.l2norm(col("qv")))
  }

  /** `[cid, cn, cv…]` per entry, cid-ascending — the
    * [[graft.plans.CentroidMuAssignBcast]] layout (ids ride IN the
    * table: Lloyd's update drops empty clusters, so cids can be sparse).
    */
  private def packCents(cents: Seq[Cent]): Array[Double] =
    cents.sortBy(_.cid)
      .flatMap(c => c.cid.toDouble +: c.cn +: c.cv.toSeq).toArray

  /** One broadcast-codebook µcos argmax per row. The packed codebook
    * rides the block manager, not the task binary. Each training round
    * broadcasts its fresh codebook; superseded handles are reclaimed by
    * Spark's ContextCleaner once the round's plan is unreachable (the
    * same lifecycle as MLlib's per-iteration model broadcasts).
    */
  private[graft] def withAssignment(n: DataFrame, cents: Seq[Cent]): DataFrame = {
    require(cents.nonEmpty,
      "withAssignment: empty centroid set — nothing to assign against")
    import org.apache.spark.sql.GraftShims
    val best = GraftShims.column(graft.plans.CentroidMuAssignBcast(
      GraftShims.expression(col("qv")), GraftShims.expression(col("qn")),
      graft.plans.FrozenTable.ofDoubles(n.sparkSession, packCents(cents),
        cents.size)))
    n.withColumn("best", best)
      .withColumn("cid", col("best.cid"))
      .withColumn("ucos", col("best.u"))
  }

  private def centOf(cid: Long, cv: Array[Double]): Cent =
    Cent(cid, cv, math.sqrt(cv.map(x => x * x).sum))

  /** Deterministic seeds: qv of the minimum vec_id per residue class. */
  private[graft] def initCents(n: DataFrame, k: Int = K): Seq[Cent] =
    n.withColumn("res", col("vec_id") % k)
      .groupBy(col("res")).agg(min(col("vec_id")).as("sv"))
      .join(n, col("sv") === col("vec_id"))
      .select(col("res"), col("qv"))
      .collect()
      .map(r => centOf(r.getLong(0),
        r.getSeq[Double](1).toArray))
      .sortBy(_.cid)

  /** One Lloyd update: component sums via posexplode + the K·Dim-group
    * keyed agg (map-side combined — each task emits ≤ K·Dim rows), the
    * floor-mean fold on the driver.
    */
  private[graft] def updated(asn: DataFrame): Seq[Cent] =
    asn.select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (cid, rows) =>
        val cv = new Array[Double](Dim)
        rows.foreach(r => cv(r.getInt(1)) =
          math.floor(r.getDouble(2) / r.getLong(3)))
        centOf(cid, cv)
      }
      .toSeq.sortBy(_.cid)

  /** Production arm: Lloyd to the exact fixed point — stop when an
    * update leaves every centroid component IDENTICAL (centroids are
    * integer-valued after the floor-mean, so the comparison is exact,
    * not an ε; the same state-revisit discipline as
    * [[Graph.ranksToConvergence]]). Assignments are a deterministic
    * function of centroids, so centroids(r+1) == centroids(r) implies
    * every later round repeats — a true fixed point. The
    * integer-floored mean cannot 2-cycle in practice on organic data,
    * but the revisit SET guards the theoretical cycle the same way
    * q208's bipartite period-2 case is handled: any previously-seen
    * codebook terminates.
    *
    * Returns (final centroids, rounds run). Each round is one
    * assignment pass + one K·dim-row agg collect; driver state is the
    * codebook plus its seen-set hashes.
    */
  private[graft] def trainToConvergence(n: DataFrame,
      maxRounds: Int = 64): (Seq[Cent], Int) = {
    def key(cs: Seq[Cent]): Seq[(Long, Seq[Double])] =
      cs.map(c => c.cid -> c.cv.toSeq)
    var cents = initCents(n)
    val seen = scala.collection.mutable.Set(key(cents))
    var rounds = 0
    var fixed = false
    while (!fixed && rounds < maxRounds) {
      val next = updated(withAssignment(n, cents))
      rounds += 1
      fixed = !seen.add(key(next))
      cents = next
    }
    (cents, rounds)
  }

  def train(s: SparkSession, dir: String): DataFrame = {
    val n = graft.Caches.persist(qrel(s, dir))
    var cents = initCents(n)
    for (_ <- 1 until Rounds)
      cents = updated(withAssignment(n, cents))
    val csums = cents.map(c => c.cid -> c.cv.map(_.toLong).sum).toMap
    withAssignment(n, cents)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("members"), sum(col("ucos")).as("ucos_sum"))
      .withColumn("csum",
        element_at(typedLit(csums), col("cid")))
      .select(col("cid"), col("members"), col("ucos_sum"), col("csum"))
      .orderBy("cid")
  }

  private def assignSql(a: String, cPrev: String): String =
    s"""$a AS (
       |  SELECT vec_id, cid, ucos FROM (
       |    SELECT vec_id, cid, ucos, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY ucos DESC, cid) AS rk
       |    FROM (
       |      SELECT n.vec_id, c.cid,
       |        floor(list_inner_product(n.qv, c.cv) /
       |          (n.qn * sqrt(list_inner_product(c.cv, c.cv)))
       |          * 1000000.0 + 0.5) AS ucos
       |      FROM n CROSS JOIN $cPrev c) s1) s2
       |  WHERE rk = 1)""".stripMargin

  private def updateSql(c: String, a: String): String =
    s"""$c AS (
       |  SELECT cid, list(flo ORDER BY pos) AS cv FROM (
       |    SELECT a.cid, p.pos, floor(SUM(n.qv[p.pos]) / COUNT(*)) AS flo
       |    FROM $a a JOIN n USING (vec_id) CROSS JOIN p
       |    GROUP BY a.cid, p.pos) s
       |  GROUP BY cid)""".stripMargin

  val q221KmeansTrain: QueryDef = QueryDef(
    "q221_kmeans_train",
    (s, dir) => train(s, dir),
    Some {
      val rounds = (1 until Rounds).map(r =>
        assignSql(s"a$r", s"c${r - 1}") + ",\n" +
          updateSql(s"c$r", s"a$r")).mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id,
         |    list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv
         |  FROM e),
         |n AS (SELECT vec_id, qv,
         |    sqrt(list_inner_product(qv, qv)) AS qn FROM q),
         |p AS (SELECT unnest(range(1, ${Dim + 1})) AS pos),
         |i AS (SELECT vec_id % $K AS cid, MIN(vec_id) AS sv
         |      FROM n GROUP BY 1),
         |c0 AS (SELECT i.cid, n.qv AS cv
         |       FROM i JOIN n ON n.vec_id = i.sv),
         |$rounds,
         |${assignSql(s"a$Rounds", s"c${Rounds - 1}")},
         |cs AS (SELECT cid, CAST(list_sum(cv) AS BIGINT) AS csum
         |       FROM c${Rounds - 1})
         |SELECT a.cid, COUNT(*) AS members,
         |  CAST(SUM(CAST(a.ucos AS BIGINT)) AS BIGINT) AS ucos_sum,
         |  cs.csum
         |FROM a$Rounds a JOIN cs USING (cid)
         |GROUP BY a.cid, cs.csum
         |ORDER BY a.cid""".stripMargin
    })

  // ---------------------------------------------------------------
  // PQ codebook training (q223) — the product-quantization half of
  // the train story (Jégou et al. TPAMI'11): split each vector into
  // SubSpaces contiguous subvectors and run an INDEPENDENT k-means
  // per subspace. Distances are squared-L2 over µ-ints — every fold
  // is exact BIGINT (no sqrt, no division at all in assignment), so
  // the unrolled oracle is integer-identical with zero rounding
  // windows. The Spark loop is q221's topology with (sub, cid) keys:
  // the exploded subvector relation is 4× the corpus rows but the
  // exchange after partial agg stays ≤ SubSpaces·K·SubDim rows per
  // task, and the driver state is the whole codebook (tiny).
  // ---------------------------------------------------------------

  /** Subspace geometry: 64 dims → 4 blocks of 16. */
  val SubSpaces = 4
  val SubDim = 16

  /** Centroids per subspace (a real PQ uses 256; 4 keeps the oracle's
    * unrolled CTE chain tractable while exercising the identical
    * shape).
    */
  val PqK = 4

  /** PQ Lloyd rounds (assignments; updates between). */
  val PqRounds = 3

  private[graft] case class SubCent(sub: Int, cid: Long,
      cv: Array[Double])

  /** Exploded (vec_id, sub, sv) subvector relation over an arbitrary
    * (vec_id, qv) input and geometry — the generalized form q225's
    * coarse (1×64) and residual-PQ (4×16) stages both reuse.
    */
  private[graft] def subrelOf(n: DataFrame, subSpaces: Int,
      subDim: Int): DataFrame = {
    val subs = (0 until subSpaces).map(b =>
      struct(lit(b).as("sub"),
        slice(col("qv"), b * subDim + 1, subDim).as("sv")))
    n.select(col("vec_id"), explode(array(subs: _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
  }

  /** Exploded (vec_id, sub, sv) subvector relation (q223 geometry). */
  private[graft] def subrel(s: SparkSession, dir: String): DataFrame =
    subrelOf(qrel(s, dir), SubSpaces, SubDim)

  /** `[sub, cid, cv…]` per entry, (sub, cid)-ascending — the
    * [[graft.plans.SubL2ArgminBcast]] layout (explicit ids for the same
    * empty-cluster-drop reason as [[packCents]]).
    */
  private def packBook(book: Seq[SubCent]): Array[Double] =
    book.sortBy(c => (c.sub, c.cid))
      .flatMap(c => c.sub.toDouble +: c.cid.toDouble +: c.cv.toSeq).toArray

  /** One broadcast-codebook squared-L2 argmin per (vector, subspace)
    * row — see [[withAssignment]] for the broadcast lifecycle.
    */
  private[graft] def withPqAssignment(sv: DataFrame,
      book: Seq[SubCent]): DataFrame = {
    // an all-empty book is detectable HERE, at plan construction; the
    // kernel's per-row failure is for per-SUBSPACE gaps, not a missing
    // book
    require(book.nonEmpty,
      "withPqAssignment: empty codebook — nothing to assign against")
    import org.apache.spark.sql.GraftShims
    val best = GraftShims.column(graft.plans.SubL2ArgminBcast(
      GraftShims.expression(col("sv")), GraftShims.expression(col("sub")),
      graft.plans.FrozenTable.ofDoubles(sv.sparkSession, packBook(book),
        book.size)))
    sv.withColumn("best", best)
      .withColumn("cid", col("best.cid"))
      .withColumn("dist", col("best.d"))
  }

  /** Deterministic seeds per subspace: subvector of the minimum
    * vec_id in residue class vec_id mod k.
    */
  private[graft] def initBook(sv: DataFrame,
      k: Int = PqK): Seq[SubCent] =
    sv.withColumn("res", col("vec_id") % k)
      .groupBy(col("sub"), col("res"))
      .agg(min(col("vec_id")).as("svid"))
      .join(sv.select(col("vec_id"), col("sub").as("s2"), col("sv")),
        col("svid") === col("vec_id") && col("sub") === col("s2"))
      .select(col("sub"), col("res"), col("sv"))
      .collect()
      .map(r => SubCent(r.getInt(0), r.getLong(1),
        r.getSeq[Double](2).toArray))
      .sortBy(c => (c.sub, c.cid))

  private[graft] def updatedBook(asn: DataFrame,
      subDim: Int = SubDim): Seq[SubCent] =
    asn.select(col("sub"), col("cid"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getLong(1)))
      .map { case ((sub, cid), rows) =>
        val cv = new Array[Double](subDim)
        rows.foreach(r => cv(r.getInt(2)) =
          math.floor(r.getDouble(3) / r.getLong(4)))
        SubCent(sub, cid, cv)
      }
      .toSeq.sortBy(c => (c.sub, c.cid))

  /** The generalized Lloyd loop over an exploded subvector relation:
    * `rounds` assignments with floor-mean updates between — q223's
    * engine, also the coarse (1-subspace) and residual-PQ stages of
    * the q225 pipeline.
    */
  private[graft] def lloydBook(sv: DataFrame, k: Int, rounds: Int,
      subDim: Int): Seq[SubCent] = {
    var book = initBook(sv, k)
    for (_ <- 1 until rounds)
      book = updatedBook(withPqAssignment(sv, book), subDim)
    book
  }

  def trainPq(s: SparkSession, dir: String): DataFrame = {
    val sv = graft.Caches.persist(subrel(s, dir))
    val book = lloydBook(sv, PqK, PqRounds, SubDim)
    val csums = book.map(c =>
      (c.sub.toLong * PqK + c.cid) -> c.cv.map(_.toLong).sum).toMap
    withPqAssignment(sv, book)
      .groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("members"), sum(col("dist")).as("dist_sum"))
      .withColumn("csum", element_at(typedLit(csums),
        col("sub").cast("long") * PqK + col("cid")))
      .select(col("sub").cast("long").as("sub"), col("cid"),
        col("members"), col("dist_sum"), col("csum"))
      .orderBy("sub", "cid")
  }

  private[graft] def pqAssignSql(a: String, cPrev: String,
      rel: String = "sv"): String =
    s"""$a AS MATERIALIZED (
       |  SELECT vec_id, sub, cid, dist FROM (
       |    SELECT vec_id, sub, cid, dist, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
       |    FROM (
       |      SELECT v.vec_id, v.sub, c.cid,
       |        CAST(list_inner_product(v.sv, v.sv)
       |          - 2.0 * list_inner_product(v.sv, c.cv)
       |          + list_inner_product(c.cv, c.cv) AS BIGINT) AS dist
       |      FROM $rel v JOIN $cPrev c ON v.sub = c.sub) s1) s2
       |  WHERE rk = 1)""".stripMargin

  private[graft] def pqUpdateSql(c: String, a: String,
      rel: String = "sv", pos: String = "p"): String =
    s"""$c AS MATERIALIZED (
       |  SELECT sub, cid, list(flo ORDER BY pos) AS cv FROM (
       |    SELECT a.sub, a.cid, $pos.pos,
       |      floor(SUM(v.sv[$pos.pos]) / COUNT(*)) AS flo
       |    FROM $a a JOIN $rel v ON a.vec_id = v.vec_id AND a.sub = v.sub
       |    CROSS JOIN $pos GROUP BY a.sub, a.cid, $pos.pos) s
       |  GROUP BY sub, cid)""".stripMargin

  /** Subvector-split SELECT over a (vec_id, qv) CTE — the oracle twin
    * of [[subrelOf]].
    */
  private[graft] def subSelSql(rel: String, subSpaces: Int,
      subDim: Int): String =
    (0 until subSpaces).map(b =>
      s"SELECT vec_id, $b AS sub, " +
        s"qv[${b * subDim + 1}:${(b + 1) * subDim}] AS sv FROM $rel")
      .mkString("\n  UNION ALL\n  ")

  /** Whole unrolled Lloyd chain as CTE text: seeds from `rel` (an
    * exploded (vec_id, sub, sv) relation CTE), `rounds` assignments
    * with updates between, prefix-namespaced so two chains compose in
    * one WITH (q225 trains coarse AND PQ). Ends with `<px>a{rounds}`
    * (final assignment) and `<px>c{rounds-1}` (final book).
    */
  private[graft] def lloydChainSql(px: String, rel: String,
      pos: String, k: Int, rounds: Int): String = {
    val steps = (1 until rounds).map(r =>
      pqAssignSql(s"${px}a$r", s"${px}c${r - 1}", rel) + ",\n" +
        pqUpdateSql(s"${px}c$r", s"${px}a$r", rel, pos))
    // rounds = 1 is the seeds-only book (one assignment, no update —
    // q231's stale-quantizer arm): steps is then EMPTY and must not
    // leave a dangling comma in the WITH chain
    val blocks = Seq(
      s"""${px}i AS MATERIALIZED (SELECT sub, vec_id % $k AS cid, MIN(vec_id) AS svid
         |      FROM $rel GROUP BY 1, 2)""".stripMargin,
      s"""${px}c0 AS MATERIALIZED (SELECT i.sub, i.cid, v.sv AS cv
         |       FROM ${px}i i JOIN $rel v
         |         ON v.vec_id = i.svid AND v.sub = i.sub)""".stripMargin
    ) ++ steps ++ Seq(
      pqAssignSql(s"${px}a$rounds", s"${px}c${rounds - 1}", rel))
    blocks.mkString(",\n")
  }

  val q223PqTrain: QueryDef = QueryDef(
    "q223_pq_train",
    (s, dir) => trainPq(s, dir),
    Some {
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id,
         |    list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv
         |  FROM e),
         |sv AS (
         |  ${subSelSql("q", SubSpaces, SubDim)}),
         |p AS (SELECT unnest(range(1, ${SubDim + 1})) AS pos),
         |${lloydChainSql("", "sv", "p", PqK, PqRounds)},
         |cs AS (SELECT sub, cid, CAST(list_sum(cv) AS BIGINT) AS csum
         |       FROM c${PqRounds - 1})
         |SELECT CAST(a.sub AS BIGINT) AS sub, a.cid,
         |  COUNT(*) AS members,
         |  CAST(SUM(a.dist) AS BIGINT) AS dist_sum,
         |  cs.csum
         |FROM a$PqRounds a JOIN cs ON a.sub = cs.sub AND a.cid = cs.cid
         |GROUP BY a.sub, a.cid, cs.csum
         |ORDER BY sub, a.cid""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(q221KmeansTrain, q223PqTrain)
}
