package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The ANN index-build capstone (q225): train the WHOLE IVF-PQ index
  * in-plan — coarse quantizer, residual PQ codebook, codes — then
  * serve ADC queries from it, all in one composed query with no
  * fixture dependency (q72 serves the same composition from
  * offline-trained parquet; this is the build job that produces such
  * an index at 100 TB, done as the q147/q165 capstone discipline).
  * q228 adds the MAINTENANCE half: a one-sided delta append that
  * assigns ONLY a newly-ingested batch to the frozen index — the
  * q74/q127 base×delta discipline applied to the index artifact
  * (VERDICT r17 "What's missing" #2: at 100 TB you rebuild nothing
  * daily; reference analog `checkpoint.go:16-35` — work is never
  * redone).
  *
  * Stages (Jégou et al. TPAMI'11, the FAISS IVFPQ recipe):
  *  1. coarse k-means on the corpus (K=[[CoarseK]], integer
  *     squared-L2 — [[Kmeans.lloydBook]] with one 64-dim "subspace");
  *  2. residuals r = qv − coarse_centroid(assignment), an exact
  *     integer subtraction in-row against the broadcast-literal book;
  *  3. PQ codebook on the residual subvectors ([[Kmeans.SubSpaces]]×
  *     [[Kmeans.SubDim]], K=[[PqCodeK]]) — the standard residual
  *     encoding the raw-vector PQ (q223) feeds into production;
  *  4. encode: per (vector, subspace) the argmin codeword id;
  *  5. serve: each query probes its [[NProbe]] nearest coarse lists,
  *     builds the per-list residual LUT (an exact-BIGINT table of
  *     sub×code distances), and ADC-ranks ONLY the probed lists'
  *     candidates by Σ_sub lut[code] — top-[[TopK]] per query.
  *
  * Everything is exact integer arithmetic over µ-quantized components
  * (q223's no-sqrt-no-division class), so the entire pipeline — every
  * training round, the codes, and the served ranking — hash-matches
  * the oracle's composed CTE chain. Scale posture: training is the
  * q221/q223 corpus-never-shuffles loop; the LUT relation is
  * queries×NProbe×(SubSpaces·K) rows (broadcastable at any corpus
  * size); candidates ride ONE cid-keyed join; ADC is a keyed agg.
  */
object IvfPqPipeline {

  /** Query workload: vec_id < NumQ query the index of the rest. */
  val NumQ = 16L

  /** Coarse quantizer size / Lloyd rounds. */
  val CoarseK = 8
  val CoarseRounds = 3

  /** Residual-PQ codewords per subspace / rounds (geometry =
    * [[Kmeans.SubSpaces]] × [[Kmeans.SubDim]]).
    */
  val PqCodeK = 4
  val PqRounds = 3

  /** Probed inverted lists per query; served neighbors per query. */
  val NProbe = 2
  val TopK = 5

  /** q228 delta membership: vec_id ≡ DeltaMod−1 (mod DeltaMod) plays
    * the newly-ingested batch (~1/DeltaMod of the corpus) — a pure
    * identity predicate, so the base/delta split is scale-invariant
    * and identical on both engines.
    */
  val DeltaMod = 5L

  private def isDelta: Column =
    col("vec_id") % DeltaMod === DeltaMod - 1

  /** Integer squared-L2 of a subvector column against a literal. */
  private def l2(svc: Column, cv: Array[Double]): Column =
    (graft.functions.VectorOps.dot(svc, svc) -
      lit(2.0) * graft.functions.VectorOps.dot(svc, typedLit(cv.toSeq)) +
      lit(cv.map(x => x * x).sum)).cast("long")

  /** In-row residual against the centroid selected by `cidCol`:
    * CASE chain over the broadcast-literal book, exact integer
    * component subtraction.
    */
  private def residCol(book: Seq[Kmeans.SubCent], cidCol: Column,
      vCol: Column): Column =
    book.sortBy(_.cid).foldRight(lit(null).cast("array<double>")) {
      (c, acc) =>
        when(cidCol === c.cid,
          zip_with(vCol, typedLit(c.cv.toSeq), (x, y) => x - y))
          .otherwise(acc)
    }

  /** (vec_id, lcid, qv) residuals of a 1×Dim subrel slice under a
    * frozen coarse book — assignment + in-row subtraction, no
    * corpus×K join.
    */
  private[graft] def residualsOf(csv: DataFrame,
      coarse: Seq[Kmeans.SubCent]): DataFrame =
    Kmeans.withPqAssignment(csv, coarse)
      .select(col("vec_id"), col("cid").as("lcid"),
        residCol(coarse, col("cid"), col("sv")).as("qv"))

  /** (vec_id, sub, code, lcid) PQ codes from an exploded residual
    * subvector relation + its residual relation, under a frozen book.
    */
  private[graft] def encodeFromSubrel(rsv: DataFrame, resid: DataFrame,
      book: Seq[Kmeans.SubCent]): DataFrame =
    Kmeans.withPqAssignment(rsv, book)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
      .join(resid.select(col("vec_id"), col("lcid")), "vec_id")

  /** Serve stage: probes → per-(query, list) residual LUT → ADC over
    * ONE cid-keyed candidate join → per-query top-k.
    */
  private[graft] def serve(queries: DataFrame, codes: DataFrame,
      coarse: Seq[Kmeans.SubCent],
      book: Seq[Kmeans.SubCent]): DataFrame = {
    val probeArr = array_sort(array(coarse.sortBy(_.cid).map { c =>
      struct(l2(col("qv"), c.cv).as("d"), lit(c.cid).as("cid"))
    }: _*))
    val probes = queries
      .withColumn("pc", slice(probeArr, 1, NProbe))
      .select(col("vec_id").as("qid"), col("qv"),
        explode(col("pc")).as("p"))
      .select(col("qid"), col("qv"), col("p.cid").as("pcid"))
      .withColumn("rq", residCol(coarse, col("pcid"), col("qv")))
    val lutEntries = array(book.sortBy(c => (c.sub, c.cid)).map { c =>
      struct(lit(c.sub).as("sub"), lit(c.cid).as("code"),
        l2(slice(col("rq"), c.sub * Kmeans.SubDim + 1, Kmeans.SubDim),
          c.cv).as("lutv"))
    }: _*)
    val luts = probes.select(col("qid"), col("pcid"),
      explode(lutEntries).as("e"))
      .select(col("qid"), col("pcid"), col("e.sub").as("sub"),
        col("e.code").as("code"), col("e.lutv").as("lutv"))
    // candidates = probed lists' codes; ADC = Σ_sub lut[code].
    // The LUT relation is PERSISTED (r21-opt, the r20 leave-behind #4):
    // it is a pure function of (query batch, coarse book, PQ book) —
    // queries × NProbe × (SubSpaces·K) rows — and every warm serve was
    // re-deriving the probe explode + per-sub residual distances from
    // the query scan before re-broadcasting. A served deployment pins
    // the LUTs per query batch alongside the resident code relation;
    // Caches registration keeps the unprepared/cold columns honest
    // (they drop and re-derive it inside the timed window), exactly
    // like every other resident index relation.
    val adc = broadcast(graft.Caches.persist(luts))
      .join(codes, col("pcid") === col("lcid") &&
        luts("sub") === codes("sub") && luts("code") === codes("code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("lutv")).as("approx"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx"), col("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        col("approx"))
      .orderBy("qid", "rnk")
  }

  /** Stages 1–4 over the WHOLE corpus — the full-index twin of
    * [[buildBaseIndex]] (q225's build; q233's delete path freezes
    * these books while tombstoning rows).
    */
  private[graft] def buildFullIndex(n: DataFrame): BaseIndex = {
    val corpus = n.filter(col("vec_id") >= NumQ)
    // 1. coarse book on the corpus (one 64-dim "subspace")
    val csv = graft.Caches.persist(Kmeans.subrelOf(corpus, 1, Kmeans.Dim))
    val coarse = Kmeans.lloydBook(csv, CoarseK, CoarseRounds, Kmeans.Dim)
    // 2. corpus assignment + residuals (in-row, no corpus×K join)
    val resid = graft.Caches.persist(residualsOf(csv, coarse))
    // 3. PQ codebook on residual subvectors
    val rsv = graft.Caches.persist(
      Kmeans.subrelOf(resid, Kmeans.SubSpaces, Kmeans.SubDim))
    val book = Kmeans.lloydBook(rsv, PqCodeK, PqRounds, Kmeans.SubDim)
    // 4. codes, carried with the list assignment — PERSISTED (r20-opt):
    // the codes relation IS the index (what q174/q177 write to a
    // layout); every serve re-derived the encode join from the cached
    // training relations instead of reading the resident artifact.
    // Unprepared/cold builds still pay the full encode (Caches
    // registration), exactly like every other index relation.
    BaseIndex(coarse, book,
      graft.Caches.persist(encodeFromSubrel(rsv, resid, book)))
  }

  def pipeline(s: SparkSession, dir: String): DataFrame = {
    val n = graft.Caches.persist(Kmeans.qrel(s, dir)
      .select(col("vec_id"), col("qv")))
    val queries = n.filter(col("vec_id") < NumQ)
    val idx = buildFullIndex(n)
    // 5. serve from the built index
    serve(queries, idx.codesBase, idx.coarse, idx.book)
  }

  /** q228: build the index on the BASE slice only, then append the
    * delta batch ONE-SIDED — the delta alone flows through coarse
    * assignment, residual, and PQ encode against the FROZEN books and
    * unions into the served artifact; no base row is re-encoded. The
    * spec pins (a) served-equivalence to a same-books full re-encode
    * and (b) a StageClock receipt that the append's shuffle volume
    * scales with the delta, not the corpus.
    */
  /** The frozen index artifact of the base slice: base-trained books
    * + base codes — shared by the batch (q228) and streaming (q229)
    * append paths.
    */
  private[graft] final case class BaseIndex(
      coarse: Seq[Kmeans.SubCent], book: Seq[Kmeans.SubCent],
      codesBase: DataFrame)

  private[graft] def buildBaseIndex(n: DataFrame): BaseIndex = {
    val base = n.filter(col("vec_id") >= NumQ && !isDelta)
    val bsv = graft.Caches.persist(Kmeans.subrelOf(base, 1, Kmeans.Dim))
    val coarse = Kmeans.lloydBook(bsv, CoarseK, CoarseRounds, Kmeans.Dim)
    val residB = graft.Caches.persist(residualsOf(bsv, coarse))
    val rsvB = graft.Caches.persist(
      Kmeans.subrelOf(residB, Kmeans.SubSpaces, Kmeans.SubDim))
    val book = Kmeans.lloydBook(rsvB, PqCodeK, PqRounds, Kmeans.SubDim)
    // codes persisted — the resident index artifact (see buildFullIndex)
    BaseIndex(coarse, book,
      graft.Caches.persist(encodeFromSubrel(rsvB, residB, book)))
  }

  def appendServe(s: SparkSession, dir: String): DataFrame = {
    val n = graft.Caches.persist(Kmeans.qrel(s, dir)
      .select(col("vec_id"), col("qv")))
    val queries = n.filter(col("vec_id") < NumQ)
    val delta = n.filter(col("vec_id") >= NumQ && isDelta)
    val idx = buildBaseIndex(n)

    // the one-sided append: ONLY delta rows are assigned and encoded
    val codesDelta = appendCodes(delta, idx.coarse, idx.book)

    serve(queries, idx.codesBase.unionByName(codesDelta), idx.coarse,
      idx.book)
  }

  /** q229: q228's append with the delta arriving as a STREAM — the
    * continuous-ingest form of index maintenance (a crawl emits new
    * embeddings all day; the index absorbs them without a rebuild).
    * [[appendCodes]] is a stateless per-row map (in-row assign →
    * residual → explode → argmin, zero joins, zero aggregation
    * state), so it runs UNCHANGED as a Structured Streaming append
    * query: any micro-batch split of the delta produces the identical
    * code set, the streamed codes union into the frozen artifact, and
    * the served output — and therefore q228's oracle — applies
    * verbatim (the q224 order-free-state discipline, here with NO
    * state at all). AnnPipelineSpec additionally drives a 5-batch
    * MemoryStream split to pin batch-boundary invariance.
    */
  def streamAppendServe(s: SparkSession, dir: String): DataFrame = {
    val n = graft.Caches.persist(Kmeans.qrel(s, dir)
      .select(col("vec_id"), col("qv")))
    val queries = n.filter(col("vec_id") < NumQ)
    val idx = buildBaseIndex(n)

    val deltaStream = graft.streaming.EventsStream.readEmbeddings(s, dir)
      .filter(col("vec_id") >= NumQ && isDelta)
      .select(col("vec_id"),
        graft.functions.VectorOps.quantizeMicro(
          col("embedding").cast("array<double>")).as("qv"))
    val codesDelta = graft.streaming.EventsStream.runToCompletion(s,
      appendCodes(deltaStream, idx.coarse, idx.book), mode = "append")

    serve(queries, idx.codesBase.unionByName(codesDelta), idx.coarse,
      idx.book)
  }

  /** The append stage alone — factored so the spec can meter its
    * shuffle volume in isolation, and spelled as ONE narrow in-row
    * chain with NO join at all: coarse-assign → residual → explode to
    * PQ subvectors CARRYING the list id → per-subspace argmin. (The
    * build path's [[encodeFromSubrel]] joins codes back to residuals
    * because training shares the exploded relation; with frozen books
    * the join is pure overhead — and the join-free spelling is also
    * what lets q229 run this exact function over a STREAMING delta,
    * where a stream-stream join would need watermark plumbing for
    * what is a stateless per-row map.)
    */
  private[graft] def appendCodes(delta: DataFrame,
      coarse: Seq[Kmeans.SubCent],
      book: Seq[Kmeans.SubCent]): DataFrame = {
    import Kmeans.{SubSpaces, SubDim}
    val dsv = Kmeans.subrelOf(delta, 1, Kmeans.Dim)
    val residD = residualsOf(dsv, coarse)
    val subs = (0 until SubSpaces).map(b =>
      struct(lit(b).as("sub"),
        slice(col("qv"), b * SubDim + 1, SubDim).as("sv")))
    val rsv = residD.select(col("vec_id"), col("lcid"),
        explode(array(subs: _*)).as("e"))
      .select(col("vec_id"), col("lcid"), col("e.sub").as("sub"),
        col("e.sv").as("sv"))
    Kmeans.withPqAssignment(rsv, book)
      .select(col("vec_id"), col("sub"), col("cid").as("code"),
        col("lcid"))
  }

  /** The shared serve-side oracle text: probes of `qryRel` against
    * the final coarse book `cbC`, LUTs against the final PQ book
    * `pqC`, ADC over `codesRel`.
    */
  private def serveSql(qryRel: String, codesRel: String, cbC: String,
      pqC: String): String = {
    import Kmeans.SubDim
    s"""qd AS (
       |  SELECT s.vec_id AS qid, c.cid,
       |    CAST(list_inner_product(s.qv, s.qv)
       |      - 2.0 * list_inner_product(s.qv, c.cv)
       |      + list_inner_product(c.cv, c.cv) AS BIGINT) AS d
       |  FROM $qryRel s CROSS JOIN $cbC c),
       |probes AS MATERIALIZED (
       |  SELECT qid, cid AS pcid FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY d, cid) AS rk FROM qd) t
       |  WHERE rk <= $NProbe),
       |qres AS MATERIALIZED (
       |  SELECT pr.qid, pr.pcid,
       |    list(s.qv[p64.pos] - c.cv[p64.pos] ORDER BY p64.pos) AS rq
       |  FROM probes pr
       |  JOIN $qryRel s ON s.vec_id = pr.qid
       |  JOIN $cbC c ON c.cid = pr.pcid
       |  CROSS JOIN p64
       |  GROUP BY pr.qid, pr.pcid),
       |luts AS MATERIALIZED (
       |  SELECT qr.qid, qr.pcid, b.sub, b.cid AS code,
       |    CAST(list_inner_product(
       |        list_slice(qr.rq, b.sub * $SubDim + 1,
       |          (b.sub + 1) * $SubDim),
       |        list_slice(qr.rq, b.sub * $SubDim + 1,
       |          (b.sub + 1) * $SubDim))
       |      - 2.0 * list_inner_product(
       |        list_slice(qr.rq, b.sub * $SubDim + 1,
       |          (b.sub + 1) * $SubDim), b.cv)
       |      + list_inner_product(b.cv, b.cv) AS BIGINT) AS lutv
       |  FROM qres qr CROSS JOIN $pqC b),
       |adc AS (
       |  SELECT l.qid, c.vec_id,
       |    CAST(SUM(l.lutv) AS BIGINT) AS approx
       |  FROM luts l JOIN $codesRel c
       |    ON c.lcid = l.pcid AND c.sub = l.sub AND c.code = l.code
       |  GROUP BY 1, 2)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id AS neighbor,
       |  approx
       |FROM (
       |  SELECT qid, vec_id, approx, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY approx, vec_id) AS rnk
       |  FROM adc) t
       |WHERE rnk <= $TopK
       |ORDER BY qid, rnk""".stripMargin
  }

  /** The full-corpus train chain up to the `codes` CTE — shared by
    * the build oracle (q225, serves `codes`) and the tombstone oracle
    * (q233, serves the survivor-filtered `codesLive`).
    */
  private def fullTrainChainSql: String = {
    import Kmeans.{subSelSql, lloydChainSql, SubSpaces, SubDim, Dim}
    val cbA = s"cba$CoarseRounds"   // final coarse assignment
    val cbC = s"cbc${CoarseRounds - 1}" // final coarse book
    val pqA = s"pqa$PqRounds"
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id,
       |    list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv
       |  FROM e),
       |corp AS (SELECT vec_id, qv FROM q WHERE vec_id >= $NumQ),
       |qry AS (SELECT vec_id, qv FROM q WHERE vec_id < $NumQ),
       |csv AS (SELECT vec_id, 0 AS sub, qv AS sv FROM corp),
       |p64 AS (SELECT unnest(range(1, ${Dim + 1})) AS pos),
       |p16 AS (SELECT unnest(range(1, ${SubDim + 1})) AS pos),
       |${lloydChainSql("cb", "csv", "p64", CoarseK, CoarseRounds)},
       |rq0 AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid AS lcid,
       |    list(v.sv[p64.pos] - c.cv[p64.pos] ORDER BY p64.pos) AS qv
       |  FROM $cbA a
       |  JOIN csv v ON v.vec_id = a.vec_id
       |  JOIN $cbC c ON c.cid = a.cid
       |  CROSS JOIN p64
       |  GROUP BY a.vec_id, a.cid),
       |rsv AS MATERIALIZED (
       |  ${subSelSql("rq0", SubSpaces, SubDim)}),
       |${lloydChainSql("pq", "rsv", "p16", PqCodeK, PqRounds)},
       |codes AS MATERIALIZED (
       |  SELECT a.vec_id, a.sub, a.cid AS code, r.lcid
       |  FROM $pqA a JOIN rq0 r ON r.vec_id = a.vec_id)""".stripMargin
  }

  private def oracleSql: String = {
    val cbC = s"cbc${CoarseRounds - 1}"
    val pqC = s"pqc${PqRounds - 1}"
    s"""$fullTrainChainSql,
       |${serveSql("qry", "codes", cbC, pqC)}""".stripMargin
  }

  /** q228 oracle: identical chain with the Lloyd training relations
    * restricted to the BASE slice; encoding then runs the FINAL
    * base-trained books over base+delta (encode is a pure per-row
    * function of the frozen books, so encode(base ∪ delta) ≡
    * encode(base) ∪ append(delta) — the identity the one-sided Spark
    * path realizes physically).
    */
  private def appendOracleSql: String = {
    import Kmeans.{subSelSql, lloydChainSql, pqAssignSql, SubSpaces,
      SubDim, Dim}
    val cbC = s"cbc${CoarseRounds - 1}" // final coarse book (base-trained)
    val pqC = s"pqc${PqRounds - 1}"     // final PQ book (base-trained)
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id,
       |    list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv
       |  FROM e),
       |corpA AS (SELECT vec_id, qv FROM q WHERE vec_id >= $NumQ),
       |corpB AS (SELECT vec_id, qv FROM corpA
       |          WHERE vec_id % $DeltaMod <> ${DeltaMod - 1}),
       |qry AS (SELECT vec_id, qv FROM q WHERE vec_id < $NumQ),
       |csvB AS (SELECT vec_id, 0 AS sub, qv AS sv FROM corpB),
       |csvA AS (SELECT vec_id, 0 AS sub, qv AS sv FROM corpA),
       |p64 AS (SELECT unnest(range(1, ${Dim + 1})) AS pos),
       |p16 AS (SELECT unnest(range(1, ${SubDim + 1})) AS pos),
       |${lloydChainSql("cb", "csvB", "p64", CoarseK, CoarseRounds)},
       |${pqAssignSql("cball", cbC, "csvA")},
       |rq0 AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid AS lcid,
       |    list(v.sv[p64.pos] - c.cv[p64.pos] ORDER BY p64.pos) AS qv
       |  FROM cball a
       |  JOIN csvA v ON v.vec_id = a.vec_id
       |  JOIN $cbC c ON c.cid = a.cid
       |  CROSS JOIN p64
       |  GROUP BY a.vec_id, a.cid),
       |rsvA AS MATERIALIZED (
       |  ${subSelSql("rq0", SubSpaces, SubDim)}),
       |rsvB AS MATERIALIZED (
       |  SELECT * FROM rsvA
       |  WHERE vec_id % $DeltaMod <> ${DeltaMod - 1}),
       |${lloydChainSql("pq", "rsvB", "p16", PqCodeK, PqRounds)},
       |${pqAssignSql("pqall", pqC, "rsvA")},
       |codes AS MATERIALIZED (
       |  SELECT a.vec_id, a.sub, a.cid AS code, r.lcid
       |  FROM pqall a JOIN rq0 r ON r.vec_id = a.vec_id),
       |${serveSql("qry", "codes", cbC, pqC)}""".stripMargin
  }

  val q225IvfPqPipeline: QueryDef = QueryDef(
    "q225_ivfpq_train_serve",
    (s, dir) => pipeline(s, dir),
    Some(oracleSql),
    bench = true, lowLatency = true)

  // bench: rotated into the measured tier in r19 (VERDICT r18 ask #7
  // — the r18 additions had catalog greens but no wall trend)
  val q228IvfPqDeltaAppend: QueryDef = QueryDef(
    "q228_ivfpq_delta_append",
    (s, dir) => appendServe(s, dir),
    Some(appendOracleSql),
    bench = true, lowLatency = true)

  val q229StreamIndexAppend: QueryDef = QueryDef(
    "q229_stream_index_append",
    (s, dir) => streamAppendServe(s, dir),
    Some(appendOracleSql))

  // -----------------------------------------------------------------
  // q231: IVF LIST REBALANCE — the third leg of index maintenance
  // (append q228/q229, reshard via HRW q227, and now occupancy
  // repair). A long-lived index drifts: appends concentrate on a few
  // coarse lists and probe cost degrades toward a scan of the hot
  // list. The FAISS-style repair splits each oversized list with a
  // LOCAL 2-means on just its members — work ∝ hot-list size, never
  // the corpus. The structural trick: per-hot-list independent
  // k-means IS the per-subspace Lloyd loop with `sub` = list id, so
  // [[Kmeans.lloydBook]] trains ALL hot lists simultaneously in one
  // codebook-sized-exchange loop and the oracle reuses the SAME
  // unrolled chain machinery (`lloydChainSql` over the hot-member
  // relation) — every training round hash-pinned per list.
  // -----------------------------------------------------------------

  /** Lloyd rounds for each hot-list 2-means split. */
  val SplitRounds = 3

  /** List count of the rebalanced (stale) index. */
  val RebalanceK = 16

  /** A list is hot past 9/8 × mean occupancy:
    * members · 8K > 9 · total (exact integer on both engines). The
    * index under repair is a STALE quantizer — the residue-class seed
    * book with zero Lloyd rounds (`lloydBook(…, rounds = 1)` = one
    * assignment, no update), the stand-in for an index whose
    * quantizer was never retrained as the corpus grew; a
    * Lloyd-trained book balances the fixture's near-uniform
    * embeddings inside the threshold everywhere, which is exactly
    * WHY production indexes drift only after training stops.
    */
  def rebalance(s: SparkSession, dir: String): DataFrame = {
    val n = graft.Caches.persist(Kmeans.qrel(s, dir)
      .select(col("vec_id"), col("qv")))
    val corpus = n.filter(col("vec_id") >= NumQ)
    val csv = graft.Caches.persist(Kmeans.subrelOf(corpus, 1, Kmeans.Dim))
    val coarse = Kmeans.lloydBook(csv, RebalanceK, 1, Kmeans.Dim)
    val asn = graft.Caches.persist(Kmeans.withPqAssignment(csv, coarse)
      .select(col("vec_id"), col("cid").as("lcid"), col("dist"),
        col("sv")))
    val occ = asn.groupBy(col("lcid"))
      .agg(count(lit(1)).as("members"), sum(col("dist")).as("dsum"))
    // the driver probe: one K-row collect (occupancy ledger)
    val occRows = occ.collect()
    val total = occRows.map(_.getLong(1)).sum
    val hotIds = occRows
      .filter(r => r.getLong(1) * 8 * RebalanceK > 9 * total)
      .map(_.getLong(0)).toSet
    // per-list 2-means: sub = list id, trained for ALL hot lists in
    // ONE loop (the per-subspace machinery re-aimed)
    val hsv = asn.filter(col("lcid").isInCollection(
        if (hotIds.isEmpty) Set(-1L) else hotIds))
      .select(col("vec_id"), col("lcid").cast("int").as("sub"),
        col("sv"))
    val book = Kmeans.lloydBook(hsv, 2, SplitRounds, Kmeans.Dim)
    val splitRows = Kmeans.withPqAssignment(hsv, book)
      .groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("members"), sum(col("dist")).as("dsum"))
      .select(col("sub").cast("long").as("lcid"),
        col("cid").as("part"), col("members"), col("dsum"))
    val keepRows = occ
      .filter(!col("lcid").isInCollection(
        if (hotIds.isEmpty) Set(-1L) else hotIds))
      .select(col("lcid"), lit(-1L).as("part"), col("members"),
        col("dsum"))
    keepRows.unionByName(splitRows).orderBy("lcid", "part")
  }

  private def rebalanceOracleSql: String = {
    import Kmeans.{lloydChainSql, Dim}
    val cbA = "cba1" // seeds-only book: 1 assignment, 0 updates
    val spA = s"spa$SplitRounds"
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id,
       |    list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv
       |  FROM e),
       |corp AS (SELECT vec_id, qv FROM q WHERE vec_id >= $NumQ),
       |csv AS (SELECT vec_id, 0 AS sub, qv AS sv FROM corp),
       |p64 AS (SELECT unnest(range(1, ${Dim + 1})) AS pos),
       |${lloydChainSql("cb", "csv", "p64", RebalanceK, 1)},
       |occ AS (SELECT cid AS lcid, COUNT(*) AS members,
       |          CAST(SUM(dist) AS BIGINT) AS dsum
       |        FROM $cbA GROUP BY 1),
       |tot AS (SELECT CAST(SUM(members) AS BIGINT) AS n FROM occ),
       |hot AS (SELECT lcid FROM occ CROSS JOIN tot
       |        WHERE members * ${8 * RebalanceK} > 9 * n),
       |hsv AS (SELECT a.vec_id, CAST(a.cid AS INTEGER) AS sub, v.sv
       |        FROM $cbA a JOIN csv v ON v.vec_id = a.vec_id
       |        WHERE a.cid IN (SELECT lcid FROM hot)),
       |${lloydChainSql("sp", "hsv", "p64", 2, SplitRounds)}
       |SELECT CAST(o.lcid AS BIGINT) AS lcid,
       |  CAST(-1 AS BIGINT) AS part, o.members, o.dsum
       |FROM occ o WHERE o.lcid NOT IN (SELECT lcid FROM hot)
       |UNION ALL
       |SELECT CAST(a.sub AS BIGINT) AS lcid, a.cid AS part,
       |  COUNT(*) AS members, CAST(SUM(a.dist) AS BIGINT) AS dsum
       |FROM $spA a GROUP BY 1, 2
       |ORDER BY lcid, part""".stripMargin
  }

  val q231IvfRebalance: QueryDef = QueryDef(
    "q231_ivf_rebalance",
    (s, dir) => rebalance(s, dir),
    Some(rebalanceOracleSql),
    bench = true, lowLatency = true)

  // -----------------------------------------------------------------
  // q233: TOMBSTONE DELETE + PER-AFFECTED-LIST COMPACTION — the
  // missing half of q228's append discipline (VERDICT r18 "What's
  // missing" #2): a served index must also SHRINK (dedup rewind,
  // takedown, TTL) without a rebuild. One-sided like the append:
  // the tombstoned vectors alone are assigned to their inverted
  // lists (in-row against the frozen coarse book — work ∝ deletes,
  // never the corpus), and compaction rewrites ONLY those lists'
  // directories in the cid-partitioned index layout (the reshardHrw
  // file-rewrite discipline applied to the index tier). Because a
  // PQ code is a pure per-row function of the frozen books,
  // delete+compact ≡ re-encode of the survivors under the same books
  // ≡ the oracle's survivor-filtered serve — the exact identity
  // q228 pins in the other direction.
  // -----------------------------------------------------------------

  /** q233 tombstone membership: vec_id ≡ TombMod−1 (mod TombMod)
    * plays the deleted batch (~1/TombMod of the corpus) — identity
    * predicate, scale-invariant, engine-identical (the [[DeltaMod]]
    * convention; coprime to it so delete and append tiers exercise
    * different row sets).
    */
  val TombMod = 7L

  private def isTomb: Column =
    col("vec_id") % TombMod === TombMod - 1

  final case class TombCompactReport(listsRewritten: Int,
      listsUntouched: Int, codesDropped: Long)

  /** Rewrite ONLY the inverted-list directories in `affected` minus
    * the tombstoned vectors' rows — as ONE Spark pass, however many
    * lists a delete touches (r19 VERDICT ask #1: the previous
    * per-affected-list foreach ran a read+count+rewrite job cluster
    * PER list, serial on the driver — fine at CoarseK=8, but a broad
    * delete on a production index with 10⁴–10⁵ inverted lists
    * degenerated into that many ~40 ms driver round-trips; the
    * fixture's own 14% tombstone rate touches essentially every
    * list). Shape now:
    *
    *  1. ONE partition-pruned read of the UNION of affected list
    *     directories (`basePath` keeps the lcid partition column) —
    *     scan cost ∝ Σ affected-list sizes, never the index;
    *  2. ONE broadcast anti-join against the tombstone ids +
    *     `.distinct()` (crash-window keeper duplicates collapse;
    *     codes are full-row-unique by construction: one row per
    *     (vec_id, sub));
    *  3. ONE staging write of all keepers `partitionBy(lcid)` into a
    *     hidden temp dir beside the layout;
    *  4. per-dir swap as pure FILESYSTEM METADATA ops — zero further
    *     Spark jobs: every staged file renames IN first (all lists),
    *     every old file deletes LAST (the [[graft.sources
    *     .LakehouseSink]] maintenance contract — a crash leaves
    *     transient duplication, never loss, and a rerun converges).
    *
    * Job count is O(1) in |affected| (StageClock-receipted in
    * AnnPipelineSpec — the q232 discipline); every unaffected
    * directory is byte-stable (spec-pinned by mtime). All file
    * surgery rides the Hadoop FileSystem of the layout path (r19
    * ask #2) — see the [[graft.sources.LakehouseSink]] filesystem
    * contract for the object-store rename caveat.
    */
  private[graft] def compactTombstones(s: SparkSession, path: String,
      tombs: DataFrame, affected: Seq[Long]): TombCompactReport = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    // a crashed prior pass's staging dir would otherwise sit hidden
    // inside the layout forever (fresh UUID per run; the tombstone
    // swap commits through `.distinct()` rerun convergence, not a
    // marker, so its staging is always the discard case here)
    graft.sources.LakehouseSink.recoverStaging(fs, root)
    val allLists = fs.listStatus(root)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("lcid="))
    if (affected.isEmpty)
      return TombCompactReport(0, allLists, 0L)
    val listDirs = affected.sorted.map(l =>
      new org.apache.hadoop.fs.Path(root, s"lcid=$l"))
    // inventory of the old files BEFORE staging (one listing per
    // affected dir — metadata ops, not jobs); also validates the
    // layout
    val oldFiles = listDirs.map { d =>
      require(fs.isDirectory(d),
        s"q233 compaction: missing inverted-list dir $d")
      d -> graft.sources.LakehouseSink.parquetFiles(fs, d)
    }
    val before = s.read.option("basePath", path)
      .parquet(listDirs.map(_.toString): _*)
    val keep = before
      .join(broadcast(tombs.select(col("vec_id"))), Seq("vec_id"),
        "left_anti")
      .distinct().persist()
    try {
      val dropped = before.count() - keep.count()
      val tmp = new org.apache.hadoop.fs.Path(root,
        s".graft-tomb-${java.util.UUID.randomUUID().toString.take(12)}")
      try {
        keep.write.mode(SaveMode.Overwrite).partitionBy("lcid")
          .parquet(tmp.toString)
        // move-in-first across ALL lists (a list whose keepers are
        // empty stages no dir — nothing to move, its old files still
        // delete below), then delete-last across ALL lists; each
        // phase runs parallel across the (independent) list dirs on
        // the bounded maintenance pool — pure metadata ops, but at
        // 10⁴–10⁵ affected lists on an object store the serial
        // spelling was hours of rename round-trips
        graft.sources.LakehouseSink.inParallel(oldFiles) {
          case (d, _) =>
            val staged = new org.apache.hadoop.fs.Path(tmp, d.getName)
            if (fs.exists(staged))
              graft.sources.LakehouseSink.parquetFiles(fs, staged)
                .foreach { f =>
                  graft.sources.LakehouseSink.renameOrThrow(fs, f,
                    new org.apache.hadoop.fs.Path(d, f.getName))
                }
        }
        graft.sources.LakehouseSink.inParallel(oldFiles) {
          case (_, olds) =>
            olds.foreach(f =>
              graft.sources.LakehouseSink.deleteOrThrow(fs, f))
        }
      } finally { fs.delete(tmp, true); () }
      TombCompactReport(affected.size, allLists - affected.size,
        dropped)
    } finally {
      keep.unpersist()
      // in a FINALLY (r20 review, the LakehouseSink discipline): even
      // a partially-failed pass has deleted files, and the session's
      // cached listings must not outlive them
      s.catalog.refreshByPath(path)
    }
  }

  /** The q233 body, factored so the spec can interrogate the layout:
    * build the full index, persist it as a cid-partitioned layout,
    * tombstone the delete batch, compact the affected lists, and
    * serve from the compacted artifact.
    */
  private[graft] def tombstoneCompactServe(s: SparkSession,
      dir: String, layout: String): DataFrame = {
    val n = graft.Caches.persist(Kmeans.qrel(s, dir)
      .select(col("vec_id"), col("qv")))
    val queries = n.filter(col("vec_id") < NumQ)
    val idx = buildFullIndex(n)
    graft.sources.LakehouseSink.writePartitioned(idx.codesBase,
      layout, partitionCols = Seq("lcid"), clusterCols = Seq("vec_id"))
    // the delete request: tombstoned ids + their one-sided list
    // assignment (in-row vs the frozen coarse book — work ∝ deletes)
    val tombRows = n.filter(col("vec_id") >= NumQ && isTomb)
    val affected = residualsOf(
        Kmeans.subrelOf(tombRows, 1, Kmeans.Dim), idx.coarse)
      .select(col("lcid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    compactTombstones(s, layout, tombRows.select(col("vec_id")),
      affected)
    val codes = s.read.parquet(layout)
      .withColumn("lcid", col("lcid").cast("long"))
    serve(queries, codes, idx.coarse, idx.book)
  }

  /** q233 oracle: the identical full-corpus train chain with the
    * serve running over the SURVIVOR-filtered codes — "rebuild
    * without the deleted vectors under the frozen quantizers", the
    * identity the one-sided delete realizes physically.
    */
  private def tombstoneOracleSql: String = {
    val cbC = s"cbc${CoarseRounds - 1}"
    val pqC = s"pqc${PqRounds - 1}"
    s"""$fullTrainChainSql,
       |codesLive AS MATERIALIZED (
       |  SELECT * FROM codes
       |  WHERE vec_id % $TombMod <> ${TombMod - 1}),
       |${serveSql("qry", "codesLive", cbC, pqC)}""".stripMargin
  }

  val q233IvfTombstoneDelete: QueryDef = QueryDef(
    "q233_ivfpq_tombstone_delete",
    (s, dir) => {
      // process-scoped scratch layout (warm reruns overwrite, pid
      // isolation, exit-time sweep — see [[graft.Scratch]])
      tombstoneCompactServe(s, dir,
        graft.Scratch.layout("ivf_tomb", dir, "index"))
    },
    Some(tombstoneOracleSql))

  val all: Seq[QueryDef] = Seq(q225IvfPqPipeline, q228IvfPqDeltaAppend,
    q229StreamIndexAppend, q231IvfRebalance, q233IvfTombstoneDelete)
}
