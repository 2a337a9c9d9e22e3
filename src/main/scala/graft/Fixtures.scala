package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared engine-neutral fixtures (parquet files under `fixtures/`) that
  * BOTH Spark queries and the DuckDB oracle SQL read, so approximate
  * operators (sign-LSH ANN, IVF ANN) become exactly reproducible in two
  * engines: the random element (hyperplanes, centroids) is materialized
  * once, and everything downstream is pure relational algebra.
  *
  * Regenerate with `sbt "runMain graft.tools.GenFixtures"` (deterministic
  * — same bytes every run).
  */
object Fixtures {
  /** Absolute dir so driver-side DuckDB `read_parquet` resolves it
    * regardless of working directory.
    */
  val dir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures")

  val lshPlanesPath = s"$dir/lsh_planes.parquet"
  val ivfCentroidsPath = s"$dir/ivf_centroids.parquet"
  val pqCodebookPath = s"$dir/pq_codebook.parquet"

  /** Real BMP/PNG payloads + true dimensions as metadata — generated by
    * [[graft.tools.GenMediaFixture]]; q35/q49 decode the bytes with
    * [[graft.operators.ImageIoCodec]] while the oracle reads only the
    * metadata columns.
    */
  val mediaImagesPath = s"$dir/media_images.parquet"

  /** Planted high-threshold near-dup corpus + wide-band hyperplanes —
    * generated by [[graft.tools.GenWideBandFixture]]; q128 runs the
    * τ=0.9 `wideBandNeardup` formulation over them with a full DuckDB
    * hash-match oracle.
    */
  val neardupEmbeddingsPath = s"$dir/neardup_embeddings.parquet"
  val widebandPlanesPath = s"$dir/wideband_planes.parquet"

  /** ρ-bound sign-LSH geometry at the q58 threshold (τ = 0.4) sized for
    * the largest driver corpus (N = 2000 at sf0.1) — generated by
    * [[graft.tools.GenAdaptiveBandFixture]]; q135 runs
    * `wideBandNeardup` over the DRIVER embeddings with these planes,
    * retiring q58's fixed 8×4 geometry (candidate volume ~N²/2⁴) to a
    * size-guarded fallback. Same (tbl, bit, plane) schema as
    * [[widebandPlanesPath]].
    */
  val adaptivePlanesTau04Path = s"$dir/adaptive_planes_tau04.parquet"

  /** Trained PCA components (pcid, w: unit component, lambda, wmu =
    * w·mean) — produced by [[graft.tools.TrainWhitener]] from the
    * sf0.1 corpus; q145 projects embeddings against them in-row.
    */
  val pcaComponentsPath = s"$dir/pca_components.parquet"

  /** Trained byte-level BPE merge list (rank, left, right, new_id,
    * token) + the training corpus with reference per-doc token counts
    * (doc_id, lang, source, text, n_bpe) — produced by
    * [[graft.tools.TrainBpe]]; q148 recomputes counts in-plan via
    * [[graft.plans.BpeTokenCount]] while the oracle reads the
    * committed n_bpe column.
    */
  val bpeMergesPath = s"$dir/bpe_merges.parquet"
  val bpeCorpusPath = s"$dir/bpe_corpus.parquet"

  /** Trained hashed-unigram quality-classifier weights (bucket, w_mu:
    * µunit NB log-odds; bucket −1 carries the bias) — produced by
    * [[graft.tools.TrainQualityClassifier]] as a distillation of the
    * q117 Gopher gate; q166 scores documents in-row against them via
    * [[graft.plans.HashedLogit]].
    */
  val qualityClassifierPath = s"$dir/quality_classifier.parquet"

  /** Isotonic step function calibrating the quality classifier's
    * µunit logits onto teacher pass rates — generated by
    * [[graft.tools.TrainCalibrator]] (PAV, Zadrozny & Elkan KDD'02);
    * q195 applies it in-plan as pure BIGINT comparisons.
    */
  val scoreCalibratorPath = s"$dir/score_calibrator.parquet"

  /** Multi-line document corpus with planted cross-document
    * boilerplate and near-threshold shared lines — generated by
    * [[graft.tools.GenLineFixture]]; q167 runs the line-level dedup
    * pass over it with a full DuckDB hash-match oracle.
    */
  val lineCorpusPath = s"$dir/line_corpus.parquet"

  /** Crawl URL manifest with canonicalization-invariant alias noise
    * (scheme/www/case/default-port/trailing-slash/tracking-param/
    * fragment variants) — generated by [[graft.tools.GenUrlFixture]];
    * q168 canonicalizes + dedups it with a full DuckDB hash-match
    * oracle.
    */
  val urlCorpusPath = s"$dir/url_corpus.parquet"

  /** Planted encoding-corruption corpus for the q181 mojibake
    * detector — generated by [[graft.tools.GenMojibakeFixture]]
    * (replacement chars, C0 controls, UTF-8-as-Latin-1 artifacts; no
    * ground-truth columns, the spec recomputes from emission rules).
    */
  val mojiDocsPath = s"$dir/moji_docs.parquet"

  /** Planted NFC/NFD-variance corpus for the q183 normalization pass —
    * generated by [[graft.tools.GenNfcFixture]] (precomposed and
    * decomposed spellings of the same accent vocabulary; no
    * ground-truth columns).
    */
  val nfcDocsPath = s"$dir/nfc_docs.parquet"

  /** Domain blocklist for the q179 suffix filter — generated by
    * [[graft.tools.GenBlocklistFixture]]: exact registrable domains,
    * parent/TLD suffixes (one covering another — multi-match), and a
    * no-match decoy.
    */
  val domainBlocklistPath = s"$dir/domain_blocklist.parquet"

  /** Real-BMP image corpus with planted near-duplicate variants and
    * generator-side expected aHashes — generated by
    * [[graft.tools.GenImageDedupFixture]]; q173 runs perceptual-hash
    * image dedup over the decoded payloads, the oracle recomputes the
    * pair relation from the committed `ah` column.
    */
  val mediaNeardupImagesPath = s"$dir/media_neardup_images.parquet"

  /** Real RIFF/WAVE corpus with planted near-duplicate variants and
    * generator-side expected fingerprints — generated by
    * [[graft.tools.GenAudioDedupFixture]]; q189 runs energy-delta
    * fingerprint dedup over the decoded payloads, the oracle
    * recomputes the pair relation from the committed `fp` column.
    */
  val mediaNeardupAudioPath = s"$dir/media_neardup_audio.parquet"

  /** Multi-turn chat corpus in the messages-array JSON shape with
    * planted prompt-level duplicates and role-schema violations —
    * generated by [[graft.tools.GenChatFixture]]; q190/q191 run the
    * instruction-data curation stage over it.
    */
  val chatConvosPath = s"$dir/chat_convos.parquet"

  /** Real animated-GIF corpus with planted near-duplicate variants and
    * generator-side expected clip fingerprints — generated by
    * [[graft.tools.GenVideoDedupFixture]]; q201 runs frame-sampled
    * majority-fold fingerprint dedup over the decoded payloads.
    */
  val mediaNeardupVideoPath = s"$dir/media_neardup_video.parquet"

  /** Planted-PII corpus (doc_id, lang, text) with emails / phones /
    * IPv4s spliced between word-salad filler and negative decoys —
    * generated by [[graft.tools.GenPiiFixture]]; q149 runs the staged
    * redaction pass over it with a full DuckDB hash-match oracle.
    */
  val piiDocsPath = s"$dir/pii_docs.parquet"

  /** Synthetic web pages (page_id, html) with link-dense chrome
    * around genuine content paragraphs — generated by
    * [[graft.tools.GenHtmlFixture]]; q151 runs the tag-strip +
    * link-density boilerplate extraction over them with a full DuckDB
    * hash-match oracle.
    */
  val htmlPagesPath = s"$dir/html_pages.parquet"

  /** Real RIFF/WAVE payloads + true format/frame/RMS metadata —
    * generated by [[graft.tools.GenAudioFixture]]; q35/q130 decode the
    * bytes with [[graft.operators.WavCodec]] while the oracle reads
    * only the metadata columns.
    */
  val mediaAudioPath = s"$dir/media_audio.parquet"

  /** Real animated-GIF payloads + true dimension/frame metadata —
    * generated by [[graft.tools.GenVideoFixture]]; q35/q49 frame-count
    * the actual multi-image containers via
    * [[graft.operators.ImageIoCodec]].
    */
  val mediaVideoPath = s"$dir/media_video.parquet"

  /** Fixture reads route through the same per-(session, file identity)
    * DataFrame cache as [[Tables.load]]: a fixture parquet is opened
    * (footer parse + file listing + analysis) once per session instead
    * of once per query build — a measurable slice of the
    * unprepared-warm planning cost for the ANN/LSH tier.
    */
  def read(s: SparkSession, path: String): DataFrame =
    Tables.readCached(s, path)

  def lshPlanes(s: SparkSession): DataFrame = read(s, lshPlanesPath)
  def ivfCentroids(s: SparkSession): DataFrame =
    read(s, ivfCentroidsPath)
  def pcaComponents(s: SparkSession): DataFrame =
    read(s, pcaComponentsPath)

  /** (m: subspace, cid, cv: double[8]) — trained by
    * [[graft.tools.TrainPqCodebook]].
    */
  def pqCodebook(s: SparkSession): DataFrame =
    read(s, pqCodebookPath)

  /** The PQ codebook flattened for the in-row [[graft.plans.PqCodes]] /
    * [[graft.plans.PqLut]] kernels: entry (m, cid) dim d at
    * `(m*K + cid)*subDim + d`. Driver-side collect of a 128-row
    * broadcast-sized fixture (same class as the chunk-bounds and
    * k-means-training collects — metadata, not a data path), cached per
    * session so repeated query builds don't re-read the parquet.
    */
  def pqCodebookFlat(s: SparkSession, k: Int, subDim: Int): Array[Double] =
    getEvicting(flatCache, (s, k, subDim, stamp(pqCodebookPath)),
      (a: (SparkSession, Int, Int, (Long, Long, Int)),
       b: (SparkSession, Int, Int, (Long, Long, Int))) =>
        (a._1 eq b._1) && a._2 == b._2 && a._3 == b._3) {
      val rows = pqCodebook(s).collect()
      val m = rows.length / k
      val flat = new Array[Double](m * k * subDim)
      rows.foreach { r =>
        val mi = r.getAs[Int]("m")
        val cid = r.getAs[Int]("cid")
        val cv = r.getAs[scala.collection.Seq[Double]]("cv")
        var d = 0
        while (d < subDim) {
          flat((mi * k + cid) * subDim + d) = cv(d)
          d += 1
        }
      }
      flat
    }

  /** File-identity stamp for packed-cache keys — the same
    * size/mtime/footer-tail contract as [[Tables.fileStamp]], so a
    * fixture the driver regenerates mid-process re-packs instead of
    * serving stale planes/centroids/codebooks for the session's
    * lifetime (the staleness class TablesCacheSpec pins for tables).
    */
  private def stamp(path: String): (Long, Long, Int) =
    Tables.fileStamp(java.nio.file.Paths.get(path))

  private val flatCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, Int, Int, (Long, Long, Int)), Array[Double]]()

  /** The IVF centroid table packed for the in-row
    * [[graft.plans.CentroidTopK]] kernel: per cid (ascending, dense),
    * `[cn, cv(0), …, cv(dim-1)]` where cn is the L2 norm computed with
    * the same sequential accumulation as [[graft.plans.L2Norm]] (so
    * cosines downstream are bit-identical to the relational spelling).
    */
  def ivfCentroidsPacked(s: SparkSession): Array[Double] =
    getEvicting(packedCache, (s, stamp(ivfCentroidsPath)),
      (a: (SparkSession, (Long, Long, Int)),
       b: (SparkSession, (Long, Long, Int))) => a._1 eq b._1) {
      val rows = ivfCentroids(s).collect()
      val dim = rows.head.getAs[scala.collection.Seq[Double]]("cv").length
      val flat = new Array[Double](rows.length * (dim + 1))
      rows.foreach { r =>
        val cid = r.getAs[Int]("cid")
        val cv = r.getAs[scala.collection.Seq[Double]]("cv")
        var acc = 0.0
        var d = 0
        while (d < dim) { val x = cv(d); acc += x * x; d += 1 }
        val off = cid * (dim + 1)
        flat(off) = math.sqrt(acc)
        d = 0
        while (d < dim) { flat(off + 1 + d) = cv(d); d += 1 }
      }
      flat
    }

  private val packedCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, (Long, Long, Int)), Array[Double]]()

  /** A (tbl, bit, plane) fixture packed for the in-row
    * [[graft.plans.SignBandCodesBcast]] kernel: plane (t, b) dim d at
    * `((t*bBits)+b)*dim + d`. Driver-side collect of the plane fixture
    * (same metadata class as the PQ codebook / IVF centroid collects).
    * Returns (packed, bBits).
    */
  private def planesPacked(s: SparkSession,
      path: String): (Array[Double], Int) = {
    val rows = read(s, path).collect()
    val bBits = rows.iterator.map(_.getAs[Int]("bit")).max + 1
    val dim = rows.head.getAs[scala.collection.Seq[Double]]("plane")
      .length
    val flat = new Array[Double](rows.length * dim)
    rows.foreach { r =>
      val t = r.getAs[Int]("tbl")
      val b = r.getAs[Int]("bit")
      val plane = r.getAs[scala.collection.Seq[Double]]("plane")
      val off = (t * bBits + b) * dim
      var d = 0
      while (d < dim) { flat(off + d) = plane(d); d += 1 }
    }
    (flat, bBits)
  }

  /** Packed plane fixture as a BROADCAST handle + content fingerprint
    * + bBits — what [[graft.plans.SignBandCodesBcast]] takes so tasks
    * carry a block-manager handle, not the multi-MB payload. One
    * broadcast per (session, path, file stamp): plan re-construction
    * (Bench's unprepared column rebuilds each run) reuses the same
    * handle, and a superseded stamp unpersists the old executor copies
    * (not destroy — a still-prepared plan holding the old handle can
    * lazily re-fetch from the driver).
    */
  def planesBroadcast(s: SparkSession, path: String)
      : (org.apache.spark.broadcast.Broadcast[Array[Double]], Long, Int) =
    getEvicting(planesBcastCache, (s, path, stamp(path)),
      (a: (SparkSession, String, (Long, Long, Int)),
       b: (SparkSession, String, (Long, Long, Int))) =>
        (a._1 eq b._1) && a._2 == b._2,
      onEvict = (v: (org.apache.spark.broadcast.Broadcast[Array[Double]],
        Long, Int)) => v._1.unpersist(blocking = false)) {
      val (flat, bBits) = planesPacked(s, path)
      (s.sparkContext.broadcast(flat), packedFingerprint(flat, bBits),
        bBits)
    }

  /** Content fingerprint of a packed plane table: [[graft.plans.Fnv1a]]
    * over the raw double bits, then the geometry — stands in for the
    * payload in plan equality ([[graft.plans.SignBandCodesBcast]]'s
    * equals).
    */
  private def packedFingerprint(flat: Array[Double], bBits: Int): Long =
    graft.plans.Fnv1a.mix(graft.plans.Fnv1a.ofDoubles(flat), bBits.toLong)

  private val planesBcastCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, (Long, Long, Int)),
      (org.apache.spark.broadcast.Broadcast[Array[Double]], Long, Int)]()

  /** One component of the deterministic ρ-bound hyperplane relation —
    * THE formula (MurmurHash3 of a fixed tuple, scaled to [−1, 1]):
    * [[graft.operators.Similarity.adaptivePlanes]] tabulates it
    * distributed (the relational arm / the committed-fixture
    * generator), [[adaptivePlanesBroadcast]] packs it driver-side for
    * the in-row kernel. One definition so the two spellings cannot
    * drift — the codes must be bit-identical for the oracle to hold.
    */
  def adaptivePlaneComponent(t: Int, b: Int, d: Int): Double =
    scala.util.hashing.MurmurHash3.productHash(("ab04", t, b, d)) /
      Int.MaxValue.toDouble

  /** The adaptive (bBits × lTables × dim) plane table packed for the
    * in-row [[graft.plans.SignBandCodesBcast]] kernel, tabulated DRIVER-side
    * from [[adaptivePlaneComponent]] (no Spark job, no collect) and
    * shipped as a broadcast handle — the r20-opt twin of
    * [[planesBroadcast]] for geometries that are a pure function of
    * (n, tau) rather than a committed fixture file. Callers dispatch on
    * the packed size BEFORE calling (Similarity.PackedPlaneBound —
    * 2¹⁸ planes, capping this driver-side array at 128 MB for dim 64):
    * past the bound the relational `wideBandNeardup` spelling streams
    * the plane relation instead, so this array stays broadcast-class.
    * Cached per (session, geometry), and a NEW geometry for the same
    * session evicts that session's older entries (the stamp-eviction
    * pattern — r20 ADVICE #1: a long-lived session dispatching over
    * varying n would otherwise pin every geometry's packed array +
    * broadcast until Caches.clear); [[dropSession]] sweeps the rest.
    * The single-entry-per-session policy trades that leak for a miss
    * cost on geometry ALTERNATION (re-tabulate + re-broadcast, up to
    * ~128 MB at the bound): no current caller alternates (Bench /
    * Verify dispatch one corpus per query), so the simple policy
    * wins; a workload that genuinely interleaves corpora wants a
    * small bounded LRU here instead.
    */
  def adaptivePlanesBroadcast(s: SparkSession, bBits: Int, lTables: Int,
      dim: Int)
      : (org.apache.spark.broadcast.Broadcast[Array[Double]], Long, Int) =
    getEvicting(adaptiveBcastCache, (s, (bBits, lTables, dim)),
      (a: (SparkSession, (Int, Int, Int)),
       b: (SparkSession, (Int, Int, Int))) => a._1 eq b._1,
      onEvict = (v: (org.apache.spark.broadcast.Broadcast[Array[Double]],
        Long, Int)) => v._1.unpersist(blocking = false)) {
      val flat = new Array[Double](lTables * bBits * dim)
      var t = 0
      while (t < lTables) {
        var b = 0
        while (b < bBits) {
          val off = (t * bBits + b) * dim
          var d = 0
          while (d < dim) {
            flat(off + d) = adaptivePlaneComponent(t, b, d)
            d += 1
          }
          b += 1
        }
        t += 1
      }
      (s.sparkContext.broadcast(flat), packedFingerprint(flat, bBits),
        bBits)
    }

  private val adaptiveBcastCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, (Int, Int, Int)),
      (org.apache.spark.broadcast.Broadcast[Array[Double]], Long, Int)]()

  /** The BPE merge fixture as rank-order (left, right) arrays — the
    * shape [[graft.functions.VectorOps.bpeCount]] folds into the
    * codegen'd expression. Driver-side collect of a few-hundred-row
    * fixture (metadata class), stamp-keyed and superseded-stamp
    * evicted like every packed fixture.
    */
  def bpeMerges(s: SparkSession): (Array[Int], Array[Int]) =
    getEvicting(bpeMergesCache, (s, stamp(bpeMergesPath)),
      (a: (SparkSession, (Long, Long, Int)),
       b: (SparkSession, (Long, Long, Int))) => a._1 eq b._1) {
      val rows = read(s, bpeMergesPath)
        .select("rank", "left", "right").collect()
        .sortBy(_.getAs[Int]("rank"))
      (rows.map(_.getAs[Int]("left")), rows.map(_.getAs[Int]("right")))
    }

  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, (Long, Long, Int)), (Array[Int], Array[Int])]()

  /** The quality-classifier fixture as (dense µunit weight array
    * indexed by bucket, µunit bias, µunit keep threshold) — the shape
    * [[graft.plans.HashedLogit]] folds into the codegen'd expression.
    * Driver-side collect of a dim+2-row fixture (~32 KB — metadata
    * class), stamp-keyed and superseded-stamp evicted like every
    * packed fixture.
    */
  def qualityClassifier(s: SparkSession): (Array[Long], Long, Long) =
    getEvicting(qualityClassifierCache,
      (s, stamp(qualityClassifierPath)),
      (a: (SparkSession, (Long, Long, Int)),
       b: (SparkSession, (Long, Long, Int))) => a._1 eq b._1) {
      val rows = read(s, qualityClassifierPath)
        .select("bucket", "w_mu").collect()
      val dim = rows.map(_.getAs[Int]("bucket")).max + 1
      val w = new Array[Long](dim)
      var bias = 0L
      var thr = 0L
      rows.foreach { r =>
        r.getAs[Int]("bucket") match {
          case -2 => thr = r.getAs[Long]("w_mu")
          case -1 => bias = r.getAs[Long]("w_mu")
          case b => w(b) = r.getAs[Long]("w_mu")
        }
      }
      (w, bias, thr)
    }

  private val qualityClassifierCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, (Long, Long, Int)), (Array[Long], Long, Long)]()

  /** computeIfAbsent with superseded-stamp eviction: on a miss, every
    * entry that shares the key's logical identity (same session +
    * path/params, different file stamp) is dropped BEFORE computing —
    * otherwise a driver that regenerates a fixture mid-process pins
    * the old stamp's packed array until dropSession, a slow leak in
    * long-lived sessions that retrain fixtures repeatedly. Eviction
    * happens outside the compute closure because ConcurrentHashMap
    * forbids mutating the map from inside computeIfAbsent.
    */
  private def getEvicting[K, V](
      cache: java.util.concurrent.ConcurrentHashMap[K, V], key: K,
      sameLogical: (K, K) => Boolean,
      onEvict: V => Unit = (_: V) => ())(f: => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val it = cache.entrySet.iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey != key && sameLogical(e.getKey, key)) {
          onEvict(e.getValue)
          it.remove()
        }
      }
      cache.computeIfAbsent(key, _ => f)
    }
  }

  /** Drop this session's packed-fixture entries — called from
    * [[Caches.clear]] so a long-lived process creating many sessions
    * doesn't pin dead sessions (and their arrays) in these maps.
    */
  private[graft] def dropSession(s: SparkSession): Unit = {
    val cit = packedCache.keySet.iterator()
    while (cit.hasNext) if (cit.next()._1 eq s) cit.remove()
    val bcit = planesBcastCache.entrySet.iterator()
    while (bcit.hasNext) {
      val e = bcit.next()
      if (e.getKey._1 eq s) {
        e.getValue._1.unpersist(blocking = false)
        bcit.remove()
      }
    }
    val abit = adaptiveBcastCache.entrySet.iterator()
    while (abit.hasNext) {
      val e = abit.next()
      if (e.getKey._1 eq s) {
        e.getValue._1.unpersist(blocking = false)
        abit.remove()
      }
    }
    val bit = bpeMergesCache.keySet.iterator()
    while (bit.hasNext) if (bit.next()._1 eq s) bit.remove()
    val qit = qualityClassifierCache.keySet.iterator()
    while (qit.hasNext) if (qit.next()._1 eq s) qit.remove()
    val it = flatCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1 eq s) it.remove()
  }
}
