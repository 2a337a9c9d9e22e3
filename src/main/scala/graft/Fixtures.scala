package graft

import graft.plans.FrozenTable
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
    * `(m*K + cid)*subDim + d`, one table entry per codeword.
    * Driver-side collect of a 128-row broadcast-sized fixture (same
    * class as the chunk-bounds and k-means-training collects —
    * metadata, not a data path).
    */
  def pqCodebookFlat(s: SparkSession, k: Int,
      subDim: Int): FrozenTable[Array[Double]] =
    frozen(s, s"$pqCodebookPath#$k/$subDim", stamp(pqCodebookPath)) {
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
      FrozenTable.ofDoubles(s, flat, m * k)
    }

  /** File-identity stamp for table keys — the same size/mtime/
    * footer-tail contract as [[Tables.fileStamp]], so a fixture the
    * driver regenerates mid-process re-packs instead of serving stale
    * planes/centroids/codebooks for the session's lifetime (the
    * staleness class TablesCacheSpec pins for tables).
    */
  private def stamp(path: String): (Long, Long, Int) =
    Tables.fileStamp(java.nio.file.Paths.get(path))

  /** The IVF centroid table packed for the in-row
    * [[graft.plans.CentroidTopK]] kernel: per cid (ascending, dense),
    * `[cn, cv(0), …, cv(dim-1)]` where cn is the L2 norm computed with
    * the same sequential accumulation as [[graft.plans.L2Norm]] (so
    * cosines downstream are bit-identical to the relational spelling).
    */
  def ivfCentroidsPacked(s: SparkSession): FrozenTable[Array[Double]] =
    frozen(s, ivfCentroidsPath, stamp(ivfCentroidsPath)) {
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
      FrozenTable.ofDoubles(s, flat, rows.length)
    }

  /** A (tbl, bit, plane) fixture packed for the in-row
    * [[graft.plans.SignBandCodesBcast]] kernel: plane (t, b) dim d at
    * `((t*bBits)+b)*dim + d`, one table entry per band table t.
    * Driver-side collect of the plane fixture (same metadata class as
    * the PQ codebook / IVF centroid collects).
    */
  def planesBroadcast(s: SparkSession,
      path: String): FrozenTable[Array[Double]] =
    frozen(s, path, stamp(path)) {
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
      FrozenTable.ofDoubles(s, flat, rows.length / bBits)
    }

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
    * in-row [[graft.plans.SignBandCodesBcast]] kernel, tabulated
    * DRIVER-side from [[adaptivePlaneComponent]] (no Spark job, no
    * collect) — the twin of [[planesBroadcast]] for geometries that
    * are a pure function of (n, tau) rather than a committed fixture
    * file. Callers dispatch on the packed size BEFORE calling
    * (Similarity.PackedPlaneBound — 2¹⁸ planes, capping this
    * driver-side array at 128 MB for dim 64): past the bound the
    * relational `wideBandNeardup` spelling streams the plane relation
    * instead, so this array stays broadcast-class. The geometry is the
    * table's stamp, so a NEW geometry for the same session evicts the
    * older one (a long-lived session dispatching over varying n would
    * otherwise pin every geometry's broadcast until Caches.clear). The
    * one-entry-per-session policy costs a re-tabulate on geometry
    * ALTERNATION (up to ~128 MB at the bound): no current caller
    * alternates (Bench / Verify dispatch one corpus per query); a
    * workload that genuinely interleaves corpora wants a small bounded
    * LRU here instead.
    */
  def adaptivePlanesBroadcast(s: SparkSession, bBits: Int, lTables: Int,
      dim: Int): FrozenTable[Array[Double]] =
    frozen(s, "adaptive_planes", (bBits, lTables, dim)) {
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
      FrozenTable.ofDoubles(s, flat, lTables)
    }

  /** The BPE merge fixture as a built [[graft.functions.Bpe.Table]]
    * (rank order) — what [[graft.plans.BpeTokenCount]] /
    * [[graft.plans.BpeEncodeIds]] read. Driver-side collect of a
    * few-hundred-row fixture (metadata class).
    */
  def bpeMerges(s: SparkSession): FrozenTable[graft.functions.Bpe.Table] =
    frozen(s, bpeMergesPath, stamp(bpeMergesPath)) {
      val rows = read(s, bpeMergesPath)
        .select("rank", "left", "right").collect()
        .sortBy(_.getAs[Int]("rank"))
      graft.functions.Bpe.frozen(s, new graft.functions.Bpe.Table(
        rows.map(_.getAs[Int]("left")), rows.map(_.getAs[Int]("right"))))
    }

  /** The quality-classifier fixture packed in its own bucket numbering
    * (bucket b at index b + 2: µunit keep threshold, µunit bias, then
    * the dense µunit weights) — what [[graft.plans.HashedLogit]] reads.
    * Driver-side collect of a dim+2-row fixture (~32 KB — metadata
    * class).
    */
  def qualityClassifier(s: SparkSession): FrozenTable[Array[Long]] =
    frozen(s, qualityClassifierPath, stamp(qualityClassifierPath)) {
      val rows = read(s, qualityClassifierPath)
        .select("bucket", "w_mu").collect()
      val packed =
        new Array[Long](rows.map(_.getAs[Int]("bucket")).max + 3)
      rows.foreach(r => packed(r.getAs[Int]("bucket") + 2) =
        r.getAs[Long]("w_mu"))
      FrozenTable.ofLongs(s, packed, packed.length)
    }

  /** Every table above, keyed by (session, table name, stamp). A miss
    * first drops the same (session, name)'s entries under other stamps
    * and unpersists their broadcasts — otherwise a driver that
    * regenerates a fixture mid-process pins the old stamp's table until
    * [[dropSession]]. Eviction happens outside the compute closure
    * because ConcurrentHashMap forbids mutating the map from inside
    * computeIfAbsent.
    */
  private val tables = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Any), FrozenTable[_]]()

  private def frozen[T](s: SparkSession, name: String, stamp: Any)(
      build: => FrozenTable[T]): FrozenTable[T] = {
    val key = (s, name, stamp)
    val hit = tables.get(key)
    if (hit != null) hit.asInstanceOf[FrozenTable[T]]
    else {
      val it = tables.entrySet.iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        if ((k._1 eq s) && k._2 == name && k != key) {
          e.getValue.unpersist()
          it.remove()
        }
      }
      tables.computeIfAbsent(key, _ => build).asInstanceOf[FrozenTable[T]]
    }
  }

  /** Drop this session's tables — called from [[Caches.clear]] so a
    * long-lived process creating many sessions doesn't pin dead
    * sessions (and their broadcasts) in the map.
    */
  private[graft] def dropSession(s: SparkSession): Unit = {
    val it = tables.entrySet.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        e.getValue.unpersist()
        it.remove()
      }
    }
  }
}
