package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.hashing.MurmurHash3

/** Empirical backing for the "survives 100 TB" claims on the dedup/ANN
  * tier (COVERAGE.md): generate synthetic `documents`/`embeddings`
  * corpora at 1×/4×/16× scale with realistic statistics — Heaps-law
  * vocabulary growth (V ∝ N^0.75), a fixed hot-stopword head, planted
  * near-duplicate twins at a fixed rate — run the candidate-generation
  * queries (q23 MinHash LSH, q58 sign-LSH embedding near-dup, q63
  * df-capped Jaccard, q91 PPJoin), and assert:
  *
  *  - total shuffle rows grow ~linearly with corpus size (fitted
  *    growth exponent over the 4× step < 1.3). All four candidate
  *    generators are keyed equi-joins over bucketed/prefix-filtered
  *    signatures; a quadratic all-pairs regression would show up here
  *    as an exponent near 2 long before it OOMs a real cluster;
  *  - detected near-dup pair counts track the (linear) planted-pair
  *    count — candidates grow because the corpus does, not because
  *    selectivity degrades;
  *  - the hot-key diagnostic: the largest LSH band bucket and the
  *    largest post-cap shingle df stay bounded (no single key absorbs
  *    a growing fraction of the corpus — the precursor of every skew
  *    blowup).
  *
  * Corpora are deterministic (MurmurHash3 of fixed tuples, no RNG
  * state), so measured exponents are reproducible run to run.
  */
class ScaleGrowthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val HotWords = 12
  private val HotShare = 3 // ~1 in 3 tokens is a hot stopword

  private def token(doc: Long, pos: Int, vocab: Int): String = {
    val h = MurmurHash3.productHash(("sg", doc, pos))
    if (math.floorMod(h, HotShare) == 0)
      s"the${math.floorMod(h >> 8, HotWords)}"
    else s"w${math.floorMod(h >> 4, vocab)}"
  }

  private def docText(doc: Long, vocab: Int): String = {
    val n = 40 + math.floorMod(MurmurHash3.productHash(("len", doc)), 20)
    (0 until n).map(token(doc, _, vocab)).mkString(" ")
  }

  /** Every 10th doc gets a twin: same text with ONE token mutated
    * (3-shingle Jaccard ≈ 0.9 > the 0.8 threshold) — planted pair
    * count is exactly linear in N.
    */
  private def corpusText(id: Long, vocab: Int): String = {
    if (id % 10 == 1) {
      val base = docText(id - 1, vocab).split(" ")
      base(base.length / 2) = "mut" + id
      base.mkString(" ")
    } else docText(id, vocab)
  }

  private def embComponent(id: Long, d: Int): Float = {
    val h = MurmurHash3.productHash(("emb", id, d))
    (h / Int.MaxValue.toFloat)
  }

  private def writeSingle(df: org.apache.spark.sql.DataFrame,
      dest: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft-sg").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
    Files.move(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Writes documents.parquet + embeddings.parquet for N docs and
    * returns the table dir. Vocabulary follows Heaps' law so document
    * frequencies stay realistic as the corpus grows.
    */
  private def genCorpus(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sg_$n")
    val vocab = math.max(50, (8 * math.pow(n, 0.75)).toInt)
    val docs = (0L until n.toLong).map { id =>
      val text = corpusText(id, vocab)
      // source names match the fixture corpus's ("src0"…) so the
      // DSIR-family queries (q163/q165) — whose target slice is
      // source = 'src0' — are measurable on these corpora too
      (id, text, s"l${id % 3}", s"src${id % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    writeSingle(docs, dir.resolve("documents.parquet"))
    val dim = graft.tools.GenFixtures.Dim
    val embs = (0L until n.toLong).map { id =>
      val v =
        if (id % 10 == 1) { // planted near-identical twin: cosine ≈ 1
          val base = Array.tabulate(dim)(embComponent(id - 1, _))
          base(0) = base(0) + 0.01f
          base
        } else Array.tabulate(dim)(embComponent(id, _))
      (id, v, (id % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
    writeSingle(embs, dir.resolve("embeddings.parquet"))
    dir.toString
  }

  /** (query, exponent ceiling, pair-yield cap at N=8000 or -1).
    *
    * q23/q63/q91 are the text-dedup candidate generators whose 100 TB
    * claim is "keyed equi-joins over bucketed/prefix-filtered
    * signatures, ~linear" — gated at exponent < 1.3.
    *
    * q58 is pinned at its MEASURED ceiling, not the linear gate, and
    * that is a finding, not an exemption: at NearDupThreshold = 0.4
    * (p₁ = 1 − arccos(0.4)/π ≈ 0.63, random-pair p₂ = 0.5) sign-LSH
    * theory caps ANY banding at ~N^(1+ρ) = N^1.66 candidates
    * (ρ = ln(1/p₁)/ln(1/p₂)), and the fixed 8-table × 4-bit fixture
    * geometry yields ~8·N²/2⁴ — effectively quadratic, measured
    * exp ≈ 2 here. q58 is therefore the small/mid-corpus formulation;
    * at 100 TB, embedding near-dup runs either q74's incremental
    * one-sided join (delta × corpus, never corpus²) or wide adaptive
    * bands at the high thresholds (≥0.9) where real near-dup lives.
    * The exp < 2.25 pin keeps the constant from regressing further.
    */
  private val GrowthQueries = Seq(
    ("q23_dedup_minhash", 1.3, 8000L),
    ("q58_embed_neardup_lsh", 2.25, -1L),
    ("q63_dedup_jaccard_capped", 1.3, 8000L),
    ("q91_dedup_jaccard_prefix", 1.3, 8000L),
    // winnowing substring provenance: the same inverted-index +
    // df-cap posture as q63, keyed on sampled (~2/w of grams)
    // fingerprint longs — linear gate like the rest of the family
    ("q129_winnow_provenance", 1.3, -1L),
    // r11 (VERDICT r10 item 4): containment's candidate shape is
    // q22's inverted-index join but with ASYMMETRIC hot-key exposure —
    // a short doc's full shingle set enters every bucket its shingles
    // hit, so a hot shingle's pair contribution is df², paid by the
    // SMALL side. The hot-key diagnostic below bounds exactly that df;
    // the growth gate pins that the Heaps-law tail keeps the join
    // ~linear at realistic stopword heads
    ("q134_dedup_containment", 1.3, 8000L),
    // variable-length exact-substring dedup: the widest exchange is
    // the stride-1 gram relation feeding the df agg — rows ∝ corpus
    // CHARS, so the exponent must sit at ~1 like the suffix-array
    // family it reproduces (Lee et al. ACL'22); islands merge inside
    // per-doc windows whose state is one document's offsets
    ("q152_substring_dedup", 1.3, -1L),
    // the APPLY form adds one docs-sized segment splice on top of
    // q152's gram machinery — same linear gate
    ("q154_substring_dedup_apply", 1.3, -1L),
    // graded contamination overlap: q65's hashed-5-gram cost class —
    // distinct eval grams left-join the distinct train grams, both
    // keyed on 8-byte hashes; rows ∝ corpus grams, so the exponent
    // must sit at ~1 like the boolean arm it grades (result rows =
    // eval docs, linear by the split definition)
    ("q159_contam_overlap", 1.3, -1L))

  test("candidate generation scales ~linearly: shuffle-row growth " +
      "exponent < 1.3 over a 4x corpus step, pair yield tracks the " +
      "planted linear rate, hot buckets stay bounded") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val scales = Seq(500, 2000, 8000)
      val dirs = scales.map(genCorpus)
      // (query -> per-scale (shuffleRows, resultRows))
      val measured = GrowthQueries.map { case (q, expMax, yieldCap) =>
        val rows = dirs.map { dir =>
          // collect(), not count(): under count() Catalyst prunes all
          // unreferenced aggregates and can then ELIMINATE a final
          // left join outright (q152's per-doc report collapses to a
          // scan of documents — measured 501 vs 411k shuffle records),
          // which would fit the exponent of a plan that never ran
          val (out, receipt) = clock.measure {
            SparkEntry.queries(q)(spark, dir).collect().length.toLong
          }
          val sh = receipt.shuffleRecords
          Caches.clear(spark)
          (sh, out)
        }
        (q, expMax, yieldCap, rows)
      }
      val report = new StringBuilder
      measured.foreach { case (q, expMax, yieldCap, rows) =>
        val Seq((s1, r1), (s2, r2), (s3, r3)) = rows
        // fit on the largest step (4x: 2000 -> 8000 docs) where fixed
        // per-query overhead is smallest relative to the signal
        val exp = math.log(s3.toDouble / s2) / math.log(4.0)
        report.append(f"$q: shuffle=$s1/$s2/$s3 exp=$exp%.2f " +
          f"pairs=$r1/$r2/$r3%n")
        assert(exp < expMax,
          s"$q shuffle rows grow faster than its ceiling " +
            s"(exp $exp ≥ $expMax): $s1 -> $s2 -> $s3")
        // detected pairs grow with the corpus (planted pairs are
        // linear: N/10) and never collapse to zero
        assert(r3 > r2 && r2 > r1 && r1 > 0,
          s"$q pair yield not growing: $r1 -> $r2 -> $r3")
        // and for the linear-gated generators, yield stays within a
        // constant factor of the planted rate (800 planted at N=8000;
        // incidental near-dups allowed, quadratic blowup is not)
        if (yieldCap > 0)
          assert(r3 < yieldCap,
            s"$q pair yield quadratic? $r3 pairs at 8000 docs")
      }
      info(report.toString)

      // q118's PRODUCTION shape — a FIXED-size ingest batch (the 50
      // delta vectors planted in the first 500 ids) against a growing
      // base corpus. Candidate volume is |delta|·bucket ∝ N/2^B and the
      // dominant shuffle is the code relation itself (∝ N), so the
      // fitted exponent must sit at ~1 — this, not the catalog entry's
      // 10% fixture slice, is the 100 TB claim. Pair yield INCLUDES the
      // ~50 planted twins (cos ≈ 1; sign-LSH recall at that angle is ~1
      // across 8 tables) plus incidental >τ neighbors — at τ = 0.4 a
      // fixed batch legitimately finds more neighbors in a bigger base
      // (measured 58/102/212), so yield is bounded per unit of base
      // growth, not constant: output size is the data's property; the
      // scale claim is the SHUFFLE exponent.
      {
        val rows = dirs.map { dir =>
          val (out, receipt) = clock.measure {
            operators.Similarity.oneSidedBanded(spark, dir,
              col("vec_id") % 10 === 1 && col("vec_id") < 500).count()
          }
          val sh = receipt.shuffleRecords
          Caches.clear(spark)
          (sh, out)
        }
        val Seq((s1, r1), (s2, r2), (s3, r3)) = rows
        val exp = math.log(s3.toDouble / s2) / math.log(4.0)
        info(f"q118 fixed-delta: shuffle=$s1/$s2/$s3 exp=$exp%.2f " +
          f"pairs=$r1/$r2/$r3")
        assert(exp < 1.3,
          s"q118 fixed-delta shuffle rows grow faster than linear " +
            s"(exp $exp): $s1 -> $s2 -> $s3")
        assert(r1 >= 48 && r2 >= 48 && r3 >= 48,
          s"q118 fixed-delta lost planted twins (yield must cover the " +
            s"~50 planted pairs): $r1 / $r2 / $r3")
        // sub-linear-in-base yield growth: 4x base may at most ~3x the
        // neighbor count of a fixed batch here; N²-style candidate
        // leakage would blow straight past this
        assert(r3.toDouble / r2 < 3.0,
          s"q118 fixed-delta yield growing near-quadratically: " +
            s"$r1 / $r2 / $r3")
      }

      // hot-key diagnostic on the largest corpus: no single join key
      // absorbs the corpus. Shingle df after the q63 cap is ≤ DfCap by
      // construction; HERE we bound the raw (uncapped) hot head and
      // the LSH band buckets the q23/q58 joins actually key on.
      val big = dirs.last
      val docs = spark.read.parquet(s"$big/documents.parquet")
      val maxDf = docs
        .select(explode(graft.functions.VectorOps
          .shingleHashes(lower(col("text")), 3)).as("g"))
        .groupBy("g").count().agg(max("count")).collect()(0).getLong(0)
      // hot stopword triples repeat across docs, but even the hottest
      // raw shingle must stay a vanishing fraction of an 8000-doc
      // corpus (the q63 cap and q91 df-ordering both rely on the tail
      // being heavy, not on one degenerate key). For q134 this df IS
      // the asymmetric hot-key bound: containment joins on raw
      // shingles and a hot key contributes df² pairs charged to the
      // SHORT side, so maxDf² bounds any one key's contribution
      // (< 800² = 0.64 M at 8000 docs vs the ~0.44 M total measured —
      // no single key can dominate the join)
      assert(maxDf < 800, s"hottest raw shingle df=$maxDf at 8000 docs")

      // q178's packing core over the same growing corpora — the
      // token-level explode is the job's honest cost (it writes the
      // training rows), so the widest exchange is ∝ corpus TOKENS and
      // the exponent must sit at ~1; the per-(lang, bin) agg state is
      // bounded by the 2048-token sequence, so bins (result rows)
      // grow linearly with the corpus too. Ids derive in-plan from
      // the tokens (the BPE table is a fixture constant, irrelevant
      // to growth).
      {
        import org.apache.spark.sql.expressions.Window
        val rows = dirs.map { dir =>
          val (out, receipt) = clock.measure {
            val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, -1)
            val d = spark.read.parquet(s"$dir/documents.parquet")
              .select(col("lang"), col("doc_id"),
                transform(filter(split(col("text"), " "), _ =!= ""),
                  t => pmod(hash(t), lit(1000))).as("ids"))
              .withColumn("nt", size(col("ids")).cast("long"))
              .withColumn("cum_excl",
                coalesce(sum(col("nt")).over(w), lit(0L)))
            d.select(col("lang"), col("doc_id"),
                col("cum_excl"),
                posexplode(col("ids")).as(Seq("pos", "id")))
              .withColumn("off", col("cum_excl") + col("pos"))
              .withColumn("bin", expr("off div 2048"))
              .groupBy(col("lang"), col("bin"))
              .agg(count(lit(1)).as("n_tokens"),
                md5(array_join(
                  transform(array_sort(collect_list(
                    struct(col("off"), col("id")))), x =>
                    x.getField("id").cast("string")), ":")
                  .cast("binary")).as("seq_digest"))
              .collect().length.toLong
          }
          val sh = receipt.shuffleRecords
          Caches.clear(spark)
          (sh, out)
        }
        val Seq((s1, b1), (s2, b2), (s3, b3)) = rows
        val exp = math.log(s3.toDouble / s2) / math.log(4.0)
        info(f"q178 packing core: shuffle=$s1/$s2/$s3 exp=$exp%.2f " +
          f"bins=$b1/$b2/$b3")
        assert(exp < 1.3,
          s"packing-core shuffle rows grow faster than linear " +
            s"(exp $exp): $s1 -> $s2 -> $s3")
        assert(b3 > b2 && b2 >= b1 && b1 > 0,
          s"bin count must track corpus tokens: $b1 / $b2 / $b3")
        assert(b3.toDouble / b2 > 3.0 && b3.toDouble / b2 < 5.0,
          s"4x tokens must give ~4x sequences: $b2 -> $b3")
      }
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- wide-band adaptive sign-LSH at a HIGH threshold (τ = 0.9) ----
  //
  // The q58 finding (exp ≈ 2 at τ = 0.4) is a property of the
  // threshold, not of LSH: at τ = 0.9, p₁ = 1 − arccos(0.9)/π ≈ 0.857
  // against random-pair p₂ = 0.5 gives ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.22,
  // and scaling the band width B with log₂N (buckets stay ~constant
  // occupancy) and table count L with N^ρ caps candidate volume at
  // ~N^(1+ρ) ≈ N^1.2. This test RUNS that geometry over corpora with
  // planted ~0.94-cosine twins and asserts the measured exponent and
  // recall — the "wide adaptive bands at ≥0.9" guidance in PLANS.md,
  // converted to measurement. (The driver's embeddings fixture has no
  // ≥0.9 pairs — verified by the q118/q25 oracles — so this proof
  // lives on planted corpora.)

  private def wbNoise(id: Long, d: Int): Float = {
    val h = MurmurHash3.productHash(("wb", id, d))
    (h / Int.MaxValue.toFloat)
  }

  /** Embeddings with every 10th vector twinned at cosine ≈ 0.94
    * (additive uniform noise at 0.36 of the base component scale).
    */
  private def wideCorpus(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_wb_$n")
    val dim = graft.tools.GenFixtures.Dim
    val embs = (0L until n.toLong).map { id =>
      val v =
        if (id % 10 == 1) {
          val base = Array.tabulate(dim)(embComponent(id - 1, _))
          Array.tabulate(dim)(d => base(d) + 0.36f * wbNoise(id, d))
        } else Array.tabulate(dim)(embComponent(id, _))
      (id, v)
    }.toDF("vec_id", "embedding")
    writeSingle(embs, dir.resolve("embeddings.parquet"))
    dir.toString
  }

  /** True twin cosine, computed driver-side from the same deterministic
    * generators — the recall denominator counts twins ABOVE the 0.9
    * decision threshold (a planted pair that lands under τ is not a
    * near-dup, not a MISS).
    */
  private def twinCosine(id: Long): Double = {
    val dim = graft.tools.GenFixtures.Dim
    val a = Array.tabulate(dim)(d => embComponent(id - 1, d).toDouble)
    val b = Array.tabulate(dim)(d =>
      a(d) + 0.36f * wbNoise(id, d))
    val dot = (0 until dim).map(d => a(d) * b(d)).sum
    dot / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
  }

  test("wide-band adaptive sign-LSH at tau=0.9: B ~ log2(N), L ~ N^rho " +
      "keeps the candidate exponent at the rho-bound (~1.2) with " +
      "recall >= 0.8 of true >0.9 twins") {
    import spark.implicits._
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val scales = Seq(500, 2000, 8000)
      val dim = graft.tools.GenFixtures.Dim
      val measured = scales.map { n =>
        val dir = wideCorpus(n)
        val bBits = math.ceil(math.log(n.toDouble) / math.log(2)).toInt
        val lTables = math.ceil(4 * math.pow(n.toDouble, 0.154)).toInt
        val planes = (for {
          t <- 0 until lTables; b <- 0 until bBits
        } yield {
          val plane = Array.tabulate(dim) { d =>
            MurmurHash3.productHash(("pl", t, b, d)) /
              Int.MaxValue.toDouble
          }
          (t, b, plane)
        }).toDF("tbl", "bit", "plane")
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>")
            .as("v"))
          .withColumn("nrm",
            graft.functions.VectorOps.l2norm(col("v")))
        val (found, receipt) = clock.measure {
          operators.Similarity.wideBandNeardup(e, planes, 0.9)
            .select("v1", "v2").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val sh = receipt.shuffleRecords
        Caches.clear(spark)
        val trueTwins = (0L until n.toLong)
          .filter(id => id % 10 == 1 && twinCosine(id) > 0.9)
          .map(id => (id - 1, id)).toSet
        val recall =
          trueTwins.count(found).toDouble / math.max(trueTwins.size, 1)
        (n, sh, found.size, trueTwins.size, recall)
      }
      val report = measured.map { case (n, sh, f, t, r) =>
        f"N=$n shuffle=$sh found=$f trueTwins=$t recall=$r%.2f"
      }.mkString("; ")
      info(report)
      measured.foreach { case (n, _, _, t, recall) =>
        assert(t > n / 20, s"degenerate corpus: only $t true twins at $n")
        assert(recall >= 0.8,
          s"wide-band recall $recall < 0.8 at N=$n ($report)")
      }
      val exp = math.log(measured(2)._2.toDouble / measured(1)._2) /
        math.log(4.0)
      info(f"wide-band shuffle-row exponent (2000->8000): $exp%.2f " +
        "(theory: 1+rho ~ 1.2)")
      assert(exp < 1.35,
        s"wide-band exponent $exp above the rho-bound envelope ($report)")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- adaptive ρ-bound banding AT the q58 threshold (τ = 0.4) ----
  //
  // r11: the q58 finding (fixed 8×4 geometry → exp ≈ 2) is now CLOSED
  // in-catalog, not just pinned: q135 runs wideBandNeardup with
  // adaptiveGeometry(N, 0.4) — B = ⌈log₂N⌉, L = ⌈4·N^ρ⌉, ρ ≈ 0.664 —
  // whose candidate volume the theory caps at ~N^1.66. This test RUNS
  // that geometry over corpora with planted ~0.5-cosine twins (just
  // above τ, where per-table collision is weakest and the L-table
  // union has to do real work) and asserts the measured shuffle
  // exponent sits at the ρ-bound, far off the fixed geometry's ≈ 2,
  // with recall ≥ 0.95 of true >τ twins.

  /** Embeddings with every 10th vector twinned at cosine ≈ 0.5
    * (additive uniform noise at 1.73× the base component scale:
    * cos ≈ 1/√(1+α²) = 0.50).
    */
  private def tau04Corpus(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_t4_$n")
    val dim = graft.tools.GenFixtures.Dim
    val embs = (0L until n.toLong).map { id =>
      val v =
        if (id % 10 == 1) {
          val base = Array.tabulate(dim)(embComponent(id - 1, _))
          Array.tabulate(dim)(d => base(d) + 1.73f * wbNoise(id, d))
        } else Array.tabulate(dim)(embComponent(id, _))
      (id, v)
    }.toDF("vec_id", "embedding")
    writeSingle(embs, dir.resolve("embeddings.parquet"))
    dir.toString
  }

  /** True twin cosine for [[tau04Corpus]] — recall denominator counts
    * twins ABOVE the 0.4 threshold.
    */
  private def tau04TwinCosine(id: Long): Double = {
    val dim = graft.tools.GenFixtures.Dim
    val a = Array.tabulate(dim)(d => embComponent(id - 1, d).toDouble)
    val b = Array.tabulate(dim)(d => a(d) + 1.73f * wbNoise(id, d))
    val dot = (0 until dim).map(d => a(d) * b(d)).sum
    dot / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
  }

  test("adaptive rho-bound banding at tau=0.4 (q135's geometry): " +
      "shuffle exponent <= ~1.7 (theory 1+rho = 1.66, fixed geometry " +
      "measures ~2) with recall >= 0.95 of true >0.4 twins") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val scales = Seq(250, 1000, 4000)
      val measured = scales.map { n =>
        val dir = tau04Corpus(n)
        val planes = operators.Similarity.adaptivePlanes(spark,
          n.toLong, 0.4, graft.tools.GenFixtures.Dim)
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>")
            .as("v"))
          .withColumn("nrm",
            graft.functions.VectorOps.l2norm(col("v")))
        val (found, receipt) = clock.measure {
          operators.Similarity.wideBandNeardup(e, planes, 0.4)
            .select("v1", "v2").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val sh = receipt.shuffleRecords
        Caches.clear(spark)
        val trueTwins = (0L until n.toLong)
          .filter(id => id % 10 == 1 && tau04TwinCosine(id) > 0.4)
          .map(id => (id - 1, id)).toSet
        val recall =
          trueTwins.count(found).toDouble / math.max(trueTwins.size, 1)
        (n, sh, found.size, trueTwins.size, recall)
      }
      val report = measured.map { case (n, sh, f, t, r) =>
        f"N=$n shuffle=$sh found=$f trueTwins=$t recall=$r%.2f"
      }.mkString("; ")
      info(report)
      measured.foreach { case (n, _, _, t, recall) =>
        assert(t > n / 20, s"degenerate corpus: only $t true twins at $n")
        assert(recall >= 0.95,
          s"tau=0.4 adaptive recall $recall < 0.95 at N=$n ($report)")
      }
      val exp = math.log(measured(2)._2.toDouble / measured(1)._2) /
        math.log(4.0)
      info(f"tau=0.4 adaptive shuffle-row exponent (1000->4000): " +
        f"$exp%.2f (theory: 1+rho = 1.66; fixed 8x4 geometry: ~2)")
      assert(exp < 1.75,
        s"tau=0.4 adaptive exponent $exp above the rho-bound envelope " +
          s"($report)")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- round-10 tier: q122 / q124 / q126 scale posture, measured ----

  test("q124 BM25 and q122 heavy hitters shuffle O(1) rows in corpus " +
      "size (stats/summary/top-k only, never the token stream)") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    // One scan partition at every scale: both queries shuffle partial
    // rows per scan partition (q124 exactly one), and under the
    // engine's 512 KB openCostInBytes the 8000-doc corpus splits in 3,
    // so q124's 1 -> 1 -> 3 read as growth. Rows are NOT divided by
    // the partition count: a leaked token stream grows with it too.
    val openCostKey = "spark.sql.files.openCostInBytes"
    val openCost0 = spark.conf.get(openCostKey)
    spark.conf.set(openCostKey, (64L << 20).toString)
    try {
      val scales = Seq(500, 2000, 8000)
      val dirs = scales.map(genCorpus)
      val scanParts = dirs.map(d =>
        spark.read.parquet(s"$d/documents.parquet").rdd.getNumPartitions)
      assert(scanParts.distinct.size == 1,
        s"scan partitions differ across scales: $scanParts")
      // (query, absolute row ceiling at 8000 docs). The ceilings are
      // generous multiples of the structural bounds (q124: one stats
      // row + per-partition top-k; q122: one MG map per task + ≤511
      // candidate partials per task) — a formulation that shuffles the
      // token stream would blow past them by orders of magnitude
      // (~400k token occurrences at N=8000).
      val pins = Seq(("q124_bm25_topk", 2000L),
        ("q122_heavy_hitters", 20000L))
      pins.foreach { case (q, cap) =>
        val rows = dirs.map { dir =>
          val (_, receipt) = clock.measure {
            SparkEntry.queries(q)(spark, dir).count()
          }
          val sh = receipt.shuffleRecords
          Caches.clear(spark)
          sh
        }
        val Seq(s1, s2, s3) = rows
        val exp = math.log(math.max(s3, 1).toDouble / math.max(s2, 1)) /
          math.log(4.0)
        info(f"$q: shuffle=$s1/$s2/$s3 exp=$exp%.2f")
        assert(exp < 0.3,
          s"$q shuffle volume grows with the corpus (exp $exp): " +
            s"$s1 -> $s2 -> $s3 — the token stream is leaking into " +
              "an exchange")
        assert(s3 < cap,
          s"$q shuffled $s3 rows at 8000 docs (ceiling $cap)")
      }
    } finally {
      spark.conf.set(openCostKey, openCost0)
      spark.sparkContext.removeSparkListener(clock)
    }
  }

  /** 90%-hot-source corpus for the q126 salted-cap skew pin. */
  private def capCorpus(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_cap_$n")
    val docs = (0L until n.toLong).map { id =>
      val src = if (id % 10 < 9) "hot" else s"cold${id % 7}"
      val text = docText(id, 200)
      (id, text, "l0", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    writeSingle(docs, dir.resolve("documents.parquet"))
    dir.toString
  }

  test("q126 salted per-source cap under a 90%-hot source: no task " +
      "absorbs the hot source, phase-2 input bounded at cap*salts") {
    import org.apache.spark.sql.expressions.Window
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    // AQE's partition coalescing merges these tiny shuffles into one
    // task and would measure the coalescer, not the key distribution —
    // the skew claim is about per-KEY concentration, so measure with
    // static 32-partition shuffles
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val sh0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val scales = Seq(500, 2000, 8000)
      val measured = scales.map { n =>
        val dir = capCorpus(n)
        val (_, receipt) = clock.measure {
          SparkEntry.queries("q126_source_cap")(spark, dir).count()
        }
        val maxTask = receipt.maxTaskShuffleRead
        // The hot source has 0.9N rows. Phase 1 partitions on
        // (source, doc_id % 32), so no phase-1 task reads more than a
        // ~1/32 slice of it (2.5x slack: co-resident groups +
        // salt-hash imbalance); phase 2's hot-source partition reads
        // ≤ cap·salts = 480 survivors regardless of N. The UNSALTED
        // formulation puts all 0.9N hot rows through ONE window task —
        // at N=8000 that is 7200, an order of magnitude past this
        // bound.
        val hot = (n * 9L) / 10
        val bound = hot * 25 / (32 * 10) + 480 + 200
        assert(maxTask <= bound,
          s"N=$n: a task read $maxTask shuffle rows (bound $bound) — " +
            "the hot source is concentrating")
        Caches.clear(spark)
        (n, maxTask)
      }
      info(measured.map { case (n, m) => s"N=$n maxTaskRead=$m" }
        .mkString("; "))
      // the whole point: max task read must NOT track the hot source's
      // linear growth (16x corpus step, hot 450 -> 7200)
      assert(measured.last._2 < 2 * measured.head._2 + 480,
        s"max task read tracks corpus growth: $measured")

      // phase-2 pigeonhole: survivors per source never exceed
      // SourceCap·CapSalts = 15·32 = 480 (constants mirrored from
      // Retrieval.q126SourceCap) no matter how hot the source — the
      // bound that makes the global window safe at any corpus size.
      // Recomputed with the operator's own expressions at the largest
      // scale.
      val docs = spark.read
        .parquet(s"${capCorpus(8000)}/documents.parquet")
        .select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("h"))
      val local = Window
        .partitionBy(col("source"), pmod(col("doc_id"), lit(32)))
        .orderBy(col("h"), col("doc_id"))
      val maxSurvivors = docs
        .withColumn("lrk", row_number().over(local))
        .filter(col("lrk") <= 15)
        .groupBy("source").count()
        .agg(max("count")).collect()(0).getLong(0)
      info(s"max phase-2 survivors per source at N=8000: $maxSurvivors")
      assert(maxSurvivors <= 15L * 32,
        s"phase-1 let $maxSurvivors rows of one source through " +
          "(pigeonhole bound 480)")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", sh0)
      spark.sparkContext.removeSparkListener(clock)
    }
  }

  // ---- Bloom-join decontamination: the measured shuffle delta ------
  //
  // q138's claim is not a new answer but a new COST: the same result
  // as q65 with the big (train) side pruned in-row before the semi
  // join's exchange. At these toy sizes every relation broadcasts and
  // NOTHING shuffles, so the at-scale regime is forced explicitly:
  // autoBroadcastJoinThreshold = -1 models the 100 TB reality where
  // the train gram relation can never be a build side (the r7 OOM
  // class) and the semi join must exchange both sides on the gram
  // key. Under that regime this measures the claim directly —
  // identical output rows, a small fraction of q65's shuffle traffic.
  // (On these corpora the eval split's gram set overlaps mostly
  // through the hot-stopword head, so pruning is strong but not
  // total; the gate is a conservative ≤ 35%.)
  test("bloom decontamination: result identical to q65, shuffle rows " +
      "a small fraction of the exact semi join's (broadcast off = " +
      "the at-scale join regime)") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    val bc0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq(500, 2000, 8000).foreach { n =>
        val dir = genCorpus(n)
        def run(q: String): (Long, Seq[String]) = {
          val (rows, receipt) = clock.measure {
            SparkEntry.queries(q)(spark, dir)
              .collect().map(_.mkString("|")).toSeq
          }
          val sh = receipt.shuffleRecords
          Caches.clear(spark)
          (sh, rows)
        }
        val (shExact, outExact) = run("q65_decontamination")
        val (shBloom, outBloom) = run("q138_decontam_bloom")
        assert(outBloom == outExact,
          s"bloom result diverged from exact at N=$n")
        info(f"N=$n%5d: q65 shuffle=$shExact%7d  " +
          f"q138 shuffle=$shBloom%7d  (${
            100.0 * shBloom / shExact}%.0f%%)")
        assert(shBloom <= shExact * 35 / 100,
          s"bloom pruning ineffective at N=$n: " +
            s"$shBloom vs $shExact shuffle rows")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc0)
      spark.sparkContext.removeSparkListener(clock)
    }
  }

  // ---- the q147 capstone pipeline's growth exponent ----------------
  //
  // Every stage of the composed training-data build is keyed or
  // broadcast-bounded (gate filter, md5-keyed dedup, bloom-pruned
  // decontam, lang-keyed budget/rank/packing), so the WHOLE pipeline's
  // shuffle volume must grow ~linearly — a regression in any stage
  // (say the decontam semi join degrading to an unpruned exchange)
  // surfaces here as a super-linear composite exponent even if each
  // stage's own spec still passes.
  test("q147 capstone pipeline: composite shuffle growth ~linear") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val rows = Seq(500, 2000, 8000).map { n =>
        val dir = genCorpus(n)
        val (out, receipt) = clock.measure {
          SparkEntry.queries("q147_training_pipeline")(spark, dir)
            .collect()
        }
        val sh = receipt.shuffleRecords
        Caches.clear(spark)
        (sh, out.map(_.getAs[Long]("selected")).sum)
      }
      val Seq((s1, r1), (s2, r2), (s3, r3)) = rows
      val exp = math.log(s3.toDouble / s2) / math.log(4.0)
      info(f"q147: shuffle=$s1/$s2/$s3 exp=$exp%.2f selected=$r1/$r2/$r3")
      assert(exp < 1.3,
        s"capstone pipeline shuffle grows super-linearly (exp $exp): " +
          s"$s1 -> $s2 -> $s3")
      // the temperature budget takes ~half the survivors at any scale
      assert(r3 > r2 && r2 > r1 && r1 > 0,
        s"selection not tracking corpus growth: $r1/$r2/$r3")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- the q165 modern capstone's growth exponent ------------------
  //
  // CCNet gate → DSIR select → µunit token budget → prefix select →
  // pack, as one plan: the dominant exchange is the single corpus
  // token pass into the per-doc metric agg (both metrics ride it), so
  // the composite must grow ~linearly like q147's — a regression in
  // the combined-model join or a metric falling out of the shared
  // pass shows up here as a super-linear composite.
  test("q165 modern capstone: composite shuffle growth ~linear, " +
      "selection tracks corpus growth") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val rows = Seq(500, 2000, 8000).map { n =>
        val dir = genCorpus(n)
        val (out, receipt) = clock.measure {
          SparkEntry.queries("q165_modern_pipeline")(spark, dir)
            .collect()
        }
        val sh = receipt.shuffleRecords
        Caches.clear(spark)
        (sh, out.map(_.getAs[Long]("selected")).sum)
      }
      val Seq((s1, r1), (s2, r2), (s3, r3)) = rows
      val exp = math.log(s3.toDouble / s2) / math.log(4.0)
      info(f"q165: shuffle=$s1/$s2/$s3 exp=$exp%.2f selected=$r1/$r2/$r3")
      assert(exp < 1.3,
        s"modern capstone shuffle grows super-linearly (exp $exp): " +
          s"$s1 -> $s2 -> $s3")
      assert(r3 > r2 && r2 > r1 && r1 > 0,
        s"selection not tracking corpus growth: $r1/$r2/$r3")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- sampled-threshold selection: no reducer sees a whole key ----
  //
  // r12 (VERDICT r11 item 2b): the q147 selection stage's 100 TB swap
  // is now executable — TextAnalysis.thresholdSelect's threshold arm.
  // The rank-window formulation's scale defect is CONCENTRATION, not
  // volume: lang cardinality is tiny, so one reducer task absorbs an
  // entire language (maxTaskShuffleRead ∝ N). The threshold arm only
  // rank-windows the 1/S content-addressed sample and the ±margin
  // boundary band, so its largest task read is max(sample, band) per
  // key — sublinear in N when S grows with the corpus (S ∝ N^⅓ makes
  // sorted rows ∝ N^⅔, the sample-sort bound). Measured here with AQE
  // coalescing off (the q126 discipline: measure the key
  // distribution, not the coalescer), asserting result equality,
  // the window arm's linear concentration, and the threshold arm's
  // sublinear exponent + absolute advantage.
  test("thresholdSelect threshold arm: max task read sublinear in " +
      "corpus size while the window arm concentrates a whole key " +
      "per task — results identical") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val sh0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val scales = Seq(500, 2000, 8000)
      val measured = scales.map { n =>
        val dir = genCorpus(n)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("lang"), col("doc_id"),
            md5(col("text").cast("binary")).as("hh"))
        val takes = docs.groupBy(col("lang"))
          .agg(floor(count(lit(1)) / 2).cast("long").as("take"))
        val sMod = math.max(4, math.cbrt(n / 8.0).round.toInt)
        val r0 = n / (6.0 * sMod) // expected sample rank of the cutoff
        val margin = math.ceil(3 * math.sqrt(r0)).toLong + 2
        def run(arm: String): (Long, Set[(String, Long)]) = {
          val (out, receipt) = clock.measure {
            operators.TextAnalysis.thresholdSelect(docs, "lang",
              "hh", "doc_id", takes, sampleMod = sMod, margin = margin,
              forceArm = Some(arm)).select("lang", "doc_id").collect()
              .map(r => (r.getString(0), r.getLong(1))).toSet
          }
          (receipt.maxTaskShuffleRead, out)
        }
        val (winMax, winRows) = run("window")
        val (thrMax, thrRows) = run("threshold")
        assert(thrRows == winRows,
          s"threshold arm diverged from exact selection at N=$n")
        Caches.clear(spark)
        (n, winMax, thrMax)
      }
      info(measured.map { case (n, w, t) =>
        s"N=$n winMaxTask=$w thrMaxTask=$t"
      }.mkString("; "))
      val Seq((_, w1, t1), (_, w2, t2), (_, w3, t3)) = measured
      // the window arm's biggest reducer tracks the biggest lang
      // (~N/3): linear concentration
      assert(w3 > w2 && w2 > w1 && w3 >= 8000 / 4,
        s"window arm no longer concentrates a key: $w1/$w2/$w3")
      // the threshold arm's biggest task is a small fraction of the
      // window arm's at scale, and grows sublinearly (S ∝ N^⅓ →
      // sorted rows ∝ N^⅔; generous 0.85 envelope over 4×)
      assert(t3.toDouble / w3 < 0.45,
        s"threshold arm concentration not reduced: $t3 vs $w3")
      val exp = math.log(t3.toDouble / t2) / math.log(4.0)
      info(f"threshold-arm maxTaskRead exponent (2000->8000): $exp%.2f")
      assert(exp < 0.85,
        s"threshold arm max task read grows ~linearly (exp $exp): " +
          s"$t1 -> $t2 -> $t3")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", sh0)
      spark.sparkContext.removeSparkListener(clock)
    }
  }

  // ---- SemDeDup at the paper's operating point: k ∝ N clusters ----
  //
  // The q139 catalog entry runs the trained 16-centroid fixture (the
  // oracle's cross-join assignment needs a small K); with K FIXED the
  // within-cluster candidate volume is Σ n_c² ≈ N²/K — the same
  // finding as q58's fixed geometry, quadratic in disguise. SemDeDup's
  // actual operating point (Abbas et al. arXiv:2303.09540 run
  // k = 110 000 on LAION) scales cluster count WITH the corpus so
  // per-cluster size stays constant and Σ n_c² ≈ N·(N/k) ∝ N. This
  // runs semanticDedupLedger with k = N/125 synthetic centroids over
  // the growing corpora and converts that claim to a measured
  // exponent, with the planted near-identical twins as the recall
  // check (cos ≈ 1 pairs quantize to the same Voronoi cell unless
  // they straddle a boundary).
  test("bitext multiprobe arm at k ∝ N centroids: candidate volume " +
      "~linear, planted cross-pool twins mined mutual") {
    import org.apache.spark.sql.functions.col
    // gate on the CANDIDATE PAIR COUNT, not shuffle records: pair
    // volume is the actual scale claim AND is deterministic, while
    // shuffle-record counts inflate when a concurrently-running suite
    // calls Caches.clear between a persisted relation's consumers
    // (observed: the same plan measured exp 1.28 solo, 1.48 under the
    // full concurrent suite — pure recompute noise)
    val rows = Seq(500, 2000, 8000).map { n =>
      val dir = genCorpus(n)
      val k = math.max(4, n / 125)
      val dim = graft.tools.GenFixtures.Dim
      val packed = new Array[Double](k * (dim + 1))
      for (c <- 0 until k) {
        val off = c * (dim + 1)
        var acc = 0.0
        for (d <- 0 until dim) {
          val x = embComponent(7700000L + c, d).toDouble
          packed(off + 1 + d) = x
          acc += x * x
        }
        packed(off) = math.sqrt(acc)
      }
      val cents = graft.plans.FrozenTable.ofDoubles(spark, packed, k)
      // qrel adds the µ-quantized (qv, qn) columns the r15 exact-
      // integer µcos contract folds over — same wiring as the q188
      // catalog pools
      val e = operators.Bitext.qrel(
        operators.Similarity.normed(spark, dir))
      val x = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("v"), col("nrm"),
          col("qv"), col("qn"))
      val y = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("v"), col("nrm"),
          col("qv"), col("qn"))
      val cands = operators.Bitext
        .probedUcos(spark, x, y, packed = cents).count()
      val mined = operators.Bitext
        .mineMarginProbed(spark, x, y, packed = cents)
        .collect()
      Caches.clear(spark)
      // planted twins straddle the parity split: (10m, 10m+1)
      val mutual = mined.filter(_.getInt(3) == 1)
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = (0 until n / 10)
        .map(m => (m.toLong * 10, m.toLong * 10 + 1))
      (cands, planted.count(mutual), planted.size)
    }
    val Seq((s1, r1, p1), (s2, r2, p2), (s3, r3, p3)) = rows
    val exp = math.log(s3.toDouble / s2) / math.log(4.0)
    info(f"bitext multiprobe: candidates=$s1/$s2/$s3 exp=$exp%.2f " +
      f"twin recall=$r1/$p1 $r2/$p2 $r3/$p3")
    assert(exp < 1.3,
      s"bitext candidate volume grows faster than linear at k ∝ N " +
        s"(exp $exp): $s1 -> $s2 -> $s3")
    Seq((r1, p1), (r2, p2), (r3, p3)).foreach { case (r, p) =>
      assert(r == p,
        s"planted cross-pool twins escaped the probed arm: $r/$p")
    }
  }

  test("semantic dedup at k ∝ N clusters: candidate volume ~linear, " +
      "planted twins recovered") {
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val dim = graft.tools.GenFixtures.Dim
      val rows = Seq(500, 2000, 8000).map { n =>
        val dir = genCorpus(n)
        val k = math.max(4, n / 125)
        val packed = new Array[Double](k * (dim + 1))
        for (c <- 0 until k) {
          val off = c * (dim + 1)
          var acc = 0.0
          for (d <- 0 until dim) {
            val x = embComponent(9000000L + c, d).toDouble
            packed(off + 1 + d) = x
            acc += x * x
          }
          packed(off) = math.sqrt(acc)
        }
        val e = operators.Similarity.normed(spark, dir)
        val (ledger, receipt) = clock.measure {
          operators.Similarity
            .semanticDedupLedger(e,
              graft.plans.FrozenTable.ofDoubles(spark, packed, k), 0.9)
            .collect()
        }
        val sh = receipt.shuffleRecords
        Caches.clear(spark)
        (sh, ledger.map(_.getAs[Long]("dropped")).sum,
          ledger.map(_.getAs[Long]("cluster_size")).sum)
      }
      val Seq((s1, d1, t1), (s2, d2, t2), (s3, d3, t3)) = rows
      val exp = math.log(s3.toDouble / s2) / math.log(4.0)
      info(f"semdedup k∝N: shuffle=$s1/$s2/$s3 exp=$exp%.2f " +
        f"dropped=$d1/$d2/$d3")
      assert(t1 == 500 && t2 == 2000 && t3 == 8000,
        s"ledger must partition every corpus: $t1/$t2/$t3")
      assert(exp < 1.3,
        s"semdedup candidate volume grows faster than linear at " +
          s"k ∝ N (exp $exp): $s1 -> $s2 -> $s3")
      // planted twins: N/10 cos≈1 pairs; quantization recall ≥ 0.8
      Seq((d1, 500), (d2, 2000), (d3, 8000)).foreach { case (d, n) =>
        assert(d >= n / 10 * 8 / 10 && d <= n / 10 + n / 50,
          s"dropped=$d at N=$n (planted ${n / 10})")
      }
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- round-16: q210b co-probe kNN-graph candidate volume ----
  //
  // The co-probe claim is (nprobe·N)²/L candidate rows, O(N) under
  // the k ∝ N centroid operating contract (q139's). The committed
  // 16-centroid fixture can't exercise that contract, so this test
  // RUNS the geometry it claims: clustered corpora at N ∈
  // {512, 2048, 8192} with k = N/32 cluster centers AS the packed
  // centroid table, and fits the end-to-end shuffle exponent of the
  // full mutual-kNN build (probed candidates + µcos re-rank + top-k
  // window + mutual semi-join).

  /** Deterministic clustered corpus: block j = ids [32j, 32j+32)
    * around center c(j,·), members at cosine ≈ 0.97 to their center
    * and near-orthogonal across blocks.
    */
  private def clusterMember(id: Long, d: Int): Double = {
    val j = id / 32
    val c = MurmurHash3.productHash(("knncent", j, d)) /
      Int.MaxValue.toDouble
    val noise = MurmurHash3.productHash(("knnnoise", id, d)) /
      Int.MaxValue.toDouble
    c + 0.25 * noise
  }

  test("q210b co-probe kNN graph at k = N/32 centroids: shuffle " +
      "exponent ~1 (the (nprobe·N)^2/L contract), edges stay " +
      "in-cluster") {
    import spark.implicits._
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val dim = graft.tools.GenFixtures.Dim
      val scales = Seq(512, 2048, 8192)
      val measured = scales.map { n =>
        val k = n / 32
        // packed centroid table: per cid [norm, v(0..dim-1)], the
        // Fixtures.ivfCentroidsPacked layout, norms accumulated
        // sequentially like the L2Norm kernel
        val packed = new Array[Double](k * (dim + 1))
        (0 until k).foreach { j =>
          val cv = Array.tabulate(dim)(d =>
            MurmurHash3.productHash(("knncent", j.toLong, d)) /
              Int.MaxValue.toDouble)
          var acc = 0.0
          cv.foreach(x => acc += x * x)
          packed(j * (dim + 1)) = math.sqrt(acc)
          cv.indices.foreach(d => packed(j * (dim + 1) + 1 + d) = cv(d))
        }
        val e = operators.Bitext.qrel(
          (0L until n.toLong).map { id =>
            (id, Seq.tabulate(dim)(clusterMember(id, _)))
          }.toDF("vec_id", "v")
            .withColumn("nrm",
              graft.functions.VectorOps.l2norm(col("v"))))
        val (edges, receipt) = clock.measure {
          operators.KnnGraph.mutualTopK(
            operators.KnnGraph.probedScores(spark, e,
              graft.plans.FrozenTable.ofDoubles(spark, packed, k)))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        val sh = receipt.shuffleRecords
        Caches.clear(spark)
        val inCluster = edges.count { case (a, b) => a / 32 == b / 32 }
        (n, sh, edges.length, inCluster)
      }
      val report = measured.map { case (n, sh, f, ic) =>
        f"N=$n shuffle=$sh edges=$f inCluster=$ic"
      }.mkString("; ")
      info(report)
      measured.foreach { case (n, _, f, ic) =>
        // a kNN graph over 32-member clusters keeps most nodes at
        // full degree; mutual edges overwhelmingly stay in-block
        assert(f > n / 2, s"degenerate graph at N=$n ($report)")
        assert(ic.toDouble / f >= 0.95,
          s"co-probe edges leak across clusters at N=$n ($report)")
      }
      val exp = math.log(measured(2)._2.toDouble / measured(1)._2) /
        math.log(4.0)
      info(f"co-probe kNN shuffle exponent (2048->8192): $exp%.2f")
      assert(exp < 1.3,
        s"co-probe candidate volume superlinear under k ∝ N " +
          s"(exp $exp): $report")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  // ---- round-17: q213 NN-descent candidate volume ----
  //
  // Each descent round proposes Σ_hub deg(hub)² pairs with deg ≤ 2k —
  // O(N·k²) rows, keyed on the hub then on sx. The refinement must
  // not reintroduce the N² the probed start avoided: the end-to-end
  // shuffle exponent of probed-start + 2 descent rounds + mutualize
  // stays ~1 under the same k ∝ N centroid contract as q210b.
  test("q213 NN-descent at k = N/32 centroids: shuffle exponent ~1 " +
      "(descent rounds stay O(N·k²))") {
    import spark.implicits._
    val clock = new StageClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val dim = graft.tools.GenFixtures.Dim
      val scales = Seq(1024, 4096)
      val measured = scales.map { n =>
        val k = n / 32
        val packed = new Array[Double](k * (dim + 1))
        (0 until k).foreach { j =>
          val cv = Array.tabulate(dim)(d =>
            MurmurHash3.productHash(("knncent", j.toLong, d)) /
              Int.MaxValue.toDouble)
          var acc = 0.0
          cv.foreach(x => acc += x * x)
          packed(j * (dim + 1)) = math.sqrt(acc)
          cv.indices.foreach(d => packed(j * (dim + 1) + 1 + d) = cv(d))
        }
        // checkpoint the corpus: a LocalRelation this wide gets
        // row-copied by ConvertToLocalRelation every time the growing
        // round plans re-optimize — at N=8192 that OOMed the test JVM
        val e = operators.Bitext.qrel(
          (0L until n.toLong).map { id =>
            (id, Seq.tabulate(dim)(clusterMember(id, _)))
          }.toDF("vec_id", "v")
            .withColumn("nrm",
              graft.functions.VectorOps.l2norm(col("v"))))
          .localCheckpoint()
        val (edges, receipt) = clock.measure {
          operators.KnnGraph.mutualize(
            operators.KnnGraph.nnDescent(spark, e,
              packed = graft.plans.FrozenTable.ofDoubles(spark, packed, k)))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        val sh = receipt.shuffleRecords
        Caches.releaseLocalCheckpoint(e)
        Caches.clear(spark)
        val inCluster = edges.count { case (a, b) => a / 32 == b / 32 }
        (n, sh, edges.length, inCluster)
      }
      val report = measured.map { case (n, sh, f, ic) =>
        f"N=$n shuffle=$sh edges=$f inCluster=$ic"
      }.mkString("; ")
      info(report)
      measured.foreach { case (n, _, f, ic) =>
        assert(f > n / 2, s"degenerate graph at N=$n ($report)")
        assert(ic.toDouble / f >= 0.95,
          s"descent edges leak across clusters at N=$n ($report)")
      }
      val exp = math.log(measured(1)._2.toDouble / measured(0)._2) /
        math.log(4.0)
      info(f"nn-descent shuffle exponent (1024->4096): $exp%.2f")
      assert(exp < 1.3,
        s"NN-descent candidate volume superlinear under k ∝ N " +
          s"(exp $exp): $report")
    } finally spark.sparkContext.removeSparkListener(clock)
  }
}
